package graft.queries

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Warc
import graft.text.Normalize
import graft.Persisted

/** WARC ingest queries — the Common Crawl container, oracle-checked.
  *
  * Evidence class (the `q_media_decode` trick applied to the archive
  * container): fixture WARC files are FABRICATED from the documents
  * table row-by-row (per-record gzip members concatenated into
  * multi-record blobs, exactly the Common Crawl `.warc.gz` layout),
  * parsed back through the real [[graft.sources.Warc]] reader, and the
  * extracted facts — type, URI, date, HTTP status, content type, body
  * text, body byte length — must hash-match what DuckDB derives
  * directly from the same documents rows. A wrong Content-Length
  * computation, a CRLF slip, a gzip member boundary bug, or a broken
  * HTTP split all surface as a hash mismatch.
  *
  * Scale note: the groupBy that assembles multi-record blobs exists
  * only to FABRICATE archive files from row-wise fixtures inside a
  * read-only graded query. At 100 TB the file is the parallelism unit:
  * one streamed parse ([[graft.sources.Warc.parseStream]]) per file,
  * no shuffle anywhere between the archive bytes and the record rows.
  */
object WarcQueries {

  private val DateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")

  private def warcDate(id: Long): String =
    LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusSeconds(id % 86400).format(DateFmt)

  /** Concatenate the gzip members of a bucket (ordered by doc id) into
    * one multi-record `.warc.gz` blob, then parse it back with the real
    * reader. Shared fixture path of the graded queries below.
    */
  private def assembleAndParse(s: SparkSession, members: DataFrame): DataFrame = {
    import s.implicits._
    val blobs = members
      .groupBy("bucket")
      .agg(aggregate(
        sort_array(collect_list(struct(col("doc_id"), col("member")))),
        lit(Array.emptyByteArray),
        (acc, x) => concat(acc, x.getField("member"))).as("blob"))
    blobs.select(col("blob")).as[Array[Byte]]
      .flatMap(Warc.parseAll(_))
      .toDF()
  }

  private def parsedRecords(s: SparkSession, dir: String,
      mkRecord: (Long, String, String) => Warc.WarcRecord): DataFrame = {
    import s.implicits._
    val members = Tables.documents(s, dir)
      .select(col("doc_id").cast("long"), col("source"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, src, text) =>
        (id / 16, id, Warc.encodeGzipMember(mkRecord(id, src, text)))
      }
      .toDF("bucket", "doc_id", "member")
    assembleAndParse(s, members)
  }

  // ---- q_warc_roundtrip: encode -> gzip members -> parse -> HTTP split ----

  /** `response` records wrapping each document as an HTTP/1.1 200
    * text/plain message. Output is everything the parse recovered,
    * keyed by the doc id embedded in the target URI.
    */
  def warcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val recs = parsedRecords(s, dir, { (id, src, text) =>
      val body = Option(text).getOrElse("").getBytes("UTF-8")
      Warc.WarcRecord(
        warcType = "response",
        recordId = s"<urn:graft:$id>",
        warcDate = warcDate(id),
        targetUri = s"https://$src.example.org/doc/$id",
        contentType = "application/http;msgtype=response",
        contentLength = -1L,
        payload = Warc.encodeHttpResponse(200, "text/plain; charset=utf-8", body))
    })
    recs.as[Warc.WarcRecord]
      .flatMap { r =>
        Warc.httpResponse(r.payload).map { h =>
          val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
          (id, r.warcType, r.targetUri, r.warcDate, h.status, h.contentType,
            new String(h.body, "UTF-8"), h.body.length.toLong)
        }
      }
      .toDF("doc_id", "warc_type", "target_uri", "warc_date", "http_status",
        "content_type", "body_text", "body_bytes")
  }

  val warcRoundtripSql: String =
    """SELECT doc_id, 'response' AS warc_type,
      |  'https://' || source || '.example.org/doc/' || doc_id AS target_uri,
      |  strftime(TIMESTAMP '2024-01-01 00:00:00'
      |           + (doc_id % 86400) * INTERVAL 1 SECOND,
      |           '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
      |  CAST(200 AS INT) AS http_status,
      |  'text/plain; charset=utf-8' AS content_type,
      |  coalesce(text, '') AS body_text,
      |  CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS body_bytes
      |FROM documents""".stripMargin

  // ---- q_warc_ingest: archive -> HTTP body -> HTML strip -> clean text ----

  /** The full crawl-ingest composition: `response` records carrying an
    * HTML page, parsed, HTTP-split, tag-stripped and whitespace-
    * normalised — the first pipeline stage a real crawl snapshot goes
    * through. The oracle rebuilds the same HTML wrapper in SQL and
    * applies the identical strip/collapse regexes (both dialects run
    * `<[^>]+>` and `\s+`, shared with the established P1/P2 oracles).
    */
  def warcIngest(s: SparkSession, dir: String): DataFrame =
    ingestHtml(s, dir, plantDups = false)

  /** Shared HTML-ingest fixture path; `plantDups` swaps every
    * (id % 11 == 7) body for a constant page so the e2e chain's dedup
    * stage genuinely fires (the q_media_e2e self-seeding trick).
    */
  private def ingestHtml(s: SparkSession, dir: String,
      plantDups: Boolean): DataFrame = {
    import s.implicits._
    val recs = parsedRecords(s, dir, { (id, src, text) =>
      // the title carries the doc id, so a planted page must be
      // constant END TO END (title included) or stripping leaves every
      // copy unique
      val html =
        if (plantDups && id % 11 == 7)
          "<html><head><title>dup</title></head><body><p>" +
            "planted duplicate page</p></body></html>"
        else "<html><head><title>doc " + id + "</title></head><body><p>" +
          Option(text).getOrElse("") + "</p></body></html>"
      Warc.WarcRecord(
        warcType = "response",
        recordId = s"<urn:graft:$id>",
        warcDate = warcDate(id),
        targetUri = s"https://$src.example.org/doc/$id",
        contentType = "application/http;msgtype=response",
        contentLength = -1L,
        payload = Warc.encodeHttpResponse(200, "text/html; charset=utf-8",
          html.getBytes("UTF-8")))
    })
    val bodies = recs.as[Warc.WarcRecord]
      .flatMap { r =>
        Warc.httpResponse(r.payload)
          .filter(_.contentType.startsWith("text/html"))
          .map { h =>
            val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
            (id, new String(h.body, "UTF-8"))
          }
      }
      .toDF("doc_id", "raw_html")
    bodies.select(
      col("doc_id"),
      trim(regexp_replace(Normalize.stripHtml(col("raw_html")), "\\s+", " "))
        .as("clean_text"))
      .withColumn("n_chars", length(col("clean_text")).cast("long"))
  }

  val warcIngestSql: String =
    """WITH pages AS (
      |  SELECT doc_id,
      |    '<html><head><title>doc ' || doc_id ||
      |    '</title></head><body><p>' || coalesce(text, '') ||
      |    '</p></body></html>' AS raw_html
      |  FROM documents),
      |stripped AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(raw_html, '<[^>]+>', ' ', 'g'),
      |                        '\s+', ' ', 'g')) AS clean_text
      |  FROM pages)
      |SELECT doc_id, clean_text,
      |  CAST(length(clean_text) AS BIGINT) AS n_chars
      |FROM stripped""".stripMargin

  // ---- q_cdx_roundtrip: CDXJ index lines -> parse -> typed fields --------

  /** CDXJ index roundtrip: each document becomes one index line
    * (SURT key + 14-digit timestamp + JSON block), composed and parsed
    * back by [[graft.sources.Cdx]]. The fixture URL is deliberately
    * messy (mixed case, `www.` label, explicit `:443` port) so the
    * SURT kernel's lowercase/port-strip/label-reversal all fire; the
    * oracle re-derives the key from the same URL with DuckDB's own
    * regex/list functions — general replay of the kernel logic, not of
    * the fixture's shape.
    */
  def cdxRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Domains
    import graft.sources.Cdx
    val docs = Tables.documents(s, dir)
    val url = concat(lit("https://WWW."), col("source"),
      lit(".Example.org:443/Doc/"), col("doc_id").cast("string"), lit("?q=1"))
    val secs = col("doc_id") % 86400
    def pad2(c: org.apache.spark.sql.Column) =
      lpad(c.cast("int").cast("string"), 2, "0")
    val ts14 = concat(lit("20240101"), pad2(floor(secs / 3600)),
      pad2(floor((secs % 3600) / 60)), pad2(secs % 60))
    val lines = docs.select(
      Cdx.toCdxjLine(Domains.surtKey(url), ts14, url, lit("text/html"),
        lit("200"), octet_length(coalesce(col("text"), lit("")))).as("line"))
    Cdx.parseCdxj(lines, "line")
      .withColumn("doc_id",
        regexp_extract(col("url"), "/Doc/([0-9]+)", 1).cast("long"))
  }

  val cdxRoundtripSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    'https://WWW.' || source || '.Example.org:443/Doc/' || doc_id
      |      || '?q=1' AS url,
      |    octet_length(encode(coalesce(text, ''))) AS nb
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, url, nb,
      |    regexp_replace(lower(url),
      |      '^[a-z][a-z0-9+.-]*://(?:[^/@]*@)?', '') AS rest
      |  FROM u)
      |SELECT doc_id,
      |  array_to_string(list_reverse(string_split(
      |      regexp_extract(rest, '^([^/:?#]+)', 1), '.')), ',')
      |    || ')' || regexp_replace(rest, '^[^/:?#]+(:[0-9]+)?', '') AS surt,
      |  '20240101' || lpad(CAST((doc_id % 86400) // 3600 AS VARCHAR), 2, '0')
      |    || lpad(CAST(((doc_id % 86400) % 3600) // 60 AS VARCHAR), 2, '0')
      |    || lpad(CAST((doc_id % 86400) % 60 AS VARCHAR), 2, '0') AS cdx_ts,
      |  url, 'text/html' AS mime, CAST(200 AS INT) AS status,
      |  CAST(nb AS BIGINT) AS n_bytes
      |FROM s""".stripMargin

  // ---- q_cdx_pruned_fetch: SURT-laid-out index -> per-domain record fetch -

  /** On-disk location for the fabricated crawl index: stable within
    * one JVM (Bench passes overwrite the same directory; the pruning
    * spec re-derives the path to count files) but process-unique, so
    * two concurrent sessions benchmarking the same dataset never race
    * on one directory's overwrite. Hash is sign-masked (math.abs would
    * stay negative on Int.MinValue).
    */
  private[graft] def cdxIndexDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cdx_idx_" +
      s"${dir.hashCode & 0x7fffffff}_p${ProcessHandle.current().pid()}"

  /** The POINT of a crawl index, demonstrated end to end: the CDX
    * entries are WRITTEN laid out by host (Hive-partitioned, one file
    * per host via a host-keyed repartition), so the "which captures
    * does domain X have" lookup PRUNES AT PLANNING TIME to that
    * domain's directory — 1 of 50 files opened, the other 49 never
    * listed into the scan (WarcSpec pins `PartitionFilters` and the
    * scan's `numFiles` metric). The pruned sliver then fetches its
    * records (the payload join — index-driven record lookup, exactly
    * how a CDX consumer avoids scanning every archive at 100 TB; cf.
    * the file-as-parallelism-unit framing in [[graft.sources.Warc]]).
    * The sliver side
    * broadcasts, so the fetch adds zero corpus shuffle.
    *
    * At 100 TB the same layout decision holds: SURT/host as the
    * partition (or sort) key keeps one domain's captures contiguous,
    * and every per-domain operation — recrawl diff, robots audit,
    * domain cap — reads only its own slice.
    */
  def cdxPrunedFetch(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Domains
    import graft.sources.Sinks
    val docs = Tables.documents(s, dir)
    val host = concat(lit("d"), (col("doc_id") % 50).cast("string"),
      lit(".example.org"))
    val url = concat(lit("https://"), host, lit("/doc/"),
      col("doc_id").cast("string"))
    val index = docs.select(
      col("doc_id"),
      Domains.surtKey(url).as("surt"),
      url.as("url"),
      octet_length(coalesce(col("text"), lit(""))).cast("long").as("n_bytes"),
      host.as("host"))
    val idxDir = cdxIndexDir(dir)
    Sinks.writePartitionedParquet(index.repartition(col("host")), idxDir,
      Seq("host"))
    // per-domain lookup: only host=d7.example.org's directory is read
    val hits = s.read.parquet(idxDir).filter(col("host") === "d7.example.org")
    hits.join(docs.select(col("doc_id"),
        length(coalesce(col("text"), lit(""))).cast("long").as("n_chars")),
      Seq("doc_id"))
      .select("doc_id", "host", "surt", "url", "n_bytes", "n_chars")
  }

  val cdxPrunedFetchSql: String =
    """WITH idx AS (
      |  SELECT doc_id,
      |    'd' || (doc_id % 50) || '.example.org' AS host,
      |    'org,example,d' || (doc_id % 50) || ')/doc/' || doc_id AS surt,
      |    'https://d' || (doc_id % 50) || '.example.org/doc/' || doc_id AS url,
      |    CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes
      |  FROM documents)
      |SELECT i.doc_id, i.host, i.surt, i.url, i.n_bytes,
      |  CAST(length(coalesce(d.text, '')) AS BIGINT) AS n_chars
      |FROM idx i JOIN documents d USING (doc_id)
      |WHERE i.host = 'd7.example.org'""".stripMargin
  // ---- q_robots_gate: RFC 9309 longest-match compliance gate -------------

  /** Robots compliance gate over the crawl: per-host rule tables
    * (the extracted form of each origin's robots.txt) gated against
    * every document URL with [[graft.ops.Robots.gate]] — per-host rule
    * arrays broadcast, the longest-match verdict an in-row array fold,
    * ZERO corpus-side Exchange. The fixture
    * rule set is built so every RFC 9309 precedence clause is
    * decisive somewhere: `/doc/x…` matches both `/doc/x` (disallow,
    * len 6) and `/doc/` (allow, len 5) — longest wins, disallowed;
    * every-5th host carries an equal-length allow/disallow pair on
    * `/doc/` — the tie resolves to ALLOW; `/page/` is disallowed only
    * on even hosts — odd-host pages match nothing and default-allow.
    * DuckDB replays the same join + lexicographic list-max.
    */
  /** The 50-host rule fixture every robots query shares (see
    * [[robotsGate]]'s docstring for why each clause exists).
    */
  private def fixtureRules(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 50).flatMap { h =>
      val base = Seq(("/private/", false), ("/doc/x", false), ("/doc/", true))
      val even = if (h % 2 == 0) Seq(("/page/", false)) else Nil
      val tie = if (h % 5 == 0) Seq(("/doc/", false)) else Nil
      (base ++ even ++ tie).map { case (p, a) =>
        (s"d$h.example.org", p, a)
      }
    }.toDF("host", "rule_path", "allow")
  }

  def robotsGate(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Robots
    val rules = fixtureRules(s)
    val urls = Tables.documents(s, dir).select(
      col("doc_id"),
      concat(lit("d"), (col("doc_id") % 50).cast("string"),
        lit(".example.org")).as("host"),
      concat(
        element_at(
          array(lit("/doc/"), lit("/private/"), lit("/page/"), lit("/doc/x")),
          (col("doc_id") % 4).cast("int") + 1),
        col("doc_id").cast("string")).as("path"))
    Robots.gate(urls, rules)
  }

  val robotsGateSql: String =
    """WITH hosts AS (SELECT unnest(generate_series(0, 49)) AS h),
      |rules AS (
      |  SELECT 'd' || h || '.example.org' AS host,
      |         '/private/' AS rule_path, false AS allow FROM hosts
      |  UNION ALL SELECT 'd' || h || '.example.org', '/doc/x', false
      |    FROM hosts
      |  UNION ALL SELECT 'd' || h || '.example.org', '/doc/', true
      |    FROM hosts
      |  UNION ALL SELECT 'd' || h || '.example.org', '/page/', false
      |    FROM hosts WHERE h % 2 = 0
      |  UNION ALL SELECT 'd' || h || '.example.org', '/doc/', false
      |    FROM hosts WHERE h % 5 = 0),
      |urls AS (
      |  SELECT doc_id, 'd' || (doc_id % 50) || '.example.org' AS host,
      |    (CASE doc_id % 4 WHEN 0 THEN '/doc/' WHEN 1 THEN '/private/'
      |      WHEN 2 THEN '/page/' ELSE '/doc/x' END) || doc_id AS path
      |  FROM documents),
      |m AS (
      |  SELECT u.doc_id, u.host, u.path, r.rule_path, r.allow
      |  FROM urls u LEFT JOIN rules r
      |    ON u.host = r.host AND starts_with(u.path, r.rule_path)),
      |v AS (
      |  SELECT doc_id, host, path,
      |    max(CASE WHEN rule_path IS NOT NULL THEN
      |      [length(rule_path), CAST(allow AS INT)] END) AS best
      |  FROM m GROUP BY 1, 2, 3)
      |SELECT doc_id, host, path,
      |  coalesce(best[2] = 1, true) AS allowed
      |FROM v""".stripMargin

  // ---- q_crawl_e2e: WARC -> HTML strip -> robots gate -> dedup, ONE oracle

  /** The crawl-stack composition, end to end as one graded artifact
    * (the crawl analogue of q_curation_e2e): archives parsed by the
    * real WARC reader, HTTP bodies HTML-stripped, every URL gated by the
    * RFC 9309 longest-match robots verdict, survivors exact-deduped on
    * the canon hash (first doc id kept), and every document assigned a
    * first-match-wins disposition: `robots_blocked` → `duplicate` →
    * `kept`. DuckDB replays the ENTIRE chain as composed CTEs — the
    * same strip regexes, the same rules join + lexicographic list-max,
    * the same md5-canon window — so one hash checks that the stages
    * compose, not just that each works alone.
    *
    * Scale shape: ingest is shuffle-free (records flow from the
    * archive scan), the robots verdict rides IN-ROW through the
    * broadcast per-host rule arrays (`allowed` stays attached — no
    * per-URL groupBy, no doc_id join-back), and the single
    * corpus-keyed shuffle is the dedup groupBy on the canon hash —
    * exactly the minimum the semantics require.
    */
  def crawlE2e(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Robots
    // planted duplicates (id % 11 == 7 shares one body) make the dedup
    // stage decisive, not vacuously green.
    val ingested = ingestHtml(s, dir, plantDups = true)
    val rules = fixtureRules(s)
    val withUrl = ingested
      .withColumn("host",
        concat(lit("d"), (col("doc_id") % 50).cast("string"),
          lit(".example.org")))
      .withColumn("path",
        concat(
          element_at(
            array(lit("/doc/"), lit("/private/"), lit("/page/"), lit("/doc/x")),
            (col("doc_id") % 4).cast("int") + 1),
          col("doc_id").cast("string")))
    // gate keeps every column + allowed, so the parse→verdict→canon
    // chain is ONE shuffle-free pass; persisted because consumed twice
    // (winners + final), and recomputing means re-parsing every gzip
    // member
    val canon = Persisted(Robots.gate(withUrl, rules)
      .withColumn("__canon", md5(Normalize.canonExact(col("clean_text")))))
    val winners = canon.filter(col("allowed"))
      .groupBy("__canon").agg(min(col("doc_id")).as("__winner"))
    canon.join(winners, Seq("__canon"), "left")
      .select(col("doc_id"),
        when(!col("allowed"), lit("robots_blocked"))
          .when(col("doc_id") =!= col("__winner"), lit("duplicate"))
          .otherwise(lit("kept")).as("disposition"),
        col("n_chars"))
  }

  val crawlE2eSql: String =
    """WITH pages AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 7 THEN
      |      '<html><head><title>dup</title></head><body><p>' ||
      |      'planted duplicate page</p></body></html>'
      |    ELSE
      |      '<html><head><title>doc ' || doc_id ||
      |      '</title></head><body><p>' || coalesce(text, '') ||
      |      '</p></body></html>'
      |    END AS raw_html
      |  FROM documents),
      |stripped AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(raw_html, '<[^>]+>', ' ', 'g'),
      |                        '\s+', ' ', 'g')) AS clean_text
      |  FROM pages),
      |hosts AS (SELECT unnest(generate_series(0, 49)) AS h),
      |rules AS (
      |  SELECT 'd' || h || '.example.org' AS host,
      |         '/private/' AS rule_path, false AS allow FROM hosts
      |  UNION ALL SELECT 'd' || h || '.example.org', '/doc/x', false
      |    FROM hosts
      |  UNION ALL SELECT 'd' || h || '.example.org', '/doc/', true
      |    FROM hosts
      |  UNION ALL SELECT 'd' || h || '.example.org', '/page/', false
      |    FROM hosts WHERE h % 2 = 0
      |  UNION ALL SELECT 'd' || h || '.example.org', '/doc/', false
      |    FROM hosts WHERE h % 5 = 0),
      |urls AS (
      |  SELECT doc_id, 'd' || (doc_id % 50) || '.example.org' AS host,
      |    (CASE doc_id % 4 WHEN 0 THEN '/doc/' WHEN 1 THEN '/private/'
      |      WHEN 2 THEN '/page/' ELSE '/doc/x' END) || doc_id AS path
      |  FROM stripped),
      |m AS (
      |  SELECT u.doc_id, r.rule_path, r.allow
      |  FROM urls u LEFT JOIN rules r
      |    ON u.host = r.host AND starts_with(u.path, r.rule_path)),
      |gate AS (
      |  SELECT doc_id,
      |    coalesce(max(CASE WHEN rule_path IS NOT NULL THEN
      |      [length(rule_path), CAST(allow AS INT)] END)[2] = 1, true)
      |      AS allowed
      |  FROM m GROUP BY doc_id),
      |canon AS (
      |  SELECT s.doc_id, g.allowed,
      |    md5(trim(regexp_replace(lower(coalesce(s.clean_text, '')),
      |                            '\s+', ' ', 'g'))) AS c,
      |    length(s.clean_text) AS n_chars
      |  FROM stripped s JOIN gate g USING (doc_id)),
      |w AS (
      |  SELECT c, min(doc_id) AS winner FROM canon WHERE allowed GROUP BY c)
      |SELECT canon.doc_id,
      |  CASE WHEN NOT canon.allowed THEN 'robots_blocked'
      |       WHEN canon.doc_id <> w.winner THEN 'duplicate'
      |       ELSE 'kept' END AS disposition,
      |  CAST(canon.n_chars AS BIGINT) AS n_chars
      |FROM canon LEFT JOIN w USING (c)""".stripMargin

  // ---- q_wet_domains: WET conversion records -> per-host corpus stats ----

  /** WET extracts (`conversion` records, text/plain payload = the
    * extracted text itself), aggregated per host — the "what does this
    * crawl slice contain per domain" inventory query that drives
    * per-domain caps and blocklists downstream.
    */
  def wetDomains(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val recs = parsedRecords(s, dir, { (id, _, text) =>
      Warc.WarcRecord(
        warcType = "conversion",
        recordId = s"<urn:graft:wet:$id>",
        warcDate = warcDate(id),
        targetUri = s"https://d${id % 50}.example.org/page/$id",
        contentType = "text/plain",
        contentLength = -1L,
        payload = Option(text).getOrElse("").getBytes("UTF-8"))
    })
    recs
      .filter(col("warcType") === "conversion")
      .withColumn("host", substring_index(col("targetUri"), "/", 3))
      .groupBy("host")
      .agg(count(lit(1)).as("n_pages"),
        sum(col("contentLength")).as("total_bytes"),
        max(col("contentLength")).as("max_bytes"))
  }

  val wetDomainsSql: String =
    """SELECT 'https://d' || (doc_id % 50) || '.example.org' AS host,
      |  count(*) AS n_pages,
      |  CAST(sum(octet_length(encode(coalesce(text, '')))) AS BIGINT)
      |    AS total_bytes,
      |  CAST(max(octet_length(encode(coalesce(text, '')))) AS BIGINT)
      |    AS max_bytes
      |FROM documents GROUP BY 1""".stripMargin

  // ---- q_cdx_collapse: Internet Archive collapse=digest over captures ----

  /** CDX digest collapse — the Internet Archive/Common Crawl index
    * operation behind "show me each page's DISTINCT versions": within
    * one SURT's capture timeline, a capture is kept only when its
    * content digest differs from the previous capture's (consecutive
    * identical digests collapse to the first). The fixture gives every
    * URL three monthly captures whose digest changes at capture 2 for
    * every 3rd doc — so capture 0 always survives, capture 1 never
    * does, and capture 2 survives exactly when the content changed.
    *
    * Scale shape: the window partitions by SURT — billions of tiny
    * per-URL groups, the skew-free windowing case (state per task is
    * one URL's handful of captures); the capture table is already laid
    * out SURT-contiguous (see q_cdx_pruned_fetch), so the sort inside
    * each partition is near-free after the exchange.
    */
  /** Three monthly captures per URL; the digest changes at capture 2
    * for every 3rd doc. Shared by [[cdxCollapse]] and [[frontierE2e]].
    */
  private def captures(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        explode(array(lit(0), lit(1), lit(2))).as("k"))
      .select(
        col("doc_id"), col("k"),
        concat(lit("org,example,d"), (col("doc_id") % 50).cast("string"),
          lit(")/doc/"), col("doc_id").cast("string")).as("surt"),
        concat(lit("2024"), lpad((col("k") + 1).cast("string"), 2, "0"),
          lit("01000000")).as("cdx_ts"),
        md5(when(col("k") === 2 && col("doc_id") % 3 === 0,
            concat(lit("changed "), coalesce(col("text"), lit(""))))
          .otherwise(coalesce(col("text"), lit("")))).as("digest"))

  def cdxCollapse(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("surt").orderBy("cdx_ts")
    captures(s, dir).withColumn("__prev", lag(col("digest"), 1).over(w))
      .filter(col("__prev").isNull || col("digest") =!= col("__prev"))
      .select("doc_id", "k", "surt", "cdx_ts", "digest")
  }

  val cdxCollapseSql: String =
    """WITH caps AS (
      |  SELECT doc_id, k,
      |    'org,example,d' || (doc_id % 50) || ')/doc/' || doc_id AS surt,
      |    '2024' || lpad(CAST(k + 1 AS VARCHAR), 2, '0') || '01000000'
      |      AS cdx_ts,
      |    md5(CASE WHEN k = 2 AND doc_id % 3 = 0
      |      THEN 'changed ' || coalesce(text, '')
      |      ELSE coalesce(text, '') END) AS digest
      |  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS k)),
      |x AS (SELECT *,
      |  lag(digest) OVER (PARTITION BY surt ORDER BY cdx_ts) AS prev
      |  FROM caps)
      |SELECT doc_id, k, surt, cdx_ts, digest
      |FROM x WHERE prev IS NULL OR digest <> prev""".stripMargin

  // ---- q_crawl_schedule: per-host politeness schedule, skew-safe ---------

  /** Politeness scheduling — the frontier operation a compliant crawler
    * runs after the robots gate: URLs of one host must fetch
    * sequentially with the host's crawl-delay between requests, so each
    * URL's fetch time is `(its position within the host) × delay`.
    *
    * Scale shape: the per-host position is the classic skewed grouped
    * rank over a WEB-SCALE key (10⁷–10⁸ distinct hosts on a real
    * frontier) — a plain `row_number() OVER (PARTITION BY host)`
    * serializes a mega-host's entire row set through ONE task, while
    * the grouped two-pass form's driver prefix-merge is O(#groups) and
    * would collect one entry per host. The hybrid
    * ([[graft.ops.Pack.withRunningTotalPerGroupHybrid]]) routes each
    * host by its row count: ordinary hosts keep the window (parallel
    * across hosts, per-task state one host's rows), only detected
    * mega-hosts take the two-pass partition-offset path (driver state
    * bounded by rows/threshold, not #hosts) — counting is a running
    * total of 1. The hybrid's routing agg re-executes the upstream;
    * here that upstream is one column-pruned projection of the
    * documents scan, cheaper than persisting it (contrast
    * [[frontierE2e]], whose gated chain IS persisted for this reason).
    */
  def crawlSchedule(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Pack
    val urls = Tables.documents(s, dir).select(
      col("doc_id"),
      concat(lit("d"), (col("doc_id") % 20).cast("string"),
        lit(".example.org")).as("host"),
      (lit(1) + (col("doc_id") % 20) % 5).cast("long").as("crawl_delay"),
      lit(1L).as("__one"))
    Pack.withRunningTotalPerGroupHybrid(urls, "host", Seq(col("doc_id")),
        "__one", "seq")
      .select(col("doc_id"), col("host"), col("seq"),
        (col("seq") * col("crawl_delay")).as("fetch_at_sec"))
  }

  val crawlScheduleSql: String =
    """WITH u AS (
      |  SELECT doc_id, 'd' || (doc_id % 20) || '.example.org' AS host,
      |    1 + (doc_id % 20) % 5 AS delay
      |  FROM documents)
      |SELECT doc_id, host,
      |  CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1
      |    AS BIGINT) AS seq,
      |  CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1)
      |    * delay AS BIGINT) AS fetch_at_sec
      |FROM u""".stripMargin

  // ---- q_crawl_schedule_skew: the hybrid's two-pass branch, gated -------

  /** The mega-host regime of the politeness scheduler: half the corpus
    * piles onto ONE host (the 90%-one-domain crawl-slice shape) while
    * the rest spreads over 40 ordinary hosts, and the skew threshold is
    * pinned low enough (100 rows) that the dominant host routes through
    * the grouped two-pass partition-offset branch at the graded SF
    * while the ordinary hosts keep the window. [[crawlSchedule]]'s
    * fixture is all-ordinary and therefore all-window since the hybrid
    * landed — THIS query is what keeps the two-pass machinery itself
    * under the DuckDB hash gate (the oracle replays the plain
    * row_number window; both engine branches must agree with it
    * exactly, and with each other across the union).
    */
  def crawlScheduleSkew(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Pack
    val urls = Tables.documents(s, dir).select(
      col("doc_id"),
      when(col("doc_id") % 10 < 5, lit("mega.example.org"))
        .otherwise(concat(lit("d"), (col("doc_id") % 40).cast("string"),
          lit(".example.org"))).as("host"),
      (lit(1) + col("doc_id") % 3).cast("long").as("crawl_delay"),
      lit(1L).as("__one"))
    Pack.withRunningTotalPerGroupHybrid(urls, "host", Seq(col("doc_id")),
        "__one", "seq", skewThreshold = 100L)
      .select(col("doc_id"), col("host"), col("seq"),
        (col("seq") * col("crawl_delay")).as("fetch_at_sec"))
  }

  val crawlScheduleSkewSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 < 5 THEN 'mega.example.org'
      |      ELSE 'd' || (doc_id % 40) || '.example.org' END AS host,
      |    1 + doc_id % 3 AS delay
      |  FROM documents)
      |SELECT doc_id, host,
      |  CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1
      |    AS BIGINT) AS seq,
      |  CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1)
      |    * delay AS BIGINT) AS fetch_at_sec
      |FROM u""".stripMargin

  // ---- q_warc_revisit: digest-based revisit records across snapshots -----

  /** WARC `revisit` records (ISO 28500 §6.7.2) — how a recrawl stores
    * dedup-at-crawl-time: a page whose content digest matches the
    * previous snapshot's becomes a payload-less `revisit` record
    * instead of a full `response` (Common Crawl's biggest storage
    * lever). The fixture's new snapshot changes every 4th document;
    * the digest verdict is a real frame join (previous snapshot's
    * digest index ⋈ current capture on URL key), the verdict drives
    * which record gets ENCODED (empty revisit vs full HTTP response),
    * and the graded output is what the real parser recovers from the
    * round-tripped archive — type, URI, and the split HTTP body size.
    *
    * Scale shape: the digest index is per-URL state; the join is the
    * one keyed shuffle (or a broadcast when the recrawl slice is a
    * delta), the verdict and encoding are per-row, and the archive
    * assembly is the fixture's groupBy (a production writer streams
    * one archive per partition).
    */
  def warcRevisit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val prev = docs.select(col("doc_id"),
      md5(coalesce(col("text"), lit(""))).as("digest_prev"))
    val cur = docs.select(col("doc_id"), col("source"),
      when(col("doc_id") % 4 === 0,
        concat(lit("updated "), coalesce(col("text"), lit(""))))
        .otherwise(coalesce(col("text"), lit(""))).as("text_cur"))
    val verdict = cur.join(prev, Seq("doc_id"))
      .withColumn("changed", md5(col("text_cur")) =!= col("digest_prev"))
    val members = verdict
      .select(col("doc_id").cast("long"), col("source"), col("text_cur"),
        col("changed"))
      .as[(Long, String, String, Boolean)]
      .map { case (id, src, curText, changed) =>
        val uri = s"https://$src.example.org/doc/$id"
        val rec =
          if (changed) Warc.WarcRecord(
            warcType = "response",
            recordId = s"<urn:graft:rev:$id>",
            warcDate = warcDate(id),
            targetUri = uri,
            contentType = "application/http;msgtype=response",
            contentLength = -1L,
            payload = Warc.encodeHttpResponse(200,
              "text/plain; charset=utf-8", curText.getBytes("UTF-8")))
          else Warc.WarcRecord(
            warcType = "revisit",
            recordId = s"<urn:graft:rev:$id>",
            warcDate = warcDate(id),
            targetUri = uri,
            contentType = "message/http",
            contentLength = -1L,
            payload = Array.emptyByteArray)
        (id / 16, id, Warc.encodeGzipMember(rec))
      }
      .toDF("bucket", "doc_id", "member")
    assembleAndParse(s, members).as[Warc.WarcRecord]
      .map { r =>
        val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
        val bodyBytes =
          if (r.warcType == "response")
            Warc.httpResponse(r.payload).map(_.body.length.toLong).getOrElse(-1L)
          else 0L
        (id, r.warcType, r.targetUri, bodyBytes)
      }
      .toDF("doc_id", "warc_type", "target_uri", "body_bytes")
  }

  val warcRevisitSql: String =
    """WITH v AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 4 = 0 THEN 'updated ' || coalesce(text, '')
      |      ELSE coalesce(text, '') END AS cur,
      |    md5(CASE WHEN doc_id % 4 = 0 THEN 'updated ' || coalesce(text, '')
      |      ELSE coalesce(text, '') END)
      |      <> md5(coalesce(text, '')) AS changed
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN changed THEN 'response' ELSE 'revisit' END AS warc_type,
      |  'https://' || source || '.example.org/doc/' || doc_id AS target_uri,
      |  CAST(CASE WHEN changed THEN octet_length(encode(cur)) ELSE 0 END
      |    AS BIGINT) AS body_bytes
      |FROM v""".stripMargin

  // ---- q_sitemap_parse: urlset XML -> typed frontier rows ----------------

  /** Sitemap ingestion ([[graft.sources.Sitemap]]): documents
    * fabricated into multi-entry `<urlset>` XML payloads (16 entries
    * per sitemap file, the q_warc_roundtrip bucketing trick), parsed
    * back by the real column-expression parser — loc (with `&amp;`
    * entity decode), lastmod, changefreq, and typed priority must
    * hash-match DuckDB's direct derivation. This is the crawl
    * DISCOVERY input: the frontier seeds a crawler fetches before any
    * WARC exists.
    */
  def sitemapParse(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Sitemap
    val docs = Tables.documents(s, dir)
    val entry = concat(
      lit("<url><loc>https://d"), (col("doc_id") % 50).cast("string"),
      lit(".example.org/doc/"), col("doc_id").cast("string"),
      lit("?a=1&amp;b=2</loc><lastmod>2024-01-"),
      lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0"),
      lit("</lastmod><changefreq>"),
      element_at(
        array(lit("daily"), lit("weekly"), lit("monthly"), lit("never")),
        (col("doc_id") % 4).cast("int") + 1),
      lit("</changefreq><priority>0."), (col("doc_id") % 10).cast("string"),
      lit("</priority></url>"))
    val sitemaps = docs
      .select((col("doc_id") / 16).cast("long").as("bucket"),
        col("doc_id"), entry.as("e"))
      .groupBy("bucket")
      .agg(concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
        aggregate(sort_array(collect_list(struct(col("doc_id"), col("e")))),
          lit(""), (acc, x) => concat(acc, x.getField("e"))),
        lit("</urlset>")).as("xml"))
    Sitemap.parseUrlset(sitemaps, "xml")
      .withColumn("doc_id",
        regexp_extract(col("loc"), "/doc/([0-9]+)", 1).cast("long"))
      .select("doc_id", "loc", "lastmod", "changefreq", "priority")
  }

  val sitemapParseSql: String =
    """SELECT doc_id,
      |  'https://d' || (doc_id % 50) || '.example.org/doc/' || doc_id
      |    || '?a=1&b=2' AS loc,
      |  '2024-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
      |    AS lastmod,
      |  (CASE doc_id % 4 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
      |    WHEN 2 THEN 'monthly' ELSE 'never' END) AS changefreq,
      |  CAST('0.' || (doc_id % 10) AS DOUBLE) AS priority
      |FROM documents""".stripMargin

  // ---- q_frontier_e2e: change-driven recrawl frontier, ONE oracle --------

  /** The recrawl-frontier composition: CDX digest collapse finds the
    * URLs whose content CHANGED in the latest capture (the
    * change-rate-driven recrawl candidates), the RFC 9309 gate drops
    * the robots-blocked ones, and the survivors get per-host politeness
    * fetch times — collapse → gate → schedule as one graded artifact,
    * DuckDB replaying the whole chain as composed CTEs (the crawl
    * analogue of what q_curation_e2e does for the curation stack,
    * pointed at the INDEX side).
    *
    * Scale shape: collapse windows by SURT (tiny per-URL groups), the
    * gate is the zero-corpus-shuffle broadcast fold, scheduling runs
    * the skew-safe grouped prefix machinery over the ALLOWED sliver
    * only, and blocked rows rejoin by union — no join-back anywhere.
    */
  def frontierE2e(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.{Pack, Robots}
    val w = Window.partitionBy("surt").orderBy("cdx_ts")
    val changed = captures(s, dir)
      .withColumn("__prev", lag(col("digest"), 1).over(w))
      .filter(col("k") === 2 && col("__prev").isNotNull &&
        col("digest") =!= col("__prev"))
      .select("doc_id")
    val urls = changed.select(
      col("doc_id"),
      concat(lit("d"), (col("doc_id") % 50).cast("string"),
        lit(".example.org")).as("host"),
      concat(
        element_at(
          array(lit("/doc/"), lit("/private/"), lit("/page/"), lit("/doc/x")),
          (col("doc_id") % 4).cast("int") + 1),
        col("doc_id").cast("string")).as("path"))
    // persisted at the RDD level: the gated frame feeds THREE
    // consumers — the allowed branch (whose hybrid scheduler
    // additionally runs a routing count-agg before its own pass) and
    // the blocked branch — and its upstream is the whole
    // collapse-window + robots-join chain; without the persist that
    // chain executes once per consumer (Pack's hybrid scaladoc:
    // "callers with an expensive upstream persist it first")
    val gated = {
      val g = Robots.gate(urls, fixtureRules(s))
      g.sparkSession.createDataFrame(
        Persisted(g.rdd),
        g.schema)
    }
    val allowed = gated.filter(col("allowed"))
      .withColumn("crawl_delay",
        (lit(1) + (col("doc_id") % 50) % 5).cast("long"))
      .withColumn("__one", lit(1L))
    val scheduled = Pack.withRunningTotalPerGroupHybrid(allowed, "host",
        Seq(col("doc_id")), "__one", "seq")
      .select(col("doc_id"), col("host"), col("path"),
        lit("scheduled").as("disposition"), col("seq"),
        (col("seq") * col("crawl_delay")).as("fetch_at_sec"))
    val blocked = gated.filter(!col("allowed"))
      .select(col("doc_id"), col("host"), col("path"),
        lit("robots_blocked").as("disposition"),
        lit(null).cast("long").as("seq"),
        lit(null).cast("long").as("fetch_at_sec"))
    scheduled.unionByName(blocked)
  }

  val frontierE2eSql: String =
    """WITH caps AS (
      |  SELECT doc_id, k,
      |    'org,example,d' || (doc_id % 50) || ')/doc/' || doc_id AS surt,
      |    '2024' || lpad(CAST(k + 1 AS VARCHAR), 2, '0') || '01000000'
      |      AS cdx_ts,
      |    md5(CASE WHEN k = 2 AND doc_id % 3 = 0
      |      THEN 'changed ' || coalesce(text, '')
      |      ELSE coalesce(text, '') END) AS digest
      |  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS k)),
      |x AS (SELECT *,
      |  lag(digest) OVER (PARTITION BY surt ORDER BY cdx_ts) AS prev
      |  FROM caps),
      |cand AS (SELECT doc_id FROM x
      |  WHERE k = 2 AND prev IS NOT NULL AND digest <> prev),
      |urls AS (
      |  SELECT doc_id, 'd' || (doc_id % 50) || '.example.org' AS host,
      |    (CASE doc_id % 4 WHEN 0 THEN '/doc/' WHEN 1 THEN '/private/'
      |      WHEN 2 THEN '/page/' ELSE '/doc/x' END) || doc_id AS path
      |  FROM cand),
      |hosts AS (SELECT unnest(generate_series(0, 49)) AS h),
      |rules AS (
      |  SELECT 'd' || h || '.example.org' AS host,
      |         '/private/' AS rule_path, false AS allow FROM hosts
      |  UNION ALL SELECT 'd' || h || '.example.org', '/doc/x', false
      |    FROM hosts
      |  UNION ALL SELECT 'd' || h || '.example.org', '/doc/', true
      |    FROM hosts
      |  UNION ALL SELECT 'd' || h || '.example.org', '/page/', false
      |    FROM hosts WHERE h % 2 = 0
      |  UNION ALL SELECT 'd' || h || '.example.org', '/doc/', false
      |    FROM hosts WHERE h % 5 = 0),
      |m AS (
      |  SELECT u.doc_id, r.rule_path, r.allow
      |  FROM urls u LEFT JOIN rules r
      |    ON u.host = r.host AND starts_with(u.path, r.rule_path)),
      |gate AS (
      |  SELECT doc_id,
      |    coalesce(max(CASE WHEN rule_path IS NOT NULL THEN
      |      [length(rule_path), CAST(allow AS INT)] END)[2] = 1, true)
      |      AS allowed
      |  FROM m GROUP BY doc_id),
      |sched AS (
      |  SELECT u.doc_id,
      |    row_number() OVER (PARTITION BY u.host ORDER BY u.doc_id) - 1
      |      AS seq
      |  FROM urls u JOIN gate g USING (doc_id) WHERE g.allowed)
      |SELECT u.doc_id, u.host, u.path,
      |  CASE WHEN g.allowed THEN 'scheduled' ELSE 'robots_blocked' END
      |    AS disposition,
      |  CAST(s.seq AS BIGINT) AS seq,
      |  CAST(s.seq * (1 + (u.doc_id % 50) % 5) AS BIGINT) AS fetch_at_sec
      |FROM urls u JOIN gate g USING (doc_id)
      |LEFT JOIN sched s USING (doc_id)""".stripMargin
}
