package graft

import graft.sources.Warc
import graft.sources.Warc.{HttpResponse, WarcRecord}

/** WARC (ISO 28500) reader/writer: spec-exact framing, gzip-member
  * layout, HTTP payload split, and the
  * malformed→stop-never-throw contract.
  */
class WarcSpec extends SparkTestBase {

  private def rec(i: Int, body: String = null,
      wtype: String = "response"): WarcRecord = {
    val payload = Option(body).getOrElse(s"payload body $i").getBytes("UTF-8")
    WarcRecord(wtype, s"<urn:test:$i>", "2024-01-01T00:00:00Z",
      s"https://example.org/p/$i", "text/plain", payload.length.toLong, payload)
  }

  test("encode/parse roundtrip: plain concatenation, all fields survive") {
    val recs = (0 until 5).map(rec(_))
    val bytes = recs.map(Warc.encodeRecord).reduce(_ ++ _)
    val back = Warc.parseAll(bytes)
    assert(back.length === 5)
    back.zip(recs).foreach { case (b, r) =>
      assert(b.warcType === r.warcType)
      assert(b.recordId === r.recordId)
      assert(b.warcDate === r.warcDate)
      assert(b.targetUri === r.targetUri)
      assert(b.contentType === r.contentType)
      assert(b.contentLength === r.payload.length.toLong)
      assert(b.payload.toSeq === r.payload.toSeq)
    }
  }

  test("gzip members: per-record members concatenate into one valid file") {
    val recs = (0 until 4).map(rec(_))
    val gz = recs.map(Warc.encodeGzipMember).reduce(_ ++ _)
    val back = Warc.parseAll(gz)
    assert(back.map(_.recordId) === recs.map(_.recordId))
    assert(back.map(_.payload.toSeq) === recs.map(_.payload.toSeq))
  }

  test("payload bytes are opaque: CRLFCRLF and fake WARC headers inside " +
    "a payload do not break framing (Content-Length is authoritative)") {
    val evil = "\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\n"
    val recs = Seq(rec(0, evil), rec(1, "after"))
    val back = Warc.parseAll(recs.map(Warc.encodeRecord).reduce(_ ++ _))
    assert(back.length === 2)
    assert(new String(back(0).payload, "UTF-8") === evil)
    assert(new String(back(1).payload, "UTF-8") === "after")
  }

  test("malformed: truncated payload yields the records before it, no throw") {
    val good = Warc.encodeRecord(rec(0))
    val bad = Warc.encodeRecord(rec(1)).dropRight(10)
    assert(Warc.parseAll(good ++ bad).map(_.recordId) === Seq("<urn:test:0>"))
  }

  test("malformed: bad version line / missing length / negative length / " +
    "oversized length / garbage bytes / empty / null all parse to Nil") {
    assert(Warc.parseAll("HTTP/1.1 200 OK\r\n\r\n".getBytes) === Nil)
    assert(Warc.parseAll(
      "WARC/1.0\r\nWARC-Type: response\r\n\r\n".getBytes) === Nil)
    assert(Warc.parseAll(
      "WARC/1.0\r\nContent-Length: -5\r\n\r\n".getBytes) === Nil)
    assert(Warc.parseAll(
      s"WARC/1.0\r\nContent-Length: ${Long.MaxValue}\r\n\r\n".getBytes) === Nil)
    assert(Warc.parseAll(Array.fill[Byte](64)(0x41)) === Nil)
    assert(Warc.parseAll(Array.emptyByteArray) === Nil)
    assert(Warc.parseAll(null) === Nil)
  }

  test("bomb guard: a header line that never terminates stops the parse " +
    "at MaxHeaderBytes instead of buffering unboundedly") {
    val huge = ("WARC/1.0\r\nX-Pad: " + "a" * (Warc.MaxHeaderBytes + 100))
      .getBytes("UTF-8")
    assert(Warc.parseAll(huge) === Nil)
  }

  test("bomb guard: truncated gzip stream yields records before the cut") {
    val gz = (0 until 3).map(i => Warc.encodeGzipMember(rec(i))).reduce(_ ++ _)
    val cut = gz.dropRight(8)
    val back = Warc.parseAll(cut)
    assert(back.length <= 3 && !back.exists(_.recordId == "<urn:test:99>"))
  }

  test("LF-only line endings are tolerated in headers") {
    val lf = ("WARC/1.0\nWARC-Type: resource\nWARC-Record-ID: <urn:x>\n" +
      "Content-Type: text/plain\nContent-Length: 2\n\nhi\r\n\r\n").getBytes
    val back = Warc.parseAll(lf)
    assert(back.length === 1)
    assert(back.head.warcType === "resource")
    assert(new String(back.head.payload) === "hi")
  }

  test("httpResponse: status, case-insensitive Content-Type, exact body") {
    val body = "the body é文".getBytes("UTF-8")
    val msg = Warc.encodeHttpResponse(404, "text/html; charset=utf-8", body)
    val Some(HttpResponse(status, ct, b)) = Warc.httpResponse(msg)
    assert(status === 404)
    assert(ct === "text/html; charset=utf-8")
    assert(b.toSeq === body.toSeq)
    // lower-case header variant
    val lower = ("HTTP/1.1 200 OK\r\ncontent-type: a/b\r\n\r\nx").getBytes
    assert(Warc.httpResponse(lower).map(_.contentType) === Some("a/b"))
  }

  test("httpResponse: malformed messages -> None, never throw") {
    assert(Warc.httpResponse(null) === None)
    assert(Warc.httpResponse("no blank line".getBytes) === None)
    assert(Warc.httpResponse("junk\r\n\r\nbody".getBytes) === None)
    assert(Warc.httpResponse("HTTP/1.1\r\n\r\n".getBytes) === None)
    assert(Warc.httpResponse("HTTP/1.1 abc OK\r\n\r\n".getBytes) === None)
  }

  test("surtKey: label reversal, scheme/userinfo/port drop, lowercase, " +
    "query kept, degenerate inputs don't throw") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val in = Seq(
      "https://www.Example.ORG/page/1",
      "http://user:pw@a.b.co:8080/x?q=2",
      "https://single/",
      "ftp://f.example.com",
      "not a url",
      "").toDF("u")
    val out = in.select(graft.ops.Domains.surtKey(col("u"))).as[String].collect()
    assert(out(0) === "org,example,www)/page/1")
    assert(out(1) === "co,b,a)/x?q=2")
    assert(out(2) === "single)/")
    assert(out(3) === "com,example,f)")
    assert(out(4) === "not a url)") // non-URLs: host regex eats up to first /:?#
    assert(out(5) === ")")
  }

  test("CDXJ: compose/parse roundtrip + malformed lines yield nulls") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.Cdx
    val lines = Seq(("org,example)/p 20240101000000",
      """{"url":"https://example.org/p","mime":"text/html","status":"200","length":"42"}"""))
      .map { case (a, b) => s"$a $b" }
      .toDF("line")
    val parsed = Cdx.parseCdxj(lines, "line")
      .select("surt", "cdx_ts", "url", "mime", "status", "n_bytes")
      .as[(String, String, String, String, Int, Long)].collect()
    assert(parsed.head === (("org,example)/p", "20240101000000",
      "https://example.org/p", "text/html", 200, 42L)))
    val bad = Seq("no-json-here", "a b {not json}", "").toDF("line")
    val badParsed = Cdx.parseCdxj(bad, "line").collect()
    assert(badParsed.length === 3)
    assert(badParsed.forall(_.isNullAt(2))) // url null on every malformed line
  }

  test("sitemap: urlset fields, entity decode, index locs, malformed XML") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.Sitemap
    val urlset =
      """<?xml version="1.0"?><urlset>
        |<url><loc> https://a.example/x?p=1&amp;q=2 </loc>
        |<lastmod>2024-03-05</lastmod><changefreq>daily</changefreq>
        |<priority>0.8</priority></url>
        |<url><loc>https://a.example/&quot;quoted&quot;&amp;lt;</loc></url>
        |<url><lastmod>2024-01-01</lastmod></url>
        |</urlset>""".stripMargin
    val rows = Sitemap.parseUrlset(Seq(urlset).toDF("xml"), "xml")
      .select("loc", "lastmod", "changefreq", "priority").collect()
    // the loc-less entry is dropped (the protocol requires a loc)
    assert(rows.length === 2)
    assert(rows(0).getString(0) === "https://a.example/x?p=1&q=2")
    assert(rows(0).getString(1) === "2024-03-05")
    assert(rows(0).getString(2) === "daily")
    assert(rows(0).getDouble(3) === 0.8)
    // &amp; decodes LAST: &amp;lt; -> the literal &lt;
    assert(rows(1).getString(0) === "https://a.example/\"quoted\"&lt;")
    assert(rows(1).isNullAt(3)) // absent priority -> null
    // index file: child sitemap locations
    val idx = """<sitemapindex><sitemap><loc>https://a.example/s1.xml</loc>
      |</sitemap><sitemap><loc> https://a.example/s2.xml?x=1&amp;y=2 </loc>
      |</sitemap></sitemapindex>""".stripMargin
    val locs = Seq(idx).toDF("xml")
      .select(WarcSpec.sitemapLocs(col("xml")).as("l"))
      .as[Seq[String]].collect().head
    assert(locs === Seq("https://a.example/s1.xml",
      "https://a.example/s2.xml?x=1&y=2"))
    // malformed: junk, empty, null -> zero rows, never a throw
    val bad = Seq("not xml at all", "<urlset><url></url>", "", null)
      .toDF("xml")
    assert(Sitemap.parseUrlset(bad, "xml").count() === 0L)
  }

  test("cdx pruned fetch: per-domain lookup opens 1 of 50 index files") {
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.WarcQueries.cdxPrunedFetch(spark, sfDir)
    val n = df.collect().length
    assert(n > 0)
    // planning-time pruning: the domain predicate sits in PartitionFilters
    val p = df.queryExecution.executedPlan.toString
    val pf = """PartitionFilters: \[[^\]]*\]""".r.findAllIn(p)
      .mkString("\n")
    assert(pf.contains("d7.example.org"),
      s"domain predicate not pruned at the partition level:\n$p")
    // runtime proof: the executed scan's numFiles metric — one host's
    // file opened, the other 49 directories never reach the scan
    val idxDir = graft.queries.WarcQueries.cdxIndexDir(sfDir)
    val total = spark.read.parquet(idxDir).inputFiles.length
    assert(total >= 50, s"expected one file per host, got $total")
    val pruned = spark.read.parquet(idxDir)
      .filter(col("host") === "d7.example.org")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail(s"no file scan in:\n${pruned.queryExecution.executedPlan}"))
    assert(scan.metrics("numFiles").value === 1L,
      s"pruned scan opened ${scan.metrics("numFiles").value} of $total files")
  }
}

object WarcSpec {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{coalesce, lit, regexp_extract_all, transform}

  import graft.sources.Sitemap.unescapeXml

  /** The child-sitemap locations of a `<sitemapindex>` document, read
    * with the same RE2-safe lazy regex and entity decode as
    * [[graft.sources.Sitemap.parseUrlset]].
    */
  def sitemapLocs(xml: Column): Column =
    transform(
      regexp_extract_all(coalesce(xml, lit("")),
        lit("(?s)<sitemap\\b[^>]*>.*?<loc>\\s*(.*?)\\s*</loc>.*?</sitemap>"),
        lit(1)),
      l => unescapeXml(l))
}
