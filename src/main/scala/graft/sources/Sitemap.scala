package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sitemap parser (sitemaps.org protocol, the public XML format) —
  * the crawl DISCOVERY input: sites publish `<urlset>` files listing
  * every fetchable URL with optional freshness hints, and index files
  * (`<sitemapindex>`) pointing at child sitemaps. A crawler seeds its
  * frontier from these, so the crawl stack needs the reader next to
  * WARC (the archive) and CDX (the index).
  *
  * Everything is plain column expressions — `regexp_extract_all` for
  * the `<url>` blocks, per-field `regexp_extract`, a `replace` chain
  * for the five predefined XML entities — codegen'd, per-row,
  * shuffle-free; at 100 TB sitemap parsing is a flat projection over
  * however many XML payloads the fetcher landed. Field regexes are
  * RE2-safe (lazy dot-alls, no backrefs) and shared verbatim with the
  * DuckDB oracle. Malformed XML yields empty/missing fields, never a
  * throw — the codec family's contract.
  */
object Sitemap {

  /** Undo the five predefined XML entities (`&amp;` LAST, so
    * `&amp;lt;` decodes to the literal `&lt;` like a real parser).
    */
  def unescapeXml(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(c, "&lt;", "<"),
            "&gt;", ">"),
          "&quot;", "\""),
        "&apos;", "'"),
      "&amp;", "&")

  /** The `<url>…</url>` entry bodies of a urlset document. */
  def urlEntries(xml: Column): Column =
    regexp_extract_all(coalesce(xml, lit("")),
      lit("(?s)<url\\b[^>]*>(.*?)</url>"), lit(1))

  private def field(entry: Column, tag: String): Column =
    regexp_extract(entry, s"(?s)<$tag>\\s*(.*?)\\s*</$tag>", 1)

  /** Explode a frame of urlset XML documents into one row per `<url>`
    * entry with the four standard fields typed: `loc` (entities
    * decoded), `lastmod` (W3C datetime, kept as string), `changefreq`,
    * `priority` (double; absent → null). Other input columns pass
    * through; entries without a `<loc>` are dropped (the protocol
    * requires one).
    */
  def parseUrlset(df: DataFrame, xmlCol: String): DataFrame = {
    val entry = col("__entry")
    df.withColumn("__entry", explode(urlEntries(col(xmlCol))))
      .withColumn("loc", unescapeXml(field(entry, "loc")))
      .filter(col("loc") =!= "")
      .withColumn("lastmod", field(entry, "lastmod"))
      .withColumn("changefreq", field(entry, "changefreq"))
      .withColumn("priority",
        nullif(field(entry, "priority"), lit("")).cast("double"))
      .drop("__entry")
  }
}
