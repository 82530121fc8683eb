package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt compliance gating (RFC 9309, the Robots Exclusion
  * Protocol) — the legal/etiquette filter every crawl-derived corpus
  * runs before anything else: drop documents whose URL the origin's
  * robots.txt disallowed for your agent.
  *
  * [[gate]] is the DISTRIBUTED shape — rules already extracted to a
  * (host, rule_path, allow) table (robots files are a per-host dim
  * table, thousands of rows where the crawl has billions). The dim
  * collapses to ONE rule-array row per host, that array broadcasts, and
  * the RFC longest-match/allow-ties verdict is an in-row
  * `filter`/`transform`/`array_max` fold — ZERO Exchange on the corpus
  * side (no prefix-join fan-out, no verdict groupBy, no join-back),
  * fully declarative, Catalyst-optimizable, and replayable in SQL —
  * which is what makes [[graft.queries.WarcQueries]]'s robots gate
  * oracle-checkable. Rules are literal prefixes; RFC 9309's `*`
  * wildcards and `$` anchor are not evaluated.
  */
object Robots {

  /** Distributed robots gate over literal-prefix rules: `urls`
    * (…, hostCol, pathCol) gated against `rules`
    * (hostCol, `rule_path`, `allow`). The rules dim collapses to one
    * `array<struct<rule_path,allow>>` row per host (a dim-sized
    * groupBy, done once), that host→rules map BROADCASTS, and the
    * RFC longest-match verdict (allow breaks ties) is an in-row
    * `filter`/`transform`/`array_max` fold over the matching prefixes
    * — struct ordering compares (len, allow) lexicographically, which
    * IS the RFC precedence. URLs whose host has no matching rule are
    * allowed. Output: all of `urls`' columns + `allowed`, row-for-row.
    *
    * 100 TB shape: robots rules are per-HOST state (a dim table), so
    * the corpus side has ZERO Exchange — no prefix-join row fan-out,
    * no per-URL groupBy to collapse it, no join-back; the only
    * shuffle in the plan is the dim-sized rule collapse. Callers keep
    * every corpus column through the gate (no re-join on a row id).
    */
  def gate(urls: DataFrame, rules: DataFrame, hostCol: String = "host",
      pathCol: String = "path"): DataFrame = {
    val hostRules = rules.groupBy(hostCol)
      .agg(collect_list(struct(col("rule_path"), col("allow"))).as("__rules"))
    val best: Column = array_max(transform(
      filter(col("__rules"), r => startswith(col(pathCol), r("rule_path"))),
      r => struct(length(r("rule_path")).as("len"),
        r("allow").cast("int").as("allow_i"))))
    val gated = urls.join(broadcast(hostRules), Seq(hostCol), "left")
      .withColumn("allowed", coalesce(best("allow_i") === 1, lit(true)))
    gated.select(urls.columns.map(col).toSeq :+ col("allowed"): _*)
  }
}
