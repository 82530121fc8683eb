package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.ops.{Incremental, SnapshotDiff}
import graft.text.TextMetrics

/** Incremental maintenance: delta-only reprocessing equals a full
  * recompute, and a snapshot merge replaces, deletes and carries
  * forward exactly, and fails on ambiguous ids.
  */
class IncrementalSpec extends SparkTestBase {
  import spark.implicits._

  private def mkDocs(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def canon(df: DataFrame): Seq[Row] =
    df.collect().sortBy(_.getLong(0)).toSeq

  test("incremental output equals full recompute across add/change/remove") {
    val prev = mkDocs((0L until 50L).map(i => (i, s"doc $i body text")))
    // 0-9 removed; 10-39 unchanged; 40-49 changed; 50-54 added
    val cur = mkDocs(
      (10L until 40L).map(i => (i, s"doc $i body text")) ++
        (40L until 50L).map(i => (i, s"doc $i REVISED body")) ++
        (50L until 55L).map(i => (i, s"doc $i brand new")))

    val processed = spark.sparkContext.longAccumulator("processed")
    def process(acc: Option[LongAccumulator])(df: DataFrame): DataFrame = {
      val staged = acc match {
        case Some(a) => df.map { r => a.add(1); r.getLong(0) -> r.getString(1) }
          .toDF("doc_id", "text")
        case None => df
      }
      staged.select(col("doc_id"),
        TextMetrics.charLen(col("text")).cast("long").as("n_chars"),
        TextMetrics.wordCount(col("text")).cast("long").as("n_words"),
        md5(col("text")).as("text_md5"))
    }

    val prevOut = process(None)(prev)
    val inc = IncrementalSpec.processDelta(cur, prev, prevOut,
      process(Some(processed)))
    val full = process(None)(cur)
    val incRows = canon(inc) // single action — the accumulator counts one run
    assert(incRows === canon(full))
    // ids: exactly the current snapshot, nothing from removed docs
    assert(incRows.map(_.getLong(0)).toSeq === (10L until 55L).toSeq)
    // the delta side processed ONLY changed+added rows (10 + 5)
    assert(processed.value === 15L)
  }

  test("applyDelta: upserts replace, deletes fall out, merge->diff closes") {
    import spark.implicits._
    val snap = Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four"))
      .toDF("doc_id", "text")
    val ups = Seq((2L, "two v2"), (9L, "nine")).toDF("doc_id", "text")
    val dels = Seq(3L).toDF("doc_id")
    val merged = Incremental.applyDelta(snap, ups, dels)
    val rows = merged.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "one", 2L -> "two v2", 4L -> "four",
      9L -> "nine"))
    // merge -> diff closes the loop: the diff of (snap, merged) must
    // report exactly the change set that produced it
    val fp = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id"), md5(col("text")).as("fingerprint"))
    val d = SnapshotDiff.diff(fp(snap), fp(merged))
      .select("doc_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 9L -> "added"))
    // a doc both deleted AND upserted: the upsert wins (it is the
    // newer fact about the id)
    val both = Incremental.applyDelta(snap, ups, Seq(2L, 3L).toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(both(2L) === "two v2")
  }

  test("applyDelta: a duplicated upsert id fails the merge, like MERGE INTO") {
    import spark.implicits._
    val snap = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    // the same id updated twice in one change set: silently unioning
    // both rows would emit a duplicate-id snapshot that every later
    // id-keyed diff join fans out over — the merge must raise instead
    val dupUps = Seq((2L, "two v2"), (2L, "two v3"), (5L, "five"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Incremental.applyDelta(snap, dupUps, Seq.empty[Long].toDF("doc_id"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("duplicate id")),
      s"unexpected failure: $ex")
    // and the guard is transparent for a well-keyed change set
    val ok = Incremental.applyDelta(snap,
      Seq((2L, "two v2")).toDF("doc_id", "text"),
      Seq.empty[Long].toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ok === Map(1L -> "one", 2L -> "two v2"))
    // a NULL upsert id also raises: null never matches a later
    // delete/upsert anti-join, so it could never be removed again
    val nullUps = Seq((Some(5L), "five"), (None, "ghost"))
      .toDF("doc_id", "text")
    val ex2 = intercept[Exception] {
      Incremental.applyDelta(snap, nullUps,
        Seq.empty[Long].toDF("doc_id")).collect()
    }
    assert(messages(ex2).exists(_.contains("null id")),
      s"unexpected failure: $ex2")
  }

  test("applyDelta: null ids in deletes or the snapshot raise too") {
    import spark.implicits._
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val snap = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    // a null delete id silently deletes NOTHING (anti-joins never
    // match null) — the caller meant to remove something; raise
    val exDel = intercept[Exception] {
      Incremental.applyDelta(snap,
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        Seq(Some(1L), None).toDF("doc_id")).collect()
    }
    assert(messages(exDel).exists(_.contains("delete change set")),
      s"unexpected failure: $exDel")
    // a null-id row already IN the snapshot can never be replaced or
    // deleted by any later merge — the accumulate-forever hazard the
    // upsert guard documents applies to the carried rows equally
    val nullSnap = Seq((Some(1L), "one"), (None, "ghost"))
      .toDF("doc_id", "text")
    val exSnap = intercept[Exception] {
      Incremental.applyDelta(nullSnap,
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        Seq.empty[Long].toDF("doc_id")).collect()
    }
    assert(messages(exSnap).exists(_.contains("snapshot")),
      s"unexpected failure: $exSnap")
  }
}

object IncrementalSpec {

  /** Per-doc output for the current snapshot, recomputing only the
    * delta over [[SnapshotDiff.diff]]: added and changed documents go
    * through `process`, unchanged ones carry the previous run's rows
    * forward, removed ones fall out. `process` must be row-local, so
    * carry-forward equals recompute by construction. Content identity
    * is md5(textCol).
    */
  def processDelta(cur: DataFrame, prev: DataFrame, prevOut: DataFrame,
                   process: DataFrame => DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    def fps(df: DataFrame): DataFrame =
      df.select(col(idCol),
        md5(coalesce(col(textCol), lit(""))).as("fingerprint"))
    // the diff feeds BOTH union branches: persist the (id, status)
    // sliver — ids only, never text — or each branch re-scans and
    // re-fingerprints both snapshots.
    val diffed = SnapshotDiff.diff(fps(prev), fps(cur), idCol)
      .select(col(idCol), col("status"))
    val d = cur.sparkSession.createDataFrame(
      graft.Persisted(diffed.rdd),
      diffed.schema)
    val todo = d.filter(col("status").isin("added", "changed"))
      .select(idCol)
    val keep = d.filter(col("status") === "unchanged").select(idCol)
    process(cur.join(todo, Seq(idCol), "left_semi"))
      .unionByName(prevOut.join(keep, Seq(idCol), "left_semi"))
  }
}
