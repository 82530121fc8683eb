package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Domains, Sampling}

/** Skew-stress harness for the keyed curation ops — the hostile-corpus
  * evidence the unit-level guards (degenerate-key null-out, skew
  * routing, bounded-heap aggregates) promise but the benign sf*
  * fixtures never exercise:
  *
  *   - one dominant domain (99% of docs) for the domain cap,
  *   - one dominant language (99%) for the per-language budget,
  *   - a 1000-doc near-identical block and a 100-doc exact-dup block
  *     for the dedup windows.
  *
  * Each op runs under a task listener and the pin is on per-task
  * SHUFFLE-READ RECORDS — the stable skew signal at test scale (task
  * wall-clock is constant-dominated at 5k rows). The bounds encode the
  * 100 TB claim for each shape:
  *
  *   - budget (routed): a dominant group RANGE-spreads, so no task
  *     reads more than ~a partition's fair share;
  *   - domain cap: the bounded-heap TopK combines map-side, so the
  *     reduce task for the hot domain reads ≤ maps×cap partials, never
  *     the domain's row count;
  *   - dedup: a hot key costs its GROUP size (semantically irreducible
  *     — keep-first needs the group together), never the corpus.
  *
  * Measured shares are printed for SCALING.md's skew-bound table.
  */
class SkewStressSpec extends SparkTestBase
    with org.scalatest.BeforeAndAfterAll {

  import spark.implicits._

  // At 5k rows AQE's partition coalescing folds EVERY shuffle into one
  // partition (the data is a few KB), which reads as share=1.00 and
  // masks the actual key distribution. Coalescing is off for this
  // suite only — the skew signal is the point; AQE remains on (and
  // helpful) everywhere else.
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
  }
  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    super.afterAll()
  }

  private val NDocs = 5000

  /** The hostile corpus. Text is stopword-rich so language/dedup chains
    * treat it as live data, with a unique leading word except in the
    * crafted hot blocks.
    */
  private lazy val corpus: DataFrame = {
    val shared = ("shingle " * 60).trim // common near-key prefix
    val rows = (0 until NDocs).map { i =>
      val lang = if (i % 100 == 0) Seq("fr", "de", "es", "zh", "pt")(i / 100 % 5)
                 else "en"
      val source = if (i % 100 == 1) s"tail${i / 100 % 10}.example"
                   else "megadomain.example"
      val text =
        if (i >= 3000 && i < 4000) s"$shared variant tail number v$i"
        else if (i >= 4500 && i < 4600) "the exact same duplicated text body repeated verbatim"
        else s"d$i the quick river and the bright garden of winter with a lantern in the harbor"
      (i.toLong, text, lang, source)
    }
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(4, col("doc_id"))
  }

  /** Per-stage shuffle-read record counts for the tasks run by
    * `action`, keyed by stageId. Poll-until-quiet instead of the
    * private listener-bus flush.
    */
  private def taskProfile(action: => Unit): Map[Int, Seq[Long]] = {
    val q = new ConcurrentLinkedQueue[(Int, Long)]()
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          q.add((t.stageId, t.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      action
      var last = -1
      var stable = 0
      while (stable < 3) { // three consecutive quiet polls
        Thread.sleep(200)
        val n = q.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    q.asScala.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  /** Max single-task share of each shuffle stage reading ≥ `floor`
    * records (smaller stages are partial-sum slivers / driver collects
    * where skew is meaningless).
    */
  private def maxShares(profile: Map[Int, Seq[Long]], floor: Long): Seq[(Int, Double, Long)] =
    profile.toSeq.flatMap { case (stage, recs) =>
      val total = recs.sum
      if (total >= floor) Seq((stage, recs.max.toDouble / total, total)) else Nil
    }

  test("budget per-group: routed two-pass spreads the 99% language; the window would not") {
    val df = corpus.select(col("doc_id"), col("lang"),
      (col("doc_id") % 7).cast("double").as("score"), lit(5L).as("toks"))
    // routed: 'en' (4950 rows) goes through the grouped two-pass scheme.
    // .rdd.count() everywhere in this suite: a plain count() lets
    // Catalyst PRUNE the windows/joins under test (measured: the
    // "window" contrast below reads perfectly balanced because the
    // window was optimized away), while rdd materialization needs
    // every output column.
    val routed = taskProfile {
      Persisted.owned(Sampling.budgetSelectPerGroup(df, "lang", "doc_id", "score",
        "toks", budgetPerGroup = 1000L, skewThreshold = 500L).rdd.count())
    }
    val routedShares = maxShares(routed, floor = 4000L)
    assert(routedShares.nonEmpty, s"no corpus-scale shuffle stage seen: $routed")
    routedShares.foreach { case (stage, share, total) =>
      info(f"routed stage $stage: maxShare=$share%.2f of $total records")
      assert(share <= 0.55,
        f"routed path still skewed: stage $stage maxShare=$share%.2f")
    }
    // contrast: the pure window path concentrates the corpus in one task
    val windowed = taskProfile {
      Persisted.owned(Sampling.budgetSelectPerGroup(df, "lang", "doc_id", "score",
        "toks", budgetPerGroup = 1000L, skewThreshold = 1000000L).rdd.count())
    }
    val windowShares = maxShares(windowed, floor = 4000L)
    assert(windowShares.exists(_._2 >= 0.9),
      s"expected the unrouted window to show the hot task: $windowShares")
    windowShares.foreach { case (stage, share, total) =>
      info(f"window stage $stage: maxShare=$share%.2f of $total records") }
  }

  test("domain cap: map-side TopK partials keep the hot domain off any one task") {
    val df = corpus.withColumn("url",
      concat(lit("https://"), col("source"), lit("/doc/"),
        col("doc_id").cast("string")))
    val cap = 100
    val profile = taskProfile {
      Domains.capPerDomain(df, "url", "doc_id", cap).rdd.count()
    }
    // every shuffle stage: no task reads anything near the hot domain's
    // 4950 rows. TopK partials bound the agg exchange at maps×(cap+ε)
    // per domain; the join back is keyed on unique ids.
    val all = profile.toSeq.flatMap { case (s, recs) => recs.map(s -> _) }
    val worst = if (all.isEmpty) 0L else all.map(_._2).max
    info(s"domain-cap worst task shuffle-read: $worst records")
    assert(worst <= 16L * cap,
      s"hot-domain rows reached a single task: $worst records")
  }

  test("dedup stage: a hot key costs its group, never the corpus") {
    val prepped = corpus
      .withColumn("drop_reason", lit(null).cast("string"))
      .withColumn("text_pii_masked", col("text"))
      .withColumn("ingest_seq", col("doc_id"))
    val profile =
      Persisted.owned(taskProfile { Dedup.dedupStage(prepped).rdd.count() })
    val hotGroup = 1000L // the near-identical block
    val fairShare = NDocs / 4L
    val bound = hotGroup + fairShare + 500L
    maxShares(profile, floor = 4000L).foreach { case (stage, share, total) =>
      val worst = profile(stage).max
      info(f"dedup stage $stage: maxTask=$worst of $total (share $share%.2f)")
      assert(worst <= bound,
        s"dedup window task read $worst records (> group+fair-share bound $bound)")
    }
  }
}
