package graft

import org.apache.spark.sql.functions._

import graft.ops.Classifier
import graft.plans.DotProduct
import graft.text.TextMetrics

/** Contract pins for the trained quality classifier
  * (ops/Classifier): gradient-descent correctness (loss strictly
  * falls), bit-reproducible training (the sorted partition combine),
  * held-out separation on a spam-vs-clean fixture, and parity of the
  * DotProduct codegen kernel against the declarative HOF form.
  */
class ClassifierSpec extends SparkTestBase {

  import spark.implicits._

  private val Dim = 64

  // Deterministic two-class text fixture: "clean" rows draw from one
  // vocabulary, "spam" rows mix clean words with spam vocabulary.
  // Word choice is a pure function of the row index — no RNG.
  private val cleanWords = Vector("river", "mountain", "library", "garden",
    "window", "evening", "teacher", "journey", "harbor", "winter")
  private val spamWords = Vector("free", "winner", "casino", "jackpot",
    "prize", "bonus", "click", "deposit")

  private def cleanText(i: Int): String =
    (0 until 12).map(j => cleanWords((i * 7 + j * 3) % cleanWords.size))
      .mkString(" ")

  private def spamText(i: Int): String = {
    val base = (0 until 8).map(j => cleanWords((i * 5 + j) % cleanWords.size))
    val spam = (0 until 4).map(j => spamWords((i * 3 + j) % spamWords.size))
    (base ++ spam).mkString(" ")
  }

  private def fixture(n: Int) = {
    val rows = (0 until n).map { i =>
      if (i % 2 == 0) (i.toLong, cleanText(i), 0) else (i.toLong, spamText(i), 1)
    }
    rows.toDF("id", "text", "label")
      .select(col("id"), col("label"),
        Classifier.features(TextMetrics.tokens(col("text")), Dim).as("x"))
  }

  test("training strictly reduces logistic loss") {
    val train = fixture(200).filter(col("id") % 10 < 7)
    val m0 = Classifier.LogisticModel(new Array[Double](Dim), 0.0)
    val l0 = ClassifierSpec.logLoss(train, "x", "label", m0)
    val m10 = Classifier.trainLogistic(train, "x", "label", Dim, iters = 10)
    val l10 = ClassifierSpec.logLoss(train, "x", "label", m10)
    val m30 = Classifier.trainLogistic(train, "x", "label", Dim, iters = 30)
    val l30 = ClassifierSpec.logLoss(train, "x", "label", m30)
    assert(l0 === ClassifierSpec.logLoss(train, "x", "label", m0)) // loss is pure
    assert(l10 < l0, s"10 iters should beat init: $l10 vs $l0")
    assert(l30 < l10, s"30 iters should beat 10: $l30 vs $l10")
  }

  test("training is bit-reproducible across runs") {
    val train = fixture(200).filter(col("id") % 10 < 7)
      .repartition(4, col("id")) // fixed layout, >1 partition
      .sortWithinPartitions("id")
    val a = Classifier.trainLogistic(train, "x", "label", Dim, iters = 15)
    val b = Classifier.trainLogistic(train, "x", "label", Dim, iters = 15)
    assert(a.bias === b.bias)
    assert(a.weights.toSeq === b.weights.toSeq,
      "quantized-long gradient sum must make training deterministic")
  }

  test("training is bit-identical across partition layouts") {
    // the cluster-scale property the quantized-long tree combine buys:
    // each row's gradient contribution is quantized BEFORE summation,
    // so the full gradient is a sum of longs — exact and associative —
    // and repartitioning the training sliver cannot move a single bit
    // of the fitted model (a per-partition double fold, however the
    // partials are combined, could not make this promise: the
    // IN-partition row sums would already differ).
    // Gate dropped to 0 so the fixture actually exercises the
    // DISTRIBUTED path (the default gate would take the local one).
    val base = fixture(200).filter(col("id") % 10 < 7)
    val p2 = base.repartition(2, col("id"))
    val p13 = base.repartition(13, col("id"))
    val a = Classifier.trainLogistic(p2, "x", "label", Dim, iters = 15, localGate = 0)
    val b = Classifier.trainLogistic(p13, "x", "label", Dim, iters = 15, localGate = 0)
    assert(a.bias === b.bias)
    assert(a.weights.toSeq === b.weights.toSeq,
      "2-partition and 13-partition training must agree bit-for-bit")
  }

  test("size-gated local fast path is bit-identical to the distributed path") {
    // the long-quantized contributions make the gradient sum order-free,
    // so collecting the sliver and folding on the driver must reproduce
    // the treeAggregate result to the last bit — the property that makes
    // the fast path a pure optimization rather than a semantic fork
    val base = fixture(200).filter(col("id") % 10 < 7)
      .repartition(5, col("id"))
    val local = Classifier.trainLogistic(base, "x", "label", Dim, iters = 15)
    val dist = Classifier.trainLogistic(base, "x", "label", Dim, iters = 15, localGate = 0)
    assert(local.bias === dist.bias)
    assert(local.weights.toSeq === dist.weights.toSeq,
      "local and distributed training must agree bit-for-bit")
  }

  test("gradient overflow fails loudly on BOTH paths, never wraps") {
    // features far beyond the ~2^33 quantization budget: each row's
    // quantized contribution is ~0.5·1e10·2^30 ≈ 5.4e18, so two rows
    // overflow a Long. The local and distributed paths must agree on
    // the failure mode (ArithmeticException from addExact) — a silent
    // wrap on one side would be a parity fork in exactly the case
    // where the numbers are already garbage.
    val hostile = Seq(
      (0L, Seq.fill(4)(1e10), 0),
      (1L, Seq.fill(4)(1e10), 0)
    ).toDF("id", "x", "label")
    intercept[ArithmeticException] {
      Classifier.trainLogistic(hostile, "x", "label", 4, iters = 1)
    }
    intercept[org.apache.spark.SparkException] {
      // distributed: the executor-side addExact surfaces wrapped in
      // Spark's task-failure envelope
      Classifier.trainLogistic(hostile, "x", "label", 4, iters = 1, localGate = 0)
    }
  }

  test("model persistence round-trips bit-exactly and rejects corruption") {
    val train = fixture(120).filter(col("id") % 10 < 7)
    val m = Classifier.trainLogistic(train, "x", "label", Dim, iters = 10)
    val s = ClassifierSpec.modelToString(m)
    val back = ClassifierSpec.modelFromString(s)
    // hex IEEE bit patterns make equality exact, not approximate —
    // including negative zero and subnormals a decimal form could fold
    assert(back.bias === m.bias)
    assert(back.weights.toSeq === m.weights.toSeq)
    assert(java.lang.Double.doubleToRawLongBits(back.bias) ===
      java.lang.Double.doubleToRawLongBits(m.bias))
    // special values survive
    val odd = Classifier.LogisticModel(
      Array(-0.0, Double.MinPositiveValue, 1.5e308), -3.25)
    val oddBack = ClassifierSpec.modelFromString(ClassifierSpec.modelToString(odd))
    assert(oddBack.weights.map(java.lang.Double.doubleToRawLongBits).toSeq ===
      odd.weights.map(java.lang.Double.doubleToRawLongBits).toSeq)
    // corruption raises instead of silently drifting the filter
    intercept[IllegalArgumentException] { ClassifierSpec.modelFromString("") }
    intercept[IllegalArgumentException] {
      ClassifierSpec.modelFromString("wrong-header 1 0 0")
    }
    intercept[IllegalArgumentException] {
      ClassifierSpec.modelFromString(s + " deadbeef") // extra weight field
    }
    intercept[IllegalArgumentException] {
      ClassifierSpec.modelFromString(s.replaceFirst(" [0-9a-f]+$", " zz"))
    }
  }

  test("held-out accuracy separates spam from clean") {
    val all = fixture(400)
    val train = all.filter(col("id") % 10 < 7)
    val test = all.filter(col("id") % 10 >= 7)
    val m = Classifier.trainLogistic(train, "x", "label", Dim,
      iters = 30, lr = 0.5)
    val acc = test
      .select(((m.scoreCol(col("x")) >= 0.5).cast("int") === col("label"))
        .cast("double").as("hit"))
      .agg(avg("hit")).head().getDouble(0)
    assert(acc >= 0.95, s"held-out accuracy $acc below 0.95")
  }

  test("spam weight mass is negative-free on clean buckets' evidence") {
    // The learned direction must put positive weight on spam buckets:
    // scoring pure spam text above pure clean text.
    val train = fixture(400).filter(col("id") % 10 < 7)
    val m = Classifier.trainLogistic(train, "x", "label", Dim,
      iters = 30, lr = 0.5)
    val probe = Seq(
      (0L, spamWords.mkString(" ")),
      (1L, cleanWords.mkString(" "))).toDF("id", "text")
      .select(col("id"),
        m.scoreCol(Classifier.features(TextMetrics.tokens(col("text")), Dim))
          .as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probe(0L) > probe(1L),
      s"pure spam ${probe(0L)} must outscore pure clean ${probe(1L)}")
  }

  test("DotProduct kernel parity with the declarative HOF form") {
    val df = fixture(50).select(col("x"),
      // reversed copy as the second operand
      reverse(col("x")).as("y"))
    val got = df.select(
      DotProduct(col("x"), col("y")).as("k"),
      aggregate(zip_with(col("x"), col("y"), (a, b) => a * b),
        lit(0.0), (acc, v) => acc + v).as("h"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1), "kernel vs HOF mismatch")
    }
  }

  test("DotProduct handles length mismatch and SQL registration") {
    graft.plans.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d)) AS d")
      .head().getDouble(0)
    assert(r === 14.0) // common prefix: 1*4 + 2*5
    val n = spark.sql("SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d))")
      .head()
    assert(n.isNullAt(0))
  }

  // ---- fixed-point graded twin -----------------------------------------

  /** Independent reference: same contract re-derived functionally with
    * BigInt arithmetic (quotient via BigInt / which truncates toward
    * zero, like Long /) — shares no code with the production loop.
    */
  private def fpReference(rows: Seq[(Seq[Long], Int)], dim: Int,
                          iters: Int, lrDen: Long): Seq[Long] = {
    val n = BigInt(rows.size)
    (0 until iters).foldLeft(Seq.fill(dim)(BigInt(0))) { (w, _) =>
      val grads = rows.foldLeft(Seq.fill(dim)(BigInt(0))) { (g, row) =>
        val (x, y) = row
        val m = w.zip(x).map { case (wi, xi) => wi * xi }.sum
        val p = (BigInt(500000) + m / 4).max(0).min(1000000)
        val e = p - BigInt(y) * 1000000
        g.zip(x).map { case (gi, xi) => gi + e * xi }
      }
      w.zip(grads).map { case (wi, gi) => wi - gi / (BigInt(lrDen) * n) }
    }.map(_.toLong)
  }

  test("fixed-point trainer matches an independent BigInt re-derivation") {
    val rows: Array[(Array[Long], Int)] = (0 until 60).map { i =>
      val t = if (i % 2 == 0) cleanText(i) else spamText(i)
      val x = new Array[Long](16)
      t.split(" ").foreach { tk =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(tk.getBytes("UTF-8"))
        x((h(0) & 0xff) % 16) += (if ((h(1) & 1) == 0) 1L else -1L)
      }
      (x, i % 2)
    }.toArray
    val got = Classifier.trainFixedPoint(rows, 16, iters = 12, lrDen = 16L)
    val want = fpReference(rows.toSeq.map { case (x, y) => (x.toSeq, y) },
      16, 12, 16L)
    assert(got.toSeq === want)
  }

  test("fixed-point training is row-order-proof (integer sums are order-free)") {
    val rows: Array[(Array[Long], Int)] = (0 until 80).map { i =>
      val x = Array.tabulate(8)(d => ((i * 13 + d * 7) % 9 - 4).toLong)
      (x, i % 2)
    }.toArray
    val w1 = Classifier.trainFixedPoint(rows, 8, 10, 16L)
    val w2 = Classifier.trainFixedPoint(
      new scala.util.Random(5).shuffle(rows.toSeq).toArray, 8, 10, 16L)
    assert(w1.toSeq === w2.toSeq)
  }

  test("fpProbCol truncates toward zero like fpProb, clamps both rails") {
    val margins = Seq(-2000001L, -2000000L, -7L, -4L, -3L, -1L, 0L, 1L,
      3L, 4L, 7L, 1999999L, 2000000L, 2000001L, -50000000L, 50000000L)
    val got = margins.toDF("m")
      .select(Classifier.fpProbCol(col("m"))).as[Long].collect()
    assert(got.toSeq === margins.map(Classifier.fpProb))
    // the rails really clamp
    assert(Classifier.fpProb(50000000L) === 1000000L)
    assert(Classifier.fpProb(-50000000L) === 0L)
    // trunc-vs-floor disagreement point: -3/4 must be 0, not -1
    assert(Classifier.fpProb(-3L) === 500000L)
  }

  test("fixed-point twin query: held-out accuracy >= 0.9 on the fixture task") {
    val conf = graft.queries.CurationQueries
      .classifierFp(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    spark.catalog.clearCache()
    val total = conf.values.sum
    val correct = conf.getOrElse((0L, 0L), 0L) + conf.getOrElse((1L, 1L), 0L)
    val acc = correct.toDouble / total
    println(s"CLS fixed-point heldout acc = $acc ($conf)")
    assert(acc >= 0.9, s"fixed-point twin accuracy degraded to $acc")
  }

  test("fixed-point DataFrame front door: distributed path bit-identical to local") {
    // same property as the libm trainer's gate pin: per-row integer
    // contributions make the gradient sum order- and topology-free, so
    // the treeAggregate path (forced by `localGate = 0`) must reproduce
    // the collected-sliver path to the last bit — what makes the front
    // door safe to point at a corpus-fraction split at scale
    import spark.implicits._
    val rows = (0 until 90).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 13 + d * 7) % 9 - 4).toLong).toSeq, i % 2)
    }
    val df = rows.toDF("id", "x", "label").repartition(7, col("id"))
    val local = Classifier.trainFixedPoint(df, "x", "label", 8, 10, 16L)
    val dist = Classifier.trainFixedPoint(df, "x", "label", 8, 10, 16L, localGate = 0)
    assert(local.toSeq === dist.toSeq)
    // and both agree with the job-free array form on the same rows
    val arr = Classifier.trainFixedPoint(
      rows.map { case (_, x, y) => (x.toArray, y) }.toArray, 8, 10, 16L)
    assert(local.toSeq === arr.toSeq)
  }

  test("fixed-point trainer fails loudly on overflow, never wraps") {
    val rows = Array((Array.fill(4)(Long.MaxValue / 2), 0),
      (Array.fill(4)(Long.MaxValue / 2), 1))
    intercept[ArithmeticException] {
      Classifier.trainFixedPoint(
        rows.map { case (x, y) => (x, y) }, 4, 3, 16L)
    }
  }
}

object ClassifierSpec {
  import org.apache.spark.sql.DataFrame

  private val ModelHeader = "graft-logistic-v1"

  /** One-line textual model form, `graft-logistic-v1 <dim> <biasHex>
    * <wHex>*`: weights as hex IEEE-754 bit patterns, so a round-trip is
    * exact by construction.
    */
  def modelToString(m: Classifier.LogisticModel): String = {
    val sb = new StringBuilder(ModelHeader)
    sb.append(' ').append(m.weights.length)
    sb.append(' ').append(java.lang.Long.toHexString(
      java.lang.Double.doubleToRawLongBits(m.bias)))
    m.weights.foreach { w =>
      sb.append(' ').append(java.lang.Long.toHexString(
        java.lang.Double.doubleToRawLongBits(w)))
    }
    sb.toString
  }

  /** Strict inverse of [[modelToString]]; raises on any corruption. */
  def modelFromString(s: String): Classifier.LogisticModel = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"modelFromString: $msg")
    val parts = s.trim.split("\\s+")
    if (parts.length < 3 || parts(0) != ModelHeader)
      fail(s"expected '$ModelHeader <dim> <biasHex> <wHex>*'")
    val dim =
      try parts(1).toInt
      catch { case _: NumberFormatException => fail(s"bad dim '${parts(1)}'") }
    if (dim < 0 || parts.length != dim + 3)
      fail(s"dim $dim but ${parts.length - 3} weight fields")
    def bits(h: String): Double =
      try java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h, 16))
      catch { case _: NumberFormatException => fail(s"bad hex '$h'") }
    Classifier.LogisticModel(Array.tabulate(dim)(i => bits(parts(i + 3))), bits(parts(2)))
  }

  /** Mean logistic loss of a model over a labeled frame — one
    * aggregation, to assert training monotonicity.
    */
  def logLoss(df: DataFrame, featCol: String, labelCol: String,
      model: Classifier.LogisticModel): Double = {
    val p = model.scoreCol(col(featCol))
    val y = col(labelCol).cast("double")
    // clamp away from {0,1} so the log is finite
    val pc = least(greatest(p, lit(1e-12)), lit(1.0 - 1e-12))
    df.select(avg(-(y * log(pc) + (lit(1.0) - y) * log(lit(1.0) - pc))))
      .head().getDouble(0)
  }
}
