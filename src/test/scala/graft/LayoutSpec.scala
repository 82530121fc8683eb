package graft

import org.apache.spark.sql.functions._

import graft.sources.Layout

/** Storage-layout pins: the Morton key's bit interleave and the pruning
  * payoff of Z-clustering (fewer files intersect a 2-D box predicate
  * than under a linear sort — the entire point of the layout).
  */
class LayoutSpec extends SparkTestBase {

  test("z-value interleaves bits exactly (hand-computed + inverse)") {
    import spark.implicits._
    // x=3 (bits 0,1) -> z bits 0,2 = 5; y=1 (bit 0) -> z bit 1 = 2
    val rows = Seq((3L, 1L), (0L, 0L), (65535L, 0L), (0L, 65535L),
      (12345L, 54321L), (-7L, 70000L)) // clamp cases
      .toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows((3L, 1L)) === 7L)
    assert(rows((0L, 0L)) === 0L)
    // all-x bits land on even positions, all-y bits on odd
    assert(rows((65535L, 0L)) === 0x55555555L)
    assert(rows((0L, 65535L)) === 0xaaaaaaaaL)
    // clamps: negative -> 0, overflow -> 65535
    assert(rows((-7L, 70000L)) === rows((0L, 65535L)))
    // exact inverse on an arbitrary pair — no bit lost or aliased
    def deinterleave(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L
      (0 until 16).foreach { i =>
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
      }
      (x, y)
    }
    assert(deinterleave(rows((12345L, 54321L))) === ((12345L, 54321L)))
  }

  test("z-clustered files prune a 2-D box better than a linear sort") {
    import spark.implicits._
    // a 64x64 grid of (x, y) points, scaled into the 16-bit domain
    val pts = for (x <- 0 until 64; y <- 0 until 64)
      yield (x * 1024L, y * 1024L)
    val df = pts.toDF("x", "y")
    val base = java.nio.file.Files.createTempDirectory("layout").toString
    // Z-clustered: range-partitioned and sorted by the Morton key
    df.withColumn("__z", Layout.zValue(col("x"), col("y")))
      .repartitionByRange(16, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(s"$base/zorder")
    df.repartitionByRange(16, col("x")) // linear: leading-column stripes
      .sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$base/linear")

    // per-file bounding boxes via each file's own min/max
    def boxes(dir: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min("x"), max("x"), min("y"), max("y")).collect().head
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }.toSeq
    // box predicate: half the x range but a narrow y window — the
    // linear layout can only prune on its leading column (x), so the
    // y selectivity is wasted there; the z layout prunes on both
    val (xlo, xhi, ylo, yhi) = (8L * 1024, 39L * 1024, 8L * 1024, 23L * 1024)
    def hits(bs: Seq[(Long, Long, Long, Long)]): Int =
      bs.count { case (x0, x1, y0, y1) =>
        x1 >= xlo && x0 <= xhi && y1 >= ylo && y0 <= yhi }
    val zHits = hits(boxes(s"$base/zorder"))
    val linHits = hits(boxes(s"$base/linear"))
    // the linear sort stripes on x: every file covers ALL of y, so the
    // y-range never prunes; z-clustering bounds both dims per file
    assert(zHits < linHits,
      s"z-order should prune harder: z=$zHits linear=$linHits")
    // and the layout loses no rows
    assert(spark.read.parquet(s"$base/zorder").count() === pts.length)
  }
}
