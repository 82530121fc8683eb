package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.ops.{Decontaminate, DupClusters}
import graft.sources.Sinks

/** Connected-component dup clusters, benchmark decontamination, and the
  * partitioned-sink pruning contract.
  */
class DupClustersSpec extends SparkTestBase {

  test("connected components: chains, cliques and isolated pairs") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain 1-2-3-4), {10,11}, {20,21,22} (star)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("id_a", "id_b").persist()
    val got = DupClusters.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // the op releases only what it persisted, never the caller's cache
    assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "connected components evicted the caller's cached pairs")
    pairs.unpersist(blocking = true)
  }

  test("connected components converge on a long chain (distributed path)") {
    import spark.implicits._
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    // force the pointer-jumping path (smallGraphEdges = 0); every
    // round's checkpoint is gone once the caller's scope ends
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Persisted.owned(
      DupClusters.connectedComponents(chain, smallGraphEdges = 0L).collect())
    assert(got.length == 40)
    assert(got.forall(_.getLong(1) == 0L), "all labels must reach the min id")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "connected components left checkpoint blocks behind")
  }

  test("property: random graphs match a driver-side union-find") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val nNodes = 10 + rng.nextInt(30)
      val nEdges = 5 + rng.nextInt(40)
      val edges = Seq.fill(nEdges)(
        (rng.nextInt(nNodes).toLong, rng.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driver-side union-find oracle
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(k => k -> find(k)).toMap
        // min-id canonical form: the min member of each component
        val byComp = want.groupBy(_._2).flatMap { case (_, m) =>
          val minId = m.keys.min; m.keys.map(_ -> minId)
        }
        // both strategies must produce the identical labeling
        val local = DupClusters.connectedComponents(edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val dist = DupClusters.connectedComponents(edges.toDF("id_a", "id_b"),
          smallGraphEdges = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(local == byComp, s"local path, trial $trial, edges $edges")
        assert(dist == byComp, s"distributed path, trial $trial, edges $edges")
      }
    }
  }

  test("decontamination flags exactly the docs sharing an n-gram") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over a lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then the quick brown fox appears here"), // shares "the quick brown fox"
      (2L, "completely unrelated text with no overlap at all"),
      (3L, "fox brown quick the reversed order shares nothing")   // same words, wrong order
    ).toDF("doc_id", "text")
    val got = Decontaminate.overlapReport(corpus, bench, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L)._2 && got(1L)._1 >= 1, s"doc 1 must be flagged: $got")
    assert(got(2L) == (0L, false))
    assert(got(3L) == (0L, false))
  }

  test("partitioned sink: partition filter prunes at plan time") {
    val base = java.nio.file.Files.createTempDirectory("part_sink").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang", "source")
    Sinks.writePartitionedParquet(docs, s"$base/by_lang", Seq("lang"))
    val langs = docs.select("lang").distinct().collect().map(_.getString(0))
    assert(langs.length > 1, "fixture needs multiple partitions")
    val back = spark.read.parquet(s"$base/by_lang")
      .filter(col("lang") === langs.head)
    val p = back.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("lang"), s"partition filter not applied at scan:\n$p")
    // pruning means the non-matching partition's rows never load
    assert(back.count() ==
      docs.filter(col("lang") === langs.head).count())
  }

  test("pagerank: hand-computed two-node ticks, authority ordering on a star") {
    import spark.implicits._
    // A -> B, one edge. N=2: r0 = 500000 each, tele = 75000.
    // round1: B = 75000 + (850000·500000)//1e6 = 500000; A = 75000.
    // round2: contrib(B) = 75000 -> B = 75000 + 63750 = 138750.
    val tiny = Seq(("A", "B", 10L)).toDF("src", "dst", "weight")
    val got = graft.ops.PageRank.ranks(tiny, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("A" -> 75000L, "B" -> 138750L))
    // star: every spoke points at the hub — hub must outrank all spokes
    val star = (1 to 6).map(i => (s"s$i", "hub", i.toLong))
      .toDF("src", "dst", "weight")
    val ranks = graft.ops.PageRank.ranks(star, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert((1 to 6).forall(i => ranks("hub") > ranks(s"s$i")))
    // mass: floor-only arithmetic never creates rank — total stays at or
    // under the Quant budget on a dangling-free cycle, within n ticks of
    // it (one floor per node per term)
    val cycle = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "weight")
    val total = graft.ops.PageRank.ranks(cycle, iters = 4)
      .collect().map(_.getLong(1)).sum
    assert(total <= graft.ops.PageRank.Quant)
    assert(total >= graft.ops.PageRank.Quant - 3 * 4) // ≤ n ticks lost/round
  }
}
