package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the entry points' environment variables. */
class SizingSpec extends AnyFunSuite {

  test("SPARK_GRAFT_SHUFFLE_PARTS: a positive integer is taken as given") {
    assert(Sizing.positiveInt("SPARK_GRAFT_SHUFFLE_PARTS", "35") === 35)
    assert(Sizing.positiveInt("SPARK_GRAFT_SHUFFLE_PARTS", " 8 ") === 8)
  }

  test("SPARK_GRAFT_SHUFFLE_PARTS: malformed, zero or negative values " +
    "fail with an error naming the variable") {
    Seq("", "abc", "3.5", "0", "-4", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](
        Sizing.positiveInt("SPARK_GRAFT_SHUFFLE_PARTS", v))
      assert(e.getMessage.contains("SPARK_GRAFT_SHUFFLE_PARTS"), v)
    }
  }

  test("SPARK_GRAFT_CPUS and SPARK_GRAFT_BENCH_REPEAT: the same reader " +
    "rejects what a master URL or .toInt/.max(1) used to take or clamp") {
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_REPEAT")) {
      assert(Sizing.positiveInt(name, "2") === 2)
      Seq("", "*", "four", "0", "-1", "2.0").foreach { v =>
        val e = intercept[IllegalArgumentException](Sizing.positiveInt(name, v))
        assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$v'"), v)
      }
    }
  }

  test("an unset variable reads as None, not as a default or a failure") {
    val unset = "SPARK_GRAFT_SIZING_SPEC_UNSET"
    assume(!sys.env.contains(unset))
    assert(Sizing.envPositiveInt(unset).isEmpty)
  }

  test("SPARK_GRAFT_BENCH_ONLY / SPARK_GRAFT_VERIFY_ONLY: unset selects " +
    "every query, a list selects exactly the named ones") {
    assert(SparkEntry.select("SPARK_GRAFT_BENCH_ONLY", None).keySet ===
      SparkEntry.queries.keySet)
    val two = SparkEntry.queries.keys.toSeq.sorted.take(2)
    assert(SparkEntry.select("SPARK_GRAFT_VERIFY_ONLY",
      Some(two.mkString(" ", " , ", ","))).keySet === two.toSet)
  }

  test("SPARK_GRAFT_BENCH_ONLY / SPARK_GRAFT_VERIFY_ONLY: unknown names " +
    "or an empty list fail the run, listing the unknown names") {
    val known = SparkEntry.queries.keys.min
    val e = intercept[IllegalArgumentException](SparkEntry.select(
      "SPARK_GRAFT_BENCH_ONLY", Some(s"$known,no_such_query,q_typo")))
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_ONLY"))
    assert(e.getMessage.contains("unknown: no_such_query, q_typo"), e.getMessage)
    Seq("", " , ").foreach { v =>
      val empty = intercept[IllegalArgumentException](
        SparkEntry.select("SPARK_GRAFT_VERIFY_ONLY", Some(v)))
      assert(empty.getMessage.contains("SPARK_GRAFT_VERIFY_ONLY"), v)
    }
  }
}
