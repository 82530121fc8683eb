package graft

import org.scalatest.funsuite.AnyFunSuite

/** Validation of the `SPARK_GRAFT_SHUFFLE_PARTS` override. */
class SizingSpec extends AnyFunSuite {

  test("SPARK_GRAFT_SHUFFLE_PARTS: a positive integer is taken as given") {
    assert(Sizing.parsePartitions("35") === 35)
    assert(Sizing.parsePartitions(" 8 ") === 8)
  }

  test("SPARK_GRAFT_SHUFFLE_PARTS: malformed, zero or negative values " +
    "fail with an error naming the variable") {
    Seq("", "abc", "3.5", "0", "-4", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](Sizing.parsePartitions(v))
      assert(e.getMessage.contains("SPARK_GRAFT_SHUFFLE_PARTS"), v)
    }
  }
}
