package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-phrase substring counting in one Aho-Corasick pass — the
  * phrase-level counterpart to [[WordlistHits]]: boilerplate and spam
  * live in multi-word spans ("click here", "all rights reserved") that
  * token-set lookups cannot see. One automaton walk over the UTF-8
  * bytes counts every phrase of every list simultaneously, inside
  * whole-stage codegen; N `contains`/`regexp_count` calls would each
  * rescan the document.
  *
  * Counting semantics: every match END is counted (standard AC). All
  * shipped profiles contain only border-free phrases (no proper prefix
  * that is also a suffix — enforced by a spec), for which match-end
  * counting equals non-overlapping counting, so the DuckDB oracle can
  * reproduce counts exactly with `(len(t) - len(replace(t, p, '')))
  * / len(p)` arithmetic. Matching is case-sensitive: pass `lower(col)`
  * for the usual case-folded scan (profiles are lowercase).
  */
case class PhraseHits(child: Expression, profile: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)


  require(PhraseHits.Profiles.contains(profile),
    s"unknown phrase profile: $profile")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "phrase_hits"

  override protected def nullSafeEval(input: Any): Any =
    PhraseHits.kernel(input.asInstanceOf[UTF8String], profile)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""graft.plans.PhraseHits$$.MODULE$$.kernel($c, "$profile")""")

  override protected def withNewChildInternal(newChild: Expression): PhraseHits =
    copy(child = newChild)
}

object PhraseHits {

  /** Named phrase-list stacks (lowercase; output array order = list
    * order). Border-free by construction — PhraseHitsSpec asserts it,
    * since a self-overlapping phrase would break oracle parity.
    */
  val Profiles: Map[String, Seq[Seq[String]]] = Map(
    "boilerplate" -> Seq(
      // navigation / call-to-action spans
      Seq("click here", "learn more", "sign up", "log in to",
        "subscribe to our newsletter", "follow us on"),
      // legal / footer spans
      Seq("all rights reserved", "terms of service", "privacy policy",
        "cookie policy", "copyright ©")))

  /** One automaton per profile, built once per JVM. */
  private final class Automaton(lists: Seq[Seq[String]]) {
    val nLists: Int = lists.size
    // flat byte-transition automaton: per state a 256-entry next table
    // (phrase sets are tiny — tens of states — so dense tables beat
    // hash lookups and keep the hot loop branch-free)
    private val nextT = scala.collection.mutable.ArrayBuffer(new Array[Int](256))
    private val failT = scala.collection.mutable.ArrayBuffer(0)
    private val outT = scala.collection.mutable.ArrayBuffer[Array[Int]](Array.empty)

    locally {
      java.util.Arrays.fill(nextT(0), -1)
      // goto trie
      for ((list, li) <- lists.zipWithIndex; p <- list) {
        val bytes = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var s = 0
        for (b <- bytes) {
          val bi = b & 0xff
          if (nextT(s)(bi) == -1) {
            nextT(s)(bi) = nextT.length
            val row = new Array[Int](256)
            java.util.Arrays.fill(row, -1)
            nextT += row
            failT += 0
            outT += Array.empty
          }
          s = nextT(s)(bi)
        }
        outT(s) = outT(s) :+ li
      }
      // BFS fail links; convert to a complete goto function so the scan
      // loop never walks fail chains per byte
      val queue = scala.collection.mutable.Queue.empty[Int]
      for (bi <- 0 until 256) {
        val t = nextT(0)(bi)
        if (t == -1) nextT(0)(bi) = 0
        else { failT(t) = 0; queue += t }
      }
      while (queue.nonEmpty) {
        val s = queue.dequeue()
        outT(s) = outT(s) ++ outT(failT(s))
        for (bi <- 0 until 256) {
          val t = nextT(s)(bi)
          if (t == -1) nextT(s)(bi) = nextT(failT(s))(bi)
          else { failT(t) = nextT(failT(s))(bi); queue += t }
        }
      }
    }

    private val next: Array[Array[Int]] = nextT.toArray
    private val out: Array[Array[Int]] = outT.toArray

    def scan(bytes: Array[Byte]): Array[Int] = {
      val counts = new Array[Int](nLists)
      var s = 0
      var i = 0
      while (i < bytes.length) {
        s = next(s)(bytes(i) & 0xff)
        val o = out(s)
        var j = 0
        while (j < o.length) { counts(o(j)) += 1; j += 1 }
        i += 1
      }
      counts
    }
  }

  private val compiled: Map[String, Automaton] =
    Profiles.map { case (name, lists) => name -> new Automaton(lists) }

  /** Static kernel shared by interpreted eval and generated code. */
  def kernel(text: UTF8String, profile: String): ArrayData =
    new GenericArrayData(
      compiled(profile).scan(text.getBytes).map(i => i: Any))

  def apply(c: Column, profile: String): Column =
    GraftSqlBridge.column(PhraseHits(GraftSqlBridge.expression(c), profile))
}
