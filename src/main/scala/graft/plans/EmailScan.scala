package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Linear-time email detection/masking with EXACT `java.util.regex`
  * semantics for the reference pattern
  * `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`
  * (deep_clean_and_pii.py:266-334 — the pattern IS the operator
  * contract and is not changed here; only the evaluation engine is).
  *
  * Why this kernel exists: the test-scope graft.tools.RegexAudit
  * harness (behind RegexLinearitySpec) measured the
  * pattern under Spark's backtracking java.util.regex engine as the
  * engine's ONE super-linear regex — O(n²) on any long run of
  * local-part-class characters with no '@' (minified JS, base64 blobs,
  * data-URI lines: routine shapes in a web crawl). At 50k chars a
  * single row already exceeds 2 s; a 10 MB base64 line would pin an
  * executor core for hours — one poisoned row stalls a 100 TB-stage
  * task. DuckDB (the oracle) runs the same pattern in linear time
  * because RE2 is automaton-based; this kernel closes the same gap on
  * the Spark side with a hand scan, keeping the two engines
  * value-identical (HostileInputSpec pins equivalence against
  * java.util.regex itself; the oracle hash-match pins it against RE2).
  *
  * Why a hand scan can be exact: every quantified element's follow-set
  * is disjoint from its char class (`local+` is followed by '@', which
  * local excludes; `[A-Za-z]{2,}` ends the pattern), so backtracking is
  * degenerate everywhere except the domain run, where giving back
  * characters re-locates the final `\.[A-Za-z]{2,}` — equivalent to
  * probing the run's dots RIGHTMOST-first. Match reconstruction:
  *
  *  - a match attempt at position i succeeds iff the maximal local-class
  *    run from i ends exactly at an '@' with a valid domain, so the
  *    leftmost viable start is the start of the local run immediately
  *    before an '@' (clamped at the previous match's end — find()
  *    resumes there and matches never overlap);
  *  - the domain is the maximal domain-class run after '@' (≥1 char
  *    before the chosen dot), probing dots rightmost-first for a
  *    maximal trailing alpha run of length ≥2; the match ends at that
  *    alpha run's end.
  *
  * Cost: each '@' inspects only its adjacent local/domain runs and
  * runs never overlap between '@'s → O(n) overall, ~40 ns/char on the
  * audit shapes that take java.util.regex minutes.
  *
  * Positions are UTF-16 code units, exactly like java.util.regex; all
  * classes are ASCII so surrogate units fail them in both engines at
  * identical offsets.
  */
object EmailScan {

  @inline private def isLocal(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-'

  @inline private def isDomain(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '.' || c == '-'

  @inline private def isAlpha(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  /** Walk matches in order; onMatch(start, endExclusive).
    * private[plans]: [[PiiScan.countsAndMask]] fuses count+mask over
    * ONE email scan. */
  private[plans] def scan(s: String)(onMatch: (Int, Int) => Unit): Unit = {
    val n = s.length
    var scanFrom = 0 // find() resume point: no match may start before it
    var at = s.indexOf('@')
    while (at >= 0) {
      if (at > scanFrom) {
        var ls = at // maximal local run ending at '@', clamped
        while (ls > scanFrom && isLocal(s.charAt(ls - 1))) ls -= 1
        if (ls < at) {
          var q = at + 1 // maximal domain run after '@'
          while (q < n && isDomain(s.charAt(q))) q += 1
          var end = -1
          var d = q - 1 // rightmost dot with ≥1 domain char before it
          while (d > at + 1 && end < 0) {
            if (s.charAt(d) == '.') {
              var e = d + 1
              while (e < q && isAlpha(s.charAt(e))) e += 1
              if (e - d - 1 >= 2) end = e
            }
            d -= 1
          }
          if (end > 0) {
            onMatch(ls, end)
            scanFrom = end
          }
        }
      }
      at = s.indexOf('@', at + 1)
    }
  }

  /** regexp_count(s, EmailRe) equivalent. */
  def count(s: UTF8String): Int = countStr(s.toString)

  /** String-level count — lets [[PiiScan]]'s fused expressions share
    * one UTF8String→String conversion across all six patterns.
    */
  private[plans] def countStr(str: String): Int = {
    var n = 0
    scan(str)((_, _) => n += 1)
    n
  }

  /** regexp_replace(s, EmailRe, repl) equivalent (literal replacement —
    * the call sites' "<EMAIL>" contains no group references).
    */
  def mask(s: UTF8String, repl: UTF8String): UTF8String = {
    val str = s.toString
    val out = maskStr(str, repl.toString)
    if (out eq str) s else UTF8String.fromString(out)
  }

  /** String-level mask (returns the INPUT reference when nothing
    * matched, so chained callers can skip re-materialization).
    */
  private[plans] def maskStr(str: String, repl: String): String = {
    var sb: java.lang.StringBuilder = null // allocate only on first hit
    var copied = 0
    scan(str) { (a, b) =>
      if (sb == null) sb = new java.lang.StringBuilder(str.length)
      sb.append(str, copied, a).append(repl)
      copied = b
    }
    if (sb == null) str else sb.append(str, copied, str.length).toString
  }
}

/** `email_hits(str)` — linear-time count of reference-pattern emails.
  * ExpectsInputTypes so a wrong-typed SQL call (`email_hits(42)`) fails
  * at analysis time, not as a task-killing ClassCastException.
  */
case class EmailCount(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "email_hits"

  override protected def nullSafeEval(input: Any): Any =
    EmailScan.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.EmailScan$$.MODULE$$.count($c)")

  override protected def withNewChildInternal(newChild: Expression): EmailCount =
    copy(child = newChild)
}

object EmailCount {
  def apply(c: Column): Column =
    GraftSqlBridge.column(EmailCount(GraftSqlBridge.expression(c)))
}

/** `email_mask(str)` — linear-time replacement of reference-pattern
  * emails with the fixed `<EMAIL>` placeholder (the mask chain's first
  * step; the replacement is part of the operator contract).
  */
case class EmailMask(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "email_mask"

  override protected def nullSafeEval(input: Any): Any =
    EmailScan.mask(input.asInstanceOf[UTF8String], EmailMask.Placeholder)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.EmailScan$$.MODULE$$.mask($c, " +
        s"graft.plans.EmailMask$$.MODULE$$.Placeholder())")

  override protected def withNewChildInternal(newChild: Expression): EmailMask =
    copy(child = newChild)
}

object EmailMask {
  val Placeholder: UTF8String = UTF8String.fromString("<EMAIL>")
}
