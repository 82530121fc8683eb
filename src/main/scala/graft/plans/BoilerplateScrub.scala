package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** P3 boilerplate-line removal as ONE native pass — the compiled
  * replacement for `trim(array_join(filter(split(c, "\n"),
  * l => !lower(l).rlike(boilerRe)), "\n"))` (boilerRe: the
  * [[graft.text.Normalize.BoilerplatePatterns]] alternation; test-scope
  * NormalizeRef keeps that form): higher-order lambdas are
  * CodegenFallback, so the old form ran INTERPRETED (per-row array
  * allocation from split, a closure call and a regex-alternation scan
  * per line) inside the deep-clean stage's otherwise fully codegen'd
  * projection.
  *
  * Exact-equality contract with that chain (parity fuzz in
  * TextOpsSpec):
  *  - lines are `split(c, "\n")` with Spark's limit = -1 (trailing
  *    empty segments KEPT — '\n' is a single byte in UTF-8 and cannot
  *    occur inside a multibyte sequence, so byte scanning is exact);
  *  - a line is dropped when `lower(line)` contains any boilerplate
  *    phrase (graft.text.Normalize.BoilerplatePatterns — the two
  *    optional groups expand to literal alternatives, so the regex
  *    `find()` is exactly a multi-literal contains); lowercasing is
  *    UTF8String.toLowerCase per line, identical to `lower(l)` on the
  *    split element;
  *  - kept lines rejoin with '\n' and the result is trimmed like
  *    Spark's `trim` (0x20 only — UTF8String.trim).
  *
  * The literal scan is one pass with a first-character dispatch
  * (regionMatches per candidate), not eight `contains` sweeps.
  */
case class BoilerplateScrub(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "boilerplate_scrub"

  override protected def nullSafeEval(input: Any): Any =
    BoilerplateScrub.kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.BoilerplateScrub$$.MODULE$$.kernel($c)")

  override protected def withNewChildInternal(newChild: Expression): BoilerplateScrub =
    copy(child = newChild)
}

object BoilerplateScrub {

  /** Expand a boilerplate pattern's `(literal)?` optional groups into
    * plain literals; any OTHER regex syntax is rejected at class load,
    * so a future pattern the expander can't honor fails fast instead
    * of silently diverging from the regex-anchor semantics.
    */
  private[plans] def expand(pattern: String): Seq[String] = {
    val optGroup = """\(([^()|?*+\[\]\\]*)\)\?""".r
    optGroup.findFirstMatchIn(pattern) match {
      case Some(m) =>
        val kept = pattern.substring(0, m.start) + m.group(1) +
          pattern.substring(m.end)
        val dropped = pattern.substring(0, m.start) + pattern.substring(m.end)
        expand(kept) ++ expand(dropped)
      case None =>
        require(!pattern.exists("()[]{}|?*+\\^$.".contains(_)),
          s"boilerplate pattern uses regex syntax the scrub kernel " +
            s"cannot expand to literals: $pattern")
        Seq(pattern)
    }
  }

  /** The literal expansions of the P3 contract patterns — DERIVED from
    * [[graft.text.Normalize.BoilerplatePatterns]] (one source of
    * truth: adding a pattern there changes this kernel, or fails the
    * load-time require above). Grouped by first character for the
    * dispatch scan.
    */
  private val Phrases: Array[String] =
    graft.text.Normalize.BoilerplatePatterns.flatMap(expand).toArray

  private val ByFirst: Array[Array[String]] = {
    val m = new Array[Array[String]](128)
    Phrases.groupBy(_.charAt(0)).foreach { case (c, ps) => m(c.toInt) = ps }
    m
  }

  /** True when the (already lowered) line contains any phrase. */
  private def hasBoilerplate(line: String): Boolean = {
    val n = line.length
    var i = 0
    while (i < n) {
      val c = line.charAt(i)
      if (c < 128) {
        val cands = ByFirst(c.toInt)
        if (cands != null) {
          var j = 0
          while (j < cands.length) {
            val p = cands(j)
            if (line.regionMatches(i, p, 0, p.length)) return true
            j += 1
          }
        }
      }
      i += 1
    }
    false
  }

  def kernel(u: UTF8String): UTF8String = {
    val s = u.toString
    // fast path: no '\n' -> single line; most pipeline docs after P1
    if (s.indexOf('\n') < 0) {
      return if (hasBoilerplate(
          UTF8String.fromString(s).toLowerCase.toString)) UTF8String.EMPTY_UTF8
        else u.trim()
    }
    val lines = new scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    var dropped = false
    var i = 0
    val n = s.length
    while (i <= n) {
      if (i == n || s.charAt(i) == '\n') {
        val line = s.substring(start, i)
        if (hasBoilerplate(
            UTF8String.fromString(line).toLowerCase.toString)) dropped = true
        else lines += line
        start = i + 1
      }
      i += 1
    }
    if (!dropped) u.trim()
    else UTF8String.fromString(lines.mkString("\n")).trim()
  }

  def apply(c: Column): Column =
    GraftSqlBridge.column(BoilerplateScrub(GraftSqlBridge.expression(c)))
}
