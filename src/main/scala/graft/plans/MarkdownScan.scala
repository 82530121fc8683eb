package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Linear-time scanners with EXACT java.util.regex semantics for the
  * markdown-normalization chain and the anchor-text measurement — the
  * PiiScan/EmailScan discipline applied to the two r11 web-extraction
  * queries, whose patterns are ReDoS-class under a backtracking
  * engine: every complement-class or lazy-dot scan (`[^\]]*`, `(.*?)`)
  * re-runs from each failed start position, so floods of unclosed
  * openers (`![x![x…`, `<a x><a x>…` before one newline, `*x*x…`
  * with no closer) cost O(n²) — the stall-one-executor-core class.
  * These scanners make each search cursor MONOTONE (a failed
  * closer/newline probe is cached and reused by later opens), so the
  * whole pass is amortized linear while staying value-identical
  * (MarkdownScanSpec fuzzes every pass against the regex chain it
  * replaces; the RE2 oracle side keeps the regexes — RE2 is an
  * automaton and was never quadratic).
  *
  * Pass semantics (each mirrors its pattern's backtracking outcome,
  * derived in the scaladoc of each function):
  *  1. fences `(?s)` ``` `.*?` ``` — nearest-closer pairing, unpaired
  *     final opener stays literal;
  *  2. images `!\[([^\]]*)\]\(([^)]*)\)` → alt text;
  *  3. links  `\[([^\]]*)\]\(([^)]*)\)` → anchor text;
  *  4. emphasis `\*{1,3}([^*]+)\*{1,3}` → inner text (within a star
  *     run only the last ≤3 stars can open — earlier positions leave a
  *     star under the text head and fail — and the closer consumes at
  *     most 3 of its run, leaving the rest to the next match);
  *  5. inline code `` `([^`]+)` `` → code text (adjacent backticks
  *     cannot pair — the text class is non-empty);
  *  6. headers `(?m)^#{1,6}[ \t]+` — only line starts, 7+ hashes never
  *     match (every open count leaves a '#' where the space class must
  *     hold), the space run is consumed greedily.
  */
object MarkdownScan {

  @inline private def isJavaWs(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') // java \s: [ \t\n\x0B\f\r]

  // ---- pass 1: code fences ----------------------------------------------

  private def stripFences(s: String): String = {
    var i = s.indexOf("```")
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var copied = 0
    while (i >= 0) {
      val j = s.indexOf("```", i + 3)
      if (j < 0) i = -1 // unpaired opener stays literal
      else {
        sb.append(s, copied, i)
        copied = j + 3
        i = s.indexOf("```", j + 3)
      }
    }
    if (copied == 0) s else sb.append(s, copied, s.length).toString
  }

  // ---- passes 2+3: images and links --------------------------------------

  /** `[` (optionally preceded by `!` when image=true), alt text up to
    * the FIRST `]` (the complement class admits no other choice), then
    * literally `](`, url up to the first `)`, then `)` — replaced by
    * the alt text. Closer probes are cached so unclosed-opener floods
    * stay linear.
    */
  private def replaceBracketParen(s: String, image: Boolean): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = 0
    var bracketCache = -2 // first ']' >= some probe; -1 = none anywhere
    var parenCache = -2
    def firstFrom(cache: Int, from: Int, ch: Char): Int =
      if (cache == -1) -1
      else if (cache >= from) cache
      else s.indexOf(ch, from)
    while (i < n) {
      val open =
        if (image) s.startsWith("![", i)
        else s.charAt(i) == '['
      if (open) {
        val textStart = i + (if (image) 2 else 1)
        val j = firstFrom(bracketCache, textStart, ']')
        bracketCache = j
        if (j < 0) i = n // no ']' anywhere ahead: no more matches
        else if (j + 1 < n && s.charAt(j + 1) == '(') {
          val k = firstFrom(parenCache, j + 2, ')')
          parenCache = k
          if (k < 0) i += 1 // could still match via a later, shorter pair? no ')' ahead at all
          else {
            if (sb == null) sb = new java.lang.StringBuilder(n)
            sb.append(s, copied, i).append(s, textStart, j)
            copied = k + 1
            i = k + 1
          }
        } else i += 1
      } else i += 1
    }
    if (sb == null) s else sb.append(s, copied, n).toString
  }

  // ---- pass 4: emphasis ---------------------------------------------------

  private def replaceEmphasis(s: String): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = s.indexOf('*')
    while (i >= 0 && i < n) {
      var runEnd = i
      while (runEnd < n && s.charAt(runEnd) == '*') runEnd += 1
      val r = runEnd - i
      // only the last min(3, r) stars of the run can open (earlier
      // positions see a '*' where [^*]+ must hold)
      val p = runEnd - math.min(3, r)
      if (runEnd >= n) i = -1 // trailing stars, nothing after
      else {
        // text = run of non-stars; closer = next star run
        var q = runEnd
        while (q < n && s.charAt(q) != '*') q += 1
        if (q >= n) i = -1 // no closer anywhere: later opens all fail too
        else {
          var closeEnd = q
          while (closeEnd < n && closeEnd < q + 3 && s.charAt(closeEnd) == '*')
            closeEnd += 1
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(s, copied, p).append(s, runEnd, q)
          copied = closeEnd
          i = if (closeEnd < n && s.charAt(closeEnd) == '*') closeEnd
              else s.indexOf('*', closeEnd)
        }
      }
    }
    if (sb == null) s else sb.append(s, copied, n).toString
  }

  // ---- pass 5: inline code ------------------------------------------------

  private def replaceInlineCode(s: String): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var i = s.indexOf('`')
    while (i >= 0) {
      val j = s.indexOf('`', i + 1)
      if (j < 0) i = -1
      else if (j == i + 1) i = j // empty text can't match; the second tick re-opens
      else {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(s, copied, i).append(s, i + 1, j)
        copied = j + 1
        i = s.indexOf('`', j + 1)
      }
    }
    if (sb == null) s else sb.append(s, copied, n).toString
  }

  // ---- pass 6: headers ----------------------------------------------------

  /** java (?m)^ line terminators: \n, \r, \r\n (one unit), NEL and the
    * Unicode line/para separators — a SUPERSET of RE2's \n-only rule.
    * The kernel mirrors JAVA (the parity anchor is the java regex
    * chain); the corpus carries none of the divergent shapes, which is
    * why the RE2 oracle agrees (same situation as the \b dialect note
    * in PiiScan).
    */
  @inline private def isLineTerm(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  private def stripHeaders(s: String): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var lineStart = 0
    while (lineStart < n) {
      var h = lineStart
      while (h < n && h < lineStart + 7 && s.charAt(h) == '#') h += 1
      val hashes = h - lineStart
      if (hashes >= 1 && hashes <= 6 && h < n &&
          (s.charAt(h) == ' ' || s.charAt(h) == '\t')) {
        var sp = h
        while (sp < n && (s.charAt(sp) == ' ' || s.charAt(sp) == '\t')) sp += 1
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(s, copied, lineStart)
        copied = sp
      }
      // advance to the next line start: first terminator, skipping \r\n
      // as one unit
      var t = lineStart
      while (t < n && !isLineTerm(s.charAt(t))) t += 1
      lineStart =
        if (t >= n) n
        else if (s.charAt(t) == '\r' && t + 1 < n && s.charAt(t + 1) == '\n') t + 2
        else t + 1
    }
    if (sb == null) s else sb.append(s, copied, n).toString
  }

  /** The full six-pass chain (the exact regex-chain order). */
  def strip(u: UTF8String): UTF8String = {
    val s0 = u.toString
    val out = stripHeaders(replaceInlineCode(replaceEmphasis(
      replaceBracketParen(replaceBracketParen(stripFences(s0),
        image = true), image = false))))
    if (out eq s0) u else UTF8String.fromString(out)
  }

  // ---- anchor text length (content extraction) ---------------------------

  /** Total matched-group length of `<a(?:\s[^>]*)?>(.*?)</a>` — the
    * open tag is `<a>` or `<a` + one java-\s + attributes to the first
    * `>`, the text runs to the nearest `</a>` and may not cross a JAVA
    * LINE TERMINATOR (the dot excludes \n, \r, NEL and the Unicode
    * line/para separators under java.util.regex — the fuzz caught \r
    * on the first draft; RE2's dot excludes only \n, and the corpus
    * carries none of the divergent shapes). Terminator and closer
    * probes are cached (monotone), so `<a x><a x>…` floods before one
    * terminator stay linear where the backtracking engine is
    * quadratic.
    */
  def anchorTextLen(u: UTF8String): Int = {
    val s = u.toString
    val n = s.length
    var total = 0
    var i = 0
    var closerCache = -2
    var termCache = -2
    while (i < n) {
      if (s.charAt(i) == '<' && i + 2 < n && s.charAt(i + 1) == 'a') {
        var tagEnd = -1
        val c2 = s.charAt(i + 2)
        if (c2 == '>') tagEnd = i + 3
        else if (isJavaWs(c2)) {
          val gt = s.indexOf('>', i + 3)
          if (gt >= 0) tagEnd = gt + 1
        }
        if (tagEnd > 0) {
          val closer =
            if (closerCache == -1) -1
            else if (closerCache >= tagEnd) closerCache
            else s.indexOf("</a>", tagEnd)
          closerCache = closer
          val term =
            if (termCache == -1) -1
            else if (termCache >= tagEnd) termCache
            else {
              var x = tagEnd
              while (x < n && !isLineTerm(s.charAt(x))) x += 1
              if (x >= n) -1 else x
            }
          termCache = term
          if (closer >= 0 && (term < 0 || term > closer)) {
            total += closer - tagEnd
            i = closer + 4
          } else i += 1
        } else i += 1
      } else i += 1
    }
    total
  }
}

/** `markdown_strip(str)` — the six-pass markdown normalization chain,
  * linear time, value-identical to the regex chain it replaces.
  */
case class MarkdownStrip(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "markdown_strip"

  override protected def nullSafeEval(input: Any): Any =
    MarkdownScan.strip(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.MarkdownScan$$.MODULE$$.strip($c)")

  override protected def withNewChildInternal(newChild: Expression): MarkdownStrip =
    copy(child = newChild)
}

object MarkdownStrip {
  def apply(c: Column): Column =
    GraftSqlBridge.column(MarkdownStrip(GraftSqlBridge.expression(c)))
}

/** `anchor_text_len(str)` — total anchor-text length of the HTML `<a>`
  * elements in a block, linear time (the content-extraction link
  * density numerator).
  */
case class AnchorTextLen(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "anchor_text_len"

  override protected def nullSafeEval(input: Any): Any =
    MarkdownScan.anchorTextLen(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.MarkdownScan$$.MODULE$$.anchorTextLen($c)")

  override protected def withNewChildInternal(newChild: Expression): AnchorTextLen =
    copy(child = newChild)
}

object AnchorTextLen {
  def apply(c: Column): Column =
    GraftSqlBridge.column(AnchorTextLen(GraftSqlBridge.expression(c)))
}
