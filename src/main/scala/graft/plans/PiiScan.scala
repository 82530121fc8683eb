package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Hand scanners with EXACT `java.util.regex` semantics for the five
  * remaining PII patterns (graft.text.Pii — the patterns are the
  * operator contract from deep_clean_and_pii.py:266-334 and
  * text_clean_and_filter.py:239-261 and are not changed here; only the
  * evaluation engine is), fused into two expressions so the deep-clean
  * stage converts each row's UTF8String once instead of eight times:
  *
  *  - [[PiiCounts]] `pii_counts(str)` → [email, phone, cc, iban, ip,
  *    ssn] match counts over ONE toString of the input;
  *  - [[PiiMaskChain]] `pii_mask(str)` → the reference's ordered mask
  *    chain email→phone→cc→iban over progressively-masked text;
  *  - [[PiiMaskChainExt]] `pii_mask_ext(str)` → the beyond-ref
  *    extended chain email→ip→ssn→phone→cc→iban (specific digit
  *    shapes before the general ones — see Pii.maskPiiExtended);
  *  - [[PhoneSimpleCount]] `phone_simple_hits(str)` → the stage-2
  *    rough phone pattern's count.
  *
  * Exactness strategy (the EmailScan discipline, extended): each
  * pattern's backtracking engine is emulated by enumerating its choice
  * points in the engine's own priority order — present-first for `X?`,
  * max-first for greedy `{a,b}`, min-first for lazy `*?`, innermost
  * (rightmost) choice varying fastest — so the FIRST success of the
  * enumeration IS the java.util.regex match, and `find()` is the
  * leftmost scan with non-overlap resume at each match end. The
  * consuming classes are ASCII (`\d`, java `\s` = [ \t\n\x0B\f\r], the
  * literal separators), so positions are UTF-16 code units exactly
  * like java.util.regex; `\b`'s word test alone is Unicode-aware (see
  * [[isWordCp]]). PiiScanSpec pins every
  * scanner against regexp_count/regexp_replace over seeded
  * digit/separator-rich fuzz plus the interaction fixtures (the
  * "192.168.0.1 → <PHONE>.0.1" class); the q_pii_* oracle hashes pin
  * the composed columns against DuckDB's RE2 independently.
  *
  * Why kernels at all: the mask + count chain was measured ~1.9 s of
  * the 10× graded wall (SCALING.md round-11 mask profile) spent in
  * eight separate regexp expressions, each re-converting the row
  * string and re-walking it under the interpreting regex engine; the
  * fused scanners do the same work in two expressions with zero regex
  * machinery. Per-position enumeration cost is a small constant (the
  * patterns are fixed and every quantifier is bounded except the CC
  * separator run, which is walked linearly per backtrack level), so
  * the scan is linear on ordinary text — the same complexity class as
  * java.util.regex on these patterns, with none of its per-char NFA
  * interpretation.
  */
object PiiScan {

  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** java.util.regex's `\b` word class WITHOUT UNICODE_CHARACTER_CLASS
    * is NOT the ASCII `\w` class: the JDK's Bound node tests
    * `ch == '_' || Character.isLetterOrDigit(ch)` over CODEPOINTS —
    * é and Cyrillic are word chars at a boundary even though they fail
    * `\w` (TextOpsSpec's "regex golden: \b at non-ASCII" pins this
    * dialect against Python re, and this kernel must reproduce it:
    * "555-123-4567é" masks only "555-123"). Astral letters count too,
    * hence the codepoint reads in [[boundary]].
    */
  @inline private def isWordCp(cp: Int): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp)

  /** java \s (no UNICODE_CHARACTER_CLASS) = [ \t\n\x0B\f\r]; the phone
    * separator class adds '-' and '.'.
    */
  @inline private def isPhoneSep(c: Char): Boolean =
    c == ' ' || c == '-' || c == '.' || (c >= '\t' && c <= '\r')

  @inline private def isCcSep(c: Char): Boolean = c == ' ' || c == '-'

  @inline private def isUpper(c: Char): Boolean = c >= 'A' && c <= 'Z'

  @inline private def isUpperNum(c: Char): Boolean = isUpper(c) || isDigit(c)

  /** `\b` at position i: XOR of word-ness of the adjacent chars
    * (out-of-range = non-word), exactly java.util.regex's definition
    * over its default ASCII word class.
    */
  @inline private def boundary(s: String, i: Int): Boolean = {
    val before = i > 0 && isWordCp(s.codePointBefore(i))
    val after = i < s.length && isWordCp(s.codePointAt(i))
    before != after
  }

  /** Length of the digit run starting at p, capped. */
  @inline private def digitRun(s: String, p: Int, cap: Int): Int = {
    var k = 0
    val n = s.length
    while (k < cap && p + k < n && isDigit(s.charAt(p + k))) k += 1
    k
  }

  // ---------------------------------------------------------------
  // PhoneRe: \b(?:\+?\d{1,3}[\s\-\.]?)?(?:\(?\d{2,4}\)?[\s\-\.]?)?
  //            \d{3,4}[\s\-\.]?\d{3,4}\b
  // ---------------------------------------------------------------

  /** Match attempt at i (i < length); returns end exclusive or -1. */
  private def tryPhone(s: String, i: Int): Int = {
    val n = s.length
    if (!boundary(s, i)) return -1

    // core: \d{3,4}[\s\-\.]?\d{3,4}\b — greedy counts max-first,
    // optional separator present-first, rightmost choice fastest.
    def core(p: Int): Int = {
      var d3 = digitRun(s, p, 4)
      while (d3 >= 3) {
        val q = p + d3
        var sep = if (q < n && isPhoneSep(s.charAt(q))) 1 else 0
        while (sep >= 0) {
          val r = q + sep
          var d4 = digitRun(s, r, 4)
          while (d4 >= 3) {
            val e = r + d4
            if (boundary(s, e)) return e
            d4 -= 1
          }
          sep -= 1
        }
        d3 -= 1
      }
      -1
    }

    // g2: (?:\(?\d{2,4}\)?[\s\-\.]?)? — present branch first.
    def g2(p: Int): Int = {
      var paren = if (p < n && s.charAt(p) == '(') 1 else 0
      while (paren >= 0) {
        val pd = p + paren
        var d2 = digitRun(s, pd, 4)
        while (d2 >= 2) {
          val q = pd + d2
          var cp = if (q < n && s.charAt(q) == ')') 1 else 0
          while (cp >= 0) {
            val r = q + cp
            var sep = if (r < n && isPhoneSep(s.charAt(r))) 1 else 0
            while (sep >= 0) {
              val e = core(r + sep)
              if (e >= 0) return e
              sep -= 1
            }
            cp -= 1
          }
          d2 -= 1
        }
        paren -= 1
      }
      core(p) // g2 absent
    }

    // g1: (?:\+?\d{1,3}[\s\-\.]?)? — present branch first.
    var plus = if (s.charAt(i) == '+') 1 else 0
    while (plus >= 0) {
      val pd = i + plus
      var d1 = digitRun(s, pd, 3)
      while (d1 >= 1) {
        val q = pd + d1
        var sep = if (q < n && isPhoneSep(s.charAt(q))) 1 else 0
        while (sep >= 0) {
          val e = g2(q + sep)
          if (e >= 0) return e
          sep -= 1
        }
        d1 -= 1
      }
      plus -= 1
    }
    g2(i) // g1 absent
  }

  // ---------------------------------------------------------------
  // CreditCardRe: \b(?:\d[ -]*?){13,16}\b
  // ---------------------------------------------------------------

  private def tryCc(s: String, i: Int): Int = {
    val n = s.length
    if (!boundary(s, i)) return -1
    // loop(k, pos): k body iterations complete, cursor at pos. Greedy
    // counted loop prefers another iteration (\d then LAZY [ -]*?:
    // empty first, expanding one separator at a time) before the exit
    // check; the exit (\b, legal once k≥13) runs only after every
    // deeper alternative failed — exactly the engine's backtrack
    // order, with recursion depth ≤ 16.
    def loop(k: Int, pos: Int): Int = {
      if (k < 16 && pos < n && isDigit(s.charAt(pos))) {
        var q = pos + 1
        var expanding = true
        while (expanding) {
          val r = loop(k + 1, q)
          if (r >= 0) return r
          if (q < n && isCcSep(s.charAt(q))) q += 1 else expanding = false
        }
      }
      if (k >= 13 && boundary(s, pos)) pos else -1
    }
    loop(0, i)
  }

  // ---------------------------------------------------------------
  // IbanRe: \b[A-Z]{2}\d{2}[A-Z0-9]{10,30}\b
  // ---------------------------------------------------------------

  private def tryIban(s: String, i: Int): Int = {
    val n = s.length
    if (i + 4 > n || !boundary(s, i)) return -1
    if (!isUpper(s.charAt(i)) || !isUpper(s.charAt(i + 1))) return -1
    if (!isDigit(s.charAt(i + 2)) || !isDigit(s.charAt(i + 3))) return -1
    // greedy {10,30}: only k = min(run, 30) can clear the trailing \b
    // when run ≤ 30 (shorter k ends on a word char), and no k can when
    // run > 30 — but enumerate max-first anyway, mirroring the engine.
    var run = 0
    while (run < 31 && i + 4 + run < n && isUpperNum(s.charAt(i + 4 + run))) run += 1
    var k = math.min(run, 30)
    while (k >= 10) {
      if (boundary(s, i + 4 + k)) return i + 4 + k
      k -= 1
    }
    -1
  }

  // ---------------------------------------------------------------
  // IpRe: \b(?:\d{1,3}\.){3}\d{1,3}\b
  // ---------------------------------------------------------------

  private def tryIp(s: String, i: Int): Int = {
    val n = s.length
    if (!boundary(s, i)) return -1
    def grp(g: Int, p: Int): Int = {
      var d = digitRun(s, p, 3)
      if (g == 3) {
        while (d >= 1) {
          val e = p + d
          if (boundary(s, e)) return e
          d -= 1
        }
      } else {
        while (d >= 1) {
          val q = p + d
          if (q < n && s.charAt(q) == '.') {
            val e = grp(g + 1, q + 1)
            if (e >= 0) return e
          }
          d -= 1
        }
      }
      -1
    }
    grp(0, i)
  }

  // ---------------------------------------------------------------
  // SsnRe: \b\d{3}-\d{2}-\d{4}\b  (fixed shape, no choice points)
  // ---------------------------------------------------------------

  private def trySsn(s: String, i: Int): Int = {
    val n = s.length
    if (i + 11 > n || !boundary(s, i)) return -1
    var j = 0
    while (j < 3) { if (!isDigit(s.charAt(i + j))) return -1; j += 1 }
    if (s.charAt(i + 3) != '-') return -1
    if (!isDigit(s.charAt(i + 4)) || !isDigit(s.charAt(i + 5))) return -1
    if (s.charAt(i + 6) != '-') return -1
    j = 7
    while (j < 11) { if (!isDigit(s.charAt(i + j))) return -1; j += 1 }
    if (boundary(s, i + 11)) i + 11 else -1
  }

  // ---------------------------------------------------------------
  // PhoneSimpleRe: \+?\d[\d\- ]{7,}\d  (no \b anchors)
  // ---------------------------------------------------------------

  @inline private def isMidCh(c: Char): Boolean =
    isDigit(c) || c == '-' || c == ' '

  private def tryPhoneSimple(s: String, i: Int): Int = {
    val n = s.length
    var plus = if (s.charAt(i) == '+') 1 else 0
    while (plus >= 0) {
      val p = i + plus
      if (p < n && isDigit(s.charAt(p))) {
        var m = 0
        while (p + 1 + m < n && isMidCh(s.charAt(p + 1 + m))) m += 1
        // middle consumes t ∈ [7, m] greedily; the final \d sits at
        // p+1+t, which for t = m is out of class (never a digit), so
        // the match is the rightmost in-run digit at index ≥ p+8.
        var t = m - 1
        while (t >= 7) {
          if (isDigit(s.charAt(p + 1 + t))) return p + 2 + t
          t -= 1
        }
      }
      plus -= 1
    }
    -1
  }

  // ---------------------------------------------------------------
  // find() loops + count/replace drivers
  // ---------------------------------------------------------------

  private final val Phone = 0
  private final val Cc = 1
  private final val Iban = 2
  private final val Ip = 3
  private final val Ssn = 4
  private final val PhoneSimple = 5

  @inline private def tryAt(which: Int, s: String, i: Int): Int =
    which match {
      case Phone => tryPhone(s, i)
      case Cc => tryCc(s, i)
      case Iban => tryIban(s, i)
      case Ip => tryIp(s, i)
      case Ssn => trySsn(s, i)
      case _ => tryPhoneSimple(s, i)
    }

  /** Cheap first-char prefilter — a match's first consumed char is
    * structurally constrained by each pattern (phone: digit/'+'/'(' ;
    * cc/ip/ssn: digit; iban: A-Z; simple phone: digit/'+').
    */
  @inline private def canStart(which: Int, c: Char): Boolean =
    which match {
      case Phone => isDigit(c) || c == '+' || c == '('
      case Iban => isUpper(c)
      case PhoneSimple => isDigit(c) || c == '+'
      case _ => isDigit(c)
    }

  private def scanWith(which: Int, s: String)(onMatch: (Int, Int) => Unit): Unit = {
    val n = s.length
    var i = 0
    while (i < n) {
      if (canStart(which, s.charAt(i))) {
        val e = tryAt(which, s, i)
        if (e >= 0) { onMatch(i, e); i = e } else i += 1
      } else i += 1
    }
  }

  private def countOf(which: Int, s: String): Int = {
    var c = 0
    scanWith(which, s)((_, _) => c += 1)
    c
  }

  private def replaceAll(which: Int, s: String, repl: String): String = {
    var sb: java.lang.StringBuilder = null
    var copied = 0
    scanWith(which, s) { (a, b) =>
      if (sb == null) sb = new java.lang.StringBuilder(s.length)
      sb.append(s, copied, a).append(repl)
      copied = b
    }
    if (sb == null) s else sb.append(s, copied, s.length).toString
  }

  /** phone_simple_hits: count of the stage-2 rough phone pattern. */
  def phoneSimpleCount(s: UTF8String): Int = countOf(PhoneSimple, s.toString)

  /** pii_counts: [email, phone, cc, iban, ip, ssn] match counts over
    * one conversion of the input (all six patterns scan the SAME text;
    * masking order does not apply to counting — Pii.deepCleanAndPii
    * counts on text_deep_clean, not on the masked text).
    */
  def counts(s: UTF8String): ArrayData = {
    val str = s.toString
    new GenericArrayData(Array[Int](
      EmailScan.countStr(str), countOf(Phone, str), countOf(Cc, str),
      countOf(Iban, str), countOf(Ip, str), countOf(Ssn, str)))
  }

  /** pii_mask: the reference mask chain email→phone→cc→iban, each
    * stage scanning the previous stage's output (placeholders contain
    * no digits, so later general patterns cannot re-match them).
    */
  def maskChain(s: UTF8String): UTF8String = {
    var str = EmailScan.maskStr(s.toString, "<EMAIL>")
    str = replaceAll(Phone, str, "<PHONE>")
    str = replaceAll(Cc, str, "<CREDIT_CARD>")
    str = replaceAll(Iban, str, "<IBAN>")
    UTF8String.fromString(str)
  }

  /** pii_mask_ext: the beyond-ref extended chain with the specific
    * digit shapes (ip, ssn) masked before the general ones.
    */
  def maskChainExt(s: UTF8String): UTF8String = {
    var str = EmailScan.maskStr(s.toString, "<EMAIL>")
    str = replaceAll(Ip, str, "<IP>")
    str = replaceAll(Ssn, str, "<SSN>")
    str = replaceAll(Phone, str, "<PHONE>")
    str = replaceAll(Cc, str, "<CREDIT_CARD>")
    str = replaceAll(Iban, str, "<IBAN>")
    UTF8String.fromString(str)
  }

  /** pii_scan: [[counts]] AND [[maskChain]] from ONE UTF8String→String
    * conversion — and, until the first pattern actually matches, each
    * chain stage's count and mask share ONE scan (counts run over the
    * ORIGINAL text and mask stages over the progressively-masked text,
    * but those are the same string until something masks — the
    * overwhelmingly common no-PII row pays one conversion + six scans
    * where the two-kernel staging paid two conversions + ten). After
    * divergence the stage falls back to the exact two-call form
    * (countOf over the original, replaceAll over the chain), so the
    * result is bit-identical to `struct(counts(s), maskChain(s))` by
    * construction (PiiScanSpec pins it over the differential-fuzz
    * corpus). IP and SSN are counted but not masked in the reference
    * chain, so they always scan the original text.
    */
  def countsAndMask(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val counts = new Array[Int](6)
    var cur = str
    var diverged = false
    // one chain stage: count into counts(idx), mask repl into cur.
    // which = -1 selects the email scanner.
    def stage(idx: Int, which: Int, repl: String): Unit = {
      if (!diverged) {
        var sb: java.lang.StringBuilder = null
        var copied = 0
        var c = 0
        val onMatch = (a: Int, b: Int) => {
          c += 1
          if (sb == null) sb = new java.lang.StringBuilder(cur.length)
          sb.append(cur, copied, a).append(repl)
          copied = b
        }
        if (which < 0) EmailScan.scan(cur)(onMatch)
        else scanWith(which, cur)(onMatch)
        counts(idx) = c
        if (sb != null) {
          cur = sb.append(cur, copied, cur.length).toString
          diverged = true
        }
      } else {
        counts(idx) =
          if (which < 0) EmailScan.countStr(str) else countOf(which, str)
        cur =
          if (which < 0) EmailScan.maskStr(cur, repl)
          else replaceAll(which, cur, repl)
      }
    }
    stage(0, -1, "<EMAIL>")
    stage(1, Phone, "<PHONE>")
    stage(2, Cc, "<CREDIT_CARD>")
    stage(3, Iban, "<IBAN>")
    counts(4) = countOf(Ip, str)
    counts(5) = countOf(Ssn, str)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new GenericArrayData(counts),
      if (cur eq str) s else UTF8String.fromString(cur)))
  }
}

/** `pii_counts(str)` — [email, phone, cc, iban, ip, ssn] PII match
  * counts in one fused linear pass family.
  */
case class PiiCounts(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pii_counts"

  override protected def nullSafeEval(input: Any): Any =
    PiiScan.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PiiScan$$.MODULE$$.counts($c)")

  override protected def withNewChildInternal(newChild: Expression): PiiCounts =
    copy(child = newChild)
}

object PiiCounts {
  def apply(c: Column): Column =
    GraftSqlBridge.column(PiiCounts(GraftSqlBridge.expression(c)))
}

/** `pii_mask(str)` — the reference's ordered PII mask chain
  * email→phone→cc→iban.
  */
case class PiiMaskChain(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pii_mask"

  override protected def nullSafeEval(input: Any): Any =
    PiiScan.maskChain(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PiiScan$$.MODULE$$.maskChain($c)")

  override protected def withNewChildInternal(newChild: Expression): PiiMaskChain =
    copy(child = newChild)
}

object PiiMaskChain {
  def apply(c: Column): Column =
    GraftSqlBridge.column(PiiMaskChain(GraftSqlBridge.expression(c)))
}

/** `pii_mask_ext(str)` — the extended chain email→ip→ssn→phone→cc→iban. */
case class PiiMaskChainExt(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pii_mask_ext"

  override protected def nullSafeEval(input: Any): Any =
    PiiScan.maskChainExt(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PiiScan$$.MODULE$$.maskChainExt($c)")

  override protected def withNewChildInternal(newChild: Expression): PiiMaskChainExt =
    copy(child = newChild)
}

object PiiMaskChainExt {
  def apply(c: Column): Column =
    GraftSqlBridge.column(PiiMaskChainExt(GraftSqlBridge.expression(c)))
}

/** `pii_scan(str)` — struct(counts: [email, phone, cc, iban, ip, ssn],
  * masked: the reference mask chain) from one conversion and shared
  * count+mask scans until first divergence — the fusion of
  * [[PiiCounts]] and [[PiiMaskChain]] for call sites that project both
  * (the deep-clean stage).
  */
case class PiiScanFused(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("counts", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("masked", StringType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pii_scan"

  override protected def nullSafeEval(input: Any): Any =
    PiiScan.countsAndMask(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PiiScan$$.MODULE$$.countsAndMask($c)")

  override protected def withNewChildInternal(newChild: Expression): PiiScanFused =
    copy(child = newChild)
}

object PiiScanFused {
  def apply(c: Column): Column =
    GraftSqlBridge.column(PiiScanFused(GraftSqlBridge.expression(c)))
}

/** `phone_simple_hits(str)` — count of the stage-2 rough phone pattern. */
case class PhoneSimpleCount(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "phone_simple_hits"

  override protected def nullSafeEval(input: Any): Any =
    PiiScan.phoneSimpleCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.PiiScan$$.MODULE$$.phoneSimpleCount($c)")

  override protected def withNewChildInternal(newChild: Expression): PhoneSimpleCount =
    copy(child = newChild)
}

object PhoneSimpleCount {
  def apply(c: Column): Column =
    GraftSqlBridge.column(PhoneSimpleCount(GraftSqlBridge.expression(c)))
}
