package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass language/toxicity signal extraction over the RAW STRING —
  * the compiled replacement for the `lower → regexp_extract_all →
  * WordlistHits` chains behind [[graft.text.LangId.withLangColumns]]
  * and [[graft.text.Toxicity.withToxicityColumns]], which each built a
  * lowered copy AND a token array per row (plus, for lang-ID, a THIRD
  * regex string build for the CJK count). Profiled at the 10× layout
  * the pair was the second-largest slice of the graded pipeline's
  * clean+filter stage after the ratio metrics (SCALING.md).
  *
  * Output by profile:
  *  - `langid`:   [letter_token_count, en_hits, de_hits, es_hits,
  *                 fr_hits, cjk_codepoints]
  *  - `toxicity`: [word_token_count, bad, insult, threat, sexual, slur]
  *
  * Bit-exactness contract (integer counts — parity is equality with
  * the staged forms, spec-pinned):
  *  - lowercase is `UTF8String.toLowerCase` — exactly Spark's `lower`,
  *    applied before tokenization like the staged forms.
  *  - `langid` tokens are maximal runs of `\p{L}` codepoints of the
  *    LOWERED text (= `regexp_extract_all(lower(c), "\\p{L}+")`);
  *    `Character.isLetter` is the same predicate, surrogate pairs
  *    advance once (the [[CharClassStats]] contract).
  *  - `toxicity` tokens are maximal runs of Java `\w` = ASCII
  *    `[a-zA-Z0-9_]` (no UNICODE_CHARACTER_CLASS) of the lowered text.
  *  - `cjk_codepoints` counts codepoints in U+4E00..U+9FFF — exactly
  *    `length(regexp_replace(c, "[^一-鿿]", ""))`; CJK ideographs are
  *    caseless, so counting on the lowered text is identical.
  *  - hits are hashed byte-equality membership against the SAME
  *    wordlists [[WordlistHits]] compiles (lists are lowercase, tokens
  *    already lowered — no per-token re-lowering).
  * Null in → null out (nullIntolerant); callers keep their
  * `coalesce(c, lit(""))` guards.
  */
case class TextProfileStats(child: Expression, profile: String)
  extends UnaryExpression with ExpectsInputTypes {

  require(TextProfileStats.Profiles.contains(profile),
    s"unknown text profile: $profile")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "text_profile_stats"

  @transient private lazy val sets = TextProfileStats.Profiles(profile)
  private val isLang = profile == "langid"

  override protected def nullSafeEval(input: Any): Any =
    TextProfileStats.stats(input.asInstanceOf[UTF8String], sets, isLang)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // bind the compiled wordlists once (the TokenSetStats pattern) —
    // no per-row Map lookup or profile-string compare in the hot path
    val setsRef = ctx.addReferenceObj("profileSets", sets,
      "java.util.HashSet[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.TextProfileStats$$.MODULE$$.stats($c, $setsRef, $isLang)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextProfileStats =
    copy(child = newChild)
}

object TextProfileStats {

  /** Wordlist stacks per profile — shared source of truth with
    * [[WordlistHits.Profiles]]; compiled to String sets once per JVM
    * (tokens here are Java substrings, and String equality is byte
    * equality for the valid UTF-16 both sides hold).
    */
  val Profiles: Map[String, Array[java.util.HashSet[String]]] =
    WordlistHits.Profiles.map { case (name, lists) =>
      name -> lists.map { ws =>
        val s = new java.util.HashSet[String](ws.size * 2)
        ws.foreach(s.add)
        s
      }.toArray
    }

  def stats(s: UTF8String, sets: Array[java.util.HashSet[String]],
      isLang: Boolean): ArrayData = {
    val counts = new Array[Long](sets.length)
    var nToks = 0L
    var cjk = 0L
    val str = s.toLowerCase.toString
    var i = 0
    var runStart = -1
    def closeRun(end: Int): Unit = {
      nToks += 1
      val tok = str.substring(runStart, end)
      var j = 0
      while (j < sets.length) {
        if (sets(j).contains(tok)) counts(j) += 1
        j += 1
      }
    }
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (isLang && cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
      val tokChar =
        if (isLang) Character.isLetter(cp)
        else (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
          (cp >= '0' && cp <= '9') || cp == '_'
      if (tokChar) {
        if (runStart < 0) runStart = i
      } else if (runStart >= 0) {
        closeRun(i); runStart = -1
      }
      i += Character.charCount(cp)
    }
    if (runStart >= 0) closeRun(str.length)
    val out = new Array[Long](1 + sets.length + (if (isLang) 1 else 0))
    out(0) = nToks
    System.arraycopy(counts, 0, out, 1, counts.length)
    if (isLang) out(out.length - 1) = cjk
    new GenericArrayData(out)
  }

  /** BOTH profiles in one pass (the stage-2 fusion): the langid and
    * toxicity walks tokenize the SAME lowered string with different
    * run predicates (\p{L} vs ASCII \w), so one traversal can carry
    * both run trackers and one toLowerCase copy serves both — halving
    * the per-row string work of the pipeline's lang+tox staging
    * (profiled 1.35 s of the 10× clean stage as two walks). Output:
    * [letter_toks, en, de, es, fr, cjk, word_toks, bad, insult,
    * threat, sexual, slur] — positions 0-5 bit-equal to
    * stats(s, langid, true), 6-11 to stats(s, toxicity, false)
    * (parity-pinned in TextOpsSpec fuzz).
    */
  def statsBoth(s: UTF8String, langSets: Array[java.util.HashSet[String]],
      toxSets: Array[java.util.HashSet[String]]): ArrayData = {
    val langCounts = new Array[Long](langSets.length)
    val toxCounts = new Array[Long](toxSets.length)
    var nLetterToks = 0L
    var nWordToks = 0L
    var cjk = 0L
    val str = s.toLowerCase.toString
    var i = 0
    var letterStart = -1
    var wordStart = -1
    def closeLetter(end: Int): Unit = {
      nLetterToks += 1
      val tok = str.substring(letterStart, end)
      var j = 0
      while (j < langSets.length) {
        if (langSets(j).contains(tok)) langCounts(j) += 1
        j += 1
      }
    }
    def closeWord(end: Int): Unit = {
      nWordToks += 1
      val tok = str.substring(wordStart, end)
      var j = 0
      while (j < toxSets.length) {
        if (toxSets(j).contains(tok)) toxCounts(j) += 1
        j += 1
      }
    }
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
      if (Character.isLetter(cp)) {
        if (letterStart < 0) letterStart = i
      } else if (letterStart >= 0) { closeLetter(i); letterStart = -1 }
      if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
          (cp >= '0' && cp <= '9') || cp == '_') {
        if (wordStart < 0) wordStart = i
      } else if (wordStart >= 0) { closeWord(i); wordStart = -1 }
      i += Character.charCount(cp)
    }
    if (letterStart >= 0) closeLetter(str.length)
    if (wordStart >= 0) closeWord(str.length)
    val out = new Array[Long](12)
    out(0) = nLetterToks
    System.arraycopy(langCounts, 0, out, 1, langCounts.length)
    out(5) = cjk
    out(6) = nWordToks
    System.arraycopy(toxCounts, 0, out, 7, toxCounts.length)
    new GenericArrayData(out)
  }

  def apply(str: Column, profile: String): Column =
    GraftSqlBridge.column(
      TextProfileStats(GraftSqlBridge.expression(str), profile))
}

/** The fused two-profile form — see [[TextProfileStats.statsBoth]]. */
case class TextLangToxStats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "text_langtox_stats"

  @transient private lazy val langSets = TextProfileStats.Profiles("langid")
  @transient private lazy val toxSets = TextProfileStats.Profiles("toxicity")

  override protected def nullSafeEval(input: Any): Any =
    TextProfileStats.statsBoth(input.asInstanceOf[UTF8String], langSets, toxSets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val langRef = ctx.addReferenceObj("langSets", langSets,
      "java.util.HashSet[]")
    val toxRef = ctx.addReferenceObj("toxSets", toxSets,
      "java.util.HashSet[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.TextProfileStats$$.MODULE$$.statsBoth($c, $langRef, $toxRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextLangToxStats =
    copy(child = newChild)
}

object TextLangToxStats {
  def apply(str: Column): Column =
    GraftSqlBridge.column(TextLangToxStats(GraftSqlBridge.expression(str)))
}
