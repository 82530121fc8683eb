package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

/** Session extension loading the engine's SQL surface into a session
  * built from configuration (spark-submit, the `spark-sql` CLI):
  *
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftSparkExtensions
  *   spark.sql("SELECT nfkc(text) FROM docs")
  *
  * Injects every function of [[GraftFunctions.table]], the
  * [[CollapseNfkc]] optimizer rule and the [[AsofJoinStrategy]] planner
  * strategy. For an already-built session, use [[GraftFunctions.register]].
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
    ext.injectOptimizerRule(_ => CollapseNfkc)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}

/** The native functions SQL text can call: one table, read by both
  * [[GraftSparkExtensions]] and [[register]].
  */
object GraftFunctions {

  /** A call's arguments, already checked against the function's arity.
    * `int` and `string` read an argument that configures the kernel (a
    * window size, a profile name): it must be a literal, because it
    * sizes buffers or selects compiled tables and cannot vary per row.
    */
  final class Args private[GraftFunctions] (fn: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)

    def int(i: Int, what: String): Int = exprs(i) match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) if v.isValidInt => v.toInt
      case other => notLiteral(what, "an int", other)
    }

    def string(i: Int, what: String): String = exprs(i) match {
      case Literal(v: UTF8String, _) => v.toString
      case other => notLiteral(what, "a string", other)
    }

    private def notLiteral(what: String, kind: String, got: Expression): Nothing =
      throw new IllegalArgumentException(s"$fn $what must be $kind literal, got $got")
  }

  /** One SQL function: `name(params) - doc`, built as an expression of
    * class `cls` by `build`. The parameter list is the usage signature
    * and fixes the arity the builder checks.
    */
  final class Fn(val name: String, cls: Class[_ <: Expression], params: String,
                 doc: String)(build: Args => Expression) {
    private val arity = params.split(',').length

    def id: FunctionIdentifier = FunctionIdentifier(name)

    def info: ExpressionInfo = new ExpressionInfo(cls.getCanonicalName, null,
      name, s"_FUNC_($params) - $doc", "", "", "", "", "4.0.0", "", "scala_udf")

    def builder: Seq[Expression] => Expression = { args =>
      if (args.length != arity) throw new IllegalArgumentException(
        s"$name expects $arity argument(s) ($params), got ${args.length}")
      build(new Args(name, args))
    }
  }

  val table: Seq[Fn] = Seq(
    new Fn("nfkc", classOf[NfkcNormalize], "str",
      "Returns str normalized to Unicode NFKC form.")(a => NfkcNormalize(a(0))),
    new Fn("cosine_sim", classOf[CosineSimilarity], "a, b",
      "Cosine similarity of two double arrays (left-to-right fold).")(
      a => CosineSimilarity(a(0), a(1))),
    new Fn("wordlist_hits", classOf[WordlistHits], "tokens, profile",
      "Per-wordlist hit counts for a named profile ('langid', 'toxicity').")(
      a => WordlistHits(a(0), a.string(1, "profile"))),
    new Fn("winnow_sels", classOf[WinnowSelect], "text, k, w",
      "Winnowing fingerprint selection: per-window minimum md5 of character k-grams.")(
      a => WinnowSelect(a(0), a.int(1, "k"), a.int(2, "w"))),
    new Fn("cdc_chunks", classOf[CdcChunks], "text, k",
      "Content-defined chunks: array of (start, len, md5) split at rolling-hash boundaries.")(
      a => CdcChunks(a(0), a.int(1, "k"))),
    new Fn("tokenize_text", classOf[TokenizeText], "text",
      "GPT-2-style pre-tokenization: struct(input_ids, attention_mask, n_tokens).")(
      a => TokenizeText(a(0))),
    new Fn("ngram_rep_stats", classOf[NgramRepStats], "tokens",
      "Repetition n-gram stats: (n_words, total_chars, top 2-gram weight, " +
        "duplicated 3-gram weight).")(a => NgramRepStats(a(0))),
    new Fn("deflate_len", classOf[DeflateLength], "str",
      "Returns the DEFLATE-compressed byte length of str.")(a => DeflateLength(a(0))),
    new Fn("deflate_stored_len", classOf[DeflateStoredLength], "str",
      "Returns the zlib stored-block (level 0) compressed byte length of str.")(
      a => DeflateStoredLength(a(0))),
    new Fn("phrase_hits", classOf[PhraseHits], "str, profile",
      "Counts phrase-list hits in one Aho-Corasick pass.")(
      a => PhraseHits(a(0), a.string(1, "profile"))),
    new Fn("l2sq", classOf[L2SqDistance], "a, b",
      "Squared L2 distance of two double arrays (left-to-right fold).")(
      a => L2SqDistance(a(0), a(1))),
    new Fn("hilbert_key", classOf[HilbertKey], "x, y",
      "Hilbert-curve index of (x, y), 16 bits per dimension.")(
      a => HilbertKey(a(0), a(1))),
    new Fn("email_hits", classOf[EmailCount], "str",
      "Count of email matches (reference PII pattern), linear time.")(
      a => EmailCount(a(0))),
    new Fn("email_mask", classOf[EmailMask], "str",
      "Replace email matches (reference PII pattern) with <EMAIL>, linear time.")(
      a => EmailMask(a(0))),
    new Fn("pii_counts", classOf[PiiCounts], "str",
      "[email, phone, cc, iban, ip, ssn] PII match counts (reference patterns), " +
        "linear time.")(a => PiiCounts(a(0))),
    new Fn("pii_mask", classOf[PiiMaskChain], "str",
      "Mask PII in reference order (email, phone, cc, iban), linear time.")(
      a => PiiMaskChain(a(0))),
    new Fn("pii_mask_ext", classOf[PiiMaskChainExt], "str",
      "Mask PII in extended order (email, ip, ssn, phone, cc, iban), linear time.")(
      a => PiiMaskChainExt(a(0))),
    new Fn("pii_scan", classOf[PiiScanFused], "str",
      "struct(counts: [email, phone, cc, iban, ip, ssn] PII match counts, " +
        "masked: reference mask chain), linear time.")(a => PiiScanFused(a(0))),
    new Fn("phone_simple_hits", classOf[PhoneSimpleCount], "str",
      "Count of rough phone-shape matches (stage-2 pattern), linear time.")(
      a => PhoneSimpleCount(a(0))),
    new Fn("dhash_sig", classOf[DHashSig], "bytes",
      "Perceptual dHash signature of a decodable image payload, NULL when undecodable.")(
      a => DHashSig(a(0))),
    new Fn("audio_sig", classOf[AudioSig], "bytes",
      "Perceptual energy-delta signature of a decodable audio payload, " +
        "NULL when undecodable.")(a => AudioSig(a(0))),
    new Fn("markdown_strip", classOf[MarkdownStrip], "str",
      "Normalize markdown to visible text (fences, images, links, emphasis, " +
        "inline code, headers), linear time.")(a => MarkdownStrip(a(0))),
    new Fn("anchor_text_len", classOf[AnchorTextLen], "str",
      "Total <a> anchor-text length (content-extraction link density), linear time.")(
      a => AnchorTextLen(a(0))),
    new Fn("token_dist_stats", classOf[TokenDistStats], "arr",
      "[shannon entropy (nats), max token frequency ratio] of a token array.")(
      a => TokenDistStats(a(0))),
    new Fn("char_class_stats", classOf[CharClassStats], "str",
      "[letter codepoints, non-ASCII letter codepoints] of a string.")(
      a => CharClassStats(a(0))),
    new Fn("token_set_stats", classOf[TokenSetStats], "arr",
      "[distinct token count, stopword count] of a token array.")(
      a => TokenSetStats(a(0), graft.text.TextMetrics.EnStopwords)),
    new Fn("token_text_stats", classOf[TokenTextStats], "str",
      "[token count, distinct token count, stopword count, max token count] " +
        "of a whitespace-tokenized string.")(
      a => TokenTextStats(a(0), graft.text.TextMetrics.EnStopwords)),
    new Fn("text_profile_stats", classOf[TextProfileStats], "str",
      "[token count, per-wordlist hits...] language/toxicity signals of a " +
        "string (langid profile appends CJK codepoints).")(
      a => TextProfileStats(a(0), "langid")),
    new Fn("collapse_repeats", classOf[CollapseRepeats], "str",
      "collapse repeated punctuation (>=3 to 2) and other repeated codepoints " +
        "(>=4 to 3), line terminators untouched.")(a => CollapseRepeats(a(0))),
    new Fn("strip_tags", classOf[StripTags], "str",
      "replace every <...> tag span with one space " +
        "(regexp_replace(str, '<[^>]+>', ' ') semantics).")(a => StripTags(a(0))),
    new Fn("dot_product", classOf[DotProduct], "a, b",
      "Inner product of two double arrays (left-to-right fold).")(
      a => DotProduct(a(0), a(1))),
    new Fn("fix_mojibake", classOf[FixMojibake], "str",
      "Repairs UTF-8-read-as-Latin-1/cp1252 mojibake, up to 3 nested layers; " +
        "clean text passes through unchanged.")(a => FixMojibake(a(0))),
    new Fn("simhash64", classOf[Simhash64], "str",
      "Returns the 64-bit SimHash of str over whitespace tokens.")(a => Simhash64(a(0))),
    new Fn("md5_prefix_long", classOf[Md5PrefixLong], "str, prefix, hexLen",
      "Returns the first hexLen hex digits of md5(prefix || str) as a BIGINT.")(
      a => Md5PrefixLong(a(0), a.string(1, "prefix"), a.int(2, "hexLen"))))

  /** Registers the table, the optimizer rule and the planner strategy on
    * an already-built session. Idempotent: a second call re-registers
    * the same functions and adds no second rule or strategy.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach(f => registry.registerFunction(f.id, f.info, f.builder))
    if (!spark.experimental.extraOptimizations.contains(CollapseNfkc))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CollapseNfkc
    planAsofJoins(spark)
  }

  /** Adds [[AsofJoinStrategy]] to the session's planner strategies,
    * once: all a plan holding an [[AsofJoinPlan]] needs to execute.
    */
  def planAsofJoins(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
}
