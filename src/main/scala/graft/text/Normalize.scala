package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text normalisation / canonicalisation column expressions.
  *
  * Behavior replicated from the reference (see SURVEY.md §2.2):
  *  - P1 normalize_text:      /root/reference/text_clean_and_filter.py:50-86
  *  - P2 strip_html:          /root/reference/deep_clean_and_pii.py:92-116
  *  - P3 remove_boilerplate:  /root/reference/deep_clean_and_pii.py:78-87,120-149
  *  - P4 normalize_repeated:  /root/reference/deep_clean_and_pii.py:152-170
  *  - P5 structural_cleanup:  /root/reference/deep_clean_and_pii.py:174-205
  *  - P6/P7 canonicalize:     /root/reference/duplication.py:31-56
  *  - P12 best-text coalesce: /root/reference/Export_to_jsonl.py:25-30
  *
  * Everything except NFKC is a native (codegen'd) Spark expression.
  */
object Normalize {

  /** P1: NFKC -> control chars to space -> collapse whitespace -> trim ->
    * NULL if empty. `applyNfkc=false` gives the ASCII-identical variant
    * used in oracle-checked queries (DuckDB has no NFKC; the synthetic
    * corpus is ASCII so the result is identical).
    */
  def normalizeText(c: Column, applyNfkc: Boolean = true): Column = {
    val base = if (applyNfkc) graft.plans.NfkcNormalize(c) else c
    // one-pass kernel for the ctrl-replace + \s+ collapse + trim +
    // nullif tail — bit-equal to the two-regex chain it replaced
    // (test-scope NormalizeRef.normalizeTextRegex, parity-pinned), which
    // rebuilt the document twice per row
    graft.plans.CtrlWsNormalize(base)
  }

  /** P2: drop anything that looks like an HTML tag. Null passes
    * through. Evaluated by the one-pass [[graft.plans.StripTags]]
    * kernel — bit-equal to the `regexp_replace(c, "<[^>]+>", " ")`
    * form (test-scope NormalizeRef, parity-pinned; the DuckDB oracles
    * keep running the regex verbatim), without rebuilding the document
    * through the regex engine per row.
    */
  def stripHtml(c: Column): Column = graft.plans.StripTags(c)

  /** Invisible characters scraped text smuggles past every other
    * filter: zero-widths (ZWSP/ZWNJ/ZWJ/word-joiner), the BOM, soft
    * hyphens, and directional marks. They split tokens invisibly,
    * perturb hashes (two visually-identical docs stop being exact
    * dups), and leak into training tokens. NFKC does NOT remove them —
    * they are format characters, not compatibility forms.
    */
  val InvisibleChars: String =
    "[\\u200B\\u200C\\u200D\\u2060\\uFEFF\\u00AD\\u200E\\u200F]"

  /** Strip invisibles entirely (deletion, not space — they occupy no
    * visual width, so replacement with space would CREATE token breaks
    * that never existed visually). RE2-safe class, shared verbatim with
    * the oracle.
    */
  def stripInvisible(c: Column): Column =
    regexp_replace(c, InvisibleChars, "")

  /** Homoglyph confusables (UTS #39-style subset): Cyrillic and Greek
    * letters visually identical to Latin, mapped back to the Latin
    * form. The other dedup-evasion channel next to invisibles —
    * swapping а for a changes every hash while changing nothing a
    * reader sees; folding BEFORE canon restores exact-dup identity
    * (and keeps wordlist/stopword token lookups honest). Single-char
    * map → one codegen'd `translate`, no regex, no shuffle. NFKC does
    * NOT fold these (they are distinct letters, not compatibility
    * forms), so this is a separate pass, like [[stripInvisible]].
    */
  val ConfusablesFrom: String =
    "аеорсхуіѕј" + // а е о р с х у і ѕ ј
      "АВЕКМНОРСТХ" + // А В Е К М Н О Р С Т Х
      "οΑΒΕΖΗΙΚΜΝΟΡΤΥΧ" // ο Α Β Ε Ζ Η Ι Κ Μ Ν Ο Ρ Τ Υ Χ
  val ConfusablesTo: String =
    "aeopcxyisj" + "ABEKMHOPCTX" + "oABEZHIKMNOPTYX"

  def foldConfusables(c: Column): Column =
    translate(c, ConfusablesFrom, ConfusablesTo)

  /** P3 boilerplate line patterns (behavioral data from the reference,
    * deep_clean_and_pii.py:78-87; matched against the lowercased line).
    */
  val BoilerplatePatterns: Seq[String] = Seq(
    "cookie(s)? policy",
    "accept( all)? cookies",
    "privacy policy",
    "terms of service",
    "all rights reserved",
    "sign up for our newsletter",
    "subscribe to our newsletter",
    "contact us"
  )

  /** P3: drop lines whose lowercase form matches any boilerplate pattern,
    * rejoin with \n, trim. NOTE (SURVEY §2.2 P3): upstream P1 collapsed
    * newlines, so in the reference pipeline each doc is ONE line and a hit
    * anywhere blanks the whole doc — faithful by construction here.
    * Evaluated by the one-pass [[graft.plans.BoilerplateScrub]] kernel —
    * bit-equal to the HOF chain it replaced (test-scope NormalizeRef,
    * parity-pinned), which ran INTERPRETED (higher-order lambdas are
    * CodegenFallback) with a per-row split array and a per-line
    * regex-alternation scan.
    */
  def removeBoilerplateLines(c: Column): Column =
    graft.plans.BoilerplateScrub(c)

  /** P4: `([!?.,])\1{2,}` -> `$1$1`; `(.)\1{3,}` -> `$1$1$1`.
    * Backreference patterns — Java regex only (RE2/DuckDB can't run
    * these, so P4 is excluded from oracle-checked columns). Evaluated
    * by the one-pass [[graft.plans.CollapseRepeats]] run-length kernel
    * — bit-equal to the sequential regex pair it replaced (test-scope
    * NormalizeRef, parity-pinned), without two backtracking passes +
    * two string copies per row.
    */
  def normalizeRepeatedChars(c: Column): Column =
    graft.plans.CollapseRepeats(c)

  /** P5: the deep-clean composition strip_html ∘ boilerplate ∘ repeats. */
  def structuralCleanup(c: Column): Column =
    normalizeRepeatedChars(removeBoilerplateLines(stripHtml(c)))

  /** P5 without P4, for oracle-checked queries (no backrefs in RE2). */
  def structuralCleanupNoRepeats(c: Column): Column =
    removeBoilerplateLines(stripHtml(c))

  /** P6: canonical form for exact dedup — null->"", lower, collapse
    * whitespace, trim. The reference strips first (duplication.py:31-45),
    * but Python strip() eats ALL whitespace while Spark trim() eats only
    * 0x20 — trimming first would leave "\t"-terminal strings with a
    * boundary space after the \s+ collapse (non-idempotent; caught by
    * PropertySpec). Collapse-then-trim is idempotent and agrees with the
    * reference for ASCII whitespace; unicode-space divergence (
    * etc.) is the documented Java-vs-Python \s dialect drift (SURVEY §7).
    */
  def canonExact(c: Column): Column =
    // one-pass kernel for lower + \s+ collapse + trim — this runs per
    // ROW inside the dedup windows' narrow projection at corpus scale;
    // bit-equal to the regex form it replaced (test-scope NormalizeRef,
    // parity-pinned)
    graft.plans.LowerWsCanon(coalesce(c, lit("")))

  /** P7: near-dup key = first `maxChars` chars of the exact canon form. */
  def canonNear(c: Column, maxChars: Int = 500): Column =
    substring(canonExact(c), 1, maxChars)

  /** P12: first non-null non-blank of the given columns, else "". */
  def bestText(cols: Column*): Column =
    coalesce(cols.map(c => nullif(trim(c), lit(""))) :+ lit(""): _*)

  /** P8: reference doc id — SHA1 of "url||text" where nulls stringify to
    * "nan" (pandas NaN quirk, ingest.py:51-67 — preserved deliberately).
    */
  def sha1DocId(url: Column, text: Column): Column =
    sha1(concat(coalesce(url, lit("nan")), lit("||"), coalesce(text, lit("nan"))))

  /** P9: SHA256 hex of the canon text (dedup hash). */
  def sha256Hex(c: Column): Column = sha2(c, 256)
}
