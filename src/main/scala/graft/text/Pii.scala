package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII detection & masking (SURVEY.md §2.3 M7/M8).
  *
  * Patterns are behavioral data from the reference:
  *  - stage-2 simple hits: text_clean_and_filter.py:239-261
  *  - stage-3 detect/mask: deep_clean_and_pii.py:266-334
  *
  * Masking order matters and is preserved: email -> phone -> cc -> iban,
  * each replacement running over the already-masked text.
  *
  * Evaluation engine: every pattern below is the literal operator
  * contract (and the DuckDB oracle runs each verbatim), but the Spark
  * side evaluates them through the [[graft.plans.PiiScan]] /
  * [[graft.plans.EmailScan]] hand scanners — exact java.util.regex
  * semantics, fused so the deep-clean stage converts each row's string
  * twice (counts + mask chain) instead of eight times, and linear time
  * where java.util.regex is super-linear (the email pattern's O(n²)
  * '@'-free runs). PiiScanSpec keeps the original
  * regexp_count/regexp_replace evaluation as parity anchors and fuzzes
  * kernel == regex over digit/separator-rich strings; the q_pii_*
  * oracle hashes pin the composed columns against RE2 independently.
  */
object Pii {

  /** The engine's one super-linear pattern under java.util.regex (see
    * [[graft.plans.EmailScan]] and the test-scope graft.tools.RegexAudit
    * harness behind RegexLinearitySpec).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Stage-2 rough phone pattern. */
  val PhoneSimpleRe = "\\+?\\d[\\d\\- ]{7,}\\d"

  /** Stage-3 phone pattern (optional country/area prefixes). */
  val PhoneRe =
    "\\b(?:\\+?\\d{1,3}[\\s\\-\\.]?)?(?:\\(?\\d{2,4}\\)?[\\s\\-\\.]?)?\\d{3,4}[\\s\\-\\.]?\\d{3,4}\\b"

  val CreditCardRe = "\\b(?:\\d[ -]*?){13,16}\\b"

  val IbanRe = "\\b[A-Z]{2}\\d{2}[A-Z0-9]{10,30}\\b"

  /** M7: stage-2 family — email/phone counts on the normalized text. */
  def emailHits(c: Column): Column =
    coalesce(graft.plans.EmailCount(c), lit(0))
  def phoneHitsSimple(c: Column): Column =
    coalesce(graft.plans.PhoneSimpleCount(c), lit(0))

  /** M8: stage-3 family counts (run on text_deep_clean). Each routes
    * through the fused [[graft.plans.PiiCounts]] kernel; identical
    * sibling calls inside one projection collapse to a single
    * evaluation under Spark's common-subexpression elimination, and
    * Pipeline.deepCleanAndPii stages the array explicitly anyway.
    */
  private def kcount(c: Column, idx: Int): Column =
    coalesce(element_at(graft.plans.PiiCounts(c), idx), lit(0))
  def piiEmailHits(c: Column): Column = kcount(c, 1)
  def piiPhoneHits(c: Column): Column = kcount(c, 2)
  def piiCcHits(c: Column): Column    = kcount(c, 3)
  def piiIbanHits(c: Column): Column  = kcount(c, 4)

  /** M8: mask chain in reference order over progressively-masked text
    * (one fused kernel pass family; the regexp_replace chain it replaced
    * is PiiScanSpec's `maskPiiRegex` anchor).
    */
  def maskPii(c: Column): Column = graft.plans.PiiMaskChain(c)

  /** has_pii = any of the four counters > 0. */
  def hasPii(email: Column, phone: Column, cc: Column, iban: Column): Column =
    (email + phone + cc + iban) > 0

  // ---- extended types (beyond ref: production pipelines also mask
  // network identifiers and national-id formats). RE2-safe (no
  // backrefs), so the DuckDB oracle runs the identical pattern.

  val IpRe = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  def piiIpHits(c: Column): Column  = kcount(c, 5)
  def piiSsnHits(c: Column): Column = kcount(c, 6)

  /** Extended mask chain: email, then the SPECIFIC digit shapes (ip,
    * ssn), then the reference's general ones (phone, cc, iban).
    * Specific-before-general is load-bearing: PhoneRe accepts '.'
    * separators, so run after it an IP like 192.168.0.1 becomes
    * "<PHONE>.0.1" — masked placeholders contain no digits, so the
    * later general patterns can't re-match them (TextOpsSpec pins
    * these interactions). [[maskPii]] keeps the reference's exact
    * 4-type order; this chain is the beyond-ref superset.
    */
  def maskPiiExtended(c: Column): Column = graft.plans.PiiMaskChainExt(c)
}
