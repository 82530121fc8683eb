package graft

import java.util.regex.Pattern

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.PiiScan
import graft.text.Pii

/** The PII hand scanners ([[graft.plans.PiiScan]]) vs the
  * java.util.regex engine they replace: counts AND full replacement
  * output (which pins match SPANS, not just match existence) must
  * agree exactly, per pattern and for both composed mask chains, over
  * hand fixtures plus seeded fuzz biased to digits, separators,
  * parens, boundary-adjacent letters/underscores and IBAN-shaped
  * uppercase runs. The Spark-level columns (Pii.maskPii vs the
  * regexp_replace chain `maskPiiRegex` etc.) are pinned on the same
  * fuzz set so the codegen wiring is covered, not just the scan logic.
  */
class PiiScanSpec extends SparkTestBase {

  import spark.implicits._
  import PiiScanSpec._

  private val PhoneP = Pattern.compile(Pii.PhoneRe)
  private val CcP = Pattern.compile(Pii.CreditCardRe)
  private val IbanP = Pattern.compile(Pii.IbanRe)
  private val IpP = Pattern.compile(Pii.IpRe)
  private val SsnP = Pattern.compile(Pii.SsnRe)
  private val PhoneSimpleP = Pattern.compile(Pii.PhoneSimpleRe)
  private val EmailP = Pattern.compile(Pii.EmailRe)

  private def jCount(p: Pattern, s: String): Int = {
    val m = p.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  private def jMask(p: Pattern, s: String, repl: String): String =
    p.matcher(s).replaceAll(repl)

  private def jChain(s: String): String = {
    var t = jMask(EmailP, s, "<EMAIL>")
    t = jMask(PhoneP, t, "<PHONE>")
    t = jMask(CcP, t, "<CREDIT_CARD>")
    jMask(IbanP, t, "<IBAN>")
  }

  private def jChainExt(s: String): String = {
    var t = jMask(EmailP, s, "<EMAIL>")
    t = jMask(IpP, t, "<IP>")
    t = jMask(SsnP, t, "<SSN>")
    t = jMask(PhoneP, t, "<PHONE>")
    t = jMask(CcP, t, "<CREDIT_CARD>")
    jMask(IbanP, t, "<IBAN>")
  }

  private def kCounts(s: String): Seq[Int] = {
    val arr = PiiScan.counts(UTF8String.fromString(s))
    (0 until 6).map(arr.getInt)
  }

  private def checkAll(s: String): Unit = {
    val k = kCounts(s)
    assert(k(0) === jCount(EmailP, s), s"email count on <$s>")
    assert(k(1) === jCount(PhoneP, s), s"phone count on <$s>")
    assert(k(2) === jCount(CcP, s), s"cc count on <$s>")
    assert(k(3) === jCount(IbanP, s), s"iban count on <$s>")
    assert(k(4) === jCount(IpP, s), s"ip count on <$s>")
    assert(k(5) === jCount(SsnP, s), s"ssn count on <$s>")
    assert(PiiScan.phoneSimpleCount(UTF8String.fromString(s)) ===
      jCount(PhoneSimpleP, s), s"phone-simple count on <$s>")
    // span pins: per-pattern single replacement + both composed chains
    assert(PiiScan.maskChain(UTF8String.fromString(s)).toString ===
      jChain(s), s"mask chain on <$s>")
    assert(PiiScan.maskChainExt(UTF8String.fromString(s)).toString ===
      jChainExt(s), s"extended mask chain on <$s>")
    // the fused counts+mask kernel must equal the two-kernel staging
    // bit for bit — including after its shared-scan path diverges
    val fused = PiiScan.countsAndMask(UTF8String.fromString(s))
    val fusedCounts = fused.getArray(0)
    (0 until 6).foreach { i =>
      assert(fusedCounts.getInt(i) === k(i), s"fused count $i on <$s>")
    }
    assert(fused.getUTF8String(1).toString === jChain(s),
      s"fused mask on <$s>")
  }

  test("fixtures: documented interactions and boundary traps") {
    Seq(
      "",
      "call 555-123-4567 now",
      "+1 (212) 555-0199",
      "+12 123 4567",
      "192.168.0.1",                       // PhoneRe eats 192.168 -> <PHONE>.0.1
      "10.0.0.255 and 1.2.3.4.5",
      "4111 1111 1111 1111",
      "4111-1111-1111-1111 visa",
      "12345678901234567",                 // 17 digits: no cc match
      "1234567890123456",                  // 16 digits: cc
      "1234567890123",                     // 13 digits: cc
      "123456789012",                      // 12 digits: none
      "GB29NWBK60161331926819",            // IBAN
      "GB29NWBK60161331926819x",           // lowercase tail kills \b
      "DE89370400440532013000 end",
      "XX12ABCDEFGHIJ",                    // exactly 10 tail chars
      "XX12ABCDEFGHI",                     // 9 tail chars: no match
      "123-45-6789",                       // ssn
      "123-45-67890",                      // trailing digit kills \b
      "a123-45-6789",                      // leading word char kills \b
      "mail me at a.b+c@x-y.co or not",
      "+123",                              // plus at string start: \b fails before '+'
      "x+1 555 1234567",                   // word char before '+': boundary holds
      "(555) 123-4567 and (12)34-5678",
      "555.123.4567",
      "55 1234 5678",
      "_1234567890123_",                   // underscores are word chars
      "phone:12345678",
      "t 123 456 789 012 3456",
      "1 2 3 4 5 6 7 8 9 0 1 2 3",         // single digits, spaced: cc lazy seps
      "1-2-3-4-5-6-7-8-9-0-1-2-3-4-5-6-7", // 17 spaced digits
      "+49(30)1234-5678",
      "a 12345678901234 b",
      "\t555-1234\n555-5678 ",
      "1234567 890123",
      "192.168.0.1:8080",
      "..12..34..",
      "+(123) 456 7890",
      "AB12" + "C" * 30,                   // 30 tail chars: max greedy
      "AB12" + "C" * 31,                   // 31: run too long, no match
      "AB12" + "C" * 30 + " ok",
      "9" * 100,                           // long digit run: no \b inside
      "1" * 15,                            // 15 digits: cc
      "1" * 15 + " 1",                     // 15 digits then spaced 16th
      // java \b is Unicode-aware (codepoints!) even though \w is ASCII:
      // é/Cyrillic/CJK/astral letters are word chars at a boundary
      "call 555-123-4567é now",       // masks only 555-123
      "число 555-123-4567",
      "é123-45-6789",                 // é kills the leading \b
      "123-45-6789é",
      "𝒳123456789012345",       // astral letter before digits
      "1234567890123456𝒳",      // astral letter after 16 digits
      "GB29NWBK60161331926819é",      // é kills the IBAN tail \b
      "的192.168.0.1的"
    ).foreach(checkAll)
  }

  test("seeded fuzz: 3000 digit/separator-rich strings, kernel == java.util.regex") {
    val pieces = Vector(
      "0", "1", "9", "12", "123", "1234", "12345", "555", "5551234",
      "+", "(", ")", "-", ".", "..", " ", "  ", "\t", "\n", "",
      "\f", "\r", "a", "z", "Z", "_", "x", "@", "com", "AB", "GB29",
      "NWBK6016", "ABCDEFGHIJ", "XY", "99", "4111", "111111111111",
      "123-45-6789", "192.168", "0.1", "e@f.gr", "%", "<PHONE>",
      "é", "ч", "的", "𝒳")
    val rnd = new scala.util.Random(0x5EED5CA7L)
    (0 until 3000).foreach { _ =>
      val len = rnd.nextInt(16)
      val s = (0 until len).map(_ => pieces(rnd.nextInt(pieces.size))).mkString
      checkAll(s)
    }
  }

  test("Spark columns: kernel forms == regex forms end to end") {
    val rows = Seq(
      "call 555-123-4567 or +1 (212) 555-0199",
      "ip 192.168.0.1 ssn 123-45-6789 card 4111 1111 1111 1111",
      "GB29NWBK60161331926819 mail a@b.co", "", "no pii here",
      "+9912345678901 and 12 3456 7890") ++ {
      val pieces = Vector("123", "4567", "-", ".", " ", "(", ")", "+",
        "GB29", "ABCDEFGHIJ", "a", "@b.co", "123-45-6789", "192.168.0.1")
      val rnd = new scala.util.Random(0xBEEFL)
      (0 until 300).map { _ =>
        (0 until rnd.nextInt(12)).map(_ => pieces(rnd.nextInt(pieces.size))).mkString
      }
    }
    val df = rows.toDF("t")
    val got = df.select(col("t"),
        Pii.maskPii(col("t")).as("mk"), maskPiiRegex(col("t")).as("mr"),
        Pii.maskPiiExtended(col("t")).as("ek"),
        maskPiiExtendedRegex(col("t")).as("er"),
        Pii.piiPhoneHits(col("t")).as("pk"), piiPhoneHitsRegex(col("t")).as("pr"),
        Pii.piiCcHits(col("t")).as("ck"), piiCcHitsRegex(col("t")).as("cr"),
        Pii.piiIbanHits(col("t")).as("ik"), piiIbanHitsRegex(col("t")).as("ir"),
        Pii.piiIpHits(col("t")).as("nk"), piiIpHitsRegex(col("t")).as("nr"),
        Pii.piiSsnHits(col("t")).as("sk"), piiSsnHitsRegex(col("t")).as("sr"),
        Pii.phoneHitsSimple(col("t")).as("qk"), phoneHitsSimpleRegex(col("t")).as("qr"))
      .collect()
    got.foreach { r =>
      val t = r.getString(0)
      assert(r.getString(1) === r.getString(2), s"maskPii on <$t>")
      assert(r.getString(3) === r.getString(4), s"maskPiiExtended on <$t>")
      Seq(5, 7, 9, 11, 13, 15).foreach { i =>
        assert(r.getInt(i) === r.getInt(i + 1), s"count col $i on <$t>")
      }
    }
  }

  test("null and SQL registration") {
    val df = Seq[Option[String]](None, Some("555-123-4567")).toDF("t")
    val out = df.select(Pii.maskPii(col("t")).as("m"),
      Pii.piiPhoneHits(col("t")).as("h")).collect()
    assert(out(0).isNullAt(0) && out(0).getInt(1) === 0)
    assert(out(1).getString(0) === "<PHONE>")
    assert(out(1).getInt(1) === 1)
    graft.plans.GraftFunctions.register(spark)
    val sql = spark.sql(
      "SELECT pii_mask('call 555-123-4567'), pii_counts('192.168.0.1')[4]," +
        " phone_simple_hits('+123456789'), pii_mask_ext('192.168.0.1')").collect()(0)
    assert(sql.getString(0) === "call <PHONE>")
    assert(sql.getInt(1) === 1)
    assert(sql.getInt(2) === 1)
    assert(sql.getString(3) === "<IP>")
  }
}

/** The regexp_count/regexp_replace columns the PiiScan kernels replaced:
  * each pattern evaluated verbatim by java.util.regex, the parity anchor
  * for the Spark-level kernel columns.
  */
object PiiScanSpec {
  import org.apache.spark.sql.Column

  private def hits(c: Column, pattern: String): Column =
    coalesce(regexp_count(c, lit(pattern)), lit(0))

  def phoneHitsSimpleRegex(c: Column): Column = hits(c, Pii.PhoneSimpleRe)
  def piiPhoneHitsRegex(c: Column): Column = hits(c, Pii.PhoneRe)
  def piiCcHitsRegex(c: Column): Column    = hits(c, Pii.CreditCardRe)
  def piiIbanHitsRegex(c: Column): Column  = hits(c, Pii.IbanRe)
  def piiIpHitsRegex(c: Column): Column    = hits(c, Pii.IpRe)
  def piiSsnHitsRegex(c: Column): Column   = hits(c, Pii.SsnRe)

  /** [[Pii.maskPii]]'s chain: email, phone, cc, iban. */
  def maskPiiRegex(c: Column): Column = {
    val e = regexp_replace(c, Pii.EmailRe, "<EMAIL>")
    val p = regexp_replace(e, Pii.PhoneRe, "<PHONE>")
    val cc = regexp_replace(p, Pii.CreditCardRe, "<CREDIT_CARD>")
    regexp_replace(cc, Pii.IbanRe, "<IBAN>")
  }

  /** [[Pii.maskPiiExtended]]'s chain: email, ip, ssn, phone, cc, iban. */
  def maskPiiExtendedRegex(c: Column): Column = {
    val e = regexp_replace(c, Pii.EmailRe, "<EMAIL>")
    val ip = regexp_replace(e, Pii.IpRe, "<IP>")
    val ssn = regexp_replace(ip, Pii.SsnRe, "<SSN>")
    val p = regexp_replace(ssn, Pii.PhoneRe, "<PHONE>")
    val cc = regexp_replace(p, Pii.CreditCardRe, "<CREDIT_CARD>")
    regexp_replace(cc, Pii.IbanRe, "<IBAN>")
  }
}
