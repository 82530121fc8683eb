package pipebench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.{DigestOutputStream, MessageDigest}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded raw-crawl generators: `{url, text}` JSONL, one document per
  * line, the pipeline's input contract. The same seed and shape give the
  * same bytes (the SHA-256 of the file is returned and printed), and a
  * truth record lists what was planted: exact copies, near copies,
  * non-English documents, documents carrying PII and HTML-wrapped ones.
  *
  * Planted copies always duplicate an earlier "clean" original (English,
  * no PII, no HTML, a length that passes every filter), so the expected
  * pipeline outcome is known: the original survives and the copy is
  * dropped (keep-first).
  */
object Corpus {

  final case class Shape(
      name: String, docs: Int,
      meanChars: Double, sigma: Double, // lognormal length of fresh docs
      exactFrac: Double, nearFrac: Double, nonEnglishFrac: Double,
      piiFrac: Double, htmlFrac: Double,
      longFrac: Double) // fresh docs drawn 700-1100 chars (near-copy sources)

  /** Reference-shaped English web crawl: ~1.2 KB lognormal docs, ~20%
    * exact and ~1% near copies, ~5% non-English, ~5% PII, ~10% HTML.
    */
  def web(docs: Int): Shape = Shape("web", docs, 1200, 0.8,
    exactFrac = 0.20, nearFrac = 0.01, nonEnglishFrac = 0.05,
    piiFrac = 0.05, htmlFrac = 0.10, longFrac = 0.0)

  /** Short (~30 word) docs, ~50% exact and ~5% near copies. Near copies
    * need a 500-char shared prefix, so their sources are the few long
    * docs (`longFrac`).
    */
  def dupes(docs: Int): Shape = Shape("dupes", docs, 190, 0.25,
    exactFrac = 0.50, nearFrac = 0.05, nonEnglishFrac = 0.02,
    piiFrac = 0.02, htmlFrac = 0.0, longFrac = 0.08)

  final case class Truth(exact: Vector[(String, String)], // (copy url, original url)
                         near: Vector[(String, String)],
                         nonEnglish: Vector[String], pii: Vector[String],
                         html: Vector[String])

  final case class Generated(path: String, docs: Int, bytes: Long,
                             sha256: String, truth: Truth)

  // ---- vocabulary -------------------------------------------------------

  // English function words; most are common enough that any English text
  // is dominated by them
  private val EnFunction = Array("the", "and", "of", "to", "in", "is",
    "that", "it", "for", "was", "with", "as", "on", "be", "at", "by", "this",
    "have", "from", "or", "are", "not", "but", "a", "we", "they", "you",
    "can", "will", "which", "has", "were")

  /** The commonest function words (the first 24 above): an original
    * must be clearly English, so at least 30% of its words are these.
    */
  private val EnCore: Set[String] = EnFunction.take(24).toSet

  private def clearlyEnglish(text: String): Boolean = {
    val ws = text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
    ws.count(EnCore) >= 0.3 * ws.length
  }

  private val EnContentBase = Array("time", "year", "people", "way", "day",
    "world", "life", "hand", "part", "child", "place", "work", "week",
    "case", "point", "company", "number", "group", "problem", "fact",
    "water", "money", "story", "month", "book", "study", "home", "system",
    "program", "question", "government", "business", "school", "family",
    "city", "country", "market", "river", "garden", "music", "picture",
    "history", "science", "energy", "report", "season", "village", "table",
    "window", "letter", "paper", "road", "field", "island", "forest",
    "mountain", "ocean", "bridge", "engine", "library", "museum", "theory",
    "method", "result", "change", "power", "policy", "service", "design",
    "network", "data", "model", "signal", "sample", "measure", "record",
    "travel", "kitchen", "recipe", "flower", "weather", "harbor", "train",
    "station", "language", "culture", "teacher", "student", "doctor",
    "patient", "farmer", "artist", "player", "team", "match", "coach",
    "window", "camera", "phone", "computer", "software", "device", "battery",
    "question", "answer", "journey", "summer", "winter", "morning",
    "evening", "festival", "market", "product", "customer", "price",
    "value", "quality", "material", "surface", "structure", "process",
    "article", "editor", "chapter", "author", "reader", "novel", "poem",
    "painting", "building", "street", "corner", "office", "meeting",
    "project", "budget", "planet", "star", "moon", "light", "color",
    "sound", "voice", "memory", "idea", "reason", "choice", "effort",
    "make", "take", "give", "find", "tell", "show", "move", "build", "grow",
    "learn", "open", "write", "read", "walk", "carry", "cover", "follow",
    "explain", "describe", "improve", "create", "collect", "compare",
    "consider", "develop", "discover", "measure", "produce", "protect",
    "support", "visit", "watch", "wonder", "prepare", "publish", "repair",
    "new", "good", "great", "small", "large", "early", "young", "important",
    "public", "local", "social", "national", "simple", "modern", "careful",
    "bright", "quiet", "warm", "cold", "green", "ancient", "rapid",
    "steady", "useful", "famous", "general", "special", "natural",
    "careful", "clear", "recent", "central", "friendly", "common",
    "often", "usually", "quickly", "slowly", "together", "however",
    "finally", "nearly", "already", "perhaps", "certainly", "rather")

  private val Suffixes = Array("", "s", "ed", "ing", "er", "ly", "al", "ness")

  /** Inflected content vocabulary, Zipf-ranked by a seed-independent
    * shuffle so frequent and rare forms mix across the base list.
    */
  private val EnContent: Array[String] = {
    val forms = for (b <- EnContentBase.distinct; s <- Suffixes) yield b + s
    val r = new SplittableRandom(7L)
    val a = forms.toArray
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  private val ZipfCdf: Array[Double] = {
    val w = Array.tabulate(EnContent.length)(r => 1.0 / math.pow(r + 1, 1.05))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }

  private val ForeignFunction: Array[Array[String]] = Array(
    Array("der", "die", "das", "und", "ist", "von", "zu", "den", "dem", "ein",
      "eine", "nicht", "mit", "sich", "auf", "als", "auch", "werden", "aus"),
    Array("el", "los", "las", "del", "una", "es", "que", "por", "con", "para",
      "su", "al", "lo", "como", "pero", "este", "esta", "cuando", "muy"),
    Array("le", "les", "des", "du", "et", "une", "est", "qui", "dans", "pour",
      "pas", "sur", "avec", "au", "ce", "il", "elle", "nous", "vous"))

  private val Syllables = Array("ber", "tra", "mon", "sel", "vid", "kor",
    "lan", "dri", "pul", "sta", "gen", "ric", "fal", "mer", "tos", "nur",
    "bra", "lei", "cho", "dav", "zum", "qui", "pre", "ven")

  private val Sections = Array("news", "blog", "article", "post", "docs",
    "story", "guide", "review")

  private val FirstNames = Array("anna", "ben", "carla", "david", "elena",
    "frank", "grace", "henry", "irene", "james")

  // ---- text builders ----------------------------------------------------

  private def zipfWord(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var lo = 0; var hi = ZipfCdf.length - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (ZipfCdf(m) < u) lo = m + 1 else hi = m }
    EnContent(lo)
  }

  private def englishSentence(r: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
    val n = 6 + r.nextInt(17)
    var i = 0
    while (i < n) {
      val w = if (r.nextDouble() < 0.5) EnFunction(r.nextInt(EnFunction.length))
              else zipfWord(r)
      if (i == 0) { sb.append(Character.toUpperCase(w.charAt(0))).append(w, 1, w.length) }
      else { sb.append(' ').append(w) }
      if (i > 0 && i < n - 1 && r.nextDouble() < 0.06) sb.append(',')
      i += 1
    }
    sb.append('.')
  }

  /** English prose of about `chars` characters in paragraphs. */
  private def englishText(r: SplittableRandom, chars: Int): String = {
    val sb = new java.lang.StringBuilder(chars + 160)
    var inPara = 0
    while (sb.length < chars) {
      if (sb.length > 0) sb.append(if (inPara >= 4 + r.nextInt(3)) { inPara = 0; "\n\n" } else " ")
      englishSentence(r, sb)
      inPara += 1
    }
    sb.toString
  }

  private def foreignText(r: SplittableRandom, chars: Int): String = {
    val fn = ForeignFunction(r.nextInt(ForeignFunction.length))
    val sb = new java.lang.StringBuilder(chars + 160)
    while (sb.length < chars) {
      val n = 6 + r.nextInt(14)
      var i = 0
      while (i < n) {
        val w =
          if (r.nextDouble() < 0.5) fn(r.nextInt(fn.length))
          else { val k = 1 + r.nextInt(3); (0 until k).map(_ => Syllables(r.nextInt(Syllables.length))).mkString }
        if (sb.length > 0) sb.append(' ')
        sb.append(if (i == 0) w.capitalize else w)
        i += 1
      }
      sb.append('.')
    }
    sb.toString
  }

  private def piiSentence(r: SplittableRandom): String = {
    val name = FirstNames(r.nextInt(FirstNames.length))
    val phone = f"${200 + r.nextInt(700)}%d-${100 + r.nextInt(900)}%d-${r.nextInt(10000)}%04d"
    s"You can reach $name.${Syllables(r.nextInt(Syllables.length))}@mail${r.nextInt(90)}.com or call $phone for details."
  }

  private def htmlWrap(text: String): String = {
    val paras = text.split("\n\n")
    val title = paras(0).split(' ').take(5).mkString(" ")
    paras.map(p => s"<p>$p</p>").mkString(
      s"<html><head><title>$title</title></head><body><div>", "\n", "</div></body></html>")
  }

  private def lognormalChars(r: SplittableRandom, shape: Shape): Int = {
    // Box-Muller from two uniforms: the stream is fixed by the seed alone
    val z = math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    val mu = math.log(shape.meanChars) - shape.sigma * shape.sigma / 2
    math.max(8, math.exp(mu + shape.sigma * z).toInt)
  }

  private def escape(s: String, out: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => out.append("\\\"")
        case '\\' => out.append("\\\\")
        case '\n' => out.append("\\n")
        case c => out.append(c)
      }
      i += 1
    }
  }

  // ---- generation -------------------------------------------------------

  /** Write `shape` for `seed` to `path`; returns the digest and truth. */
  def write(shape: Shape, seed: Long, path: String): Generated = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + shape.name.hashCode)
    val md = MessageDigest.getInstance("SHA-256")
    val out = new DigestOutputStream(
      new BufferedOutputStream(new FileOutputStream(path), 1 << 20), md)
    val originals = ArrayBuffer.empty[(String, String)] // (url, text) clean sources
    val longOriginals = ArrayBuffer.empty[(String, String)]
    val exact = Vector.newBuilder[(String, String)]
    val near = Vector.newBuilder[(String, String)]
    val nonEn = Vector.newBuilder[String]
    val pii = Vector.newBuilder[String]
    val html = Vector.newBuilder[String]
    val line = new java.lang.StringBuilder(4096)
    var bytes = 0L
    try {
      var i = 0
      while (i < shape.docs) {
        val url = s"https://www.site${r.nextInt(2000)}.org/${Sections(r.nextInt(Sections.length))}/$i"
        val u = r.nextDouble()
        val text =
          if (u < shape.exactFrac && originals.nonEmpty) {
            val (ou, ot) = originals(r.nextInt(originals.size))
            exact += ((url, ou)); ot
          } else if (u < shape.exactFrac + shape.nearFrac && longOriginals.nonEmpty) {
            val (ou, ot) = longOriginals(r.nextInt(longOriginals.size))
            val tail = new java.lang.StringBuilder(" ")
            englishSentence(r, tail)
            near += ((url, ou)); ot + tail
          } else if (u < shape.exactFrac + shape.nearFrac + shape.nonEnglishFrac) {
            nonEn += url
            foreignText(r, lognormalChars(r, shape).max(120))
          } else {
            val long = r.nextDouble() < shape.longFrac
            val chars = if (long) 700 + r.nextInt(400) else lognormalChars(r, shape)
            val body = englishText(r, chars)
            val v = r.nextDouble()
            if (v < shape.piiFrac) { pii += url; body + " " + piiSentence(r) }
            else if (v < shape.piiFrac + shape.htmlFrac) { html += url; htmlWrap(body) }
            else {
              if (body.length >= 200 && body.length <= 6000 && clearlyEnglish(body)) {
                originals += ((url, body))
                if (body.length >= 700) longOriginals += ((url, body))
              }
              body
            }
          }
        line.setLength(0)
        line.append("{\"url\":\"").append(url).append("\",\"text\":\"")
        escape(text, line)
        line.append("\"}\n")
        val b = line.toString.getBytes(UTF_8)
        out.write(b)
        bytes += b.length
        i += 1
      }
    } finally out.close()
    Generated(path, shape.docs, bytes, md.digest().map("%02x".format(_)).mkString,
      Truth(exact.result(), near.result(), nonEn.result(), pii.result(), html.result()))
  }

  /** Truth record as JSON, written beside the corpus. */
  def truthJson(g: Generated): String = Json.render(Map(
    "docs" -> g.docs, "bytes" -> g.bytes, "sha256" -> g.sha256,
    "exact_copies" -> g.truth.exact.map { case (c, o) => Map("copy" -> c, "original" -> o) },
    "near_copies" -> g.truth.near.map { case (c, o) => Map("copy" -> c, "original" -> o) },
    "non_english" -> g.truth.nonEnglish, "pii" -> g.truth.pii, "html" -> g.truth.html))

  /** Standalone generator: `Corpus <web|dupes> <docs> <seed> <out.jsonl>`
    * writes the corpus and `<out>.truth.json` and prints the digest.
    */
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: Corpus <web|dupes> <docs> <seed> <out.jsonl>")
    val shape = args(0) match {
      case "web" => web(args(1).toInt)
      case "dupes" => dupes(args(1).toInt)
      case other => throw new IllegalArgumentException(s"unknown corpus $other")
    }
    val g = write(shape, args(2).toLong, args(3))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(3) + ".truth.json"), truthJson(g))
    println(s"${shape.name} docs=${g.docs} bytes=${g.bytes} sha256=${g.sha256}")
  }
}
