package graft.text

/** A real, trained language-ID model for the [[LangId.LangModel]] slot
  * (the socket the reference's langdetect call occupies —
  * text_clean_and_filter.py:385-408).
  *
  * Method: Cavnar & Trenkle 1994 ("N-Gram-Based Text Categorization",
  * the published algorithm langdetect-style tools descend from) —
  * rank-ordered character n-gram profiles (n = 1..3) per language, out-of-place
  * distance between the document's profile and each language profile,
  * smallest distance wins. Everything is deterministic: the training
  * text is a fixed in-source corpus (original sentences written for
  * this repo, one paragraph per language), profile construction breaks
  * count ties lexicographically, and prediction ties resolve to the
  * first language in declared order.
  *
  * Ten languages across four scripts: en de fr es it pt nl ru zh ja.
  * The Latin-script six are the hard case (shared alphabet — only
  * trigram statistics separate them); ru/zh/ja additionally prove the
  * model handles non-Latin codepoints the expression scorer's
  * stopword lists never could.
  *
  * Scale shape: the model object is built ONCE PER EXECUTOR via the
  * transient-lazy factory idiom of [[LangId.withLangColumnsModel]] —
  * ~10 profiles × 400 n-grams of state, then O(len) per document with
  * a bounded profile sort. No shuffle, no broadcast needed: the factory
  * closure serializes in bytes.
  */
object TrigramLangModel {

  /** Profile length K (n-grams kept per language). */
  val ProfileSize = 400

  /** Document profile cap: documents are scored on their top n-grams
    * too, so cost per doc is bounded regardless of length.
    */
  val DocProfileSize = 400

  /** Declared language order — prediction ties resolve to the earliest. */
  val Languages: Vector[String] =
    Vector("en", "de", "fr", "es", "it", "pt", "nl", "ru", "zh", "ja")

  // -------------------------------------------------------------------
  // Training corpus: original text written for this repository (generic
  // subject matter — weather, cities, food, travel), one paragraph per
  // language. Not quoted from any external source; serves only to give
  // each language its characteristic trigram distribution.
  // -------------------------------------------------------------------
  private[graft] val Samples: Map[String, String] = Map(
    "en" -> ("The weather in the city changes quickly during the autumn " +
      "months, and many people carry an umbrella when they walk to work " +
      "in the morning. The old library near the river is one of the most " +
      "beautiful buildings in the town, and students often spend the " +
      "whole afternoon reading there. When the trains are late, the " +
      "station fills with travelers who wait patiently for the next " +
      "departure. She said that the bread from the small bakery on the " +
      "corner tastes better than anything from the supermarket. We have " +
      "been planning this journey for three years, and nothing will stop " +
      "us from seeing the mountains in the north."),
    "de" -> ("Das Wetter in der Stadt ändert sich im Herbst sehr schnell, " +
      "und viele Menschen nehmen einen Regenschirm mit, wenn sie morgens " +
      "zur Arbeit gehen. Die alte Bibliothek am Fluss ist eines der " +
      "schönsten Gebäude der Stadt, und die Studenten verbringen dort " +
      "oft den ganzen Nachmittag mit Lesen. Wenn die Züge Verspätung " +
      "haben, füllt sich der Bahnhof mit Reisenden, die geduldig auf die " +
      "nächste Abfahrt warten. Sie sagte, dass das Brot aus der kleinen " +
      "Bäckerei an der Ecke besser schmeckt als alles aus dem " +
      "Supermarkt. Wir planen diese Reise seit drei Jahren, und nichts " +
      "wird uns davon abhalten, die Berge im Norden zu sehen."),
    "fr" -> ("Le temps dans la ville change rapidement pendant les mois " +
      "d'automne, et beaucoup de gens prennent un parapluie quand ils " +
      "vont au travail le matin. La vieille bibliothèque près de la " +
      "rivière est un des plus beaux bâtiments de la ville, et les " +
      "étudiants y passent souvent tout l'après-midi à lire. Quand les " +
      "trains sont en retard, la gare se remplit de voyageurs qui " +
      "attendent patiemment le prochain départ. Elle a dit que le pain " +
      "de la petite boulangerie du coin est meilleur que tout ce qui " +
      "vient du supermarché. Nous préparons ce voyage depuis trois ans, " +
      "et rien ne nous empêchera de voir les montagnes du nord."),
    "es" -> ("El tiempo en la ciudad cambia rápidamente durante los meses " +
      "de otoño, y mucha gente lleva un paraguas cuando camina al " +
      "trabajo por la mañana. La vieja biblioteca junto al río es uno de " +
      "los edificios más hermosos de la ciudad, y los estudiantes suelen " +
      "pasar allí toda la tarde leyendo. Cuando los trenes llegan tarde, " +
      "la estación se llena de viajeros que esperan pacientemente la " +
      "próxima salida. Ella dijo que el pan de la pequeña panadería de " +
      "la esquina sabe mejor que cualquier cosa del supermercado. " +
      "Llevamos tres años planeando este viaje, y nada nos impedirá ver " +
      "las montañas del norte."),
    "it" -> ("Il tempo in città cambia rapidamente durante i mesi " +
      "autunnali, e molte persone portano un ombrello quando vanno al " +
      "lavoro la mattina. La vecchia biblioteca vicino al fiume è uno " +
      "degli edifici più belli della città, e gli studenti passano " +
      "spesso tutto il pomeriggio a leggere lì. Quando i treni sono in " +
      "ritardo, la stazione si riempie di viaggiatori che aspettano " +
      "pazientemente la prossima partenza. Ha detto che il pane del " +
      "piccolo forno all'angolo è più buono di qualsiasi cosa del " +
      "supermercato. Stiamo progettando questo viaggio da tre anni, e " +
      "niente ci impedirà di vedere le montagne del nord."),
    "pt" -> ("O tempo na cidade muda rapidamente durante os meses de " +
      "outono, e muitas pessoas levam um guarda-chuva quando caminham " +
      "para o trabalho de manhã. A velha biblioteca perto do rio é um " +
      "dos edifícios mais bonitos da cidade, e os estudantes costumam " +
      "passar a tarde inteira lendo lá. Quando os trens se atrasam, a " +
      "estação fica cheia de viajantes que esperam pacientemente a " +
      "próxima partida. Ela disse que o pão da pequena padaria da " +
      "esquina é melhor do que qualquer coisa do supermercado. Estamos " +
      "planejando esta viagem há três anos, e nada vai nos impedir de " +
      "ver as montanhas do norte."),
    "nl" -> ("Het weer in de stad verandert snel tijdens de herfstmaanden, " +
      "en veel mensen nemen een paraplu mee als ze 's ochtends naar hun " +
      "werk lopen. De oude bibliotheek bij de rivier is een van de " +
      "mooiste gebouwen van de stad, en studenten brengen er vaak de " +
      "hele middag door met lezen. Als de treinen vertraging hebben, " +
      "vult het station zich met reizigers die geduldig wachten op het " +
      "volgende vertrek. Ze zei dat het brood van de kleine bakkerij op " +
      "de hoek beter smaakt dan alles uit de supermarkt. We plannen deze " +
      "reis al drie jaar, en niets zal ons ervan weerhouden de bergen in " +
      "het noorden te zien."),
    "ru" -> ("Погода в городе быстро меняется в осенние месяцы, и многие " +
      "люди берут с собой зонт, когда утром идут на работу. Старая " +
      "библиотека у реки — одно из самых красивых зданий города, и " +
      "студенты часто проводят там целый день за чтением. Когда поезда " +
      "опаздывают, вокзал наполняется путешественниками, которые " +
      "терпеливо ждут следующего отправления. Она сказала, что хлеб из " +
      "маленькой пекарни на углу вкуснее всего, что продают в " +
      "супермаркете. Мы планируем это путешествие уже три года, и ничто " +
      "не помешает нам увидеть горы на севере."),
    "zh" -> ("秋天的时候，城市里的天气变化得很快，很多人早上去上班的时候都会带一把伞。" +
      "河边的老图书馆是城里最漂亮的建筑之一，学生们经常在那里读书，一待就是一个下午。" +
      "火车晚点的时候，车站里挤满了耐心等待下一班车的旅客。" +
      "她说街角那家小面包店的面包比超市里卖的任何东西都好吃。" +
      "我们计划这次旅行已经三年了，没有什么能阻止我们去北方看山。"),
    "ja" -> ("秋になると、町の天気はすぐに変わります。朝、仕事へ歩いて行くとき、" +
      "多くの人が傘を持っていきます。川のそばにある古い図書館は、町でいちばん美しい建物のひとつで、" +
      "学生たちはよく午後のあいだずっとそこで本を読んでいます。電車が遅れると、" +
      "駅は次の出発を静かに待つ旅行者でいっぱいになります。角の小さなパン屋のパンは、" +
      "スーパーのどんなものよりもおいしいと彼女は言いました。この旅行を三年も前から計画していて、" +
      "北の山を見に行くことを何もさまたげられません。"))

  // -------------------------------------------------------------------
  // Profile construction
  // -------------------------------------------------------------------

  /** Normalize for trigram extraction: letters lowercased, every other
    * char mapped to '_', runs of '_' collapsed, the whole string padded
    * with '_' so word boundaries contribute boundary trigrams (the
    * padding Cavnar & Trenkle's tokenizer achieves with blanks).
    */
  private[graft] def normalize(text: String): String = {
    val sb = new java.lang.StringBuilder(text.length + 2)
    sb.append('_')
    var lastSep = true
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      if (Character.isLetter(cp)) {
        sb.appendCodePoint(Character.toLowerCase(cp))
        lastSep = false
      } else if (!lastSep) {
        sb.append('_'); lastSep = true
      }
      i += Character.charCount(cp)
    }
    if (!lastSep) sb.append('_')
    sb.toString
  }

  // -------------------------------------------------------------------
  // Hot-path gram representation: a 1..3-gram packs its UTF-16 units
  // into one long (bits 48/32/16, zero-padded). UNSIGNED long order is
  // exactly the string's UTF-16 lexicographic order — zero pads sort
  // before every real unit ('_' and letters are never U+0000), and a
  // prefix therefore sorts first, matching String#compareTo — so the
  // (-count, gram) profile tie-break is preserved bit-for-bit while
  // gram counting drops all substring allocation and string hashing
  // (the String form stays in test scope as the executable spec; a
  // parity test holds the two equal on multilingual + surrogate
  // inputs). Surrogate halves are packed like any other unit, which is
  // precisely String order too.
  // -------------------------------------------------------------------

  /** Minimal open-addressed long->int counter (linear probe, power-of-2
    * capacity). Key 0 is a safe empty sentinel: a gram's first unit is
    * never U+0000. No boxing, no per-entry allocation — this map and
    * the packed grams are the whole point of the fast path.
    */
  private[graft] final class GramCounts(initialCap: Int) {
    private var mask = math.max(16, Integer.highestOneBit(initialCap * 2)) - 1
    private var keys = new Array[Long](mask + 1)
    private var vals = new Array[Int](mask + 1)
    private var n = 0
    def size: Int = n
    // splitmix64 finalizer — packed grams keep their entropy in the TOP
    // 48 bits (the low 16 are always zero, and java.lang.Long.hashCode's
    // xor-fold would leave every 1-gram in slot 0 and cluster 3-grams by
    // their middle unit: measured as a 2.3x end-to-end REGRESSION before
    // this mixer, probe chains being the entire loss)
    @inline private def mix(k: Long): Int = {
      var z = k
      z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
      z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
      (z ^ (z >>> 33)).toInt
    }
    def add(k: Long): Unit = {
      // 0L is the empty-slot sentinel; normalize() never emits U+0000 so
      // a zero key here is caller error — fail loudly rather than let it
      // inflate n (phantom grows) while get(0L) still reports absent.
      require(k != 0L, "GramCounts: key 0 is reserved as the empty-slot sentinel")
      var i = (mix(k) & mask)
      while (keys(i) != 0L && keys(i) != k) i = (i + 1) & mask
      if (keys(i) == 0L) {
        if ((n + 1) * 4 > (mask + 1) * 3) { grow(); add(k); return }
        keys(i) = k; n += 1
      }
      vals(i) += 1
    }
    def get(k: Long): Int = {
      var i = (mix(k) & mask)
      while (keys(i) != 0L) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & mask
      }
      -1
    }
    def put(k: Long, v: Int): Unit = {
      require(k != 0L, "GramCounts: key 0 is reserved as the empty-slot sentinel")
      var i = (mix(k) & mask)
      while (keys(i) != 0L && keys(i) != k) i = (i + 1) & mask
      if (keys(i) == 0L) {
        if ((n + 1) * 4 > (mask + 1) * 3) { grow(); put(k, v); return }
        keys(i) = k; n += 1
      }
      vals(i) = v
    }
    def foreachEntry(f: (Long, Int) => Unit): Unit = {
      var i = 0
      while (i < keys.length) { if (keys(i) != 0L) f(keys(i), vals(i)); i += 1 }
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      mask = mask * 2 + 1
      keys = new Array[Long](mask + 1)
      vals = new Array[Int](mask + 1)
      n = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != 0L) put(ok(i), ov(i))
        i += 1
      }
    }
  }

  private val PadGram1 = '_'.toLong << 48
  private val PadGram2 = PadGram1 | ('_'.toLong << 32)
  private val PadGram3 = PadGram2 | ('_'.toLong << 16)

  /** Rank-ordered n-gram profile, n ∈ {1, 2, 3}, as packed grams —
    * Cavnar & Trenkle's actual design uses a range of n-gram lengths,
    * and the short grams are what carry CJK: two Chinese sentences on
    * different topics share almost no exact character TRIgram, but
    * share function characters (的/了/は/の) as unigrams. Top-`k` by
    * count, count ties broken lexicographically (determinism across
    * JVMs); grams that are all padding ('_') are excluded. Content and
    * order equal the String-gram form LangIdModelSpec keeps as its
    * reference, at ~an order of magnitude less cost.
    */
  private[graft] def profileL(text: String, k: Int): Array[Long] = {
    val s = normalize(text)
    val counts = new GramCounts(math.min(4096, s.length * 2 + 16))
    var i = 0
    while (i < s.length) {
      val g1 = s.charAt(i).toLong << 48
      if (g1 != PadGram1) counts.add(g1)
      if (i + 1 < s.length) {
        val g2 = g1 | (s.charAt(i + 1).toLong << 32)
        if (g2 != PadGram2) counts.add(g2)
        if (i + 2 < s.length) {
          val g3 = g2 | (s.charAt(i + 2).toLong << 16)
          if (g3 != PadGram3) counts.add(g3)
        }
      }
      i += 1
    }
    val m = counts.size
    val ks = new Array[Long](m)
    val vs = new Array[Int](m)
    var j = 0
    counts.foreachEntry { (key, v) => ks(j) = key; vs(j) = v; j += 1 }
    // top-k by (-count, unsigned gram) via a primitive two-array sort:
    // a comparator-based index sort would box an Integer per entry per
    // doc, which is most of what the packed representation saves
    val take = math.min(k, m)
    sortByCountThenGram(ks, vs, m)
    java.util.Arrays.copyOf(ks, take)
  }

  /** In-place quicksort of parallel arrays by (-count, unsigned gram).
    * A handful of thousand entries per call; no boxing, no allocation.
    */
  private def sortByCountThenGram(ks: Array[Long], vs: Array[Int],
      len: Int): Unit = {
    @inline def less(ka: Long, va: Int, kb: Long, vb: Int): Boolean =
      va > vb || (va == vb && java.lang.Long.compareUnsigned(ka, kb) < 0)
    def swap(a: Int, b: Int): Unit = {
      val tk = ks(a); ks(a) = ks(b); ks(b) = tk
      val tv = vs(a); vs(a) = vs(b); vs(b) = tv
    }
    def sort(lo: Int, hi: Int): Unit = {
      if (hi - lo < 12) {
        var i = lo + 1
        while (i <= hi) {
          val kk = ks(i); val vv = vs(i)
          var j = i - 1
          while (j >= lo && less(kk, vv, ks(j), vs(j))) {
            ks(j + 1) = ks(j); vs(j + 1) = vs(j); j -= 1
          }
          ks(j + 1) = kk; vs(j + 1) = vv
          i += 1
        }
      } else {
        val mid = lo + (hi - lo) / 2
        // median-of-3 pivot to dodge the sorted/clustered worst case
        if (less(ks(mid), vs(mid), ks(lo), vs(lo))) swap(lo, mid)
        if (less(ks(hi), vs(hi), ks(lo), vs(lo))) swap(lo, hi)
        if (less(ks(hi), vs(hi), ks(mid), vs(mid))) swap(mid, hi)
        val pk = ks(mid); val pv = vs(mid)
        var i = lo; var j = hi
        while (i <= j) {
          while (less(ks(i), vs(i), pk, pv)) i += 1
          while (less(pk, pv, ks(j), vs(j))) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (lo < j) sort(lo, j)
        if (i < hi) sort(i, hi)
      }
    }
    if (len > 1) sort(0, len - 1)
  }

  /** One trained language profile: packed gram -> rank (0-based). */
  private final case class LangProfile(lang: String, rank: GramCounts)

  private lazy val trained: Vector[LangProfile] =
    Languages.map { l =>
      val p = profileL(Samples(l), ProfileSize)
      val rank = new GramCounts(p.length * 2)
      var i = 0
      while (i < p.length) { rank.put(p(i), i); i += 1 }
      LangProfile(l, rank)
    }

  /** The model instance. Stateless after construction; thread-safe. */
  final class Model private[TrigramLangModel] (
      profiles: Vector[LangProfile]) extends LangId.LangModel {

    /** Out-of-place distance, then `(lang, 1 - dist/maxDist)`. A doc
      * whose profile is empty (no letters) -> ('unk', 0.0), matching
      * the expression scorer's convention. maxDist = |docProfile| * K
      * (every trigram maximally out of place), so score ∈ [0, 1] and a
      * doc matching a profile's rank order exactly scores 1.0.
      */
    override def predict(text: String): (String, Double) = {
      if (text == null) return ("unk", 0.0)
      val doc = profileL(text, DocProfileSize)
      if (doc.isEmpty) return ("unk", 0.0)
      val maxDist = doc.length.toLong * ProfileSize
      var bestLang = "unk"
      var bestDist = Long.MaxValue
      var pi = 0
      while (pi < profiles.length) {
        val p = profiles(pi)
        var dist = 0L
        var di = 0
        while (di < doc.length) {
          val r = p.rank.get(doc(di))
          dist += (if (r >= 0) math.abs(r - di).toLong else ProfileSize.toLong)
          di += 1
        }
        if (dist < bestDist) { bestDist = dist; bestLang = p.lang }
        pi += 1
      }
      (bestLang, 1.0 - bestDist.toDouble / maxDist.toDouble)
    }
  }

  /** Factory for [[LangId.withLangColumnsModel]] — cheap to call, so
    * per-executor lazy init costs one profile build (~10 short
    * paragraphs) per JVM.
    */
  def default(): LangId.LangModel = new Model(trained)
}
