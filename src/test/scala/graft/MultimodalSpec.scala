package graft

import org.apache.spark.sql.functions._

import graft.ops.{ImageCodec, Multimodal}

/** Multimodal plumbing: schema/batch shape are real; PNG/BMP/PPM
  * payloads decode for REAL through the JVM-pure [[ImageCodec]] and
  * embed from pixels; other payloads take the documented hash stub.
  */
class MultimodalSpec extends SparkTestBase {

  private def media = {
    import spark.implicits._
    Multimodal.syntheticMedia(
      Seq((0L, "alpha bravo charlie delta echo"),
        (1L, "some audio-ish text payload that is a bit longer than the rest"),
        (2L, "video doc payload with words"),
        (3L, "x"))
        .toDF("doc_id", "text"))
  }

  test("synthetic media: kinds cycle, metadata derives from byte length") {
    val kinds = media.select("media_id", "kind").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kinds === Map(0L -> "image", 1L -> "audio", 2L -> "video", 3L -> "image"))
  }

  test("extractFeatures: fixed dim, deterministic, one row per media") {
    val rows1 = Multimodal.extractFeatures(media, dim = 8, batchSize = 2).collect()
    val f1 = rows1.map(f => f.media_id -> f.embedding.toSeq).toMap
    val f2 = Multimodal.extractFeatures(media, dim = 8, batchSize = 3)
      .collect().map(f => f.media_id -> f.embedding.toSeq).toMap
    assert(f1.keySet === Set(0L, 1L, 2L, 3L))
    assert(f1.values.forall(_.length === 8))
    assert(f1 === f2, "batch size must not change results")
    // text payloads are not decodable images -> stub path, values in [-1, 1]
    assert(rows1.forall(!_.decoded))
    assert(f1.values.flatten.forall(v => v >= -1f && v <= 1f))
  }

  test("sampleFrames: only videos, at most maxFrames, strided indices") {
    val rows = Multimodal.sampleFrames(media, maxFrames = 4).collect()
    assert(rows.nonEmpty)
    val byMedia = rows.groupBy(_.getLong(0))
    assert(byMedia.keySet === Set(2L))
    byMedia.values.foreach { frames =>
      assert(frames.length <= 4)
      val n = frames.head.getInt(1)
      val idx = frames.map(_.getLong(3))
      assert(idx.forall(i => i >= 0 && i < n))
      assert(idx.distinct.length === idx.length)
    }
  }

  test("audioChunks: offsets tile the payload without overlap or gap") {
    val rows = Multimodal.audioChunks(media, chunkSeconds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, chunks) =>
      val sorted = chunks.sortBy(_._2).toSeq
      sorted.sliding(2).foreach { pair =>
        if (pair.length == 2) {
          val (_, _, off1, len1) = pair(0)
          val (_, _, off2, _) = pair(1)
          assert(off1 + len1 === off2, "chunks must tile contiguously")
        }
      }
      assert(sorted.forall(_._4 > 0))
    }
  }

  test("decode stub returns declared dims and a stable checksum") {
    val (w, h, c1) = MultimodalSpec.decodeImageStub("payload".getBytes, 64, 48)
    val (_, _, c2) = MultimodalSpec.decodeImageStub("payload".getBytes, 64, 48)
    assert((w, h) === (64, 48))
    assert(c1 === c2)
  }

  // ---- real codec --------------------------------------------------------

  // 3x2 RGB test card: distinct channel values in every pixel so any
  // swapped channel/row/column order fails the exact comparison
  private val rgb3x2: Array[Byte] = Array(
    10, 20, 30, 40, 50, 60, 70, 80, 90,
    110, 120, 130, 140, 150, 160, 170, 180, 190).map(_.toByte)

  test("codec: PNG/BMP/PPM round-trip to exact pixels") {
    for ((label, payload) <- Seq(
        "png" -> ImageCodec.encodePng(3, 2, rgb3x2),
        "bmp" -> ImageCodec.encodeBmp(3, 2, rgb3x2),
        "ppm" -> ImageCodec.encodePpm(3, 2, rgb3x2))) {
      val img = ImageCodec.decode(payload)
        .getOrElse(fail(s"$label did not decode"))
      assert((img.width, img.height, img.channels) === ((3, 2, 3)), label)
      assert(img.pixels.toSeq === rgb3x2.toSeq, label)
    }
  }

  test("codec: every PNG scanline filter unfilters exactly") {
    // 3x5, one row per filter type incl. row-0 edge cases for Up/Paeth
    val rgb = Array.tabulate(3 * 5 * 3)(i => ((i * 37 + 11) % 251).toByte)
    for (firstRow <- Seq(2, 4)) { // Up and Paeth with no row above
      val filters = Array(firstRow, 1, 2, 3, 4)
      val payload = MultimodalSpec.encodePngWithFilters(3, 5, rgb, filters)
      val img = ImageCodec.decode(payload).getOrElse(fail("no decode"))
      assert(img.pixels.toSeq === rgb.toSeq, s"filters=${filters.toSeq}")
    }
  }

  test("codec: Adam7 interlaced PNG round-trips at adversarial dims, ImageIO agrees") {
    // dims straddling pass boundaries: 1x1 (only pass 1 fires), 1x2,
    // 2x1, 7x3 (passes with empty rows/cols), 8x8 (all passes square),
    // 9x5, 16x17 — every pass-geometry edge in one sweep
    for ((w, h) <- Seq((1, 1), (1, 2), (2, 1), (7, 3), (8, 8), (9, 5), (16, 17))) {
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 53 + 7) % 249).toByte)
      val payload = ImageCodec.encodePngInterlaced(w, h, rgb)
      val img = ImageCodec.decode(payload).getOrElse(fail(s"${w}x$h no decode"))
      assert((img.width, img.height) === ((w, h)), s"${w}x$h")
      assert(img.pixels.toSeq === rgb.toSeq, s"${w}x$h pixels")
      // external evidence: the JDK's own PNG reader on the same bytes
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      assert(bi != null, s"${w}x$h ImageIO rejected")
      for (y <- 0 until h; x <- 0 until w) {
        val argb = bi.getRGB(x, y)
        val o = (y * w + x) * 3
        assert(((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff) ===
          ((rgb(o) & 0xff, rgb(o + 1) & 0xff, rgb(o + 2) & 0xff)),
          s"${w}x$h ImageIO pixel ($x,$y)")
      }
    }
    // truncated interlaced payload degrades to None, never throws
    val good = ImageCodec.encodePngInterlaced(9, 5, new Array[Byte](135))
    assert(ImageCodec.decode(good.take(good.length / 2)).isEmpty)
  }

  test("codec: garbage, truncated, and out-of-scope payloads return None") {
    assert(ImageCodec.decode("not an image at all".getBytes).isEmpty)
    assert(ImageCodec.decode(Array[Byte]()).isEmpty)
    val png = ImageCodec.encodePng(3, 2, rgb3x2)
    assert(ImageCodec.decode(png.take(20)).isEmpty, "truncated PNG")
    val bmp = ImageCodec.encodeBmp(3, 2, rgb3x2)
    bmp(28) = 8 // 8-bpp palette BMP: out of scope
    assert(ImageCodec.decode(bmp).isEmpty)
  }

  test("decodeImage: pixel checksum is representation-independent") {
    // the same pixels through different encodings must checksum equal —
    // impossible for any byte-level hash of the payload
    val viaPng = MultimodalSpec.decodeImage(ImageCodec.encodePng(3, 2, rgb3x2), 0, 0)
    val viaBmp = MultimodalSpec.decodeImage(ImageCodec.encodeBmp(3, 2, rgb3x2), 0, 0)
    val viaPpm = MultimodalSpec.decodeImage(ImageCodec.encodePpm(3, 2, rgb3x2), 0, 0)
    assert(viaPng === ((3, 2, viaPng._3)))
    assert(viaPng === viaBmp)
    assert(viaBmp === viaPpm)
    // and the stub fallback reports the declared dims instead
    val stub = MultimodalSpec.decodeImage("jpegish garbage".getBytes, 64, 48)
    assert((stub._1, stub._2) === ((64, 48)))
  }

  test("extractFeatures: image payloads embed from pixels, flagged decoded") {
    import spark.implicits._
    val df = Seq(
      (1L, "image", ImageCodec.encodePng(3, 2, rgb3x2)),
      (2L, "image", ImageCodec.encodeBmp(3, 2, rgb3x2)),
      (3L, "image", "undecodable".getBytes))
      .toDF("media_id", "kind", "content")
    val got = Multimodal.extractFeatures(df, dim = 16).collect()
      .map(f => f.media_id -> f).toMap
    assert(got(1L).decoded && got(2L).decoded && !got(3L).decoded)
    // same pixels, different container -> identical pixel features
    assert(got(1L).embedding.toSeq === got(2L).embedding.toSeq)
    // features really derive from the image: dims lead the vector
    assert(got(1L).embedding(0) === 3f && got(1L).embedding(1) === 2f)
    // and match a direct driver-side computation
    val direct = Multimodal.pixelFeatures(
      ImageCodec.decode(ImageCodec.encodePng(3, 2, rgb3x2)).get, 16)
    assert(got(1L).embedding.toSeq === direct.toSeq)
  }

  test("syntheticImages: every payload decodes, formats rotate, features flow") {
    import spark.implicits._
    val docs = Seq.tabulate(12)(i => (i.toLong, s"doc number $i with some text body"))
      .toDF("doc_id", "text")
    val imgs = Multimodal.syntheticImages(docs)
    val feats = Multimodal.extractFeatures(imgs, dim = 16).collect()
    assert(feats.length === 4) // doc_id % 3 == 0: 0, 3, 6, 9
    assert(feats.forall(_.decoded), "every synthetic image payload must decode")
    assert(feats.forall(_.embedding(0) === 8f), "width feature from real decode")
    // the three container formats all appear across ids 0,3,6,9
    val magics = imgs.select("media_id", "content").collect().map { r =>
      val b = r.getAs[Array[Byte]](1)
      if (b(0) == 0x89.toByte && b(1) == 'P') "png"
      else if (b(0) == 'B' && b(1) == 'M') "bmp"
      else if (b(0) == 'P' && b(1) == '6') "ppm"
      else "???"
    }.toSet
    assert(magics === Set("png", "bmp", "ppm"))
  }

  test("syntheticProgressiveJpegImages: SOF2 payloads, every one decodes with exact dims") {
    import spark.implicits._
    val docs = Seq.tabulate(12)(i =>
      (i.toLong, s"progressive doc $i " + ("lorem ipsum " * (i + 1))))
      .toDF("doc_id", "text")
    val rows = Multimodal.syntheticProgressiveJpegImages(docs)
      .select("media_id", "content", "width", "height").collect()
    assert(rows.length === 4) // doc_id % 3 == 0: 0, 3, 6, 9
    rows.foreach { r =>
      val id = r.getLong(0)
      val b = r.getAs[Array[Byte]](1)
      // the payload must really be multi-scan progressive (SOF2)
      assert(b.indices.dropRight(1).exists(i =>
        (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc2),
        s"payload $id is not SOF2")
      val img = graft.ops.ImageCodec.decode(b)
        .getOrElse(fail(s"progressive payload $id did not decode"))
      assert(img.width === r.getInt(2) && img.height === r.getInt(3))
      assert(img.channels === (if ((id / 3) % 2 == 1) 1 else 3),
        s"gray/color rotation broken for $id")
    }
  }

  test("aspectBucket: nearest target aspect, square/portrait/landscape, no bytes read") {
    import spark.implicits._
    val media = Seq(
      (1L, "image", 1000, 1000), // square -> (1024, 1024)
      (2L, "image", 500, 1000), // strong portrait ar=0.5 -> (640, 1536) ar 0.417 vs (768,1344) 0.571: dist 0.5/0.417=1.2 vs 0.571/0.5=1.14 -> (768, 1344)
      (3L, "image", 2000, 800), // strong landscape ar=2.5 -> (1536, 640) ar=2.4
      (4L, "video", 100, 100), // not an image: excluded
      (5L, "image", 1100, 900)) // ar 1.222 -> (1152, 896) ar 1.286 vs (1024,1024): 1.222 vs 1.286/1.222=1.052 -> (1152,896)? dist sq=1.222, rect=1.052 -> rect
      .toDF("media_id", "kind", "width", "height")
    val got = Multimodal.aspectBucket(media)
      .collect().map(r => r.getLong(0) -> (r.getInt(3), r.getInt(4))).toMap
    assert(got === Map(
      1L -> ((1024, 1024)),
      2L -> ((768, 1344)),
      3L -> ((1536, 640)),
      5L -> ((1152, 896))))
  }

  test("dHash: uniform image hashes to zero; single-pixel touch stays " +
    "within a few bits; different content diverges") {
    val w = 16; val h = 16
    def img(f: Int => Int): Array[Byte] = {
      val px = new Array[Byte](w * h * 3)
      (0 until w * h).foreach { p =>
        val v = f(p)
        px(p * 3) = v.toByte
        px(p * 3 + 1) = ((7 * v) % 256).toByte
        px(p * 3 + 2) = ((13 * v) % 256).toByte
      }
      px
    }
    def ham(a: Array[Int], b: Array[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    val uniform = Multimodal.dHashChunks(w, h, img(_ => 77))
    assert(uniform.toSeq === Seq(0, 0, 0, 0), "uniform image must hash to 0")
    val base = Multimodal.dHashChunks(w, h, img(p => (p * 37) % 256))
    val touched = Multimodal.dHashChunks(w, h,
      img(p => if (p == 100) 13 else (p * 37) % 256))
    assert(ham(base, touched) <= 4,
      s"one changed pixel moved the dHash ${ham(base, touched)} bits")
    val other = Multimodal.dHashChunks(w, h, img(p => (p * p * 91 + 5) % 256))
    assert(ham(base, other) > 8,
      s"unrelated content too close: ${ham(base, other)} bits")
  }

  test("energyHash: constant signal hashes to zero; one touched sample " +
    "stays within a few bits; audioNearDup finds the planted twin") {
    import spark.implicits._
    def ham(a: Array[Int], b: Array[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    val flat = Multimodal.energyHashChunks(Array.fill(400)(512))
    assert(flat.toSeq === Seq(0, 0, 0, 0), "constant signal must hash to 0")
    val base = Array.tabulate(400)(i => ((i * 53) % 256 - 128) * 64)
    val touched = base.clone(); touched(200) = 8000
    val hb = Multimodal.energyHashChunks(base)
    val ht = Multimodal.energyHashChunks(touched)
    assert(ham(hb, ht) <= 4, s"one touched sample moved ${ham(hb, ht)} bits")
    // planted twin through the query (doc 10 is audio: 10 % 3 == 1, and
    // 10 % 5 == 0 so it gets a perturbed twin); doc 4 and 7 are
    // unrelated audio docs
    val mkText = (seed: Int) =>
      (0 until 500).map(i => ('a' + (i * seed + seed) % 26).toChar).mkString
    val dirPath = java.nio.file.Files.createTempDirectory("audiodup").toString
    Seq((10L, mkText(3)), (4L, mkText(7)), (7L, mkText(11)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dirPath/documents.parquet")
    val pairs = graft.queries.MultimodalQueries.audioNearDup(spark, dirPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((10L, 1000000010L)), s"audio twin missing: $keys")
    assert(!keys.exists(p => p._1 < 1000000000L && p._2 < 1000000000L),
      s"unrelated audio paired: $keys")
  }

  test("energyHash overflow region: 128-bit compare matches a BigInteger " +
    "reference where the signed-64 cross-product wraps (~1 min loud audio)") {
    import java.math.BigInteger
    // 65 frames x ~130k full-scale samples: e ~1.4e14, e*cnt ~1.8e19 —
    // past Long.MaxValue, the region the r11 fixtures (<=6400 samples)
    // never reached. Slight per-sample magnitude variation makes frame
    // energies differ so the comparisons carry signal.
    val n = 8500000
    val s = Array.tabulate(n)(i =>
      (if ((i & 1) == 0) 1 else -1) * (32767 - (i * i + i / 1000) % 7))
    val e = new Array[Long](65)
    val cnt = new Array[Long](65)
    var p = 0
    while (p < n) {
      val f = ((65L * p + 64) / n).toInt
      val v = s(p).toLong
      e(f) += v * v; cnt(f) += 1; p += 1
    }
    val ref = new Array[Int](4)
    var wrapped = false
    for (k <- 0 until 64) {
      val l = BigInteger.valueOf(e(k + 1)).multiply(BigInteger.valueOf(cnt(k)))
      val r = BigInteger.valueOf(e(k)).multiply(BigInteger.valueOf(cnt(k + 1)))
      if (l.compareTo(r) > 0) ref(k / 16) |= 1 << (k % 16)
      if (l.bitLength > 63 || r.bitLength > 63) wrapped = true
    }
    assert(wrapped, "fixture failed to reach the signed-64 overflow region")
    assert(Multimodal.energyHashChunks(s).toSeq === ref.toSeq,
      "energy hash diverged from the 128-bit reference in the wrap region")
  }

  test("crossGt: 128-bit product compare agrees with BigInteger on " +
    "seeded fuzz spanning the full non-negative long range") {
    import java.math.BigInteger
    val rnd = new scala.util.Random(0xC0FFEE)
    def draw(): Long = rnd.nextInt(3) match {
      case 0 => rnd.nextLong() & Long.MaxValue          // anywhere
      case 1 => rnd.nextInt(200000).toLong              // count-sized
      case _ => Long.MaxValue - rnd.nextInt(1000000)    // near the edge
    }
    for (_ <- 0 until 20000) {
      val (a, b, c, d) = (draw(), draw(), draw(), draw())
      val want = BigInteger.valueOf(a).multiply(BigInteger.valueOf(b))
        .compareTo(BigInteger.valueOf(c).multiply(BigInteger.valueOf(d))) > 0
      assert(Multimodal.crossGt(a, b, c, d) === want,
        s"crossGt($a,$b,$c,$d) != BigInteger")
    }
  }

  test("videoNearDup: touched-frame twin found, unrelated clips absent") {
    import spark.implicits._
    // doc 5 is video (5 % 3 == 2) and gets a twin (5 % 5 == 0); docs 2
    // and 8 are unrelated videos (different id -> different index law)
    val dirPath = java.nio.file.Files.createTempDirectory("videodup").toString
    Seq((5L, "x"), (2L, "y"), (8L, "z")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dirPath/documents.parquet")
    val pairs = graft.queries.MultimodalQueries.videoNearDup(spark, dirPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((5L, 1000000005L)), s"video twin missing: $keys")
    pairs.foreach { case (a, b, hm) =>
      assert(hm <= 3, s"pair ($a,$b) hamming $hm")
    }
    assert(!keys.exists(p => p._1 < 1000000000L && p._2 < 1000000000L),
      s"unrelated clips paired: $keys")
  }

  test("incremental perceptual flags: intra-batch keep-first, corpus " +
    "lineage, history untouched") {
    import spark.implicits._
    // signatures directly (the op is sketch-source-agnostic): batch has
    // 10/11 near-identical (1-bit apart) and 12 matching corpus item 2;
    // 13 matches nothing
    val batch = Seq(
      (10L, 5, 6, 7, 8), (11L, 5, 6, 7, 9 /* 1 bit from 8 */),
      (12L, 100, 200, 300, 400), (13L, 1, 2, 3, 4))
      .toDF("media_id", "c0", "c1", "c2", "c3")
    val corpus = Seq(
      (2L, 100, 200, 300, 401 /* 1 bit from 400 */), (3L, 7000, 7001, 7002, 7003))
      .toDF("media_id", "c0", "c1", "c2", "c3")
    val got = Multimodal.incrementalHammingFlags(batch, corpus)
      .collect().map(r => r.getAs[Long]("media_id") -> (
        r.getAs[Boolean]("is_dup_near_batch"),
        Option(r.getAs[Any]("batch_dup_of")).map(_.asInstanceOf[Long]),
        r.getAs[Boolean]("is_dup_near_corpus"),
        Option(r.getAs[Any]("near_dup_of")).map(_.asInstanceOf[Long]))).toMap
    assert(got(10L) === ((false, None, false, None)))   // first arrival
    assert(got(11L) === ((true, Some(10L), false, None))) // intra keep-first
    assert(got(12L) === ((false, None, true, Some(2L)))) // corpus lineage
    assert(got(13L) === ((false, None, false, None)))    // fresh
  }

  test("mediaNearDup: planted perturbed twin pairs found, unrelated docs absent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 0 and 5 get perturbed twins by the query's own %5 rule; docs
    // carry long distinct texts so twins differ in few pixels and
    // unrelated docs differ everywhere
    val mkText = (seed: Int) =>
      (0 until 400).map(i => ('a' + (i * seed + seed * seed) % 26).toChar).mkString
    val docsDir = java.nio.file.Files.createTempDirectory("neardup").toString
    Seq((0L, mkText(3)), (1L, mkText(7)), (5L, mkText(11)), (7L, mkText(17)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$docsDir/documents.parquet")
    val pairs = graft.queries.MultimodalQueries.mediaNearDup(spark, docsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1000000000L)), s"twin of doc 0 missing: $keys")
    assert(keys.contains((5L, 1000000005L)), s"twin of doc 5 missing: $keys")
    pairs.foreach { case (_, _, hm) => assert(hm <= 3) }
    // unrelated originals never pair with each other
    assert(!keys.exists(p => p._1 < 1000000000L && p._2 < 1000000000L),
      s"unrelated originals paired: $keys")
  }

  test("hammingClusters: exact-dup collapse identical to clustering the item-level pair list") {
    import spark.implicits._
    // planted structure, heavy exact duplication: ids 0-9 share sig A
    // (a 10-clique as pairs — 45 rows the collapsed path never emits),
    // ids 10-11 carry sig A+1bit (near A, bridges into the A cluster),
    // ids 20-21 share sig B (an isolated exact-dup pair), id 30 is a
    // singleton — excluded by both paths
    val sigA = (17L, 4097L, 258L, 9L)
    val sigA1 = (16L, 4097L, 258L, 9L) // hamming 1 from A
    val sigB = (700L, 33L, 5L, 1024L)
    val rows =
      (0L until 10L).map(i => (i, sigA._1, sigA._2, sigA._3, sigA._4)) ++
      Seq(10L, 11L).map(i => (i, sigA1._1, sigA1._2, sigA1._3, sigA1._4)) ++
      Seq(20L, 21L).map(i => (i, sigB._1, sigB._2, sigB._3, sigB._4)) ++
      Seq((30L, 9999L, 8888L, 7777L, 6666L))
    val sigs = rows.toDF("media_id", "c0", "c1", "c2", "c3")
    val collapsed = graft.ops.Multimodal.hammingClusters(sigs)
      .orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val itemLevel = graft.ops.DupClusters
      .connectedComponents(graft.ops.Multimodal.hammingPairs(sigs))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("keeper_id"))
      .orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(collapsed.toSeq === itemLevel.toSeq)
    assert(collapsed.toSeq === Seq((0L, 12L, 0L), (20L, 2L, 20L)))
    spark.catalog.clearCache()
  }
}

object MultimodalSpec {
  import java.io.ByteArrayOutputStream

  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.Platform

  /** Image decode through [[ImageCodec]] (PNG/BMP/PPM): actual dims and
    * a checksum of the DECODED PIXELS, so two payloads that encode the
    * same pixels differently checksum equal, which no byte-level hash
    * can do. Falls back to [[decodeImageStub]] outside the codec's
    * scope.
    */
  def decodeImage(content: Array[Byte], width: Int, height: Int): (Int, Int, Long) =
    ImageCodec.decode(content) match {
      case Some(img) =>
        val checksum = XXH64.hashUnsafeBytes(img.pixels,
          Platform.BYTE_ARRAY_OFFSET, img.pixels.length, 42L)
        (img.width, img.height, checksum)
      case None => decodeImageStub(content, width, height)
    }

  /** The fallback for payloads outside the codec's scope (e.g. JPEG):
    * the declared dims and a deterministic checksum of the payload bytes.
    */
  def decodeImageStub(content: Array[Byte], width: Int, height: Int): (Int, Int, Long) = {
    val checksum = XXH64.hashUnsafeBytes(content,
      Platform.BYTE_ARRAY_OFFSET, content.length, 42L)
    (width, height, checksum)
  }

  /** PNG with an explicit filter type per scanline (forward-filtered
    * here, so decode must invert it) — exercises the Sub/Up/Average/Paeth
    * unfilter paths that filter-0 round-trips never touch. Written
    * independently of [[ImageCodec]]'s encoders.
    */
  def encodePngWithFilters(w: Int, h: Int, rgb: Array[Byte],
                           filters: Array[Int]): Array[Byte] = {
    require(rgb.length == w * h * 3 && filters.length == h)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val stride = w * 3
    val raw = new Array[Byte]((stride + 1) * h)
    for (y <- 0 until h) {
      val f = filters(y)
      raw(y * (stride + 1)) = f.toByte
      for (x <- 0 until stride) {
        val cur = rgb(y * stride + x) & 0xff
        val a = if (x >= 3) rgb(y * stride + x - 3) & 0xff else 0
        val b = if (y > 0) rgb((y - 1) * stride + x) & 0xff else 0
        val c = if (x >= 3 && y > 0) rgb((y - 1) * stride + x - 3) & 0xff else 0
        val enc = f match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - (a + b) / 2
          case 4 => cur - paeth(a, b, c)
        }
        raw(y * (stride + 1) + 1 + x) = (enc & 0xff).toByte
      }
    }
    def be32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()
    val out = new ByteArrayOutputStream()
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      val typeBytes = ctype.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(typeBytes); crc.update(data)
      out.write(be32(data.length)); out.write(typeBytes); out.write(data)
      out.write(be32(crc.getValue.toInt))
    }
    val z = new ByteArrayOutputStream()
    val dz = new java.util.zip.DeflaterOutputStream(z)
    dz.write(raw); dz.close()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10))
    chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0))
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }
}
