package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.VecFile

class MultimodalVecSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("media schema round-trips documents; features are unit-norm and deterministic") {
    val media = Multimodal.fromDocuments(docs).as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media, dim = 16).cache()
    assert(feats.count() == docs.count())
    val norms = feats.map(f =>
      math.sqrt(f.feature.foldLeft(0.0)((a, x) => a + x.toDouble * x))).collect()
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-3))
    // determinism: run twice, same bytes → same features
    val again = Multimodal.extractFeatures(media, dim = 16)
      .collect().map(f => f.id -> f.feature.toSeq).toMap
    feats.collect().foreach(f => assert(again(f.id) == f.feature.toSeq))
  }

  test("extracted features flow into the engine's kNN (index interop)") {
    val media = Multimodal.fromDocuments(docs).as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media, dim = 16)
      .toDF("id", "media_type", "feature").cache()
    val res = graft.operators.Exhaustive.knnJoin(
      feats.filter($"id" < 3), "id", "feature",
      feats, "id", "feature", k = 5, metric = "cosine")
    val byQ = res.collect().groupBy(_.getLong(0))
    assert(byQ.keys.toSet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.length == 5)
      val self = rows.minBy(_.getDouble(2))
      assert(self.getLong(0) == self.getLong(1)) // self is nearest
    }
  }

  /** 8×8 PNG, left half black, right half white — known luminances. */
  private def halfTonePng(): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      im.setRGB(x, y, if (x < 4) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  test("image rows decode for REAL via ImageIO (PNG → luminance histogram)") {
    val png = halfTonePng()
    // black lum 0 → bin 0; white lum 255 → bin 15; half the samples each
    val feat = Multimodal.imageFeature(png, dim = 16).get
    val inv = (1.0 / math.sqrt(2.0)).toFloat
    assert(math.abs(feat(0) - inv) < 1e-6f, feat.toSeq.toString)
    assert(math.abs(feat(15) - inv) < 1e-6f)
    assert(feat.slice(1, 15).forall(_ == 0f))
    // deterministic
    assert(Multimodal.imageFeature(png, 16).get.toSeq == feat.toSeq)
    // through the Dataset path: media_type "image" → real decode
    val media = Seq(Multimodal.MediaRow(7L, png, "image", 8, 8, 3, 0, 0)).toDS()
    assert(Multimodal.extractFeatures(media, dim = 16).head().feature.toSeq
      == feat.toSeq)
    // undecodable image bytes fall back to the deterministic stub
    val junk = Array[Byte](1, 2, 3)
    val fb = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRow(8L, junk, "image", 0, 0, 0, 0, 0)).toDS(), 16)
      .head().feature
    assert(fb.toSeq == Multimodal.fakeDecode(junk, 16).toSeq)
  }

  /** 1-second 16-bit mono WAV: first half a full-scale square wave
    * (max RMS), second half silence — known energy envelope. */
  private def halfToneWav(): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val rate = 8000
    val pcm = new Array[Byte](rate * 2)
    for (i <- 0 until rate / 2) {
      // ±0x7FFF square at 200 Hz, little-endian
      val s = if ((i / 20) % 2 == 0) 0x7FFF else -0x7FFF
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      rate.toFloat, 16, 1, 2, rate.toFloat, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, rate.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("audio rows decode for REAL via javax.sound.sampled (WAV → RMS envelope)") {
    val wav = halfToneWav()
    val feat = Multimodal.audioFeature(wav, dim = 8).get
    // first 4 windows: full-scale square, RMS ≈ 1; last 4: silence, RMS 0
    // → normalized envelope = 1/2 on the tone half, 0 on the silent half
    (0 until 4).foreach(w => assert(math.abs(feat(w) - 0.5f) < 1e-3f,
      feat.toSeq.toString))
    (4 until 8).foreach(w => assert(feat(w) == 0f, feat.toSeq.toString))
    // deterministic
    assert(Multimodal.audioFeature(wav, 8).get.toSeq == feat.toSeq)
    // through the Dataset path: media_type "audio" → real decode
    val media = Seq(Multimodal.MediaRow(9L, wav, "audio", 0, 0, 1, 8000, 0)).toDS()
    assert(Multimodal.extractFeatures(media, dim = 8).head().feature.toSeq
      == feat.toSeq)
    // undecodable audio bytes fall back to the deterministic stub
    val junk = Array[Byte](1, 2, 3, 4)
    val fb = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRow(10L, junk, "audio", 0, 0, 0, 0, 0)).toDS(), 8)
      .head().feature
    assert(fb.toSeq == Multimodal.fakeDecode(junk, 8).toSeq)
  }

  test("image resize rewrites content: decoded dims and pixels survive") {
    val media = Seq(Multimodal.MediaRow(1L, halfTonePng(), "image", 8, 8, 3, 0, 0)).toDS()
    val out = Multimodal.resize(media, 4, 4).head()
    assert(out.width == 4 && out.height == 4)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out.content))
    assert(back.getWidth == 4 && back.getHeight == 4)
    for (y <- 0 until 4; x <- 0 until 4)
      assert(back.getRGB(x, y) == (if (x < 2) 0xFF000000 else 0xFFFFFFFF))
  }

  test("frame sampling fans out n rows per video with monotone offsets") {
    val media = Multimodal.fromDocuments(docs)
      .withColumn("media_type", lit("video"))
    val frames = Multimodal.sampleFrames(media, n = 4)
    assert(frames.count() == docs.count() * 4)
    val one = frames.filter($"id" === 0).orderBy($"frame_idx").collect()
    val offs = one.map(_.getLong(2))
    assert(offs.head == 0L && offs.sameElements(offs.sorted))
  }

  test(".vec source: header skipped, vectors normalized, holdout diverted, ids dense (utils.rs:7-66)") {
    val dir = java.nio.file.Files.createTempDirectory("vec")
    val f = dir.resolve("mini.vec")
    java.nio.file.Files.writeString(f,
      """4 3
        |king 1.0 2.0 2.0
        |queen 0.0 3.0 4.0
        |man 2.0 0.0 0.0
        |woman 0.0 0.0 5.0
        |""".stripMargin)
    val loaded = VecFile.read(spark, f.toString, holdoutWord = Some("queen"))
    val corpus = loaded.corpus.orderBy("id").collect()
    assert(corpus.map(_.getString(1)).toSeq == Seq("king", "man", "woman"))
    assert(corpus.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    val king = corpus(0).getAs[scala.collection.Seq[Float]](2)
    assert(math.abs(king(0) - 1f / 3) < 1e-6) // normalized (‖(1,2,2)‖=3)
    val hold = loaded.holdout.collect()
    assert(hold.length == 1 && hold(0).getString(0) == "queen")
    val q = hold(0).getAs[scala.collection.Seq[Float]](1)
    assert(math.abs(q(1) - 0.6f) < 1e-6 && math.abs(q(2) - 0.8f) < 1e-6)
    loaded.unpersist()
  }

  test(".vec dense ids stay file-ordered across MANY input splits") {
    // 5000 rows forced into dozens of text splits: the distributed
    // zipWithIndex ranking must still produce dense 0..n−1 ids in
    // exact file order (splits are offset-ordered; narrow ops keep
    // per-split row order)
    val dir = java.nio.file.Files.createTempDirectory("vecsplit")
    val f = dir.resolve("many.vec")
    val sb = new StringBuilder("5000 2\n")
    for (i <- 0 until 5000) sb.append(s"w$i ${i % 7} ${i % 5 + 1}\n")
    java.nio.file.Files.writeString(f, sb.toString)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try onBothPaths {
      // the driver read of this small file, and the split read at -1
      val loaded = VecFile.read(spark, f.toString, holdoutWord = Some("w17"))
      val got = loaded.corpus.orderBy("id")
        .select("id", "word").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(got.length == 4999)
      got.foreach { case (id, w) =>
        val fileIdx = w.drop(1).toInt
        val expected = if (fileIdx < 17) fileIdx.toLong else fileIdx - 1L
        assert(id == expected, s"$w: id $id")
      }
      loaded.unpersist()
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("MP4 metadata: parse inverts buildMinimal; garbage parses to None") {
    import graft.operators.Mp4
    val bytes = Mp4.buildMinimal(timescale = 600, duration = 3000L,
      w = 1920, h = 1080, codec = "hvc1")
    val m = Mp4.parse(bytes).get
    assert(m.container == "isom" && m.timescale == 600)
    assert(m.durationMs == 5000L) // 3000 ticks at 600/s
    assert(m.width == 1920 && m.height == 1080)
    assert(m.codec == "hvc1" && m.nTracks == 1)
    // not a container / truncated container → None, never a throw
    assert(Mp4.parse("not an mp4 at all".getBytes).isEmpty)
    assert(Mp4.parse(Array.emptyByteArray).isEmpty)
    assert(Mp4.parse(bytes.take(40)).isEmpty)
    val corrupt = bytes.clone(); corrupt(0) = 0x7f // absurd top box size
    assert(Mp4.parse(corrupt).isEmpty)
    // truncated VERSION-1 mvhd must parse to None — not fall through to
    // the v0 offsets and report the middle of a creation time as a
    // plausible timescale
    val bos = new java.io.ByteArrayOutputStream
    val o = new java.io.DataOutputStream(bos)
    o.writeInt(8 + 8 + 24); o.writeBytes("moov")
    o.writeInt(8 + 24); o.writeBytes("mvhd")
    o.writeInt(0x01000000) // version 1, flags 0
    (0 until 5).foreach(_ => o.writeInt(7)) // 20 junk bytes, payload 24 < 32
    assert(Mp4.parse(bos.toByteArray).isEmpty)
  }

  test("MKV metadata: parse inverts buildMinimal; garbage parses to None") {
    import graft.operators.Mkv
    val bytes = Mkv.buildMinimal(timestampScaleNs = 1000000L,
      durationTicks = 4500.0, w = 1280, h = 720, codec = "V_VP9")
    val m = Mkv.parse(bytes).get
    assert(m.timestampScaleNs == 1000000L && m.durationMs == 4500L)
    assert(m.width == 1280 && m.height == 720)
    assert(m.codec == "V_VP9" && m.nTracks == 1)
    // non-default timestamp scale: 100 µs ticks
    val m2 = Mkv.parse(Mkv.buildMinimal(100000L, 50.0, 64, 48, "V_AV1")).get
    assert(m2.durationMs == 5L) // 50 ticks × 0.1 ms
    assert(Mkv.parse("definitely not ebml".getBytes).isEmpty)
    assert(Mkv.parse(Array.emptyByteArray).isEmpty)
    assert(Mkv.parse(bytes.take(6)).isEmpty)
    // an MP4 is not an MKV and vice versa (the videoMeta dispatch)
    assert(Mkv.parse(graft.operators.Mp4.buildMinimal(1000, 1L, 2, 2, "avc1")).isEmpty)
    assert(graft.operators.Mp4.parse(bytes).isEmpty)
  }

  test("videoMeta: real parse for both containers, sentinel for garbage") {
    import spark.implicits._
    val mp4 = graft.operators.Mp4.buildMinimal(1000, 2000L, 640, 480, "avc1")
    val mkv = graft.operators.Mkv.buildMinimal(1000000L, 3000.0, 320, 240,
      "V_AV1")
    val media = Seq(
      (1L, mp4, "video"),
      (2L, "junk".getBytes, "video"),
      (3L, mp4, "image"), // non-video rows are filtered out
      (4L, mkv, "video"))
      .toDF("id", "content", "media_type")
    val rows = graft.operators.Multimodal.videoMeta(media)
      .orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).getBoolean(1) && rows(0).getLong(3) == 2000L &&
      rows(0).getInt(4) == 640 && rows(0).getInt(5) == 480 &&
      rows(0).getString(6) == "avc1")
    assert(!rows(1).getBoolean(1) && rows(1).getLong(3) == -1L)
    assert(rows(2).getBoolean(1) && rows(2).getString(2) == "matroska" &&
      rows(2).getLong(3) == 3000L && rows(2).getInt(4) == 320 &&
      rows(2).getInt(5) == 240 && rows(2).getString(6) == "V_AV1")
  }

  test("audioHash: volume-invariant, near-dups pair, distinct tracks do not") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    val rows = SparkEntry.audioFixtureRows()
    val hs = rows.map { case (id, b) =>
      id -> Multimodal.audioHash64(b).get }.toMap
    // half-volume copies hash within 1 bit (sign-of-delta survives any
    // monotone gain; only the nudged window can move)
    (0 until 8).foreach { i =>
      val d = java.lang.Long.bitCount(hs(i.toLong) ^ hs(100L + i))
      assert(d <= 6, s"near-dup $i at hamming $d")
    }
    // unrelated tracks stay far
    for ((a, ha) <- hs; (b, hb) <- hs if a < b && b != a + 100) {
      val d = java.lang.Long.bitCount(ha ^ hb)
      assert(d > 6, s"cross pair $a-$b unexpectedly close: $d")
    }
    // pure volume scaling (no nudge) is EXACTLY hash-invariant
    val base = rows.head._2
    val feat = Multimodal.audioHash64(base).get
    assert(hs(0L) == feat)
    // the pair generator finds each planted pair; junk drops
    val media = (rows :+ (999L, "not audio".getBytes)).toDF("id", "content")
    val pairs = Dedup.audioHashPairs(media, maxHamming = 6)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(pairs.length == pairs.toSet.size)
    (0 until 8).foreach { i =>
      assert(pairs.contains((i.toLong, 100L + i)), s"missing planted pair $i")
    }
    assert(!pairs.exists(p => p._1 == 999L || p._2 == 999L))
    assert(Multimodal.audioHash(media).count() == rows.length)
  }

  test("audioBlockPairs: silence-trimmed copies caught at a constant offset; global hash misses them") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    val rows = SparkEntry.audioShiftFixtureRows()
    val byId = rows.toMap
    // THE BLIND SPOT: the whole-track 65-window hash diverges on a
    // 0.125 s head trim (every window boundary shifts)
    (0 until 4).foreach { i =>
      val d = java.lang.Long.bitCount(
        Multimodal.audioHash64(byId(i.toLong)).get ^
          Multimodal.audioHash64(byId(100L + i)).get)
      assert(d > 6, s"global hash unexpectedly survived the trim: $d bits")
    }
    // block fingerprints of the trimmed copy EQUAL the base's at a
    // constant 2-hop offset (bit-identical PCM over the overlap)
    val base0 = Multimodal.audioBlockHashes(byId(0L)).get.toMap
    val trim0 = Multimodal.audioBlockHashes(byId(100L)).get.toMap
    assert(base0.size == 13 && trim0.size == 11)
    trim0.foreach { case (k, fp) => assert(base0(k + 2) == fp) }
    // the pair generator: every planted (base, trimmed) pair at off=2
    // with a full 11-block vote; no unrelated or cross pair; junk drops
    val media = (rows :+ (999L, "not audio".getBytes)).toDF("id", "content")
    val pairs = Dedup.audioBlockPairs(media)
      .select($"doc_a", $"doc_b", $"off", $"n_matches")
      .as[(Long, Long, Int, Long)].collect()
    val expected = (0 until 4).map(i => (i.toLong, 100L + i, 2, 11L)).toSet
    assert(pairs.toSet == expected, pairs.mkString(","))
    // kernel pinned against drift (the oracle's VALUES are generated
    // by this kernel, so the lane alone can't catch a silent change):
    // first and last sub-fingerprints of track 0 as literals
    assert(base0(0) == 1488015951 && base0(12) == -1316330184,
      s"kernel drift: ${base0(0)} ${base0(12)}")
    // the streaming/batch fingerprint face emits one row per block
    assert(Multimodal.audioBlockFingerprints(media).count() ==
      4 * 13 + 4 * 11 + 4 * 13)
  }

  test("pHash is dihedral-invariant: mirrored and rotated copies stay in threshold") {
    import graft.operators.Multimodal
    import java.awt.image.BufferedImage
    def reRender(bytes: Array[Byte])(f: (Int, Int, Int, Int) => (Int, Int)): Array[Byte] = {
      val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val out = new BufferedImage(im.getWidth, im.getHeight, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until im.getHeight; x <- 0 until im.getWidth) {
        val (sx, sy) = f(x, y, im.getWidth, im.getHeight)
        out.setRGB(x, y, im.getRGB(sx, sy))
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }
    val rows = SparkEntry.imageFixtureRows().take(8)
    rows.foreach { case (id, bytes) =>
      val h = Multimodal.phash64(bytes).get
      val mirror = Multimodal.phash64(
        reRender(bytes)((x, y, w, _) => (w - 1 - x, y))).get
      val rot90 = Multimodal.phash64(
        reRender(bytes)((x, y, _, h0) => (y, h0 - 1 - x))).get
      val rot180 = Multimodal.phash64(
        reRender(bytes)((x, y, w, h0) => (w - 1 - x, h0 - 1 - y))).get
      // each dihedral copy lands within the pair threshold (exact
      // equality up to the one-pixel sampling-grid offset of the
      // mirrored 64→32 downsample)
      Seq("mirror" -> mirror, "rot90" -> rot90, "rot180" -> rot180)
        .foreach { case (name, hh) =>
          val d = java.lang.Long.bitCount(h ^ hh)
          assert(d <= 6, s"image $id $name drifted $d bits")
        }
    }
  }

  test("pHash: near-identical images pair, distinct images do not, junk drops") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    val rows = SparkEntry.imageFixtureRows()
    // planted perturbation stays within a couple of bits
    val hs = rows.map { case (id, b) => id -> Multimodal.phash64(b).get }.toMap
    (0 until 8).foreach { i =>
      val d = java.lang.Long.bitCount(hs(i.toLong) ^ hs(100L + i))
      assert(d <= 6, s"near-dup $i at hamming $d")
    }
    // every non-planted pair stays far apart
    for ((a, ha) <- hs; (b, hb) <- hs if a < b && b != a + 100) {
      val d = java.lang.Long.bitCount(ha ^ hb)
      assert(d > 6, s"cross pair $a-$b unexpectedly close: $d")
    }
    // the pair generator finds each planted pair exactly once
    val media = (rows :+ (999L, "not an image".getBytes)).toDF("id", "content")
    val pairs = Dedup.imagePhashPairs(media, maxHamming = 6)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(pairs.length == pairs.toSet.size, "duplicate emissions")
    (0 until 8).foreach { i =>
      assert(pairs.contains((i.toLong, 100L + i)), s"missing planted pair $i")
    }
    // undecodable bytes drop at the fingerprint stage, never crash
    assert(!pairs.exists(p => p._1 == 999L || p._2 == 999L))
    assert(Multimodal.imagePhash(media).count() == rows.length)
  }
}
