package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Real-codec image decode (javax.imageio): synthetic PNG round trips,
  * analytic pixel statistics, failure isolation, and the luminance-grid
  * feature contract. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("PNG round trip recovers exact pixel statistics") {
    val ids = spark.range(0, 50).select(col("id").as("media_id"))
    val decoded = Multimodal.decodeImages(spark,
      Multimodal.synthesizeImages(spark, ids))
    val rows = decoded.select("media_id", "decode_ok", "width", "height",
      "mean_r", "mean_g", "mean_b").collect()
    assert(rows.length == 50 && rows.forall(_.getBoolean(1)))
    rows.foreach { r =>
      val id = r.getLong(0)
      val w = 4 + (id % 5).toInt; val h = 3 + (id % 4).toInt
      assert(r.getInt(2) == w && r.getInt(3) == h, s"dims for id=$id")
      val expR = (0 until w).map(x => ((id + x) % 251).toDouble).sum / w
      assert(math.abs(r.getDouble(4) - expR) < 1e-9, s"mean_r for id=$id")
      assert(r.getDouble(5) == ((id * 7) % 251).toDouble, s"mean_g for id=$id")
      assert(r.getDouble(6) == ((id * 13) % 251).toDouble, s"mean_b for id=$id")
    }
  }

  test("luminance grid features match the analytic thumbnail") {
    // one 8x8 image, gridN=2: each 4x4 cell's mean luminance is computable
    // from the gradient formula
    val one = Seq(100L).toDF("media_id")
      .select(col("media_id"), lit(Multimodal.syntheticPng(100L, 8, 8)).as("payload"))
    val feats = Multimodal.decodeImages(spark, one, gridN = 2)
      .select("features").as[Seq[Float]].head()
    assert(feats.length == 4)
    val g = (100L * 7 % 251).toDouble; val b = (100L * 13 % 251).toDouble
    def luma(xs: Range): Float = {
      val rMean = xs.map(x => ((100L + x) % 251).toDouble)
        .map(r => (0.299 * r + 0.587 * g + 0.114 * b) / 255.0)
      (rMean.sum / rMean.size).toFloat
    }
    // cells 0,1 (top row) equal cells 2,3 (bottom row): gradient is x-only
    assert(math.abs(feats(0) - luma(0 until 4)) < 1e-4)
    assert(math.abs(feats(1) - luma(4 until 8)) < 1e-4)
    assert(feats(0) == feats(2) && feats(1) == feats(3))
  }

  test("corrupt and null payloads isolate as decode_ok=false, no task failure") {
    val rows = Seq(
      (1L, Multimodal.syntheticPng(1L, 5, 5)),
      (2L, Array[Byte](1, 2, 3, 4)),          // not an image
      (3L, null.asInstanceOf[Array[Byte]])
    ).toDF("media_id", "payload")
    val got = Multimodal.decodeImages(spark, rows)
      .select("media_id", "decode_ok").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false))
    // failed rows carry null stats, not garbage
    val failed = Multimodal.decodeImages(spark, rows)
      .filter(!col("decode_ok")).select("width", "mean_r").collect()
    assert(failed.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("resize rescales through the codec; failures keep the original payload") {
    val rows = Seq(
      (1L, Multimodal.syntheticSolidPng(9L, 8, 6)),
      (2L, Array[Byte](9, 9, 9))
    ).toDF("media_id", "payload")
    val resized = Multimodal.resizeImages(spark, rows, 4, 3)
    val decoded = Multimodal.decodeImages(spark, resized)
      .select("media_id", "resize_ok", "width", "height", "mean_r", "mean_g", "mean_b")
      .collect().map(r => r.getLong(0) -> r).toMap
    val ok = decoded(1L)
    assert(ok.getBoolean(1) && ok.getInt(2) == 4 && ok.getInt(3) == 3)
    // constant image stays exactly constant through bilinear resize + PNG
    assert(ok.getDouble(4) == (9L % 251).toDouble)
    assert(ok.getDouble(5) == (9L * 7 % 251).toDouble)
    assert(ok.getDouble(6) == (9L * 13 % 251).toDouble)
    // undecodable payload: resize_ok=false, payload untouched
    val bad = resized.filter(col("media_id") === 2L)
      .select("resize_ok", "payload").head()
    assert(!bad.getBoolean(0) && bad.getAs[Array[Byte]](1).toSeq == Seq[Byte](9, 9, 9))
    // a non-constant image really resamples: gradient 8x8 -> 2x2 keeps the
    // left-cell mean below the right-cell mean (x-gradient preserved)
    val grad = Seq((3L, Multimodal.syntheticPng(0L, 8, 8))).toDF("media_id", "payload")
    val g = Multimodal.decodeImages(spark,
      Multimodal.resizeImages(spark, grad, 2, 2), gridN = 2)
      .select("features").as[Seq[Float]].head()
    assert(g(0) < g(1) && g(2) < g(3))
  }

  test("audio decode round-trips the WAV codec; stats match the analytic form") {
    val ids = Seq(0L, 9L, 13L, 899L, 904L)
    val rows = ids.map(id => (id, Multimodal.syntheticWav(id)))
      .toDF("media_id", "payload")
    val decoded = Multimodal.decodeAudio(spark, rows)
      .select("media_id", "audio_ok", "sample_rate", "channels", "n_samples",
        "duration_ms", "rms", "peak", "zero_crossings")
      .collect().map(r => r.getLong(0) -> r).toMap
    ids.foreach { id =>
      val h = 2 + (id % 7).toInt
      val n = 160 + (id % 5).toInt * 40
      val a = 1000 + (id % 900).toInt * 30
      val r = decoded(id)
      assert(r.getBoolean(1) && r.getInt(2) == 8000 && r.getInt(3) == 1)
      assert(r.getLong(4) == n && r.getLong(5) == n / 8)
      assert(r.getDouble(6) == a.toDouble && r.getInt(7) == a)
      assert(r.getLong(8) == (n - 1) / h)
    }
  }

  test("audio decode isolates undecodable payloads and reads AIFF too") {
    // AIFF: same PCM samples, big-endian container — the codec's conversion
    // chain normalizes it, so the stats are identical to the WAV form
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val a = 500
    val pcm = Array.tabulate(80)(i => if ((i / 4) % 2 == 0) a else -a)
    val bytes = pcm.flatMap(s => Array(((s >> 8) & 0xff).toByte, (s & 0xff).toByte))
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, 80L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val rows = Seq((1L, bos.toByteArray), (2L, Array[Byte](1, 2, 3)))
      .toDF("media_id", "payload")
    val out = Multimodal.decodeAudio(spark, rows)
      .select("media_id", "audio_ok", "n_samples", "rms", "zero_crossings")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(1) && out(1L).getLong(2) == 80
      && out(1L).getDouble(3) == a.toDouble && out(1L).getLong(4) == 79 / 4)
    assert(!out(2L).getBoolean(1) && out(2L).isNullAt(2))
  }

  test("AVI/DIB video decode recovers exact per-frame statistics") {
    val ids = Seq(0L, 1L, 5L, 11L, 197L, 404L)
    val rows = ids.map(id => (id, Multimodal.syntheticAvi(id)))
      .toDF("media_id", "payload")
    val got = Multimodal.decodeVideo(spark, rows)
      .select("media_id", "video_ok", "n_frames", "width", "height", "fps",
        "duration_ms", "mean_r", "mean_g", "mean_b", "frame_luma")
      .collect().map(r => r.getLong(0) -> r).toMap
    ids.foreach { id =>
      val f = 2 + (id % 4).toInt
      val r = got(id)
      assert(r.getBoolean(1), s"video_ok for id=$id")
      assert(r.getInt(2) == f && r.getInt(3) == 4 * (1 + (id % 3).toInt)
        && r.getInt(4) == 2 + (id % 3).toInt && r.getInt(5) == 5 + (id % 6).toInt)
      assert(r.getLong(6) == f.toLong * 1000L / (5 + (id % 6).toInt))
      // mean red across frames: frame k is id%200 + 10k → exactly id%200 + 5(f-1)
      assert(r.getDouble(7) == ((id % 200) + 5 * (f - 1)).toDouble, s"mean_r for id=$id")
      assert(r.getDouble(8) == ((id * 7) % 251).toDouble)
      assert(r.getDouble(9) == ((id * 13) % 251).toDouble)
      // per-frame luminance track: one entry per frame, strictly increasing
      // (red channel grows 10/frame, green/blue constant)
      val lumas = r.getSeq[Float](10)
      assert(lumas.length == f && lumas.sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
    }
  }

  test("MJPG video decodes through the real JPEG codec; garbage isolates") {
    val rows = Seq(
      (7L, Multimodal.syntheticAvi(7L, mjpeg = true)),
      (8L, Array[Byte](82, 73, 70, 70, 0, 0))  // truncated RIFF
    ).toDF("media_id", "payload")
    val got = Multimodal.decodeVideo(spark, rows)
      .select("media_id", "video_ok", "n_frames", "width", "height",
        "mean_r", "mean_g", "mean_b")
      .collect().map(r => r.getLong(0) -> r).toMap
    val ok = got(7L)
    val f = 2 + (7L % 4).toInt
    assert(ok.getBoolean(1) && ok.getInt(2) == f
      && ok.getInt(3) == 4 * (1 + (7 % 3)) && ok.getInt(4) == 2 + (7 % 3))
    // JPEG is lossy: channel means within a few levels of the target
    assert(math.abs(ok.getDouble(5) - ((7L % 200) + 5 * (f - 1))) < 4.0)
    assert(math.abs(ok.getDouble(6) - (7L * 7 % 251)) < 4.0)
    assert(math.abs(ok.getDouble(7) - (7L * 13 % 251)) < 4.0)
    assert(!got(8L).getBoolean(1) && got(8L).isNullAt(2))
  }

  test("extractFrames emits every k-th frame as a decodable PNG") {
    val id = 3L // f = 2 + 3%4 = 5 frames, w=4*(1+0)=4, h=2+0=2
    val rows = Seq((id, Multimodal.syntheticAvi(id))).toDF("media_id", "payload")
    val frames = Multimodal.extractFrames(spark, rows, everyK = 2)
      .select("media_id", "frame_idx", "frame_png")
    // frames 0, 2, 4 kept; re-decode each PNG and check the frame color
    val decoded = Multimodal.decodeImages(spark,
        frames.withColumnRenamed("frame_png", "payload"))
      .select("frame_idx", "decode_ok", "width", "height", "mean_r", "mean_g")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(decoded.keySet == Set(0, 2, 4))
    decoded.foreach { case (k, r) =>
      assert(r.getBoolean(1) && r.getInt(2) == 4 && r.getInt(3) == 2)
      assert(r.getDouble(4) == ((id % 200) + 10 * k).toDouble, s"frame $k red")
      assert(r.getDouble(5) == (id * 7 % 251).toDouble)
    }
  }

  test("video decode survives adversarial payloads without task failures") {
    // deterministic pseudo-random garbage, truncated containers, and
    // headers lying about sizes — all must isolate, never throw
    val rnd = new scala.util.Random(42)
    val good = Multimodal.syntheticAvi(5L)
    val payloads: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray,
      Array.fill(64)(rnd.nextInt().toByte),
      good.take(20),                                  // truncated after header
      good.take(good.length - 3),                     // truncated mid-frame
      "RIFF".getBytes ++ Array.fill(8)(0xff.toByte),  // absurd declared size
      good.updated(40, 0x7f.toByte)                   // corrupted header field
    )
    val rows = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("media_id", "payload")
    val out = Multimodal.decodeVideo(spark, rows)
      .select("media_id", "video_ok").as[(Long, Boolean)].collect()
    assert(out.length == payloads.size) // every row survived
    // and a valid container among garbage still decodes
    val mixed = (Seq((100L, good)) ++ payloads.zipWithIndex.map {
      case (p, i) => (i.toLong, p)
    }).toDF("media_id", "payload")
    val okMap = Multimodal.decodeVideo(spark, mixed)
      .select("media_id", "video_ok").as[(Long, Boolean)].collect().toMap
    assert(okMap(100L))
  }

  test("decode also reads BMP and GIF payloads (stock-JVM codecs)") {
    def encode(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(3, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 3).foreach(x => (0 until 2).foreach(y => img.setRGB(x, y, 0x102030)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos); bos.toByteArray
    }
    val df = Seq(("bmp", encode("bmp")), ("gif", encode("gif")))
      .toDF("fmt", "payload")
    val got = Multimodal.decodeImages(spark, df)
      .select("fmt", "decode_ok", "width", "height", "mean_r", "mean_g", "mean_b")
      .collect()
    got.foreach { r =>
      assert(r.getBoolean(1) && r.getInt(2) == 3 && r.getInt(3) == 2, r.toString)
      assert(r.getDouble(4) == 0x10 && r.getDouble(5) == 0x20 && r.getDouble(6) == 0x30)
    }
  }

  test("dHash recovers the encoded pattern and isolates decode failures per row") {
    val ids = spark.range(0, 40).select(col("id").as("media_id"))
    // every 5th payload is corrupt — valid neighbors in the SAME partition
    // must still hash (per-row failure isolation, not per-partition)
    val mixed = Multimodal.synthesizeDhashImages(spark, ids)
      .withColumn("payload",
        when(col("media_id") % 5 === 3, lit("garbage".getBytes("UTF-8")))
          .otherwise(col("payload")))
      .coalesce(1)
    val out = Multimodal.imageDHash(spark, mixed)
      .select("media_id", "dhash_ok", "dhash").collect()
    assert(out.length == 40)
    out.foreach { r =>
      val id = r.getLong(0)
      if (id % 5 == 3) assert(!r.getBoolean(1) && r.isNullAt(2), s"corrupt id=$id")
      else {
        assert(r.getBoolean(1), s"ok flag id=$id")
        assert(r.getLong(2) == Multimodal.dhashPattern(id, 12),
          s"pattern for id=$id: got ${r.getLong(2).toHexString}")
      }
    }
    // perturbation arithmetic: id=36 (36/12 = 3, 3%7 == 3) is the PERTURBED
    // variant of class 0 (id=0) — exactly two bits apart, a genuine near-dup
    assert(java.lang.Long.bitCount(
      Multimodal.dhashPattern(36L, 12) ^ Multimodal.dhashPattern(0L, 12)) == 2)
  }

  test("dHash non-9x8 path: bilinear resize runs, constant and monotone images pin it") {
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    // constant image: any correct rescale is the same constant, so every
    // adjacent-pixel comparison is false — dhash must be exactly 0
    val solid = Multimodal.syntheticSolidPng(5L, 20, 15)
    // strictly x-increasing grayscale (gray = 7x, 36 wide): any convex
    // resampling at increasing x positions stays strictly increasing, so
    // every comparison is true — dhash must be all 64 bits set (-1L)
    val grad = {
      val img = new java.awt.image.BufferedImage(36, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 36).foreach { x =>
        val v = x * 7
        (0 until 32).foreach(y => img.setRGB(x, y, (v << 16) | (v << 8) | v))
      }
      png(img)
    }
    val df = Seq((0L, solid), (1L, grad)).toDF("media_id", "payload")
    val got = Multimodal.imageDHash(spark, df)
      .select("media_id", "dhash_ok", "dhash").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(got(0L) == ((true, 0L)), s"solid: ${got(0L)}")
    assert(got(1L) == ((true, -1L)), s"gradient: ${got(1L)}")
  }

  test("audio fingerprint recovers the encoded pattern; short/corrupt clips isolate") {
    val ids = spark.range(0, 30).select(col("id").as("media_id"))
    val mixed = Multimodal.synthesizeFingerprintWavs(spark, ids)
      .withColumn("payload",
        when(col("media_id") % 7 === 2, lit("hiss".getBytes("UTF-8")))
          .otherwise(col("payload")))
      .coalesce(1)
    val out = Multimodal.audioFingerprint(spark, mixed)
      .select("media_id", "afp_ok", "afp").collect()
    out.foreach { r =>
      val id = r.getLong(0)
      if (id % 7 == 2) assert(!r.getBoolean(1) && r.isNullAt(2), s"corrupt id=$id")
      else assert(r.getBoolean(1) &&
        r.getLong(2) == Multimodal.dhashPattern(id, 12), s"pattern id=$id")
    }
    // a clip with fewer than 65 samples has no 65-window split: ok=false,
    // not a garbage fingerprint (syntheticWav(id) length 160+: use a tiny
    // hand-built WAV instead)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val tiny = {
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](40 * 2)), fmt, 40L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val short = Multimodal.audioFingerprint(spark,
      Seq((0L, tiny)).toDF("media_id", "payload")).select("afp_ok").head()
    assert(!short.getBoolean(0), "a 40-sample clip must not fingerprint")
  }

  test("audioFingerprint robustness contract: level-scale and end-trim invariant, front-trim not") {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    def wav(pcm: Array[Short]): Array[Byte] = {
      val bytes = new Array[Byte](pcm.length * 2)
      var i = 0
      while (i < pcm.length) {
        bytes(i * 2) = (pcm(i) & 0xff).toByte
        bytes(i * 2 + 1) = ((pcm(i) >> 8) & 0xff).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, pcm.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // 65 windows × 16 samples of a ±50 amplitude walk (the synthetic
    // fixture's construction) + 10 SLACK samples past the hashed range
    val pattern = 0x5a5aa5a5deadbeefL
    val win = 16
    val walk = Array.newBuilder[Short]
    var a = 5000
    for (w <- 0 until 65) {
      for (i <- 0 until win) walk += (if (i % 2 == 0) a else -a).toShort
      if (w < 64) a = if (((pattern >>> w) & 1L) == 1L) a + 50 else a - 50
    }
    val slack = Array.fill[Short](10)(1234)
    val base = walk.result() ++ slack
    def fp(pcm: Array[Short]): (Boolean, Any) = {
      val r = Multimodal.audioFingerprint(spark,
        Seq((1L, wav(pcm))).toDF("media_id", "payload"))
        .select("afp_ok", "afp").head()
      (r.getBoolean(0), if (r.isNullAt(1)) null else r.getLong(1))
    }
    val (okB, hB) = fp(base)
    assert(okB && hB == pattern, s"base fingerprint must recover the pattern, got $hB")
    // positive linear gain (halve every sample): window sums scale
    // uniformly; the fixture's ±50·16 window-sum margins dwarf the ≤16
    // half-unit truncation error, so the hash is bit-identical. (Arbitrary
    // MONOTONE maps are outside the contract — they can reorder sums.)
    assert(fp(base.map(s => (s / 2).toShort)) == ((true, pattern)),
      "level scaling must not flip a bit")
    // END-trim within the tail slack: n/65 unchanged → windows unchanged
    assert(fp(base.dropRight(6)) == ((true, pattern)),
      "end-trim inside the slack must be exactly invariant")
    // end-PAD below the next window boundary is the same statement
    assert(fp(base ++ Array.fill[Short](4)(99)) == ((true, pattern)),
      "end-pad inside the slack must be exactly invariant")
    // FRONT-trim shifts every window boundary: outside the contract — the
    // scaladoc's stated limitation, pinned so it stays stated truthfully
    val (okF, hF) = fp(base.drop(win))
    assert(okF && hF != pattern,
      "front-trim unexpectedly preserved the hash — update the documented contract")
  }

  test("video frame dHash recovers per-frame patterns; failed demux stays visible") {
    val ids = spark.range(0, 10).select(col("id").as("media_id"))
    val mixed = Multimodal.synthesizeDhashAvis(spark, ids, groups = 5)
      .withColumn("payload",
        when(col("media_id") === 7, lit("not an avi".getBytes("UTF-8")))
          .otherwise(col("payload")))
    val out = Multimodal.videoFrameDHash(spark, mixed)
      .select("media_id", "frame_idx", "dhash", "frame_ok").collect()
    val byVideo = out.groupBy(_.getLong(0))
    assert(byVideo(7L).length == 1 && !byVideo(7L).head.getBoolean(3),
      "failed demux must yield exactly one ok=false row")
    byVideo.filterNot(_._1 == 7L).foreach { case (id, rows) =>
      assert(rows.length == 3, s"video $id frame count")
      rows.foreach { r =>
        assert(r.getBoolean(3))
        assert(r.getLong(2) ==
          Multimodal.videoFramePattern(id, 5, r.getInt(1)), s"video $id frame ${r.getInt(1)}")
      }
    }
    // near-dup composition: 5 classes x 2 videos -> each pair shares all 3
    // frame clusters (frame 0 of the perturbed member is 2 bits away)
    val pairs = Dedup.videoNearDups(
      Multimodal.videoFrameDHash(spark,
        Multimodal.synthesizeDhashAvis(spark, ids, groups = 5)), minShared = 3)
      .collect()
    assert(pairs.length == 5, s"got ${pairs.length} pairs")
    pairs.foreach(p => assert(p.getLong(2) == 3, p.toString))
  }

  test("videoDedup: classes collapse to smallest member, corrupt rows kept") {
    val ids = spark.range(0, 10).select(col("id").as("media_id"))
    val mixed = Multimodal.synthesizeDhashAvis(spark, ids, groups = 5)
      .withColumn("payload",
        when(col("media_id") === 6, lit("garbage".getBytes("UTF-8")))
          .otherwise(col("payload")))
    val out = Curation.videoDedup(spark, mixed, minShared = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.size == 10)
    assert(out(6L) == ((false, -1L, true)), s"corrupt row: ${out(6L)}")
    // classes are id%5 over 0..9: {0,5} {1,6} {2,7} {3,8} {4,9}; 6 corrupt
    // → 1 becomes a singleton (own cluster, kept)
    assert(out(1L) == ((true, 1L, true)))
    assert(out(0L) == ((true, 0L, true)) && out(5L) == ((true, 0L, false)))
    assert(out(2L) == ((true, 2L, true)) && out(7L) == ((true, 2L, false)))
    assert(out(9L) == ((true, 4L, false)))
  }

  test("PartitionImageDecoder parity: PNG, corrupt, and unknown payloads " +
    "decode exactly as ImageIO.read (dhash + failure verdicts)") {
    val media = spark.range(0, 60).select(col("id").as("media_id"))
    val good = Multimodal.imageDHash(spark,
      Multimodal.synthesizeDhashImages(spark, media))
      .select(col("media_id"), col("dhash"), col("dhash_ok")).collect()
    // every synthetic PNG decodes through the cached reader to the exact
    // fixture pattern ImageIO.read recovered in every prior round
    good.foreach { r =>
      assert(r.getBoolean(2), s"decode failed for ${r.getLong(0)}")
      assert(r.getLong(1) == Multimodal.dhashPattern(r.getLong(0), 12),
        s"dhash mismatch for ${r.getLong(0)}")
    }
    // corrupt PNG-magic payload and unknown-format payload both yield the
    // old path's verdict: dhash_ok = false, no task failure
    val pngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 1, 2, 3)
    val junk = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9)
    val bad = spark.createDataFrame(Seq((1L, pngMagic), (2L, junk), (3L, null)))
      .toDF("media_id", "payload")
    val badOut = Multimodal.imageDHash(spark, bad)
      .select(col("media_id"), col("dhash_ok")).collect()
    assert(badOut.forall(!_.getBoolean(1)), "corrupt payloads must fail soft")
    // and a good row AFTER a corrupt row on the same partition still
    // decodes (the reader is disposed and re-created after an error)
    val mixed = spark.createDataFrame(Seq(
        (1L, pngMagic),
        (2L, Multimodal.syntheticDhashPng(Multimodal.dhashPattern(2L, 12)))))
      .toDF("media_id", "payload").repartition(1)
    val mixedOut = Multimodal.imageDHash(spark, mixed)
      .select(col("media_id"), col("dhash"), col("dhash_ok"))
      .collect().sortBy(_.getLong(0))
    assert(!mixedOut(0).getBoolean(2))
    assert(mixedOut(1).getBoolean(2) &&
      mixedOut(1).getLong(1) == Multimodal.dhashPattern(2L, 12))
  }
}
