package graft

import org.apache.spark.sql.functions._
import graft.functions.{CleanFunctions, LicenseMap, PercentileDiscAgg}
import graft.operators.Multimodal
import graft.sources.Tsv

/** Specs for the enrichment-round modules: TSV boundary, multimodal
  * decode parity, custom percentile aggregate, license map, HTML strip.
  */
class EnrichmentSpec extends SparkSpec {
  import spark.implicits._

  test("TSV round-trip preserves values and \\N nulls") {
    val dir = java.nio.file.Files.createTempDirectory("tsv").toString
    val df = Seq(
      ("fid1", "https://l/1", "https://u/1", null.asInstanceOf[String],
        "jpg", 123, "by", "4.0"),
      ("fid2", "https://l/2", "https://u/2", "https://t/2",
        null.asInstanceOf[String], 0, "cc0", "1.0"))
      .toDF("foreign_identifier", "foreign_landing_url", "url",
        "thumbnail_url", "filetype", "filesize", "license_",
        "license_version")
    val full = Tsv.imageV001.fieldNames.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(
        Tsv.imageV001(c).dataType))
    }.select(Tsv.imageV001.fieldNames.map(col): _*)
    Tsv.write(full, s"$dir/out")
    val back = Tsv.read(spark, s"$dir/out")
    assert(back.count() == 2)
    val r = back.orderBy("foreign_identifier").collect()
    assert(r(0).getAs[String]("thumbnail_url") == null)
    assert(r(0).getAs[Int]("filesize") == 123)
    assert(r(1).getAs[String]("filetype") == null)
    assert(r(1).getAs[String]("license_") == "cc0")
  }

  test("TSV version detection and schema registry (paths.py:31-48)") {
    assert(Tsv.tsvVersion("behance_image_20210906130355.tsv") == "000")
    assert(Tsv.tsvVersion("jamendo_audio_v005_20210906130355.tsv") == "005")
    assert(Tsv.schemaForFile("behance_image_20210906130355.tsv") ==
      Tsv.imageV000)
    assert(Tsv.schemaForFile("flickr_image_v001_20210906130355.tsv") ==
      Tsv.imageV001)
    assert(Tsv.schemaForFile("jamendo_audio_v001_20210906130355.tsv") ==
      Tsv.audioV001)
    intercept[IllegalArgumentException] {
      Tsv.schemaFor("audio", "000") // audio history starts at 001
    }
  }

  test("legacy v000 TSV round-trips with mid-row width/height") {
    val dir = java.nio.file.Files.createTempDirectory("tsv0").toString
    val line = Seq("fid9", "https://l/9", "https://u/9", "\\N", "640",
      "480", "\\N", "by", "4.0", "who", "\\N", "t9", "{}", "\\N", "f",
      "behance", "behance", "provider_api").mkString("\t")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/behance_image_20210906130355.tsv"),
      line.getBytes("UTF-8"))
    val back = Tsv.read(spark, s"$dir/behance_image_20210906130355.tsv",
      Tsv.schemaForFile("behance_image_20210906130355.tsv"))
    val r = back.collect().head
    assert(r.getAs[Int]("width") == 640 && r.getAs[Int]("height") == 480)
    assert(r.getAs[String]("thumbnail_url") == null)
    assert(r.getAs[String]("provider") == "behance")
    assert(back.schema.fieldNames.toSeq.take(6) == Seq("foreign_identifier",
      "foreign_landing_url", "url", "thumbnail_url", "width", "height"))
  }

  test("audioSetView keeps the newest row per (set fid, provider)") {
    val rows = Seq(
      // (track fid, provider, updated_on, set fid, set title, duration)
      ("t1", "jamendo", 10L, "s1", "Set One v1", 100L),
      ("t2", "jamendo", 30L, "s1", "Set One v3", 3000000000L),
      ("t3", "jamendo", 20L, "s1", "Set One v2", 200L),
      ("t4", "other", 5L, "s1", "Set One other-provider", 50L),
      ("t5", "jamendo", 7L, "s2", "Set Two", 70L))
    val df = rows.toDF("foreign_identifier", "provider", "updated_on",
        "sfid", "stitle", "duration")
      .withColumn("audio_set", concat(lit("{\"foreign_identifier\":\""),
        col("sfid"), lit("\",\"title\":\""), col("stitle"), lit("\"}")))
      .withColumn("tags", lit(null).cast("string"))
      .withColumn("alt_files", lit(null).cast("string"))
      .withColumn("genres", lit(null).cast("string"))
    val got = graft.operators.AudioSets.audioSetView(
        graft.operators.AudioSets.typedAudio(df),
        extraCols = Seq("duration"))
      .orderBy("foreign_identifier", "provider").collect()
    assert(got.length == 3) // (s1,jamendo), (s1,other), (s2,jamendo)
    val s1 = got.find(r => r.getAs[String]("foreign_identifier") == "s1" &&
      r.getAs[String]("provider") == "jamendo").get
    assert(s1.getAs[String]("title") == "Set One v3") // newest wins
    // P14: the winning row's overflowing duration was guarded to null
    assert(s1.get(s1.fieldIndex("duration")) == null)
  }

  test("multimodal mapPartitions decode equals the expression form") {
    val docs = Tables(spark, sfDir, "documents").limit(50)
    val blobs = Multimodal.asBlobs(
      docs.select(col("doc_id").as("id"), lit("image").as("kind"),
        col("text").cast("binary").as("content")),
      "id", "kind", "content")
    val decoded = Multimodal.decode(blobs)
      .select(col("id"), col("n_bytes"), col("fingerprint"),
        col("width"), col("height"))
    val viaExpr = graft.queries.EnrichmentQueries.q37.run(spark, sfDir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id").as("id"), col("n_bytes"), col("fingerprint"),
        col("width").cast("int").as("width"),
        col("height").cast("int").as("height"))
    assert(decoded.exceptAll(viaExpr).isEmpty &&
      viaExpr.exceptAll(decoded).isEmpty)
  }

  test("multimodal dedupStats: counts, bytes and reclaim per kind") {
    import spark.implicits._
    val blobs = Seq(
      (1L, "image", "aaaa"), (2L, "image", "aaaa"), (3L, "image", "bb"),
      (4L, "audio", "cccc"), (5L, "audio", "cccc"), (6L, "audio", "cccc")
    ).toDF("id", "kind", "s")
      .select(col("id"), col("kind"), col("s").cast("binary").as("content"))
    val got = Multimodal.dedupStats(blobs, "id", "kind", "content")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // image: 3 blobs, 2 distinct, 4+4+2=10 bytes, one dup "aaaa" = 4
    assert(got("image") == ((3L, 2L, 10L, 4L)))
    // audio: 3 copies of "cccc": 12 total, 8 reclaimable
    assert(got("audio") == ((3L, 1L, 12L, 8L)))
  }

  test("multimodal decode reads real PNG/JPEG/GIF headers: true " +
    "width/height/channels") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def encode(w: Int, h: Int, imgType: Int, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, imgType)
      img.setRGB(0, 0, 0xff8040)               // non-trivial pixel
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val payloads = Seq(
      // (id, bytes, expected (w, h, channels, decoder))
      (1L, encode(123, 45, BufferedImage.TYPE_INT_RGB, "png"),
        (123, 45, 3, "png")),
      (2L, encode(64, 32, BufferedImage.TYPE_INT_ARGB, "png"),
        (64, 32, 4, "png")),
      (3L, encode(77, 19, BufferedImage.TYPE_INT_RGB, "jpg"),
        (77, 19, 3, "jpeg")),
      (4L, encode(50, 60, BufferedImage.TYPE_BYTE_GRAY, "gif"),
        (50, 60, 1, "gif")))
    val blobs = Multimodal.asBlobs(
      payloads.map { case (id, b, _) => (id, "image", b) }
        .toDF("id", "kind", "content"), "id", "kind", "content")
    val decoded = Multimodal.decode(blobs).collect()
      .map(d => d.id -> d).toMap
    payloads.foreach { case (id, bytes, (w, h, ch, fmt)) =>
      val d = decoded(id)
      assert(d.width == w && d.height == h, s"id=$id dims")
      assert(d.channels == ch, s"id=$id channels got ${d.channels}")
      assert(d.decoder == fmt, s"id=$id decoder got ${d.decoder}")
      assert(d.n_bytes == bytes.length)
    }
    // non-image bytes: stub fallback, digest-derived dims, flagged
    val junk = Multimodal.decode(Multimodal.asBlobs(
      Seq((9L, "audio", "definitely not an image".getBytes("UTF-8")))
        .toDF("id", "kind", "content"), "id", "kind", "content"))
      .collect().head
    assert(junk.decoder == "stub" && junk.width >= 64 && junk.height >= 64)
  }

  test("multimodal resize really resamples pixels for decodable images") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    // a 200x100 two-tone PNG: left half red, right half blue
    val img = new BufferedImage(200, 100, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 200; y <- 0 until 100)
      img.setRGB(x, y, if (x < 100) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(img, "png", bos))
    val png = bos.toByteArray
    val junk = "not an image at all".getBytes("UTF-8")
    val blobs = Multimodal.asBlobs(
      Seq((1L, "image", png), (2L, "audio", junk))
        .toDF("id", "kind", "content"), "id", "kind", "content")
    val decoded = Multimodal.decode(blobs)
    val resized = Multimodal.resize(decoded, blobs, 100, 100)
      .collect().map(r => r.id -> r).toMap
    val r1 = resized(1L)
    // geometry: 200x100 into a 100x100 box -> 100x50 at scale 0.5
    assert(r1.width == 100 && r1.height == 50 && r1.scale == 0.5)
    assert(r1.reencoded)
    // the payload is a REAL image of exactly those dims…
    val out = ImageIO.read(new java.io.ByteArrayInputStream(r1.content))
    assert(out != null && out.getWidth == 100 && out.getHeight == 50)
    // …whose pixels survived the resample: left red, right blue
    val lp = out.getRGB(10, 25)
    val rp = out.getRGB(90, 25)
    assert(((lp >> 16) & 0xff) > 200 && (lp & 0xff) < 50, "left half red")
    assert((rp & 0xff) > 200 && ((rp >> 16) & 0xff) < 50, "right half blue")
    // undecodable payloads keep geometry semantics, bytes untouched
    val r2 = resized(2L)
    assert(!r2.reencoded && java.util.Arrays.equals(r2.content, junk))
    // an image already inside the box: scale 1.0, no transcode
    val fit = Multimodal.resize(decoded, blobs, 640, 480)
      .collect().find(_.id == 1L).get
    assert(fit.scale == 1.0 && !fit.reencoded &&
      java.util.Arrays.equals(fit.content, png))
  }

  test("multimodal resize geometry, frame fan-out, stub embeddings") {
    val docs = Tables(spark, sfDir, "documents").limit(20)
    val blobs = Multimodal.asBlobs(
      docs.select(col("doc_id").as("id"), lit("video").as("kind"),
        col("text").cast("binary").as("content")),
      "id", "kind", "content")
    val decoded = Multimodal.decode(blobs)
    // resize: fits inside the box, aspect preserved, never upscales
    val resized = Multimodal.resize(decoded, blobs, 320, 240).collect()
    assert(resized.length == 20)
    resized.foreach { r =>
      assert(r.width <= 320 && r.height <= 240 && r.scale <= 1.0)
    }
    val d0 = decoded.filter(col("id") === resized.head.id).collect().head
    val r0 = resized.head
    // aspect ratio preserved within integer truncation
    assert(math.abs(r0.width.toDouble / r0.height -
      d0.width.toDouble / d0.height) < 0.05 || r0.scale == 1.0)
    // frame sampling: every non-empty blob fans out to exactly n frames
    // covering the payload in order
    val frames = Multimodal.sampleFrames(blobs, 4)
    assert(frames.count() == 80)
    val f = frames.filter(col("id") === 0).collect().sortBy(_.frame_idx)
    val orig = blobs.filter(col("id") === 0).collect().head.content
    assert(f.map(_.frame_bytes.length).sum == orig.length)
    assert(java.util.Arrays.equals(f.flatMap(_.frame_bytes), orig))
    // stub embeddings: unit-norm fixed-dim vectors, deterministic
    val emb = Multimodal.embedStub(blobs, dim = 16)
    val v = emb.filter(col("id") === 1).collect()
      .head.getAs[collection.Seq[Float]]("embedding")
    assert(v.length == 16)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4)
    val v2 = Multimodal.embedStub(blobs, dim = 16)
      .filter(col("id") === 1).collect()
      .head.getAs[collection.Seq[Float]]("embedding")
    assert(v == v2)
  }

  test("real image embedding: decoded pixel means exact, duplicate " +
      "payloads collapse, ANN retrieves the duplicate end to end") {
    import graft.operators.Similarity
    // 120 blobs over 40 seed classes -> 3 byte-identical copies each
    val blobs = spark.range(0, 120).as[Long].map(id =>
      Multimodal.MediaBlob(id, "image", Multimodal.syntheticPng(id % 40)))
    val emb = Multimodal.embedImage(blobs, grid = 4)
    val rows = emb.collect()
    assert(rows.length == 120 && rows.forall(_.decoder == "pixels"))
    // the decode is REAL: feature 0 = red mean of patch (0,0) for
    // seed 0 = mean of (7x+13y)%256 over x,y in 0..3 = 30.0 exactly;
    // feature 1 = the green formula's mean — any channel-order or
    // indexing bug fails here
    val e0 = rows.find(_.id == 0L).get.embedding
    assert(e0.length == 48)
    assert(e0.head == 30.0)
    assert(e0(1) == (for { y <- 0 until 4; x <- 0 until 4 }
      yield (3 * x + 5 * y) % 256).sum / 16.0)
    val corpus = emb.toDF()
      .select(col("id").as("vec_id"), col("embedding"))
    // equal payloads embed equally; the 40 classes stay distinct
    assert(corpus.select("embedding").distinct().count() == 40)
    // a NEW query payload duplicating seed 7 retrieves all three
    // corpus copies (ids 7, 47, 87) — brute force and the IVF path
    // agree, completing bytes -> decode -> embed -> ANN on real pixels
    val qEmb = Multimodal.embedImage(Seq(Multimodal.MediaBlob(1000L,
        "image", Multimodal.syntheticPng(7L))).toDS()).toDF()
      .select(col("id").as("vec_id"), col("embedding"))
    val brute = Similarity.bruteForceTopK(qEmb, corpus, "vec_id",
      "embedding", 3)
    assert(brute.select("neighbor_id").as[Long].collect().toSet ==
      Set(7L, 47L, 87L))
    val cents = Similarity.kmeansCentroids(corpus, "vec_id", "embedding",
      8, iters = 2, dim = 48)
    val ivf = Similarity.ivfTopK(qEmb, corpus, cents, "vec_id",
      "embedding", 3, nprobe = 8)
    assert(ivf.select("neighbor_id").as[Long].collect().toSet ==
      Set(7L, 47L, 87L))
  }

  test("real audio decode: WAV header metadata true, PCM samples " +
      "round-trip the formula, duplicates collapse, junk quarantines") {
    val blobs = spark.range(0, 60).as[Long].map(id =>
      Multimodal.MediaBlob(id, "audio", Multimodal.syntheticWav(id % 20)))
    // header-only metadata parse is REAL: true rate/channels/bits/frames
    val meta = Multimodal.decodeAudio(blobs).collect()
    assert(meta.length == 60)
    assert(meta.forall(m => m.sample_rate == 8000.0 && m.channels == 1 &&
      m.bits == 16 && m.n_frames == 64 && m.encoding == "PCM_SIGNED"))
    val rows = Multimodal.embedAudio(blobs, bands = 8).collect()
    assert(rows.length == 60 &&
      rows.forall(r => r.n_samples == 64 && r.channels == 1))
    // the decode is REAL: seed 0's samples are (i*8191)%65536 - 32768,
    // so band features must equal the formula exactly — any
    // endianness, sign-extension, or band-indexing bug fails here
    val v = (0 until 64).map(i => (i * 8191) % 65536 - 32768)
    val e0 = rows.find(_.id == 0L).get.embedding
    assert(e0.length == 16)
    for (b <- 0 until 8) {
      val w = v.slice(b * 8, (b + 1) * 8)
      assert(e0(2 * b) == w.sum / 8.0)
      assert(e0(2 * b + 1) == w.map(math.abs).sum / 8.0)
    }
    // equal payloads embed equally; the 20 seed classes stay distinct
    assert(Multimodal.embedAudio(blobs, bands = 8).toDF()
      .select("embedding").distinct().count() == 20)
    // undecodable payloads quarantine (dropped), never crash the task
    val junk = Seq(
      Multimodal.MediaBlob(1L, "audio", Array[Byte](1, 2, 3)),
      Multimodal.MediaBlob(2L, "audio", Array.empty[Byte]),
      Multimodal.MediaBlob(3L, "audio", "RIFFgarbage".getBytes)).toDS()
    assert(Multimodal.embedAudio(junk).isEmpty)
    assert(Multimodal.decodeAudio(junk).isEmpty)
  }

  test("WAV fast path: hand-rolled synthesis is byte-identical to " +
      "javax.sound's writer; SPI-free parse matches SPI on canonical " +
      "and truncated payloads") {
    // 1. synthesis byte-equality — md5 fingerprints and n_bytes of any
    //    synthesized corpus stay exactly what AudioSystem.write produced
    for ((seed, n, rate) <- Seq((0L, 64, 8000f), (7L, 64, 8000f),
        (96L, 256, 44100f), (13L, 1, 8000f))) {
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val v = ((seed * 131071L + i * 8191L) % 65536L - 32768L).toInt
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        rate, 16, 1, 2, rate, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      try javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      finally ais.close()
      assert(java.util.Arrays.equals(
        Multimodal.syntheticWav(seed, n, rate), bos.toByteArray),
        s"hand-rolled WAV (seed=$seed n=$n rate=$rate) diverged from " +
          "AudioSystem.write")
    }
    // 2. the SPI-free header parse reports the same fields the SPI does
    val wav = Multimodal.syntheticWav(5L)
    val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(wav))
    val one = Multimodal.decodeAudio(
      Seq(Multimodal.MediaBlob(1L, "audio", wav)).toDS()).collect().head
    assert(one.sample_rate == aff.getFormat.getSampleRate.toDouble &&
      one.channels == aff.getFormat.getChannels &&
      one.bits == aff.getFormat.getSampleSizeInBits &&
      one.n_frames == aff.getFrameLength.toLong &&
      one.encoding == aff.getFormat.getEncoding.toString)
    // 3. truncated data chunk: header claims 64 frames; only the bytes
    //    present decode (readAllBytes semantics), metadata keeps the
    //    STATED frame count (getAudioFileFormat semantics)
    val trunc = wav.take(wav.length - 28)
    val tMeta = Multimodal.decodeAudio(
      Seq(Multimodal.MediaBlob(2L, "audio", trunc)).toDS()).collect().head
    assert(tMeta.n_frames == 64)
    val tEmb = Multimodal.embedAudio(
      Seq(Multimodal.MediaBlob(2L, "audio", trunc)).toDS()).collect().head
    assert(tEmb.n_samples == 50)
    // its decoded prefix equals the untruncated payload's prefix
    val full = Multimodal.embedAudio(
      Seq(Multimodal.MediaBlob(3L, "audio", wav)).toDS()).collect().head
    assert(full.n_samples == 64)
  }

  test("real video decode: GIF frame seek true, sampled pixels " +
      "round-trip the formula, duplicates collapse, junk quarantines") {
    val blobs = spark.range(0, 60).as[Long].map(id =>
      Multimodal.MediaBlob(id, "video", Multimodal.syntheticGif(id % 20)))
    val rows = Multimodal.embedVideo(blobs, sample = 4, grid = 2).collect()
    assert(rows.length == 60 && rows.forall(r =>
      r.n_frames == 8 && r.sampled == Seq(0, 2, 4, 6)))
    // the decode is REAL: seed 0, frame f, pixel index
    // (f*37 + 7x + 13y) % 256 and palette (i, 3i%256, 7i%256) — any
    // frame-seek, palette, channel-order or layout bug fails here
    val e0 = rows.find(_.id == 0L).get.embedding
    assert(e0.length == 48)
    val p0 = for { y <- 0 until 8; x <- 0 until 8 }
      yield (x * 7 + y * 13) % 256
    assert(e0.head == p0.sum / 64.0)                          // f0 red
    assert(e0(1) == p0.map(i => (i * 3) % 256).sum / 64.0)    // f0 green
    val p2 = for { y <- 0 until 8; x <- 0 until 8 }
      yield (2 * 37 + x * 7 + y * 13) % 256
    assert(e0(12) == p2.sum / 64.0)          // sampled frame 1 = container 2
    // equal payloads embed equally; the 20 seed classes stay distinct
    assert(Multimodal.embedVideo(blobs, sample = 4, grid = 2).toDF()
      .select("embedding").distinct().count() == 20)
    // sampleDecodedFrames: true container count, real per-frame seek,
    // and the PNG re-encode preserves the decoded pixels exactly
    val fr = Multimodal.sampleDecodedFrames(blobs.filter(_.id == 0L), 4)
      .collect().sortBy(_.frame_idx)
    assert(fr.map(_.frame_idx).toSeq == Seq(0, 2, 4, 6) &&
      fr.forall(_.n_frames == 8))
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(fr(1).frame_bytes))
    val idx = (2 * 37 + 3 * 7 + 5 * 13) % 256
    val rgb = img.getRGB(3, 5)
    assert(((rgb >> 16) & 0xff) == idx &&
      ((rgb >> 8) & 0xff) == (idx * 3) % 256 &&
      (rgb & 0xff) == (idx * 7) % 256)
    // undecodable payloads quarantine (dropped), never crash the task
    val junk = Seq(
      Multimodal.MediaBlob(1L, "video", Array[Byte](9, 9)),
      Multimodal.MediaBlob(2L, "video", Array.empty[Byte])).toDS()
    assert(Multimodal.embedVideo(junk).isEmpty)
    assert(Multimodal.sampleDecodedFrames(junk, 4).isEmpty)
  }

  test("quality signals: decoded metrics match the formulas, every " +
      "input is accounted for, junk flags undecodable") {
    val blobs = Seq(
      Multimodal.MediaBlob(0L, "image", Multimodal.syntheticPng(0L)),
      Multimodal.MediaBlob(1L, "audio", Multimodal.syntheticWav(0L)),
      Multimodal.MediaBlob(2L, "video", Multimodal.syntheticGif(0L)),
      Multimodal.MediaBlob(3L, "text", "abc123".getBytes("UTF-8")),
      Multimodal.MediaBlob(4L, "image", Array[Byte](1, 2, 3))).toDS()
    val rows = Multimodal.qualitySignals(blobs).collect().sortBy(_.id)
    // a quality pass must account for EVERY input row
    assert(rows.length == 5)
    val img = rows(0)
    val mean = (ch: (Int, Int) => Int) => (for {
      y <- 0 until 16; x <- 0 until 16 } yield ch(x, y)).sum / 16.0 / 16
    // patch-mean-of-means == overall mean for power-of-two patches
    val lum = ((for { y <- 0 until 16; x <- 0 until 16 } yield
      (x * 7 + y * 13) % 256 + (x * 3 + y * 5) % 256 +
        (x * 11 + y * 3) % 256).sum / 16.0) / 48
    assert(img.decodable && img.q_main == lum && img.q_aux == 16.0)
    val aud = rows(1)
    val meanAbs = (0 until 64)
      .map(i => math.abs((i * 8191) % 65536 - 32768)).sum / 64.0
    assert(aud.decodable && aud.q_main == meanAbs && aud.q_aux == 8.0)
    val vid = rows(2)
    assert(vid.decodable && vid.q_aux == 8.0 &&
      vid.q_main > 0 && vid.q_main < 256)
    val txt = rows(3)
    assert(txt.decodable && txt.q_main == 0.5 && txt.q_aux == 6.0)
    // undecodable media: flagged, zeroed, NOT dropped
    assert(!rows(4).decodable && rows(4).q_main == 0.0)
  }

  test("audio decode covers the codec corners: big-endian AIFF equals " +
      "the WAV embedding, stereo interleaves, 8-bit drops") {
    // the same PCM samples containered as AIFF (big-endian) must embed
    // identically to the WAV (little-endian) — exercises the endianness
    // branch with a REAL second container format
    def pcm16(seed: Long, n: Int): Array[Byte] = {
      val b = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val v = ((seed * 131071L + i * 8191L) % 65536L - 32768L).toInt
        b(2 * i) = (v & 0xff).toByte
        b(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      b
    }
    def container(tp: javax.sound.sampled.AudioFileFormat.Type,
        big: Boolean, channels: Int, seed: Long): Array[Byte] = {
      val n = 64
      val raw = pcm16(seed, n * channels)
      val bytes =
        if (!big) raw
        else raw.grouped(2).flatMap(p => Array(p(1), p(0))).toArray
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, channels, 2 * channels, 8000f, big)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      try javax.sound.sampled.AudioSystem.write(ais, tp, bos)
      finally ais.close()
      bos.toByteArray
    }
    val Wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
    val Aiff = javax.sound.sampled.AudioFileFormat.Type.AIFF
    val pairs = Seq(
      Multimodal.MediaBlob(1L, "audio", container(Wave, big = false,
        channels = 1, seed = 5)),
      Multimodal.MediaBlob(2L, "audio", container(Aiff, big = true,
        channels = 1, seed = 5))).toDS()
    val e = Multimodal.embedAudio(pairs, bands = 8).collect()
      .sortBy(_.id)
    assert(e.length == 2)
    assert(e(0).embedding == e(1).embedding,
      "AIFF (big-endian) must decode to the same features as WAV")
    assert(e(0).embedding == Multimodal
      .embedAudio(Seq(Multimodal.MediaBlob(9L, "audio",
        Multimodal.syntheticWav(5L))).toDS(), bands = 8)
      .collect().head.embedding)
    // stereo: channels reported, interleaved samples counted raw
    val stereo = Multimodal.decodeAudio(Seq(Multimodal.MediaBlob(3L,
      "audio", container(Wave, big = false, channels = 2, seed = 1)))
      .toDS()).collect().head
    assert(stereo.channels == 2 && stereo.n_frames == 64)
    val se = Multimodal.embedAudio(Seq(Multimodal.MediaBlob(3L, "audio",
      container(Wave, big = false, channels = 2, seed = 1))).toDS())
      .collect().head
    assert(se.channels == 2 && se.n_samples == 128)
    // 8-bit PCM: metadata decodes (real header), embedding DROPS (the
    // operator's 16-bit contract)
    val pcm8 = {
      val n = 64
      val raw = (0 until n).map(i => ((i * 31) % 256 - 128).toByte).toArray
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        8000f, 8, 1, 1, 8000f, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      try javax.sound.sampled.AudioSystem.write(ais, Wave, bos)
      finally ais.close()
      bos.toByteArray
    }
    val eight = Seq(Multimodal.MediaBlob(4L, "audio", pcm8)).toDS()
    assert(Multimodal.decodeAudio(eight).collect().head.bits == 8)
    assert(Multimodal.embedAudio(eight).isEmpty)
  }

  test("real audio embedding feeds ANN: a duplicate WAV retrieves all " +
      "corpus copies through brute force and IVF") {
    import graft.operators.Similarity
    // 120 blobs over 40 seed classes -> 3 byte-identical copies each
    val blobs = spark.range(0, 120).as[Long].map(id =>
      Multimodal.MediaBlob(id, "audio", Multimodal.syntheticWav(id % 40)))
    val corpus = Multimodal.embedAudio(blobs, bands = 8).toDF()
      .select(col("id").as("vec_id"), col("embedding"))
    // a NEW query payload duplicating seed 7 retrieves all three
    // corpus copies (ids 7, 47, 87) — brute force and the IVF path
    // agree, completing bytes -> RIFF decode -> embed -> ANN on real PCM
    val qEmb = Multimodal.embedAudio(Seq(Multimodal.MediaBlob(1000L,
        "audio", Multimodal.syntheticWav(7L))).toDS()).toDF()
      .select(col("id").as("vec_id"), col("embedding"))
    val brute = Similarity.bruteForceTopK(qEmb, corpus, "vec_id",
      "embedding", 3)
    assert(brute.select("neighbor_id").as[Long].collect().toSet ==
      Set(7L, 47L, 87L))
    val cents = Similarity.kmeansCentroids(corpus, "vec_id", "embedding",
      8, iters = 2, dim = 16)
    val ivf = Similarity.ivfTopK(qEmb, corpus, cents, "vec_id",
      "embedding", 3, nprobe = 8)
    assert(ivf.select("neighbor_id").as[Long].collect().toSet ==
      Set(7L, 47L, 87L))
  }

  test("percentile_disc_exact aggregate equals windowed implementation") {
    PercentileDiscAgg.register(spark)
    val e = Tables(spark, sfDir, "events")
    val agg = e.groupBy(col("event_type"))
      .agg(expr("percentile_disc_exact(value, 0.85D)").as("pct"))
    val win = Reference.percentileDisc(e, Seq("event_type"), "value", 0.85)
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty)
  }

  test("SQL surface: registered functions match the Column API") {
    GraftExtensions.register(spark)
    val docs = Tables(spark, sfDir, "documents").limit(50)
    docs.createOrReplaceTempView("sql_docs")
    val viaSql = spark.sql("""
      SELECT doc_id, simhash64(text) AS sh, minhash_sig(text, 3, 8) AS ms,
             winnow_fingerprints(text, 5, 4) AS wf,
             size(shingle_set(text, 3)) AS nsh,
             dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp
      FROM sql_docs""")
    val viaApi = graft.operators.Dedupe.simhash(docs, "doc_id", "text")
      .join(graft.operators.Dedupe.minhashWide(docs, "doc_id", "text", 3, 8)
        .withColumnRenamed("sig", "ms_api"), "doc")
    val joined = viaSql.join(viaApi, viaSql("doc_id") === viaApi("doc"))
    assert(joined.count() > 0)
    assert(joined.filter(col("sh") =!= col("simhash") ||
      col("ms") =!= col("ms_api")).count() == 0)
    assert(viaSql.filter(col("dp") =!= 11.0).count() == 0)
    assert(viaSql.filter(col("nsh") <= 0).count() == 0)
    // tokenizer family: SQL surface equals the Column API
    val tok = spark.sql("""
      SELECT doc_id, tokenize(text) AS t, token_count(text) AS n
      FROM sql_docs""")
      .join(docs.select(col("doc_id"),
        graft.operators.Retrieval.fastTokensCol(col("text")).as("t_api"),
        graft.operators.Retrieval.tokenCountCol(col("text")).as("n_api")),
        "doc_id")
    assert(tok.filter(not(col("t") <=> col("t_api")) ||
      col("n") =!= col("n_api")).count() == 0)
    assert(tok.filter(col("n") =!= size(col("t"))).count() == 0)
    // constant-shape params are enforced: a column, and a BIGINT
    // literal outside INT range (which must not wrap to k = 3)
    Seq("doc_id", "4294967299").foreach { k =>
      intercept[Exception] {
        spark.sql(s"SELECT minhash_sig(text, $k, 8) FROM sql_docs")
          .collect()
      }
    }
    // wrong arity names the expected signature (not IndexOutOfBounds)
    val arityErr = intercept[Throwable] {
      spark.sql("SELECT minhash_sig(text) FROM sql_docs").collect()
    }
    val chain = Iterator.iterate(arityErr)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("minhash_sig(text, shingleK, numHashes)"),
      s"unhelpful arity error: $chain")
  }

  test("unicode_normalize: all four forms, SQL surface, bad form rejected") {
    import graft.operators.TextAnalysis
    GraftExtensions.register(spark)
    // (raw, expected NFC, expected NFKC) — pinned against Python
    // unicodedata and DuckDB nfc_normalize (for the NFC column)
    val cases = Seq(
      (" cafe\u0301", " caf\u00E9", " caf\u00E9"),
      (" \uFB01le \uFF12\uFF13", " \uFB01le \uFF12\uFF13", " file 23"),
      (" \u212B", " \u00C5", " \u00C5"),
      (" \uFF76\uFF9E\uFF77\uFF9E", " \uFF76\uFF9E\uFF77\uFF9E",
        " \u30AC\u30AE"),
      (" \u2460\u3231\u33A1", " \u2460\u3231\u33A1", " 1(\u682A)m2"),
      (" x\u0302\u0323", " x\u0323\u0302", " x\u0323\u0302"),
      (" \u1E9B\u0323", " \u1E9B\u0323", " \u1E69"))
    val df = cases.toDF("raw", "exp_nfc", "exp_nfkc")
    val bad = df.filter(
      TextAnalysis.normalizeUnicode(col("raw"), "NFC") =!= col("exp_nfc") ||
      TextAnalysis.normalizeUnicode(col("raw"), "NFKC") =!= col("exp_nfkc"))
    assert(bad.count() == 0)
    // NFD(NFC(x)) == NFD(x); NFKD of the NFKC form is stable
    val round = df.filter(
      TextAnalysis.normalizeUnicode(
        TextAnalysis.normalizeUnicode(col("raw"), "NFC"), "NFD") =!=
        TextAnalysis.normalizeUnicode(col("raw"), "NFD") ||
      TextAnalysis.normalizeUnicode(col("exp_nfkc"), "NFKD") =!=
        TextAnalysis.normalizeUnicode(
          TextAnalysis.normalizeUnicode(col("raw"), "NFKD"), "NFKD"))
    assert(round.count() == 0)
    df.createOrReplaceTempView("norm_cases")
    assert(spark.sql("""SELECT count(*) AS c FROM norm_cases
        WHERE unicode_normalize(raw, 'NFC') <> exp_nfc
           OR unicode_normalize(raw, 'nfkc') <> exp_nfkc""")
      .head.getLong(0) == 0)
    val err = intercept[Throwable] {
      spark.sql("SELECT unicode_normalize(raw, 'NFX') FROM norm_cases")
        .collect()
    }
    val chain = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("NFC|NFD|NFKC|NFKD"))
  }

  test("license map resolves known CC paths and nulls unknowns") {
    val df = Seq(
      (1L, "https://creativecommons.org/licenses/by/4.0/"),
      (2L, "http://CREATIVECOMMONS.org/publicdomain/zero/1.0"),
      (3L, "https://example.com/nope")).toDF("id", "raw_url")
    val got = LicenseMap.resolve(df, "raw_url")
      .orderBy("id").select("license", "license_version")
      .as[(Option[String], Option[String])].collect().toSeq
    assert(got == Seq(Some("by") -> Some("4.0"),
      Some("cc0") -> Some("1.0"), None -> None))
  }

  test("license map covers the reference's full path map") {
    // constants.py:3-93 — 43 simple + 18 jurisdiction + 5 special + 1
    // special-irreversible = 67 forward entries
    assert(LicenseMap.pathMap.size == 67)
    val m = LicenseMap.pathMap.map { case (p, l, v) => p -> (l, v) }.toMap
    assert(m("licenses/by/2.5") == ("by", "2.5"))
    assert(m("licenses/by-nc-sa/2.1/jp") == ("by-nc-sa", "2.1"))
    assert(m("licenses/by-nd-nc/1.0") == ("by-nc-nd", "1.0"))
    assert(m("licenses/by-nd-nc/2.0/jp") == ("by-nc-nd", "2.0"))
    assert(m("licenses/publicdomain") == ("publicdomain", LicenseMap.NoVersion))
    assert(m("publicdomain/mark/1.0") == ("pdm", "1.0"))
    assert(m("licenses/mark/1.0") == ("pdm", "1.0"))
    assert(m("licenses/nc-sampling+/1.0") == ("nc-sampling+", "1.0"))
    assert(!m.contains("licenses/by-nc-nd/1.0")) // was by-nd-nc pre-2.0
  }

  test("license url resolution: jurisdiction, legalcode, case, suffixes") {
    val df = Seq(
      (1L, "https://creativecommons.org/licenses/by/2.1/au/"),
      (2L, "http://creativecommons.org/licenses/BY-NC-SA/2.0/legalcode"),
      (3L, "creativecommons.org/licenses/sampling+/1.0"), // scheme-less
      (4L, "https://creativecommons.org/licenses/by/4.0/deed.es"),
      (5L, "https://creativecommons.org/licenses/publicdomain/"),
      (6L, "https://notcreativecommons.org/licenses/by/1.0/"))
      .toDF("id", "raw_url")
    val got = LicenseMap.resolve(df, "raw_url")
      .orderBy("id").select("license", "license_version")
      .as[(Option[String], Option[String])].collect().toSeq
    assert(got == Seq(
      Some("by") -> Some("2.1"),
      Some("by-nc-sa") -> Some("2.0"),
      Some("sampling+") -> Some("1.0"),
      Some("by") -> Some("4.0"),
      Some("publicdomain") -> Some(LicenseMap.NoVersion),
      None -> None))
  }

  test("EXHAUSTIVE: every forward path resolves to its pair") {
    // all 67 canonical URLs through the resolve path at once
    val df = LicenseMap.pathMap.zipWithIndex.map { case ((p, l, v), i) =>
      (i.toLong, s"https://creativecommons.org/$p/", l, v)
    }.toDF("id", "raw_url", "exp_license", "exp_version")
    val got = LicenseMap.resolve(df, "raw_url")
    assert(got.filter(col("license") =!= col("exp_license") ||
      col("license_version") =!= col("exp_version") ||
      col("license").isNull).count() == 0)
  }

  test("EXHAUSTIVE: every reverse pair derives a resolvable URL") {
    val fwd = LicenseMap.pathMap.map { case (p, _, _) => p }.toSet
    val df = LicenseMap.reverseMap.zipWithIndex.map {
      case ((l, v, _), i) => (i.toLong, l, v)
    }.toDF("id", "license", "version")
    val got = LicenseMap.resolvePair(df, "license", "version")
    // every pair resolves, and every derived URL's path is a known
    // forward path (the 2.1 downgrades land on the unported 2.0 paths)
    assert(got.filter(col("license_url").isNull).count() == 0)
    val paths = got.select(LicenseMap.licensePath(col("license_url")))
      .as[String].collect()
    assert(paths.forall(fwd.contains), paths.filterNot(fwd.contains).toSeq)
  }

  test("license pair fallback: float versions, 2.1 downgrade, specials") {
    // test_licenses.py get_license_info_from_license_pair cases
    val df = Seq(
      (1L, "by", "4.0"), (2L, "by", "2"), (3L, "by-nc-nd", "2.1"),
      (4L, "cc0", "1.0"), (5L, "publicdomain", "N/A"),
      (6L, "notalicense", "1.0"), (7L, "by", null.asInstanceOf[String]))
      .toDF("id", "license", "version")
    val got = LicenseMap.resolvePair(df, "license", "version")
      .orderBy("id").select("license_version_n", "license_url")
      .as[(Option[String], Option[String])].collect().toSeq
    assert(got == Seq(
      Some("4.0") -> Some("https://creativecommons.org/licenses/by/4.0/"),
      Some("2.0") -> Some("https://creativecommons.org/licenses/by/2.0/"),
      // 2.1 without jurisdiction downgrades to the unported 2.0 URL but
      // keeps its version (constants._SPECIAL_REVERSE_ONLY_PATHS:96-102)
      Some("2.1") -> Some("https://creativecommons.org/licenses/by-nc-nd/2.0/"),
      Some("1.0") -> Some("https://creativecommons.org/publicdomain/zero/1.0/"),
      Some("N/A") -> Some("https://creativecommons.org/licenses/publicdomain/"),
      Some("1.0") -> None,
      None -> None))
  }

  test("native sanitize expression equals the regex chain everywhere") {
    // adversarial cases + the reference loader fixtures + testdata
    val cases = Seq("", " ", "  \t\n ", "a", "\"q\"", "a\u0008b",
      "\u0008", " x ", "a  b\tc\nd\re\u000Bf\ffg", "\"\"",
      "a\u0008 \u0008b", "tail  \u0008")
    val df1 = cases.toDF("s")
    val both = df1.select(
      CleanFunctions.sanitizeString(col("s")).as("rx"),
      CleanFunctions.sanitizeStringNative(col("s")).as("nat"))
    assert(both.filter(col("rx") =!= col("nat") ||
      col("rx").isNull =!= col("nat").isNull).count() == 0)
    val docs = Tables(spark, sfDir, "documents")
      .select(concat(lit("  \"T\" \t"), col("text"), lit(" \u0008 end ")).as("s"))
    val both2 = docs.select(
      CleanFunctions.sanitizeString(col("s")).as("rx"),
      CleanFunctions.sanitizeStringNative(col("s")).as("nat"))
    assert(both2.filter(col("rx") =!= col("nat")).count() == 0)
    // codegen actually engages (no fallback)
    val plan = both2.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"))
  }

  test("P8 collection sanitize: map values, arrays, tag structs") {
    val df = Seq((1,
      Map("a" -> "  \"x\"\ty ", "b" -> ""),
      Seq(" pq ", "r  s"),
      Seq(("  \"n\" ", "flickr"))))
      .toDF("id", "m", "arr", "tags")
    val got = df.select(
      CleanFunctions.sanitizeMapValues(col("m")).as("m"),
      CleanFunctions.sanitizeArrayValues(col("arr")).as("arr"),
      CleanFunctions.sanitizeTagStructs(
        col("tags").cast("array<struct<name:string,provider:string>>"))
        .as("tags")).collect().head
    assert(got.getAs[Map[String, String]]("m") ==
      Map("a" -> "'x' y", "b" -> ""))
    assert(got.getAs[collection.Seq[String]]("arr").toSeq ==
      Seq("pq", "r s"))
    val tag = got.getAs[collection.Seq[org.apache.spark.sql.Row]]("tags").head
    assert(tag.getAs[String]("name") == "'n'" &&
      tag.getAs[String]("provider") == "flickr")
    // empty collections null out (prepare_string's falsy -> None)
    val empty = Seq((1, Map.empty[String, String], Seq.empty[String]))
      .toDF("id", "m", "arr")
      .select(CleanFunctions.sanitizeMapValues(col("m")).as("m"),
        CleanFunctions.sanitizeArrayValues(col("arr")).as("arr"))
      .collect().head
    assert(empty.isNullAt(0) && empty.isNullAt(1))
  }

  test("htmlToText strips tags, decodes entities, collapses whitespace") {
    val got = Seq("<p>Hello &amp; <b>world</b>\n &lt;x&gt;</p>").toDF("h")
      .select(CleanFunctions.htmlToText(col("h"))).as[String].head()
    assert(got == "Hello & world <x>")
  }

  test("native cleaning expressions are callable from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT sanitize_string('  "a"  b ') AS s,
                html_to_text('<p>x &amp; y</p>') AS h""").collect().head
    assert(r.getAs[String]("s") == "'a' b")
    assert(r.getAs[String]("h") == "x & y")
  }
}
