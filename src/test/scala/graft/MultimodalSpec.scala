package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite with SharedSpark {

  private val fixture = s"${graft.sources.Tables.fixtureDir}/media.parquet"

  test("byte-level decode reproduces the independently stored metadata for every row") {
    // image rows run the dims codec; audio rows are REAL WAV containers
    // and video rows REAL MP4/AVI containers with their own parses
    val visual = Multimodal.readMedia(spark, fixture)
      .filter(col("mime").startsWith("image/"))
    val decoded = Multimodal.decode(visual).toDF()
    val stored = spark.read.parquet(fixture)
      .select(col("media_id"), col("width"), col("height"), col("n_bytes"), col("checksum"))
    val mismatches = decoded.join(stored, "media_id")
      .filter(col("dec_width") =!= col("width") || col("dec_height") =!= col("height") ||
        col("dec_bytes") =!= col("n_bytes") || col("dec_checksum") =!= col("checksum"))
      .count()
    assert(mismatches == 0)
    assert(decoded.count() == 84) // 30 fixture-codec + 28 GIF/BMP/PNG + 26 real JPEG
  }

  test("videoMeta parses the fixture's REAL MP4 and AVI containers byte-level") {
    val parsed = Multimodal.videoMeta(Multimodal.readMedia(spark, fixture)).toDF()
    val stored = spark.read.parquet(fixture)
      .filter(col("mime").startsWith("video/"))
      .select(col("media_id"), col("mime"), col("width").as("m_w"),
        col("height").as("m_h"), col("n_frames").as("m_nf"), col("fps").as("m_fps"),
        col("uspf"))
    val joined = parsed.join(stored, "media_id")
    assert(joined.count() == 33) // 20 mp4 + 13 avi (incl. the raw-codec rows 110-115)
    val mismatches = joined.filter(
      col("vid_width") =!= col("m_w") || col("vid_height") =!= col("m_h") ||
        col("n_frames") =!= col("m_nf") || col("fps") =!= col("m_fps") ||
        (col("container") === "mp4") =!= (col("mime") === "video/mp4") ||
        // mp4 duration: ticks·1000/timescale = nf·1000/fps exactly (the
        // fixture's delta=1000, timescale=fps·1000); avi: nf·µspf/1000
        // from the STORED dwMicroSecPerFrame (the NTSC-style rows carry
        // uspf != 1000000//fps, so re-derivation would be wrong)
        when(col("container") === "mp4",
          col("duration_ms") =!= expr("CAST(n_frames AS BIGINT) * 1000 DIV fps"))
          .otherwise(col("duration_ms") =!=
            expr("CAST(n_frames AS BIGINT) * uspf DIV 1000")))
      .count()
    assert(mismatches == 0)
  }

  test("mp4Meta box walk: versions, layouts, largesize, malformed rejects") {
    // pull one real fixture payload of each mvhd/tkhd/mdhd version and
    // each layout; they all parsed in the fixture round-trip test above.
    // Here: hand-broken variants must reject CLEANLY.
    val good = spark.read.parquet(fixture)
      .filter(col("mime") === "video/mp4")
      .select("payload").head().getAs[Array[Byte]](0)
    assert(Multimodal.mp4Meta(good).isDefined)
    // no ftyp: first box renamed
    val noFtyp = good.clone()
    noFtyp(4) = 'x'
    assert(Multimodal.mp4Meta(noFtyp).isEmpty)
    // truncated mid-box: the level walk rejects the whole parse
    assert(Multimodal.mp4Meta(good.dropRight(3)).isEmpty)
    // box size overrunning the file
    val overrun = good.clone()
    overrun(0) = 0x7f.toByte // ftyp size becomes enormous
    assert(Multimodal.mp4Meta(overrun).isEmpty)
    // not a container at all
    assert(Multimodal.mp4Meta(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.mp4Meta("RIFF1234AVI LIST".getBytes("US-ASCII")).isEmpty)
  }

  test("aviMeta chunk walk: real fixture bytes, junk/odd chunks, malformed rejects") {
    val good = spark.read.parquet(fixture)
      .filter(col("mime") === "video/x-msvideo")
      .select("payload").head().getAs[Array[Byte]](0)
    // the generator put an odd-size JUNK chunk before movi: the walk padded it
    assert(Multimodal.aviMeta(good).isDefined)
    // wrong form type
    val wave = good.clone()
    wave(8) = 'W'; wave(9) = 'A'; wave(10) = 'V'; wave(11) = 'E'
    assert(Multimodal.aviMeta(wave).isEmpty)
    // tail truncation AFTER the header list is tolerated (the demuxer
    // returned before reaching the movi data), but truncation INSIDE the
    // header list rejects cleanly
    assert(Multimodal.aviMeta(good.dropRight(7)).isDefined)
    assert(Multimodal.aviMeta(good.take(40)).isEmpty)
    // an MP4 payload is not an AVI
    val mp4 = spark.read.parquet(fixture)
      .filter(col("mime") === "video/mp4")
      .select("payload").head().getAs[Array[Byte]](0)
    assert(Multimodal.aviMeta(mp4).isEmpty)
    // and the dispatch sends each to its own parser
    assert(Multimodal.mp4Meta(good).isEmpty)
  }

  test("audioMeta parses the fixture's real WAV containers and matches stored metadata") {
    val parsed = Multimodal.audioMeta(Multimodal.readMedia(spark, fixture)).toDF()
    val stored = spark.read.parquet(fixture)
      .filter(col("mime").startsWith("audio/"))
      .select(col("media_id"), col("sample_rate").as("m_sr"), col("channels").as("m_ch"),
        col("bits").as("m_bits"), col("n_samples").as("m_n"))
    val mismatches = parsed.join(stored, "media_id")
      .filter(col("sample_rate") =!= col("m_sr") || col("channels") =!= col("m_ch") ||
        col("bits") =!= col("m_bits") || col("n_samples") =!= col("m_n") ||
        col("duration_ms") =!= expr("m_n * 1000 DIV m_sr"))
      .count()
    assert(mismatches == 0)
    assert(parsed.count() == 20) // 15 original + 5 near-dup/gain family rows
  }

  test("wavMeta parses REAL javax.sound-encoded WAV bytes") {
    // a genuine file produced by the JDK's WAVE writer — not our generator
    import javax.sound.sampled._
    def encode(rate: Float, bits: Int, ch: Int, frames: Int): Array[Byte] = {
      val fmt = new AudioFormat(rate, bits, ch, true, false)
      val pcm = Array.tabulate[Byte](frames * fmt.getFrameSize)(i => (i * 13).toByte)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    assert(Multimodal.wavMeta(encode(8000f, 16, 2, 123)).contains((8000, 2, 16, 123L)))
    assert(Multimodal.wavMeta(encode(44100f, 16, 1, 999)).contains((44100, 1, 16, 999L)))
  }

  test("pcmStats decodes REAL javax.sound-encoded samples to exact amplitude stats") {
    import javax.sound.sampled._
    import spark.implicits._
    // 16-bit mono: known signed samples, stats computable by hand
    val samples16 = Array[Short](0, 1000, -1000, 32767, -32768, 511, -511, 3)
    val pcm16 = samples16.flatMap(s =>
      Array((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
    val fmt16 = new AudioFormat(8000f, 16, 1, true, false)
    val out16 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm16), fmt16, samples16.length.toLong),
      AudioFileFormat.Type.WAVE, out16)
    // 8-bit mono is UNSIGNED in WAV: bytes 128+d decode to amplitude d
    val bytes8 = Array[Byte](128.toByte, 129.toByte, 127.toByte, 255.toByte, 0.toByte)
    val fmt8 = new AudioFormat(8000f, 8, 1, false, false)
    val out8 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes8), fmt8, bytes8.length.toLong),
      AudioFileFormat.Type.WAVE, out8)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio/wav", out16.toByteArray),
      Multimodal.MediaRow(2L, "audio/wav", out8.toByteArray)).toDS()
    val got = Multimodal.pcmStats(media).collect().map(s => s.media_id -> s).toMap
    val s16 = got(1L)
    val abs16 = samples16.map(s => math.abs(s.toInt))
    assert(s16.n_frames == 8 && s16.sum_abs == abs16.map(_.toLong).sum &&
      s16.sum_sq == abs16.map(a => a.toLong * a).sum &&
      s16.max_abs == 32768 && s16.n_silent == abs16.count(_ < 512) &&
      s16.mean_square == abs16.map(a => a.toLong * a).sum.toDouble / 8.0)
    val s8 = got(2L)
    // amplitudes: 0, 1, -1, 127, -128 -> abs 0,1,1,127,128; silent (<2): 3
    assert(s8.n_frames == 5 && s8.sum_abs == 257 && s8.sum_sq == 32515 &&
      s8.max_abs == 128 && s8.n_silent == 3 &&
      s8.mean_square == 32515.0 / 5.0)
  }

  test("wavMeta chunk walk: extra chunks, odd-size padding, malformed inputs") {
    def le32(n: Int) = Array[Byte](n.toByte, (n >> 8).toByte, (n >> 16).toByte, (n >> 24).toByte)
    def le16(n: Int) = Array[Byte](n.toByte, (n >> 8).toByte)
    def chunk(id: String, body: Array[Byte]) =
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    val fmt = chunk("fmt ", le16(1) ++ le16(2) ++ le32(22050) ++ le32(22050 * 4) ++
      le16(4) ++ le16(16))
    val data = chunk("data", Array.fill[Byte](40)(7)) // 40 / blockAlign 4 = 10 samples
    val odd = chunk("LIST", Array.fill[Byte](7)(3))   // odd size: walk must pad
    def riff(chunks: Array[Byte]) =
      "RIFF".getBytes("US-ASCII") ++ le32(4 + chunks.length) ++
        "WAVE".getBytes("US-ASCII") ++ chunks
    // canonical, plus an odd-size LIST chunk between fmt and data
    assert(Multimodal.wavMeta(riff(fmt ++ data)).contains((22050, 2, 16, 10L)))
    assert(Multimodal.wavMeta(riff(fmt ++ odd ++ data)).contains((22050, 2, 16, 10L)))
    assert(Multimodal.wavMeta(riff(odd ++ fmt ++ data)).contains((22050, 2, 16, 10L)))
    // data before fmt (block align unknown): clean None
    assert(Multimodal.wavMeta(riff(data ++ fmt)).isEmpty)
    // truncated mid-chunk and wrong magic: clean None, never garbage
    assert(Multimodal.wavMeta(riff(fmt ++ data).dropRight(5)).isEmpty)
    assert(Multimodal.wavMeta("RIFX1234WAVE".getBytes("US-ASCII")).isEmpty)
  }

  test("metadata-only queries prune the payload column at the parquet scan") {
    val plan = spark.read.parquet(fixture).select("media_id", "mime")
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse(plan)
    assert(!readSchema.contains("payload"),
      s"payload not pruned from scan:\n$readSchema")
  }

  test("mime-family filter is pushed to the parquet scan, below the typed decode") {
    val plan = Multimodal.decodeImages(spark, fixture).queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("StringStartsWith(mime,image/"),
      s"mime filter not pushed to scan:\n$plan")
  }

  test("frame sampling emits every 5th frame with integer ms timestamps") {
    val out = Multimodal.sampleFrames(spark, fixture, everyNth = 5)
    val rows = out.collect()
    // 27 video rows (15 mp4 + 12 avi); each contributes ceil(n_frames/5) frames
    val meta = spark.read.parquet(fixture)
      .filter(col("mime").startsWith("video/"))
      .select("media_id", "n_frames", "fps")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(rows.length == meta.map { case (_, nf, _) => (nf + 4) / 5 }.sum)
    val byId = rows.groupBy(_.getLong(0))
    meta.foreach { case (id, nf, fps) =>
      val frames = byId(id).map(_.getInt(1)).sorted
      assert(frames.head == 0 && frames.last == ((nf - 1) / 5) * 5)
      assert(frames.forall(_ % 5 == 0))
      val ts = byId(id).find(_.getInt(1) == 5).map(_.getLong(2))
      assert(ts.forall(_ == 5000L / fps))
    }
  }

  test("imageDims parses REAL JPEG and PNG containers (ImageIO-encoded fixtures)") {
    // genuine files produced by the JDK's encoders — not our fixture codec
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, (x * 31 + y) & 0xffffff)))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out))
      out.toByteArray
    }
    val jpg = encode("jpg", 123, 45)
    val png = encode("png", 7, 300)
    assert(jpg.take(2).map(_ & 0xff).toSeq == Seq(0xff, 0xd8)) // really a JPEG
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P')           // really a PNG
    assert(Multimodal.imageDims(jpg).contains((123, 45)))
    assert(Multimodal.imageDims(png).contains((7, 300)))
    // and through the full distributed decode path, dims are the file's
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image/jpeg", jpg),
      Multimodal.MediaRow(2L, "image/png", png)).toDS()
    val decoded = Multimodal.decode(media).collect().map(d =>
      d.media_id -> ((d.dec_width, d.dec_height))).toMap
    assert(decoded(1L) == ((123, 45)) && decoded(2L) == ((7, 300)))
  }

  test("imageDims parses REAL GIF and BMP containers (ImageIO-encoded fixtures)") {
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, (x * 31 + y) & 0xffffff)))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out))
      out.toByteArray
    }
    val gif = encode("gif", 61, 17)
    val bmp = encode("bmp", 9, 250)
    assert(new String(gif.take(6), "US-ASCII").startsWith("GIF8")) // really a GIF
    assert(bmp(0) == 'B' && bmp(1) == 'M')                         // really a BMP
    assert(Multimodal.imageDims(gif).contains((61, 17)))
    assert(Multimodal.imageDims(bmp).contains((9, 250)))
  }

  test("fixture GIF/BMP rows are valid files: ImageIO decodes them to the same dims") {
    // the INDEPENDENT decoder check (the oracle only reads metadata):
    // javax.imageio fully decodes the generated containers — palette,
    // LZW data, pixel rows — and agrees with our header parse
    val rows = spark.read.parquet(fixture)
      .filter(col("mime").isin("image/gif", "image/bmp"))
      .select(col("media_id"), col("payload"), col("width"), col("height"))
      .collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val p = r.getAs[Array[Byte]]("payload")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      assert(img != null, s"ImageIO rejected media ${r.getLong(0)}")
      assert(img.getWidth == r.getInt(2) && img.getHeight == r.getInt(3))
      assert(Multimodal.imageDims(p).contains((r.getInt(2), r.getInt(3))))
    }
  }

  test("gifDims/bmpDims edge cases: top-down BMP, OS/2 core header, malformed rejects") {
    def le16(n: Int) = Array[Byte](n.toByte, (n >> 8).toByte)
    def le32(n: Int) = Array[Byte](n.toByte, (n >> 8).toByte, (n >> 16).toByte, (n >> 24).toByte)
    def bmp(dibSize: Int, wh: Array[Byte]) =
      "BM".getBytes ++ le32(100) ++ le32(0) ++ le32(54) ++ le32(dibSize) ++ wh ++
        Array.fill[Byte](8)(0)
    // INFO header with NEGATIVE height = top-down row order, dims (12, 34)
    assert(Multimodal.bmpDims(bmp(40, le32(12) ++ le32(-34))).contains((12, 34)))
    // V5 header (124) takes the same field layout
    assert(Multimodal.bmpDims(bmp(124, le32(7) ++ le32(9))).contains((7, 9)))
    // OS/2 CORE header: u16 dims at 18/20
    assert(Multimodal.bmpDims(bmp(12, le16(5) ++ le16(6) ++ le16(0) ++ le16(0))).contains((5, 6)))
    // rejects: unknown DIB size, zero dims, truncation, wrong magic
    assert(Multimodal.bmpDims(bmp(16, le32(5) ++ le32(5))).isEmpty)
    assert(Multimodal.bmpDims(bmp(40, le32(0) ++ le32(5))).isEmpty)
    assert(Multimodal.bmpDims("BM".getBytes ++ le32(100)).isEmpty)
    assert(Multimodal.bmpDims(bmp(40, le32(5) ++ le32(5)).updated(0, 'X'.toByte)).isEmpty)
    // GIF: version dispatch, zero-dim reject, truncation reject
    def gif(ver: String, w: Int, h: Int) =
      s"GIF$ver".getBytes ++ le16(w) ++ le16(h) ++ Array[Byte](0, 0, 0)
    assert(Multimodal.gifDims(gif("87a", 640, 480)).contains((640, 480)))
    assert(Multimodal.gifDims(gif("89a", 1, 65535)).contains((1, 65535)))
    assert(Multimodal.gifDims(gif("88a", 5, 5)).isEmpty)
    assert(Multimodal.gifDims(gif("89a", 0, 5)).isEmpty)
    assert(Multimodal.gifDims("GIF89a".getBytes).isEmpty)
  }

  test("jpegDims walks marker segments to a non-leading SOF and rejects non-frames") {
    // hand-built container: SOI, APP0 (16 bytes), COM, DHT (must be
    // skipped: C4 is not a frame marker), then a PROGRESSIVE SOF2 —
    // exercises the segment walk beyond what ImageIO's baseline layout does
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte,
        ((payload.length + 2) >> 8).toByte, ((payload.length + 2) & 0xff).toByte) ++ payload
    val sof2 = Array[Byte](8, 0x01, 0x00, 0x02, 0x38, 3) // precision, h=256, w=568, 3 comps
    val bytes = Array(0xff.toByte, 0xd8.toByte) ++
      seg(0xe0, Array.fill[Byte](14)(0)) ++
      seg(0xfe, "comment".getBytes("US-ASCII")) ++
      seg(0xc4, Array.fill[Byte](5)(1)) ++
      seg(0xc2, sof2)
    assert(Multimodal.jpegDims(bytes).contains((568, 256)))
    // truncated mid-segment: clean None, never garbage
    assert(Multimodal.jpegDims(bytes.dropRight(3)).isEmpty)
    // SOS before any SOF: clean None
    val noSof = Array(0xff.toByte, 0xd8.toByte) ++ seg(0xda, Array.fill[Byte](3)(0))
    assert(Multimodal.jpegDims(noSof).isEmpty)
    // the fixture codec's payloads must NOT be mistaken for real containers
    val fixturePayload = Array[Byte](0x00, 0x40, 0x00, 0x30, 1, 2, 3)
    assert(Multimodal.imageDims(fixturePayload).isEmpty)
  }

  test("decode streams through mapPartitions on the typed Dataset (no collect)") {
    val ds = Multimodal.decode(Multimodal.readMedia(spark, fixture))
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions") || plan.contains("mapPartitions") ||
      plan.contains("SerializeFromObject"), s"unexpected plan:\n$plan")
  }

  // ------------------------------------------------- pixel-level decode

  private def lumaOf(rgb: Int): Int = {
    val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
    (299 * r + 587 * g + 114 * b) / 1000
  }

  test("imageGray agrees with ImageIO pixel-for-pixel on every pixel-decodable fixture row") {
    // the INDEPENDENT pixel decoder: javax.imageio runs its own LZW /
    // BGR-row / inflate+defilter decode; every luma must match ours
    val rows = spark.read.parquet(fixture)
      .filter(col("mime").isin("image/gif", "image/bmp") ||
        (col("mime") === "image/png" && col("media_id") >= 101))
      .select(col("media_id"), col("payload")).collect()
    assert(rows.length == 28)
    rows.foreach { r =>
      val p = r.getAs[Array[Byte]]("payload")
      val ours = Multimodal.imageGray(p)
      assert(ours.isDefined, s"no pixel decode for media ${r.getLong(0)}")
      val (w, h, gray) = ours.get
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(gray(y * w + x) == lumaOf(img.getRGB(x, y)),
          s"media ${r.getLong(0)} pixel ($x,$y)")
    }
  }

  test("gifGray decodes an ImageIO-ENCODED gif (real LZW with dictionary growth)") {
    // ImageIO's writer emits genuinely compressed LZW (growing codes,
    // no per-pixel clear), unlike the fixture's uncompressed trick —
    // this exercises the general decoder path
    val w = 37; val h = 23
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val colors = Array(0x000000, 0xff0000, 0x00ff00, 0x0000ff, 0xffffff, 0x808080)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, colors((x * 7 + y * 3) % colors.length))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", out))
    val p = out.toByteArray
    val decoded = Multimodal.gifGray(p)
    assert(decoded.isDefined, "gifGray rejected an ImageIO-encoded gif")
    val (dw, dh, gray) = decoded.get
    assert(dw == w && dh == h)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
    for (y <- 0 until h; x <- 0 until w)
      assert(gray(y * w + x) == lumaOf(back.getRGB(x, y)), s"pixel ($x,$y)")
  }

  test("imageNearDupPairs finds exactly the seeded families, with an exact pixel verify") {
    val pairs = Multimodal.imageNearDupPairs(Multimodal.readMedia(spark, fixture))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(pairs.keySet == Set((88L, 89L), (88L, 90L), (89L, 90L),
      (92L, 93L), (92L, 94L), (93L, 94L),
      // the CROSS-FORMAT duplicate: row 100 is a BMP container holding
      // gif-92's exact pixel colors — content-keyed, not container-keyed
      (92L, 100L), (93L, 100L), (94L, 100L),
      (101L, 102L), // the PNG leg: exact pixel copies under distinct ids
      // the JPEG leg: coefficient copy (106) and DC-perturbed (107) of 105
      (105L, 106L), (105L, 107L), (106L, 107L),
      // the COLOR 4:2:0 leg: Y-plane coefficient copy under distinct ids
      (116L, 117L),
      // the round-14 chroma family: 121 is the HUE-SHIFTED twin of
      // 120 (identical Y), 122 the DC-perturbed near-dup - the LUMA
      // stack pairs all three; colorNearDupPairs separates them
      (120L, 121L), (120L, 122L), (121L, 122L),
      // the PROGRESSIVE leg (r15): 125 re-encodes 105's coefficients
      // through SOF2 (exact pixels, cross-LAYOUT duplicate), 126
      // re-encodes the 107 perturbation — the whole 105-family pairs
      (105L, 125L), (106L, 125L), (107L, 126L),
      (105L, 126L), (106L, 126L), (125L, 126L), (107L, 125L),
      // the SAMPLED progressive leg (r16): 129 re-encodes 116's
      // coefficients through SOF2 at 4:2:0 (cross-layout duplicate of
      // the 116/117 pair), 132 re-encodes the 4:2:2 baseline 131
      (116L, 129L), (117L, 129L), (131L, 132L),
      // the RESTART leg (r16): 133 re-encodes 105 with DRI=3 (pairs
      // with the whole 105 family), 134 re-encodes 116 progressively
      // with DRI=2 — markers are pure framing, pixels identical
      (105L, 133L), (106L, 133L), (107L, 133L), (125L, 133L), (126L, 133L),
      (116L, 134L), (117L, 134L), (129L, 134L),
      // the EXIF leg (r17): 135 is the Orientation=6 rotated re-save of
      // 105 — rotate-normalization makes it pair with the WHOLE family
      (105L, 135L), (106L, 135L), (107L, 135L), (125L, 135L),
      (126L, 135L), (133L, 135L),
      // the CMYK leg (r17): 136 is the Adobe-CMYK re-save of 108 — the
      // ink reconstruction lands on 108's luma raster exactly
      (108L, 136L)))
    assert(pairs((92L, 100L)) == ((0L, 0L)))
    assert(pairs((101L, 102L)) == ((0L, 0L)))
    assert(pairs((88L, 90L)) == ((0L, 0L)))  // exact pixel copy: Hamming 0, L1 0
    assert(pairs((92L, 94L)) == ((0L, 0L)))
    val (ham8889, l18889) = pairs((88L, 89L)) // sparse perturbation: near, not exact
    assert(ham8889 <= 3 && l18889 > 0 && l18889 <= 1024)
  }

  test("audioNearDupPairs finds exactly the seeded family, envelope-verified") {
    val pairs = Multimodal.audioNearDupPairs(Multimodal.readMedia(spark, fixture))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(pairs.keySet == Set((96L, 97L), (96L, 98L), (97L, 98L)))
    assert(pairs((96L, 97L)) == ((0L, 0L)))  // identical PCM stream
    val (ham, rel) = pairs((96L, 98L))
    assert(ham <= 3 && rel > 0 && rel <= 100)
  }

  test("imageNearDupAgainst screens the batch against history only (no in-batch pairs)") {
    val m = Multimodal.readMedia(spark, fixture)
    val batch = m.filter(col("media_id") >= 89 && col("media_id") =!= 92)
    val hist = m.filter(col("media_id") <= 88 || col("media_id") === 92)
    val got = Multimodal.imageNearDupAgainst(batch, hist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // copies/perturbations land on their BASE; the unrelated controls
    // (91, 95) match nothing; in-batch near-dups (89 vs 90) are NOT
    // emitted — only batch-vs-history
    assert(got == Set((89L, 88L), (90L, 88L), (93L, 92L), (94L, 92L),
      (100L, 92L))) // the cross-format BMP copy of gif-92 lands on its base
  }

  test("audioNearDupAgainst screens the batch against history only") {
    val m = Multimodal.readMedia(spark, fixture)
    val got = Multimodal.audioNearDupAgainst(
      m.filter(col("media_id") >= 97), m.filter(col("media_id") <= 96))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((97L, 96L), (98L, 96L)))
  }

  test("pngGray decodes an ImageIO-ENCODED png (adaptive filters, real deflate)") {
    // ImageIO's PNG writer picks per-scanline filters adaptively
    // (Sub/Up/Average/Paeth, not the fixture's filter-0), so this
    // exercises the full defilter path on an independent encoder's bytes
    val w = 29; val h = 17
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, ((x * 83 + y * 29) * 7919) & 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    val p = out.toByteArray
    val decoded = Multimodal.pngGray(p)
    assert(decoded.isDefined, "pngGray rejected an ImageIO-encoded png")
    val (dw, dh, gray) = decoded.get
    assert(dw == w && dh == h)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
    for (y <- 0 until h; x <- 0 until w)
      assert(gray(y * w + x) == lumaOf(back.getRGB(x, y)), s"pixel ($x,$y)")
  }

  test("pngGray rejects unsupported/malformed layouts cleanly") {
    val good = spark.read.parquet(fixture)
      .filter(col("media_id") === 101).select("payload").head().getAs[Array[Byte]](0)
    assert(Multimodal.pngGray(good).isDefined)
    // truncated IDAT stream: clean None, never a partial raster
    assert(Multimodal.pngGray(good.dropRight(20)).isEmpty)
    // declared 16-bit depth: out of the supported layout
    val deep = good.clone(); deep(24) = 16.toByte
    assert(Multimodal.pngGray(deep).isEmpty)
    // Adam7 interlace flag: out of scope, clean None
    val adam = good.clone(); adam(28) = 1.toByte
    assert(Multimodal.pngGray(adam).isEmpty)
  }

  test("gain-invariant audio near-dup catches the half-volume copy the absolute verify rejects") {
    val m = Multimodal.readMedia(spark, fixture)
    // fingerprint is volume-invariant: (96, 104) collides at Hamming 0
    val inv = Multimodal.audioNearDupPairsGainInvariant(m)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(inv.contains((96L, 104L)))
    val (ham, pl1) = inv((96L, 104L))
    assert(ham == 0L && pl1 > 0L && pl1 <= 200L)
    // ...but the ABSOLUTE envelope verify of the plain near-dup REJECTS it
    val abs = Multimodal.audioNearDupPairs(m)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!abs.contains((96L, 104L)), "absolute verify must reject the gain-shifted copy")
    // and the unrelated control stays out of both
    assert(!inv.keySet.exists { case (a, b) => a == 99L || b == 99L })
  }

  test("lzwDecode rejects malformed streams cleanly") {
    // first code must be a root, not a dictionary reference
    assert(Multimodal.lzwDecode(2, Array[Byte](6), 1).isEmpty)
    // truncated before EOI
    assert(Multimodal.lzwDecode(2, Array[Byte](), 4).isEmpty)
    // min code size out of GIF range
    assert(Multimodal.lzwDecode(1, Array[Byte](0), 1).isEmpty)
    assert(Multimodal.lzwDecode(9, Array[Byte](0), 1).isEmpty)
  }

  // the fixture's quantized-coefficient formula (gen_media_fixture.py)
  private def jpegQc(seed: Int, b: Int, z: Int, perturb: Boolean): Int =
    if (z == 0) ((seed * 5 + b * 11) % 61) - 30 + (if (perturb && b % 3 == 0) 8 else 0)
    else if ((seed + b * 3 + z * 5) % 7 == 0) ((seed * 3 + b * 7 + z * 11) % 19) - 9
    else 0

  // independent replay of the PINNED integer IDCT from the formula —
  // exercises none of the decoder's Huffman/dequant/bitstream machinery.
  // (yh, yv): the luma sampling geometry — yh*yv Y blocks per MCU in
  // raster order, the global Y-block counter MCU-major (1×1 = 4:4:4,
  // 2×2 = 4:2:0, 2×1 = 4:2:2)
  private def jpegExpected(seed: Int, w: Int, h: Int, perturb: Boolean,
                           px: Int, py: Int, yh: Int = 1, yv: Int = 1): Int = {
    val b = {
      val mcuW = (w + 8 * yh - 1) / (8 * yh)
      ((py / (8 * yv)) * mcuW + px / (8 * yh)) * (yh * yv) +
        ((py % (8 * yv)) / 8) * yh + (px % (8 * yh)) / 8
    }
    val bx = px % 8; val by = py % 8
    var sum = 0L
    for (z <- 0 until 64) {
      val dq = jpegQc(seed, b, z, perturb).toLong * (1 + (z % 5))
      if (dq != 0)
        sum += dq * Multimodal.IdctK(Multimodal.ZigU(z) * 8 + bx) *
          Multimodal.IdctK(Multimodal.ZigV(z) * 8 + by)
    }
    val p = ((sum + (1L << 19)) >> 20).toInt + 128
    math.max(0, math.min(255, p))
  }

  test("jpegGray reproduces the pinned-IDCT pixels EXACTLY on every fixture jpeg") {
    // the whole baseline path — Huffman entropy decode (DC diffs, AC
    // run-length, EOB/ZRL), dequant, de-zigzag, integer IDCT — must land
    // bit-exactly on the formula replay; one mis-read bit breaks it
    // (seed, perturbed, 4:2:0): 116-118 are interleaved COLOR 4:2:0 —
    // the decoder's fast-luma path must entropy-skip every chroma block
    // while landing the Y plane bit-exactly; 119 is 4:4:4 color
    // (seed, perturbed, yh, yv) — luma sampling geometry per row
    val fams = Map(
      105 -> (105, false, 1, 1), 106 -> (105, false, 1, 1),
      107 -> (105, true, 1, 1), 108 -> (108, false, 1, 1),
      109 -> (109, false, 1, 1),
      116 -> (116, false, 2, 2), 117 -> (116, false, 2, 2),
      118 -> (118, false, 2, 2), 119 -> (119, false, 1, 1),
      120 -> (120, false, 2, 2), 121 -> (120, false, 2, 2),
      122 -> (120, true, 2, 2), 123 -> (123, false, 2, 2),
      // PROGRESSIVE rows (r15): same coefficient formulas through the
      // SOF2 multi-scan path — DC/AC first + refinement must land on
      // the identical pinned-IDCT pixels (125 ≡ 105's, 126 ≡ 107's)
      124 -> (124, false, 1, 1), 125 -> (105, false, 1, 1),
      126 -> (105, true, 1, 1), 127 -> (127, false, 1, 1),
      // 128: COLOR 4:4:4 progressive — interleaved DC scans; the Y
      // plane still follows jpeg_qc in raster block order
      128 -> (128, false, 1, 1),
      // r16 SAMPLED rows: 129 progressive 4:2:0 re-encode of 116;
      // 130 progressive 4:2:0 at non-MCU-aligned width (the padding
      // column of Y blocks is entropy-walked then discarded);
      // 131 baseline 4:2:2; 132 its progressive re-encode
      129 -> (116, false, 2, 2), 130 -> (130, false, 2, 2),
      131 -> (131, false, 2, 1), 132 -> (131, false, 2, 1),
      // r16 RESTART rows: 133 baseline DRI=3 re-encode of 105, 134
      // progressive 4:2:0 DRI=2 re-encode of 116 — the RSTn resync +
      // predictor/EOBRUN resets must be pixel-invisible
      133 -> (105, false, 1, 1), 134 -> (116, false, 2, 2),
      // r17: 135 is the EXIF Orientation=6 rotated re-save of 105 — the
      // engine rotate-normalizes, so the DISPLAYED raster is 105's;
      // 136 is the Adobe-CMYK re-save of 108 — the pinned ink
      // reconstruction lands exactly on 108's luma raster
      135 -> (105, false, 1, 1), 136 -> (108, false, 1, 1))
    val rows = spark.read.parquet(fixture)
      .filter(col("mime") === "image/jpeg" && col("media_id") >= 105)
      .select("media_id", "payload", "width", "height").collect()
    assert(rows.length == 26)
    rows.foreach { r =>
      val id = r.getLong(0).toInt
      val (seed, pt, yh, yv) = fams(id)
      val dec = Multimodal.jpegGray(r.getAs[Array[Byte]]("payload"))
      assert(dec.isDefined, s"jpegGray rejected fixture jpeg $id")
      val (w, h, gray) = dec.get
      assert(w == r.getInt(2) && h == r.getInt(3))
      for (y <- 0 until h; x <- 0 until w)
        assert(gray(y * w + x) == jpegExpected(seed, w, h, pt, x, y, yh, yv),
          s"jpeg $id pixel ($x,$y)")
    }
  }

  test("jpegGray agrees with ImageIO within the documented ±2 IDCT tolerance") {
    // ISO/IEC 10918-1 only BOUNDS IDCT error — implementations may
    // legitimately differ by small rounding, which is exactly why the
    // oracle replays OUR pinned spec instead of a third-party decoder.
    // ImageIO must still land within ±2 luma of ours on every pixel.
    // 135/136 excluded: ImageIO is EXIF-BLIND (returns the stored 16×24
    // raster, not the displayed 24×16) and its CMYK ink transform is its
    // own, not the pinned one — both rows are pixel-pinned against their
    // baseline twins in the family test above instead
    val rows = spark.read.parquet(fixture)
      .filter(col("mime") === "image/jpeg" && col("media_id") >= 105 &&
        col("media_id") <= 134)
      .select("media_id", "payload").collect()
    rows.foreach { r =>
      val p = r.getAs[Array[Byte]]("payload")
      val (w, h, gray) = Multimodal.jpegGray(p).get
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      assert(img != null && img.getWidth == w && img.getHeight == h)
      val color = img.getRaster.getNumBands > 1
      for (y <- 0 until h; x <- 0 until w) {
        // grayscale: raw raster sample — getRGB would push the value
        // through a linear-gray→sRGB gamma conversion (+50-ish luma).
        // color: our raster is the Y plane; BT.601 luma of ImageIO's
        // reconstructed RGB equals Y exactly in real arithmetic (the
        // chroma terms cancel), so per-channel integer rounding plus
        // the IDCT tolerance bounds the gap at ±4
        val theirs =
          if (!color) img.getRaster.getSample(x, y, 0)
          else {
            val rgb = img.getRGB(x, y)
            (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
          }
        val tol = if (color) 4 else 2
        assert(math.abs(gray(y * w + x) - theirs) <= tol,
          s"media ${r.getLong(0)} pixel ($x,$y): ours ${gray(y * w + x)} vs ImageIO $theirs")
      }
    }
  }

  test("jpegGray rejects unsupported/malformed layouts cleanly") {
    val good = spark.read.parquet(fixture)
      .filter(col("media_id") === 105).select("payload").head().getAs[Array[Byte]](0)
    assert(Multimodal.jpegGray(good).isDefined)
    // truncated entropy stream
    assert(Multimodal.jpegGray(good.dropRight(12)).isEmpty)
    // progressive SOF2: out of the baseline contract
    val prog = good.clone()
    val sofAt = prog.indexOfSlice(Array(0xFF.toByte, 0xC0.toByte))
    prog(sofAt + 1) = 0xC2.toByte
    assert(Multimodal.jpegGray(prog).isEmpty)
    // declared dims bomb: u16-max dims from a sub-KB stream
    val bomb = good.clone()
    bomb(sofAt + 5) = 0xFF.toByte; bomb(sofAt + 6) = 0xFF.toByte
    bomb(sofAt + 7) = 0xFF.toByte; bomb(sofAt + 8) = 0xFF.toByte
    assert(Multimodal.jpegGray(bomb).isEmpty)
  }

  test("JPEG frame contract: EOI, trailing bytes, frame kinds, Adobe transform, scan shape") {
    def payload(id: Long): Array[Byte] = spark.read.parquet(fixture)
      .filter(col("media_id") === id).select("payload").head().getAs[Array[Byte]](0)
    def at(p: Array[Byte], marker: Int): Int =
      p.indexOfSlice(Array(0xFF.toByte, marker.toByte))
    def sameRaster(p: Array[Byte], like: Array[Byte]): Boolean =
      (Multimodal.imageGray(p), Multimodal.imageGray(like)) match {
        case (Some((w, h, a)), Some((w2, h2, b))) => w == w2 && h == h2 && a.sameElements(b)
        case _ => false
      }
    // 105 baseline gray, 125 progressive gray, 136 baseline Adobe CMYK
    val base = payload(105); val prog = payload(125); val cmyk = payload(136)
    Seq(base, prog, cmyk).foreach(p => assert(Multimodal.imageGray(p).isDefined))
    // a baseline frame is complete at the end of its one scan: no EOI
    // needed; a progressive frame is complete only at EOI
    assert(sameRaster(base.dropRight(2), base))
    assert(Multimodal.imageGray(prog.dropRight(2)).isEmpty)
    // bytes after EOI are never read
    val junk = Array[Byte](1, 2, 3)
    assert(sameRaster(base ++ junk, base))
    assert(sameRaster(prog ++ junk, prog))
    // SOF0 and SOF2 are the only frame kinds
    val sof1 = base.clone(); sof1(at(base, 0xC0) + 1) = 0xC1.toByte
    assert(Multimodal.imageGray(sof1).isEmpty)
    // a 4-component frame needs Adobe transform 0 (CMYK) or 2 (YCCK)
    val adobe = cmyk.indexOfSlice("Adobe".getBytes("US-ASCII")) + 11
    assert(cmyk(adobe) == 0)
    val t1 = cmyk.clone(); t1(adobe) = 1
    assert(Multimodal.imageGray(t1).isEmpty)
    val t2 = cmyk.clone(); t2(adobe) = 2
    assert(Multimodal.imageGray(t2).isDefined)
    // a baseline scan carries every frame component (Ns = nf)
    val ns3 = cmyk.clone(); ns3(at(cmyk, 0xDA) + 4) = 3
    assert(Multimodal.imageGray(ns3).isEmpty)
    // a progressive frame has 1 or 3 components, never 4
    val prog4 = cmyk.clone(); prog4(at(cmyk, 0xC0) + 1) = 0xC2.toByte
    assert(Multimodal.imageGray(prog4).isEmpty)
  }

  test("a progressive SOS segment too short for its header yields None, not an exception") {
    val prog = spark.read.parquet(fixture)
      .filter(col("media_id") === 125).select("payload").head().getAs[Array[Byte]](0)
    // the file ends in an SOS marker whose length (2) leaves no byte for Ns
    val cut = prog.take(prog.indexOfSlice(Array(0xFF.toByte, 0xDA.toByte))) ++
      Array(0xFF, 0xDA, 0x00, 0x02).map(_.toByte)
    assert(Multimodal.imageGray(cut).isEmpty)
  }

  test("a progressive frame with more blocks than its payload can code is refused unallocated") {
    val prog = spark.read.parquet(fixture)
      .filter(col("media_id") === 125).select("payload").head().getAs[Array[Byte]](0)
    // SOF2 height/width (u16 BE at marker + 5 / + 7) set to 4096x4096, the
    // pixel cap: 262,144 blocks from a sub-KB stream
    val sof = prog.indexOfSlice(Array(0xFF.toByte, 0xC2.toByte))
    val big = prog.clone()
    big(sof + 5) = 0x10; big(sof + 6) = 0; big(sof + 7) = 0x10; big(sof + 8) = 0
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    assert(Multimodal.imageGray(big).isEmpty) // warm: class loading is not the decoder's
    val before = mx.getThreadAllocatedBytes(tid)
    assert(Multimodal.imageGray(big).isEmpty)
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(allocated < (1L << 20), s"allocated $allocated bytes before refusing the frame")
  }

  test("decoders refuse decompression bombs: huge declared dims from tiny payloads") {
    // header-declared dims are untrusted: a sub-KB payload claiming a
    // 65535×65535 (GIF) or 2^31-scale (PNG) raster must yield None, not
    // a NegativeArraySizeException / multi-GB allocation (the allocation
    // guard runs BEFORE any raster is sized)
    val gif = spark.read.parquet(fixture)
      .filter(col("media_id") === 92).select("payload").head().getAs[Array[Byte]](0)
    val gifBomb = gif.clone()
    // image descriptor at offset 25 (hdr 6 + lsd 7 + palette 12):
    // w at +5 (LE u16), h at +7
    gifBomb(30) = 0xFF.toByte; gifBomb(31) = 0xFF.toByte
    gifBomb(32) = 0xFF.toByte; gifBomb(33) = 0xFF.toByte
    assert(Multimodal.gifGray(gifBomb).isEmpty,
      "gifGray must refuse a 65535x65535 declaration (iw*ih overflows Int)")
    val png = spark.read.parquet(fixture)
      .filter(col("media_id") === 101).select("payload").head().getAs[Array[Byte]](0)
    val pngBomb = png.clone()
    // IHDR: w BE u32 at 16, h at 20 — declare ~2^30 each
    pngBomb(16) = 0x40.toByte; pngBomb(17) = 0; pngBomb(18) = 0; pngBomb(19) = 0
    pngBomb(20) = 0x40.toByte; pngBomb(21) = 0; pngBomb(22) = 0; pngBomb(23) = 0
    assert(Multimodal.pngGray(pngBomb).isEmpty,
      "pngGray must refuse gigapixel declarations from a sub-KB IDAT")
    // a merely-large-but-plausible declaration still fails the
    // payload-derived bound (DEFLATE can't legally expand this far)
    // 2048×2048 = 4.2M px is UNDER the hard pixel cap — this one must
    // fail on the payload-derived bound alone
    val pngBig = png.clone()
    pngBig(16) = 0; pngBig(17) = 0; pngBig(18) = 0x08.toByte; pngBig(19) = 0
    pngBig(20) = 0; pngBig(21) = 0; pngBig(22) = 0x08.toByte; pngBig(23) = 0
    assert(Multimodal.pngGray(pngBig).isEmpty,
      "pngGray must refuse rasters beyond DEFLATE's max expansion of the IDAT")
  }

  test("videoNearDupPairs finds the seeded families incl. the cross-container AVI/MP4 pair") {
    val pairs = Multimodal.videoNearDupPairs(Multimodal.readMedia(spark, fixture))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(pairs.keySet == Set((110L, 111L), (110L, 112L), (111L, 112L), (114L, 115L)))
    assert(pairs((110L, 111L)) == ((0L, 0L)))  // exact stream copy
    // the CROSS-CONTAINER duplicate: identical stream, AVI vs MP4 —
    // content-keyed, not container-keyed
    assert(pairs((114L, 115L)) == ((0L, 0L)))
    val (ham, l1) = pairs((110L, 112L))        // sparse byte perturbation
    assert(ham <= 24L && l1 > 0L && l1 <= 8192L)
  }

  test("videoNearDupAgainst screens the batch against the fingerprint history only") {
    val m = Multimodal.readMedia(spark, fixture)
    val got = Multimodal.videoNearDupAgainst(
      m.filter(col("media_id") >= 111), m.filter(col("media_id") <= 110))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 111/112 land on base 110; unrelated 113 and the no-history pair
    // 114/115 (in-batch, correctly not emitted) match nothing
    assert(got == Set((111L, 110L), (112L, 110L)))
  }

  test("videoRawSlots decodes only the raw-gray codec and rejects everything else") {
    val rows = spark.read.parquet(fixture)
      .filter(col("mime").startsWith("video/"))
      .select("media_id", "payload", "width", "height", "n_frames").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val dec = Multimodal.videoRawSlots(r.getAs[Array[Byte]]("payload"), 8)
      if (id >= 110) {
        assert(dec.isDefined, s"raw-codec video $id rejected")
        val (w, h, nf, frames) = dec.get
        assert(w == r.getInt(2) && h == r.getInt(3) && nf == r.getInt(4).toLong)
        assert(frames.length == 8 && frames.forall(_.length == w * h))
      } else
        // rows 0-87: real containers, but mdat/movi is not a raw frame
        // stream — must be None, never fabricated frames
        assert(dec.isEmpty, s"non-raw video $id must not decode")
    }
  }

  test("phash candidate generation is banded (equi-join), never a cross product") {
    val plan = Multimodal.imageNearDupPairs(Multimodal.readMedia(spark, fixture))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join in the near-dup plan:\n$plan")
  }

  test("jpegRgb: grayscale passthrough, stored-expectation agreement, hue-shift separation") {
    val rows = spark.read.parquet(fixture)
      .filter(col("exp_rsum").isNotNull)
      .select("media_id", "payload", "exp_rsum", "exp_gsum", "exp_bsum").collect()
    assert(rows.length == 26)
    rows.foreach { r =>
      val dec = Multimodal.jpegRgb(r.getAs[Array[Byte]]("payload"))
      assert(dec.isDefined, s"jpegRgb rejected jpeg ${r.getLong(0)}")
      val (w, h, rp, gp, bp) = dec.get
      assert(rp.foldLeft(0L)(_ + _) == r.getLong(2), s"rsum jpeg ${r.getLong(0)}")
      assert(gp.foldLeft(0L)(_ + _) == r.getLong(3), s"gsum jpeg ${r.getLong(0)}")
      assert(bp.foldLeft(0L)(_ + _) == r.getLong(4), s"bsum jpeg ${r.getLong(0)}")
      // r17: 135 (EXIF-rotated 105) is grayscale too; 136's CMYK
      // reconstruction is engineered R = G = B = the 108 luma raster
      if (r.getLong(0) <= 109L || r.getLong(0) == 133L ||
          r.getLong(0) >= 135L ||
          (r.getLong(0) >= 124L && r.getLong(0) <= 127L)) { // grayscale: R = G = B = Y
        val (_, _, y) = Multimodal.jpegGray(r.getAs[Array[Byte]]("payload")).get
        assert(rp.sameElements(y) && gp.sameElements(y) && bp.sameElements(y))
      }
    }
  }

  test("jpegRgb agrees with ImageIO: exact-res color within ±4, 4:2:0 within filter tolerance") {
    val rows = spark.read.parquet(fixture)
      // 116-123 + the color progressive 128 + the r16 sampled/restart
      // rows 129-132 and 134: the GRAYSCALE rows (124-127 progressive,
      // 133 restart) are excluded because ImageIO's getRGB pushes gray
      // rasters through a gamma conversion (the jpegGray raw-raster
      // test covers their ImageIO agreement); 135/136 (r17) are excluded
      // because ImageIO is EXIF-BLIND (returns the stored raster) and
      // its CMYK ink transform is its own, not the pinned one — both are
      // pixel-pinned against their baseline twins in the family test
      .filter(col("exp_rsum").isNotNull &&
        ((col("media_id") >= 116 && col("media_id") <= 123) ||
          (col("media_id") >= 128 && col("media_id") <= 134 &&
            col("media_id") =!= 133)))
      .select("media_id", "payload").collect()
    rows.foreach { r =>
      val p = r.getAs[Array[Byte]]("payload")
      val (w, h, rp, gp, bp) = Multimodal.jpegRgb(p).get
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      assert(img != null && img.getWidth == w && img.getHeight == h)
      val is444 = r.getLong(0) == 119L || r.getLong(0) == 128L
      var sumAbs = 0L; var maxAbs = 0
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val dr = math.abs(rp(y * w + x) - ((rgb >> 16) & 0xff))
        val dg = math.abs(gp(y * w + x) - ((rgb >> 8) & 0xff))
        val db = math.abs(bp(y * w + x) - (rgb & 0xff))
        sumAbs += dr + dg + db; maxAbs = math.max(maxAbs, math.max(dr, math.max(dg, db)))
        // 4:4:4 has no upsampling: only IDCT + per-channel rounding differ
        if (is444) assert(dr <= 4 && dg <= 4 && db <= 4,
          s"media ${r.getLong(0)} pixel ($x,$y): ($dr,$dg,$db)")
      }
      // 4:2:0: ImageIO's FANCY (triangle) chroma upsampling legitimately
      // differs from our pinned nearest rule at chroma gradients — the
      // witness claim is a bounded MEAN gap, not per-pixel equality
      if (!is444)
        assert(sumAbs / (3L * w * h) <= 8,
          s"media ${r.getLong(0)}: mean |Δ| ${sumAbs / (3.0 * w * h)}, max $maxAbs")
    }
  }

  test("colorNearDupPairs separates the hue-shifted twin from the true near-dup") {
    val got = Multimodal.colorNearDupPairs(Multimodal.readMedia(spark, fixture))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // 120-121: luma-IDENTICAL (Hamming 0) yet NOT a color dup — the
    // false positive a luma-only stack cannot see
    val (y01, c01, dup01) = got((120L, 121L))
    assert(y01 == 0L && c01 > 6L && !dup01)
    // 120-122: perturbed luma, same chroma — a true near-dup
    val (y02, c02, dup02) = got((120L, 122L))
    assert(y02 <= 3L && c02 <= 6L && dup02)
    // the classic coefficient copy stays a color dup
    assert(got((116L, 117L)) == ((0L, 0L, true)))
  }
}
