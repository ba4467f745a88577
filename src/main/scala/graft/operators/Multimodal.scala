package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sever.SeverOps

/** Multimodal columns: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, plus the decode / feature-extract stage of
  * a training-data pipeline.
  *
  * The Spark-side plumbing is real: a typed `Dataset` with a case-class
  * encoder, batch-at-a-time decode via `mapPartitions` (one decoder
  * instantiation per partition, the same shape a JNI image codec or an
  * Arrow-batched Python worker needs — per-partition setup cost is
  * amortized over the whole partition, and partitions stream: nothing is
  * collected).
  *
  * Codec capability, stated precisely:
  *  - IMAGE DIMENSION decode is REAL for JPEG, PNG, GIF, and BMP:
  *    [[imageDims]] parses the actual container bytes (JPEG SOI +
  *    marker-segment walk to the frame header, PNG signature + IHDR, GIF
  *    signature + logical screen descriptor, BMP file header + DIB
  *    header in both the INFO and OS/2 CORE variants) with no image
  *    library, and [[decodeOne]] dispatches on the files' magic bytes —
  *    point the pipeline at real .jpg/.png/.gif/.bmp payloads and the
  *    emitted dims are the true ones (MultimodalSpec proves it on
  *    ImageIO-encoded and hand-built fixtures; fixtures/media.parquet
  *    rows 60-75 store complete valid GIF/BMP files).
  *  - AUDIO HEADER decode is REAL for WAV: [[wavMeta]] walks actual
  *    RIFF/WAVE container chunks ("fmt " for sample rate / channels /
  *    bits, "data" for sample count → duration) per the RIFF spec,
  *    including non-canonical chunk orders and odd-size padding; the
  *    fixture codec is retired for audio (fixtures/media.parquet stores
  *    genuine WAV containers, and MultimodalSpec proves the parse on
  *    javax.sound-encoded bytes).
  *  - AUDIO SAMPLE decode is REAL for 8/16-bit PCM WAV: [[pcmStats]]
  *    decodes every sample frame from the data chunk (unsigned 8-bit,
  *    signed little-endian 16-bit per the WAVE spec) and folds exact
  *    integer amplitude statistics.
  *  - VIDEO CONTAINER demux is REAL for ISO-BMFF (MP4/MOV) and AVI:
  *    [[videoMeta]] walks the actual box tree (`ftyp`, `moov` →
  *    `trak`/`tkhd` 16.16 dims → `mdia`/`mdhd` timescale →
  *    `stbl`/`stts` sample runs, with the 64-bit largesize escape and
  *    version-0/1 full boxes) and the actual RIFF `AVI ` chunk tree
  *    (`LIST hdrl` → `avih` main header) — dims, frame count, fps, and
  *    duration are parsed from the container bytes, with the fixture
  *    video codec retired (fixtures/media.parquet stores complete
  *    valid MP4 and AVI files in three MP4 layouts including
  *    streaming-style mdat-first).
  *  - IMAGE PIXEL decode is REAL for baseline JPEG, GIF, 24-bpp BMP,
  *    and 8-bit PNG:
  *    [[pngGray]] walks the chunk tree, inflates the IDAT DEFLATE
  *    stream with the JDK's Inflater, and applies all five scanline
  *    filters (verified pixel-for-pixel against ImageIO's adaptively
  *    filtered output — PNG is lossless, so agreement is exact);
  *    [[gifGray]]
  *    runs a general GIF LZW decoder (variable-width codes, dictionary
  *    growth, KwKwK, clear/EOI, sub-block reassembly, four-pass
  *    interlace reorder — verified pixel-for-pixel against ImageIO on
  *    its own compressed interlaced output) and [[bmpGray]] walks the
  *    aligned BGR rows; both emit integer BT.601 luma rasters that feed
  *    the perceptual-hash dedup stage ([[imagePhash]] /
  *    [[imageNearDupPairs]]). [[jpegGray]] runs one JPEG decoder for
  *    baseline and progressive frames (Huffman entropy decode,
  *    dequantization and a PINNED integer IDCT — lossy decoders may
  *    round differently, so the oracle replays exactly this IDCT,
  *    [[IdctK]]). Payloads that are
  *    no recognized container at all route
  *    to a FIXTURE codec (u16-BE dims header + byte checksum) standing
  *    in for an ffmpeg/ImageIO call so the byte-level path is still
  *    exercised and oracle-verified against independently stored
  *    metadata (tools/gen_media_fixture.py). A real deployment swaps
  *    exactly those decode bodies; signatures, batching, and schemas
  *    are final.
  *
  * At 100 TB: payloads dominate row size, so the scan must prune them when
  * a query touches only metadata (parquet column pruning gives this for
  * free — see MultimodalSpec's ReadSchema assertion) and decode stages must
  * repartition by byte volume, not row count, before heavy codecs.
  */
object Multimodal {

  /** Raw row shape of a media table: id + mime + opaque payload. */
  case class MediaRow(media_id: Long, mime: String, payload: Array[Byte])

  /** Decoded features (what a real codec would emit). */
  case class Decoded(media_id: Long, mime: String,
                     dec_width: Int, dec_height: Int,
                     dec_bytes: Long, dec_checksum: Long)

  private def u16be(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def u32be(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  /** REAL JPEG dimension parse: verify the SOI marker (FFD8), then walk
    * the marker segments — each `FF <marker> <u16 length incl. itself>` —
    * to the first frame header (SOF0–SOF15, excluding the non-frame C4/C8/
    * CC codes), whose payload is `precision(1) height(2) width(2) ...`.
    * Handles standalone markers (RST0–7, TEM) and padding FF fill bytes,
    * per ITU-T T.81 §B.1; stops cleanly (None) at SOS/EOI or any
    * malformed length, so a truncated or non-JPEG payload can never
    * produce garbage dims. Covers baseline AND progressive (SOF2) files. */
  private[graft] def jpegDims(p: Array[Byte]): Option[(Int, Int)] =
    jpegDimsStored(p).map { case (w, h) =>
      // EXIF fold (r17): orientations 5-8 transpose the display raster —
      // report the dims every EXIF-aware consumer (and the perceptual
      // stack, which rotate-normalizes at decode) agrees on
      if (jpegExifOrientation(p) >= 5) (h, w) else (w, h)
    }

  private def jpegDimsStored(p: Array[Byte]): Option[(Int, Int)] = {
    if (p.length < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8) return None
    var i = 2
    while (i + 1 < p.length) {
      if ((p(i) & 0xff) != 0xff) return None
      var j = i + 1
      while (j < p.length && (p(j) & 0xff) == 0xff) j += 1 // FF fill bytes
      if (j >= p.length) return None
      val marker = p(j) & 0xff
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) i = j + 1 // standalone
      else if (marker == 0xd9 || marker == 0xda) return None // EOI / entropy data ahead
      else {
        if (j + 2 >= p.length) return None
        val len = u16be(p, j + 1)
        if (len < 2) return None
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (j + 7 >= p.length) return None
          return Some((u16be(p, j + 6), u16be(p, j + 4))) // (width, height)
        }
        i = j + 1 + len
      }
    }
    None
  }

  /** REAL PNG dimension parse: the 8-byte signature, then the IHDR chunk
    * (mandated first by the PNG spec): length(4) "IHDR"(4) width(4)
    * height(4). Width/height are u31; anything malformed yields None. */
  private[graft] def pngDims(p: Array[Byte]): Option[(Int, Int)] = {
    val magic = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (p.length < 24) return None
    if (!magic.indices.forall(i => (p(i) & 0xff) == magic(i))) return None
    if (!(p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R')) return None
    val w = u32be(p, 16)
    val h = u32be(p, 20)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) None
    else Some((w.toInt, h.toInt))
  }

  /** REAL GIF dimension parse: "GIF87a"/"GIF89a" signature, then the
    * logical screen descriptor's u16-LE width/height at offsets 6/8 —
    * the canvas dims, per the GIF spec the first thing after the header
    * in every valid file. Zero dims (legal nowhere) yield None. */
  private[graft] def gifDims(p: Array[Byte]): Option[(Int, Int)] = {
    if (p.length < 13) return None
    if (!(p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8' &&
      (p(4) == '7' || p(4) == '9') && p(5) == 'a')) return None
    val w = u16le(p, 6)
    val h = u16le(p, 8)
    if (w == 0 || h == 0) None else Some((w, h))
  }

  /** REAL BMP dimension parse: "BM" file header, then dims from the DIB
    * header, dispatched on its declared size at offset 14 — s32-LE
    * width/height at 18/22 for BITMAPINFOHEADER (40) and its V2-V5
    * extensions, u16-LE at 18/20 for the OS/2 BITMAPCOREHEADER (12).
    * Height is SIGNED in the INFO family: negative means a top-down row
    * order, and the image height is its magnitude. */
  private[graft] def bmpDims(p: Array[Byte]): Option[(Int, Int)] = {
    if (p.length < 26 || p(0) != 'B' || p(1) != 'M') return None
    u32le(p, 14) match {
      case dib if dib >= 40 =>
        val w = u32le(p, 18).toInt
        val h = math.abs(u32le(p, 22).toInt)
        if (w <= 0 || h == 0) None else Some((w, h))
      case 12 =>
        val w = u16le(p, 18)
        val h = u16le(p, 20)
        if (w == 0 || h == 0) None else Some((w, h))
      case _ => None
    }
  }

  /** Dimensions from REAL image container bytes, dispatched on magic
    * bytes; None when the payload is not a JPEG/PNG/GIF/BMP container. */
  def imageDims(payload: Array[Byte]): Option[(Int, Int)] =
    jpegDims(payload).orElse(pngDims(payload))
      .orElse(gifDims(payload)).orElse(bmpDims(payload))

  /** Decode one payload. Real JPEG/PNG/GIF/BMP containers (recognized by
    * magic bytes) get the REAL header parse — dims are the file's true
    * dims and the checksum spans the whole payload. Video payloads
    * belong to [[videoMeta]]'s real demux, not this image path — loud
    * failure, not fabricated dims. Everything else routes to the FIXTURE
    * codec: u16-BE dims header (4 bytes) before the checksummed body.
    * The fixture's first header byte is a small width's high byte, never
    * 0xFF/0x89/'G'/'B', so the magic-byte dispatch cannot misroute it. */
  private def decodeOne(r: MediaRow): Decoded =
    imageDims(r.payload) match {
      case Some((w, h)) =>
        var sum = 0L
        var i = 0
        while (i < r.payload.length) { sum += r.payload(i) & 0xff; i += 1 }
        Decoded(r.media_id, r.mime, w, h, r.payload.length.toLong, sum % 9973)
      case None =>
        require(!r.mime.startsWith("video/"),
          s"video payloads route to videoMeta, not decode: media ${r.media_id}")
        val p = r.payload
        require(p.length >= 4, s"payload too short for media ${r.media_id}")
        var sum = 0L
        var i = 4
        while (i < p.length) { sum += p(i) & 0xff; i += 1 }
        Decoded(r.media_id, r.mime, u16be(p, 0), u16be(p, 2), p.length.toLong, sum % 9973)
    }

  /** Batched decode: mapPartitions so decoder setup happens once per
    * partition and rows stream through without materializing. */
  def decode(media: Dataset[MediaRow]): Dataset[Decoded] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (codec handle, JNI ctx)
      rows.map(decodeOne)
    }
  }

  /** Read a media parquet as the typed raw Dataset (payload + mime only —
    * the redundant metadata columns are pruned at the scan and reserved
    * for verification). */
  def readMedia(spark: SparkSession, path: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("media_id"), col("mime"), col("payload"))
      .as[MediaRow]
  }

  /** Rows of one mime family, filtered COLUMN-level BEFORE the typed
    * stage: a typed lambda filter would sit above DeserializeToObject and
    * the scan would read every payload; the Column predicate reaches the
    * parquet scan (PushedFilters: StringStartsWith on mime), so other
    * families' payload bytes are never materialized. */
  private def mediaOfFamily(spark: SparkSession, path: String, prefix: String): Dataset[MediaRow] =
    readMedia(spark, path).filter(col("mime").startsWith(prefix))

  /** The oracle-checked query: decode every image payload from BYTES and
    * emit the features. The DuckDB oracle reads the independently stored
    * metadata columns — matching proves the byte-level decode. */
  def decodeImages(spark: SparkSession, path: String): DataFrame =
    decode(mediaOfFamily(spark, path, "image/")).toDF()

  private def u16le(b: Array[Byte], off: Int): Int =
    ((b(off + 1) & 0xff) << 8) | (b(off) & 0xff)

  private def u32le(b: Array[Byte], off: Int): Long =
    ((b(off + 3) & 0xffL) << 24) | ((b(off + 2) & 0xffL) << 16) |
      ((b(off + 1) & 0xffL) << 8) | (b(off) & 0xffL)

  /** REAL WAV/RIFF header parse: "RIFF" + u32-LE riff size + "WAVE", then
    * a chunk walk — each chunk is `id(4) + u32-LE size + payload`, with
    * odd sizes padded to even per the RIFF spec — to the "fmt " chunk
    * (channels u16-LE @2, sample rate u32-LE @4, block align u16-LE @12,
    * bits u16-LE @14) and the "data" chunk (n_samples = chunk size /
    * block align). Tolerates extra chunks (LIST, fact, cue) in any
    * position, but requires "fmt " before "data" as the spec mandates
    * (block align is needed to size the samples). Anything malformed —
    * truncated chunk, zero block align, missing magic — yields None, so a
    * corrupt payload can never produce garbage metadata.
    * Returns (sample_rate, channels, bits, n_samples). */
  private[graft] def wavMeta(p: Array[Byte]): Option[(Int, Int, Int, Long)] =
    wavChunks(p).map { case (sr, ch, bits, _, _, n) => (sr, ch, bits, n) }

  /** The full chunk-walk result, for consumers that also read the sample
    * bytes: (sample_rate, channels, bits, block_align, data_offset,
    * n_samples), where data_offset is the byte offset of the first sample
    * frame inside the payload. See [[wavMeta]] for the walk's contract. */
  private[graft] def wavChunks(p: Array[Byte]): Option[(Int, Int, Int, Int, Int, Long)] = {
    if (p.length < 12) return None
    if (!(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F')) return None
    if (!(p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')) return None
    var i = 12
    var sr = -1; var ch = -1; var bits = -1; var block = -1
    var dataOff = -1
    var nSamples = -1L
    while (i + 8 <= p.length && (sr < 0 || nSamples < 0)) {
      val isFmt = p(i) == 'f' && p(i + 1) == 'm' && p(i + 2) == 't' && p(i + 3) == ' '
      val isData = p(i) == 'd' && p(i + 1) == 'a' && p(i + 2) == 't' && p(i + 3) == 'a'
      val size = u32le(p, i + 4)
      if (i + 8 + size > p.length) return None // truncated chunk
      if (isFmt) {
        if (size < 16) return None
        ch = u16le(p, i + 8 + 2)
        val rate = u32le(p, i + 8 + 4)
        if (rate <= 0 || rate > Int.MaxValue) return None
        sr = rate.toInt
        block = u16le(p, i + 8 + 12)
        bits = u16le(p, i + 8 + 14)
      } else if (isData) {
        if (block <= 0) return None // fmt must precede data
        dataOff = i + 8
        nSamples = size / block
      }
      i += 8 + size.toInt + (size.toInt & 1) // odd chunk sizes pad to even
    }
    if (sr > 0 && ch > 0 && bits > 0 && nSamples >= 0)
      Some((sr, ch, bits, block, dataOff, nSamples))
    else None
  }

  /** Parsed audio container metadata (what a real audio decoder emits
    * before touching a sample). Duration is integer math —
    * `n_samples * 1000 div sample_rate` — so the oracle reproduces it. */
  case class AudioMeta(media_id: Long, sample_rate: Int, channels: Int,
                       bits: Int, n_samples: Long, duration_ms: Long)

  /** REAL audio metadata from RIFF/WAVE container BYTES, same
    * mapPartitions batching as [[decode]]. Fails loudly on a non-WAV
    * payload under an audio mime — silently fabricated metadata is how a
    * corrupt corpus poisons a pipeline. */
  def audioMeta(media: Dataset[MediaRow]): Dataset[AudioMeta] = {
    import media.sparkSession.implicits._
    media.filter(col("mime").startsWith("audio/")).mapPartitions { rows =>
      rows.map { r =>
        wavMeta(r.payload) match {
          case Some((sr, ch, bits, n)) =>
            AudioMeta(r.media_id, sr, ch, bits, n, n * 1000L / sr)
          case None =>
            throw new IllegalArgumentException(
              s"not a RIFF/WAVE payload: media ${r.media_id}")
        }
      }
    }
  }

  /** Per-payload PCM amplitude statistics (REAL sample decode): exact
    * integer sums over every decoded sample, plus one final IEEE divide. */
  case class PcmStats(media_id: Long, n_frames: Long, sum_abs: Long,
                      sum_sq: Long, max_abs: Int, n_silent: Long,
                      mean_square: Double)

  /** REAL PCM SAMPLE decode over WAV payloads — the pixel/sample-level
    * step [[audioMeta]] stops short of. Walks to the data chunk and
    * decodes every sample frame: 8-bit PCM is unsigned (amplitude =
    * byte - 128), 16-bit PCM is signed little-endian, per the WAVE spec.
    * Emits exact integer aggregates — sum |amp|, sum amp², max |amp|,
    * and a silence counter (|amp| < full_scale/64, i.e. < 2 at 8-bit,
    * < 512 at 16-bit — an integer threshold both engines share) — plus
    * mean_square as the single IEEE divide of two exact integers, so an
    * independent decoder reproduces every column bit-for-bit. Tight
    * per-payload loop inside mapPartitions: the genuinely imperative
    * byte-crunching a codec needs, amortized per partition, streaming.
    * Fails loudly on non-WAV or non-8/16-bit payloads. */
  def pcmStats(media: Dataset[MediaRow]): Dataset[PcmStats] = {
    import media.sparkSession.implicits._
    media.filter(col("mime").startsWith("audio/")).mapPartitions { rows =>
      rows.map { r =>
        val p = r.payload
        wavChunks(p) match {
          case Some((_, ch, bits, _, off, n)) =>
            require(bits == 8 || bits == 16,
              s"unsupported PCM depth $bits for media ${r.media_id}")
            val total = n * ch
            val thr = (1 << (bits - 1)) / 64
            var sumAbs = 0L; var sumSq = 0L; var maxAbs = 0; var silent = 0L
            var j = 0L
            while (j < total) {
              val amp =
                if (bits == 8) (p(off + j.toInt) & 0xff) - 128
                else {
                  val lo = p(off + 2 * j.toInt) & 0xff
                  (p(off + 2 * j.toInt + 1).toInt << 8) | lo // sign-extends
                }
              val a = if (amp < 0) -amp else amp
              sumAbs += a
              sumSq += a.toLong * a
              if (a > maxAbs) maxAbs = a
              if (a < thr) silent += 1
              j += 1
            }
            PcmStats(r.media_id, n, sumAbs, sumSq, maxAbs, silent,
              if (total == 0) 0.0 else sumSq.toDouble / total.toDouble)
          case None =>
            throw new IllegalArgumentException(
              s"not a RIFF/WAVE payload: media ${r.media_id}")
        }
      }
    }
  }

  private def u64be(b: Array[Byte], off: Int): Long =
    (u32be(b, off) << 32) | u32be(b, off + 4)

  /** Parsed video container metadata (what a demuxer probe emits):
    * container kind, track dims, frame count, integer frames/sec, and
    * integer-ms duration — every field parsed from actual container
    * bytes, reproducible by an oracle holding the independent metadata. */
  case class VideoMeta(media_id: Long, container: String, vid_width: Int,
                       vid_height: Int, n_frames: Int, fps: Int,
                       duration_ms: Long)

  /** One level of an ISO-BMFF box walk: children of `[start, end)` as
    * (type, payloadStart, payloadEnd), handling the size=1 64-bit
    * largesize escape and the size=0 extends-to-end convention per
    * ISO/IEC 14496-12 §4.2. Any malformed box (size overrunning the
    * parent, size smaller than its own header) rejects the WHOLE level —
    * a truncated container must never yield garbage metadata. */
  private def isoBoxes(p: Array[Byte], start: Int, end: Int): List[(String, Int, Int)] = {
    val out = List.newBuilder[(String, Int, Int)]
    var i = start
    while (i + 8 <= end) {
      val size32 = u32be(p, i)
      val typ = new String(p, i + 4, 4, "US-ASCII")
      var hdr = 8L
      var size = size32
      if (size32 == 1L) {           // largesize escape
        if (i + 16 > end) return Nil
        size = u64be(p, i + 8)
        hdr = 16L
      } else if (size32 == 0L) size = (end - i).toLong // box runs to end
      if (size < hdr || i + size > end) return Nil
      out += ((typ, i + hdr.toInt, i + size.toInt))
      i += size.toInt
    }
    if (i != end) Nil else out.result()
  }

  /** tkhd track dims: 16.16 fixed-point width/height at the end of the
    * box, version-0 (32-bit times) and version-1 (64-bit) layouts. */
  private def tkhdDims(p: Array[Byte], s: Int, e: Int): Option[(Int, Int)] = {
    if (e <= s) return None
    val wOff = s + 4 + (if (p(s) == 1) 84 else 72)
    if (wOff + 8 > e) return None
    val w = (u32be(p, wOff) >> 16).toInt
    val h = (u32be(p, wOff + 4) >> 16).toInt
    if (w > 0 && h > 0) Some((w, h)) else None
  }

  /** mdhd media timescale (ticks per second), version 0/1 layouts. */
  private def mdhdTimescale(p: Array[Byte], s: Int, e: Int): Option[Long] = {
    if (e <= s) return None
    val off = s + 4 + (if (p(s) == 1) 16 else 8)
    if (off + 4 > e) return None
    val ts = u32be(p, off)
    if (ts > 0) Some(ts) else None
  }

  /** stts decoding-time table summed: (total samples, total ticks). The
    * frame count is the SUM over runs — a one-entry shortcut would break
    * on any real file with edit-spliced runs. */
  private def sttsTotals(p: Array[Byte], s: Int, e: Int): Option[(Long, Long)] = {
    if (s + 8 > e) return None
    val entries = u32be(p, s + 4)
    if (s + 8 + entries * 8 > e) return None
    var nf = 0L; var ticks = 0L; var k = 0L
    // checked accumulation: a corrupt stts with huge u32 cnt/delta across
    // many entries can overflow Long and FABRICATE frame/duration metadata;
    // the loud-failure contract for malformed containers demands None
    try {
      while (k < entries) {
        val cnt = u32be(p, s + 8 + (k * 8).toInt)
        val delta = u32be(p, s + 12 + (k * 8).toInt)
        nf = Math.addExact(nf, cnt)
        ticks = Math.addExact(ticks, Math.multiplyExact(cnt, delta))
        k += 1
      }
    } catch { case _: ArithmeticException => return None }
    if (nf > 0 && ticks > 0) Some((nf, ticks)) else None
  }

  /** REAL ISO-BMFF (MP4/MOV) metadata parse per ISO/IEC 14496-12: box
    * walk to `moov`, then per `trak` the `tkhd` 16.16 dims, the `mdhd`
    * media timescale, and the `stbl/stts` sample table. The FIRST track
    * with positive dims and a non-empty stts is the video track (audio
    * tracks carry zero tkhd dims per spec). Derived values are integer
    * math an independent oracle reproduces: n_frames = Σ stts counts,
    * fps = (n_frames·timescale) div Σticks (average rate, floor),
    * duration_ms = Σticks·1000 div timescale. Handles moov before or
    * after mdat, free/unknown boxes, 64-bit largesize, and version-0/1
    * full boxes; any malformed box rejects the parse (None). */
  private[graft] def mp4Meta(p: Array[Byte]): Option[(String, Int, Int, Long, Int, Long)] = {
    val top = isoBoxes(p, 0, p.length)
    if (!top.exists(_._1 == "ftyp")) return None
    top.find(_._1 == "moov").flatMap { case (_, ms, me) =>
      isoBoxes(p, ms, me).iterator.filter(_._1 == "trak").flatMap { case (_, ts, te) =>
        val inTrak = isoBoxes(p, ts, te)
        val inMdia = inTrak.find(_._1 == "mdia")
          .map { case (_, s, e) => isoBoxes(p, s, e) }.getOrElse(Nil)
        for {
          (w, h) <- inTrak.find(_._1 == "tkhd")
            .flatMap { case (_, s, e) => tkhdDims(p, s, e) }
          tscale <- inMdia.find(_._1 == "mdhd")
            .flatMap { case (_, s, e) => mdhdTimescale(p, s, e) }
          (nf, ticks) <- inMdia.find(_._1 == "minf")
            .flatMap { case (_, s, e) => isoBoxes(p, s, e).find(_._1 == "stbl") }
            .flatMap { case (_, s, e) => isoBoxes(p, s, e).find(_._1 == "stts") }
            .flatMap { case (_, s, e) => sttsTotals(p, s, e) }
        } yield ("mp4", w, h, nf, (nf * tscale / ticks).toInt,
          ticks * 1000L / tscale)
      }.nextOption()
    }
  }

  /** REAL AVI metadata parse: RIFF "AVI " form, chunk walk (odd sizes pad
    * to even, exactly the WAV rule) into `LIST hdrl`, then the `avih`
    * main header's little-endian fields — dwMicroSecPerFrame @0,
    * dwTotalFrames @16, dwWidth @32, dwHeight @36 per the AVIMAINHEADER
    * layout. fps = 10⁶ div µs-per-frame; duration_ms = frames·µspf div
    * 10³ — integer math the oracle reproduces. Malformed chunks (size
    * overrun, missing hdrl/avih) yield None. */
  private[graft] def aviMeta(p: Array[Byte]): Option[(String, Int, Int, Long, Int, Long)] = {
    if (p.length < 12) return None
    if (!(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F')) return None
    if (!(p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' ')) return None
    var i = 12
    while (i + 8 <= p.length) {
      val size = u32le(p, i + 4)
      if (i + 8 + size > p.length) return None
      val isList = p(i) == 'L' && p(i + 1) == 'I' && p(i + 2) == 'S' && p(i + 3) == 'T'
      if (isList && size >= 4 &&
          p(i + 8) == 'h' && p(i + 9) == 'd' && p(i + 10) == 'r' && p(i + 11) == 'l') {
        val lend = i + 8 + size.toInt
        var j = i + 12
        while (j + 8 <= lend) {
          val s2 = u32le(p, j + 4)
          if (j + 8 + s2 > lend) return None
          if (p(j) == 'a' && p(j + 1) == 'v' && p(j + 2) == 'i' && p(j + 3) == 'h') {
            if (s2 < 40) return None
            val off = j + 8
            val uspf = u32le(p, off)
            val nf = u32le(p, off + 16)
            val w = u32le(p, off + 32)
            val h = u32le(p, off + 36)
            return if (uspf > 0 && nf > 0 && w > 0 && h > 0)
              Some(("avi", w.toInt, h.toInt, nf, (1000000L / uspf).toInt,
                nf * uspf / 1000L))
            else None
          }
          j += 8 + s2.toInt + (s2.toInt & 1)
        }
        return None // hdrl without avih
      }
      i += 8 + size.toInt + (size.toInt & 1)
    }
    None
  }

  /** REAL video container demux-lite over binary payloads — dispatched on
    * magic bytes (ISO-BMFF `ftyp`, RIFF `AVI `), same mapPartitions
    * batching as [[decode]]. The fixture video codec is retired: these
    * are the actual byte walks an ffprobe-style tool performs, and they
    * fail LOUDLY on anything that is neither container — silently
    * fabricated metadata is how a corrupt corpus poisons a pipeline. */
  def videoMeta(media: Dataset[MediaRow]): Dataset[VideoMeta] = {
    import media.sparkSession.implicits._
    media.filter(col("mime").startsWith("video/")).mapPartitions { rows =>
      rows.map { r =>
        mp4Meta(r.payload).orElse(aviMeta(r.payload)) match {
          case Some((container, w, h, nf, fps, durMs)) =>
            require(nf <= Int.MaxValue, s"frame count overflow for media ${r.media_id}")
            VideoMeta(r.media_id, container, w, h, nf.toInt, fps, durMs)
          case None =>
            throw new IllegalArgumentException(
              s"not an ISO-BMFF or AVI container: media ${r.media_id}")
        }
      }
    }
  }

  /** Frame sampling: every `everyNth` frame of each video, with its
    * millisecond timestamp. The header parse is the REAL [[videoMeta]]
    * demux; the frame-index fan-out is a codegen'd generator
    * (`explode(sequence(...))`) — per row it emits n_frames/everyNth rows
    * with NO shuffle, which is exactly how a 100-TB video corpus feeds a
    * frame-extraction stage (the heavy per-frame decode would hang off
    * these (media_id, frame_idx) coordinates, repartitioned by byte
    * volume). Timestamps are integer math: ts_ms = frame_idx*1000 div fps. */
  def sampleFrames(spark: SparkSession, path: String, everyNth: Int): DataFrame =
    videoMeta(readMedia(spark, path)).toDF()
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyNth))).as("frame_idx"),
        col("fps"))
      .select(col("media_id"), col("frame_idx").cast("int").as("frame_idx"),
        expr("CAST((frame_idx * 1000) DIV fps AS BIGINT)").as("ts_ms"))

  /** Resize planning (the compute-free half of a thumbnail stage): decode
    * dimensions from BYTES, then emit the target geometry for a
    * `maxDim`-bounded thumbnail — scale = min(1, maxDim/max(w,h)), floor'd
    * target dims. The scale and dims are single IEEE ops on exact ints, so
    * the oracle (reading the redundant metadata) reproduces them
    * bit-for-bit. A real resize kernel consumes exactly these rows. */
  def thumbSpec(spark: SparkSession, path: String, maxDim: Int = 64): DataFrame =
    decode(mediaOfFamily(spark, path, "image/"))
      .select(col("media_id"), col("dec_width"), col("dec_height"),
        least(lit(1.0), lit(maxDim.toDouble) /
          greatest(col("dec_width"), col("dec_height"))).as("scale"))
      .select(col("media_id"),
        floor(col("dec_width") * col("scale")).cast("int").as("thumb_w"),
        floor(col("dec_height") * col("scale")).cast("int").as("thumb_h"),
        col("scale"))

  // ------------------------------------------------- pixel-level decode

  /** ITU-R BT.601 integer luma — the one luma convention every stage
    * (hash, verify, oracle) shares, exact in integer arithmetic. */
  @inline private def lumaOf(r: Int, g: Int, b: Int): Int =
    (299 * r + 587 * g + 114 * b) / 1000

  /** REAL GIF LZW decode (the general decoder, not a stored-code-only
    * shortcut): variable-width codes LSB-first, clear/EOI handling,
    * dictionary growth with code-size bumps at 2^width, per the GIF89a
    * spec appendix. `data` is the de-sub-blocked code stream; returns
    * up to `maxPixels` palette indices or None on a malformed stream. */
  /** Hard ceiling on decoded raster size (pixels). Header-declared
    * dimensions are untrusted input; every decoder checks the declared
    * pixel count against this cap AND a payload-derived bound before
    * allocating, so a tiny crafted file can neither overflow Int
    * arithmetic nor allocate a multi-GB raster. 2^24 px (= 64 MB of Int
    * gray) comfortably covers any fixture/corpus thumbnail path while
    * keeping the worst-case per-row task allocation bounded. */
  private[graft] val GrayPixelCap: Long = 1L << 24

  private[graft] def lzwDecode(minCodeSize: Int, data: Array[Byte],
                               maxPixels: Int): Option[Array[Int]] = {
    if (minCodeSize < 2 || minCodeSize > 8) return None
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    // dictionary as prefix/suffix arrays: entry e expands to
    // expand(prefix(e)) :+ suffix(e); roots are single indices
    val maxDict = 4096
    val prefix = new Array[Int](maxDict)
    val suffix = new Array[Int](maxDict)
    var dictSize = eoi + 1
    var codeSize = minCodeSize + 1
    val out = new Array[Int](maxPixels)
    var nOut = 0
    var acc = 0L; var nBits = 0; var pos = 0
    var prev = -1
    def expandInto(code: Int): Boolean = { // append expansion of code
      // walk to the root collecting the chain length, then fill backwards
      var len = 0; var c = code
      while (c >= clear + 2) { len += 1; c = prefix(c) }
      len += 1
      if (nOut + len > maxPixels) return false
      var i = nOut + len - 1; c = code
      while (c >= clear + 2) { out(i) = suffix(c); i -= 1; c = prefix(c) }
      out(i) = c
      nOut += len
      true
    }
    def firstOf(code: Int): Int = {
      var c = code
      while (c >= clear + 2) c = prefix(c)
      c
    }
    while (nOut < maxPixels) {
      while (nBits < codeSize) {
        if (pos >= data.length) return None // ran out before EOI
        acc |= (data(pos) & 0xffL) << nBits
        pos += 1; nBits += 8
      }
      val code = (acc & ((1L << codeSize) - 1)).toInt
      acc >>>= codeSize; nBits -= codeSize
      if (code == clear) {
        dictSize = eoi + 1; codeSize = minCodeSize + 1; prev = -1
      } else if (code == eoi) {
        return if (nOut == maxPixels) Some(out) else None
      } else if (prev == -1) {
        if (code >= clear) return None // first code must be a root
        out(nOut) = code; nOut += 1
        prev = code
      } else {
        if (code > dictSize) return None // only existing entries or the next (KwKwK)
        if (code < dictSize) {
          if (!expandInto(code)) return None
        } else { // the KwKwK case: expansion is expand(prev) :+ first(prev)
          var len = 1; var c = prev
          while (c >= clear + 2) { len += 1; c = prefix(c) }
          len += 1
          if (nOut + len > maxPixels) return None
          var i = nOut + len - 1
          out(i) = firstOf(prev); i -= 1; c = prev
          while (c >= clear + 2) { out(i) = suffix(c); i -= 1; c = prefix(c) }
          out(i) = c
          nOut += len
        }
        if (dictSize < maxDict) {
          prefix(dictSize) = prev
          suffix(dictSize) = firstOf(code)
          dictSize += 1
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    if (nOut == maxPixels) Some(out) else None
  }

  /** REAL GIF pixel decode to a top-down grayscale raster: header +
    * logical screen descriptor + global palette, extension-block skip,
    * first image descriptor (local palette honored when present), then
    * the full LZW decode above, the four-pass INTERLACE row reorder when
    * the descriptor flags it (rows 0,8,16… / 4,12… / 2,6… / 1,3,5… per
    * the GIF89a spec — javax.imageio's writer interlaces by default, so
    * a general decoder cannot skip it), and palette→luma. Malformed
    * streams yield None (never garbage pixels). */
  private[graft] def gifGray(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    gifDims(p) match {
      case None => None
      case Some(_) =>
        val flags = p(10) & 0xff
        val gpal = (flags & 0x80) != 0
        val gpalSize = 2 << (flags & 7)
        var pos = 13 + (if (gpal) 3 * gpalSize else 0)
        var palOff = 13; var palSize = gpalSize; var hasPal = gpal
        // walk blocks to the first image descriptor
        while (pos < p.length && (p(pos) & 0xff) == 0x21) { // extension
          pos += 2 // introducer + label
          while (pos < p.length && p(pos) != 0) pos += 1 + (p(pos) & 0xff)
          pos += 1 // block terminator
        }
        if (pos + 9 >= p.length || (p(pos) & 0xff) != 0x2c) return None
        val iw = u16le(p, pos + 5)
        val ih = u16le(p, pos + 7)
        val iflags = p(pos + 9) & 0xff
        val interlaced = (iflags & 0x40) != 0
        pos += 10
        if ((iflags & 0x80) != 0) { // local palette wins
          palOff = pos; palSize = 2 << (iflags & 7); hasPal = true
          pos += 3 * palSize
        }
        if (!hasPal || pos >= p.length) return None
        val minCode = p(pos) & 0xff
        pos += 1
        // concatenate sub-blocks
        val bb = new scala.collection.mutable.ArrayBuilder.ofByte
        while (pos < p.length && p(pos) != 0) {
          val n = p(pos) & 0xff
          if (pos + 1 + n > p.length) return None
          bb.addAll(java.util.Arrays.copyOfRange(p, pos + 1, pos + 1 + n))
          pos += 1 + n
        }
        val lzw = bb.result()
        // Allocation guard BEFORE any raster is sized from header-declared
        // dims: iw,ih are attacker-controlled u16s, so iw*ih can reach
        // ~4.3e9 (Int overflow → NegativeArraySizeException) from a
        // sub-KB payload. Bound by (a) a hard pixel cap and (b) the
        // payload itself: every emitted pixel run needs at least one LZW
        // code of ≥ minCode+1 bits whose dictionary entry is at most 4096
        // long (GIF's 12-bit code ceiling), so a stream of L bytes cannot
        // legally encode more than 8L/(minCode+1) · 4096 pixels.
        val nPix = iw.toLong * ih
        val lzwBound = 8L * lzw.length / math.max(1, minCode + 1) * 4096L
        if (nPix <= 0 || nPix > GrayPixelCap || nPix > lzwBound) return None
        // stream row s lands on display row rowOf(s)
        val rowOf: Array[Int] =
          if (!interlaced) Array.tabulate(ih)(identity)
          else ((0 until ih by 8) ++ (4 until ih by 8) ++
            (2 until ih by 4) ++ (1 until ih by 2)).toArray
        lzwDecode(minCode, lzw, iw * ih).flatMap { idx =>
          val gray = new Array[Int](iw * ih)
          var j = 0
          while (j < idx.length) {
            val c = idx(j)
            if (c >= palSize) return None
            val o = palOff + 3 * c
            gray(rowOf(j / iw) * iw + j % iw) =
              lumaOf(p(o) & 0xff, p(o + 1) & 0xff, p(o + 2) & 0xff)
            j += 1
          }
          Some((iw, ih, gray))
        }
    }
  }

  /** REAL BMP pixel decode to a top-down grayscale raster: 24-bpp
    * uncompressed BITMAPINFOHEADER files (the overwhelmingly common
    * storage layout), bottom-up or top-down per the sign of the height
    * field, rows 4-byte aligned, pixels stored B,G,R. Anything else
    * (other depths, compression, CORE header) yields None. */
  private[graft] def bmpGray(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (p.length < 54 || p(0) != 'B' || p(1) != 'M') return None
    if (u32le(p, 14) < 40) return None
    val w = u32le(p, 18).toInt
    val hRaw = u32le(p, 22).toInt
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val bpp = u16le(p, 28)
    val compression = u32le(p, 30)
    if (w <= 0 || h == 0 || bpp != 24 || compression != 0) return None
    val off = u32le(p, 10).toInt
    val rowBytes = (w * 3 + 3) / 4 * 4
    if (off.toLong + rowBytes.toLong * h > p.length) return None
    val gray = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val fileRow = if (topDown) y else h - 1 - y
      val base = off + fileRow * rowBytes
      var x = 0
      while (x < w) {
        val b = p(base + 3 * x) & 0xff
        val g = p(base + 3 * x + 1) & 0xff
        val r = p(base + 3 * x + 2) & 0xff
        gray(y * w + x) = lumaOf(r, g, b)
        x += 1
      }
      y += 1
    }
    Some((w, h, gray))
  }

  /** REAL PNG pixel decode to a top-down grayscale raster: chunk walk
    * (IHDR → concatenated IDAT → IEND), zlib inflate via the JDK's
    * `Inflater` (PNG's DEFLATE stream is part of the format spec, not an
    * image codec), then per-scanline DEFILTERING — all five PNG filter
    * types (None/Sub/Up/Average/Paeth, the Paeth predictor per the spec)
    * — and channel→luma. Supported layout: 8-bit depth, grayscale /
    * truecolor / truecolor-alpha (color types 0/2/6 — what encoders
    * actually emit for photographic data), non-interlaced (Adam7 →
    * None). PNG is lossless, so agreement with an independent decoder
    * is exact by construction — MultimodalSpec pins pixel-for-pixel
    * equality against ImageIO. */
  private[graft] def pngGray(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    pngDims(p) match {
      case None => None
      case Some((w, h)) =>
        var pos = 8
        var bitDepth = -1; var colorType = -1; var interlace = -1
        val idat = new scala.collection.mutable.ArrayBuilder.ofByte
        var done = false
        while (!done && pos + 8 <= p.length) {
          val len = u32be(p, pos).toInt
          if (len < 0 || pos + 12 + len > p.length) return None
          val typ = new String(p, pos + 4, 4, "US-ASCII")
          typ match {
            case "IHDR" =>
              bitDepth = p(pos + 16) & 0xff
              colorType = p(pos + 17) & 0xff
              interlace = p(pos + 20) & 0xff
            case "IDAT" =>
              idat.addAll(java.util.Arrays.copyOfRange(p, pos + 8, pos + 8 + len))
            case "IEND" => done = true
            case _ => ()
          }
          pos += 12 + len
        }
        if (bitDepth != 8 || interlace != 0) return None
        val channels = colorType match {
          case 0 => 1
          case 2 => 3
          case 6 => 4
          case _ => return None
        }
        // Allocation guard BEFORE sizing buffers from IHDR-declared dims:
        // w,h are untrusted u32s, so (stride+1)*h and w*h can overflow Int
        // or demand GBs from a sub-KB payload. Bound by (a) the hard pixel
        // cap and (b) DEFLATE's maximum expansion: stored blocks aside, an
        // inflated stream is at most ~1032× its compressed size (zlib's
        // documented worst-case ratio), so the raw filtered raster cannot
        // legally exceed 1032·|IDAT| + a small constant.
        val idatBytes = idat.result()
        val rawLen = (w.toLong * channels + 1L) * h
        if (w.toLong * h > GrayPixelCap || rawLen > Int.MaxValue ||
            rawLen > 1032L * idatBytes.length + 64L) return None
        val stride = w * channels
        val raw = new Array[Byte]((stride + 1) * h)
        val inf = new java.util.zip.Inflater()
        inf.setInput(idatBytes)
        try {
          var off = 0
          while (off < raw.length && !inf.finished()) {
            val n = inf.inflate(raw, off, raw.length - off)
            if (n == 0 && inf.needsInput()) return None // truncated stream
            off += n
          }
          if (off != raw.length) return None
        } catch { case _: java.util.zip.DataFormatException => return None }
        finally inf.end()
        // defilter in place into `cur` scanlines
        val prev = new Array[Int](stride)
        val cur = new Array[Int](stride)
        val gray = new Array[Int](w * h)
        def paeth(a: Int, b: Int, c: Int): Int = {
          val pp = a + b - c
          val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
          if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        var y = 0
        while (y < h) {
          val base = y * (stride + 1)
          val filter = raw(base) & 0xff
          var i = 0
          while (i < stride) {
            val x = raw(base + 1 + i) & 0xff
            val a = if (i >= channels) cur(i - channels) else 0 // left
            val b = prev(i)                                     // up
            val c = if (i >= channels) prev(i - channels) else 0 // up-left
            cur(i) = filter match {
              case 0 => x
              case 1 => (x + a) & 0xff
              case 2 => (x + b) & 0xff
              case 3 => (x + (a + b) / 2) & 0xff
              case 4 => (x + paeth(a, b, c)) & 0xff
              case _ => return None
            }
            i += 1
          }
          var px = 0
          while (px < w) {
            gray(y * w + px) =
              if (channels == 1) cur(px)
              else lumaOf(cur(px * channels), cur(px * channels + 1), cur(px * channels + 2))
            px += 1
          }
          System.arraycopy(cur, 0, prev, 0, stride)
          y += 1
        }
        Some((w, h, gray))
    }
  }

  // -------------------------------------------------- baseline JPEG

  /** graft's PINNED integer IDCT basis: K(u)(x) = round(α(u)/2 ·
    * cos((2x+1)uπ/16) · 2¹⁰) with α(0) = 1/√2, α = 1 otherwise. The
    * decoded pixel is floor((Σ_{u,v} F(u,v)·K(u)(x)·K(v)(y) + 2¹⁹) /
    * 2²⁰) + 128, clamped to [0, 255]. This is OUR documented spec, not
    * libjpeg's — JPEG permits IDCT implementations to differ by small
    * rounding (ISO/IEC 10918-1 only bounds the error), so a bit-exact
    * oracle contract requires pinning ONE integer algorithm and having
    * the DuckDB oracle replay exactly it (the q141 PCM precedent).
    * Observed agreement with ImageIO's decoder on fixture streams is
    * within ±2 luma (MultimodalSpec pins the tolerance). */
  private[graft] val IdctK: Array[Int] = Array(
    362, 362, 362, 362, 362, 362, 362, 362,
    502, 426, 284, 100, -100, -284, -426, -502,
    473, 196, -196, -473, -473, -196, 196, 473,
    426, -100, -502, -284, 284, 502, 100, -426,
    362, -362, -362, 362, 362, -362, -362, 362,
    284, -502, 100, 426, -426, -100, 502, -284,
    196, -473, 473, -196, -196, 473, -473, 196,
    100, -284, 426, -502, 502, -426, 284, -100)

  /** Zigzag index → (v=row/vertical freq, u=col/horizontal freq), the
    * standard JPEG scan order (ISO/IEC 10918-1 Figure 5). */
  private[graft] val ZigV: Array[Int] = Array(
    0, 0, 1, 2, 1, 0, 0, 1, 2, 3, 4, 3, 2, 1, 0, 0, 1, 2, 3, 4, 5, 6, 5, 4,
    3, 2, 1, 0, 0, 1, 2, 3, 4, 5, 6, 7, 7, 6, 5, 4, 3, 2, 1, 2, 3, 4, 5, 6,
    7, 7, 6, 5, 4, 3, 4, 5, 6, 7, 7, 6, 5, 6, 7, 7)
  private[graft] val ZigU: Array[Int] = Array(
    0, 1, 0, 0, 1, 2, 3, 2, 1, 0, 0, 1, 2, 3, 4, 5, 4, 3, 2, 1, 0, 0, 1, 2,
    3, 4, 5, 6, 7, 6, 5, 4, 3, 2, 1, 0, 1, 2, 3, 4, 5, 6, 7, 7, 6, 5, 4, 3,
    2, 3, 4, 5, 6, 7, 7, 6, 5, 4, 5, 6, 7, 7, 6, 7)

  /** Canonical JPEG Huffman table (ISO/IEC 10918-1 Annex C): codes of
    * increasing length assigned in HUFFVAL order, values incrementing
    * within a length and doubling at each length step. Decode by walking
    * bits MSB-first against per-length first-code/first-index offsets. */
  private final class JpegHuff(bits: Array[Int], vals: Array[Int]) {
    // mincode(l), maxcode(l) exclusive, valptr(l) for code length l+1
    private val minCode = new Array[Int](16)
    private val maxCode = new Array[Int](16)
    private val valPtr = new Array[Int](16)
    locally {
      var code = 0; var k = 0; var l = 0
      while (l < 16) {
        minCode(l) = code; valPtr(l) = k
        code += bits(l); k += bits(l)
        maxCode(l) = code
        code <<= 1
        l += 1
      }
    }
    /** Decode one symbol; -1 on invalid code / exhausted reader. */
    def decode(br: JpegBits): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        val b = br.bit()
        if (b < 0) return -1
        code = (code << 1) | b
        if (code < maxCode(l)) return vals(valPtr(l) + (code - minCode(l)))
        l += 1
      }
      -1
    }
  }

  /** MSB-first bit reader over the entropy-coded segment with the spec's
    * byte stuffing (FF 00 → literal FF); stops cleanly at any other
    * marker (FF xx). */
  private final class JpegBits(p: Array[Byte], start: Int) {
    private var pos = start
    private var acc = 0
    private var n = 0
    def bit(): Int = {
      if (n == 0) {
        if (pos >= p.length) return -1
        var b = p(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          if (pos >= p.length) return -1
          val next = p(pos) & 0xff
          if (next == 0x00) pos += 1 // stuffed FF
          else { pos -= 1; return -1 } // real marker: stream over
          b = 0xff
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    /** Byte-align (discarding any partial-byte padding bits) and consume
      * the marker expected at exactly this position (the RSTn cadence of
      * a restart interval); returns the marker byte or -1. */
    def syncMarker(): Int = {
      n = 0
      if (pos + 1 >= p.length || (p(pos) & 0xff) != 0xff) return -1
      val m = p(pos + 1) & 0xff
      pos += 2
      m
    }
    /** Offset of the next marker (an FF not followed by a stuffed 00) at
      * or after the reader position, -1 if none: after a scan's last
      * block the progressive multi-scan walk resumes its segment parse
      * there, past any padding bits. */
    def nextMarker(): Int = {
      var j = pos
      while (j + 1 < p.length &&
        !((p(j) & 0xff) == 0xff && (p(j + 1) & 0xff) != 0x00)) j += 1
      if (j + 1 >= p.length) -1 else j
    }
    /** `size` raw bits MSB-first (the RECEIVE of F.2.2.4); -1 when the
      * stream ends. size = 0 returns 0. */
    def receive(size: Int): Int = {
      var r = 0; var k = 0
      while (k < size) {
        val b = bit(); if (b < 0) return -1
        r = (r << 1) | b; k += 1
      }
      r
    }
  }

  /** EXTEND (ISO/IEC 10918-1 F.2.2.1): the `size`-bit RECEIVE value `v`
    * as a signed coefficient. */
  @inline private def extend(v: Int, size: Int): Int =
    if (v < (1 << (size - 1))) v - (1 << size) + 1 else v

  /** REAL JPEG decode to a grayscale raster in display orientation:
    * [[jpegDecode]] (baseline SOF0 and progressive SOF2 frames, grayscale,
    * YCbCr at 4:4:4/4:2:0/4:2:2/4:4:0 or Adobe CMYK/YCCK) on its
    * FAST-LUMA path — chroma is entropy-decoded but never dequantized or
    * IDCT'd, so for YCbCr the decoded raster IS the Y plane — then the
    * EXIF orientation fold. Other frame types, samplings and anything
    * malformed yield None (never garbage pixels); declared dims are
    * bounded by the pixel cap, and baseline dims also by the entropy
    * payload (a block costs ≥ 2 bits, so L bytes bound blocks by 4L). */
  private[graft] def jpegGray(p: Array[Byte]): Option[(Int, Int, Array[Int])] =
    jpegDecode(p, wantChroma = false).map { d =>
      orientRaster(d.w, d.h, d.y, jpegExifOrientation(p))
    }

  // --------------------------------------------- EXIF orientation (r17)
  //
  // A rotated re-save with Orientation=6 carries the SAME scene pixels
  // transposed in storage; a perceptual screen that hashes the stored
  // raster calls the pair unrelated (r16 verdict #7). The fix is
  // rotate-NORMALIZATION at decode: every JPEG raster leaves the decoder
  // in display orientation, so the 8 EXIF variants of one photo hash
  // identically.

  /** EXIF IFD0 Orientation (tag 0x0112) from the APP1 `Exif\0\0`
    * segment: TIFF byte-order header honored (II and MM), IFD0 walked
    * entry-by-entry, SHORT value read in the declared order. 1
    * (identity) on absence or ANY malformation — orientation is a hint;
    * a broken hint must never fail a decode. Bounded: one marker walk +
    * one IFD scan, both inside the segment's declared length. */
  private[graft] def jpegExifOrientation(p: Array[Byte]): Int = {
    if (p.length < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8) return 1
    var i = 2
    while (i + 3 < p.length) {
      if ((p(i) & 0xff) != 0xff) return 1
      var j = i + 1
      while (j < p.length && (p(j) & 0xff) == 0xff) j += 1
      if (j >= p.length) return 1
      val marker = p(j) & 0xff
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) i = j + 1
      else if (marker == 0xd9 || marker == 0xda) return 1 // entropy data: no APP1 ahead
      else {
        if (j + 2 >= p.length) return 1
        val len = u16be(p, j + 1)
        if (len < 2 || j + 1 + len > p.length) return 1
        if (marker == 0xe1 && len >= 16 &&
            p(j + 3) == 'E' && p(j + 4) == 'x' && p(j + 5) == 'i' &&
            p(j + 6) == 'f' && p(j + 7) == 0 && p(j + 8) == 0) {
          val t = j + 9 // TIFF header start
          val end = j + 1 + len
          val little =
            if (p(t) == 'I' && p(t + 1) == 'I') true
            else if (p(t) == 'M' && p(t + 1) == 'M') false
            else return 1
          def u16(o: Int): Int =
            if (o + 1 >= end) -1
            else if (little) (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
            else ((p(o) & 0xff) << 8) | (p(o + 1) & 0xff)
          def u32(o: Int): Long =
            if (o + 3 >= end) -1L
            else if (little) (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
              ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
            else ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
              ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
          if (u16(t + 2) != 42) return 1
          val ifd0 = u32(t + 4)
          if (ifd0 < 0 || t + ifd0 + 2 > end) return 1
          val base = t + ifd0.toInt
          val n = u16(base)
          if (n < 0) return 1
          var e = 0
          while (e < n) {
            val eo = base + 2 + 12 * e
            if (eo + 12 > end) return 1
            if (u16(eo) == 0x0112 && u16(eo + 2) == 3) { // SHORT
              val v = u16(eo + 8) // value inline, first 2 bytes
              return if (v >= 1 && v <= 8) v else 1
            }
            e += 1
          }
          return 1
        }
        i = j + 1 + len
      }
    }
    1
  }

  /** Apply EXIF orientation `o` to a stored raster, returning the
    * DISPLAY raster (dims swap for 5-8). Inverse maps, pinned (the
    * fixture's Python twin replays them integer-for-integer):
    * displayed(x,y) reads stored(xs,ys) with
    *   2: (w-1-x, y)        3: (w-1-x, h-1-y)   4: (x, h-1-y)
    *   5: (y, x)            6: (y, h-1-x)       7: (w-1-y, h-1-x)
    *   8: (w-1-y, x)
    * o outside 2-8 is the identity (no copy). */
  private[graft] def orientRaster(w: Int, h: Int, a: Array[Int],
                                  o: Int): (Int, Int, Array[Int]) = {
    if (o < 2 || o > 8) return (w, h, a)
    val swap = o >= 5
    val ow = if (swap) h else w
    val oh = if (swap) w else h
    val out = new Array[Int](a.length)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val (xs, ys) = o match {
          case 2 => (ow - 1 - x, y)
          case 3 => (ow - 1 - x, oh - 1 - y)
          case 4 => (x, oh - 1 - y)
          case 5 => (y, x)
          case 6 => (y, h - 1 - x)
          case 7 => (w - 1 - y, h - 1 - x)
          case 8 => (w - 1 - y, x)
        }
        out(y * ow + x) = a(ys * w + xs)
        x += 1
      }
      y += 1
    }
    (ow, oh, out)
  }

  /** Decoded JPEG planes: luma at full (w, h); when `wantChroma` was set
    * on a 3-component image, Cb/Cr at their natural (cw, ch) with the
    * luma sampling factors (sx, sy) for upsampling — null otherwise. */
  private[graft] final case class JpegPlanes(w: Int, h: Int, y: Array[Int],
      cb: Array[Int], cr: Array[Int], cw: Int, chh: Int, sx: Int, sy: Int,
      // CMYK path (r17): RGB reconstructed during decode — the YCbCr
      // upsample machinery does not apply to 4-component Adobe files
      r: Array[Int] = null, g: Array[Int] = null, b: Array[Int] = null)

  /** The one JPEG frame decoder behind [[jpegGray]] and [[jpegRgb]]: one
    * marker-segment walk (SOI, DQT, DHT, DRI, APP14, SOF0/SOF2, SOS,
    * EOI; APPn/COM skipped), Huffman entropy decode per scan kind,
    * dequantization + de-zigzag and the PINNED integer IDCT ([[IdctK]])
    * per block. Huffman and quantization tables are read from the FILE's
    * DHT/DQT segments, not assumed. Malformed anything yields None, never
    * garbage pixels.
    *
    * Frames: 8-bit precision, luma sampling factors in {1,2} per axis —
    * 4:4:4 (1×1), 4:2:0 (2×2), 4:2:2 (2×1), 4:4:0 (1×2) — chroma always
    * 1×1, grayscale 1×1. Every other SOFn (extended, lossless,
    * arithmetic) yields None.
    *  - SOF0 (baseline sequential): 1, 3 or 4 components in exactly one
    *    full-spectrum interleaved scan, its components taken in frame
    *    order. Each block is dequantized and IDCT'd as soon as it is
    *    decoded (no coefficient buffer), and the frame is complete at the
    *    end of that scan — EOI is not required. A 4-component file is
    *    Adobe CMYK (APP14 transform 0) or YCCK (transform 2), 1×1
    *    everywhere; any other transform is refused (never guessed ink
    *    semantics). Allocation guards: declared dims are bounded by
    *    [[GrayPixelCap]] and by the entropy payload (a block costs ≥ 2
    *    bits, so a stream of L bytes bounds blocks by 4L).
    *  - SOF2 (progressive, ISO/IEC 10918-1 Annex G): 1 or 3 components,
    *    spectral selection + successive approximation (DC first/refine,
    *    AC first/refine with EOBRUN and the correction-bit protocol).
    *    Coefficients accumulate per component in zigzag order across
    *    scans and are dequantized + IDCT'd once at EOI (required) — so
    *    progressive pixels are BIT-IDENTICAL to a baseline encoding of
    *    the same quantized coefficients.
    *
    * Interleaved scans (Ns > 1) walk the frame MCU grid — h×v blocks per
    * component per MCU including the right/bottom PADDING blocks
    * (entropy-coded, they advance the DC predictors, cropped on output);
    * one-component scans walk that component's REAL block raster
    * (ISO 10918-1 A.2). Restart intervals count these same units; an RSTn
    * resets the DC predictors and the EOB run. FAST LUMA: chroma is always
    * entropy-decoded (the stream cannot be advanced otherwise) but only
    * dequantized/IDCT'd under `wantChroma` — luma is the only plane the
    * perceptual stack consumes. A 4-component file reconstructs every
    * plane regardless: its luma needs the full ink transform. */
  private[graft] def jpegDecode(p: Array[Byte],
                                wantChroma: Boolean): Option[JpegPlanes] = {
    if (p.length < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8) return None
    val qt = new Array[Array[Int]](4)
    val dcTabs = new Array[JpegHuff](4)
    val acTabs = new Array[JpegHuff](4)
    var sof = -1 // frame marker: 0xc0 sequential, 0xc2 progressive
    var w = -1; var h = -1; var nf = 0
    val compId = new Array[Int](4)
    val compH = new Array[Int](4) // horizontal sampling factor
    val compV = new Array[Int](4) // vertical sampling factor
    val compTq = new Array[Int](4)
    val compDc = new Array[Int](4)
    val compAc = new Array[Int](4)
    var adobeTransform = -1 // APP14 color-transform byte; -1 = absent
    var restartInterval = 0
    // frame geometry: the MCU grid (hmax/vmax-sized), each component's
    // plane dims, its real block raster and its padded block stride
    var mcusX = 0; var mcusY = 0
    val compW = new Array[Int](4); val compHt = new Array[Int](4)
    val realBw = new Array[Int](4); val realBh = new Array[Int](4)
    val padBw = new Array[Int](4) // padded blocks per row = mcusX * h_c
    // decoded planes: luma always, the others only when emitted
    val planes = new Array[Array[Int]](4)
    // SOF2 only: per-component coefficients, ZIGZAG order, 64 per block,
    // on the PADDED (MCU-complete) grid — interleaved scans write padding
    // blocks there, one-component scans and the output walk index real
    // blocks through the padded stride
    var coefs: Array[Array[Int]] = null
    val preds = new Array[Int](4)
    var eobrun = 0
    var br: JpegBits = null // the current scan's reader
    var ss = 0; var se = 63; var ah = 0; var al = 0 // the current scan's band
    val zz = new Array[Int](64) // SOF0: the block being decoded, zigzag
    val deq = new Array[Long](64) // dequantized, de-zigzagged: deq(v*8+u)

    def layFrame(): Unit = {
      val hmax = compH.take(nf).max; val vmax = compV.take(nf).max
      mcusX = (w + 8 * hmax - 1) / (8 * hmax)
      mcusY = (h + 8 * vmax - 1) / (8 * vmax)
      var c = 0
      while (c < nf) {
        compW(c) = (w * compH(c) + hmax - 1) / hmax
        compHt(c) = (h * compV(c) + vmax - 1) / vmax
        realBw(c) = (compW(c) + 7) / 8
        realBh(c) = (compHt(c) + 7) / 8
        padBw(c) = mcusX * compH(c)
        c += 1
      }
    }

    // dequantize + de-zigzag the 64 coefficients at blk(off), then the
    // pinned integer IDCT into plane c at block (row, col), cropped
    def idctBlock(blk: Array[Int], off: Int, c: Int, row: Int, col: Int): Unit = {
      val q = qt(compTq(c)); val t = planes(c)
      val tw = compW(c); val th = compHt(c)
      java.util.Arrays.fill(deq, 0L)
      var z = 0
      while (z < 64) {
        val v = blk(off + z)
        if (v != 0) deq(ZigV(z) * 8 + ZigU(z)) = v.toLong * q(z)
        z += 1
      }
      var y = 0
      while (y < 8) {
        val py = row * 8 + y
        if (py < th) {
          var x = 0
          while (x < 8) {
            val px = col * 8 + x
            if (px < tw) {
              var sum = 0L
              var v = 0
              while (v < 8) {
                val kvy = IdctK(v * 8 + y)
                if (kvy != 0) {
                  var u = 0
                  while (u < 8) {
                    val f = deq(v * 8 + u)
                    if (f != 0L) sum += f * IdctK(u * 8 + x) * kvy
                    u += 1
                  }
                }
                v += 1
              }
              val pix = ((sum + (1L << 19)) >> 20).toInt + 128
              t(py * tw + px) = if (pix < 0) 0 else if (pix > 255) 255 else pix
            }
            x += 1
          }
        }
        y += 1
      }
    }

    // DC difference (F.2.2.1) added to component c's predictor
    def dcDiff(c: Int): Boolean = {
      val dcSize = dcTabs(compDc(c)).decode(br)
      if (dcSize < 0 || dcSize > 11) return false
      if (dcSize > 0) {
        val bits = br.receive(dcSize); if (bits < 0) return false
        preds(c) += extend(bits, dcSize)
      }
      true
    }

    // one sequential block into zz: DC, then AC run/size symbols with EOB
    // and ZRL. A ZRL past the block end is malformed here (matching the
    // run/size branch's z > 63 strictness) instead of leaving the reader
    // bit-misaligned for a LATER block to trip over.
    def seqBlock(c: Int): Boolean = {
      java.util.Arrays.fill(zz, 0)
      if (!dcDiff(c)) return false
      zz(0) = preds(c)
      val acTab = acTabs(compAc(c))
      var z = 1
      while (z < 64) {
        val sym = acTab.decode(br)
        if (sym < 0) return false
        if (sym == 0x00) return true // EOB
        if (sym == 0xf0) { z += 16; if (z > 64) return false } // ZRL
        else {
          val size = sym & 15
          z += sym >> 4
          if (z > 63 || size == 0 || size > 10) return false
          val bits = br.receive(size); if (bits < 0) return false
          zz(z) = extend(bits, size)
          z += 1
        }
      }
      true
    }

    // one AC-first-scan block (G.1.2.2): runs/sizes with the value
    // point-transformed (<< Al on decode), EOBn starting an EOB run
    def acFirst(blk: Array[Int], off: Int, tab: JpegHuff): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      var k = ss
      while (k <= se) {
        val sym = tab.decode(br); if (sym < 0) return false
        val r = sym >> 4; val s = sym & 15
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else {
            eobrun = (1 << r) - 1
            if (r > 0) {
              val more = br.receive(r); if (more < 0) return false
              eobrun += more
            }
            return true
          }
        } else {
          k += r
          if (k > se || s > 10) return false
          val bits = br.receive(s); if (bits < 0) return false
          blk(off + k) = extend(bits, s) << al
          k += 1
        }
      }
      true
    }

    // one AC-refinement block (G.1.2.3, the libjpeg shape): new ±1<<Al
    // coefficients placed after `r` ZERO-HISTORY positions, correction
    // bits read at every nonzero-history position crossed, EOB runs
    // correcting the band tail
    def acRefine(blk: Array[Int], off: Int, tab: JpegHuff): Boolean = {
      val p1 = 1 << al; val m1 = -1 << al
      var k = ss
      if (eobrun == 0) {
        var broke = false
        while (k <= se && !broke) {
          val sym = tab.decode(br); if (sym < 0) return false
          var r = sym >> 4; val s = sym & 15
          var newval = 0
          if (s == 0) {
            if (r != 15) {
              eobrun = (1 << r) - 1
              if (r > 0) {
                val more = br.receive(r); if (more < 0) return false
                eobrun += more
              }
              eobrun += 1 // this block consumes one EOB of the run
              broke = true
            }
            // r == 15: ZRL — skip 16 zero-history positions below
          } else {
            if (s != 1) return false
            val bit = br.bit(); if (bit < 0) return false
            newval = if (bit == 1) p1 else m1
          }
          if (!broke) {
            var placed = false
            while (k <= se && !placed) {
              val cur = blk(off + k)
              if (cur != 0) {
                val bit = br.bit(); if (bit < 0) return false
                if (bit == 1 && (cur & p1) == 0)
                  blk(off + k) = if (cur >= 0) cur + p1 else cur + m1
                k += 1
              } else {
                r -= 1
                if (r < 0) placed = true // the slot (break position)
                else k += 1
              }
            }
            if (newval != 0) {
              if (k > se) return false
              blk(off + k) = newval
            }
            k += 1
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          val cur = blk(off + k)
          if (cur != 0) {
            val bit = br.bit(); if (bit < 0) return false
            if (bit == 1 && (cur & p1) == 0)
              blk(off + k) = if (cur >= 0) cur + p1 else cur + m1
          }
          k += 1
        }
        eobrun -= 1
      }
      true
    }

    // one block of component c at (row, col) of its block grid, decoded
    // by the current scan's kind: a SOF0 block goes straight through
    // the IDCT when its plane is emitted; a SOF2 block lands in `coefs`
    def block(c: Int, row: Int, col: Int): Boolean =
      if (sof == 0xc0) {
        if (!seqBlock(c)) false
        else { if (planes(c) != null) idctBlock(zz, 0, c, row, col); true }
      } else {
        val blk = coefs(c)
        val off = (row * padBw(c) + col) * 64
        if (ss > 0) {
          if (ah == 0) acFirst(blk, off, acTabs(compAc(c)))
          else acRefine(blk, off, acTabs(compAc(c)))
        } else if (ah == 0) {
          // DC first: the diff-coded value point-transformed << Al
          if (!dcDiff(c)) false else { blk(off) = preds(c) << al; true }
        } else {
          // DC refine: one raw bit at weight 1 << Al
          val bit = br.bit()
          if (bit == 1) blk(off) |= (1 << al)
          bit >= 0
        }
      }

    // one scan's entropy-coded data from `start`; false on a malformed
    // stream. The walk unit is an MCU when the scan is interleaved, one
    // block of its component otherwise.
    def scan(scomps: Array[Int], start: Int): Boolean = {
      br = new JpegBits(p, start)
      java.util.Arrays.fill(preds, 0)
      eobrun = 0
      var sinceRestart = 0
      val c0 = scomps(0)
      val interleaved = scomps.length > 1
      val nUnits =
        if (interleaved) mcusX.toLong * mcusY else realBw(c0).toLong * realBh(c0)
      var u = 0L
      while (u < nUnits) {
        if (restartInterval > 0 && sinceRestart == restartInterval) {
          // byte-aligned RSTn marker between restart intervals
          val mk = br.syncMarker()
          if (mk < 0xd0 || mk > 0xd7) return false
          java.util.Arrays.fill(preds, 0)
          eobrun = 0
          sinceRestart = 0
        }
        if (interleaved) {
          val mx = (u % mcusX).toInt; val my = (u / mcusX).toInt
          var i = 0
          while (i < scomps.length) {
            val c = scomps(i)
            var v = 0
            while (v < compV(c)) {
              var hh = 0
              while (hh < compH(c)) {
                if (!block(c, my * compV(c) + v, mx * compH(c) + hh)) return false
                hh += 1
              }
              v += 1
            }
            i += 1
          }
        } else if (!block(c0, (u / realBw(c0)).toInt, (u % realBw(c0)).toInt))
          return false
        u += 1
        sinceRestart += 1
      }
      true
    }

    def assemble(): Option[JpegPlanes] =
      if (nf == 4) {
        // PINNED Adobe ink reconstruction (r17; the fixture's Python twin
        // replays it integer-for-integer). Adobe writers store INVERTED
        // ink values, so:
        //  T=0 (CMYK): ink C = 255 - s0, M = 255 - s1, Y = 255 - s2,
        //              K = 255 - s3;
        //  T=2 (YCCK): (R0,G0,B0) = the pinned 16-bit YCbCr→RGB over
        //              (s0, s1, s2); C = 255 - R0, M = 255 - G0,
        //              Y = 255 - B0; K = 255 - s3.
        //  RGB: R = (255-C)·(255-K) div 255 (integer), same for G/B;
        //  the luma raster is the pinned BT.601 integer luma over RGB.
        def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
        val n = w * h
        val rP = new Array[Int](n); val gP = new Array[Int](n)
        val bP = new Array[Int](n); val g2 = new Array[Int](n)
        var i2 = 0
        while (i2 < n) {
          val s0 = planes(0)(i2); val s1 = planes(1)(i2)
          val s2 = planes(2)(i2); val s3 = planes(3)(i2)
          val (r0, g0, b0) =
            if (adobeTransform == 0) (s0, s1, s2)
            else {
              val cb = s1 - 128; val cr = s2 - 128
              (clamp(s0 + ((91881 * cr + 32768) >> 16)),
               clamp(s0 - ((22554 * cb + 46802 * cr + 32768) >> 16)),
               clamp(s0 + ((116130 * cb + 32768) >> 16)))
            }
          // inks are Adobe-inverted: 255 - C == r0, 255 - K == s3
          rP(i2) = r0 * s3 / 255
          gP(i2) = g0 * s3 / 255
          bP(i2) = b0 * s3 / 255
          g2(i2) = lumaOf(rP(i2), gP(i2), bP(i2))
          i2 += 1
        }
        Some(JpegPlanes(w, h, g2, null, null, w, h, 1, 1, rP, gP, bP))
      } else {
        val yH = compH(0); val yV = compV(0)
        Some(JpegPlanes(w, h, planes(0), planes(1), planes(2),
          (w + yH - 1) / yH, (h + yV - 1) / yV, yH, yV))
      }

    var sawScan = false
    var i = 2
    var done = false
    while (!done) {
      if (i + 1 >= p.length || (p(i) & 0xff) != 0xff) return None
      var j = i + 1
      while (j < p.length && (p(j) & 0xff) == 0xff) j += 1
      if (j >= p.length) return None
      val marker = p(j) & 0xff
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) i = j + 1
      else if (marker == 0xd9) { // EOI: the end of a progressive frame only
        if (sof != 0xc2 || !sawScan) return None
        done = true
      } else {
        if (j + 2 >= p.length) return None
        val len = u16be(p, j + 1)
        if (len < 2 || j + 1 + len > p.length) return None
        val s = j + 3 // segment body start
        val e = j + 1 + len
        var next = e
        marker match {
          case 0xdb => // DQT: one or more (Pq<<4|Tq, 64 entries)
            var o = s
            while (o < e) {
              val pq = (p(o) & 0xff) >> 4; val tq = (p(o) & 0xff) & 15
              if (pq != 0 || tq > 3 || o + 65 > e) return None
              qt(tq) = Array.tabulate(64)(z => p(o + 1 + z) & 0xff)
              o += 65
            }
          case 0xc4 => // DHT: one or more (Tc<<4|Th, bits[16], vals)
            var o = s
            while (o < e) {
              val tc = (p(o) & 0xff) >> 4; val th = (p(o) & 0xff) & 15
              if (tc > 1 || th > 3 || o + 17 > e) return None
              val bits = Array.tabulate(16)(l => p(o + 1 + l) & 0xff)
              val n = bits.sum
              if (n == 0 || n > 256 || o + 17 + n > e) return None
              // canonicity: the running code counter must never overflow
              // its length (an overfull table would decode garbage symbols)
              var cc = 0; var l = 0
              while (l < 16) {
                cc += bits(l)
                if (cc > (1 << (l + 1))) return None
                cc <<= 1
                l += 1
              }
              val vals = Array.tabulate(n)(k => p(o + 17 + k) & 0xff)
              val tab = new JpegHuff(bits, vals)
              if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
              o += 17 + n
            }
          case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
            // nothing follows a SOF2 header and it follows no frame
            // header; a repeated SOF0 header replaces the earlier one
            if (sof == 0xc2 || (marker == 0xc2 && sof >= 0)) return None
            if (e - s < 6 || (p(s) & 0xff) != 8) return None // precision
            h = u16be(p, s + 1); w = u16be(p, s + 3)
            nf = p(s + 5) & 0xff
            // grayscale or YCbCr; baseline also 4-component Adobe (r17)
            if (nf != 1 && nf != 3 && !(nf == 4 && marker == 0xc0)) return None
            if (e - s < 6 + 3 * nf) return None
            var c = 0
            while (c < nf) {
              compId(c) = p(s + 6 + 3 * c) & 0xff
              val hv = p(s + 7 + 3 * c) & 0xff
              compH(c) = hv >> 4; compV(c) = hv & 15
              compTq(c) = p(s + 8 + 3 * c) & 0xff
              if (compTq(c) > 3) return None
              c += 1
            }
            // sampling: luma factors in {1,2} per axis for YCbCr, 1×1
            // for grayscale and 4-component files; chroma always 1×1
            if ((1 until nf).exists(c => compH(c) != 1 || compV(c) != 1)) return None
            if (nf == 3) {
              if (compH(0) < 1 || compH(0) > 2 || compV(0) < 1 || compV(0) > 2)
                return None
            } else if (compH(0) != 1 || compV(0) != 1) return None
            sof = marker
            if (sof == 0xc2) {
              if (w <= 0 || h <= 0 || w.toLong * h > GrayPixelCap) return None
              layFrame()
              // the first DC scan codes every block in at least one bit,
              // so a frame with more blocks than 8× the bytes left cannot
              // be complete: refuse it before allocating its coefficients
              val blocks = (0 until nf).map(c => padBw(c).toLong * mcusY * compV(c)).sum
              if (blocks > 8L * (p.length - e)) return None
              coefs = Array.tabulate(nf)(c => new Array[Int](padBw(c) * (mcusY * compV(c)) * 64))
            }
          case 0xee => // APP14 Adobe: the color-transform declaration
            // layout: 'Adobe' ver(2) flags0(2) flags1(2) transform(1)
            if (e - s >= 12 && p(s) == 'A' && p(s + 1) == 'd' &&
                p(s + 2) == 'o' && p(s + 3) == 'b' && p(s + 4) == 'e')
              adobeTransform = p(s + 11) & 0xff
          case m if m >= 0xc1 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc =>
            return None // extended/lossless/arithmetic: out of scope
          case 0xdd => // DRI
            if (e - s < 2) return None
            restartInterval = u16be(p, s)
          case 0xda => // SOS
            if (sof < 0 || e - s < 1) return None
            val ns = p(s) & 0xff
            // SOF0: one full interleaved scan; SOF2: 1..nf components
            if (ns < 1 || ns > nf || (sof == 0xc0 && ns != nf) || e - s < 4 + 2 * ns)
              return None
            val scomps = new Array[Int](ns)
            var k = 0
            while (k < ns) {
              // SOF0 takes its components in frame order, SOF2 by id
              val c =
                if (sof == 0xc0) k
                else compId.indexOf(p(s + 1 + 2 * k) & 0xff)
              if (c < 0 || c >= nf) return None
              scomps(k) = c
              val sel = p(s + 2 + 2 * k) & 0xff
              compDc(c) = sel >> 4; compAc(c) = sel & 15
              if (compDc(c) > 3 || compAc(c) > 3) return None
              k += 1
            }
            val sp = s + 1 + 2 * ns
            ss = p(sp) & 0xff; se = p(sp + 1) & 0xff
            ah = (p(sp + 2) & 0xff) >> 4; al = (p(sp + 2) & 0xff) & 15
            if (sof == 0xc0) {
              if (ss != 0 || se != 63 || ah != 0 || al != 0) return None
              if (w <= 0 || h <= 0) return None
              if (nf == 4 && adobeTransform != 0 && adobeTransform != 2) return None
              if ((0 until nf).exists(c => qt(compTq(c)) == null ||
                  dcTabs(compDc(c)) == null || acTabs(compAc(c)) == null)) return None
              layFrame()
              val blocks = mcusX.toLong * mcusY * (compH(0) * compV(0) + nf - 1)
              if (w.toLong * h > GrayPixelCap || blocks > 4L * (p.length - e)) return None
              val emitChroma = (wantChroma && nf == 3) || nf == 4
              var c = 0
              while (c < nf) {
                if (c == 0 || emitChroma) planes(c) = new Array[Int](compW(c) * compHt(c))
                c += 1
              }
              return if (scan(scomps, e)) assemble() else None
            }
            if (ss > 63 || se > 63 || se < ss || ah > 13 || al > 13) return None
            if (ss == 0 && se != 0) return None // DC scan is exactly Ss=Se=0
            if (ss > 0 && ns != 1) return None // AC scans: one component
            // table presence for exactly what this scan reads
            if (scomps.exists(c => (ss == 0 && ah == 0 && dcTabs(compDc(c)) == null) ||
                (ss > 0 && acTabs(compAc(c)) == null))) return None
            if (!scan(scomps, e)) return None
            sawScan = true
            next = br.nextMarker()
            if (next < 0) return None
          case _ => () // APPn / COM / others: skip
        }
        i = next
      }
    }
    if ((0 until nf).exists(c => qt(compTq(c)) == null)) return None
    // dequantize + IDCT the REAL blocks, indexed through the padded
    // stride (interleaved padding blocks are discarded)
    var c = 0
    while (c < nf) {
      if (c == 0 || (wantChroma && nf == 3)) {
        planes(c) = new Array[Int](compW(c) * compHt(c))
        var b = 0
        while (b < realBw(c) * realBh(c)) {
          val row = b / realBw(c); val col = b % realBw(c)
          idctBlock(coefs(c), (row * padBw(c) + col) * 64, c, row, col)
          b += 1
        }
      }
      c += 1
    }
    assemble()
  }

  /** Grayscale raster from REAL container bytes (GIF, 24-bpp BMP, 8-bit
    * PNG, or baseline/progressive JPEG via [[jpegGray]] — the formats
    * whose pixel encodings this library decodes without an image
    * library); None for everything else. */
  def imageGray(payload: Array[Byte]): Option[(Int, Int, Array[Int])] =
    if (payload.length >= 2 && payload(0) == 'G') gifGray(payload)
    else if (payload.length >= 1 && (payload(0) & 0xff) == 0x89) pngGray(payload)
    else if (payload.length >= 2 && (payload(0) & 0xff) == 0xff &&
             (payload(1) & 0xff) == 0xd8) jpegGray(payload)
    else bmpGray(payload)

  /** FULL COLOR JPEG decode to (w, h, R, G, B) planes — the chroma
    * reconstruction the fast-luma path skips. Every step is PINNED so
    * an independent implementation replays it bit-exactly (the IdctK
    * discipline; ISO 10918 only BOUNDS the lossy stages, so the oracle
    * pins OUR integers):
    *  - chroma IDCT: the same integer IDCT as luma, at the chroma
    *    plane's natural resolution;
    *  - upsampling: NEAREST (box replication) — pixel (x, y) reads
    *    chroma sample (x / sx, y / sy), integer division;
    *  - YCbCr→RGB (JFIF): 16-bit fixed point with the PINNED constants
    *    91881 (=round(1.402·2¹⁶)), 22554 (0.344136), 46802 (0.714136),
    *    116130 (1.772); each chroma term is (k·c + 32768) >> 16 (the
    *    arithmetic shift floors, so +32768 makes it round-half-up for
    *    either sign), added to Y and clamped to [0, 255].
    * Grayscale JPEGs decode with R = G = B = Y. None for non-JPEG or
    * malformed payloads (the [[jpegDecode]] guards). */
  private[graft] def jpegRgb(p: Array[Byte])
      : Option[(Int, Int, Array[Int], Array[Int], Array[Int])] =
    jpegDecode(p, wantChroma = true).map { d =>
      val n = d.w * d.h
      val r = if (d.r != null) d.r else new Array[Int](n)
      val g = if (d.r != null) d.g else new Array[Int](n)
      val b = if (d.r != null) d.b else new Array[Int](n)
      if (d.r != null) {
        // CMYK path: RGB was reconstructed during decode
      } else if (d.cb == null) {
        System.arraycopy(d.y, 0, r, 0, n)
        System.arraycopy(d.y, 0, g, 0, n)
        System.arraycopy(d.y, 0, b, 0, n)
      } else {
        def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
        var yy = 0
        while (yy < d.h) {
          val crow = (yy / d.sy) * d.cw
          var x = 0
          while (x < d.w) {
            val i = yy * d.w + x
            val yv = d.y(i)
            val cbv = d.cb(crow + x / d.sx) - 128
            val crv = d.cr(crow + x / d.sx) - 128
            r(i) = clamp(yv + ((91881 * crv + 32768) >> 16))
            g(i) = clamp(yv - ((22554 * cbv + 46802 * crv + 32768) >> 16))
            b(i) = clamp(yv + ((116130 * cbv + 32768) >> 16))
            x += 1
          }
          yy += 1
        }
      }
      // rotate-normalize (r17): the color stack must agree with the luma
      // stack on what "the image" is — same EXIF fold, every plane
      val o = jpegExifOrientation(p)
      val (ow, oh, r2) = orientRaster(d.w, d.h, r, o)
      val (_, _, g2) = orientRaster(d.w, d.h, g, o)
      val (_, _, b2) = orientRaster(d.w, d.h, b, o)
      (ow, oh, r2, g2, b2)
    }

  /** Per-JPEG COLOR perceptual signature: the full RGB reconstruction
    * ([[jpegRgb]]) hashed per CHANNEL with the same 8×8 above-mean rule
    * as the luma hash — R and B carry the chroma information (G tracks
    * luma), so a hue shift that leaves Y untouched flips R/B bits while
    * the luma hash is blind to it. Plane sums are the exactness payload
    * (a plane error that happens not to flip a hash bit still breaks
    * them). */
  case class ImageColorSig(media_id: Long, img_w: Int, img_h: Int,
                           r_sum: Long, g_sum: Long, b_sum: Long,
                           rhash_hi: Long, rhash_lo: Long,
                           bhash_hi: Long, bhash_lo: Long)

  def imageColorSig(media: Dataset[MediaRow]): Dataset[ImageColorSig] = {
    import media.sparkSession.implicits._
    media.filter(col("mime") === "image/jpeg").mapPartitions { rows =>
      rows.flatMap { r =>
        jpegRgb(r.payload).map { case (w, h, rp, gp, bp) =>
          val (rhi, rlo, _) = aHash64(w, h, rp)
          val (bhi, blo, _) = aHash64(w, h, bp)
          ImageColorSig(r.media_id, w, h,
            rp.foldLeft(0L)(_ + _), gp.foldLeft(0L)(_ + _), bp.foldLeft(0L)(_ + _),
            rhi, rlo, bhi, blo)
        }
      }
    }
  }

  /** COLOR-verified near-dup pairs over JPEGs: luma-hash banded
    * candidates + exact luma Hamming (the q277 machinery) — then the
    * COLOR verdict: a pair is a true near-dup only if the R and B
    * channel hashes ALSO agree within `maxColorHamming`. A hue-shifted
    * recolor with identical luma passes the luma cut at Hamming 0 and
    * FAILS here — the false positive the fast-luma stack cannot see.
    * Output keeps both verdicts so the cut is auditable. */
  def colorNearDupPairs(media: Dataset[MediaRow], maxHamming: Int = 3,
                        maxColorHamming: Int = 6): DataFrame = {
    val lumaPairs = imageNearDupPairs(media, maxHamming,
        maxSampleL1 = Long.MaxValue)
      .select(col("id_a"), col("id_b"), col("hamming").as("y_hamming"))
    val sig = imageColorSig(media).toDF()
      .select(col("media_id"), col("rhash_hi"), col("rhash_lo"),
        col("bhash_hi"), col("bhash_lo"))
    val a = sig.columns.foldLeft(sig)((d, c) => d.withColumnRenamed(c, s"${c}_a"))
    val b = sig.columns.foldLeft(sig)((d, c) => d.withColumnRenamed(c, s"${c}_b"))
    lumaPairs
      .join(a, col("id_a") === col("media_id_a"))
      .join(b, col("id_b") === col("media_id_b"))
      .withColumn("color_hamming",
        (bit_count(col("rhash_hi_a").bitwiseXOR(col("rhash_hi_b"))) +
          bit_count(col("rhash_lo_a").bitwiseXOR(col("rhash_lo_b"))) +
          bit_count(col("bhash_hi_a").bitwiseXOR(col("bhash_hi_b"))) +
          bit_count(col("bhash_lo_a").bitwiseXOR(col("bhash_lo_b")))).cast("long"))
      .withColumn("color_dup", col("color_hamming") <= maxColorHamming)
      .select("id_a", "id_b", "y_hamming", "color_hamming", "color_dup")
  }

  // ----------------------------------------------- perceptual hashing

  /** 64-bit average-hash over a grayscale raster: nearest-neighbor
    * sample an 8×8 grid (cell (x,y) reads pixel (⌊x·w/8⌋, ⌊y·h/8⌋)),
    * set bit k = y·8+x iff 64·sample > Σ samples (the division-free
    * above-mean test — exact, no floor ambiguity cross-engine).
    * Returned split as (hi, lo) unsigned 32-bit halves so both the
    * banding and the DuckDB oracle stay inside non-negative BIGINTs.
    * Returns the 64 samples too — they are the exact-verify payload. */
  private[graft] def aHash64(w: Int, h: Int, gray: Array[Int]): (Long, Long, Array[Int]) = {
    val smp = new Array[Int](64)
    var k = 0
    var sum = 0L
    while (k < 64) {
      val x = k % 8; val y = k / 8
      smp(k) = gray((y * h / 8) * w + (x * w / 8))
      sum += smp(k)
      k += 1
    }
    var hi = 0L; var lo = 0L
    k = 0
    while (k < 64) {
      if (smp(k) * 64L > sum) {
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      }
      k += 1
    }
    (hi, lo, smp)
  }

  /** Per-image perceptual hash row: hash halves + the 8×8 gray samples
    * (the bounded exact-verify vector — 64 ints however large the
    * image). */
  case class ImagePhash(media_id: Long, img_w: Int, img_h: Int,
                        phash_hi: Long, phash_lo: Long, gray64: Seq[Int])

  /** Average-hash every image payload with a REAL pixel decode (GIF +
    * 24-bpp BMP); rows whose payload has no pixel decoder are dropped
    * (metadata-only formats stay in the dims pipeline). mapPartitions:
    * the per-payload byte walk is the justified imperative case, and at
    * 100 TB the stage repartitions by byte volume upstream while its
    * output is a fixed ~300 bytes/row however large the image. */
  def imagePhash(media: Dataset[MediaRow]): Dataset[ImagePhash] = {
    import media.sparkSession.implicits._
    media.filter(col("mime").startsWith("image/")).mapPartitions { rows =>
      rows.flatMap { r =>
        imageGray(r.payload).map { case (w, h, gray) =>
          val (hi, lo, smp) = aHash64(w, h, gray)
          ImagePhash(r.media_id, w, h, hi, lo, smp.toSeq)
        }
      }
    }
  }

  /** Per-payload audio fingerprint: decode the PCM stream (the
    * [[pcmStats]] walk), split it into 64 equal windows (sample j →
    * window ⌊j·64/total⌋), fold Σ|amp| per window, set bit t iff
    * 64·E_t > ΣE — the same division-free above-mean test as the image
    * hash, over energy envelope instead of luma. State per payload is
    * 64 longs regardless of duration. */
  case class AudioFp(media_id: Long, n_pcm: Long,
                     fp_hi: Long, fp_lo: Long, energy64: Seq[Long])

  def audioFingerprint(media: Dataset[MediaRow]): Dataset[AudioFp] = {
    import media.sparkSession.implicits._
    media.filter(col("mime").startsWith("audio/")).mapPartitions { rows =>
      rows.map { r =>
        val p = r.payload
        wavChunks(p) match {
          case Some((_, ch, bits, _, off, n)) =>
            require(bits == 8 || bits == 16,
              s"unsupported PCM depth $bits for media ${r.media_id}")
            val total = n * ch
            val e = new Array[Long](64)
            var j = 0L
            while (j < total) {
              val amp =
                if (bits == 8) (p(off + j.toInt) & 0xff) - 128
                else {
                  val lo = p(off + 2 * j.toInt) & 0xff
                  (p(off + 2 * j.toInt + 1).toInt << 8) | lo
                }
              e((j * 64 / total).toInt) += (if (amp < 0) -amp else amp)
              j += 1
            }
            var sum = 0L
            var t = 0
            while (t < 64) { sum += e(t); t += 1 }
            var hi = 0L; var lo = 0L
            t = 0
            while (t < 64) {
              if (e(t) * 64 > sum) {
                if (t < 32) lo |= 1L << t else hi |= 1L << (t - 32)
              }
              t += 1
            }
            AudioFp(r.media_id, total, hi, lo, e.toSeq)
          case None =>
            throw new IllegalArgumentException(
              s"not a RIFF/WAVE payload: media ${r.media_id}")
        }
      }
    }
  }

  /** The (hi, lo) unsigned 32-bit hash halves as one 64-bit signature,
    * so the 4 bands of [[Dedup.hammingBands]] at width 16 are lo's low
    * and high halves, then hi's, and `bit_count(xor)` of the packed longs
    * is the Hamming distance over all 64 bits. */
  private def packed(hi: Column, lo: Column): Column = shiftleft(hi, 32).bitwiseOR(lo)

  /** Σ|a_i − b_i| over two equal-length sample vectors, as a long. */
  private def l1(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0L), (acc, v) => acc + v)

  /** Near-dup pairs over an (id, sig, vec) hash table at Hamming ≤
    * `maxHamming`: the pigeonhole band join ([[Dedup.hammingPairs]],
    * 4 exact 16-bit bands, 2¹⁶ buckets per band — never all-pairs) with
    * the sample vectors carried as (vec_a, vec_b) for the exact verify.
    * Self form (`hist` None) or batch-vs-HISTORY form — the
    * [[Dedup.simhashNearDupAgainst]] production shape for media content:
    * the history side carries 4 band rows + one bounded verify vector per
    * historical item. */
  private def hashPairs(batch: DataFrame, hist: Option[DataFrame],
                        maxHamming: Int): DataFrame = {
    // self form: materialize the hash table ONCE (eager,
    // ContextCleaner-reclaimed): both join sides consume it, and without
    // this each consumer re-runs the upstream payload DECODE — at corpus
    // scale a second full pass over the media bytes to rebuild ~300 B/item
    // of signature. The sever follows `spark.graft.checkpoint.reliable`
    // (a lost executor aborts a local cut instead of recomputing). The
    // batch form's sides have one consumer each; a production history is
    // a WRITTEN signature table.
    val self = if (hist.isEmpty) batch.sever() else batch
    def bands(df: DataFrame) = Dedup.hammingBands(df, 16, Nil, Seq("vec"))
    Dedup.hammingWithin(Dedup.hammingPairs(bands(self), hist.map(bands), Nil, Seq("vec")),
      maxHamming)
  }

  private def imageHashed(media: Dataset[MediaRow]): DataFrame =
    imagePhash(media).toDF()
      .select(col("media_id").as("id"), packed(col("phash_hi"), col("phash_lo")).as("sig"),
        col("gray64").as("vec"))

  private def audioHashed(media: Dataset[MediaRow]): DataFrame =
    audioFingerprint(media).toDF()
      .select(col("media_id").as("id"), packed(col("fp_hi"), col("fp_lo")).as("sig"),
        col("energy64").as("vec"))

  /** The IMAGE exact pixel verify: the L1 distance over the 8×8 gray
    * samples must stay ≤ `maxSampleL1`, so two images that happen to
    * share a coarse bit pattern but differ in actual levels are rejected
    * on real pixel values. (ids, hamming, sample_l1). */
  private def sampleL1Verified(pairs: DataFrame, maxSampleL1: Long): DataFrame =
    pairs.withColumn("sample_l1", l1(col("vec_a"), col("vec_b")))
      .filter(col("sample_l1") <= maxSampleL1)
      .drop("vec_a", "vec_b")

  /** The AUDIO exact envelope verify: the relative L1 distance
    * Σ|Ea−Eb| over the window energies must stay within
    * `maxRelL1Permille` of Σ(Ea+Eb), in pure integer arithmetic
    * (1000·L1 ≤ permille·(ΣEa+ΣEb)). (ids, hamming, rel_l1_permille). */
  private def relL1Verified(pairs: DataFrame, maxRelL1Permille: Long): DataFrame =
    pairs.withColumn("l1", l1(col("vec_a"), col("vec_b")))
      .withColumn("tot",
        aggregate(col("vec_a"), lit(0L), (acc, v) => acc + v) +
          aggregate(col("vec_b"), lit(0L), (acc, v) => acc + v))
      .filter(col("l1") * 1000 <= col("tot") * maxRelL1Permille)
      .withColumn("rel_l1_permille", expr("l1 * 1000 div greatest(1L, tot)"))
      .drop("vec_a", "vec_b", "l1", "tot")

  /** Incremental IMAGE content dedup: screen an ingestion BATCH against
    * the hash HISTORY — same banding, Hamming cut, and exact pixel-L1
    * verify as [[imageNearDupPairs]], across tables instead of within
    * one. Returns (new_id, hist_id, hamming, sample_l1) matches; a
    * production pipeline drops matched batch rows and appends the
    * survivors' (hi, lo, gray64) rows — ~300 bytes/image — to the
    * history, never re-reading historical payloads. */
  def imageNearDupAgainst(batch: Dataset[MediaRow], hist: Dataset[MediaRow],
                          maxHamming: Int = 3, maxSampleL1: Long = 1024L): DataFrame =
    sampleL1Verified(hashPairs(imageHashed(batch), Some(imageHashed(hist)), maxHamming),
      maxSampleL1)

  /** Incremental AUDIO content dedup: batch-vs-history form of
    * [[audioNearDupPairs]] (banded fingerprint candidates + exact
    * relative-L1 envelope verify). */
  def audioNearDupAgainst(batch: Dataset[MediaRow], hist: Dataset[MediaRow],
                          maxHamming: Int = 3, maxRelL1Permille: Long = 100L): DataFrame =
    relL1Verified(hashPairs(audioHashed(batch), Some(audioHashed(hist)), maxHamming),
      maxRelL1Permille)

  /** GAIN-INVARIANT audio near-dup pairs: the envelope fingerprint is
    * volume-invariant by construction (its bit test 64·E_t > ΣE scales
    * out any constant gain), so a re-encoded copy at different loudness
    * collides in the banding — but [[audioNearDupPairs]]' ABSOLUTE
    * relative-L1 verify then rejects it (a half-volume copy sits at
    * ≈333‰). This variant verifies SHAPE instead: each side's envelope
    * normalizes to a per-window permille profile (E_t·1000 div ΣE —
    * integers ≤ 1000, overflow-free at any duration), and the pair
    * passes iff the profile L1 distance ≤ `maxProfileL1` (Σ over 64
    * windows, so the scale-free analogue of the q279 cut). Fixture
    * separation: the half-volume copy at profile-L1 12, the perturbed
    * sibling at 72, nearest unrelated at 912. */
  def audioNearDupPairsGainInvariant(media: Dataset[MediaRow], maxHamming: Int = 3,
                                     maxProfileL1: Long = 200L): DataFrame =
    hashPairs(audioHashed(media), None, maxHamming)
      // `div` (SQL integer division) keeps the profile exact and
      // engine-portable; the inner sum re-evaluates per element — 64
      // longs, negligible
      .withColumn("profile_l1", expr(
        """aggregate(zip_with(
          |  transform(vec_a, e -> e * 1000 div greatest(1L, aggregate(vec_a, 0L, (a, v) -> a + v))),
          |  transform(vec_b, e -> e * 1000 div greatest(1L, aggregate(vec_b, 0L, (a, v) -> a + v))),
          |  (x, y) -> abs(x - y)), 0L, (acc, v) -> acc + v)""".stripMargin))
      .filter(col("profile_l1") <= maxProfileL1)
      .select(col("id_a"), col("id_b"), col("hamming"), col("profile_l1"))

  /** IMAGE perceptual near-dup pairs: banded aHash candidates at
    * Hamming ≤ `maxHamming`, then the exact pixel verify
    * ([[sampleL1Verified]]). Output (id_a, id_b, hamming, sample_l1). */
  def imageNearDupPairs(media: Dataset[MediaRow], maxHamming: Int = 3,
                        maxSampleL1: Long = 1024L): DataFrame =
    sampleL1Verified(hashPairs(imageHashed(media), None, maxHamming), maxSampleL1)

  /** AUDIO fingerprint near-dup pairs: banded energy-envelope hash at
    * Hamming ≤ `maxHamming`, then the exact envelope verify
    * ([[relL1Verified]]). Output (id_a, id_b, hamming,
    * rel_l1_permille). */
  def audioNearDupPairs(media: Dataset[MediaRow], maxHamming: Int = 3,
                        maxRelL1Permille: Long = 100L): DataFrame =
    relL1Verified(hashPairs(audioHashed(media), None, maxHamming), maxRelL1Permille)

  // --------------------------------------------- video content near-dup

  /** Raw-gray frame slots from REAL video container bytes: demux via
    * the existing box/chunk walks ([[mp4Meta]]'s ISO-BMFF boxes →
    * `mdat`; [[aviMeta]]'s RIFF walk → `LIST movi` → one `00dc` chunk
    * per frame), then slice the fixture RAW-GRAY codec — 8-bit
    * grayscale, frame-major, rows top-down, w·h bytes/frame. Returns
    * the `slots` sampled frames (slot t → frame ⌊t·nf/slots⌋, the q47
    * even-sampling convention) as gray rasters; None when the media
    * data is not the raw codec (a compressed stream has no w·h·nf
    * byte layout) or the container is malformed — those payloads are
    * metadata-only territory ([[videoMeta]]). */
  private[graft] def videoRawSlots(p: Array[Byte], slots: Int): Option[(Int, Int, Long, Array[Array[Int]])] = {
    def sliceFrames(w: Int, h: Int, nf: Long,
                    frameBytes: Long => Option[(Int, Int)]): Option[(Int, Int, Long, Array[Array[Int]])] = {
      val fsz = w * h
      if (w <= 0 || h <= 0 || nf <= 0 || fsz.toLong > GrayPixelCap) return None
      val out = new Array[Array[Int]](slots)
      var t = 0
      while (t < slots) {
        val f = t * nf / slots
        frameBytes(f) match {
          case Some((off, len)) =>
            if (len != fsz || off < 0 || off + len > p.length) return None
            val gray = new Array[Int](fsz)
            var j = 0
            while (j < fsz) { gray(j) = p(off + j) & 0xff; j += 1 }
            out(t) = gray
          case None => return None
        }
        t += 1
      }
      Some((w, h, nf, out))
    }
    if (p.length >= 12 && p(4) == 'f' && p(5) == 't' && p(6) == 'y' && p(7) == 'p') {
      // ISO-BMFF: one contiguous mdat holds the frame-major stream
      mp4Meta(p).flatMap { case (_, w, h, nf, _, _) =>
        isoBoxes(p, 0, p.length).find(_._1 == "mdat").flatMap { case (_, bs, be) =>
          // EXACT size, not >=: a compressed stream whose mdat merely
          // exceeds nf·w·h must not be sliced as raw rasters (garbage
          // fingerprints entering the dedup tables silently); matching
          // the raw layout byte-exactly is the codec check this
          // container path has (production: read the stsd codec tag)
          if (be - bs != nf * w.toLong * h) None
          else sliceFrames(w, h, nf, f => Some(((bs + f * w * h).toInt, w * h)))
        }
      }
    } else if (p.length >= 12 && p(0) == 'R' && p(8) == 'A' && p(9) == 'V') {
      // AVI: one 00dc chunk per frame inside LIST movi
      aviMeta(p).flatMap { case (_, w, h, nf, _, _) =>
        var movi: Option[(Int, Int)] = None
        var i = 12
        while (movi.isEmpty && i + 12 <= p.length) {
          val size = u32le(p, i + 4)
          if (i + 8 + size > p.length) return None
          if (p(i) == 'L' && p(i + 1) == 'I' && p(i + 2) == 'S' && p(i + 3) == 'T' &&
              size >= 4 && p(i + 8) == 'm' && p(i + 9) == 'o' &&
              p(i + 10) == 'v' && p(i + 11) == 'i')
            movi = Some((i + 12, i + 8 + size.toInt))
          i += 8 + size.toInt + (size.toInt & 1)
        }
        movi.flatMap { case (ms, me) =>
          // collect frame-chunk body offsets in stream order
          val offs = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
          var j = ms
          while (j + 8 <= me) {
            val s2 = u32le(p, j + 4)
            if (j + 8 + s2 > me) return None
            if (p(j) == '0' && p(j + 1) == '0' && p(j + 2) == 'd' && p(j + 3) == 'c')
              offs += ((j + 8, s2.toInt))
            j += 8 + s2.toInt + (s2.toInt & 1)
          }
          if (offs.length != nf) None
          else sliceFrames(w, h, nf, f => Some(offs(f.toInt)))
        }
      }
    } else None
  }

  /** Per-video content fingerprint: `slots` evenly-sampled frames, each
    * aHashed ([[aHash64]]) — one row per (video, slot) carrying the
    * 64-bit hash halves and the 64 gray samples (the bounded
    * exact-verify payload). State per video is slots·(2 longs + 64
    * ints) regardless of duration or resolution — the signature a
    * 100 TB video corpus banks instead of its payload bytes.
    * Non-raw-codec payloads (no decodable frame stream) are skipped,
    * the [[imagePhash]] convention for undecodable rows. */
  case class VideoFp(media_id: Long, t: Int, fp_hi: Long, fp_lo: Long,
                     frame64: Seq[Int])

  def videoFingerprint(media: Dataset[MediaRow], slots: Int = 8): Dataset[VideoFp] = {
    import media.sparkSession.implicits._
    media.filter(col("mime").startsWith("video/")).mapPartitions { rows =>
      rows.flatMap { r =>
        videoRawSlots(r.payload, slots).toSeq.flatMap { case (w, h, _, frames) =>
          frames.iterator.zipWithIndex.map { case (gray, t) =>
            val (hi, lo, smp) = aHash64(w, h, gray)
            VideoFp(r.media_id, t, hi, lo, smp.toSeq)
          }
        }
      }
    }
  }

  /** VIDEO content near-dup pairs: banded per-slot aHash candidates —
    * the image banding with the slot index as an extra equi-join key,
    * so the shuffle is keyed (t, band, value) and never all-pairs —
    * then an exact verify across ALL slots: total Hamming over the
    * slots·64 signature bits ≤ `maxTotalHamming` and total sample-L1 ≤
    * `maxTotalL1`. Recall is pigeonhole-exhaustive: total Hamming ≤
    * slots·maxSlotHamming forces some slot to Hamming ≤ maxSlotHamming
    * (≤ 3), whose 4-band split forces a shared band. Fixture
    * separation: family pairs total Hamming 0 / L1 ≤ 48, nearest
    * non-family slot Hamming 15 (total 132). */
  def videoNearDupPairs(media: Dataset[MediaRow], slots: Int = 8,
                        maxTotalHamming: Long = 24L,
                        maxTotalL1: Long = 8192L): DataFrame = {
    // FOUR consumers (two banding sides + two verify sides) read the
    // fingerprints: materialize once or pay 4× the payload demux+decode
    // (the hashPairs rationale)
    val fp = videoFingerprint(media, slots).toDF().sever()
    videoVerify(videoCandidates(fp, None), fp, fp, "id_a", "id_b", maxTotalHamming, maxTotalL1)
  }

  /** Incremental VIDEO content dedup: an ingestion batch screens against
    * the banked fingerprint history on (t, band, value) — the
    * [[imageNearDupAgainst]] production shape; the history side carries
    * slots·~300 bytes per video, payloads are never re-read. */
  def videoNearDupAgainst(batch: Dataset[MediaRow], hist: Dataset[MediaRow],
                          slots: Int = 8, maxTotalHamming: Long = 24L,
                          maxTotalL1: Long = 8192L): DataFrame = {
    // two consumers per side (banding + verify): materialize once each
    val fb = videoFingerprint(batch, slots).toDF().sever()
    val fh = videoFingerprint(hist, slots).toDF().sever()
    videoVerify(videoCandidates(fb, Some(fh)), fb, fh, "new_id", "hist_id",
      maxTotalHamming, maxTotalL1)
  }

  /** Distinct candidate pairs sharing a (slot, band, value): the band
    * join with the slot `t` as an extra key, uncut — the verify judges
    * the total over all slots. */
  private def videoCandidates(fp: DataFrame, hist: Option[DataFrame]): DataFrame = {
    def bands(f: DataFrame) = Dedup.hammingBands(
      f.select(col("media_id").as("id"), col("t"), packed(col("fp_hi"), col("fp_lo")).as("sig")),
      16, Seq("t"), Nil)
    val pairs = Dedup.hammingPairs(bands(fp), hist.map(bands), Seq("t"), Nil)
    pairs.select(pairs.columns.take(2).map(col): _*).distinct()
  }

  /** Slot-aligned exact verify: join both sides' per-slot fingerprints
    * to the candidate pairs, fold Hamming + sample L1 over the slots. */
  private def videoVerify(cands: DataFrame, fpA: DataFrame, fpB: DataFrame,
                          aCol: String, bCol: String,
                          maxTotalHamming: Long, maxTotalL1: Long): DataFrame = {
    val fa = fpA.select(col("media_id").as(aCol), col("t"),
      col("fp_hi").as("hi_a"), col("fp_lo").as("lo_a"), col("frame64").as("vec_a"))
    val fb = fpB.select(col("media_id").as(bCol), col("t"),
      col("fp_hi").as("hi_b"), col("fp_lo").as("lo_b"), col("frame64").as("vec_b"))
    cands.join(fa, aCol).join(fb, Seq(bCol, "t"))
      .select(col(aCol), col(bCol),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long").as("ham"),
        l1(col("vec_a"), col("vec_b")).as("l1"))
      .groupBy(col(aCol), col(bCol))
      .agg(sum(col("ham")).as("total_hamming"), sum(col("l1")).as("total_l1"))
      .filter(col("total_hamming") <= maxTotalHamming && col("total_l1") <= maxTotalL1)
  }
}
