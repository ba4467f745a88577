package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One WARC shard file: the unit of crawl storage AND of parallelism —
  * a production crawl is millions of ~1 GB shard files; one task walks
  * one shard, so the scan scales with the shard count and never needs
  * a shuffle. `gz` marks the Common Crawl framing (one gzip member per
  * record, members concatenated). */
case class WarcShard(shard_id: Long, gz: Boolean, payload: Array[Byte])

/** One parsed WARC record. `http_*`/`body` are populated only for
  * `application/http` response blocks; `block_len` is the record's
  * declared Content-Length (the framing the walk trusted). */
case class WarcRec(
    shard_id: Long,
    rec_idx: Int,
    warc_type: String,
    target_uri: Option[String],
    warc_date: Option[String],
    rec_content_type: Option[String],
    block_len: Long,
    http_status: Option[Int],
    http_content_type: Option[String],
    http_location: Option[String],
    http_robots_tag: Option[String],
    body: Option[Array[Byte]])

/** One CDX-style record location: where a response record lives inside
  * its shard — the (offset, length) extent a random-access re-fetch
  * reads WITHOUT walking the shard. For `gz` (Common Crawl-framed)
  * shards the extent is the record's own COMPRESSED gzip member — the
  * exact contract of Common Crawl's CDX index, where a production
  * object store serves the member as one ranged GET. `slice_idx` is the
  * record's position WITHIN its slice — 0 except when a gz member packs
  * several records (legal WARC, not the CC norm), where the fetch must
  * walk to the right one. */
case class WarcLoc(shard_id: Long, rec_idx: Int, slice_idx: Int, url: String,
                   offset: Long, length: Long, http_status: Int,
                   body_md5: String)

/** WARC/1.0 (ISO 28500) container walk — the format web crawls actually
  * arrive in, and therefore the true FIRST operator of a web-corpus
  * pipeline (one step before [[Html]]: crawl bytes → HTTP responses →
  * markup → text). Spark-first shape: shards land as binary rows (the
  * [[Multimodal]] payload convention — `binaryFile` in production), the
  * walk is a per-shard `mapPartitions` byte loop (the justified case:
  * imperative framing over raw bytes), and everything downstream is
  * ordinary DataFrame relational work. No shuffle until the caller
  * aggregates; parallelism is the shard count.
  *
  * Robustness contract (what real crawls demand):
  *  - per-record gzip members (the Common Crawl layout) are inflated
  *    member-by-member with a hard decompression cap — a bomb yields an
  *    EMPTY record set for the shard, never an OOM;
  *  - records are framed by `Content-Length` and re-synced on the
  *    `WARC/1.0` magic, so a torn tail or inter-record garbage loses
  *    only the bytes that aren't a whole record;
  *  - header names are case-insensitive; unknown types pass through
  *    classified but unparsed;
  *  - HTTP bodies honor the inner Content-Length when sane, else take
  *    the block remainder; malformed blocks yield None fields, never an
  *    exception (a poisoned record must not kill a 100 TB scan). */
object Warc {

  /** Decompression cap per shard — a crawl shard is ~1 GB compressed;
    * anything inflating past this is a bomb, not a crawl. */
  private val MaxInflatedBytes: Long = 1L << 30

  private val Magic = "WARC/1.0".getBytes("US-ASCII")

  def readShards(spark: SparkSession, path: String): Dataset[WarcShard] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("shard_id"), col("gz"), col("payload"))
      .as[WarcShard]
  }

  /** Parse every record of every shard. One task per input partition;
    * state is one shard's (inflated) bytes at a time. */
  def records(shards: Dataset[WarcShard]): Dataset[WarcRec] = {
    import shards.sparkSession.implicits._
    shards.mapPartitions(_.flatMap(parseShard))
  }

  /** Response records with a decoded text body — the rows the HTML
    * pipeline consumes. Keeps only `status` (if the caller passes one). */
  def responses(shards: Dataset[WarcShard], status: Option[Int] = None): Dataset[WarcRec] = {
    val recs = records(shards).filter(col("warc_type") === "response")
    status.fold(recs)(st => recs.filter(col("http_status") === st))
  }

  /** WARC SINK — pack text rows into WARC/1.0 `conversion` records, the
    * WET-shaped derived artifact Common Crawl publishes next to every
    * crawl (extracted text, one record per page). PINNED record layout
    * (the oracle rebuilds these exact bytes, so it cannot drift):
    *
    * {{{
    * WARC/1.0\r\n
    * WARC-Type: conversion\r\n
    * WARC-Target-URI: <url>\r\n
    * WARC-Date: <date>\r\n
    * Content-Type: text/plain\r\n
    * Content-Length: <UTF-8 byte length of text>\r\n
    * \r\n
    * <text>\r\n\r\n
    * }}}
    *
    * Scale shape: rows are hash-repartitioned on the shard key and
    * sorted (shard, url) WITHIN partitions — no global sort — then one
    * pass per partition assembles each shard's bytes (records in url
    * order, so shard payloads are DETERMINISTIC). One output row per
    * shard; a production job writes each payload as an object-store
    * file. `gz = true` emits the Common Crawl framing — one gzip member
    * per record, members concatenated — which [[records]] and
    * [[gzipMembers]]/CDX fetch read back; gzip bytes are
    * deflate-parameter-dependent, so the gz contract is verified by
    * ROUND-TRIP (reader equality), the plain contract by byte md5. */
  def packConversions(rows: DataFrame, urlCol: String, textCol: String,
                      shardCol: String, date: String,
                      gz: Boolean = false): Dataset[WarcShard] =
    packRecords(rows, urlCol, textCol, shardCol, date, gz,
      warcType = "conversion", contentType = "text/plain")

  /** The general form: any non-HTTP record type — `conversion` is the
    * WET artifact, `metadata` with a JSON body is the WAT artifact. */
  def packRecords(rows: DataFrame, urlCol: String, textCol: String,
                  shardCol: String, date: String, gz: Boolean,
                  warcType: String, contentType: String): Dataset[WarcShard] = {
    import rows.sparkSession.implicits._
    rows.select(col(shardCol).cast("long").as("shard_id"),
        col(urlCol).cast("string").as("url"),
        col(textCol).cast("string").as("text"))
      // a record needs a target and a body: null url/text rows (e.g. a
      // null-propagated header field upstream) are DROPPED here rather
      // than NPE-ing the packer mid-shard (r14 advice) — the caller
      // coalesces if it wants empty-body records
      .filter(col("shard_id").isNotNull && col("url").isNotNull &&
        col("text").isNotNull)
      .repartition(col("shard_id"))
      .sortWithinPartitions("shard_id", "url")
      .mapPartitions { it =>
        new Iterator[WarcShard] {
          private var cur: Option[(Long, ByteArrayOutputStream)] = None
          private var pending: Option[WarcShard] = None
          private def record(url0: String, text: String): Array[Byte] = {
            // CR/LF in a url would inject header lines and corrupt the
            // record framing — strip them (a url never legally holds them)
            val url = url0.replace("\r", "").replace("\n", "")
            val body = text.getBytes("UTF-8")
            val head = (s"WARC/1.0\r\nWARC-Type: $warcType\r\n" +
              s"WARC-Target-URI: $url\r\nWARC-Date: $date\r\n" +
              s"Content-Type: $contentType\r\nContent-Length: ${body.length}\r\n\r\n")
              .getBytes("UTF-8")
            val out = new Array[Byte](head.length + body.length + 4)
            System.arraycopy(head, 0, out, 0, head.length)
            System.arraycopy(body, 0, out, head.length, body.length)
            out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
            out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
            if (!gz) out
            else { // one gzip member per record (the CC framing)
              val bos = new ByteArrayOutputStream(out.length / 2 + 32)
              val g = new java.util.zip.GZIPOutputStream(bos)
              try { g.write(out); g.finish() } finally g.close()
              bos.toByteArray
            }
          }
          private def advance(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val r = it.next()
              val (sid, url, text) = (r.getLong(0), r.getString(1), r.getString(2))
              cur match {
                case Some((id, buf)) if id == sid => buf.write(record(url, text))
                case Some((id, buf)) =>
                  pending = Some(WarcShard(id, gz, buf.toByteArray))
                  cur = Some((sid, new ByteArrayOutputStream(1 << 16)))
                  cur.get._2.write(record(url, text))
                case None =>
                  cur = Some((sid, new ByteArrayOutputStream(1 << 16)))
                  cur.get._2.write(record(url, text))
              }
            }
            if (pending.isEmpty && !it.hasNext) {
              pending = cur.map { case (id, buf) => WarcShard(id, gz, buf.toByteArray) }
              cur = None
            }
          }
          override def hasNext: Boolean = { advance(); pending.nonEmpty }
          override def next(): WarcShard = {
            advance(); val s = pending.get; pending = None; s
          }
        }
      }
  }

  /** CDX locations: one row per HTTP response record, carrying the byte
    * extent a random-access fetch needs plus the identity fields a CDX
    * lookup serves (url, status, content digest). Same walk discipline
    * as [[records]]: one task per shard, per-shard state, zero shuffle.
    * Records without a target URI (warcinfo) are never locations;
    * `warcTypes` picks what the index serves — `response` for a crawl
    * store (the default page lookup), `conversion` for a WET sidecar. */
  def recordLocations(shards: Dataset[WarcShard],
                      warcTypes: Set[String] = Set("response")): Dataset[WarcLoc] = {
    import shards.sparkSession.implicits._
    shards.mapPartitions(_.flatMap(locateShard(_, warcTypes)))
  }

  private[graft] def locateShard(sh: WarcShard,
      warcTypes: Set[String] = Set("response")): Seq[WarcLoc] = {
    val out = Seq.newBuilder[WarcLoc]
    var idx = 0
    var parsedInUnit = 0
    var divergent = false // a member held bytes its own walk couldn't frame
    def emit(bytes: Array[Byte], extent: (Long, Long) => (Long, Long)): Unit = {
      var pos = indexOf(bytes, Magic, 0)
      var inSlice = 0
      parsedInUnit = 0
      while (pos >= 0) {
        parseRecord(sh.shard_id, idx, bytes, pos) match {
          case Some((rec, next)) =>
            if (warcTypes.contains(rec.warc_type) && rec.target_uri.nonEmpty) {
              val (off, len) = extent(pos.toLong, (next - pos).toLong)
              // a plain record is its own slice (slice_idx 0 by
              // construction: `extent` narrows to [pos, next)); a gz
              // member is the slice, so the record's position within
              // the member is what the fetch must walk to
              val sliceIdx = if (sh.gz) inSlice else 0
              out += WarcLoc(sh.shard_id, idx, sliceIdx, rec.target_uri.get,
                off, len, rec.http_status.getOrElse(-1),
                md5hex(rec.body.getOrElse(Array.emptyByteArray)))
            }
            idx += 1
            inSlice += 1
            parsedInUnit += 1
            pos = indexOf(bytes, Magic, next)
          case None =>
            // a magic whose record can't be framed INSIDE this unit —
            // in a gz member that is the signature of a record spanning
            // member boundaries (legal WARC, not the CC framing)
            divergent = true
            pos = indexOf(bytes, Magic, pos + Magic.length)
        }
      }
    }
    if (sh.gz) {
      // CC framing: the member IS the record's fetch unit — record
      // offsets inside the inflated member are irrelevant to a ranged GET
      gzipMembers(sh.payload).foreach { case (mOff, mLen, bytes) =>
        emit(bytes, (_, _) => (mOff, mLen))
        // a non-empty member with ZERO framed records is continuation
        // bytes of a spanning record (or garbage) — either way the
        // member-extent contract does not hold for this shard
        if (bytes.nonEmpty && parsedInUnit == 0) divergent = true
      }
      if (divergent) {
        // FALLBACK (r14 advice): the member walk would silently drop
        // records the concatenated walk can parse. Re-index from the
        // concatenation with whole-shard extents — every record stays
        // findable and fetchable (fetchRecord inflates the slice and
        // walks to slice_idx); only the ranged-GET economy degrades,
        // and only for this legal-but-non-CC shard.
        out.clear(); idx = 0
        val all = gunzipAll(sh.payload).getOrElse(Array.emptyByteArray)
        var pos = indexOf(all, Magic, 0)
        var slice = 0
        while (pos >= 0) {
          parseRecord(sh.shard_id, idx, all, pos) match {
            case Some((rec, next)) =>
              if (warcTypes.contains(rec.warc_type) && rec.target_uri.nonEmpty)
                out += WarcLoc(sh.shard_id, idx, slice, rec.target_uri.get,
                  0L, sh.payload.length.toLong, rec.http_status.getOrElse(-1),
                  md5hex(rec.body.getOrElse(Array.emptyByteArray)))
              idx += 1; slice += 1
              pos = indexOf(all, Magic, next)
            case None =>
              pos = indexOf(all, Magic, pos + Magic.length)
          }
        }
      }
    } else emit(sh.payload, (pos, len) => (pos, len))
    out.result()
  }

  /** Random-access record fetch: parse the record at a CDX-indexed
    * (offset, length) slice — never a shard walk. `gz` slices are one
    * gzip member (inflated alone, same bomb cap); `sliceIdx` walks to
    * the right record when a member packs several (legal WARC — the
    * walk is bounded by the member, not the shard). Out-of-range or
    * malformed slices yield None, never an exception. */
  def fetchRecord(shardId: Long, gz: Boolean, payload: Array[Byte],
                  offset: Long, length: Long,
                  sliceIdx: Int = 0): Option[WarcRec] = {
    if (offset < 0 || length <= 0 || offset + length > payload.length) return None
    val slice = java.util.Arrays.copyOfRange(
      payload, offset.toInt, (offset + length).toInt)
    val bytes = if (gz) gunzipAll(slice).getOrElse(return None) else slice
    var pos = indexOf(bytes, Magic, 0)
    var i = 0
    while (pos >= 0) {
      parseRecord(shardId, i, bytes, pos) match {
        case Some((rec, next)) =>
          if (i == sliceIdx) return Some(rec)
          i += 1
          pos = indexOf(bytes, Magic, next)
        case None =>
          pos = indexOf(bytes, Magic, pos + Magic.length)
      }
    }
    None
  }

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(b).map(x => f"$x%02x").mkString

  /** Walk the gzip MEMBERS of a Common Crawl-framed shard: returns
    * (compressed_offset, compressed_length, inflated_bytes) per member —
    * the boundaries [[gunzipAll]] (which inflates the concatenation)
    * cannot see. Stops at the first malformed/truncated member (the
    * torn-tail contract: whole members before it are kept); the shared
    * [[MaxInflatedBytes]] bomb cap yields an EMPTY result, matching
    * [[gunzipAll]]. */
  private[graft] def gzipMembers(p: Array[Byte]): Seq[(Long, Long, Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    var off = 0
    var total = 0L
    try {
      while (p.length - off >= 18) { // gzip header 10 + trailer 8
        if (!((p(off) & 0xff) == 0x1f && (p(off + 1) & 0xff) == 0x8b))
          return out.result() // garbage between members: stop
        val inf = new java.util.zip.Inflater(true)
        try {
          var h = off + 10
          val flg = p(off + 3) & 0xff
          if ((flg & 4) != 0) { // FEXTRA
            val xlen = (p(h) & 0xff) | ((p(h + 1) & 0xff) << 8)
            h += 2 + xlen
          }
          if ((flg & 8) != 0) { while (p(h) != 0) h += 1; h += 1 } // FNAME
          if ((flg & 16) != 0) { while (p(h) != 0) h += 1; h += 1 } // FCOMMENT
          if ((flg & 2) != 0) h += 2 // FHCRC
          inf.setInput(p, h, p.length - h)
          val bos = new ByteArrayOutputStream(1 << 16)
          val buf = new Array[Byte](1 << 16)
          while (!inf.finished()) {
            val n = inf.inflate(buf)
            if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
              return out.result() // truncated member
            total += n
            if (total > MaxInflatedBytes) return Seq.empty // bomb
            bos.write(buf, 0, n)
          }
          val compEnd = h + inf.getBytesRead.toInt + 8 // CRC32 + ISIZE
          if (compEnd > p.length) return out.result()
          out += ((off.toLong, (compEnd - off).toLong, bos.toByteArray))
          off = compEnd
        } finally inf.end()
      }
      out.result()
    } catch {
      case _: java.util.zip.DataFormatException => out.result()
      case _: ArrayIndexOutOfBoundsException    => out.result()
    }
  }

  /** Responses with the body CHARSET-DECODED to a string — the real
    * front door: ~10-20% of a live crawl is legacy-encoded
    * (windows-1252, iso-8859-1, shift_jis, …) and a blind UTF-8 cast
    * turns those pages into mojibake that silently degrades dedup and
    * quality scoring downstream. Output: (url, http_status, charset,
    * text). The decode itself is [[decodeBody]] (pinned fallback
    * order); per-row byte work, zero shuffle. */
  def decodedResponses(shards: Dataset[WarcShard],
                       status: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    import shards.sparkSession.implicits._
    responses(shards, status)
      .map { r =>
        val (cs, text) = decodeBody(r.body.getOrElse(Array.emptyByteArray),
          r.http_content_type)
        (r.target_uri.getOrElse(""), r.http_status.getOrElse(-1), cs, text)
      }
      .toDF("url", "http_status", "charset", "text")
  }

  /** Charset aliases → the canonical label/Java charset this decoder
    * pins. Anything NOT listed is treated as undeclared (falls through
    * to the sniff-free default order) — a conservative, documented
    * subset covering the encodings that dominate real crawls. */
  private val CharsetAliases: Map[String, String] = Map(
    "utf-8" -> "utf-8", "utf8" -> "utf-8",
    "windows-1252" -> "windows-1252", "cp1252" -> "windows-1252",
    "iso-8859-1" -> "iso-8859-1", "latin-1" -> "iso-8859-1",
    "latin1" -> "iso-8859-1", "iso8859-1" -> "iso-8859-1",
    "shift_jis" -> "shift_jis", "shift-jis" -> "shift_jis",
    "sjis" -> "shift_jis",
    // CJK legacy ladder (r14 verdict #6) — a large share of the
    // non-UTF-8 web; labels normalize per the WHATWG encoding table:
    // euc-kr/ks_c_5601-1987 → euc-kr, gb2312 → gbk (the html5 rule),
    // big5/big5-hkscs label family → big5
    "euc-kr" -> "euc-kr", "euckr" -> "euc-kr",
    "ks_c_5601-1987" -> "euc-kr", "korean" -> "euc-kr",
    "gbk" -> "gbk", "gb2312" -> "gbk", "csgb2312" -> "gbk",
    "gb18030" -> "gb18030",
    "big5" -> "big5", "big-5" -> "big5")

  private val JavaCharsetOf: Map[String, java.nio.charset.Charset] = Map(
    "utf-8" -> java.nio.charset.StandardCharsets.UTF_8,
    "windows-1252" -> java.nio.charset.Charset.forName("windows-1252"),
    "iso-8859-1" -> java.nio.charset.StandardCharsets.ISO_8859_1,
    "shift_jis" -> java.nio.charset.Charset.forName("Shift_JIS"),
    "euc-kr" -> java.nio.charset.Charset.forName("EUC-KR"),
    "gbk" -> java.nio.charset.Charset.forName("GBK"),
    "gb18030" -> java.nio.charset.Charset.forName("GB18030"),
    "big5" -> java.nio.charset.Charset.forName("Big5"))

  /** `charset=` parameter of a Content-Type value (quoted or bare),
    * normalized through the alias table; None when absent/unknown. */
  private[graft] def headerCharset(contentType: Option[String]): Option[String] =
    contentType.flatMap { ct =>
      val m = java.util.regex.Pattern
        .compile("(?i)charset\\s*=\\s*\"?([A-Za-z0-9_\\-]+)\"?")
        .matcher(ct)
      if (m.find()) CharsetAliases.get(m.group(1).toLowerCase) else None
    }

  /** `<meta charset=X>` / `<meta http-equiv=Content-Type content="…;
    * charset=X">` sniff over the first 1024 bytes, read as ISO-8859-1
    * (every supported encoding is ASCII-compatible in the range the
    * meta tag occupies). */
  private[graft] def metaCharset(body: Array[Byte]): Option[String] = {
    val head = new String(body, 0, math.min(body.length, 1024),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val m = java.util.regex.Pattern
      .compile("(?i)<meta[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9_\\-]+)")
      .matcher(head)
    if (m.find()) CharsetAliases.get(m.group(1).toLowerCase) else None
  }

  /** PINNED decode order (the oracle stores expected text, so the order
    * is part of the contract):
    *  1. declared charset — HTTP `Content-Type` header first, then the
    *     `<meta>` sniff — decoded with malformed bytes REPLACED (a
    *     declared-but-dirty page must not throw);
    *  2. undeclared: strict UTF-8 (the modern-web default), and on any
    *     malformed sequence fall back to windows-1252 (the de-facto
    *     browser rule for legacy bytes; total — never throws).
    * Returns (canonical charset label, decoded text). */
  private[graft] def decodeBody(body: Array[Byte],
                                contentType: Option[String]): (String, String) = {
    headerCharset(contentType).orElse(metaCharset(body)) match {
      case Some(label) =>
        val cs = JavaCharsetOf(label)
        val dec = cs.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
        (label, dec.decode(java.nio.ByteBuffer.wrap(body)).toString)
      case None =>
        val strict = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        try ("utf-8", strict.decode(java.nio.ByteBuffer.wrap(body)).toString)
        catch { case _: java.nio.charset.CharacterCodingException =>
          val dec = JavaCharsetOf("windows-1252").newDecoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
          ("windows-1252", dec.decode(java.nio.ByteBuffer.wrap(body)).toString)
        }
    }
  }

  // ---- per-shard walk ----

  private[graft] def parseShard(sh: WarcShard): Seq[WarcRec] = {
    val bytes =
      if (sh.gz) gunzipAll(sh.payload).getOrElse(return Seq.empty)
      else sh.payload
    val out = Seq.newBuilder[WarcRec]
    var pos = indexOf(bytes, Magic, 0)
    var idx = 0
    while (pos >= 0) {
      parseRecord(sh.shard_id, idx, bytes, pos) match {
        case Some((rec, next)) =>
          out += rec
          idx += 1
          pos = indexOf(bytes, Magic, next)
        case None =>
          // malformed header at this magic: re-sync past it
          pos = indexOf(bytes, Magic, pos + Magic.length)
      }
    }
    out.result()
  }

  /** One record starting at `pos` (which points at the magic). Returns
    * the record and the offset just past its block, or None if the
    * header region is malformed. */
  private def parseRecord(shardId: Long, idx: Int, b: Array[Byte],
                          pos: Int): Option[(WarcRec, Int)] = {
    val hdrEnd = indexOf(b, "\r\n\r\n".getBytes("US-ASCII"), pos)
    if (hdrEnd < 0) return None
    val header = new String(b, pos, hdrEnd - pos, "US-ASCII")
    val lines = header.split("\r\n").drop(1) // drop the version line
    val hs = headerMap(lines)
    val clen = hs.get("content-length").flatMap(parseLong).getOrElse(-1L)
    if (clen < 0) return None
    val blockStart = hdrEnd + 4
    if (blockStart + clen > b.length) return None // torn record
    val warcType = hs.getOrElse("warc-type", "unknown")
    val recCt = hs.get("content-type")
    val isHttpResponse =
      recCt.exists(_.toLowerCase.startsWith("application/http")) && warcType == "response"
    val (st, hct, loc, xrt, body) =
      if (isHttpResponse) parseHttp(b, blockStart, clen.toInt)
      else
        // non-HTTP blocks (conversion/metadata/resource) ARE their body —
        // the WET round-trip and CDX-over-WET paths read them directly
        (None, None, None, None, Some(java.util.Arrays.copyOfRange(
          b, blockStart, blockStart + clen.toInt)))
    Some((WarcRec(shardId, idx, warcType,
      hs.get("warc-target-uri"), hs.get("warc-date"), recCt, clen,
      st, hct, loc, xrt, body), blockStart + clen.toInt))
  }

  /** HTTP response block: status line, case-insensitive headers, body
    * after the blank line. Body framing and decoding (r14 verdict #2 —
    * raw non-CC captures routinely store both, and skipping them feeds
    * framing garbage into extraction/dedup downstream):
    *
    *  1. `Transfer-Encoding: chunked` → de-chunk ([[dechunk]]: hex size
    *     lines, chunk extensions ignored, trailers ignored); per RFC
    *     9112 Content-Length is IGNORED when chunked. Malformed chunk
    *     framing falls back to the raw block remainder (pinned: a torn
    *     capture should degrade to what a framing-blind reader sees,
    *     not vanish);
    *  2. else inner `Content-Length` honored when sane, block remainder
    *     otherwise (unchanged);
    *  3. `Content-Encoding: gzip|x-gzip` → multi-member inflate under
    *     the bomb cap; `deflate` → zlib-wrapped first, raw-deflate
    *     fallback (the dual browsers accept); `br` → the bounded
    *     FULL RFC 7932 inflate ([[Brotli.inflate]] — r17: compressed
    *     meta-blocks, context modeling, static dictionary + transforms;
    *     fixture-verified against the reference encoder). Failure
    *     yields a None
    *     body (the record stays classified, its bytes unusable);
    *     KNOWN-COMPRESSED codings this engine carries no codec for
    *     (zstd, compress — r15 advice) yield a None body exactly
    *     like a failed gzip: compressed bytes must never reach the
    *     charset ladder, where they would decode as mojibake and poison
    *     extraction/dedup downstream. Genuinely unknown/identity
    *     codings keep the raw bytes. */
  private def parseHttp(b: Array[Byte], start: Int, len: Int):
      (Option[Int], Option[String], Option[String], Option[String],
       Option[Array[Byte]]) = {
    val end = start + len
    val he = indexOf(b, "\r\n\r\n".getBytes("US-ASCII"), start)
    if (he < 0 || he >= end) return (None, None, None, None, None)
    val head = new String(b, start, he - start, "US-ASCII")
    val lines = head.split("\r\n")
    if (lines.isEmpty) return (None, None, None, None, None)
    val statusParts = lines(0).split(" ", 3)
    val st =
      if (statusParts.length >= 2 && statusParts(0).startsWith("HTTP/"))
        statusParts(1).toIntOption
      else None
    val hs = headerMap(lines.drop(1))
    // Location: the redirect target a crawler must chase (3xx) — exposed
    // so the frontier can fold redirect targets back in (q332/q333).
    // X-Robots-Tag: the header-level robots directive (r17 — the form
    // real servers use for non-HTML responses; same vocabulary as
    // <meta name=robots>): exposed raw, interpreted by the pipeline.
    val loc = hs.get("location")
    val xrt = hs.get("x-robots-tag")
    val bodyStart = he + 4
    val rem = end - bodyStart
    if (rem < 0) return (st, hs.get("content-type"), loc, xrt, None)
    val chunked = hs.get("transfer-encoding")
      .exists(_.toLowerCase.contains("chunked"))
    val framed: Array[Byte] =
      if (chunked)
        dechunk(b, bodyStart, end).getOrElse(
          java.util.Arrays.copyOfRange(b, bodyStart, bodyStart + rem))
      else {
        val bl = hs.get("content-length").flatMap(parseLong) match {
          case Some(n) if n >= 0 && n <= rem => n.toInt
          case _                             => rem
        }
        java.util.Arrays.copyOfRange(b, bodyStart, bodyStart + bl)
      }
    val body = hs.get("content-encoding").map(_.trim.toLowerCase) match {
      case Some("gzip") | Some("x-gzip") => gunzipAll(framed)
      case Some("deflate")               => inflateDeflate(framed)
      // br: the bounded full RFC 7932 inflate (r17) — a malformed
      // stream still yields None, never mojibake
      case Some("br") => Brotli.inflate(framed, MaxInflatedBytes)
      // known-compressed, no codec carried: None, never mojibake
      case Some("zstd") | Some("compress") | Some("x-compress") =>
        None
      case _ => Some(framed)
    }
    (st, hs.get("content-type"), loc, xrt, body)
  }

  /** RFC 9112 §7.1 chunked-body decode over `b[start, end)`: hex size
    * line (chunk extensions after ';' ignored) CRLF data CRLF, repeated;
    * a 0-size chunk terminates (trailer fields ignored). None on any
    * framing violation — torn chunk, bad hex, missing CRLF — and the
    * caller falls back to the raw remainder. Bounded by the record
    * block; never throws. */
  private[graft] def dechunk(b: Array[Byte], start: Int, end: Int): Option[Array[Byte]] = {
    val crlf = "\r\n".getBytes("US-ASCII")
    val out = new ByteArrayOutputStream(math.min(end - start, 1 << 16))
    var pos = start
    while (pos < end) {
      val lineEnd = indexOf(b, crlf, pos)
      if (lineEnd < 0 || lineEnd >= end) return None
      val line = new String(b, pos, lineEnd - pos, "US-ASCII").trim
      val semi = line.indexOf(';')
      val hex = (if (semi >= 0) line.substring(0, semi) else line).trim
      val size =
        try Integer.parseInt(hex, 16)
        catch { case _: NumberFormatException => return None }
      if (size < 0) return None
      if (size == 0) return Some(out.toByteArray) // trailers ignored
      val dataStart = lineEnd + 2
      if (dataStart + size + 2 > end) return None // torn chunk
      out.write(b, dataStart, size)
      if (b(dataStart + size) != '\r' || b(dataStart + size + 1) != '\n')
        return None
      pos = dataStart + size + 2
    }
    None // ran out of block before the 0-chunk
  }

  /** `Content-Encoding: deflate` inflate: zlib-wrapped first (the RFC
    * meaning), raw-deflate fallback (the historic-server bug browsers
    * accept). Shares the bomb cap; None on failure. */
  private[graft] def inflateDeflate(p: Array[Byte]): Option[Array[Byte]] =
    inflateCapped(p, nowrap = false, MaxInflatedBytes)
      .orElse(inflateCapped(p, nowrap = true, MaxInflatedBytes))

  /** One zlib (or, with `nowrap`, raw DEFLATE) stream inflated whole:
    * None on a truncated, preset-dictionary or corrupt stream, or once
    * the output passes `cap` bytes (the caller's bomb cap: 2^30 for HTTP
    * bodies here, 2^28 for PDF streams). The native zlib state is
    * released on every path. */
  private[graft] def inflateCapped(p: Array[Byte], nowrap: Boolean,
                                   cap: Long): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater(nowrap)
    try {
      inf.setInput(p)
      // NOT p.length * 2: a >=1 GiB input overflows Int to negative and
      // ByteArrayOutputStream(negative) throws — the clamp to 64 KiB
      // makes the multiply pointless anyway (the stream grows on demand)
      val bos = new ByteArrayOutputStream(math.min(p.length, 1 << 16))
      val buf = new Array[Byte](1 << 16)
      var total = 0L
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        total += n
        if (total > cap) return None
        bos.write(buf, 0, n)
      }
      Some(bos.toByteArray)
    } catch { case _: java.util.zip.DataFormatException => None }
    finally inf.end()
  }

  private def headerMap(lines: Array[String]): Map[String, String] =
    lines.iterator.flatMap { l =>
      val i = l.indexOf(':')
      if (i <= 0) None
      else Some(l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim)
    }.toMap

  private def parseLong(s: String): Option[Long] =
    try Some(s.toLong) catch { case _: NumberFormatException => None }

  /** Multi-member gzip inflate with the bomb cap; None on any error or
    * cap breach (the shard is then skipped, not the job killed). */
  private[graft] def gunzipAll(p: Array[Byte]): Option[Array[Byte]] = {
    // try/finally so the native zlib Inflater is released on EVERY path —
    // including the bomb-cap early return and the IOException branch. A
    // long scan over many malformed/bombed shards would otherwise pin
    // off-heap inflater state until GC (r13 advice).
    var in: GZIPInputStream = null
    try {
      in = new GZIPInputStream(new ByteArrayInputStream(p), 1 << 16)
      // long math: p.length * 4 overflows Int for >=512 MB shards and a
      // negative ctor arg would throw PAST the IOException catch below
      val out = new ByteArrayOutputStream(
        math.min(p.length.toLong * 4L, 1L << 20).toInt)
      val buf = new Array[Byte](1 << 16)
      var total = 0L
      var n = in.read(buf)
      while (n >= 0) {
        total += n
        if (total > MaxInflatedBytes) return None
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      Some(out.toByteArray)
    } catch { case _: java.io.IOException => None }
    finally if (in != null) { try in.close() catch { case _: java.io.IOException => () } }
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    if (from < 0) return -1
    var i = math.max(from, 0)
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}
