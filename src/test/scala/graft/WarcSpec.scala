package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Html, Warc, WarcShard}

class WarcSpec extends AnyFunSuite with SharedSpark {

  private val fixture = s"${graft.sources.Tables.fixtureDir}/warc_shards.parquet"
  private val htmlDocs = s"${graft.sources.Tables.fixtureDir}/html_docs.parquet"

  private def shards = Warc.readShards(spark, fixture)

  test("walks every record of every shard: types, counts, both framings") {
    val census = Warc.records(shards)
      .groupBy("warc_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 330 pages -> 330 requests + 330 responses; metadata at doc_id%25=0
    // (14 pages); one warcinfo per shard
    assert(census == Map("warcinfo" -> 6L, "request" -> 330L,
      "response" -> 330L, "metadata" -> 14L))
  }

  test("the GZIPPED shard (record-per-member framing) recovers the same rows as plain") {
    // shard 5 holds doc_id%6==5: 50 requests + 50 responses + warcinfo +
    // metadata at doc_id%25==0 && %6==5 (none: 0,25,..,275 mod 6 != 5... 125 and 275 are)
    val bySh = Warc.records(shards).filter(col("shard_id") === 5)
      .groupBy("warc_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val in5 = (0 until 330).count(_ % 6 == 5)
    val metaIn5 = (0 until 330).count(d => d % 25 == 0 && d % 6 == 5)
    assert(bySh == Map("warcinfo" -> 1L, "request" -> in5.toLong,
      "response" -> in5.toLong, "metadata" -> metaIn5.toLong))
  }

  test("torn garbage tail (shard 2) loses nothing: every whole record recovered") {
    val n = Warc.records(shards).filter(col("shard_id") === 2).count()
    val in2 = (0 until 330).count(_ % 6 == 2)
    val metaIn2 = (0 until 330).count(d => d % 25 == 0 && d % 6 == 2)
    assert(n == 1 + 2 * in2 + metaIn2)
  }

  test("response bodies round-trip the packed html byte-for-byte") {
    val got = Warc.responses(shards, status = Some(200))
      .select(col("target_uri").as("url"), col("body").cast("string").as("html2"))
    val src = spark.read.parquet(htmlDocs).select(col("url"), col("html"))
    val joined = got.join(src, "url")
    assert(joined.count() == 317)
    assert(joined.filter(col("html2") =!= col("html")).count() == 0)
  }

  test("301 records carry an EMPTY body and 404s their custom page; status parsed") {
    val byUri = Warc.responses(shards)
      .collect().map(r => r.target_uri.get -> r).toMap
    val r301 = byUri("https://example.com/doc21")
    assert(r301.http_status.contains(301) && r301.body.get.isEmpty)
    val r404 = byUri("https://example.com/doc7")
    assert(r404.http_status.contains(404) && r404.body.get.nonEmpty)
    val r200 = byUri("https://example.com/doc0")
    assert(r200.http_status.contains(200))
    // content-type case preserved verbatim (doc 3: the case-varied row)
    assert(byUri("https://example.com/doc3").http_content_type
      .contains("Text/HTML; charset=utf-8"))
  }

  test("malformed inputs degrade cleanly: garbage, truncated record, gzip bomb") {
    // pure garbage: no magic anywhere
    assert(Warc.parseShard(WarcShard(0, gz = false,
      Array.fill[Byte](256)(0x41))).isEmpty)
    // a record whose declared Content-Length overruns the payload is torn
    val torn = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 100000\r\n\r\nshort").getBytes("US-ASCII")
    assert(Warc.parseShard(WarcShard(0, gz = false, torn)).isEmpty)
    // header with no Content-Length: skipped, later record still found
    val half = ("WARC/1.0\r\nWARC-Type: metadata\r\n\r\n" +
      "WARC/1.0\r\nWARC-Type: metadata\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n")
      .getBytes("US-ASCII")
    val recs = Warc.parseShard(WarcShard(0, gz = false, half))
    assert(recs.length == 1 && recs.head.block_len == 2)
    // gz flag on non-gzip bytes: empty, not an exception
    assert(Warc.parseShard(WarcShard(0, gz = true,
      "WARC/1.0\r\n".getBytes("US-ASCII"))).isEmpty)
    // decompression bomb: ~4 GB of zeros declared from a tiny member
    val bomb = {
      val out = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(out)
      val zeros = new Array[Byte](1 << 20)
      var i = 0
      while (i < 1536) { g.write(zeros); i += 1 } // 1.5 GiB inflated > the 1 GiB cap
      g.close(); out.toByteArray
    }
    assert(Warc.gunzipAll(bomb).isEmpty)
  }

  test("composed front door: WARC -> HTTP 200 -> Html.mainContent equals extraction on the source") {
    val pages = Warc.responses(shards, status = Some(200))
      .select(col("target_uri").as("url"), col("body").cast("string").as("html"))
    val viaWarc = Html.mainContent(pages, idCol = "url", htmlCol = "html")
    val direct = Html.mainContent(
      spark.read.parquet(htmlDocs)
        .filter(!expr("doc_id % 53").isin(7, 21)).select(col("url"), col("html")),
      idCol = "url", htmlCol = "html")
    assert(viaWarc.count() == 317)
    assert(viaWarc.join(direct.withColumnRenamed("main_text", "mt2")
        .select("url", "mt2"), "url")
      .filter(col("main_text") =!= col("mt2")).count() == 0)
  }

  test("gz member-spanning records: CDX locations fall back to the concatenated walk (r14 advice)") {
    // legal WARC, NOT the CC framing: one gzip member does not align to
    // one record — record B spans the member boundary. The member-wise
    // walk alone would silently drop B from the index while records()
    // still parses it; the fallback must keep index == walk.
    def rec(url: String, body: String): Array[Byte] = {
      val b = body.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: $url\r\n" +
        s"Content-Length: ${b.length}\r\n\r\n").getBytes("UTF-8") ++
        b ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val all = rec("https://s.com/a", "alpha") ++
      rec("https://s.com/b", "bravo-spans-the-boundary") ++
      rec("https://s.com/c", "charlie")
    // split INSIDE record B (B starts after A; cut 20 bytes into B)
    val cut = rec("https://s.com/a", "alpha").length + 20
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    val payload = gzip(all.take(cut)) ++ gzip(all.drop(cut))
    val sh = WarcShard(9L, gz = true, payload)
    // the concatenated walk sees all three
    assert(Warc.parseShard(sh).flatMap(_.target_uri) ==
      Seq("https://s.com/a", "https://s.com/b", "https://s.com/c"))
    // ...and so must the index (fallback extents = the whole shard)
    val locs = Warc.locateShard(sh, Set("resource"))
    assert(locs.map(_.url) ==
      Seq("https://s.com/a", "https://s.com/b", "https://s.com/c"), s"got $locs")
    // every location remains FETCHABLE through the normal slice path
    locs.foreach { l =>
      val r = Warc.fetchRecord(9L, gz = true, payload, l.offset, l.length, l.slice_idx)
      assert(r.exists(_.target_uri.contains(l.url)), s"fetch failed for $l")
    }
    // and a well-framed CC shard still gets per-member ranged extents
    val cc = WarcShard(10L, gz = true,
      gzip(rec("https://s.com/a", "alpha")) ++ gzip(rec("https://s.com/b", "bravo")))
    val ccLocs = Warc.locateShard(cc, Set("resource"))
    assert(ccLocs.length == 2 && ccLocs(0).offset == 0 && ccLocs(1).offset > 0)
  }

  test("packRecords: null url/text/shard rows are dropped, never an NPE (r14 advice)") {
    import spark.implicits._
    val rows = Seq(
      (Some(0L), Option("https://a.com/1"), Option("alpha")),
      (Some(0L), None: Option[String], Option("no url")),
      (Some(0L), Option("https://a.com/3"), None: Option[String]),
      (None: Option[Long], Option("https://a.com/4"), Option("no shard")),
      (Some(0L), Option("https://a.com/5"), Option("omega")))
      .toDF("shard_id", "url", "text")
    val shards = Warc.packRecords(rows, "url", "text", "shard_id",
      date = "2026-01-01T00:00:00Z", gz = false,
      warcType = "metadata", contentType = "application/json").collect()
    assert(shards.length == 1)
    // only the two complete rows became records, in url order
    val recs = Warc.records(
      spark.createDataset(shards.toIndexedSeq)(
        org.apache.spark.sql.Encoders.product[WarcShard])).collect()
    assert(recs.map(_.target_uri.get).toSeq ==
      Seq("https://a.com/1", "https://a.com/5"))
    assert(recs.forall(_.warc_type == "metadata"))
  }

  test("chunked/gzip/deflate HTTP bodies decode through the walk (r14 verdict #2)") {
    val httpShards = Warc.readShards(spark,
      s"${graft.sources.Tables.fixtureDir}/warc_http_shards.parquet")
    val got = Warc.decodedResponses(httpShards)
      .select("url", "charset", "text").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    val want = spark.read.parquet(s"${graft.sources.Tables.fixtureDir}/warc_http_pages.parquet")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (url, exp) =>
      assert(got(url) == exp, s"$url: got ${got(url)}, want $exp")
    }
    // spot-pin the families: chunked (A), gzip (B), composed (C), raw
    // deflate (E), malformed-chunk fallback keeps the framing bytes (G),
    // truncated gzip -> '' (H), chunked+legacy charset (I)
    assert(got("https://framed.example.net/page0")._2.startsWith("page p0 body"))
    assert(got("https://framed.example.net/page5")._2.startsWith("page p5 body"))
    assert(got("https://framed.example.net/page10")._2.startsWith("page p10 body"))
    assert(got("https://framed.example.net/page18")._2.startsWith("page p18 body"))
    assert(got("https://framed.example.net/page24")._2.contains("\r\n"))
    assert(got("https://framed.example.net/page26")._2 == "")
    assert(got("https://framed.example.net/page27") ==
      (("windows-1252", s"p27 café “quality” résumé"))) // WORDS(27 % 6)
    // group J (r17): the FULL RFC 7932 decode — stored mode (29) AND a
    // real quality-11 compressed stream with dictionary references (33)
    // both inflate; zstd/compress stay codec-less -> None -> ''; the
    // malformed br rows (32: compressed meta-block truncated before its
    // preamble; 34: real stream cut at half) refuse, never guess
    assert(got("https://framed.example.net/page29")._2.startsWith("page p29 body"))
    assert(got("https://framed.example.net/page30")._2 == "")
    assert(got("https://framed.example.net/page31")._2 == "")
    assert(got("https://framed.example.net/page32")._2 == "")
    assert(got("https://framed.example.net/page33")._2.startsWith(
      "page p33 the information of the government"))
    assert(got("https://framed.example.net/page34")._2 == "")
  }

  test("Brotli.inflate: hand-framed stored-mode streams, bounds, malformed refusals") {
    import graft.operators.Brotli
    // hand-frame: WBITS=16 ('0'), one 3-byte uncompressed block, last-empty.
    // bits LSB-first: 0 | 0 | 00 | MLEN-1=2 (16 bits) | 1 | align | 'abc' | 1 | 1
    // (the stored framing stays a valid corner of the FULL r17 decoder;
    // the real compressed-mode coverage lives in BrotliSpec's
    // encoder-produced vectors)
    def stored(data: Array[Byte]): Array[Byte] = {
      val bits = scala.collection.mutable.ArrayBuffer[Int]()
      def w(v: Int, n: Int): Unit = (0 until n).foreach(k => bits += ((v >> k) & 1))
      w(0, 1); w(0, 1); w(0, 2); w(data.length - 1, 16); w(1, 1)
      while (bits.length % 8 != 0) bits += 0
      data.foreach(b => w(b & 0xff, 8))
      w(1, 1); w(1, 1)
      while (bits.length % 8 != 0) bits += 0
      bits.grouped(8).map(g =>
        g.zipWithIndex.map { case (b, k) => b << k }.sum.toByte).toArray
    }
    val abc = stored("abc".getBytes("US-ASCII"))
    assert(Brotli.inflate(abc, 1L << 20).map(new String(_, "US-ASCII"))
      .contains("abc"))
    // truncated stream, empty input, over-cap output: refused
    assert(Brotli.inflate(abc.dropRight(2), 1L << 20).isEmpty)
    assert(Brotli.inflate(Array.emptyByteArray, 1L << 20).isEmpty)
    assert(Brotli.inflate(abc, 2L).isEmpty)
    // a compressed meta-block whose few remaining bits cannot carry its
    // prefix-code preamble: malformed, refused (never garbage)
    // bits 0 | 0 | 00 | MLEN-1=9 | 0 | garbage
    val comp = {
      val bits = scala.collection.mutable.ArrayBuffer[Int]()
      def w(v: Int, n: Int): Unit = (0 until n).foreach(k => bits += ((v >> k) & 1))
      w(0, 1); w(0, 1); w(0, 2); w(9, 16); w(0, 1); w(0xAB, 8)
      while (bits.length % 8 != 0) bits += 0
      bits.grouped(8).map(g =>
        g.zipWithIndex.map { case (b, k) => b << k }.sum.toByte).toArray
    }
    assert(Brotli.inflate(comp, 1L << 20).isEmpty)
  }

  test("decodeBody: pinned charset fallback order and alias normalization") {
    import Warc.decodeBody
    def b(s: String, enc: String) = s.getBytes(enc)
    // header wins, aliases normalize, quoted form accepted
    assert(decodeBody(b("café", "windows-1252"),
      Some("text/html; charset=CP1252")) == (("windows-1252", "café")))
    assert(decodeBody(b("café", "UTF-8"),
      Some("text/html; charset=\"utf-8\"")) == (("utf-8", "café")))
    // meta sniff (header silent), both meta forms
    assert(decodeBody(b("<meta charset=latin1><p>über", "ISO-8859-1"),
      Some("text/html"))._1 == "iso-8859-1")
    assert(decodeBody(
      b("<meta http-equiv=\"Content-Type\" content=\"text/html; charset=Shift_JIS\">データ",
        "Shift_JIS"), None) == (("shift_jis",
      "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=Shift_JIS\">データ")))
    // undeclared: strict utf-8 first, windows-1252 fallback on malformed
    assert(decodeBody(b("中文 ok", "UTF-8"), None) == (("utf-8", "中文 ok")))
    assert(decodeBody(b("résumé", "windows-1252"), Some("text/html")) ==
      (("windows-1252", "résumé")))
    // CJK ladder (r14 verdict #6): EUC-KR, GB18030, Big5, and the
    // WHATWG gb2312→GBK label rule
    assert(decodeBody(b("데이터 품질", "EUC-KR"),
      Some("text/html; charset=euc-kr")) == (("euc-kr", "데이터 품질")))
    assert(decodeBody(b("数据 质量", "GB18030"),
      Some("text/html; charset=GB18030")) == (("gb18030", "数据 质量")))
    assert(decodeBody(b("資料 品質", "Big5"),
      Some("text/html; charset=big5")) == (("big5", "資料 品質")))
    assert(decodeBody(b("数据 模型", "GBK"),
      Some("text/html; charset=gb2312")) == (("gbk", "数据 模型")))
    // unknown declared charset is treated as undeclared (utf-8 path)
    assert(decodeBody(b("plain", "UTF-8"),
      Some("text/html; charset=ebcdic-weird")) == (("utf-8", "plain")))
    // declared-but-dirty never throws: malformed bytes REPLACED
    val (cs, txt) = decodeBody(Array[Byte](0x61, 0xC3.toByte),
      Some("text/html; charset=utf-8"))
    assert(cs == "utf-8" && txt.startsWith("a"))
  }
}
