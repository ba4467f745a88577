package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

case class PdfRow(pdf_id: Long, payload: Array[Byte])
case class PdfText(pdf_id: Long, n_pages: Long, text: String)

/** Minimal-but-real PDF TEXT extraction — the #2 document format of
  * every training corpus after HTML. The walk is the real structure,
  * not a regex over the raw bytes: indirect objects are scanned
  * (recovery-mode, no xref needed — the xref table is an OPTIMIZATION
  * for random access, and real-world extractors fall back to exactly
  * this scan on damaged files), the page TREE is walked in `/Kids`
  * order (which legally differs from object order), `/Contents`
  * resolves single refs AND ref arrays, streams inflate per
  * `/FlateDecode`, and the decoded content streams are tokenized for
  * the text-showing operators.
  *
  * PINNED extraction spec (the oracle contract — the fixture stores the
  * expected text as an independent column, the q33/q130 convention):
  *  - show ops are `Tj`, `'`, `"` and `TJ` (array elements concatenated,
  *    kerning numbers ignored); one show op = one extracted string;
  *  - page text = its show strings joined with single spaces, document
  *    text = decodable pages joined with single spaces, in /Kids order;
  *  - string literals handle nested balanced parens, the `\( \) \\ \n
  *    \r \t \b \f` escapes, 1-3 digit octal escapes, and
  *    backslash-newline line continuation;
  *  - a page counts (and contributes) iff EVERY stream its /Contents
  *    references decodes; a truncated deflate stream silently drops the
  *    page, never throws (a poisoned document must not kill the scan);
  *  - streams NOT referenced by any page's /Contents (image XObjects
  *    etc.) are never touched — grab-every-stream walks corrupt text.
  *
  * Spark shape: documents land as binary payload rows; extraction is a
  * per-row `mapPartitions` byte walk (the [[Multimodal]] precedent) —
  * zero shuffle, parallelism = input splits; everything downstream
  * (dedup, quality, tokens) is the ordinary text pipeline. */
object Pdf {

  /** Declared-/Length sanity cap: no fixture-class document carries a
    * single content stream beyond this; bombs get the endstream scan. */
  private val MaxDeclaredLen = 1 << 26

  def readPdfs(spark: SparkSession, path: String): Dataset[PdfRow] = {
    import spark.implicits._
    spark.read.parquet(path).select(col("pdf_id"), col("payload")).as[PdfRow]
  }

  def extract(pdfs: Dataset[PdfRow]): Dataset[PdfText] = {
    import pdfs.sparkSession.implicits._
    pdfs.mapPartitions(_.map { r =>
      val (n, t) = extractText(r.payload)
      PdfText(r.pdf_id, n, t)
    })
  }

  /** (decodable page count, extracted text) — total function, never
    * throws on malformed bytes. */
  private[graft] def extractText(p: Array[Byte]): (Long, String) = {
    // latin-1 round-trips bytes 1:1, so structure scans run on a String
    // while stream payloads slice the original bytes by offset
    val s = new String(p, StandardCharsets.ISO_8859_1)
    val objs = scanObjects(s, p)
    val pagesNodes = objs.filter { case (_, o) => typeOf(o.dict) == "Pages" }
    val kidsOf = pagesNodes.map { case (num, o) => num -> refsIn(attr(o.dict, "Kids")) }
    val referenced = kidsOf.flatMap(_._2).toSet
    val roots = kidsOf.collect { case (num, _) if !referenced.contains(num) => num }
    val pageOrder = roots.toSeq.sorted.flatMap(walkKids(_, kidsOf.toMap, objs))
    var nPages = 0L
    val docText = new StringBuilder
    pageOrder.foreach { pnum =>
      objs.get(pnum).foreach { page =>
        val contents = contentRefs(page.dict)
        if (contents.nonEmpty) {
          val decoded = contents.map(cn => objs.get(cn).flatMap(decodeStream(_, p)))
          if (decoded.forall(_.isDefined)) {
            val shows = decoded.flatMap(d => tokenizeShows(
              new String(d.get, StandardCharsets.ISO_8859_1)))
            nPages += 1
            if (docText.nonEmpty) docText.append(' ')
            docText.append(shows.mkString(" "))
          }
        }
      }
    }
    (nPages, docText.toString)
  }

  private case class PdfObj(dict: String, streamStart: Int, declaredLen: Int,
                            bodyEnd: Int)

  private val ObjPat = java.util.regex.Pattern.compile("(\\d+)\\s+\\d+\\s+obj\\b")

  /** num → object: the top-level `N 0 obj` scan PLUS the objects packed
    * inside PDF 1.5 OBJECT STREAMS (/Type /ObjStm — the layout modern
    * writers emit, where page/catalog dicts live compressed inside a
    * stream and never appear as top-level objects). Dict is the
    * (nesting-aware) `<< … >>` slice; stream offsets index the ORIGINAL
    * byte array. ObjStm expansion stays recovery-mode: member offsets
    * come from the ObjStm's own /N + /First header (pairs of
    * `objnum offset`), NOT from a cross-reference stream — the xref is
    * an optimization for random access that a damaged-file fallback
    * never trusts. On a num collision a TOP-LEVEL definition wins
    * (pinned; real resolvers consult the xref, which recovery mode
    * doesn't have). Members cannot themselves carry streams (forbidden
    * by spec), so expansion is a single non-recursive pass. */
  private def scanObjects(s: String, p: Array[Byte]): Map[Int, PdfObj] = {
    val out = Map.newBuilder[Int, PdfObj]
    val m = ObjPat.matcher(s)
    while (m.find()) {
      val num = m.group(1).toInt
      val end = s.indexOf("endobj", m.end())
      if (end >= 0) {
        val dict = dictSlice(s, m.end(), end)
        val si = s.indexOf("stream", m.end())
        val (ss, dl) =
          if (si >= 0 && si < end) {
            var ds = si + "stream".length
            if (ds < s.length && s.charAt(ds) == '\r') ds += 1
            if (ds < s.length && s.charAt(ds) == '\n') ds += 1
            (ds, attr(dict, "Length").trim.takeWhile(_.isDigit) match {
              case "" => -1
              case d if d.length < 10 => d.toInt
              case _ => -1
            })
          } else (-1, -1)
        out += num -> PdfObj(dict, ss, dl, end)
      }
    }
    val top = out.result()
    val packed = top.values.toSeq
      .filter(o => typeOf(o.dict) == "ObjStm")
      .flatMap(o => objStmMembers(o, p))
    // top-level wins on collision: packed entries first, then ++ top
    packed.toMap ++ top
  }

  /** Members of one /ObjStm: (objnum, offset) header pairs sliced out of
    * the decoded stream body. Total — any malformed header/offset yields
    * an empty member set for that stream, never an exception. */
  private def objStmMembers(o: PdfObj, p: Array[Byte]): Seq[(Int, PdfObj)] = {
    def intAttr(key: String): Int = attr(o.dict, key).trim.takeWhile(_.isDigit) match {
      case "" => -1
      case d if d.length < 10 => d.toInt
      case _ => -1
    }
    val n = intAttr("N")
    val first = intAttr("First")
    if (n <= 0 || n > 10000 || first < 0) return Seq.empty
    decodeStream(o, p).toSeq.flatMap { bytes =>
      if (first > bytes.length) Seq.empty
      else {
        val body = new String(bytes, StandardCharsets.ISO_8859_1)
        val header = body.substring(0, first)
        val numPat = java.util.regex.Pattern.compile("\\d{1,9}")
        val hm = numPat.matcher(header)
        val ints = Seq.newBuilder[Int]
        while (hm.find()) ints += hm.group().toInt
        val pairs = ints.result().grouped(2)
          .collect { case Seq(a, b) => (a, b) }.take(n).toSeq
        // offsets are relative to /First and must be increasing + in range
        val ok = pairs.nonEmpty &&
          pairs.forall { case (_, off) => off >= 0 && first + off <= body.length } &&
          pairs.sliding(2).forall {
            case Seq((_, a), (_, b)) => a < b
            case _ => true
          }
        if (!ok) Seq.empty
        else pairs.zipWithIndex.map { case ((num, off), i) =>
          val from = first + off
          val until = if (i + 1 < pairs.length) first + pairs(i + 1)._2 else body.length
          // members carry no streams (spec): dict only
          num -> PdfObj(dictSlice(body, from, until), -1, -1, -1)
        }
      }
    }
  }

  private def dictSlice(s: String, from: Int, until: Int): String = {
    val start = s.indexOf("<<", from)
    if (start < 0 || start >= until) return ""
    var i = start + 2
    var depth = 1
    while (i < until - 1 && depth > 0) {
      if (s.charAt(i) == '<' && s.charAt(i + 1) == '<') { depth += 1; i += 2 }
      else if (s.charAt(i) == '>' && s.charAt(i + 1) == '>') { depth -= 1; i += 2 }
      else i += 1
    }
    if (depth == 0) s.substring(start, i) else ""
  }

  /** Raw value text following `/Key` up to the next key/dict end — only
    * as structured as the walk needs (refs, arrays, names, ints). */
  private def attr(dict: String, key: String): String = {
    val i = dict.indexOf("/" + key)
    if (i < 0) return ""
    var j = i + key.length + 1
    // value ends at the next '/' that starts a KEY (not inside []), or '>>'
    var depth = 0
    val b = new StringBuilder
    var done = false
    while (j < dict.length && !done) {
      val c = dict.charAt(j)
      if (c == '[') depth += 1
      if (c == ']') depth -= 1
      if (depth == 0 && c == '/' && b.nonEmpty && b.toString.trim.nonEmpty &&
          !b.toString.trim.endsWith("/")) done = true
      else if (depth == 0 && c == '>' && j + 1 < dict.length && dict.charAt(j + 1) == '>')
        done = true
      else { b.append(c); j += 1 }
    }
    b.toString.trim
  }

  private val RefPat = java.util.regex.Pattern.compile("(\\d+)\\s+0\\s+R\\b")

  private def refsIn(v: String): Seq[Int] = {
    val m = RefPat.matcher(v)
    val out = Seq.newBuilder[Int]
    while (m.find()) out += m.group(1).toInt
    out.result()
  }

  private val NamePat = java.util.regex.Pattern.compile("[A-Za-z]+")

  private def typeOf(dict: String): String = {
    val m = NamePat.matcher(attr(dict, "Type"))
    if (m.find()) m.group() else ""
  }

  private def contentRefs(dict: String): Seq[Int] = refsIn(attr(dict, "Contents"))

  /** Page leaves under a Pages node, /Kids order. `seen` breaks /Kids
    * CYCLES a malformed file can carry — without it the recursion would
    * StackOverflow, an Error the never-throws contract can't absorb. */
  private def walkKids(num: Int, kids: Map[Int, Seq[Int]],
                       objs: Map[Int, PdfObj],
                       seen: Set[Int] = Set.empty): Seq[Int] =
    if (seen.contains(num)) Seq.empty
    else kids.getOrElse(num, Seq.empty).flatMap { k =>
      if (k == num) Seq.empty
      else if (kids.contains(k)) walkKids(k, kids, objs, seen + num)
      else Seq(k)
    }

  /** Stream payload of an object, filtered: raw when no /Filter,
    * inflated for /FlateDecode, None for other filters or any decode
    * failure. Length: declared /Length when sane, else the endstream
    * scan. */
  private def decodeStream(o: PdfObj, p: Array[Byte]): Option[Array[Byte]] = {
    if (o.streamStart < 0) return None
    val end =
      if (o.declaredLen >= 0 && o.declaredLen <= MaxDeclaredLen &&
          o.streamStart + o.declaredLen <= o.bodyEnd)
        o.streamStart + o.declaredLen
      else {
        val s = new String(p, o.streamStart,
          math.min(p.length - o.streamStart, o.bodyEnd + 16 - o.streamStart).max(0),
          StandardCharsets.ISO_8859_1)
        val i = s.indexOf("endstream")
        if (i < 0) return None
        // back off the newline the writer put before `endstream`
        var e = o.streamStart + i
        if (e > o.streamStart && p(e - 1) == '\n') e -= 1
        if (e > o.streamStart && p(e - 1) == '\r') e -= 1
        e
      }
    if (end < o.streamStart) return None
    val raw = java.util.Arrays.copyOfRange(p, o.streamStart, end)
    val filter = attr(o.dict, "Filter")
    if (filter.isEmpty) Some(raw)
    else if (filter.contains("FlateDecode"))
      Warc.inflateCapped(raw, nowrap = false, cap = 1L << 28) // bomb cap
    else None // DCTDecode etc.: not a text stream
  }

  // ---- content-stream text tokenizer ----

  /** The show-op strings of one decoded content stream, in order. */
  private[graft] def tokenizeShows(c: String): Seq[String] = {
    val shows = Seq.newBuilder[String]
    val pending = new StringBuilder
    var havePending = false
    var i = 0
    while (i < c.length) {
      val ch = c.charAt(i)
      if (ch == '(') {
        val (str, next) = parseString(c, i)
        pending.append(str)
        havePending = true
        i = next
      } else if (ch == '[' || ch == ']') i += 1
      else if (ch == '/') { // name token: never clears pending
        i += 1
        while (i < c.length && !" \t\r\n()[]<>/".contains(c.charAt(i))) i += 1
      } else if (ch == '<') { // dict or hex string: skip opaque
        if (i + 1 < c.length && c.charAt(i + 1) == '<') {
          val e = c.indexOf(">>", i); i = if (e < 0) c.length else e + 2
        } else { val e = c.indexOf('>', i); i = if (e < 0) c.length else e + 1 }
      } else if (ch.isLetter || ch == '\'' || ch == '"') {
        var j = i
        while (j < c.length && (c.charAt(j).isLetter || c.charAt(j) == '\'' ||
          c.charAt(j) == '"' || c.charAt(j) == '*')) j += 1
        val op = c.substring(i, j)
        if (op == "Tj" || op == "TJ" || op == "'" || op == "\"") {
          if (havePending) { shows += pending.toString; pending.clear(); havePending = false }
        } else { pending.clear(); havePending = false } // non-show operator
        i = j
      } else i += 1 // whitespace, numbers, signs
    }
    shows.result()
  }

  /** One `( … )` literal starting at `open`; returns (decoded, index
    * past the close). Nested balanced parens, standard escapes, octal,
    * line continuation. */
  private def parseString(c: String, open: Int): (String, Int) = {
    val b = new StringBuilder
    var i = open + 1
    var depth = 1
    while (i < c.length && depth > 0) {
      val ch = c.charAt(i)
      if (ch == '\\' && i + 1 < c.length) {
        val e = c.charAt(i + 1)
        e match {
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'b' => b.append('\b'); i += 2
          case 'f' => b.append('\f'); i += 2
          case '(' | ')' | '\\' => b.append(e); i += 2
          case '\r' => i += (if (i + 2 < c.length && c.charAt(i + 2) == '\n') 3 else 2)
          case '\n' => i += 2 // line continuation
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < c.length && c.charAt(i) >= '0' && c.charAt(i) <= '7') {
              v = v * 8 + (c.charAt(i) - '0'); i += 1; k += 1
            }
            b.append((v & 0xff).toChar)
          case other => b.append(other); i += 2 // unknown escape: literal
        }
      } else if (ch == '(') { depth += 1; b.append(ch); i += 1 }
      else if (ch == ')') { depth -= 1; if (depth > 0) b.append(ch); i += 1 }
      else { b.append(ch); i += 1 }
    }
    (b.toString, i)
  }
}
