package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** S5/S7: in-engine PDF text-layer extraction and positioned-table
  * reconstruction, zero extra dependencies.
  *
  * The reference prefers the embedded text layer and only rasterizes for
  * OCR when a page has none (`pdf_ocr_dbd_to_json.py:45-63,434-437`
  * pdfminer leg; camelot/tabula table legs at
  * `pdf_ocr_inv_to_json.py:323-358`). This reader implements the
  * text-layer legs natively so a corpus of digital PDFs flows through the
  * engine without external binaries:
  *
  *  - object layer: linear `N G obj … endobj` scan (works with classic
  *    xref tables AND xref-stream files — the trailer is only used to find
  *    /Root, with a /Type/Catalog scan fallback), minimal COS parser
  *    (dicts, arrays, names, numbers, (…)/<…> strings, refs),
  *    /FlateDecode via `java.util.zip.Inflater`;
  *  - page layer: /Root → /Pages → /Kids tree walk (page order is tree
  *    order, not object order), /Contents ref-or-array concatenation;
  *  - text layer: BT/ET interpreter tracking the text-line matrix
  *    (Tm, Td, TD, TL, star-newline, ' and "), emitting positioned
  *    chunks for Tj/TJ;
  *    () strings decode as PDFDocEncoding-compatible Latin-1, <…> and ()
  *    strings with a FE FF BOM as UTF-16BE (how generators embed Thai);
  *  - assembly: chunks sort (y desc, x asc, emit order), group into lines
  *    by y-tolerance → page text (the pdfminer-shape output S7 needs);
  *    or cluster chunk x-origins into columns → `(row_idx, cells)` grid
  *    rows (camelot "stream" flavor, S5) feeding the SAME downstream grid
  *    operators as the Excel/CSV/HTML readers (P4/F2/F3/C43/C44).
  *
  * Scope boundary, documented not hidden: no CTM (`cm`) tracking, no
  * CID-font /ToUnicode CMap walk (simple fonts and UTF-16 literals only),
  * no glyph-width advance model — report-generator PDFs emit one
  * explicitly positioned string per cell/line, which is exactly the shape
  * the reference's sources produce. Scanned (image-only) pages yield zero
  * chunks here; OCR rasterization (S6) stays out-of-engine, reachable via
  * the S8 remote connector.
  *
  * All per-file work runs in the task that loaded the file, through the
  * one per-file frame [[Ingest.perFile]]: a million-PDF corpus fans out
  * with no driver loop and no shuffle, as the xlsx/xls readers do, and a
  * file that does not parse is one reject row ([[Ingest.rejectRow]]). */
object PdfReader {

  // ---------------------------------------------------------------- COS --

  private[sources] sealed trait PObj
  private[sources] case class PNum(v: Double) extends PObj
  private[sources] case class PName(v: String) extends PObj
  private[sources] case class PStr(bytes: Array[Byte]) extends PObj
  private[sources] case class PArr(items: Vector[PObj]) extends PObj
  private[sources] case class PDict(m: Map[String, PObj]) extends PObj
  private[sources] case class PRef(num: Int) extends PObj
  private[sources] case class PKw(word: String) extends PObj // operators / keywords

  private def isWs(c: Int) =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  private def isDelim(c: Int) =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Pull lexer over a byte slice; yields PObj tokens ("<<" / ">>" / "[" /
    * "]" surface as PKw). Shared by the object layer and the content
    * interpreter — PDF uses one syntax for both. */
  private[sources] final class Lexer(b: Array[Byte], var pos: Int, val end: Int) {
    def this(b: Array[Byte]) = this(b, 0, b.length)

    private def cur: Int = if (pos < end) b(pos) & 0xFF else -1
    private def at(i: Int): Int = if (i < end) b(i) & 0xFF else -1

    def skipWs(): Unit = {
      while (pos < end && (isWs(cur) || cur == '%')) {
        if (cur == '%') { while (pos < end && cur != '\n' && cur != '\r') pos += 1 }
        else pos += 1
      }
    }

    def next(): Option[PObj] = {
      skipWs()
      if (pos >= end) return None
      val c = cur
      if (c == '<' && at(pos + 1) == '<') { pos += 2; Some(PKw("<<")) }
      else if (c == '>' && at(pos + 1) == '>') { pos += 2; Some(PKw(">>")) }
      else if (c == '[') { pos += 1; Some(PKw("[")) }
      else if (c == ']') { pos += 1; Some(PKw("]")) }
      else if (c == '/') { pos += 1; Some(PName(readRegular())) }
      else if (c == '(') Some(readLiteralString())
      else if (c == '<') Some(readHexString())
      else if (c == '{' || c == '}' || c == ')' || c == '>') { pos += 1; next() } // stray delimiter: skip
      else if ((c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.') {
        val w = readRegular()
        try Some(PNum(w.toDouble)) catch { case _: NumberFormatException => Some(PKw(w)) }
      } else Some(PKw(readRegular()))
    }

    private def readRegular(): String = {
      val sb = new java.lang.StringBuilder
      while (pos < end && !isWs(cur) && !isDelim(cur)) { sb.append(cur.toChar); pos += 1 }
      sb.toString
    }

    private def readLiteralString(): PStr = {
      pos += 1 // '('
      val out = new java.io.ByteArrayOutputStream
      var depth = 1
      while (pos < end && depth > 0) {
        val c = cur; pos += 1
        if (c == '\\' && pos < end) {
          val e = cur; pos += 1
          e match {
            case 'n' => out.write('\n'); case 'r' => out.write('\r')
            case 't' => out.write('\t'); case 'b' => out.write('\b')
            case 'f' => out.write('\f')
            case '(' => out.write('('); case ')' => out.write(')')
            case '\\' => out.write('\\')
            case '\r' => if (cur == '\n') pos += 1 // line continuation
            case '\n' => // line continuation
            case d if d >= '0' && d <= '7' =>
              var v = d - '0'; var n = 1
              while (n < 3 && pos < end && cur >= '0' && cur <= '7') {
                v = v * 8 + (cur - '0'); pos += 1; n += 1
              }
              out.write(v & 0xFF)
            case other => out.write(other)
          }
        } else if (c == '(') { depth += 1; out.write(c) }
        else if (c == ')') { depth -= 1; if (depth > 0) out.write(c) }
        else out.write(c)
      }
      PStr(out.toByteArray)
    }

    private def readHexString(): PStr = {
      pos += 1 // '<'
      val out = new java.io.ByteArrayOutputStream
      var hi = -1
      while (pos < end && cur != '>') {
        val c = cur; pos += 1
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
        }
      }
      if (hi >= 0) out.write(hi << 4) // odd digit: trailing 0 per spec
      if (pos < end) pos += 1 // '>'
      PStr(out.toByteArray)
    }
  }

  /** Recursive COS value parser with `N 0 R` lookahead. */
  private[sources] final class CosParser(lx: Lexer) {
    private var pushed: List[PObj] = Nil
    private def take(): Option[PObj] = pushed match {
      case h :: t => pushed = t; Some(h)
      case Nil => lx.next()
    }
    private def push(o: PObj): Unit = pushed = o :: pushed

    def value(): PObj = take() match {
      case None => PKw("")
      case Some(PKw("<<")) =>
        val m = Map.newBuilder[String, PObj]
        var done = false
        while (!done) take() match {
          case Some(PKw(">>")) | None => done = true
          case Some(PName(k)) => m += k -> value()
          case Some(_) => // malformed key: skip
        }
        PDict(m.result())
      case Some(PKw("[")) =>
        val items = Vector.newBuilder[PObj]
        var done = false
        while (!done) take() match {
          case Some(PKw("]")) | None => done = true
          case Some(o) => push(o); items += value()
        }
        PArr(items.result())
      case Some(n @ PNum(v)) if v == v.floor && v >= 0 =>
        // possible indirect reference: N G R
        take() match {
          case Some(g @ PNum(gv)) if gv == gv.floor && gv >= 0 =>
            take() match {
              case Some(PKw("R")) => PRef(v.toInt)
              case Some(o) => push(o); push(g); n
              case None => push(g); n
            }
          case Some(o) => push(o); n
          case None => n
        }
      case Some(o) => o
    }
  }

  // ------------------------------------------------------- object layer --

  private[graft] case class RawObj(num: Int, dict: PObj, stream: Option[Array[Byte]])

  private val ObjPat =
    java.util.regex.Pattern.compile("(?<![0-9])(\\d+)\\s+(\\d+)\\s+obj\\b")

  /** Scan every `N G obj … endobj` in the file. Later definitions of the
    * same object number win (incremental updates append). The scan resumes
    * AFTER each parsed object body — an `N G obj` byte sequence inside a
    * string or an uncompressed stream can't spoof a phantom object. */
  private[graft] def scanObjects(bytes: Array[Byte]): Map[Int, RawObj] = {
    val latin = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val m = ObjPat.matcher(latin)
    val out = scala.collection.mutable.LinkedHashMap.empty[Int, RawObj]
    var from = 0
    while (from < latin.length && m.find(from)) {
      val num = m.group(1).toInt
      val lx = new Lexer(bytes, m.end(), bytes.length)
      val dict = new CosParser(lx).value()
      // after the value, check for a stream
      lx.skipWs()
      val streamKw = "stream"
      val hasStream = latin.startsWith(streamKw, lx.pos)
      // (stream bytes, end-of-body offset for the resume cursor)
      val streamAndEnd: (Option[Array[Byte]], Int) =
        if (!hasStream) (None, lx.pos)
        else {
          var s = lx.pos + streamKw.length
          if (s < bytes.length && bytes(s) == '\r') s += 1
          if (s < bytes.length && bytes(s) == '\n') s += 1
          val len = dict match {
            case PDict(d) => d.get("Length") match {
              case Some(PNum(v)) => Some(v.toInt)
              case _ => None // indirect /Length: fall through to endstream scan
            }
            case _ => None
          }
          val e = len match {
            case Some(l) if s + l <= bytes.length => s + l
            case _ =>
              val i = latin.indexOf("endstream", s)
              if (i < 0) bytes.length else i
          }
          (Some(java.util.Arrays.copyOfRange(bytes, s, e)), e)
        }
      out(num) = RawObj(num, dict, streamAndEnd._1)
      from = streamAndEnd._2.max(m.end())
    }
    out.toMap
  }

  private[sources] def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsDictionary()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) return out.toByteArray // truncated: keep what we have
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }

  private def decoded(objs: Map[Int, RawObj], num: Int): Option[Array[Byte]] =
    objs.get(num).flatMap { o =>
      o.stream.map { raw =>
        val filter = o.dict match {
          case PDict(d) => d.get("Filter") match {
            case Some(PName(f)) => Some(f)
            case Some(PArr(Vector(PName(f)))) => Some(f)
            case _ => None
          }
          case _ => None
        }
        filter match {
          case Some("FlateDecode") => inflate(raw)
          case Some(other) => throw new IllegalArgumentException(s"unsupported stream filter /$other")
          case None => raw
        }
      }
    }

  private def deref(objs: Map[Int, RawObj], o: PObj): PObj = o match {
    case PRef(n) => objs.get(n).map(_.dict).getOrElse(PKw("null"))
    case x => x
  }

  // --------------------------------------------------------- page layer --

  /** Page objects in page-tree order; falls back to object-number order of
    * /Type/Page dicts when no catalog is findable. */
  private[sources] def pageObjects(objs: Map[Int, RawObj]): Seq[PDict] = {
    def dictOf(o: PObj): Option[PDict] = o match { case d: PDict => Some(d); case _ => None }
    val catalog = objs.values.toSeq.sortBy(_.num).map(_.dict).collectFirst {
      case d @ PDict(m) if m.get("Type").contains(PName("Catalog")) => d
    }
    val fromTree = catalog.flatMap { c =>
      dictOf(deref(objs, c.m.getOrElse("Pages", PKw("null")))).map { root =>
        val out = Vector.newBuilder[PDict]
        def walk(node: PDict, depth: Int): Unit = if (depth < 64) {
          node.m.get("Type") match {
            case Some(PName("Page")) => out += node
            case _ => node.m.get("Kids") match {
              case Some(PArr(kids)) =>
                kids.foreach(k => dictOf(deref(objs, k)).foreach(walk(_, depth + 1)))
              case _ =>
            }
          }
        }
        walk(root, 0)
        out.result()
      }
    }
    fromTree.filter(_.nonEmpty).getOrElse {
      objs.values.toSeq.sortBy(_.num).map(_.dict).collect {
        case d @ PDict(m) if m.get("Type").contains(PName("Page")) => d
      }
    }
  }

  private def pageContent(objs: Map[Int, RawObj], page: PDict): Array[Byte] = {
    val parts: Seq[Array[Byte]] = page.m.get("Contents") match {
      case Some(PRef(n)) => decoded(objs, n).toSeq
      case Some(PArr(items)) =>
        items.collect { case PRef(n) => decoded(objs, n) }.flatten
      case _ => Nil
    }
    if (parts.isEmpty) Array.emptyByteArray
    else if (parts.size == 1) parts.head
    else {
      val out = new java.io.ByteArrayOutputStream
      parts.foreach { p => out.write(p); out.write('\n') }
      out.toByteArray
    }
  }

  // --------------------------------------------------------- text layer --

  /** One positioned text emission. `seq` preserves emission order for
    * stable tie-breaks at identical coordinates. */
  private[sources] case class Chunk(x: Double, y: Double, seq: Int, text: String)

  private[sources] def decodeText(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xFF) == 0xFE && (b(1) & 0xFF) == 0xFF)
      new String(b, 2, b.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** BT/ET interpreter: text-line matrix translation only (no CTM, no
    * glyph advances) — see the object Scaladoc for the contract. */
  private[sources] def extractChunks(content: Array[Byte]): Vector[Chunk] = {
    val lx = new Lexer(content)
    val operands = scala.collection.mutable.ArrayBuffer.empty[PObj]
    val chunks = Vector.newBuilder[Chunk]
    var seq = 0
    var lmX = 0.0; var lmY = 0.0 // text-line matrix origin
    var tmX = 0.0; var tmY = 0.0 // current text matrix origin
    var leading = 0.0
    var inArray = false
    val arr = scala.collection.mutable.ArrayBuffer.empty[PObj]

    def num(i: Int): Double = operands.lift(operands.size - i) match {
      case Some(PNum(v)) => v
      case _ => 0.0
    }
    def emit(text: String): Unit =
      if (text.nonEmpty) { chunks += Chunk(tmX, tmY, seq, text); seq += 1 }
    def nextLine(): Unit = { lmY -= leading; tmX = lmX; tmY = lmY }

    var tok = lx.next()
    while (tok.isDefined) {
      tok.get match {
        case PKw("[") => inArray = true; arr.clear()
        case PKw("]") =>
          operands += PArr(arr.toVector); inArray = false
        case o if inArray => arr += o
        case PKw("BT") =>
          lmX = 0; lmY = 0; tmX = 0; tmY = 0; operands.clear()
        case PKw("Tm") =>
          lmX = num(2); lmY = num(1); tmX = lmX; tmY = lmY; operands.clear()
        case PKw("Td") =>
          lmX += num(2); lmY += num(1); tmX = lmX; tmY = lmY; operands.clear()
        case PKw("TD") =>
          leading = -num(1); lmX += num(2); lmY += num(1); tmX = lmX; tmY = lmY
          operands.clear()
        case PKw("TL") => leading = num(1); operands.clear()
        case PKw("T*") => nextLine(); operands.clear()
        case PKw("Tj") =>
          operands.lastOption.collect { case PStr(b) => emit(decodeText(b)) }
          operands.clear()
        case PKw("'") =>
          nextLine()
          operands.lastOption.collect { case PStr(b) => emit(decodeText(b)) }
          operands.clear()
        case PKw("\"") =>
          nextLine()
          operands.lastOption.collect { case PStr(b) => emit(decodeText(b)) }
          operands.clear()
        case PKw("TJ") =>
          operands.lastOption.collect { case PArr(items) =>
            val sb = new java.lang.StringBuilder
            items.foreach { case PStr(b) => sb.append(decodeText(b)); case _ => () }
            emit(sb.toString)
          }
          operands.clear()
        case PKw(_) => operands.clear() // any other operator consumes its operands
        case o => operands += o
      }
      tok = lx.next()
    }
    chunks.result()
  }

  // ----------------------------------------------------------- assembly --

  /** Chunks → visual lines: sort y desc then (x, seq), group by
    * y-tolerance. */
  private[sources] def lines(chunks: Seq[Chunk], yTol: Double): Seq[Seq[Chunk]] = {
    if (chunks.isEmpty) return Nil
    val sorted = chunks.sortBy(c => (-c.y, c.x, c.seq))
    val out = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[Chunk]]
    var curY = Double.NaN
    sorted.foreach { c =>
      if (out.isEmpty || math.abs(c.y - curY) > yTol) {
        out += scala.collection.mutable.ArrayBuffer(c); curY = c.y
      } else out.last += c
    }
    out.map(_.sortBy(c => (c.x, c.seq)).toSeq).toSeq
  }

  private[sources] def pageText(chunks: Seq[Chunk], yTol: Double = 2.0): String =
    lines(chunks, yTol).map(_.map(_.text).mkString(" ")).mkString("\n")

  /** Camelot-"stream"-flavor table reconstruction: cluster the distinct
    * chunk x-origins into columns (new column when the gap between sorted
    * origins exceeds `colTol`), then place each visual line's chunks into
    * their column slots, multi-chunk cells joined by a space, gaps "". */
  private[sources] def pageGrid(chunks: Seq[Chunk], yTol: Double = 2.0,
                                colTol: Double = 12.0): Seq[Seq[String]] = {
    val ls = lines(chunks, yTol)
    if (ls.isEmpty) return Nil
    val xs = chunks.map(_.x).distinct.sorted
    val colStarts = scala.collection.mutable.ArrayBuffer(xs.head)
    xs.tail.foreach { x => if (x - colStarts.last > colTol) colStarts += x }
    def colOf(x: Double): Int = {
      // last column whose start is <= x + colTol slack
      var i = colStarts.length - 1
      while (i > 0 && colStarts(i) > x + 1e-9) i -= 1
      i
    }
    ls.map { line =>
      val cells = Array.fill(colStarts.length)("")
      line.foreach { c =>
        val i = colOf(c.x)
        cells(i) = if (cells(i).isEmpty) c.text else cells(i) + " " + c.text
      }
      cells.toSeq
    }
  }

  /** Full parse: bytes → per-page chunk lists (page-tree order). */
  private[graft] def parsePages(bytes: Array[Byte]): Seq[Vector[Chunk]] = {
    require(bytes.length >= 5 &&
      new String(bytes, 0, math.min(bytes.length, 1024),
        java.nio.charset.StandardCharsets.ISO_8859_1).contains("%PDF-"),
      "no %PDF- header")
    val objs = scanObjects(bytes)
    require(objs.nonEmpty, "no PDF objects found")
    pageObjects(objs).map(p => extractChunks(pageContent(objs, p)))
  }

  // -------------------------------------------------------- spark layer --

  private val pagesSchema = StructType(Seq(
    StructField("source_file", StringType),
    StructField("page_number", LongType),
    StructField("text", StringType),
    StructField("reject_reason", StringType)))

  private val gridSchema = StructType(Seq(
    StructField("source_file", StringType),
    StructField("page_number", LongType),
    StructField("row_idx", LongType),
    StructField("cells", ArrayType(StringType)),
    StructField("reject_reason", StringType)))

  /** S7 surface: `(source_file, page_number, text, reject_reason)` — the
    * same `{page_number, text}` page shape the reference's downstream
    * consumes, so the remittance/DBD line parsers run unchanged on PDF
    * input. A file that does not parse, a zero-byte one included, is one
    * reject row, like the Excel readers'. Each file parses in the task
    * that loaded it ([[Ingest.perFile]]). */
  def pagesTextTagged(spark: SparkSession, path: String,
                      yTol: Double = 2.0): DataFrame =
    Ingest.perFile(spark, path, pagesSchema) { (file, bytes) =>
      Ingest.rowsOrReject(pagesSchema, file, "pdf_parse_error") {
        parsePages(bytes).zipWithIndex.map { case (chunks, i) =>
          Row(file, (i + 1).toLong, pageText(chunks, yTol), null)
        }
      }
    }

  /** S5 surface: positioned-table rows
    * `(source_file, page_number, row_idx, cells, reject_reason)` in the
    * shared grid shape of the Excel/CSV/HTML readers — header promotion,
    * total/blank-row filters, ragged pad and the cleanse kernels compose
    * downstream unchanged; rejects as in [[pagesTextTagged]]. */
  def pagesGridTagged(spark: SparkSession, path: String, yTol: Double = 2.0,
                      colTol: Double = 12.0): DataFrame =
    Ingest.perFile(spark, path, gridSchema) { (file, bytes) =>
      Ingest.rowsOrReject(gridSchema, file, "pdf_parse_error") {
        parsePages(bytes).zipWithIndex.flatMap { case (chunks, p) =>
          pageGrid(chunks, yTol, colTol).zipWithIndex.map { case (cells, ri) =>
            Row(file, (p + 1).toLong, ri.toLong, cells, null)
          }
        }
      }
    }
}
