package graft

import org.apache.spark.sql.functions._
import graft.sources.{Ingest, PdfReader}

/** S5/S7 zero-dep PDF text-layer reader (fixtures generated by
  * dev/make_pdf_fixture.py; re-run that script if the contract changes). */
class PdfSpec extends SparkSpec {

  private def bytesOf(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$fixtures/$name"))

  test("edge pdf: operators, escapes, hex, streams and page-tree order") {
    val pages = PdfReader.parsePages(bytesOf("pdf_edge.pdf"))
    assert(pages.size == 2)
    val texts = pages.head.sortBy(c => (-c.y, c.x, c.seq)).map(_.text)
    // TJ kerning array concatenates its string elements (comment skipped)
    assert(texts(0) == "Hello")
    // escapes: \( \) \\ , octal \101='A' \012='\n'
    assert(texts(1) == "a(b)c\\dA\ne")
    // balanced nested parens kept literally
    assert(texts(2) == "nested (parens) kept")
    // ' and " both advance a line (TL leading) then show
    assert(texts(3) == "apostrophe line")
    assert(texts(4) == "quote line")
    // odd-digit hex string pads a trailing zero nibble: 0x20 = space
    assert(texts(5) == "Hello ")
    // backslash-newline line continuation disappears
    assert(texts(6) == "line continuation")
    // nested Pages node comes first in tree order; page 2 is the flat kid
    assert(pages(1).map(_.text) == Vector("second page"))
    // the two /Contents array parts landed on ONE page (page 1)
    assert(pages.head.size == 7)
  }

  test("edge pdf: TD sets leading, T* and ' use it (y positions)") {
    val ys = PdfReader.parsePages(bytesOf("pdf_edge.pdf")).head
      .sortBy(c => (-c.y, c.seq)).map(_.y)
    assert(ys == Vector(700.0, 686.0, 672.0, 658.0, 644.0, 600.0, 600.0))
  }

  test("rm_pages.pdf text layer reproduces the JSON fixture pages") {
    val expected = Seq(
      (1L,
        "รายงานการจ่ายเงิน\nวันที่จ่ายเงิน: 30/09/2568\nรหัสผู้ขาย: 72195\n" +
        "15/09/2568 FC1 IV CHO12345 1NV68071 1,234.50\n" +
        "16/09/2568 W123 IV CHO12346 IV68072 2,000.00\n" +
        "15/09/2568 CN CN-001 CONSIGN-00 (500.00)\n" +
        "junk line without structure\nจำนวนเงินรวมทั้งสิ้น 2,734.50"),
      (2L,
        "วันที่จ่ายเงิน: 30/09/2568\nรหัสผู้ขาย: 72195\n" +
        "16/09/2568 W123 IV CHO12346 IV68072 2,000.00\n" +
        "17/09/2568 FC02 IV CHO12347 IV68073 750.25\n" +
        "จำนวนเงินรวมทั้งสิ้น 2,750.25"))
    val tagged = PdfReader.pagesTextTagged(spark, s"$fixtures/rm_pages.pdf")
    assert(tagged.where(col("reject_reason").isNotNull).isEmpty)
    val got = tagged
      .orderBy("page_number")
      .select("page_number", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == expected)
  }

  test("invoice_table.pdf reconstructs the positioned table as a grid") {
    val tagged = PdfReader.pagesGridTagged(spark, s"$fixtures/invoice_table.pdf")
    assert(tagged.where(col("reject_reason").isNotNull).isEmpty)
    val got = tagged
      .orderBy("page_number", "row_idx")
      .select("row_idx", "cells").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList)).toList
    assert(got == List(
      0L -> List("รายงานใบแจ้งหนี้", "", ""),
      1L -> List("ลำดับที่", "Invoice No", "Amount"),
      2L -> List("1", "IV-8001", "1,500.00"),
      3L -> List("2", "IV-8002", "(250.75)"),
      4L -> List("3", "", "125.00"),
      5L -> List("รวมทั้งสิ้น", "", "1,374.25")))
    // the grid pads to its widest row; a grid whose files were all
    // rejected is empty, and pads to width 0 (or the given header)
    val valid = tagged.where(col("reject_reason").isNull)
    assert(Ingest.padTruncate(valid)._1 == Seq("col_1", "col_2", "col_3"))
    val none = valid.where(lit(false))
    val (noNames, noRows) = Ingest.padTruncate(none)
    assert(noNames.isEmpty && noRows.isEmpty)
    val (hdr, hdrRows) = Ingest.padTruncate(none, Some(Seq("seq", "invoice_no")))
    assert(hdr == Seq("seq", "invoice_no") && hdrRows.isEmpty)
  }

  test("unparseable bytes land in the reject channel, one row per file") {
    val dir = java.nio.file.Files.createTempDirectory("pdfrej")
    val bad = dir.resolve("not_a.pdf")
    val empty = dir.resolve("empty.pdf")
    java.nio.file.Files.write(bad, "this is not a pdf at all".getBytes)
    java.nio.file.Files.write(empty, Array.emptyByteArray)
    try {
      val tagged = PdfReader.pagesTextTagged(spark, bad.toString)
      val rows = tagged.collect()
      assert(rows.length == 1)
      assert(rows.head.getString(3) != null &&
        rows.head.getString(3).startsWith("pdf_parse_error"))
      // a zero-byte file is one reject row naming it, in both surfaces
      for (df <- Seq(PdfReader.pagesTextTagged(spark, empty.toString),
                     PdfReader.pagesGridTagged(spark, empty.toString))) {
        val r = df.select("source_file", "reject_reason").collect()
        assert(r.length == 1 && r.head.getString(0).endsWith("/empty.pdf"))
        assert(r.head.getString(1).startsWith("pdf_parse_error"))
      }
    } finally {
      java.nio.file.Files.deleteIfExists(bad)
      java.nio.file.Files.deleteIfExists(empty)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("round-trip property: arbitrary positioned text survives build+parse") {
    import org.scalacheck.Gen
    val textGen: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(30)).suchThat(_.nonEmpty),
      Gen.nonEmptyListOf(Gen.oneOf(
        "ก", "ข", "ฤ", "เ", "แ", "๙", "฿", " ", "(", ")", "\\", "é", "ü"))
        .map(_.mkString.take(30)))
    val pageGen: Gen[Seq[(Int, Int, String)]] =
      Gen.choose(1, 6).flatMap { n =>
        Gen.listOfN(n, Gen.zip(Gen.choose(20, 500), textGen)).map { ps =>
          // distinct y per line, spaced > yTol apart
          ps.zipWithIndex.map { case ((x, t), i) => (x, 700 - i * 20, t) }
        }
      }
    val docGen = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, pageGen))

    (1 to 25).foreach { round =>
      val pages = docGen.sample.getOrElse(List(Seq((72, 700, "fallback"))))
      val bytes = buildPdf(pages, compress = round % 2 == 0)
      val parsed = graft.sources.PdfReader.parsePages(bytes)
      assert(parsed.size == pages.size, s"page count, round $round")
      parsed.zip(pages).foreach { case (chunks, want) =>
        val got = chunks.map(c => (c.x.toInt, c.y.toInt, c.text))
        // one Tj per input line; emission order preserved
        assert(got == want.toVector.map(w => (w._1, w._2, w._3)),
          s"chunks mismatch, round $round")
      }
    }
  }

  /** Minimal in-test PDF builder mirroring dev/make_pdf_fixture.py: one
    * explicitly Tm-positioned Tj per line, literal strings for ASCII
    * (with \ ( ) escaped), UTF-16BE hex strings otherwise. */
  private def buildPdf(pages: Seq[Seq[(Int, Int, String)]],
                       compress: Boolean): Array[Byte] = {
    def pdfStr(s: String): String =
      if (s.forall(c => c >= 32 && c < 127))
        "(" + s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)") + ")"
      else {
        val b = Array[Byte](0xFE.toByte, 0xFF.toByte) ++
          s.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
        "<" + b.map(x => f"${x & 0xFF}%02X").mkString + ">"
      }
    def content(lines: Seq[(Int, Int, String)]): Array[Byte] = {
      val ops = Seq("BT", "/F1 10 Tf") ++
        lines.flatMap { case (x, y, t) =>
          Seq(s"1 0 0 1 $x $y Tm", s"${pdfStr(t)} Tj") } :+ "ET"
      ops.mkString("\n").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    def deflate(data: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream
    def w(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    val kidRefs = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    w(s"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w(s"2 0 obj\n<< /Type /Pages /Kids [ $kidRefs ] /Count ${pages.size} >>\nendobj\n")
    pages.zipWithIndex.foreach { case (lines, i) =>
      val po = 3 + 2 * i; val co = 4 + 2 * i
      w(s"$po 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 90 0 R >> >> /Contents $co 0 R >>\nendobj\n")
      val raw = content(lines)
      val (data, filter) =
        if (compress) (deflate(raw), " /Filter /FlateDecode") else (raw, "")
      w(s"$co 0 obj\n<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    w("90 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n")
    w("trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  test("object-scan resume: 'N G obj' inside an uncompressed stream can't spoof") {
    val page = Seq((72, 700, "3 0 obj << /Type /Page >> endobj"),
      (72, 680, "90 0 obj trailing"))
    val bytes = buildPdf(Seq(page), compress = false)
    val parsed = graft.sources.PdfReader.parsePages(bytes)
    assert(parsed.size == 1)
    assert(parsed.head.map(_.text) ==
      Vector("3 0 obj << /Type /Page >> endobj", "90 0 obj trailing"))
  }

  test("uncompressed stream with indirect /Length parses (edge obj 4)") {
    // covered implicitly by the edge assertions above; here pin the object
    // layer specifically: obj 4 has /Length as a reference and no filter
    val objs = PdfReader.scanObjects(bytesOf("pdf_edge.pdf"))
    assert(objs.contains(4) && objs(4).stream.isDefined)
    val s = new String(objs(4).stream.get,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(s.contains("TJ"))
  }
}
