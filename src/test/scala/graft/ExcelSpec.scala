package graft

import org.apache.spark.sql.functions._
import graft.sources.{ExcelReader, XlsReader}

/** S2/S4 real-.xlsx reader and the S3 BIFF8 leg (fixtures generated by
  * dev/make_xlsx_fixture.py and dev/make_xls_fixture.py; re-run those
  * scripts if the fixture contract changes). */
class ExcelSpec extends SparkSpec {

  test("parseWorkbook reads sheets, shared strings and numbers in order") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixtures/supplier_sheets.xlsx"))
    val sheets = ExcelReader.parseWorkbook(bytes)
    assert(sheets.map(_._1) == Seq("Sheet1", "Sheet2", "Empty"))
    val s1 = sheets(0)._2
    assert(s1 == Vector(Vector("code", "amount"),
      Vector("A1", "10"), Vector("A2", "20")))
    val s2 = sheets(1)._2
    assert(s2 == Vector(Vector("code", "amount", "note"),
      Vector("B1", "30", "extra")))
  }

  test("parseWorkbook gap-fills sparse rows/cells, inline + rich-text strings") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixtures/xlsx_edge.xlsx"))
    val Seq(("Edge", rows)) = ExcelReader.parseWorkbook(bytes)
    // row 1: rich-text shared string at A1, gap at B1, number at C1
    assert(rows(0) == Vector("rich", "", "7"))
    // row 2 entirely absent in the XML → empty row preserved positionally
    assert(rows(1) == Vector.empty)
    // row 3: inline string at B3 (gap at A3)
    assert(rows(2) == Vector("", "inline text"))
  }

  test("sheetsGrid tags every row with file/sheet and keeps row order") {
    val tagged = ExcelReader.sheetsGridTagged(spark, s"$fixtures/supplier_sheets.xlsx")
    assert(tagged.where(col("reject_reason").isNotNull).isEmpty)
    val grid = tagged.drop("reject_reason")
    assert(grid.select("source_sheet").distinct().count() == 3)
    val s1 = grid.where(col("source_sheet") === "Sheet1")
      .orderBy("row_idx").select("cells").collect()
      .map(_.getSeq[String](0).toList).toList
    assert(s1 == List(List("code", "amount"), List("A1", "10"), List("A2", "20")))
  }

  test("multiSheetUnion promotes headers, drops empty sheets, aligns columns") {
    val (rows, rejects) = ExcelReader.multiSheetUnionWithRejects(
      spark, s"$fixtures/supplier_sheets.xlsx")
    assert(rejects.isEmpty)
    val got = rows.select("code", "amount", "note", "source_sheet")
      .orderBy("code").collect().map(r =>
        (r.getString(0), r.getString(1), Option(r.getString(2)), r.getString(3)))
    assert(got.toList == List(
      ("A1", "10", None, "Sheet1"),
      ("A2", "20", None, "Sheet1"),
      ("B1", "30", Some("extra"), "Sheet2")))
  }

  test("multiSheetUnion drops a sheet whose header row parses to zero cells") {
    // xlsx_empty_header.xlsx: sheet NoHdr's row 1 is absent from the XML
    // (gap-fills to a zero-cell header) while data rows sit below it;
    // sheet Good is normal. The zero-cell sheet must be DROPPED — not
    // crash map_from_arrays on a zero-length name array — and the good
    // sheet must come through untouched.
    val (rows, rejects) = ExcelReader.multiSheetUnionWithRejects(
      spark, s"$fixtures/xlsx_empty_header.xlsx")
    assert(rejects.count() == 0) // a dropped sheet is not a rejected FILE
    val got = rows.select("code", "amount", "source_sheet").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toList
    assert(got == List(("B1", "99", "Good")))
  }

  test("multiSheetUnion keys headers by (file, sheet): same-named sheets with " +
    "different column order never cross-contaminate") {
    val (rows, rejects) = ExcelReader.multiSheetUnionWithRejects(
      spark, s"$fixtures/xlsx_many/*.xlsx")
    assert(rejects.isEmpty)
    val got = rows.where(col("source_sheet") === "Sheet1")
      .select("code", "amount")
      .orderBy("code").collect().map(r => (r.getString(0), r.getString(1)))
    // workbook B's Sheet1 is (amount, code) — values must still land by name
    assert(got.toList == List(
      ("A1", "10"), ("A2", "20"), ("C1", "40"), ("C2", "50")))
  }

  test("multiSheetUnion metadata jobs are CONSTANT in workbook/sheet count") {
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ExcelReader.multiSheetUnionWithRejects(spark, s"$fixtures/xlsx_many/*.xlsx") // lazy result
      // the listener bus is async: poll until the count is stable rather
      // than trusting one fixed sleep
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 40) {
        Thread.sleep(100); waited += 1
        if (jobs == last) stable += 1 else { stable = 0; last = jobs }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // the only driver action is the output-schema name collect — a fixed
    // pipeline of AQE stage-jobs (metadata agg → name explode/min →
    // order), ~6 jobs REGARDLESS of workbook/sheet count. The original
    // per-sheet shape was 1 + N jobs (scaling with sheets); the round-5
    // driver-map shape was 1 job but collected per-FILE metadata. The
    // invariant that matters at scale: a constant ceiling, not 1.
    assert(jobs <= 7, s"metadata jobs must not scale with sheet count, saw $jobs")
  }

  test("magic-bytes sniff routes a lying extension to the right engine, garbage to rejects") {
    assert(ExcelReader.detectFormat(Array(0x50, 0x4B, 0x03, 0x04).map(_.toByte)) == "xlsx_zip")
    assert(ExcelReader.detectFormat(Array(0xD0, 0xCF, 0x11, 0xE0).map(_.toByte)) == "ole2")
    assert(ExcelReader.detectFormat("plain text".getBytes) == "unknown")
    // a TRUNCATED ole2 container behind an .xlsx name now reaches the
    // BIFF8 engine (extension never trusted) and fails its parse with the
    // engine's taxonomy reason — not a zip stack trace
    val (rows, rejects) = ExcelReader.multiSheetUnionWithRejects(
      spark, s"$fixtures/ole2_fake.xlsx")
    assert(rows.isEmpty)
    val rj = rejects.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rj.length == 1)
    assert(rj(0)._1.endsWith("ole2_fake.xlsx"))
    assert(rj(0)._2.startsWith("xls_parse_error"))
    // a zero-byte workbook is a reject too, never a missing file
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx_empty")
    java.nio.file.Files.write(dir.resolve("empty.xlsx"), Array.emptyByteArray)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$fixtures/supplier_sheets.xlsx"),
      dir.resolve("good.xlsx"))
    val (good, emptyRj) = ExcelReader.multiSheetUnionWithRejects(spark, dir.toString)
    assert(good.count() == 3)
    assert(emptyRj.collect().map(r => (r.getString(0).split('/').last, r.getString(1))).toSeq ==
      Seq(("empty.xlsx", "unknown_format: no zip (PK) signature")))
  }

  // ---- XlsReader (OLE2/BIFF8)

  test("xls: BIFF8 workbook parses to the same grid shape as its xlsx twin") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixtures/supplier_sheets.xls"))
    val sheets = XlsReader.parseWorkbook(bytes)
    assert(sheets.map(_._1) == Seq("Sheet1", "Sheet2", "Empty"))
    val s1 = sheets(0)._2
    assert(s1(0) == Vector("code", "amount"))
    assert(s1(1) == Vector("A1", "10"))   // NUMBER record, integral rendering
    assert(s1(2) == Vector("A2", "20"))   // RK integer record
    val s2 = sheets(1)._2
    assert(s2(0) == Vector("code", "amount", "note"))
    assert(s2(1) == Vector("B1", "30", "extra"))
    assert(sheets(2)._2.isEmpty)
  }

  test("xls: mini-stream container, SST CONTINUE straddle, MULRK/BOOLERR/LABEL/FORMULA") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixtures/xls_edge.xls"))
    val sheets = XlsReader.parseWorkbook(bytes)
    assert(sheets.map(_._1) == Seq("Edge"))
    val g = sheets(0)._2
    assert(g(0) == Vector("h1", "h2", "h3", "h4"))
    // SST string split mid-string across a CONTINUE (flag byte re-emitted)
    assert(g(1)(0) == "split_tail_" + "x" * 40)
    // MULRK run: int, /100-encoded decimal, negative int
    assert(g(1).slice(1, 4) == Vector("7", "1.25", "-3"))
    assert(g(2).isEmpty)                        // gap row stays empty
    assert(g(3)(0) == "1" && g(3)(1) == "")     // BOOLERR true / error cell
    assert(g(3)(3) == "inline" && g(3)(2) == "") // LABEL + gap cell
    assert(g(4)(0) == "2.5")                    // FORMULA cached number
    assert(g(4)(1) == "fstr")                   // FORMULA + deferred STRING
  }

  // ---- HtmlTables (S9)

  test("html: tables parse to the grid shape — entities, inner markup, ragged rows") {
    import graft.sources.HtmlTables
    val html = """<table><tr><th>A</th><th>B&amp;C</th></tr>
      |<tr><td> x </td><td><b>bold</b> tail</td></tr>
      |<tr><td>short</td></tr></table>
      |<TABLE class="x"><TR><TD>t2&#33;</TD></TR></TABLE>""".stripMargin
    val got = HtmlTables.parse(html)
    assert(got.length == 2)
    assert(got(0)(0).toSeq == Seq("A", "B&C"))
    assert(got(0)(1).toSeq == Seq("x", "bold tail"))
    assert(got(0)(2).toSeq == Seq("short"))
    assert(got(1)(0).toSeq == Seq("t2!"))
    assert(HtmlTables.parse("no tables here").isEmpty)
    assert(HtmlTables.parse(null).isEmpty)
  }

  test("html: tablesGrid emits (file, table_idx, row_idx, cells) in document order") {
    import graft.sources.HtmlTables
    import spark.implicits._
    val df = Seq(("f1", "<table><tr><td>a</td></tr><tr><td>b</td></tr></table>" +
      "<table><tr><td>c</td></tr></table>")).toDF("file", "html")
    val got = HtmlTables.tablesGrid(df, col("html"), col("file"))
      .select("table_idx", "row_idx", "cells")
      .as[(Int, Long, Seq[String])].collect().toSeq
    assert(got == Seq((0, 0L, Seq("a")), (0, 1L, Seq("b")), (1, 0L, Seq("c"))))
  }

  test("xls: mixed-engine glob unions .xls and .xlsx rows under one schema") {
    // one path grammar: a brace glob names the set of files
    val (union, rejects) = ExcelReader.multiSheetUnionWithRejects(
      spark, s"$fixtures/supplier_sheets.{xlsx,xls}")
    assert(rejects.isEmpty)
    val got = union
      .select(col("source_file"), col("source_sheet"), col("code"),
        col("amount").cast("double"), col("note"))
      .collect()
      .map(r => (r.getString(0).split('.').last, r.getString(1), r.getString(2),
        r.getDouble(3), Option(r.getString(4)).getOrElse("")))
      .toSet
    assert(got == Set(
      ("xlsx", "Sheet1", "A1", 10.0, ""), ("xlsx", "Sheet1", "A2", 20.0, ""),
      ("xlsx", "Sheet2", "B1", 30.0, "extra"),
      ("xls", "Sheet1", "A1", 10.0, ""), ("xls", "Sheet1", "A2", 20.0, ""),
      ("xls", "Sheet2", "B1", 30.0, "extra")))
  }
}
