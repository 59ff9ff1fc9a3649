package graft

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}

import org.apache.spark.graftglue.BusGlue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.operators.RowFilters
import graft.pipelines.Pipelines
import graft.plans.CsvExpressions
import graft.sources.Ingest

/** The per-file PO pass: the one-row-per-file reader, the in-task kernel of
  * `Pipelines.poCsvMany` and its agreement with the Column predicates and
  * the window trim it replaced. */
class PoKernelSpec extends SparkSpec {
  import spark.implicits._

  private val poHeader = Seq("PO No.", "Supplier Code", "Supplier Name", "Order Date",
    "Send Date", "Delivery Date", "Amount (PO Include VAT)", "Amount (PO Include VAT)")

  /** Cells that sit on the edge of the junk predicates: Spark's `trim`
    * strips only ' ' (tab, NBSP and ideographic space stay non-blank), the
    * total pattern matches anywhere in a cell, `\btotal\b` needs a word
    * boundary. */
  private val hostileCell: Gen[String] = Gen.oneOf(
    "", " ", "   ", "\t", "\u00A0", " \u00A0 ", "\u3000", "x", "1,000.00", "-",
    "รวม", "ยอดรวม", "รวมทั้งสิ้น", " รวม ", "Total", "TOTAL:", "grand  total",
    "SubTotal", "sub total", "totally", "subtotals", "กำไรรวม", "PO No.", "Supplier Code",
    "Supplier Name")

  private def sample[T](g: Gen[T]): T = Iterator.continually(g.sample).flatten.next()

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  private def csvLine(cells: Seq[String]): String = cells.map(csvCell).mkString(",")

  private def preamble(order: Seq[Int]): Seq[String] = Seq(
    "PO DETAIL REPORT,,,,,,,",
    ",Buyer : (2050363000999) บริษัท ทดสอบ จำกัด,,,,,,",
    ",,,,,,,",
    ",,,8/1/2025,,8/7/2025,,",
    csvLine(order.map(poHeader)))

  private def tmpDir(tag: String): Path = Files.createTempDirectory(s"graft_$tag")

  test("kernel junk checks agree with the Column predicates on hostile rows") {
    val rows: Seq[Seq[String]] = Seq(Seq.empty[String], Seq(null), Seq("", null, " ")) ++
      Seq.fill(600)(sample(Gen.choose(0, 6).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(9 -> hostileCell, 1 -> Gen.const(null: String))))))
    val got = rows.zipWithIndex.toDF("cells", "id")
      .select(col("id"),
        RowFilters.isTotalRowArr(col("cells")).as("total"),
        RowFilters.isBlankRowArr(col("cells")).as("blank"))
      .collect().map(r => r.getInt(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    rows.zipWithIndex.foreach { case (cells, id) =>
      val arr = cells.toArray
      assert((RowFilters.isTotalCells(arr), RowFilters.isBlankCells(arr)) == got(id),
        s"row $id ${cells.map(c => if (c == null) "null" else s"<$c>")}")
    }
  }

  test("kernel echo drop and trailing trim match the Column plan on hostile files") {
    // each file: the report preamble, then data rows, header echoes, mid-file
    // junk and a trailing junk run, in a random column order
    val files = (0 until 40).map { f =>
      val order = if (f % 3 == 0) Seq(0, 2, 1, 3, 4, 5, 7, 6) else (0 until 8)
      val row = Gen.frequency[Seq[String]](
        5 -> Gen.const(Seq(f"10$f%08d", "123", "ผู้ขาย", "01/08/2568", "8/1/2025 9:00:00 AM",
          "05/08/2568", "1,000.00", "1,070.00")),
        2 -> Gen.listOfN(8, hostileCell),
        1 -> Gen.const(poHeader),
        1 -> Gen.const(Seq("PO No.", "Supplier Code", "x", "", "", "", "", "")),
        1 -> Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, hostileCell)))
      val body = Seq.fill(sample(Gen.choose(0, 12)))(sample(row))
        .map(cells => if (cells.length == 8) order.map(cells) else cells)
      val tail = Seq.fill(sample(Gen.choose(0, 4)))(sample(Gen.oneOf[Seq[String]](
        Gen.const(Seq("", "", "รวมทั้งสิ้น", "", "", "", "1,000.00", "1,070.00")),
        Gen.const(Seq.fill(8)("")), Gen.const(Seq.empty[String]),
        Gen.listOfN(3, Gen.oneOf("", " ", "Grand Total")))))
      (f, order, preamble(order) ++ (body ++ tail).map(csvLine))
    }
    val kernel = files.flatMap { case (f, _, lines) =>
      Pipelines.poFileRows(lines.toArray).map { case (i, _) => (f, i) }
    }.toSet

    // the Column spelling: echo over this file's header positions, junk
    // from the shared predicates, RowFilters.trimTrailing per file
    val grid = files.flatMap { case (f, order, lines) =>
      lines.zipWithIndex.drop(5).map { case (l, i) =>
        (f, i, l, order.indexOf(0) + 1, order.indexOf(1) + 1, order.indexOf(2) + 1)
      }
    }.toDF("file", "row_idx", "line", "p0", "p1", "p2")
      .withColumn("cells", CsvExpressions.splitCsvLine(col("line")))
    def hit(p: String, name: String) =
      when(try_element_at(col("cells"), col(p)) === name, 1).otherwise(0)
    val echo = hit("p0", "PO No.") + hit("p1", "Supplier Code") + hit("p2", "Supplier Name") >= 2
    val junk = RowFilters.isTotalRowArr(col("cells")) || RowFilters.isBlankRowArr(col("cells"))
    val columnPlan = RowFilters.trimTrailing(grid.where(!echo), col("file"), col("row_idx"), junk)
      .select("file", "row_idx").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(kernel == columnPlan, s"kernel-only ${kernel -- columnPlan}, plan-only ${columnPlan -- kernel}")
  }

  test("kernel keeps a mid-file total, trims the trailing run, drops header echoes") {
    val data = (n: Int) => Seq(s"100000000$n", "5", "ผู้ขาย", "01/08/2568", "", "", "10.00", "")
    val lines = preamble(0 until 8) ++ Seq(
      data(1),                                      // 5
      Seq("", "", "รวม", "", "", "", "10.00", ""),  // 6: total mid-file, kept
      data(2),                                      // 7
      poHeader,                                     // 8: header echo, dropped
      Seq(" ", "", "  "),                           // 9: blank (spaces only)
      Seq("", "Grand Total", "", "", "", "", "20.00", ""), // 10: total
      Seq.empty[String]                             // 11: empty line
    ).map(csvLine)
    assert(Pipelines.poFileRows(lines.toArray).map(_._1).toSeq == Seq(5, 6, 7))
    // a tab or NBSP is not blank to Spark's trim: the row ends the junk run
    for (ws <- Seq("\t", "\u00A0")) {
      val kept = Pipelines.poFileRows((lines :+ csvLine(Seq("", ws, ""))).toArray)
      assert(kept.map(_._1).toSeq == Seq(5, 6, 7, 9, 10, 11, 12), s"<$ws>")
    }
    // ragged rows read null past their end; the metadata rides on every row
    val short = Pipelines.poFileRows((preamble(0 until 8) :+ "1000000003,7").toArray)
    assert(short.map(_._2.toSeq).toSeq == Seq(Seq("1000000003", "7", null, null, null, null, null,
      null, "Buyer : (2050363000999) บริษัท ทดสอบ จำกัด", "8/1/2025", "8/7/2025")))
    assert(Pipelines.poFileRows(Array("PO DETAIL REPORT")).isEmpty)
  }

  test("the per-file reader spreads small files over the cores; line schema unchanged") {
    val dir = tmpDir("po_parallel")
    (0 until 9).foreach { i =>
      Files.write(dir.resolve(f"f$i%02d.csv"), s"a,b\n$i,x\n".getBytes(StandardCharsets.UTF_8))
    }
    val files = Ingest.linesPerFile(spark, s"$dir/*.csv")
    assert(files.rdd.getNumPartitions > 1, "9 small files packed into one split")
    val byName = files.collect().map(r => r.getString(0).split('/').last -> r.getSeq[String](2)).toMap
    assert(byName.size == 9 && byName("f03.csv") == Seq("a,b", "3,x", ""))

    val lines = Ingest.csvLinesPerFileEncoding(spark, s"$dir/*.csv")
    assert(lines.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) == Seq(
      ("source_file", "string", false), ("encoding", "string", false),
      ("line_no", "bigint", false), ("line", "string", true)))
    val f3 = lines.where(col("source_file").endsWith("/f03.csv")).orderBy("line_no").collect()
    assert(f3.map(r => (r.getLong(2), r.getString(3))).toSeq == Seq((0L, "a,b"), (1L, "3,x"), (2L, "")))
    assert(f3.forall(r => r.getString(0) == s"file:$dir/f03.csv" && r.getString(1) == "UTF-8"))
  }

  test("a zero-byte PO file or one with no header line fails the read, naming the file") {
    val data = csvLine(Seq("1000000001", "5", "ผู้ขาย", "01/08/2568", "", "", "10.00", ""))
    val top = preamble(0 until 8).take(4)
    def text(lines: Seq[String]) = lines.mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.UTF_8)
    val good = text(preamble(0 until 8) :+ data)
    val hostile: Seq[(String, Array[Byte])] = Seq(
      "zero_byte.csv" -> Array.emptyByteArray,
      "four_lines.csv" -> text(top),
      "blank_header.csv" -> text(top ++ Seq("", data)),
      "empty_cells_header.csv" -> text(top ++ Seq(",,,,,,,", data)))
    val clean = tmpDir("po_clean")
    Files.write(clean.resolve("good.csv"), good)
    assert(Pipelines.poCsvMany(spark, s"$clean/*.csv").count() == 1)
    for ((name, bytes) <- hostile) {
      val dir = tmpDir("po_hostile")
      Files.write(dir.resolve("good.csv"), good)
      Files.write(dir.resolve(name), bytes)
      val e = withClue(s"$name: ")(intercept[Exception](Pipelines.poCsvMany(spark, s"$dir/*.csv").count()))
      assert(messages(e).contains(name), s"$name: ${messages(e)}")
    }
  }

  /** A TIS-620 report and a UTF-8-BOM report whose columns sit in another
    * order, each with a trailing total; returns their directory. */
  private def driftFiles(): Path = {
    val dir = tmpDir("po_drift")
    def write(name: String, cs: Charset, bom: Boolean, order: Seq[Int], buyer: String,
              from: String, to: String, rows: Seq[Seq[String]]): Unit = {
      val text = (Seq("PO DETAIL REPORT,,,,,,,", s",Buyer : $buyer,,,,,,", ",,,,,,,",
        s",,,$from,,$to,,", csvLine(order.map(poHeader))) ++
        rows.map(r => csvLine(order.map(r))) ++
        Seq(",,,,,,,", ",,รวมทั้งสิ้น,,,,\"9,999.00\",", "")).mkString("\r\n")
      val bytes = text.getBytes(cs)
      Files.write(dir.resolve(name),
        if (bom) Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ bytes else bytes)
    }
    write("thai.csv", Charset.forName("TIS-620"), bom = false, 0 until 8,
      "(2050363000123) บริษัท หนึ่ง จำกัด", "7/10/2025", "7/14/2025", Seq(
        Seq("1013090870", "72196", "ผู้ขาย  สอง", "02/07/2568", "7/11/2025 9:15:00 AM",
          "16/07/2568", "(500.00)", "535.00"),
        Seq("1013090869", "72195", "ผู้ขาย หนึ่ง", "01/07/2568", "7/10/2025 14:44:07 PM",
          "15/07/2568", "1,234.56", "1,300.00")))
    // supplier code/name and order/delivery date columns swapped
    write("bom.csv", StandardCharsets.UTF_8, bom = true, Seq(0, 2, 1, 5, 4, 3, 6, 7),
      "(2050363000456) บริษัท สอง จำกัด", "8/1/2025", "8/7/2025", Seq(
        Seq("1013090880", "80001", "ร้าน ก", "2025-08-02", "8/2/2025 1:05:00 PM",
          "03.08.2025", "−1 171.37", "10.00"),
        Seq("1013090871", "80002", "ร้าน ข", "bad", "8/3/2025 0:00", "", "2,000.00", "")))
    dir
  }

  test("poCsvMany over mixed TIS-620 and UTF-8-BOM files with drifted column order") {
    val dir = driftFiles()
    val po = Pipelines.poCsvMany(spark, s"$dir/*.csv")
    // rendered by Spark (session time zone UTC), not by the JVM's default zone
    val got = po.select(po.columns.map(c => col(c).cast("string")): _*).collect()
      .map(r => r.toSeq.map(v => if (v == null) "null" else v.toString)
        .updated(0, r.getString(0).split('/').last)).toSeq
    // no global order: each file's rows come out in its own line order
    assert(got.groupBy(_.head) == Map(
      "thai.csv" -> Seq(
        Seq("thai.csv", "1013090870", "72196", "ผู้ขาย สอง", "2025-07-02", "2025-07-11 09:15:00",
          "2025-07-16", "-500.0", "535.0", "2050363000123", "บริษัท หนึ่ง จำกัด", "2025-07-10", "2025-07-14"),
        Seq("thai.csv", "1013090869", "72195", "ผู้ขาย หนึ่ง", "2025-07-01", "2025-07-10 14:44:07",
          "2025-07-15", "1234.56", "1300.0", "2050363000123", "บริษัท หนึ่ง จำกัด", "2025-07-10", "2025-07-14")),
      "bom.csv" -> Seq(
        Seq("bom.csv", "1013090880", "80001", "ร้าน ก", "2025-08-02", "2025-08-02 13:05:00",
          "2025-08-03", "-1171.37", "10.0", "2050363000456", "บริษัท สอง จำกัด", "2025-08-01", "2025-08-07"),
        Seq("bom.csv", "1013090871", "80002", "ร้าน ข", "null", "2025-08-03 00:00:00",
          "null", "2000.0", "null", "2050363000456", "บริษัท สอง จำกัด", "2025-08-01", "2025-08-07"))))
    assert(po.schema.map(_.name) == Seq("source_file", "po_no", "supplier_code", "supplier_name",
      "order_date", "send_ts", "delivery_date", "amount_incl_vat", "amount_incl_vat_2",
      "buyer_code", "buyer_name", "report_from", "report_to"))
  }

  test("a PO write runs in 1 job: no range sample, no sort shuffle") {
    val dir = driftFiles()
    val out = tmpDir("po_write").resolve("out").toString
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    BusGlue.waitUntilEmpty(sc, 10000)
    sc.addSparkListener(listener)
    try {
      Pipelines.poCsvMany(spark, s"$dir/*.csv").write.parquet(out)
      BusGlue.waitUntilEmpty(sc, 10000)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"${jobs.get} jobs")
    assert(spark.read.parquet(out).count() == 4)
  }
}
