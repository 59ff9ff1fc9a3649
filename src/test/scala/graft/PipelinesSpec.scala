package graft

import org.apache.spark.sql.functions._
import graft.pipelines.Pipelines
import graft.sources.Ingest

class PipelinesSpec extends SparkSpec {

  test("encoding detection picks TIS-620 for the Thai PO grid") {
    val enc = Ingest.csvLinesPerFileEncoding(spark, s"$fixtures/po_report.csv")
      .where(col("line_no") === 0).collect()(0).getString(1)
    // mixed encodings in one glob: each file probed and decoded inside its
    // own task
    locally {
      val dir = java.nio.file.Files.createTempDirectory("graft_enc")
      val thai = "รหัส,จำนวน\nก,1"
      java.nio.file.Files.write(dir.resolve("utf8.csv"),
        thai.getBytes("UTF-8"))
      java.nio.file.Files.write(dir.resolve("tis620.csv"),
        thai.getBytes("x-windows-874"))
      val lines = Ingest.csvLinesPerFileEncoding(spark, s"$dir/*.csv")
        .where(col("line_no") === 0)
      val byFile = lines.collect().groupBy(r => r.getString(0).split('/').last)
      assert(byFile("utf8.csv").head.getString(1) == "UTF-8")
      assert(byFile("tis620.csv").head.getString(1) != "UTF-8")
      assert(byFile.values.forall(_.head.getString(3) == "รหัส,จำนวน"))
    }
    assert(enc == "x-windows-874" || enc == "TIS-620")
  }

  test("utf-8-sig: a leading BOM never reaches the first cell (both read paths)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bom")
    val content = "PO No.,จำนวน\nA1,10"
    java.nio.file.Files.write(dir.resolve("bom.csv"),
      Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ content.getBytes("UTF-8"))
    // many-files path: BOM stripped inside the task
    val line0 = Ingest.csvLinesPerFileEncoding(spark, s"$dir/*.csv")
      .where(col("line_no") === 0).collect()(0).getString(3)
    assert(line0 == "PO No.,จำนวน", s"got <$line0>")
    // CSV path: the decoded lines parsed as CSV keep a clean first cell
    import spark.implicits._
    val lines = Ingest.csvLinesPerFileEncoding(spark, s"$dir/bom.csv").select("line").as[String]
    val first = spark.read.csv(lines).collect()(0).getString(0)
    assert(first == "PO No.", s"got <$first>")
  }

  test("po pipeline: embedded header dropped, trailing junk trimmed, Thai decoded") {
    val df = Pipelines.poCsv(spark, s"$fixtures/po_report.csv")
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("po_no")).toSeq ==
      Seq("1013090869", "1013090870", "1013090871"))
    assert(rows(0).getAs[String]("supplier_name") == "ผู้ขาย หนึ่ง")
    assert(rows(0).getAs[String]("buyer_code") == "2050363000123")
  }

  test("invoice pipeline: 2 valid + 1 reject, header row gone") {
    val (valid, rejects) = Pipelines.invoiceReport(spark, s"$fixtures/invoice_records.json")
    assert(valid.count() == 2 && rejects.count() == 1)
    val names = valid.select("invoice_no").collect().map(_.getString(0)).toSet
    assert(names == Set("BL12034", "IV516"))
  }

  test("remittance pipeline: dedup across pages, totals reconcile to zero") {
    val (tx, totals) = Pipelines.remittance(spark, s"$fixtures/rm_pages.json")
    assert(tx.count() == 4 && totals.count() == 2)
    val rec = Pipelines.remittanceReconcile(spark, s"$fixtures/rm_pages.json")
    assert(rec.where(col("diff") =!= 0).count() == 0)
  }

  test("dbd financial pipeline: upsert keeps unmatched, updates matched") {
    import spark.implicits._
    val existing = Seq(("0105537086874", 2021, Some(1.0), Some(2.0), Some(3.0)))
      .toDF("tax_id", "fiscal_year", "total_revenue", "cost_of_goods_sold", "net_profit")
    val out = Pipelines.dbdFinancial(spark, s"$fixtures/dbd_financial.json", existing)
    assert(out.count() == 4)
    val y2021 = out.where(col("fiscal_year") === 2021).collect()(0)
    assert(y2021.getAs[Double]("total_revenue") == 1.0) // untouched
  }

  test("declared JSON schemas: numeric values read as their text, cleaned as before") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_json_num")
    def write(name: String, records: String*): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p,
        records.mkString("{\"records\": [\n", ",\n", "\n]}\n").getBytes("UTF-8"))
      p.toString
    }
    def invoice(amount: String) =
      s"""{"Invoice No.": "IV1O1", "Supplier Code": "72195", "Invoice Date": "01/07/2568",
         |"Invoice Received Date": "2025-07-03 10:22:00", "Related Document": "PO:1013090869",
         |"Amount": $amount, "Status": "PAID"}""".stripMargin
    // every Amount a JSON number: an inferring reader typed the column double
    val (valid, rejects) = Pipelines.invoiceReport(spark,
      write("inv_num.json", invoice("1234.5"), invoice("-20"), invoice("0")))
    assert(rejects.count() == 0)
    assert(valid.select("invoice_no", "amount").as[(String, Double)].collect().toSeq ==
      Seq(("IV101", 1234.5), ("IV101", -20.0), ("IV101", 0.0)))
    val (validText, _) = Pipelines.invoiceReport(spark,
      write("inv_text.json", invoice("\"1234.5\""), invoice("\"-20\""), invoice("\"0\"")))
    assert(valid.collect().toSeq == validText.collect().toSeq)

    def dbd(year: String, item: String, amount: String) =
      s"""{"tax_id": "0105537086874", "fiscal_year": $year, "item_th": "$item", "amount": $amount}"""
    val existing = Seq.empty[(String, Int, Option[Double], Option[Double], Option[Double])]
      .toDF("tax_id", "fiscal_year", "total_revenue", "cost_of_goods_sold", "net_profit")
    val fin = Pipelines.dbdFinancial(spark, write("dbd_num.json",
      dbd("2022", "รายได้รวม", "1234.5"), dbd("2022", "ต้นทุนขาย", "600"),
      dbd("2023", "กำไร(ขาดทุน)สุทธิ", "-7.25")), existing)
    assert(fin.schema("fiscal_year").dataType.simpleString == "int")
    val got = fin.orderBy("fiscal_year").as[(String, Int, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(got == Seq(("0105537086874", 2022, Some(1234.5), Some(600.0), None),
      ("0105537086874", 2023, None, None, Some(-7.25))))
  }

  test("item map: exact, paren-stripped, contains fallback, unknown") {
    import spark.implicits._
    val got = Seq("รายได้รวม", "กำไรสุทธิ", "xyz").toDF("th")
      .select(Pipelines.mapItemTh(col("th"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("total_revenue", "net_profit", "unknown"))
  }
}
