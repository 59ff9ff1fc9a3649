// Executable MIGRATION.md: one smoke call per table row, against the
// repo's own test fixtures, through the packaged public jar — so the
// adopter-facing doc cannot rot. Each row prints one `[migrate]` line;
// any row failing its assertion fails the run (all rows still execute,
// so one rotten row doesn't hide the rest). Driven by
// dev/migration_smoke.sh; fixture dir = src/test/resources/fixtures.
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object MigrationSmoke {
  private var failures = List.empty[String]

  private def row(name: String)(body: => String): Unit =
    try println(s"[migrate] $name ${body}")
    catch {
      case t: Throwable =>
        failures ::= s"$name: ${t.toString.take(200)}"
        println(s"[migrate] $name FAILED: ${t.toString.take(200)}")
    }

  private def req(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: MigrationSmoke <fixturesDir> [outDir]")
    val fix = args(0)
    val out = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_migrate").toString
    val spark = SparkSession.builder().appName("migration-smoke").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.pipelines.Pipelines
    import graft.operators.{CompanyQueries, DbdDocParser, Merge, Validation}
    import graft.sources.{ExcelReader, HttpTransport, Ingest, OcrConnector, PdfReader, Sinks}
    import graft.functions.{Money, SaleReports, TextClean, ThaiDates}

    // ---- importers (php artisan ...) ----
    row("import:invoice-report") {
      val (clean, rejects) = Pipelines.invoiceReport(spark, s"$fix/invoice_records.json")
      val (c, r) = (clean.count(), rejects.count())
      req(c > 0, s"no clean rows (rejects=$r)"); s"clean=$c rejects=$r"
    }
    row("import:old-invoices(jsonPointer)") {
      val n = Ingest.jsonPointer(spark, s"$fix/invoice_records.json", "/records").count()
      req(n > 0, "pointer read empty"); s"records=$n"
    }
    row("import:po-report") {
      // 3 data rows survive the fixture's header/total/trailing trims
      // (grid=13 lines -> 8 past the header block -> 4 junk -> 3 clean;
      // pinned identical under ansi on AND off since the round-11
      // try_element_at fix)
      val n = Pipelines.poCsv(spark, s"$fix/po_report.csv").count()
      req(n == 3, s"expected 3 clean PO rows, got $n"); s"rows=$n"
    }
    row("import:old-po(poCsvMany)") {
      val n = Pipelines.poCsvMany(spark, s"$fix/po_many/*.csv").count()
      req(n > 0, "glob read empty"); s"rows=$n"
    }
    row("import:rem-advice(remittanceParsed)") {
      val (txm, unm) = Pipelines.remittanceParsed(spark, s"$fix/rm_pages.json")
      val (m, u) = (txm.count(), unm.count())
      req(m > 0, "no matched remittance lines"); s"matched=$m unmatched=$u"
    }
    row("import:rm-report(remittance+reconcile)") {
      val (tx, totals) = Pipelines.remittance(spark, s"$fix/rm_pages.json")
      val rec = Pipelines.remittanceReconcile(spark, s"$fix/rm_pages.json").count()
      req(tx.count() > 0 && totals.count() > 0 && rec > 0, "remittance legs empty")
      s"tx=${tx.count()} totals=${totals.count()} reconcile_rows=$rec"
    }
    row("import:dbd-financial") {
      val existing = Seq(("0105537086874", 2021, Some(1.0), Some(2.0), Some(3.0)))
        .toDF("tax_id", "fiscal_year", "total_revenue", "cost_of_goods_sold", "net_profit")
      val n = Pipelines.dbdFinancial(spark, s"$fix/dbd_financial.json", existing).count()
      req(n > 0, "dbd financial upsert empty"); s"rows=$n"
    }
    row("import:sale-reports(header parse)") {
      val parsed = Seq(
        "รายงานการขายสินค้า - แยกตาม Invoice\nรอบวันที่ 1 - 31 ธันวาคม 2567\n# Vendor 2040334 / ACME TRADING (2040334)")
        .toDF("text")
        .select(SaleReports.topic(col("text")).as("topic"),
          SaleReports.supplierNum(col("text")).as("supplier_num"),
          SaleReports.dotDateToIso(SaleReports.startRoundDate(col("text"))).as("start_iso"))
        .head()
      req(parsed.getString(1) == "2040334", s"vendor parse: $parsed")
      req(!parsed.isNullAt(0) && !parsed.isNullAt(2), s"header parse: $parsed")
      s"topic='${parsed.getString(0)}' vendor=${parsed.getString(1)} start=${parsed.getString(2)}"
    }
    row("sync:upsert+replace-all") {
      val existing = Seq((1, "a"), (2, "b")).toDF("id", "v")
      val up = Merge.upsert(existing, Seq((2, "B"), (3, "c")).toDF("id", "v"), Seq("id"))
      req(up.count() == 3, "upsert row count")
      val (synced, deleted) = Merge.replaceAllSync(existing, Seq((1, "a2")).toDF("id", "v"), Seq("id"))
      req(synced.count() == 1 && deleted.count() == 1, "replaceAllSync counts")
      s"upsert=3 synced=1 deleted=1"
    }
    row("validation:split+reject-channel") {
      val df = Seq(("1", "x"), (null, "y")).toDF("k", "v")
      val (ok, rej) = Validation.split(df, Seq(Validation.notNull("k")))
      req(ok.count() == 1 && rej.count() == 1, "validation split counts")
      s"valid=1 rejects=1"
    }
    row("sink:staged-partitioned") {
      val df = Seq((1, "p1"), (2, "p1"), (3, "p2")).toDF("id", "p")
      Sinks.writePartitionedStaged(df, s"$out/staged", "p")
      val back = spark.read.parquet(s"$out/staged")
      req(back.count() == 3, "staged read-back")
      val pruned = back.where(col("p") === "p2").count()
      req(pruned == 1, "partition-pruned read"); s"rows=3 pruned(p2)=1"
    }

    // ---- company query endpoints ----
    row("api:company-financial-lookup") {
      val table = Seq(("0105537086874", 2021, 10.0), ("0105537086874", 2022, 20.0),
        ("9999999999999", 2021, 5.0)).toDF("tax_id", "fiscal_year", "total_revenue")
      val n = CompanyQueries.companyFinancial(table, "0105537086874", 2021).count()
      req(n == 1, s"point lookup rows=$n"); s"rows=$n"
    }
    row("api:directors-page") {
      val dirs = Seq((1L, Some(2)), (2L, Some(1)), (3L, None: Option[Int]))
        .toDF("id", "director_no")
      val page = CompanyQueries.directorsPage(dirs, 1, 2).collect()
      req(page.length == 2 && page.forall(_.getAs[Long]("total") == 3L),
        "pagination page/total")
      req(page.head.getAs[Int]("director_no") == 1, "NULLS-LAST ordering")
      s"page1=2rows total=3 nullsLast=ok"
    }
    row("api:http-post-sink") {
      val received = new java.util.concurrent.atomic.AtomicInteger(0)
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/ingest", (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        received.addAndGet(body.count(_ == '{'))
        ex.sendResponseHeaders(200, 2); ex.getResponseBody.write("ok".getBytes)
        ex.close()
      })
      server.start()
      try {
        val url = s"http://127.0.0.1:${server.getAddress.getPort}/ingest"
        val (ok, failed) = Sinks.postJsonBatches(
          Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), url,
          HttpTransport.postJson(retries = 0), batchSize = 2)
        req(ok == 3 && failed == 0, s"ok=$ok failed=$failed")
        req(received.get() == 3, s"server saw ${received.get()} objects")
        s"sent=3 acked=3 failed=0"
      } finally server.stop(0)
    }

    // ---- extraction scripts ----
    row("ocr:local(pluggable legs)") {
      val dir = java.nio.file.Files.createTempDirectory("graft_mig_ocr").toString
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/doc.pdf"), "pdf-a".getBytes)
      val raster = (_: Array[Byte], _: Int) => Seq(Array[Byte](1), Array[Byte](2))
      val ocr = (img: Array[Byte], pass: Int) => s"p${img(0)} pass$pass"
      val n = OcrConnector.localOcrPdfs(spark, dir, 150, 2, raster, ocr).count()
      req(n > 0, "local OCR empty"); s"pages=$n"
    }
    row("ocr:remote(connector+multipart)") {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val page = mapper.createObjectNode()
      page.put("success", true)
      page.putObject("message").putArray("choices").addObject()
        .putObject("message").put("content",
          """{"html":"<table><tr><td>42</td></tr></table>"}""")
      val resp = mapper.createObjectNode(); resp.putArray("results").add(page)
      val respBody = mapper.writeValueAsString(resp).getBytes("UTF-8")
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/ocr", (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.getRequestBody.readAllBytes()
        ex.sendResponseHeaders(200, respBody.length.toLong)
        ex.getResponseBody.write(respBody); ex.close()
      })
      server.start()
      try {
        val dir = java.nio.file.Files.createTempDirectory("graft_mig_rocr").toString
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/scan1.pdf"),
          "%PDF-1.4 FAKE".getBytes("UTF-8"))
        val got = OcrConnector.ocrFiles(spark, dir,
          s"http://127.0.0.1:${server.getAddress.getPort}/ocr",
          "test-key", "pdf_table", HttpTransport.postMultipart(retries = 0)).collect()
        req(got.length == 1 && got.head.getString(1).contains("<table>"),
          "response walk failed")
        s"files=1 html=ok"
      } finally server.stop(0)
    }
    row("pdf:text+grid") {
      val t = PdfReader.pagesText(spark, s"$fix/invoice_table.pdf").count()
      val g = PdfReader.pagesGrid(spark, s"$fix/invoice_table.pdf").count()
      req(t > 0 && g == 6, s"text=$t grid=$g (grid must be 6)"); s"text_pages=$t grid_rows=$g"
    }
    row("csv:encoding-fallback") {
      val n = Ingest.csvLinesPerFileEncoding(spark, s"$fix/po_report.csv").count()
      req(n > 0, "csv empty"); s"lines=$n"
    }
    row("excel:multisheet(xlsx+biff8)") {
      val x = ExcelReader.multiSheetUnion(spark, s"$fix/supplier_sheets.xlsx").count()
      val b = ExcelReader.multiSheetUnion(spark, s"$fix/supplier_sheets.xls").count()
      req(x > 0 && b > 0, s"xlsx=$x xls=$b"); s"xlsx_rows=$x xls_rows=$b"
    }
    row("dbd:doc-parser+title-cards") {
      val lines = spark.read.option("multiLine", "true")
        .json(s"$fix/dbd_docs.json")
        .select(explode(col("docs")).as("doc"))
        .select(col("doc.doc_id").as("doc_id"), explode(col("doc.pages")).as("p"))
        .select(col("doc_id"), col("p.page_number").cast("int").as("page"),
          posexplode(split(col("p.text"), "\n")).as(Seq("line_no", "text")))
        .as[DbdDocParser.DocLine]
      val docs = DbdDocParser.parse(lines).toDF()
      val cards = spark.read.option("multiLine", "true")
        .json(s"$fix/title_cards.json")
        .select(explode(col("cards")).as("c")).select(col("c.*"))
      val n = DbdDocParser.mergeTitleCard(docs, cards).count()
      req(n > 0, "doc parser empty"); s"docs=$n"
    }

    // ---- the cleansing DSL (one witness value per family) ----
    row("dsl:dates+money+textclean") {
      val r = Seq(("01/02/2567", "1,234.56", "105537086874", "123.0"))
        .toDF("d", "m", "t", "z")
        .select(ThaiDates.parseFlexibleDate(col("d")).cast("string").as("d"),
          Money.parseAmountRobust(col("m")).as("m"),
          TextClean.normalizeTaxId(col("t")).as("t"),
          TextClean.stripDotZero(col("z")).as("z"))
        .head()
      req(r.getString(0) == "2024-02-01", s"B.E. date: ${r.getString(0)}")
      req(math.abs(r.getDouble(1) - 1234.56) < 1e-9, s"money: ${r.getDouble(1)}")
      req(r.getString(2) == "0105537086874", s"tax id pad: ${r.getString(2)}")
      req(r.getString(3) == "123", s"dot-zero strip: ${r.getString(3)}")
      s"be_date=ok money=ok taxid=ok dotzero=ok"
    }

    if (failures.nonEmpty) {
      System.err.println(s"[migrate] ${failures.size} row(s) FAILED:")
      failures.reverse.foreach(f => System.err.println(s"  $f"))
      spark.stop(); sys.exit(1)
    }
    println("[migrate] PASS (all rows)")
    spark.stop()
  }
}
