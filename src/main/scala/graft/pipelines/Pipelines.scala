package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.{Money, Numeric, OcrRepair, TextClean, ThaiDates}
import graft.operators.{Dedup, Merge, Reshape, RowFilters, Validation}
import graft.plans.CsvOps
import graft.sources.Ingest

/** End-to-end re-expressions of the reference's pipelines (SURVEY.md §7.1.5).
  * Each wires ingest → cleanse → flow operators; fixtures under
  * src/test/resources/fixtures mirror the data shapes in FIXTURES.md. */
object Pipelines {

  // ------------------------------------------------------------- C42 map

  /** Item TH→EN dictionary + fuzzy fallback (C42):
    * exact match → paren-stripped exact → substring-contains rules →
    * `unknown` sentinel (script_read_dbd_income.py:109-172). */
  val itemThEn: Map[String, String] = Map(
    "รายได้รวม" -> "total_revenue",
    "ต้นทุนขาย" -> "cost_of_goods_sold",
    "กำไร(ขาดทุน)สุทธิ" -> "net_profit",
    "สินทรัพย์รวม" -> "total_assets",
    "หนี้สินรวม" -> "total_liabilities")

  def mapItemTh(c: Column): Column = {
    val cleaned = TextClean.normWs(TextClean.stripInvisible(c))
    val noParen = regexp_replace(cleaned, "\\(.*?\\)", "")
    val exact = itemThEn.foldLeft(lit(null).cast("string")) { case (acc, (th, en)) =>
      when(cleaned === th, lit(en)).otherwise(acc)
    }
    val parenStripped = itemThEn.foldLeft(lit(null).cast("string")) { case (acc, (th, en)) =>
      when(noParen === regexp_replace(lit(th), "\\(.*?\\)", ""), lit(en)).otherwise(acc)
    }
    val contains =
      when(cleaned.contains("กำไร"), lit("net_profit"))
        .when(cleaned.contains("รายได้"), lit("total_revenue"))
        .when(cleaned.contains("ต้นทุน"), lit("cost_of_goods_sold"))
    coalesce(exact, parenStripped, contains, lit("unknown"))
  }

  // ------------------------------------------- DbdFinancialPipeline (§7.2)

  /** Minimum end-to-end slice: long-form (tax_id, year, item_th, amount)
    * records → tax-id normalize (C37) → item map (C42) → amount parse with
    * the income null-policy (C14) → first-match pivot to wide (A3) → keyed
    * upsert into the existing table (K6, key = tax_id, fiscal_year). */
  val financialItems: Seq[String] =
    Seq("total_revenue", "cost_of_goods_sold", "net_profit")

  def dbdFinancial(spark: SparkSession, jsonPath: String,
                   existing: DataFrame): DataFrame = {
    val raw = Ingest.jsonPointer(spark, jsonPath, "/records",
      Seq("tax_id", "fiscal_year", "item_th", "amount"))
    val tidy = raw.select(
      TextClean.normalizeTaxId(col("tax_id")).as("tax_id"),
      col("fiscal_year").cast("int").as("fiscal_year"),
      mapItemTh(col("item_th")).as("item_en"),
      Money.dashToZeroNullable(col("amount")).as("amount"))
    val wide = Reshape.pivotFirst(tidy, Seq("tax_id", "fiscal_year"),
      "item_en", "amount", financialItems)
    Merge.upsert(existing, wide, Seq("tax_id", "fiscal_year"))
  }

  // --------------------------------------------------- InvoiceReportPipeline

  /** S10 → rename-map (P2) → scalar normalize (C1/C2/C4/C12/C23/C30) →
    * header-row filter (P4) → validation split (F5/F6). Returns
    * (valid, rejects) — the bulk equivalent of per-row insert taxonomy. */
  def invoiceReport(spark: SparkSession, jsonPath: String): (DataFrame, DataFrame) = {
    val headerLabels = Seq("Invoice No.", "Supplier Code", "Invoice Date",
      "Invoice Received Date", "Related Document", "Amount", "Status")
    val raw = Ingest.jsonPointer(spark, jsonPath, "/records", headerLabels)
    val renamed = raw.select(
      col("`Invoice No.`").as("invoice_no_raw"),
      col("`Supplier Code`").as("supplier_code"),
      col("`Invoice Date`").as("invoice_date_raw"),
      col("`Invoice Received Date`").as("received_raw"),
      col("`Related Document`").as("related_document"),
      col("`Amount`").as("amount_raw"),
      col("`Status`").as("status"))
    val noHeader = renamed.where(!RowFilters.isHeaderRow(
      Seq(col("invoice_no_raw"), col("supplier_code"), col("status")),
      headerLabels, minHits = 2))
    val cleaned = noHeader.select(
      OcrRepair.repairTailLookalikes(col("invoice_no_raw")).as("invoice_no"),
      col("supplier_code"),
      ThaiDates.parseFlexibleDate(col("invoice_date_raw")).as("invoice_date"),
      ThaiDates.parseFlexibleTimestamp(col("received_raw")).as("invoice_received"),
      TextClean.poTail(col("related_document")).as("po_no"),
      Money.parseAmountRobust(col("amount_raw")).as("amount"),
      col("status"))
    Validation.split(cleaned, Seq(
      Validation.matches("invoice_no", "^[A-Za-z]+\\d+$"),
      Validation.matches("supplier_code", "^\\d+$"),
      Validation.notNull("invoice_date")))
  }

  // ----------------------------------------------------- RemittancePipeline

  /** Parse stage shared by `remittance` (deduped records) and
    * `remittanceReconcile` (pre-dedup sums): returns (transactions with
    * page/line order, per-page grand totals). */
  def remittanceParsed(spark: SparkSession, jsonPath: String): (DataFrame, DataFrame) = {
    val pages = spark.read.option("multiLine", "true").json(jsonPath)
      .select(explode(col("pages")).as("p"))
      .select(col("p.page_number").as("page"), col("p.text").as("text"))
    remittancePagesParsed(pages)
  }

  /** Same parse cascade over ANY `(page, text)` source — the OCR-JSON
    * fixture reader above and the S7 PDF text layer
    * ([[graft.sources.PdfReader.pagesTextTagged]]) both feed this, so the
    * acquisition format never leaks into the parse semantics. */
  def remittancePagesParsed(pages: DataFrame): (DataFrame, DataFrame) = {
    val lines = pages.select(col("page"),
        posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
      .withColumn("line", TextClean.normWs(col("line")))

    val wPage = Window.partitionBy(col("page"))
    val payDate = first(when(col("line").rlike("^วันที่จ่ายเงิน:"),
      regexp_extract(col("line"), "(\\d{2}/\\d{2}/\\d{4})", 1)), ignoreNulls = true)
    val vendor = first(when(col("line").rlike("^รหัสผู้ขาย:"),
      regexp_extract(col("line"), "(\\d+)", 1)), ignoreNulls = true)
    val withHdr = lines
      .withColumn("pay_date_raw", payDate.over(wPage))
      .withColumn("vendor_code", vendor.over(wPage))

    val strict = "^(\\d{2}/\\d{2}/\\d{4}) (\\S+) (IV|CN) (\\S+) (\\S+) (\\(?[-0-9,.]+\\)?)$"
    val noBranch = "^(\\d{2}/\\d{2}/\\d{4}) (IV|CN) (\\S+) (\\S+) (\\(?[-0-9,.]+\\)?)$"
    val parsed = withHdr.withColumn("m", when(col("line").rlike(strict), struct(
        regexp_extract(col("line"), strict, 1).as("d"),
        regexp_extract(col("line"), strict, 2).as("br"),
        regexp_extract(col("line"), strict, 3).as("ty"),
        regexp_extract(col("line"), strict, 4).as("doc"),
        regexp_extract(col("line"), strict, 5).as("ref"),
        regexp_extract(col("line"), strict, 6).as("amt")))
      .when(col("line").rlike(noBranch), struct(
        regexp_extract(col("line"), noBranch, 1).as("d"),
        lit("0000").as("br"),
        regexp_extract(col("line"), noBranch, 2).as("ty"),
        regexp_extract(col("line"), noBranch, 3).as("doc"),
        regexp_extract(col("line"), noBranch, 4).as("ref"),
        regexp_extract(col("line"), noBranch, 5).as("amt"))))

    val tx0 = parsed.where(col("m").isNotNull).select(
      ThaiDates.parseFlexibleDate(col("m.d")).as("วันที่"),
      ThaiDates.parseFlexibleDate(col("pay_date_raw")).as("วันที่จ่ายเงิน"),
      col("vendor_code").as("รหัสผู้ขาย"),
      OcrRepair.normalizeBranchCode(col("m.br")).as("รหัสสาขา"),
      col("m.ty").as("ประเภทเอกสาร"),
      OcrRepair.normalizeDocRef(col("m.doc")).as("เลขที่เอกสาร"),
      OcrRepair.normalizeDocRef(col("m.ref")).as("เลขที่เอกสารอ้างอิง"),
      Money.parseAmountRobust(col("m.amt")).as("จำนวน"),
      col("page").as("หน้า"), col("line_no"))

    val totals = lines.where(col("line").rlike("^จำนวนเงินรวมทั้งสิ้น"))
      .select(col("page"),
        Money.parseAmountRobust(regexp_extract(col("line"),
          "([0-9,.]+)$", 1)).as("grand_total"))
    (tx0, totals)
  }

  /** Full remittance pipeline: OCR page text → line stream → per-page
    * header capture (J4) → transaction regex cascade (C36: strict-with-
    * branch → no-branch) → branch/doc-ref normalization (C25/C26) → robust
    * amounts (C12) → B.E. dates (C1) → cross-page dedup keeping the first
    * occurrence in (page, line) order (U2). Returns (transactions,
    * grandTotals) — totals kept for reconciliation (A2), never summed into
    * the data. */
  def remittance(spark: SparkSession, jsonPath: String): (DataFrame, DataFrame) = {
    val (tx0, totals) = remittanceParsed(spark, jsonPath)
    (remittanceDedup(tx0), totals)
  }

  /** U2 first-per-key dedup over parsed remittance rows (cross-page
    * duplicate lines keep their first occurrence in page/line order). */
  def remittanceDedup(tx0: DataFrame): DataFrame =
    Dedup.firstPerKey(
        tx0.withColumn("__ord", struct(col("หน้า"), col("line_no"))),
        Seq("วันที่", "รหัสสาขา", "ประเภทเอกสาร", "เลขที่เอกสาร", "เลขที่เอกสารอ้างอิง", "จำนวน"),
        "__ord")
      .drop("__ord", "line_no")

  /** A2 reconciliation: per-page transaction sums (pre-dedup — the printed
    * totals cover every printed line) against the captured grand totals.
    * The reference keeps these for a manual check
    * (pdf_ocr_rm_to_json.py:286-289,311-315); here it's an assertable
    * dataset: diff == 0 means OCR parsing lost nothing. */
  def remittanceReconcile(spark: SparkSession, jsonPath: String): DataFrame = {
    val (tx, totals) = remittanceParsed(spark, jsonPath)
    val sums = tx.groupBy(col("หน้า").as("page"))
      .agg(Numeric.sumExactD(col("จำนวน"), 2).as("tx_sum"))
    val gt = Numeric.quantizeD(col("grand_total"), 2)
    totals.join(sums, Seq("page"), "left")
      .select(col("page"),
        col("tx_sum"),
        gt.as("grand_total"),
        (col("tx_sum") - gt).as("diff"))
      .orderBy("page")
  }

  /** The named PO columns, each the n-th occurrence of its header name in
    * the file's own header row (the report repeats the amount header). */
  private val poColumns: Seq[(String, Int)] = Seq(
    "PO No." -> 1, "Supplier Code" -> 1, "Supplier Name" -> 1,
    "Order Date" -> 1, "Send Date" -> 1, "Delivery Date" -> 1,
    "Amount (PO Include VAT)" -> 1, "Amount (PO Include VAT)" -> 2)

  /** The per-file PO kernel, run inside the task that decoded the file:
    * CSV-split every line, take the metadata cells (buyer B2, report dates
    * D4/F4) and the header row (line 4), resolve each named column to its
    * position in THIS file's header (so files whose column order drifts
    * still land correctly), drop header echoes (P4), then trim the trailing
    * run of total/blank rows (F4) — junk rows mid-file are kept. Returns,
    * per kept data row, its line index and its raw cells: the
    * [[poColumns]] in order (null when the header lacks the name or the
    * row is short), then buyer cell, report-from and report-to. */
  private[graft] def poFileRows(lines: Array[String]): Array[(Int, Array[String])] = {
    val grid = lines.map(CsvOps.splitFields(_, ','))
    def at(cells: Array[String], pos: Int): String =
      if (pos >= 0 && pos < cells.length) cells(pos) else null
    def cell(row: Int, pos: Int): String =
      if (row < grid.length) at(grid(row), pos) else null
    val meta = Array(cell(1, 1), cell(3, 3), cell(3, 5))
    val hdr = if (grid.length > 4) grid(4) else Array.empty[String]
    val positions = poColumns.map { case (name, n) =>
      hdr.indices.filter(hdr(_) == name).lift(n - 1).getOrElse(-1)
    }.toArray
    def named(cells: Array[String]): Array[String] = positions.map(at(cells, _))
    // a data row repeating >= 2 of the first three header names is an echo
    def isEcho(cells: Array[String]): Boolean =
      (0 until 3).count(k => at(cells, positions(k)) == poColumns(k)._1) >= 2
    val data = (5 until grid.length).filterNot(i => isEcho(grid(i)))
    val lastGood = data.lastIndexWhere(i =>
      !RowFilters.isTotalCells(grid(i)) && !RowFilters.isBlankCells(grid(i)))
    data.take(lastGood + 1).map(i => (i, named(grid(i)) ++ meta)).toArray
  }

  private val poRawSchema = StructType(
    StructField("source_file", StringType, nullable = false) +:
      (poColumns.indices.map(k => s"c$k") ++ Seq("buyer_cell", "from_raw", "to_raw"))
        .map(StructField(_, StringType)))

  /** The PO pipeline over MANY report files at once — the scale variant of
    * [[poCsv]] (which mirrors the reference's one-file CLI). One parallel
    * pass per file: [[Ingest.linesPerFile]] detects each file's encoding
    * and decodes it in its own task, and [[poFileRows]] does all per-file
    * work (CSV split, metadata cells, header positions, echo drop,
    * trailing trim) in that same task, stamping the file's metadata on
    * each of its rows (J4). Only the Column cleansers run after it: no
    * aggregation, join, window or sort over the files, so the whole read is
    * one stage and rows come out in each file's line order, as the
    * reference's one-file converter emits them. A zero-byte file, or one
    * without a header on line 5, fails the read naming the file. */
  def poCsvMany(spark: SparkSession, glob: String): DataFrame = {
    val raw = Ingest.linesPerFile(spark, glob).flatMap { r =>
      val file = r.getString(0)
      val lines = r.getSeq[String](2).toArray
      if (lines.length < 5 || RowFilters.isBlankCells(CsvOps.splitFields(lines(4), ',')))
        throw new java.io.IOException(s"$file: no PO header on line 5")
      poFileRows(lines).iterator
        .map { case (_, cells) => Row.fromSeq(file +: cells.toSeq) }
    }(Encoders.row(poRawSchema))
    def c(k: Int): Column = col(s"c$k")
    val buyer = col("buyer_cell")
    raw.select(
      col("source_file"),
      c(0).as("po_no"),
      c(1).as("supplier_code"),
      TextClean.normWs(c(2)).as("supplier_name"),
      ThaiDates.parseFlexibleDate(c(3)).as("order_date"),
      ThaiDates.parseUsTimestamp(c(4)).as("send_ts"),
      ThaiDates.parseFlexibleDate(c(5)).as("delivery_date"),
      Money.parseAmountRobust(c(6)).as("amount_incl_vat"),
      Money.parseAmountRobust(c(7)).as("amount_incl_vat_2"),
      nullif(regexp_extract(buyer, "\\((\\d{10,20})\\)", 1), lit("")).as("buyer_code"),
      trim(regexp_replace(buyer, "^.*?\\(\\d{10,20}\\)", "")).as("buyer_name"),
      ThaiDates.parseUsDate(col("from_raw")).as("report_from"),
      ThaiDates.parseUsDate(col("to_raw")).as("report_to"))
  }

  /** SURVEY §7.4.3 named variants: the reference ships two Thai-key rename
    * maps that SWAP `วันที่` / `วันที่เอกสาร` between importers
    * (ImportRmReport.php:68-79 vs ImportRemAdvice.php:67-78). Both are
    * preserved verbatim — callers pick the variant matching their source;
    * neither is "the right one". */
  val rmReportKeyMap: Map[String, String] = Map(
    "วันที่" -> "doc_date", "วันที่เอกสาร" -> "transfer_date",
    "วันที่จ่ายเงิน" -> "pay_date", "รหัสผู้ขาย" -> "vendor_code",
    "รหัสสาขา" -> "branch", "ประเภทเอกสาร" -> "doc_type",
    "เลขที่เอกสาร" -> "doc_no", "เลขที่เอกสารอ้างอิง" -> "ref_doc_no",
    "จำนวน" -> "amount", "หน้า" -> "page")
  val remAdviceKeyMap: Map[String, String] =
    rmReportKeyMap ++ Map("วันที่" -> "transfer_date", "วันที่เอกสาร" -> "doc_date")

  /** Apply one of the key-map variants to a Thai-keyed remittance frame. */
  def renameRemittanceKeys(df: DataFrame, keyMap: Map[String, String]): DataFrame =
    keyMap.foldLeft(df) { case (acc, (th, en)) =>
      if (acc.columns.contains(th)) acc.withColumnRenamed(th, en) else acc
    }

  // ------------------------------------------- Remittance-advice (rm_report)

  /** C34: line tokenizer — re-insert spaces the PDF text layer drops around
    * dates, times and amounts, then collapse runs
    * (pdf_ocr_rm_report_to_json.py:34-55). */
  def tokenizeRmLine(c: Column): Column = {
    val d1 = regexp_replace(c, "(\\d{2}/\\d{2}/\\d{4})", " $1 ")
    val t1 = regexp_replace(d1, "(\\d{1,2}:\\d{2}:\\d{2})", " $1 ")
    val a1 = regexp_replace(t1, "([0-9][0-9,]*\\.\\d{2})(?![0-9])", " $1 ")
    val h1 = regexp_replace(a1, "^(\\d{10})(?=\\S)", "$1 ")
    TextClean.normWs(h1)
  }

  /** C35: the full remittance-advice record regex — 10-digit code,
    * name+branch (branch = token after the LAST space), two dates, a time
    * with the C3 12/24h repair, amount, status enum, sequence, code, pay
    * date (pdf_ocr_rm_report_to_json.py:80-131). Non-matching lines fall
    * into the `_unmatched` side output (reject channel, like C36). */
  def remittanceAdvice(lines: DataFrame, lineCol: String): (DataFrame, DataFrame) = {
    val tok = tokenizeRmLine(col(lineCol))
    val pat = "^(\\d{10}) (.+?) (\\d{2}/\\d{2}/\\d{4}) (\\d{2}/\\d{2}/\\d{4}) " +
      "(\\d{1,2}:\\d{2}:\\d{2}(?: ?(?:AM|PM))?) ([0-9,.]+) " +
      "(PAID|PENDING|REJECTED) (\\d+) (\\S+) (\\d{2}/\\d{2}/\\d{4})$"
    val tagged = lines.withColumn("__tok", tok)
    val matched = tagged.where(col("__tok").rlike(pat))
    val unmatched = tagged.where(!col("__tok").rlike(pat)).drop("__tok")

    val nameBranch = regexp_extract(col("__tok"), pat, 2)
    val timeRaw = regexp_extract(col("__tok"), pat, 5)
    val hour = regexp_extract(timeRaw, "^(\\d{1,2}):", 1).cast("int")
    val timeFixed = when(hour >= 13,
      regexp_replace(timeRaw, "\\s*(AM|PM)$", "")).otherwise(timeRaw)
    val t24 = coalesce(
      try_to_timestamp(timeFixed, lit("H:mm:ss")),
      try_to_timestamp(timeFixed, lit("h:mm:ss a")))

    val records = matched.select(
      regexp_extract(col("__tok"), pat, 1).as("payee_code"),
      regexp_extract(nameBranch, "^(.*) (\\S+)$", 1).as("payee_name"),
      regexp_extract(nameBranch, "^(.*) (\\S+)$", 2).as("branch"),
      ThaiDates.parseFlexibleDate(regexp_extract(col("__tok"), pat, 3)).as("doc_date"),
      ThaiDates.parseFlexibleDate(regexp_extract(col("__tok"), pat, 4)).as("transfer_date"),
      date_format(t24, "HH:mm:ss").as("transfer_time"),
      Money.parseAmountRobust(regexp_extract(col("__tok"), pat, 6)).as("amount"),
      regexp_extract(col("__tok"), pat, 7).as("status"),
      regexp_extract(col("__tok"), pat, 8).cast("int").as("seq"),
      regexp_extract(col("__tok"), pat, 9).as("ref_code"),
      ThaiDates.parseFlexibleDate(regexp_extract(col("__tok"), pat, 10)).as("pay_date"))
    (records, unmatched)
  }

  // ----------------------------------------------------------- PoCsvPipeline

  /** Positional-grid PO report (read_po_csv_to_json.py): buyer cell B3
    * (C32), report dates D4/F4 (m/d/yyyy), header at row index 4 with
    * duplicate names (C40), embedded header re-detection (P4), trailing
    * total/blank trim (F4), per-column normalize, file metadata stamped on
    * every row (J4). */
  def poCsv(spark: SparkSession, csvPath: String): DataFrame =
    // the single-file CLI shape is the many-files kernel at glob size 1:
    // same per-task encoding detect and per-file kernel, zero per-file
    // driver jobs
    poCsvMany(spark, csvPath).drop("source_file")
}
