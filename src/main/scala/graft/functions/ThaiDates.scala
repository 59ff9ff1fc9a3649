package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Thai/Buddhist-calendar-aware date parsing, re-expressed as pure
  * `Column => Column` builders so every transform stays inside Catalyst
  * codegen (no UDFs).
  *
  * Reference behavior (see SURVEY.md §2.7):
  *  - Buddhist→Gregorian year shift: `credit-prepare-api/pdf_ocr_inv_to_json.py:66-79`,
  *    `smf-api/app/Http/Controllers/BolApiController.php:438-451` (threshold 2400).
  *  - Multi-format parse cascade: `credit-prepare-api/pdf_ocr_inv_to_json.py:81-111`,
  *    `smf-api/app/Console/Commands/ImportInvoiceReport.php:334-369`.
  *  - Two-digit-year policies: `pdf_ocr_inv_to_json.py:103-110` (pivot 50) vs
  *    `ImportOldInvoices.php:232-239` (always 20yy).
  *  - 12/24h repair (`14:54:26 PM`): `pdf_ocr_inv_to_json.py:60-64,113-131`.
  *  - YYYY-DD-MM swap fix: `ImportInvoiceReport.php:372-473`.
  *  - Excel serial date: `read_rem_detail_to_json.py:53-57`.
  *  - Thai month names: `pdf_ocr_sale_invoice_to_json.py:74-78`,
  *    `dbd_web_scraping.py:244-263`.
  */
object ThaiDates {

  /** Buddhist-Era year → Gregorian: years >= threshold are shifted by -543.
    * pdf_ocr_inv_to_json.py:66-79 uses 2400; supplier_processor.py:55-89 uses
    * 2500 — pass the threshold to match the pipeline being reproduced. */
  def beYear(year: Column, threshold: Int = 2400): Column =
    when(year >= threshold, year - 543).otherwise(year)

  /** Two-digit-year policy A (pdf_ocr_inv_to_json.py:103-110): yy<50 → 20yy
    * else 19yy. */
  def expandYy(yy: Column): Column =
    when(yy < 50, yy + 2000).otherwise(yy + 1900)

  /** Two-digit-year policy B (ImportOldInvoices.php:232-239): always 20yy. */
  def expandYyAlways20(yy: Column): Column = yy + 2000

  /** Normalize a raw date token: trim, collapse whitespace, unify separators
    * (`.`, `/` → `-`). */
  private def norm(c: Column): Column =
    regexp_replace(regexp_replace(trim(c), "\\s+", " "), "[./]", "-")

  /** Parse `d-m-y` or `y-m-d` (after separator unification) with B.E. repair
    * on whichever side holds the year, two-digit-year expansion, and a
    * month>12/day<=12 swap fix (ImportInvoiceReport.php:372-473).
    * Returns a DateType column, null when unparseable — parser totality
    * mirrors the reference's null-on-failure contract.
    *
    * Runs as one static kernel call (graft.plans.DateKernels): the
    * equivalent Column cascade inlined itself ~6× per use and blew the
    * 64KB generated-method limit on multi-date projections. */
  def parseFlexibleDate(raw: Column): Column =
    graft.plans.DateExpressions.parseFlexDate(raw.cast("string"))

  /** Strip a bogus AM/PM suffix when the hour is already 24h (`14:54:26 PM`),
    * then parse; 12h forms with a valid hour go through `h:mm:ss a`.
    * pdf_ocr_inv_to_json.py:60-64,113-131. */
  def parseFlexibleTimestamp(raw: Column): Column = {
    val c = regexp_replace(trim(raw), "\\s+", " ")
    val datePart = regexp_extract(c, "^(\\S+)", 1)
    val timePart = regexp_extract(c, "^\\S+ (.*)$", 1)
    // try_cast: a date-only input leaves timePart empty, the extract
    // yields "" and the contract is null under ANSI mode too
    val hour  = regexp_extract(timePart, "^(\\d{1,2}):", 1).try_cast("int")
    val fixedTime = when(hour >= 13, regexp_replace(timePart, "\\s*(AM|PM|am|pm)$", ""))
      .otherwise(timePart)
    val t24 = coalesce(
      try_to_timestamp(fixedTime, lit("H:mm:ss")),
      try_to_timestamp(fixedTime, lit("h:mm:ss a")),
      try_to_timestamp(fixedTime, lit("H:mm")))
    val d = parseFlexibleDate(datePart)
    when(d.isNotNull && t24.isNotNull,
      to_timestamp(concat(date_format(d, "yyyy-MM-dd"), lit(" "),
        date_format(t24, "HH:mm:ss")), "yyyy-MM-dd HH:mm:ss"))
      .otherwise(when(d.isNotNull && (timePart.isNull || timePart === ""),
        d.cast("timestamp")).otherwise(lit(null).cast("timestamp")))
  }

  /** C9 strict `DD/MM/YYYY` → `YYYY-MM-DD` STRING gate
    * (pdf_ocr_rm_report_to_json.py:23-29) — deliberately narrower than
    * [[parseFlexibleDate]]: exactly two-digit day/month and four-digit year
    * pass; no B.E. shift, no calendar validation, plain string rebuild.
    * The reference's `re.match` anchors only the start, so trailing text
    * after the year rides into the rebuilt string — preserved faithfully
    * (`12/34/5678x` → `5678x-34-12`). Inputs whose slash-split is not
    * exactly 3 parts return null (the reference raises there — totality is
    * our deviation, SURVEY §7.4 parser-contract note). */
  def strictDmySlash(raw: Column): Column = {
    val s = trim(raw.cast("string"))
    val parts = split(s, "/")
    when(s.rlike("^\\d{2}/\\d{2}/\\d{4}") && size(parts) === 3,
      concat_ws("-", element_at(parts, 3), element_at(parts, 2),
        element_at(parts, 1)))
      .otherwise(lit(null).cast("string"))
  }

  /** US-order `M/d/yyyy` date — the PO report's D4/F4 cells are explicitly
    * m/d/yyyy (read_po_csv_to_json.py:168-187 extract_mmddyyyy). */
  def parseUsDate(raw: Column): Column =
    try_to_timestamp(trim(raw), lit("M/d/yyyy")).cast("date")

  /** US-order datetime with the C3 12/24h repair (`14:44:07 PM` → 24h). */
  def parseUsTimestamp(raw: Column): Column = {
    val c = regexp_replace(trim(raw), "\\s+", " ")
    val hour = regexp_extract(c, " (\\d{1,2}):", 1).try_cast("int") // ANSI-total
    val fixed = when(hour >= 13, regexp_replace(c, "\\s*(AM|PM|am|pm)$", "")).otherwise(c)
    coalesce(
      try_to_timestamp(fixed, lit("M/d/yyyy H:mm:ss")),
      try_to_timestamp(fixed, lit("M/d/yyyy h:mm:ss a")),
      try_to_timestamp(fixed, lit("M/d/yyyy H:mm")))
  }

  /** Excel serial day-number → date (epoch 1899-12-30).
    * Correct variant: read_rem_detail_to_json.py:53-57. The reference also
    * ships a buggy variant that subtracts 543 from the *result* year
    * (supplier_processor.py:91-97) — not reproduced; flagged per SURVEY §7.4. */
  def excelSerialToDate(serial: Column): Column =
    // try_cast: a non-serial cell ("abc44927", "") must read null under
    // ANSI mode too, matching the non-ANSI cast the function was born with
    date_add(lit(java.sql.Date.valueOf("1899-12-30")), serial.try_cast("int"))

  /** Thai month names (full + common OCR abbreviations) → month number.
    * pdf_ocr_sale_invoice_to_json.py:74-78, dbd_web_scraping.py:244-263. */
  val thaiMonths: Map[String, Int] = Map(
    "มกราคม" -> 1, "กุมภาพันธ์" -> 2, "มีนาคม" -> 3, "เมษายน" -> 4,
    "พฤษภาคม" -> 5, "มิถุนายน" -> 6, "กรกฎาคม" -> 7, "สิงหาคม" -> 8,
    "กันยายน" -> 9, "ตุลาคม" -> 10, "พฤศจิกายน" -> 11, "ธันวาคม" -> 12,
    "ม.ค." -> 1, "ก.พ." -> 2, "มี.ค." -> 3, "เม.ย." -> 4, "พ.ค." -> 5,
    "มิ.ย." -> 6, "ก.ค." -> 7, "ส.ค." -> 8, "ก.ย." -> 9, "ต.ค." -> 10,
    "พ.ย." -> 11, "ธ.ค." -> 12)

  /** Thai month token → month number column (chained `when`, codegen'd). */
  def thaiMonthNum(c: Column): Column =
    thaiMonths.foldLeft(lit(null).cast("int")) { case (acc, (name, n)) =>
      when(trim(c) === name, lit(n)).otherwise(acc)
    }

  /** Thai card date `15 มี.ค. 2543` → DateType (dbd_web_scraping.py:249-263). */
  def parseThaiCardDate(raw: Column): Column = {
    val c = regexp_replace(trim(raw), "\\s+", " ")
    val day = regexp_extract(c, "^(\\d{1,2}) ", 1).cast("int")
    val mon = thaiMonthNum(regexp_extract(c, "^\\d{1,2} (\\S+) ", 1))
    val yr  = beYear(regexp_extract(c, " (\\d{4})$", 1).cast("int"))
    tryMakeDate(yr, mon, day)
  }

  /** Null-on-invalid date construction. `make_date` returns null for
    * invalid components when ANSI mode is off (graft sessions run non-ANSI —
    * ETL parsers are total, SparkEntry.prep). */
  private def tryMakeDate(y: Column, m: Column, d: Column): Column =
    make_date(y, m, d)
}
