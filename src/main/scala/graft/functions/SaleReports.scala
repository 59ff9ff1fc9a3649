package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** C33: sale-report header metadata parse — topic, round-date period,
  * vendor — over de-tabled OCR page text (SURVEY.md §2.7).
  *
  * Reference behavior:
  *  - invoice variant: `pdf_ocr_sale_invoice_to_json.py:126-162`
  *    (`parse_non_table_metadata` — topic `รายงานการขายสินค้า - แยกตาม
  *    Invoice`, period `รอบวันที่ d - d <thai month> yyyy`, vendor
  *    `# Vendor nnn / NAME (nnn)`).
  *  - supplier variant: `pdf_ocr_sale_supplier_to_json.py:197-245`
  *    (topic alternation ผู้ขาย/ผู้จำหน่าย/Supplier/ซัพพลายเออร์/Invoice,
  *    case-insensitive Vendor).
  *  - round-date → ISO: `convert_date_round_dd_mm_yyyy`
  *    (`pdf_ocr_sale_invoice_to_json.py:80-94`): split on dots, B.E. year
  *    strictly > 2400 shifted by −543, plain string rebuild (no calendar
  *    validation), unparseable input passed through unchanged.
  *
  * All extractors return empty string (not null) on no-match, mirroring the
  * reference's `""` defaults; everything is regexp/`when` Column logic, so
  * it stays inside whole-stage codegen. */
object SaleReports {

  private val topicRe =
    "(รายงานการขายสินค้า\\s*-\\s*แยกตาม\\s*(?:ผู้ขาย|ผู้จำหน่าย|Supplier|ซัพพลายเออร์|Invoice))"

  private val periodRe =
    "รอบวันที่\\s*(\\d{1,2})\\s*-\\s*(\\d{1,2})\\s*([ก-๙]+)\\s*(\\d{4})"

  // group 2 runs to the first '(' (or end), then trims — as the reference's
  // `([^\(]+)\s*\(?(\d+)?\)?` with .strip()
  private val vendorRe = "#?\\s*[Vv]endor\\s*(\\d+)\\s*/\\s*([^(]+)"

  /** Report topic line; "" when absent. */
  def topic(text: Column): Column = regexp_extract(text, topicRe, 1)

  private def periodPart(text: Column, grp: Int): Column =
    regexp_extract(text, periodRe, grp)

  /** `dd.MM.yyyy` round-period endpoint (start = group 1, end = group 2) in
    * the reference's dot format; unknown Thai month → "00" as the reference's
    * THAI_MONTHS.get(..., "00"). "" when the period line is absent. */
  private def roundDate(text: Column, dayGrp: Int): Column = {
    val day = periodPart(text, dayGrp)
    val mon = ThaiDates.thaiMonthNum(periodPart(text, 3))
    val mm  = coalesce(lpad(mon.cast("string"), 2, "0"), lit("00"))
    when(day === "", lit(""))
      .otherwise(concat(lpad(day, 2, "0"), lit("."), mm, lit("."),
        periodPart(text, 4)))
  }

  def startRoundDate(text: Column): Column = roundDate(text, 1)
  def endRoundDate(text: Column): Column   = roundDate(text, 2)

  /** Vendor number; "" when absent. */
  def supplierNum(text: Column): Column = regexp_extract(text, vendorRe, 1)

  /** Vendor name (up to the parenthesized repeat of the number); "". */
  def supplierName(text: Column): Column =
    trim(regexp_extract(text, vendorRe, 2))

  /** `convert_date_round_dd_mm_yyyy`: `d.m.y` string → `yyyy-MM-dd` string
    * with B.E. shift for years strictly > 2400. Pure string rebuild, no
    * calendar validation (the reference uses f-strings, so `31.02.2568`
    * becomes `2025-02-31`); empty/`nan` → ""; anything else unchanged. */
  def dotDateToIso(c: Column): Column = {
    val s  = trim(c.cast("string"))
    val re = "^(\\d+)\\s*\\.\\s*(\\d+)\\s*\\.\\s*(\\d+)$"
    val d  = regexp_extract(s, re, 1)
    // try_cast: the regex pins digits but not INT RANGE - a
    // "9999999999.12.2567" overflows the int under ANSI; contract is null
    val y0 = regexp_extract(s, re, 3).try_cast("int")
    val y  = when(y0 > 2400, y0 - 543).otherwise(y0)
    when(s.isNull || s === "" || lower(s) === "nan", lit(""))
      .when(d === "", s)
      .when(y.isNull || d.try_cast("int").isNull ||
          regexp_extract(s, re, 2).try_cast("int").isNull, s)
      .otherwise(format_string("%04d-%02d-%02d", y,
        regexp_extract(s, re, 2).try_cast("int"), d.try_cast("int")))
  }
}
