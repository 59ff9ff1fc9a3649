package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Row-level filters for hostile tabular sources (SURVEY.md §2.2):
  * header-echo rows, printed total rows, blank rows, and the order-dependent
  * trailing-run trim. All built from Column predicates so Catalyst can fuse
  * them into the scan. */
object RowFilters {

  /** P4: a row is "header-like" when >= `minHits` of its values equal one of
    * the expected header labels (case/space-insensitively)
    * (pdf_ocr_inv_to_json.py:192-194, ImportInvoiceReport.php:297-317). */
  def isHeaderRow(cols: Seq[Column], labels: Seq[String], minHits: Int = 3): Column = {
    val canon = labels.map(l => l.toLowerCase.replaceAll("\\s+", ""))
    val vals = array(cols.map(c => lower(regexp_replace(trim(c.cast("string")), "\\s+", ""))): _*)
    size(array_intersect(vals, array(canon.map(lit): _*))) >= minHits
  }

  private val totalPat =
    "(?i)(grand\\s*total|sub\\s*total|\\btotal\\b|รวมทั้งสิ้น|ยอดรวม|รวม)"
  private val totalRegex = java.util.regex.Pattern.compile(totalPat)

  /** F2: printed total/summary rows — `total|grand total|sub total` plus Thai
    * `รวมทั้งสิ้น/ยอดรวม/รวม` anywhere in the row
    * (pdf_ocr_inv_to_json.py:178-190, read_po_csv_to_json.py:242-263). */
  def isTotalRow(cols: Seq[Column]): Column =
    cols.map(c => coalesce(c.cast("string"), lit("")).rlike(totalPat))
      .reduce(_ || _)

  /** F2 over an array-of-cells column (the many-files grid shape). */
  def isTotalRowArr(cells: Column): Column =
    exists(cells, c => coalesce(c.cast("string"), lit("")).rlike(totalPat))

  /** F3: all values null/blank (pdf_ocr_inv_to_json.py:181-182). */
  def isBlankRow(cols: Seq[Column]): Column =
    cols.map(c => trim(coalesce(c.cast("string"), lit(""))) === "").reduce(_ && _)

  /** F3 over an array-of-cells column. */
  def isBlankRowArr(cells: Column): Column =
    forall(cells, c => trim(coalesce(c.cast("string"), lit(""))) === "")

  /** [[isTotalRowArr]] over one row's cells inside a task — the per-file
    * kernels' spelling. Same pattern, same `rlike` (find-anywhere) match. */
  def isTotalCells(cells: Array[String]): Boolean =
    cells.exists(c => c != null && totalRegex.matcher(c).find())

  /** [[isBlankRowArr]] inside a task. Spark's `trim` strips only `' '`, so
    * a tab or NBSP keeps a cell non-blank here too. */
  def isBlankCells(cells: Array[String]): Boolean =
    cells.forall(c => c == null || c.forall(_ == ' '))

  /** F7: noise-label rows (script_read_dbd_balance.py:42,226-229): label in a
    * fixed set or starting with `หน่วย|หมายเหตุ`. */
  def isNoiseLabel(label: Column): Column = {
    val t = trim(label.cast("string"))
    t.isin("หน่วย : บาท", "%เปลี่ยนแปลง", "จำนวนเงิน") || t.rlike("^(หน่วย|หมายเหตุ)")
  }

  /** F4: trailing-run trim — drop only the *suffix* of rows (per `fileCol`
    * group, ordered by `idxCol`) matching `junk`; identical junk rows in the
    * middle are kept (read_po_csv_to_json.py:266-279).
    *
    * Scale note: one window per file group; files are independent so this
    * parallelizes across the file dimension. The max-over-group is computed
    * with an aggregating window (no second shuffle — same partitioning). */
  def trimTrailing(df: DataFrame, fileCol: Column, idxCol: Column, junk: Column): DataFrame = {
    val w = Window.partitionBy(fileCol)
    val lastGood = max(when(!junk, idxCol)).over(w)
    df.withColumn("__last_good", lastGood)
      .where(col("__last_good").isNotNull && idxCol <= col("__last_good"))
      .drop("__last_good")
  }
}
