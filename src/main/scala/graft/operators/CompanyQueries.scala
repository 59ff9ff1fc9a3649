package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** The reference's HTTP query surface as DataFrame functions
  * (PublicApiController.php — SURVEY.md §3.3).
  *
  * At scale the financial tables are partitioned by `fiscal_year`
  * (replacing the reference's table-per-year scheme, SURVEY §4), so the
  * range predicate prunes partitions. The tax_id filter prunes nothing:
  * the tables are written unclustered, so every row group's min/max
  * spans most tax ids and a lookup scans whole year partitions. */
object CompanyQueries {

  /** P3 `onlyCols` projection: exactly the listed columns, cast double,
    * missing → null (PublicApiController.php:870-882). */
  def onlyCols(df: DataFrame, cols: Seq[String], keep: Seq[String] = Nil): DataFrame = {
    val have = df.columns.toSet
    df.select(keep.map(col) ++ cols.map(c =>
      (if (have(c)) col(c) else lit(null)).cast("double").as(c)): _*)
  }

  /** F9 point lookup: one company-year row
    * (PublicApiController.php:799-801). */
  def companyFinancial(table: DataFrame, taxId: String, year: Int): DataFrame =
    table.where(col("tax_id") === taxId && col("fiscal_year") === year).limit(1)

  /** F10/W7: all years with optional range, ordered by fiscal_year
    * (PublicApiController.php:884-985). */
  def companyFinancialAllYears(table: DataFrame, taxId: String,
                               from: Option[Int] = None,
                               to: Option[Int] = None): DataFrame = {
    val base = table.where(col("tax_id") === taxId)
    val lo = from.map(y => col("fiscal_year") >= y).getOrElse(lit(true))
    val hi = to.map(y => col("fiscal_year") <= y).getOrElse(lit(true))
    base.where(lo && hi).orderBy("fiscal_year")
  }

  /** The fixed projection column lists of the 3-table financial response
    * (PublicApiController.php:919-958). */
  val balanceCols: Seq[String] = Seq(
    "accounts_receivable_net", "inventories", "current_assets",
    "property_plant_equipment", "non_current_assets", "total_assets",
    "current_liabilities", "non_current_liabilities", "total_liabilities",
    "shareholders_equity", "total_liabilities_and_shareholder_equity")
  val incomeCols: Seq[String] = Seq(
    "net_revenue", "total_revenue", "cost_of_goods_sold", "gross_profit",
    "operating_expenses", "total_expenses", "interest_expenses",
    "profit_before_tax", "income_tax_expenses", "net_profit")
  val ratioCols: Seq[String] = Seq(
    "return_on_assets_percent", "return_on_equity_percent",
    "gross_profit_margin_percent", "operating_profit_margin_percent",
    "net_profit_margin_percent", "current_ratio_times",
    "accounts_receivable_turnover_times", "inventory_turnover_times",
    "accounts_payable_turnover_times", "total_asset_turnover_times",
    "operating_expense_ratio_percent",
    "total_assets_to_shareholders_equity_ratio_times",
    "total_liabilities_to_total_assets_ratio_times",
    "debt_to_equity_ratio_times", "debt_to_working_capital_ratio_times")

  /** One table's contribution to the response: `{ "<year>": {col: val} }`
    * as a JSON string — years ascending, the fixed column list projected
    * with missing columns null (and nulls KEPT in the JSON, as the
    * reference's response does). Empty result → `{}`. */
  private def yearKeyedJson(table: DataFrame, taxId: String, cols: Seq[String],
                            from: Option[Int], to: Option[Int]): DataFrame = {
    val have = table.columns.toSet
    val payload = struct(cols.map(c =>
      (if (have(c)) col(c) else lit(null)).cast("double").as(c)): _*)
    companyFinancialAllYears(table, taxId, from, to)
      .select(struct(col("fiscal_year").cast("string").as("k"),
        payload.as("v")).as("e"))
      .agg(to_json(map_from_entries(array_sort(collect_list(col("e")))),
        Map("ignoreNullFields" -> "false")).as("j"))
  }

  /** §3.3 `getCompanyFinancialAllYears` response shape: one row per call —
    * (tax_id, balance, income, ratios), each field the per-year pivoted
    * JSON object over that table's fixed column list
    * (PublicApiController.php:977-985). Three single-row aggregates, one
    * pass per table with the tax_id/fiscal_year predicates pushed down. */
  def companyFinancialResponse(balance: DataFrame, income: DataFrame,
                               ratios: DataFrame, taxId: String,
                               from: Option[Int] = None,
                               to: Option[Int] = None): DataFrame = {
    val b = yearKeyedJson(balance, taxId, balanceCols, from, to)
      .withColumnRenamed("j", "balance")
    val i = yearKeyedJson(income, taxId, incomeCols, from, to)
      .withColumnRenamed("j", "income")
    val r = yearKeyedJson(ratios, taxId, ratioCols, from, to)
      .withColumnRenamed("j", "ratios")
    b.crossJoin(i).crossJoin(r).select(lit(taxId).as("tax_id"),
      col("balance"), col("income"), col("ratios"))
  }

  /** W4/W5: directors listing — NULLS LAST on director_no, then id, paged,
    * with the full pre-page count as a `total` column (the reference's
    * `paginate(50)` returns `total`, PublicApiController.php:757-776).
    * Stable pagination via row_number; the count rides the SAME
    * single-partition window pass (a paged listing is one company's
    * filtered directors — inherently small; the big-data side is the
    * upstream filter, not the page). */
  def directorsPage(directors: DataFrame, page: Int, pageSize: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("director_no").asc_nulls_last, col("id"))
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    directors.withColumn("__rn", row_number().over(w))
      .withColumn("total", count(lit(1)).over(whole))
      .where(col("__rn") > (page - 1) * pageSize && col("__rn") <= page * pageSize)
      .drop("__rn")
  }
}
