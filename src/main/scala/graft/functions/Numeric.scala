package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Engine-agnostic money math for oracle-exact results.
  *
  * Two hazards make naive double/decimal money columns diverge between
  * engines (and even between readers of the same engine's output):
  *
  *  1. `CAST(double AS DECIMAL)` is rounding-policy-dependent near `.xx5`
  *     boundaries (shortest-decimal HALF_UP vs binary-expansion rounding).
  *  2. DECIMAL *output* columns render differently across readers —
  *     `Decimal('764340.00')` vs float64 `764340.0` — so a bit-exact value
  *     can still hash differently downstream.
  *
  * The fix for both: quantize in the double domain (`round(x*10^s)/10^s`,
  * all IEEE-deterministic: multiply, round-half-away-from-zero — ties at
  * integer+0.5 are exactly representable below 2^52 and Spark's HALF_UP and
  * C `round` agree there — then divide), sum the scaled values as exact
  * integers (decimal accumulator, no overflow), and emit the final result
  * as DOUBLE via integer→double conversion (correctly rounded IEEE op in
  * every engine) followed by one deterministic division.
  *
  * Mirrors the reference's 2dp money storage discipline
  * (gec_inv_2025 migration decimal(15,2); round(x,2) at
  * pdf_ocr_sale_invoice_to_json.py:230-234, PublicApiController.php:658-660).
  */
object Numeric {

  /** Cent-quantize a double column in the double domain (stays DOUBLE).
    * The result is within 1 ulp of a clean s-digit value. */
  def quantizeD(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 7, s"quantize scale $scale outside double-exact range")
    val pow = math.pow(10, scale)
    round(c * pow) / pow
  }

  /** Double column → DECIMAL(precision, scale) through the double-domain
    * quantize, so any cast policy rounds identically. For *storage* shapes
    * (decimal(15,2)-family tables); query outputs should prefer
    * [[sumExactD]] / [[quantizeD]] which stay DOUBLE. */
  def quantize(c: Column, scale: Int, precision: Int = 38): Column =
    quantizeD(c, scale).cast(DecimalType(precision, scale))

  /** 2dp money decimal for storage-shaped columns. */
  def money2(c: Column): Column = quantize(c, 2, 18)

  /** Exact, order-independent SUM of a double money column, emitted as
    * DOUBLE: per-row `round(x*10^s)` → long → exact decimal accumulator →
    * integer→double (correctly rounded) → one division. Engine-agnostic at
    * any group magnitude where the scaled sum fits the decimal accumulator
    * (always) and the final conversion is a single IEEE rounding (bigint
    * sums up to 2^63). */
  def sumExactD(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 7, s"sum scale $scale outside double-exact range")
    val pow = math.pow(10, scale)
    sum(round(c * pow).cast("long").cast(DecimalType(28, 0)))
      .cast("double") / pow
  }
}
