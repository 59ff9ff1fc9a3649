package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType

/** Scalar numeric kernels, called from plans through [[StaticKernel]]. */
object NumericOps {

  /** Top `bits` of the IEEE-754 radix-sortable transform of a double:
    * the sign bit flipped for non-negatives, ALL bits flipped for
    * negatives, then an unsigned right shift. The full 64-bit transform
    * orders doubles totally (−∞ … −0.0, +0.0 … +∞, NaN last — Spark's
    * own NaN-greatest sort order); a prefix of it is therefore MONOTONE
    * NON-STRICTLY in the double: equal doubles always share a bucket and
    * bucket ids ascend with value. That is exactly the property the
    * distributed-selection quantile pass in [[graft.operators.Quantiles]]
    * needs from a data-independent bucketing function. Caveat: −0.0 and
    * +0.0 compare equal in Spark but occupy ADJACENT cells here — rank
    * picks among zeros may return either sign of zero (numerically equal;
    * only the printable sign differs). */
  def orderedPrefix(v: Double, bits: Int): Long = {
    val raw = java.lang.Double.doubleToRawLongBits(v)
    val ordered = if (raw >= 0L) raw ^ java.lang.Long.MIN_VALUE else ~raw
    ordered >>> (64 - bits)
  }
}

object NumericExpressions {

  /** Monotone `bits`-bit bucket id of a double (see
    * [[NumericOps.orderedPrefix]]); null in, null out. */
  def orderedPrefix(v: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 63, s"prefix bits $bits outside [1,63]")
    StaticKernel(NumericOps, "orderedPrefix", LongType)(v, bits)
  }
}
