package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout optimization for scan pruning — the write-side half of the
  * 100 TB story. Parquet scans prune row groups (and whole files) from
  * column min/max statistics; those statistics only bite when the layout
  * CLUSTERS each filter column. A single-column sort clusters one
  * dimension perfectly and leaves the others shuffled; Z-ordering
  * (Morton-interleaving the key bits, then laying data out in z-value
  * order) keeps EVERY interleaved dimension locally narrow, so
  * multi-dimensional predicates (`part = P AND supp = S`) prune on all of
  * them at once.
  *
  * The z-value math is integer-only and engine-portable (no library
  * hashing): dims normalize to [0, 2^bits) by exact integer scaling, bits
  * interleave arithmetically. [[zBucketSpans]] measures what pruning will
  * see — the per-bucket min/max span of each dimension, exactly the
  * statistic a parquet reader compares a predicate against — so the
  * layout's benefit is assertable as data rather than claimed.
  *
  * At scale the write is `repartitionByRange(zCol) +
  * sortWithinPartitions(zCol)` ahead of the parquet sink; the
  * measurement here uses fixed-width z-buckets (z >> shift) instead of
  * range partitioning so the bucketing is deterministic and
  * SQL-recomputable (range boundaries come from sampling, which no
  * oracle can reproduce). */
object Layout {

  /** Exact integer normalization of `x` into [0, 2^bits) given the
    * column's min and max (single-row aggregate, broadcast by the
    * caller): u = (x - min) * 2^bits div (max - min + 1). The floor of
    * the double division is exact here: the numerator stays under 2^53
    * and the fractional part of any non-integer quotient is >= 1/range,
    * far above a double ulp at 2^bits — so this equals BIGINT `div` in
    * any engine. */
  def normalize(x: Column, minV: Column, maxV: Column, bits: Int): Column =
    floor(((x - minV) * lit(1L << bits)).cast("double")
      / (maxV - minV + lit(1L)).cast("double")).cast("long")

  /** Morton z-value of two `bits`-wide non-negative int columns (by
    * NAME — the SQL shiftleft/shiftright accept column shift amounts,
    * the Scala DSL ones do not): bit i of x lands at 2i, bit i of y at
    * 2i+1. Pure integer arithmetic, identical in any engine. */
  def zValueExpr(xName: String, yName: String, bits: Int): Column =
    expr(s"""aggregate(
      transform(sequence(0, ${bits - 1}), i ->
        shiftleft(shiftright($xName, i) & CAST(1 AS BIGINT), 2 * i)
        + shiftleft(shiftright($yName, i) & CAST(1 AS BIGINT), 2 * i + 1)),
      CAST(0 AS BIGINT), (acc, v) -> acc + v)""")

  /** Per-bucket dimension spans under a given bucketing column — the
    * min/max width a parquet row-group index would expose. Returns one
    * row per bucket: (bucket, n, span_x, span_y) with span = max-min+1
    * in normalized units. */
  def bucketSpans(df: DataFrame, bucket: Column, ux: Column, uy: Column): DataFrame =
    df.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        (max(ux) - min(ux) + lit(1L)).as("span_x"),
        (max(uy) - min(uy) + lit(1L)).as("span_y"))

  /** Clustering-quality comparison: average normalized per-bucket span of
    * each dimension under (a) z-value bucketing of (xCol, yCol) and (b)
    * the natural layout approximated by equal-width bucketing of
    * `orderCol` (ingest order proxy). 2^bucketBits fixed-width buckets —
    * deterministic, no sampled range boundaries. Lower span fraction =
    * tighter row-group stats = more pruning. Returns two rows:
    * (layout, n_buckets, avg_span_x, avg_span_y) at 6 dp. */
  def zOrderQuality(df: DataFrame, xCol: String, yCol: String,
                    orderCol: String, bits: Int = 16,
                    bucketBits: Int = 10): DataFrame = {
    val bounds = df.agg(
      min(col(xCol)).cast("long").as("min_x"), max(col(xCol)).cast("long").as("max_x"),
      min(col(yCol)).cast("long").as("min_y"), max(col(yCol)).cast("long").as("max_y"),
      min(col(orderCol)).cast("long").as("min_o"), max(col(orderCol)).cast("long").as("max_o"))
    val u = df.select(col(xCol), col(yCol), col(orderCol))
      .crossJoin(broadcast(bounds))
      .withColumn("ux", normalize(col(xCol).cast("long"), col("min_x"), col("max_x"), bits))
      .withColumn("uy", normalize(col(yCol).cast("long"), col("min_y"), col("max_y"), bits))
      .withColumn("z", zValueExpr("ux", "uy", bits))
    val zSpans = bucketSpans(u, shiftright(col("z"), 2 * bits - bucketBits),
      col("ux"), col("uy"))
    val nSpans = bucketSpans(
      u.withColumn("nb", normalize(col(orderCol).cast("long"),
        col("min_o"), col("max_o"), bucketBits)),
      col("nb"), col("ux"), col("uy"))
    // averages from exact integer span sums (one division at the end) so
    // the doubles are reduce-order-free and hash-match any engine
    def summarize(spans: DataFrame, name: String): DataFrame =
      spans.agg(
        count(lit(1)).as("n_buckets"),
        sum(col("span_x")).as("sx"), sum(col("span_y")).as("sy"))
        .select(lit(name).as("layout"), col("n_buckets"),
          round(col("sx").cast("double")
            / (col("n_buckets") * lit(1L << bits)).cast("double"), 6).as("avg_span_x"),
          round(col("sy").cast("double")
            / (col("n_buckets") * lit(1L << bits)).cast("double"), 6).as("avg_span_y"))
    summarize(zSpans, "zorder").unionByName(summarize(nSpans, "natural"))
  }

  /** Hilbert-curve value of two `bits`-wide non-negative int columns —
    * the locality upgrade over Morton z-order: the Hilbert curve never
    * jumps (consecutive d are grid neighbors), so bucket spans shrink
    * further at the same bucket width (z-order's big diagonal seams put
    * distant points in one bucket). The classic xy→d bit loop
    * (quadrant digit + reflect/swap rotation per level) spelled as a
    * fold over levels with a struct accumulator — pure integer
    * arithmetic, recomputable in any engine with a recursive CTE; the
    * reflection uses the full-grid n−1 constant, matching the reference
    * implementation. */
  def hilbertValueExpr(xName: String, yName: String, bits: Int): Column = {
    val n1 = (1L << bits) - 1
    expr(s"""aggregate(
      transform(sequence(${bits - 1}, 0, -1), i -> shiftleft(CAST(1 AS BIGINT), i)),
      named_struct('x', CAST($xName AS BIGINT), 'y', CAST($yName AS BIGINT),
        'd', CAST(0 AS BIGINT)),
      (acc, s) -> named_struct(
        'x', CASE WHEN (acc.y & s) = 0 THEN
               CASE WHEN (acc.x & s) != 0 THEN ${n1}L - acc.y ELSE acc.y END
             ELSE acc.x END,
        'y', CASE WHEN (acc.y & s) = 0 THEN
               CASE WHEN (acc.x & s) != 0 THEN ${n1}L - acc.x ELSE acc.x END
             ELSE acc.y END,
        'd', acc.d + s * s * CAST(
          (3 * (CASE WHEN (acc.x & s) != 0 THEN 1 ELSE 0 END))
          ^ (CASE WHEN (acc.y & s) != 0 THEN 1 ELSE 0 END) AS BIGINT)),
      acc -> acc.d)""")
  }

  /** Three-way clustering-quality comparison — natural ingest order vs
    * z-order vs Hilbert, same fixed-width-bucket measurement as
    * [[zOrderQuality]] (hilbert/z d-domains are both 2^(2·bits), so the
    * identical bucket shift applies), for SEVERAL bucket granularities
    * from ONE pass: the expensive per-row work (bounds scan, Morton
    * interleave, the 16-level Hilbert fold) computes once and every
    * granularity is just another shift of the same curve values — the
    * shape the oracle uses too. Output adds a `bucket_bits` column. The
    * expected ordering on real data: hilbert ≤ zorder « natural on
    * average span. */
  def curveQualityMulti(df: DataFrame, xCol: String, yCol: String,
                        orderCol: String, bits: Int,
                        bucketBitsSeq: Seq[Int]): DataFrame = {
    require(bucketBitsSeq.nonEmpty, "need at least one granularity")
    val bounds = df.agg(
      min(col(xCol)).cast("long").as("min_x"), max(col(xCol)).cast("long").as("max_x"),
      min(col(yCol)).cast("long").as("min_y"), max(col(yCol)).cast("long").as("max_y"),
      min(col(orderCol)).cast("long").as("min_o"), max(col(orderCol)).cast("long").as("max_o"))
    val u = df.select(col(xCol), col(yCol), col(orderCol))
      .crossJoin(broadcast(bounds))
      .withColumn("ux", normalize(col(xCol).cast("long"), col("min_x"), col("max_x"), bits))
      .withColumn("uy", normalize(col(yCol).cast("long"), col("min_y"), col("max_y"), bits))
      .withColumn("z", zValueExpr("ux", "uy", bits))
      .withColumn("hv", hilbertValueExpr("ux", "uy", bits))
    // deliberately NOT materialized: each summary branch prunes to the
    // one curve column it buckets by (natural needs neither), so lazy
    // recompute beats checkpointing the full frame — measured 0.35 s
    // lazy vs 12 s with an eager localCheckpoint here at sf0.1
    def summarize(spans: DataFrame, name: String, bb: Int): DataFrame =
      spans.agg(
        count(lit(1)).as("n_buckets"),
        sum(col("span_x")).as("sx"), sum(col("span_y")).as("sy"))
        .select(lit(name).as("layout"), col("n_buckets"),
          round(col("sx").cast("double")
            / (col("n_buckets") * lit(1L << bits)).cast("double"), 6).as("avg_span_x"),
          round(col("sy").cast("double")
            / (col("n_buckets") * lit(1L << bits)).cast("double"), 6).as("avg_span_y"),
          lit(bb).as("bucket_bits"))
    bucketBitsSeq.map { bb =>
      val shift = 2 * bits - bb
      summarize(bucketSpans(u, shiftright(col("hv"), shift),
          col("ux"), col("uy")), "hilbert", bb)
        .unionByName(summarize(
          bucketSpans(u, shiftright(col("z"), shift), col("ux"), col("uy")),
          "zorder", bb))
        .unionByName(summarize(bucketSpans(
          u.withColumn("nb", normalize(col(orderCol).cast("long"),
            col("min_o"), col("max_o"), bb)),
          col("nb"), col("ux"), col("uy")), "natural", bb))
    }.reduce(_ unionByName _)
  }
}
