package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact distributed quantiles.
  *
  * Spark's `percentile` aggregate buffers every value into one final
  * reducer (a value-count map, merged then sorted in a single task) — at
  * 100 TB that reducer IS the bottleneck (measured: 15 s for one column
  * at sf0.1 where the whole suite averages 0.3 s/query). The scale path
  * for EXACT quantiles here is two-pass distributed selection
  * ([[exactGroupQuantiles]]; [[exactQuantiles]] is its one-group case):
  * a (group, value-bucket) histogram locates the bucket holding each
  * wanted rank, and only those candidate buckets are ever sorted — no
  * global or whole-group sort, no single-reducer buffer. Interpolation
  * uses the standard (n-1)·p convention in `quantile_cont`'s operation
  * order — bit-identical to `percentile_cont`/`quantile_cont`. */
object Quantiles {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Contract guard for [[madOutliers]]'s deliberate no-materialize
    * choice: true when the frame's plan BOTH contains expensive
    * derivation (a join, aggregate, window, or generate upstream) AND is
    * not already cached/checkpointed — the case where a multi-consumer
    * operator silently re-runs that derivation once per consumer. A bare
    * (possibly filtered/projected) scan re-reads cheaply under column
    * pruning; an InMemoryRelation or LogicalRDD/LocalRelation leaf
    * (persist / Checkpoints.cut / collected literal) re-reads from
    * materialized rows — neither is flagged. */
  private[graft] def expensiveUncachedInput(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, Window => LWindow}
    // a FRESH QueryExecution, not df.queryExecution: the Dataset memoizes
    // its QueryExecution at first use, so a persist() issued after that
    // would not show up as InMemoryRelation in the stale copy — the
    // guard must see the cache state AS OF THE CALL
    val plan = df.sparkSession.sessionState.executePlan(df.queryExecution.logical)
      .optimizedPlan
    val cached = plan.exists {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case _ => false
    }
    !cached && plan.exists {
      case _: Join | _: Aggregate | _: LWindow | _: Generate => true
      case _ => false
    }
  }

  /** Exact interpolated quantiles of `valueCol` at fractions `ps` —
    * the whole-column case of [[exactGroupQuantiles]] (a constant
    * group), so the column is never globally sorted: two column-pruned
    * scans and a candidate-cell sort. Interpolation is quantile_cont's
    * exact operation order (lo·(crn−r) + hi·(r−frn), NOT
    * lo + (hi−lo)·frac — the forms differ by an ulp on some inputs and
    * the oracle compare is bit-exact); empty/all-null input → NaNs. */
  def exactQuantiles(df: DataFrame, valueCol: String,
                     ps: Seq[Double]): Seq[Double] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"fractions must be in [0,1]: $ps")
    val names = ps.indices.map(i => s"__q$i")
    val rows = exactGroupQuantiles(
      df.select(col(valueCol)).withColumn("__g", lit(1)),
      "__g", valueCol, ps, names).collect()
    if (rows.isEmpty) ps.map(_ => Double.NaN)
    else ps.indices.map(i => rows.head.getDouble(i + 1))
  }

  /** Exact interpolated quantiles PER GROUP via two-pass distributed
    * selection — no full sort anywhere, at any group count or skew:
    *
    *  1. every value is stamped with a data-independent MONOTONE bucket
    *     id (the top [[bucketBits]] bits of its IEEE-754 radix-sortable
    *     transform, [[graft.plans.NumericOps.orderedPrefix]] — equal
    *     values always share a bucket, bucket ids ascend with value);
    *  2. pass 1 histograms (group, bucket) counts — a map-side-combinable
    *     hash aggregation whose output is bounded by populated cells, not
    *     rows. Tiny window sums over the histogram turn bucket counts
    *     into global rank offsets and group sizes, locating for each
    *     wanted rank ⌊p(n−1)⌋/⌈p(n−1)⌉ the single bucket that contains it
    *     and its index within that bucket;
    *  3. pass 2 broadcast-joins the wanted-bucket table back and ranks
    *     ONLY candidate-bucket rows (a per-(group,bucket) sort of
    *     ~rows/cells values), picks the wanted indices, and one
    *     aggregation interpolates.
    *
    * Why not a per-group sort window: a window buffers each whole
    * group in ONE task's sort — spillable, but a dominant group
    * serializes the job (the q91 pathology moved from the aggregate into
    * the sort). Here the full data crosses NO exchange and is never
    * sorted; only candidate cells are, and a cell is one value-prefix
    * slice of one group. Degenerate case: a group whose values are all
    * near-equal collapses into one cell and its candidate sort approaches
    * a whole-group sort — never worse, and the picks are trivially the
    * repeated value. The price is a second input pass (histogram, then
    * candidates). Returns one row per group with one column per
    * requested fraction, named by `names`.
    *
    * NULL semantics: values are filtered before bucketing, so a group
    * whose values are ALL null yields NO output row — unlike
    * `percentile_cont`, which would emit the group with NULL quantiles.
    * Callers needing aggregate parity should left-join the group list
    * back. */
  def exactGroupQuantiles(df: DataFrame, groupCol: String,
                          valueCol: String, ps: Seq[Double],
                          names: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.size == names.size,
      s"each fraction needs a name: $ps / $names")
    require(ps.forall(p => p >= 0 && p <= 1), s"fractions must be in [0,1]: $ps")
    import org.apache.spark.sql.expressions.Window
    val vals = df
      .select(col(groupCol), col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull)
      .withColumn("__b",
        graft.plans.NumericExpressions.orderedPrefix(col("__v"), bucketBits))
    // pass 1: (group, bucket) histogram → rank offsets + group sizes
    val hist = vals.groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col(groupCol))
    val off = hist
      .withColumn("__off", coalesce(sum(col("__c")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wTot))
    def rank(p: Double) = lit(p) * (col("__n") - 1).cast("double")
    val rankArr = array_distinct(array(ps.flatMap { p =>
      Seq(floor(rank(p)).cast("long"), ceil(rank(p)).cast("long"))
    }: _*))
    // one row per wanted global rank, located in its containing bucket
    val wanted = off
      .select(col(groupCol), col("__b"), col("__off"), col("__c"),
        col("__n"), explode(rankArr).as("__r"))
      .where(col("__r") >= col("__off") && col("__r") < col("__off") + col("__c"))
      .select(col(groupCol), col("__b"),
        (col("__r") - col("__off")).as("__li"), col("__r"), col("__n"))
    // one row per wanted BUCKET (so the candidate join is 1:1 and local
    // row_numbers stay undistorted), picks exploded after ranking
    val wantedB = wanted.groupBy(col(groupCol), col("__b"))
      .agg(collect_list(struct(col("__li"), col("__r"))).as("__picks"),
        first(col("__n")).as("__n"))
    // pass 2: rank candidate-bucket rows only, keep the wanted indices
    val wLoc = Window.partitionBy(col(groupCol), col("__b")).orderBy(col("__v"))
    val picked = vals
      .join(broadcast(wantedB), Seq(groupCol, "__b"))
      .withColumn("__li", row_number().over(wLoc).cast("long") - 1)
      .select(col(groupCol), col("__v"), col("__li"), col("__n"),
        explode(col("__picks")).as("__pk"))
      .where(col("__pk.__li") === col("__li"))
      .select(col(groupCol), col("__v"), col("__pk.__r").as("__r"), col("__n"))
    val aggs = ps.zip(names).flatMap { case (p, nm) => Seq(
      max(when(col("__r") === floor(rank(p)).cast("long"), col("__v"))).as(s"__lo_$nm"),
      max(when(col("__r") === ceil(rank(p)).cast("long"), col("__v"))).as(s"__hi_$nm"))
    } :+ first(col("__n")).as("__gn")
    val g = picked.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    val outs = ps.zip(names).map { case (p, nm) =>
      val rr = lit(p) * (col("__gn") - 1).cast("double")
      // quantile_cont's operation order (see exactQuantiles)
      when(floor(rr) === ceil(rr), col(s"__lo_$nm"))
        .otherwise(col(s"__lo_$nm") * (ceil(rr) - rr) +
          col(s"__hi_$nm") * (rr - floor(rr)))
        .as(nm)
    }
    g.select(col(groupCol) +: outs: _*)
  }

  /** Bucket granularity for [[exactGroupQuantiles]]'s selection pass:
    * 20 bits ⇒ ≤2^20 cells over the whole double line, 2^8 cells per
    * binary octave (1 sign + 11 exponent + 8 mantissa bits) — money-scale
    * domains populate a few thousand cells,
    * so a candidate cell holds ~rows/cells values while the histogram
    * stays small enough to partial-aggregate map-side. */
  private val bucketBits = 20

  /** [[madOutliers]] stage 1: money → exact half-cent integers. */
  private def madCents(df: DataFrame, groupCol: String,
                       valueCol: String): DataFrame =
    df.select(col(groupCol),
      (round(col(valueCol) * 100).cast("long") * 2).as("c2"))

  /** [[madOutliers]] stage 2: per-group exact median of c2, broadcast-
    * joined back, absolute deviations stamped. */
  private def madDeviations(c2: DataFrame,
                            groupCol: String): DataFrame = {
    val med = exactGroupQuantiles(c2, groupCol, "c2", Seq(0.5), Seq("med2"))
    c2.join(broadcast(med), groupCol)
      .withColumn("dev2", abs(col("c2").cast("double") - col("med2")))
  }

  /** [[madOutliers]] stage 3: per-group exact median of the deviations. */
  private def madScale(dev: DataFrame, groupCol: String): DataFrame =
    exactGroupQuantiles(dev, groupCol, "dev2", Seq(0.5), Seq("mad2"))

  /** Robust per-group outlier screen: median + MAD (median absolute
    * deviation), the estimator that survives the contamination that
    * wrecks mean/stddev screens — one fat-finger 1e9 row shifts a
    * z-score gate for the whole group but moves the median not at all.
    * Flags |x − median| > k·1.4826·MAD (1.4826 ≈ 1/Φ⁻¹(3/4) makes MAD
    * consistent for the normal σ, so `k` reads like a z-cutoff).
    *
    * Exactness: money quantizes to cents ×2 (HALF-cent units), so the
    * first median — interpolated at worst between adjacent integers —
    * is an exact double; deviations in half-cent units are again exact,
    * and the second median's worst case (quarter-cents) still sits on a
    * double-exact dyadic. The gate compares an exact integer-valued
    * deviation against one correctly-rounded product — deterministic on
    * any IEEE engine. Returns per group: n, median, mad_sigma (scaled
    * MAD in money units), n_out_low, n_out_high.
    *
    * Scale shape: both medians ride [[exactGroupQuantiles]] (histogram
    * plus candidate-cell selection — no whole-group sort, no
    * single-reducer value buffer); the group-sized median/MAD tables
    * broadcast back. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    // deliberately NOT materialized (the Layout curveQualityMulti
    // lesson): c2 fans out to three consumers, so the source re-scans
    // once per consumer — but each scan prunes to two columns and both
    // alternatives measured WORSE at sf0.1 (lazy 2.45 s, eager
    // Checkpoints.cut +0.44 s, MEMORY_AND_DISK persist slower still):
    // caching 2-column rows costs more than re-reading them from
    // column-pruned parquet. At cluster scale a caller feeding an
    // expensively-derived frame (not a raw table scan) should persist
    // it BEFORE calling — the operator can't tell WHICH re-scan is cheap
    // from inside, but it CAN tell when the input plan carries an
    // uncached join/agg/window, so that case warns loudly instead of
    // silently triple-running the caller's derivation.
    if (expensiveUncachedInput(df))
      log.warn("madOutliers: input is an UNCACHED derived frame (join/" +
        "aggregate/window upstream) and fans out to three internal " +
        "consumers — each consumer will RE-RUN that derivation. " +
        "persist() or Checkpoints.cut the input before calling; the " +
        "lazy-is-cheaper measurement only covers pruned raw-table scans.")
    val c2 = madCents(df, groupCol, valueCol)
    // `dev` also stays UNmaterialized (r14, measured): it fans out to
    // madScale AND the final aggregation with the med selection in its
    // subtree — the exchange-bearing shape that usually warrants a
    // persist — but BOTH storage levels measured ~1.09× SLOWER in 4-round
    // alternating-JVM A/Bs at sf0.1 (SER and deserialized alike; measured
    // when the medians still ran a per-group sort window). Rig + A/B
    // numbers in OPTIMIZATION_r14.md.
    val dev = madDeviations(c2, groupCol)
    val mad = madScale(dev, groupCol)
    dev.join(broadcast(mad), groupCol)
      // lit(k)·lit(1.4826)·mad2 left-assoc, NOT a pre-folded Scala
      // constant: an oracle spells the identical double literals and
      // multiply order, so the gate value matches to the last bit
      .withColumn("cut", lit(k) * lit(1.4826) * col("mad2"))
      .groupBy(col(groupCol), col("med2"), col("mad2"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("c2").cast("double") - col("med2") < -col("cut"), 1L)
          .otherwise(0L)).as("n_out_low"),
        sum(when(col("c2").cast("double") - col("med2") > col("cut"), 1L)
          .otherwise(0L)).as("n_out_high"))
      .select(col(groupCol), col("n"),
        round(col("med2") / 200.0, 6).as("median"),
        round(col("mad2") * lit(1.4826) / 200.0, 6).as("mad_sigma"),
        col("n_out_low"), col("n_out_high"))
  }
}
