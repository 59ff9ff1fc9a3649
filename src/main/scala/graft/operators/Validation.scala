package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F6 row-level validation with a reject channel (SURVEY.md §2.2).
  *
  * The reference validates per-row and classifies failures
  * (ImportInvoiceReport.php:95-104,169-190; error taxonomy :199-253). The
  * set-based design: evaluate every rule as a predicate column, keep valid
  * rows on the fast path, route failures (with the list of failed rules) to
  * a side output. Counters come from `observe()` — no second pass, no
  * driver-side loop; the metrics ride along with the action that writes the
  * valid rows. */
object Validation {

  /** A named validation rule: `pred` must be true for a row to be valid. */
  final case class Rule(name: String, pred: Column)

  def notNull(c: String): Rule = Rule(s"${c}_not_null", col(c).isNotNull)
  def numeric(c: String): Rule =
    Rule(s"${c}_numeric", col(c).isNull || col(c).cast("double").isNotNull)
  def dateYmd(c: String): Rule =
    Rule(s"${c}_date", col(c).isNull || try_to_timestamp(col(c), lit("yyyy-MM-dd")).isNotNull)
  def matches(c: String, pattern: String): Rule =
    Rule(s"${c}_format", col(c).isNull || col(c).rlike(pattern))

  /** Split `df` into (valid, rejects). `rejects` carries a `_failed_rules`
    * array naming every violated rule — the bulk equivalent of the
    * reference's per-row error taxonomy. Both sides read one tagged frame,
    * and the split persists nothing: the one consumer of both sides,
    * [[graft.sources.Sinks.writeWithRejects]], caches that frame for its
    * two writes (so the input lineage runs once) and ends the cache before
    * it returns. Any other reader of both sides runs the lineage once per
    * side, or persists `df` itself. */
  def split(df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    val failed = array_compact(array(rules.map(r =>
      when(!coalesce(r.pred, lit(false)), lit(r.name))): _*))
    val tagged = df.withColumn("_failed_rules", failed)
    val valid   = tagged.where(size(col("_failed_rules")) === 0).drop("_failed_rules")
    val rejects = tagged.where(size(col("_failed_rules")) > 0)
    (valid, rejects)
  }

  /** Data-quality census: per-column row/null/distinct counts in ONE
    * aggregation (exact distincts expand the scan n_cols ways — the
    * standard profiling trade; swap in approx_count_distinct when a
    * 100 TB census only needs estimates). The single result row unpivots
    * into one row per column, all-BIGINT so the profile is engine- and
    * type-agnostic. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"__nn_$c"),
      countDistinct(col(c)).as(s"__nd_$c")))
    val full = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val entries = cols.map(c => struct(
      lit(c).as("col_name"),
      col("__n").as("n_rows"),
      (col("__n") - col(s"__nn_$c")).as("n_null"),
      col(s"__nd_$c").as("n_distinct")))
    full.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** Per-group Pearson correlations over integer-quantized columns —
    * the numeric-relationship slice of a data profile (which fields move
    * together decides feature pruning and suspicious-column audits).
    * Caller supplies each column pre-quantized to exact integers (cents,
    * basis points …); r = (n·Σxy − Σx·Σy) / √((n·Σx² − Σx²)(n·Σy² − Σy²))
    * where every Σ accumulates EXACTLY: per-row products stay in long
    * range (caller keeps |x·y| < 2^63 per row), sums go through
    * DECIMAL(38,0) so no count of rows overflows them — the one
    * conversion to double happens on already-exact integers, then the
    * final expression evaluates once. Returns (group, pair, r) at 6 dp.
    *
    * Scale shape: ONE map-side-combined aggregation computes all pairs'
    * moments simultaneously — profile cost is one narrow scan regardless
    * of how many pairs are requested. */
  def pearsonCorr(df: DataFrame, groupCol: String,
                  cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    def s(c: Column) = sum(c.cast(dec)).cast("double")
    val pairs = for {
      (i, j) <- cols.indices.combinations(2).map(c => (c(0), c(1))).toSeq
    } yield (cols(i), cols(j))
    val moments =
      cols.flatMap { case (n, c) =>
        Seq(s(c).as(s"__s_$n"), s(c * c).as(s"__ss_$n")) } ++
      pairs.map { case ((na, ca), (nb, cb)) =>
        s(ca * cb).as(s"__sp_${na}_$nb") }
    val agg = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).cast("double").as("__n"), moments: _*)
    val outs = pairs.map { case ((na, _), (nb, _)) =>
      val n = col("__n")
      val num = n * col(s"__sp_${na}_$nb") - col(s"__s_$na") * col(s"__s_$nb")
      val va = n * col(s"__ss_$na") - col(s"__s_$na") * col(s"__s_$na")
      val vb = n * col(s"__ss_$nb") - col(s"__s_$nb") * col(s"__s_$nb")
      struct(lit(s"${na}__$nb").as("pair"),
        round(num / sqrt(va * vb), 6).as("r"))
    }
    agg.select(col("grp"), explode(array(outs: _*)).as("p"))
      .select(col("grp"), col("p.pair").as("pair"), col("p.r").as("r"))
  }

  /** Population-stability-index drift between a baseline and a new
    * batch of a numeric column — the standard "did the input
    * distribution move?" gate in front of a scoring pipeline
    * (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 broken). Both sides
    * bin into the same FIXED equal-width grid (lo/hi/bins are pipeline
    * constants — data-dependent edges would make two runs
    * incomparable, the q186 histogram argument), shares are
    * Laplace-smoothed ((cnt+½)/(n+bins/2)) so empty bins stay finite,
    * and each bin contributes (p−q)·ln(p/q).
    *
    * Determinism: shares and their ratio are correctly-rounded doubles
    * from exact integers; ln rides the shared-ln contract; each bin
    * term quantizes to integer micro-nats so the TOTAL is an exact
    * integer sum — no fold-order sensitivity. Returns one row per
    * occupied-or-not bin (bin, n_old, n_new, p_old, p_new, term_micro)
    * — sum(term_micro)/10⁶ is the PSI; keeping the per-bin rows makes
    * the drift LOCATABLE, not just detectable. Scale shape: two
    * bins-bounded aggregations plus two scalar counts broadcast back;
    * rows never cross an exchange wider than (bin, count). */
  def psiDrift(oldDf: DataFrame, newDf: DataFrame,
               oldVal: Column, newVal: Column,
               lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, s"bad PSI domain [$lo,$hi)/$bins")
    val w = (hi - lo) / bins
    def binned(df: DataFrame, v: Column, nm: String): DataFrame = df
      .where(v.isNotNull)
      .groupBy(least(greatest(floor((v - lit(lo)) / lit(w)), lit(0.0)),
        lit((bins - 1).toDouble)).cast("int").as("bin"))
      .agg(count(lit(1)).as(nm))
    val grid = oldDf.sparkSession.range(bins.toLong)
      .select(col("id").cast("int").as("bin"))
    val joined = grid
      .join(binned(oldDf, oldVal, "n_old"), Seq("bin"), "left")
      .join(binned(newDf, newVal, "n_new"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val totals = joined.agg(sum("n_old").as("__to"), sum("n_new").as("__tn"))
    val p = (col("n_old").cast("double") + lit(0.5)) /
      (col("__to").cast("double") + lit(bins * 0.5))
    val q = (col("n_new").cast("double") + lit(0.5)) /
      (col("__tn").cast("double") + lit(bins * 0.5))
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_old"), col("n_new"),
        round(p, 6).as("p_old"), round(q, 6).as("p_new"),
        round((p - q) * log(p / q) * 1e6, 0).cast("long").as("term_micro"))
  }

  /** PSI of every group's bin distribution against a BASELINE
    * distribution pooled over `baseCols` (a subset of `grpCols` — e.g.
    * group = (window, type), baseline = (type)): the continuous-drift
    * form of [[psiDrift]], consuming pre-binned counts (one row per
    * group × occupied bin — exactly what the streaming fixed-bin
    * histogram state table emits), so the monitor is a report over
    * state, never a second pass over events. Same fixed-grid +
    * Laplace-smoothing + integer micro-nat-total contract as
    * [[psiDrift]]. Returns one row per group with its total count and
    * PSI. Scale shape: everything downstream of the state table is
    * bins-bounded per group; the baseline is a baseCols×bins aggregate
    * broadcast back. */
  def psiByGroup(counts: DataFrame, grpCols: Seq[String],
                 baseCols: Seq[String], binCol: String, cntCol: String,
                 bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive: $bins")
    require(baseCols.toSet.subsetOf(grpCols.toSet),
      s"baseCols $baseCols must be a subset of grpCols $grpCols")
    // every branch that re-reads `counts` re-aliases its columns: an
    // alias mints a fresh attribute id, so the three-way self-join
    // resolves even when `counts` is a VIEW (e.g. a streaming memory
    // sink), where Spark's automatic self-join dedup gives up
    def rebased(cols: Seq[String], extra: Seq[Column]): DataFrame =
      counts.select(cols.map(n => col(n).as(n)) ++ extra: _*)
    val grid = rebased(grpCols, Nil).distinct()
      .crossJoin(counts.sparkSession.range(bins.toLong)
        .select(col("id").cast("int").as(binCol)))
    val cur = grid
      .join(rebased(grpCols :+ binCol, Seq(col(cntCol).as("__c"))),
        grpCols :+ binCol, "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val base = rebased(baseCols :+ binCol, Seq(col(cntCol).as("__cnt0")))
      .groupBy((baseCols :+ binCol).map(col): _*)
      .agg(sum(col("__cnt0")).as("__bc"))
    // several consumers read this frame — cut it to a leaf or each one
    // re-executes the whole grid build + both joins (and re-scans
    // `counts` apiece). Size is groups × bins rows: bounded
    // by group cardinality, fine to materialize at any scale. Found via
    // the round-12 stream-floor attribution: q196's "overhead" was this
    // subtree running three times per drain.
    val withBase = cur.join(base, baseCols :+ binCol, "left")
      .withColumn("__bc", coalesce(col("__bc"), lit(0L)))
      .transform(graft.core.Checkpoints.cut)
    // both totals ride whole-partition windows ON the cut frame instead
    // of separate aggregate+broadcast subplans (each was its own job; at
    // this frame's size the fixed job cost dwarfed the work). The base
    // total needs each (base, bin) count ONCE, but the window sees it
    // once per group sharing the base — and the grid guarantees exactly
    // `bins` rows per group, so groups-per-base = count(*) div bins and
    // an exact integer division recovers the true total. Long `div`
    // arithmetic throughout: no double rounding at any magnitude.
    import org.apache.spark.sql.expressions.Window
    val wg = Window.partitionBy(grpCols.map(col): _*)
    val wb = Window.partitionBy(baseCols.map(col): _*)
    val withTot = withBase
      .withColumn("__tg", sum(col("__c")).over(wg))
      .withColumn("__sb", sum(col("__bc")).over(wb))
      .withColumn("__nb", count(lit(1)).over(wb))
      .withColumn("__tb", expr(s"__sb div (__nb div $bins)"))
    val p = (col("__c").cast("double") + lit(0.5)) /
      (col("__tg").cast("double") + lit(bins * 0.5))
    val q = (col("__bc").cast("double") + lit(0.5)) /
      (col("__tb").cast("double") + lit(bins * 0.5))
    withTot
      .withColumn("__tm", round((p - q) * log(p / q) * 1e6, 0).cast("long"))
      .groupBy(grpCols.map(col): _*)
      .agg(first(col("__tg")).as("n"),
        round(sum(col("__tm")) / 1e6, 6).as("psi"))
  }

  /** Per-group ordinary-least-squares fit y = slope·x + intercept, plus
    * R² — the trend profile behind drift dashboards ("is unit price
    * rising with quantity in THIS segment?"). Same exact-moment policy
    * as [[pearsonCorr]]: both columns arrive as scaled integers, all
    * five moments are DECIMAL(38,0) sums converted to double ONCE, so
    * the closed forms are deterministic on any IEEE engine — one
    * map-side-combined aggregation, no second pass, no residual join.
    * Degenerate groups (zero x-variance) emit NULL slope/intercept/r2
    * rather than ±Inf. */
  def linearFit(df: DataFrame, groupCol: String,
                x: Column, y: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    def s(c: Column) = sum(c.cast(dec)).cast("double")
    val agg = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).cast("double").as("__n"),
        s(x).as("__sx"), s(y).as("__sy"),
        s(x * x).as("__sxx"), s(y * y).as("__syy"), s(x * y).as("__sxy"))
    val n = col("__n")
    val vx = n * col("__sxx") - col("__sx") * col("__sx")
    val vy = n * col("__syy") - col("__sy") * col("__sy")
    val cov = n * col("__sxy") - col("__sx") * col("__sy")
    val slope = cov / vx
    agg.select(col("grp"), col("__n").cast("long").as("n"),
      when(vx =!= 0.0, round(slope, 6)).as("slope"),
      when(vx =!= 0.0,
        round((col("__sy") - slope * col("__sx")) / n, 6)).as("intercept"),
      when(vx =!= 0.0 && vy =!= 0.0,
        round(cov * cov / (vx * vy), 6)).as("r2"))
  }

  /** Key-skew profile — the diagnostic a 1000-executor job wants BEFORE
    * the shuffle that dies on a hot key: per key column, the key
    * cardinality, hottest-key share, top-10 share, and the Gini
    * coefficient of the per-key row distribution
    * (G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted counts —
    * 0 = uniform, →1 = one key owns everything). The numbers decide
    * between a plain hash join, AQE skew handling, and explicit salting
    * (the q67 operator).
    *
    * Determinism: Σ i·xᵢ is tie-order-invariant (equal counts swapping
    * ranks leave the sum unchanged), every accumulation is exact integer
    * arithmetic, and the only double division happens once, at ROUND(6).
    *
    * Scale shape: one map-side-combined count per key column, then the
    * rank window sorts the COUNT table — cardinality-bounded, never
    * row-bounded; rows themselves cross no exchange. A key column with
    * ~10^9 distinct values makes the window the cost center — at that
    * cardinality skew is structurally impossible and the profile is
    * moot, so the bound is the right one. */
  def keySkewProfile(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keySkewProfile needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    keyCols.map { kc =>
      val counts = df.groupBy(col(kc).as("k")).agg(count(lit(1)).as("cnt"))
      val ranked = counts
        .withColumn("rk_asc", row_number().over(
          Window.orderBy(col("cnt").asc, col("k").asc)))
        .withColumn("rk_desc", row_number().over(
          Window.orderBy(col("cnt").desc, col("k").asc)))
      ranked.agg(
          count(lit(1)).as("n_keys"),
          sum("cnt").as("n_rows"),
          sum(col("rk_asc") * col("cnt")).as("wsum"),
          max(when(col("rk_desc") === 1, col("cnt"))).as("top1"),
          sum(when(col("rk_desc") <= 10, col("cnt")).otherwise(lit(0L))).as("top10"))
        .select(lit(kc).as("key_col"), col("n_keys"), col("n_rows"),
          round(col("top1").cast("double") / col("n_rows"), 6).as("top1_share"),
          round(col("top10").cast("double") / col("n_rows"), 6).as("top10_share"),
          // n_keys·n_rows as a DOUBLE product (a long product overflows
          // past ~10^18 keys·rows); deterministic IEEE either way
          round(lit(2.0) * col("wsum") /
              (col("n_keys").cast("double") * col("n_rows").cast("double"))
            - (col("n_keys") + lit(1.0)) / col("n_keys"), 6).as("gini"))
    }.reduce(_ unionByName _)
  }

  /** Schema-drift detection for semi-structured feeds: the per-group key
    * inventory of an old batch full-outer-joined against a new batch's,
    * classifying each (group, key) as added / removed / stable. The
    * reference guards against exactly this drift by introspecting the
    * live table schema and intersecting incoming keys with it per batch
    * (`ImportInvoiceReport.php:59-65,149-152`); this is the monitoring
    * view of the same concern — what changed between feeds, before the
    * importer silently drops it.
    *
    * Scale shape: the wide exchange carries (group, key, count) rows
    * after map-side combine — key inventories, never payloads; the
    * full-outer join runs on inventory-sized tables (|groups| × |keys|).
    * Presence COUNTS ride along so partial drift (a key present in only
    * half the new batch) is visible, not just binary presence. */
  /** Referential-integrity audit over declared FK relationships: per
    * relationship, the child row count and the orphan count (child keys
    * with no parent — a left-anti join, the F11/J1 existence guard
    * inverted into a metric). `orphan_key_sum` rides along as a cheap
    * content witness so two runs finding "5 orphans" can be compared.
    * Each relationship costs one anti-join on its key — the parent side
    * is distinct-projected first, so the join input is key-sized. */
  def fkAudit(rels: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    rels.map { case (name, child, fk, parent, pk) =>
      val c = child.select(col(fk).cast("long").as("k")).where(col("k").isNotNull)
      val orphans = c.join(parent.select(col(pk).cast("long").as("k")).distinct(),
        Seq("k"), "left_anti")
      c.agg(count(lit(1)).as("n_child")).crossJoin(
        orphans.agg(count(lit(1)).as("n_orphans"),
          coalesce(sum("k"), lit(0L)).cast("long").as("orphan_key_sum")))
        .select(lit(name).as("relationship"), col("n_child"),
          col("n_orphans"), col("orphan_key_sum"))
    }.reduce(_ unionByName _)

  def jsonKeyDrift(oldBatch: DataFrame, newBatch: DataFrame,
                   groupCols: Seq[String], jsonCol: String): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    def inventory(df: DataFrame): DataFrame =
      df.select(groupCols.map(col) :+
          explode(map_keys(from_json(col(jsonCol),
            MapType(StringType, StringType)))).as("key"): _*)
        .groupBy((groupCols :+ "key").map(col): _*)
        .agg(count(lit(1)).as("n"))
    val keys = groupCols :+ "key"
    inventory(oldBatch).withColumnRenamed("n", "n_old")
      .join(inventory(newBatch).withColumnRenamed("n", "n_new"), keys, "full_outer")
      .select(keys.map(col) :+
        coalesce(col("n_old"), lit(0L)).as("n_old") :+
        coalesce(col("n_new"), lit(0L)).as("n_new"): _*)
      .withColumn("status",
        when(col("n_old") === 0, lit("added"))
          .when(col("n_new") === 0, lit("removed"))
          .otherwise(lit("stable")))
  }

  /** Functional-dependency audit: for each declared candidate dependency
    * lhs → rhs, measure how far the data is from satisfying it — the
    * profiling step that decides whether a column is a safe natural key /
    * dedup anchor BEFORE a pipeline builds an upsert on it (the
    * reference assumes its keys hold: an FD check is how that assumption
    * becomes a monitored fact). Per dependency: #distinct lhs groups,
    * #groups with >1 distinct rhs (violations), the worst group's
    * variant count, and #rows in violating groups (blast radius).
    *
    * Scale shape: each dependency is two narrow aggregations — groupBy
    * lhs with a distinct-rhs count (map-side combined; null rhs counts
    * as its own variant via a sentinel), then a single-row rollup.
    * Only lhs+rhs columns are scanned (parquet-pruned per dependency);
    * nothing wider than (lhs, n_rhs, n_rows) crosses an exchange. */
  def functionalDeps(deps: Seq[(String, DataFrame, Seq[String], String)]): DataFrame =
    deps.map { case (name, df, lhs, rhs) =>
      val grouped = df
        .groupBy(lhs.map(col): _*)
        .agg(countDistinct(coalesce(col(rhs).cast("string"), lit("__null__")))
          .as("n_rhs"), count(lit(1)).as("n_rows"))
      grouped.agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("n_rhs") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("n_rhs")).as("max_variants"),
          sum(when(col("n_rhs") > 1, col("n_rows")).otherwise(0L))
            .as("rows_in_violation"))
        .select(lit(name).as("dependency"), col("n_groups"),
          col("n_violating"), col("max_variants"), col("rows_in_violation"))
    }.reduce(_ unionByName _)
}
