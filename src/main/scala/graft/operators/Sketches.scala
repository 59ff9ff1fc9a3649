package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches for 100 TB-scale profiling.
  *
  * The workhorse is a PORTABLE HyperLogLog (Flajolet et al. '07, with the
  * HLL practicalities from Heule et al., EDBT '13): the hash is the first
  * 15 hex nibbles of md5 (60 bits), so any engine that can compute md5
  * reproduces the registers bit-for-bit — the same portability family as
  * the LSH/simhash oracles. Spark's own `approx_count_distinct` uses
  * HLL++ with an engine-private xxHash64 seed, which is fine for one
  * engine but impossible to cross-check; this sketch trades a few % of
  * hash speed for engine-independent registers, which also means sketches
  * computed by DIFFERENT systems (a Spark batch job, a Trino ad-hoc
  * query, a streaming collector) can be merged.
  *
  * Why sketches at all: `COUNT(DISTINCT x)` at 100 TB shuffles every
  * distinct value; the sketch is a 256-byte mergeable summary computed
  * with map-side combine — per-group state is constant, the exchange
  * carries (group, idx, rho) rows bounded by 256/group, and sketches for
  * disjoint partitions/days/sources union by register-max (associative,
  * commutative, idempotent — re-merging the same day twice is safe).
  *
  * Precision p=8 → m=256 registers → standard error 1.04/√256 ≈ 6.5%.
  */
object Sketches {

  private val M = 256 // registers (p = 8 index bits; 52 rank bits remain)
  private val RemBits = 52
  private val RemMask = (1L << RemBits) - 1

  /** 60-bit portable hash: first 15 hex nibbles of md5 of the value's
    * string form. */
  private def h60(v: Column): Column =
    conv(substring(md5(v.cast("string")), 1, 15), 16, 10).cast("long")

  /** HLL register index of a value (top 8 hash bits) — exposed so
    * streaming plans can compute registers as a stateless projection and
    * keep only the windowed register-max as state. */
  def hllIdx(v: Column): Column = shiftright(h60(v), RemBits)

  /** HLL register rank of a value (leading-zero count of the 52 rank
    * bits, + 1) — the portable `length(bin(...))` spelling. */
  def hllRho(v: Column): Column = {
    val rem = h60(v).bitwiseAND(lit(RemMask))
    when(rem === 0, lit(RemBits + 1))
      .otherwise(lit(RemBits + 1) - length(bin(rem)))
  }

  /** Per-(group, register) rank rows: idx in [0, 256), rho = leading-zero
    * count of the 52 rank bits + 1 (in [1, 53]). `bin()` renders a long
    * without leading zeros on every engine, so rho = 53 - length(bin(rem))
    * is the portable spelling of the leading-zero count. */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    df.select(groupCols.map(col) :+
        hllIdx(col(valueCol)).as("idx") :+
        hllRho(col(valueCol)).as("rho"): _*)
      .groupBy((groupCols :+ "idx").map(col): _*)
      .agg(max(col("rho")).cast("int").as("rho"))

  /** Cardinality estimate per group from a register frame.
    *
    * Engineered for cross-engine exactness: the register sum
    * Σ 2^(-rho) is computed as the INTEGER Σ 2^(53-rho) (exact — each
    * term ≥ 1, total < 2^62 — so it is associativity-independent, unlike
    * a float sum whose value depends on reduce order), and the constants
    * fold from identical literals. Small-range correction (linear
    * counting) applies below 2.5m when empty registers remain, as in the
    * original paper. Returns (groupCols..., est_distinct) at 4 dp. */
  private def estimateFromGrouped(grouped: DataFrame, groupCols: Seq[String],
                                  extraCols: Seq[String]): DataFrame = {
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(M.toDouble))
    val pow53 = lit(9007199254740992.0) // 2^53 as an exact double literal
    grouped
      .withColumn("zeros", lit(M) - col("n_present"))
      // absent registers contribute 2^53 each (rho = 0)
      .withColumn("s_int",
        col("s_present") + col("zeros").cast("long") * lit(1L << RemBits << 1))
      .withColumn("raw",
        alpha * lit(M.toDouble) * lit(M.toDouble) * pow53 / col("s_int").cast("double"))
      .withColumn("est_distinct",
        round(when(col("raw") <= lit(2.5 * M) && col("zeros") > 0,
            lit(M.toDouble) * log(lit(M.toDouble) / col("zeros").cast("double")))
          .otherwise(col("raw")), 4))
      .select((groupCols.map(col) :+ col("est_distinct")) ++ extraCols.map(col): _*)
  }

  /** Estimate + register digest from a register frame in ONE aggregation
    * pass — one scan, and safe on sources that cannot be self-joined
    * (e.g. a drained streaming memory table, whose View attributes fail
    * join dedup). */
  def hllRegisterProfile(regs: DataFrame, groupCols: Seq[String]): DataFrame =
    estimateFromGrouped(
      regs.groupBy(groupCols.map(col): _*)
        .agg(
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${RemBits + 1} - rho)")).as("s_present"),
          count(lit(1)).as("n_present"),
          md5(concat_ws(",",
            transform(array_sort(collect_list(struct(col("idx"), col("rho")))),
              x => concat_ws(":", x.getField("idx"), x.getField("rho"))))).as("reg_digest")),
      groupCols, Seq("reg_digest"))

  /** One-call profile: per-group HLL estimate side by side with the exact
    * distinct count and a register digest (md5 over "idx:rho" pairs in
    * index order — a cheap cross-engine witness that the REGISTERS, not
    * just the estimate, agree). At scale the exact column is the thing
    * this operator exists to avoid; it rides along here because the test
    * corpus is small and the estimate's error contract (±~6.5%) is the
    * property worth pinning. */
  def hllProfile(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val prof = hllRegisterProfile(hllRegisters(df, groupCols, valueCol), groupCols)
    val exact = df.groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col(valueCol)).as("exact_distinct"))
    prof.join(exact, groupCols)
  }

  // ------------------------------------------------------------------
  // KMV (k-minimum-values / bottom-k) sketch — distinct counts PLUS set
  // overlap between groups, which HLL can only reach through lossy
  // inclusion-exclusion. Same portable 60-bit md5 hash as the HLL.
  // ------------------------------------------------------------------

  private val HashSpace = 1.152921504606846976e18 // 2^60, exact as a double

  /** KMV sketch aggregate column over an already-hashed long input: the
    * k smallest distinct hashes, ascending. Bounded state — see
    * [[graft.plans.BoundedMinK]] for why the window/distinct spelling is
    * NOT this (it would shuffle every distinct hash). */
  def kmvAgg(hashed: Column, k: Int): Column = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    ColumnGlue.column(graft.plans.BoundedMinK(
      ColumnGlue.expression(hashed), k).toAggregateExpression())
  }

  /** Per-group KMV sketches: (groupCols..., kmv array<long> ascending). */
  def kmvSketches(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Int): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(kmvAgg(h60(col(valueCol)), k).as("kmv"))

  /** Distinct-count estimate from a KMV sketch array: exact when the
    * sketch holds fewer than k hashes (nothing was discarded), else the
    * classic unbiased (k-1) * |H| / h_(k) with |H| = 2^60. */
  def kmvEstimate(sketch: Column, k: Int): Column =
    // null sketch -> null estimate under BOTH ANSI modes (size of a null
    // array is -1 with legacy sizeOfNull but null under ANSI)
    when(sketch.isNotNull,
      when(size(sketch) < k, size(sketch).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(HashSpace)
          / element_at(sketch, k).cast("double")))

  /** Pairwise overlap between every two groups, from their sketches
    * alone (Beyer et al., SIGMOD '07): merge the two sketches, keep the
    * k smallest of the union — every one of those lies below both
    * originals' kth order statistic, so membership tests against the
    * per-group sketches are definitive — and estimate
    * Jaccard = |{h in X : h in A and h in B}| / |X|,
    * intersection = Jaccard * union-estimate. Everything is determined
    * by the hashes: rerun-stable and recomputable by any md5 engine.
    *
    * Scale shape: sketches are <= k longs per group; the pair cross-join
    * is |groups|^2 sketch rows (groups = event types, days, sources —
    * small), never data. Returns (g_a, g_b, est_a, est_b, est_union,
    * jacc_est 6dp, inter_est 4dp) with g_a < g_b. */
  def kmvPairOverlap(df: DataFrame, groupCol: String, valueCol: String,
                     k: Int): DataFrame = {
    val sk = kmvSketches(df, Seq(groupCol), valueCol, k)
    val a = sk.select(col(groupCol).as("g_a"), col("kmv").as("kmv_a"))
    val b = sk.select(col(groupCol).as("g_b"), col("kmv").as("kmv_b"))
    val x = slice(array_sort(array_union(col("kmv_a"), col("kmv_b"))), 1, k)
    val inBoth = size(filter(x, h =>
      array_contains(col("kmv_a"), h) && array_contains(col("kmv_b"), h)))
    a.crossJoin(b).where(col("g_a") < col("g_b"))
      .withColumn("x", x)
      .withColumn("jacc", inBoth.cast("double") / size(col("x")).cast("double"))
      .withColumn("est_union", kmvEstimate(col("x"), k))
      .select(col("g_a"), col("g_b"),
        round(kmvEstimate(col("kmv_a"), k), 4).as("est_a"),
        round(kmvEstimate(col("kmv_b"), k), 4).as("est_b"),
        round(col("est_union"), 4).as("est_union"),
        round(col("jacc"), 6).as("jacc_est"),
        round(col("jacc") * col("est_union"), 4).as("inter_est"))
  }

  // ------------------------------------------------------------------
  // Portable Bloom filter — membership probe instead of a join against
  // the historical corpus (has-this-URL-been-crawled, is-this-doc-id
  // already ingested). m = 65536 bits fixed (4 md5 hex nibbles index the
  // bit space exactly — no modulo bias), numHashes independent md5
  // draws via a "#j" suffix. Spark's own bloom_filter_agg hashes with
  // engine-private xxHash; this one is recomputable anywhere.
  // ------------------------------------------------------------------

  /** Bit position of draw `j` for one value — THE hash definition; both
    * the build (via [[bloomPositions]]) and the literal probe derive from
    * it, so the two can never drift apart. `hexChars` md5 hex digits give
    * a 4·hexChars-bit position domain: 4 (default) = 65,536 bits — right
    * for test sets up to a few thousand entries; 5 = 1,048,576 bits for
    * ~10^5-entry sets (the q124 sf1 sizing — an UNDERSIZED filter
    * saturates, every probe reads positive, and the prefilter degrades
    * into pure overhead while staying CORRECT). Size ~10 bits/entry. */
  private def bloomPosition(v: Column, j: Column, hexChars: Int = 4): Column =
    conv(substring(md5(concat(v.cast("string"), lit("#"), j.cast("string"))),
      1, hexChars), 16, 10).cast("long")

  /** Bit positions for one value: numHashes independent md5 draws of
    * 4·hexChars bits each. */
  def bloomPositions(v: Column, numHashes: Int, hexChars: Int = 4): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      j => bloomPosition(v, j, hexChars))

  /** Build per-group Bloom filters as (groupCols..., word, mask) rows:
    * word = bit-position >> 5, mask = OR of 1L << (pos % 32) — 32 bits
    * per word, so no shift ever reaches the sign bit (engines disagree
    * on 1 << 63: Spark wraps, DuckDB raises) and every mask renders as
    * the same small positive decimal everywhere. The relational spelling
    * of the sketch — `bit_or` partials combine map-side, the exchange is
    * bounded by 2048 words per group per partition, and two filters
    * (days, shards, incremental batches) merge by the same
    * groupBy-bit_or. Absent words are absent rows (all-zero masks are
    * never materialized). */
  def bloomWords(df: DataFrame, groupCols: Seq[String], valueCol: String,
                 numHashes: Int = 3, hexChars: Int = 4): DataFrame =
    wordsFromPositions(df, groupCols,
      bloomPositions(col(valueCol), numHashes, hexChars))

  private def wordsFromPositions(df: DataFrame, groupCols: Seq[String],
                                 positions: Column): DataFrame =
    df.select(groupCols.map(col) :+ explode(positions).as("pos"): _*)
      .withColumn("word", shiftright(col("pos"), 5))
      .withColumn("m", expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"))
      .groupBy((groupCols :+ "word").map(col): _*)
      .agg(expr("bit_or(m)").as("mask"))

  // ------------------------------------------------------------------
  // Digest-sliced Bloom variants — for values that already ARE md5 hex
  // digests (the dedup/decontamination gram keys). The md5-re-draw
  // positions above hash "value#j" per bit — 3 extra md5s per probed
  // value, which on a 10^8-gram corpus side is the dominant probe cost.
  // A 128-bit digest already holds 32 hex chars of uniform bits, so
  // hash j just takes the non-overlapping slice [1 + j·hexChars,
  // hexChars]: identical independence and false-positive math, zero
  // additional hashing (substring + conv per bit). Build and probe must
  // BOTH use the digest form — mixing schemes silently probes the wrong
  // bits (no false negatives are only guaranteed scheme-internally).
  // Oracle-spelled sketches (the SQL-mirrored user-ID filter) keep the
  // md5 re-draw scheme; these variants exist for prefilters whose
  // oracles pin DECISIONS, not positions.
  // ------------------------------------------------------------------

  private def digestPosition(v: Column, j: Int, hexChars: Int): Column =
    conv(substring(v, 1 + j * hexChars, hexChars), 16, 10).cast("long")

  /** numHashes non-overlapping 4·hexChars-bit slices of an md5 hex
    * digest (requires numHashes·hexChars <= 32 hex chars). */
  def digestPositions(v: Column, numHashes: Int, hexChars: Int): Column = {
    require(numHashes * hexChars <= 32,
      s"digest slicing needs numHashes*hexChars <= 32, got $numHashes*$hexChars")
    array((0 until numHashes).map(j => digestPosition(v, j, hexChars)): _*)
  }

  /** [[bloomWords]] with positions sliced from an md5-hex `valueCol`. */
  def bloomWordsDigest(df: DataFrame, groupCols: Seq[String], valueCol: String,
                       numHashes: Int = 3, hexChars: Int = 4): DataFrame =
    wordsFromPositions(df, groupCols,
      digestPositions(col(valueCol), numHashes, hexChars))

  // ------------------------------------------------------------------
  // Count-Min sketch — approximate FREQUENCIES, completing the family:
  // HLL answers how-many-distinct, KMV how-much-overlap, Bloom
  // have-we-seen-it, CMS how-often. Unlike the register sketches it is
  // LINEAR: counters merge by plain addition (and subtract for
  // retractions), so partial aggregation, shard union, and day-over-day
  // accumulation are all the same groupBy-sum. depth x width counters
  // (default 4 x 1024); estimate = min over the depth rows, so it never
  // under-counts and over-counts by at most the collision mass
  // (~ N·e/width with the classic bounds). Same portable md5 positions
  // as the Bloom filter ("value#row", 16 bits mod width).
  // ------------------------------------------------------------------

  /** Per-row bucket positions of one value: row j probes bucket
    * md5("v#j") (first 16 bits) mod width. */
  def cmsPositions(v: Column, depth: Int, width: Int): Column =
    transform(sequence(lit(0), lit(depth - 1)), j =>
      pmod(conv(substring(md5(concat(v.cast("string"), lit("#"), j.cast("string"))),
        1, 4), 16, 10).cast("long"), lit(width.toLong)))

  /** Build per-group counter tables as (groupCols..., row, bucket, cnt)
    * rows. Count partials combine map-side; the exchange is bounded by
    * depth*width rows per group per partition. Merging two sketches
    * (shards, days) is the same groupBy with sum(cnt). */
  def cmsCounters(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  depth: Int = 4, width: Int = 1024): DataFrame =
    df.select(groupCols.map(col) :+
        posexplode(cmsPositions(col(valueCol), depth, width)).as(Seq("row", "bucket")): _*)
      .groupBy((groupCols :+ "row" :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Point-query estimates: min over the depth rows of each probe
    * value's counters. Counters are <= depth*width rows per group —
    * broadcast; the probe side never shuffles beyond its own depth-way
    * explode. Returns (groupCols..., valueCol, est_count); the estimate
    * is >= the true count by construction. */
  def cmsEstimate(counters: DataFrame, probes: DataFrame, groupCols: Seq[String],
                  valueCol: String, depth: Int = 4, width: Int = 1024): DataFrame =
    probes
      .select((groupCols :+ valueCol).map(col) :+
        posexplode(cmsPositions(col(valueCol), depth, width)).as(Seq("row", "bucket")): _*)
      .join(broadcast(counters), groupCols :+ "row" :+ "bucket", "left")
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))

  /** Join-size estimation from two CMS counter tables built with the
    * same depth/width/hash family: |A ⋈_k B| = Σ_k f_A(k)·f_B(k), and
    * the per-depth-row inner product Σ_b cntA[b]·cntB[b] over-estimates
    * it by the classic additive N_A·N_B/width term — take the min over
    * depth rows. Never under-estimates, so a planner using it to decide
    * broadcast-vs-shuffle errs on the safe side.
    *
    * The 100 TB point: both relations summarize in ONE pass each
    * (map-side-combined counters, ≤ depth·width rows per side cross the
    * exchange), and the "join" runs on sketch rows — the full key-key
    * join never executes. Size width to the expected frequency mass:
    * the overcount is ~N_A·N_B/width. */
  def cmsJoinSize(countersA: DataFrame, countersB: DataFrame): DataFrame = {
    val a = countersA.select(col("row"), col("bucket"), col("cnt").as("cnt_a"))
    val b = countersB.select(col("row"), col("bucket"), col("cnt").as("cnt_b"))
    val ip = a.join(b, Seq("row", "bucket"))
      .groupBy("row").agg(sum(col("cnt_a") * col("cnt_b")).as("ip"))
    // a depth row with NO shared buckets proves the join is empty — its
    // inner product is 0, and dropping the row (inner-join absence) would
    // silently report min-of-the-others instead
    countersA.select(col("row")).distinct()
      .join(ip, Seq("row"), "left")
      .agg(min(coalesce(col("ip"), lit(0L))).as("est_join_size"))
  }

  /** Ungrouped probe of a [[bloomWordsDigest]]-built filter with the
    * filter COLLECTED to a literal: the 4·hexChars-bit position domain
    * bounds the filter at 2^(4·hexChars−5) words (2048 longs = 16 KB at
    * the default), so it rides the plan as an array literal and
    * membership becomes a pure codegen projection — no explode, no join,
    * no exchange on the probe side (the join spelling pays a 3× explode
    * plus a probe-side groupBy to AND the hits, a full shuffle of every
    * probe row; measured 2.4× the plain broadcast-join decontamination at
    * sf0.1 before this). Positions are sliced from the md5-hex
    * `valueCol`, no per-probe md5. Identical decisions to
    * [[bloomProbeDigest]]: all `numHashes` bits set. Building the literal
    * is one bounded job over the (small) filter side — the same
    * boundedness the broadcast in [[bloomProbeDigest]] needs. */
  def bloomProbeLiteralDigest(words: DataFrame, probes: DataFrame,
                              valueCol: String, numHashes: Int = 3,
                              hexChars: Int = 4): DataFrame = {
    // filter words: position domain 4·hexChars bits, 32 bits per word —
    // 2048 longs at the default, 32k longs (256 KB literal) at hexChars=5;
    // bounded by the FILTER SIZE constant either way, never the data
    val arr = new Array[Long](1 << (4 * hexChars - 5))
    // OR, not overwrite: a filter formed by unioning bloomWords outputs
    // without re-aggregating may carry duplicate word rows, and dropping
    // either row's bits would create false negatives
    words.select(col("word"), col("mask")).collect()
      .foreach(r => arr(r.getLong(0).toInt) |= r.getLong(1))
    val filterLit = typedlit(arr.toSeq)
    val positive = (0 until numHashes).map { j =>
      val pos = digestPosition(col(valueCol), j, hexChars)
      call_function("shiftright",
        element_at(filterLit, (pos / 32).cast("int") + 1),
        (pos % 32).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
    probes.withColumn("bloom_positive", positive)
  }

  /** Approximate quantiles via a fixed-bin equi-width histogram — the
    * scale path where exact `percentile` is unaffordable: exact
    * percentile buffers every value per group (a full sort's worth of
    * memory at 10^9 rows/group); this is two narrow aggregations
    * regardless of row count, with error bounded by one bin width
    * ((max-min)/bins). The estimate interpolates linearly inside the
    * covering bin — the textbook histogram_quantile (same estimator
    * Prometheus uses).
    *
    * Determinism: bin ids come from floor((x-lo)/w) on the same doubles
    * both engines hold (lo/hi/n are exact group aggregates, w one
    * division); counts and cumulative counts are exact integers; the
    * interpolation is one fused arithmetic expression evaluated once.
    * A degenerate group (hi == lo) maps every row to bin 0 and every
    * quantile to lo.
    *
    * Scale shape: pass 1 = (lo, hi, n) per group; pass 2 = (group, bin)
    * counts — both map-side combined; the quantile pick is a window
    * over ≤ `bins` rows per group. No row ever carries its value past
    * the scan. */
  def histogramQuantiles(df: DataFrame, groupCol: String, valCol: String,
                         bins: Int, qs: Seq[Double]): DataFrame = {
    require(bins >= 2 && qs.nonEmpty && qs.forall(q => q > 0 && q < 1),
      "need bins >= 2 and quantiles in (0,1)")
    val g = col(groupCol)
    val v = col(valCol)
    val stats = df.groupBy(g.as("grp"))
      .agg(min(v).as("lo"), max(v).as("hi"), count(lit(1)).as("n"))
      .withColumn("w", when(col("hi") === col("lo"), lit(0.0))
        .otherwise((col("hi") - col("lo")) / bins))
    val binned = df.select(g.as("grp"), v.as("x"))
      .join(broadcast(stats), "grp")
      .withColumn("bin", when(col("w") === 0.0, lit(0L))
        .otherwise(least(floor((col("x") - col("lo")) / col("w")),
          lit(bins - 1).cast("long"))).cast("int"))
      .groupBy(col("grp"), col("lo"), col("w"), col("n"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("grp").orderBy("bin")))
    qs.map { q =>
      val target = col("n") * lit(q)
      val w = Window.partitionBy("grp").orderBy("bin")
      binned
        .where(col("cum") >= target)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("grp"), lit(q).as("q"),
          when(col("w") === 0.0, col("lo")).otherwise(
            col("lo") + col("w") * (col("bin") +
              (target - (col("cum") - col("cnt"))) / col("cnt")))
            .as("approx"))
    }.reduce(_ unionByName _)
  }

  /** Probe values against a built filter: returns (groupCols...,
    * valueCol, bloom_positive). A value is positive iff every one of its
    * numHashes bits is set — no false negatives by construction; false
    * positives at the classic (1 - e^{-kn/m})^k rate. The filter side is
    * <= 2048 rows per group, so the probe join broadcasts: the corpus
    * side never shuffles — the 100 TB point of the operator. */
  def bloomProbe(words: DataFrame, probes: DataFrame, groupCols: Seq[String],
                 valueCol: String, numHashes: Int = 3,
                 carryCols: Seq[String] = Nil, hexChars: Int = 4): DataFrame =
    probeJoinWith(words, probes, groupCols, valueCol, numHashes, carryCols,
      bloomPositions(col(valueCol), numHashes, hexChars))

  /** [[bloomProbe]] against a [[bloomWordsDigest]]-built filter. */
  def bloomProbeDigest(words: DataFrame, probes: DataFrame,
                       groupCols: Seq[String], valueCol: String,
                       numHashes: Int = 3, carryCols: Seq[String] = Nil,
                       hexChars: Int = 4): DataFrame =
    probeJoinWith(words, probes, groupCols, valueCol, numHashes, carryCols,
      digestPositions(col(valueCol), numHashes, hexChars))

  private def probeJoinWith(words: DataFrame, probes: DataFrame,
                            groupCols: Seq[String], valueCol: String,
                            numHashes: Int, carryCols: Seq[String],
                            positions: Column): DataFrame = {
    val keep = (groupCols ++ carryCols) :+ valueCol
    val exploded = probes
      .select(keep.map(col) :+ explode(positions).as("pos"): _*)
      .withColumn("word", shiftright(col("pos"), 5))
    exploded
      .join(broadcast(words), groupCols :+ "word", "left")
      .withColumn("hit",
        expr("coalesce(shiftright(mask, CAST(pos % 32 AS INT)) & 1, 0)"))
      .groupBy(keep.map(col): _*)
      .agg((sum(col("hit")) === numHashes).as("bloom_positive"))
  }
}
