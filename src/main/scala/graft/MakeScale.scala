package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: deterministic `factor`x scale-up of a testdata directory —
  * the data side of the scale-validation bench (PLANS.md "sf0.1 → sf1").
  * `runMain graft.MakeScale <srcDir> <outDir> <factor>`.
  *
  * Scaling follows the TPC-H discipline: DIMENSIONS scale with the facts
  * (replica r's orders reference replica r's customers/parts/suppliers),
  * so per-key fan-in — rows per supplier, lines per order, events per
  * user — stays CONSTANT while key cardinality and row count grow by
  * `factor`. That is what 100 TB actually looks like (more keys, not
  * deeper keys), and what makes measured sf0.1→sf1 ratios meaningful:
  * a linear operator should scale ~linearly, and anything super-linear
  * is an algorithmic term, not a key-skew artifact of the generator.
  *
  * Per-replica transforms keep cross-replica similarity OUT of the
  * similarity families (otherwise every replica pair is a near-dup pair
  * and pair counts grow QUADRATICALLY in `factor` — a generator bug that
  * would masquerade as an operator scaling defect):
  *   - documents: replica r > 0 prefixes every whitespace token with a
  *     fixed-width three-char salt ("q" + two base-26 letters, inside the
  *     [a-z] analysis channel). NOTE: dirs generated by the pre-r7
  *     two-char-salt generator have different grams/n_chars — regenerate
  *     any scaled dir before comparing bench numbers across generator
  *     versions. A per-replica BIJECTION on words preserves every within-replica
  *     set-similarity relation exactly (shingle sets map 1:1), while
  *     cross-replica token shingles share nothing. n_chars recomputes.
  *   - embeddings: replica r applies an ORTHOGONAL per-replica transform
  *     (inner rotation keyed by q = r div dim, hash-keyed sign flips,
  *     outer rotation by r mod dim — rationale at the implementation) —
  *     norms and within-replica cosines are preserved exactly,
  *     cross-replica cosines decorrelate to the isometry floor
  *     (~N(0, 1/dim), no systematic term). The q-keyed legs exist
  *     because rotation alone wraps at the embedding dim: with dim=64,
  *     factor>64 would hand replicas r and r-64 byte-identical vectors,
  *     re-creating exactly the quadratic cross-replica duplicate
  *     families the generator must exclude. When factor > dim a
  *     driver-side self-check measures mean and max same-outer-rotation
  *     cross-q cosine over sampled real vectors and aborts on
  *     systematic correlation.
  *   - events: replica r shifts ts by r * (span + 1 day) and user_id by
  *     the key step — windows, sessions and cohorts stay replica-local,
  *     so streaming state KEY CARDINALITY grows by `factor` (the state
  *     dimension the RocksDB option exists for).
  *   - entity NAMES (p_name, s_name, c_name) get the same per-replica
  *     word bijection: verbatim copies would make every name a
  *     factor-sized exact-duplicate group, and the name-similarity
  *     joins (edit-distance PASS-JOIN, shingle linkage) would produce
  *     factor²-growing pair sets — a generator artifact masquerading
  *     as operator super-linearity.
  * region/nation stay as-is (25 nations is a constant of the schema).
  *
  * Optional 4th arg `--skew-suppkey[=a]`: redraw lineitem's l_suppkey
  * from an approximate Zipf over the FULL scaled supplier key space
  * (rank = floor(K^(u^a)) for a per-row deterministic uniform u, so
  * rank 1 alone carries (ln2/lnK)^(1/a) of all rows — ~7% at sf1's
  * K=10^4 with the a=1 default, ~27% at a=2). Every other
  * table is written unchanged, so a skewed dir differs from its plain
  * twin in exactly one column — the controlled input for measuring
  * plain-vs-AQE-vs-salted join behavior under a genuinely hot key
  * (constant per-key fan-in, the default, deliberately CANNOT exercise
  * that path). Foreign-key validity is preserved: ranks map back into
  * the scaled key space (base key in [1, S0], replica stripe via Step). */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    // --skew-suppkey[=a]: a >= 1 sharpens the Zipf head — rank is drawn
    // as floor(K^(u^a)), so rank 1 carries (ln2/lnK)^(1/a) of all rows:
    // ~7.5% at a=1 (K=10^4), ~27% at a=2. The sharpened regimes exist
    // because a hot reduce task only becomes the stage's critical path
    // once its row count outruns the whole map phase — measured at sf1,
    // 7.5% hides under the scan, so the interesting skew comparisons
    // need a knob past the documented Zipf(1) default.
    val skewArg = args.drop(3).find(_.startsWith("--skew-suppkey"))
    val skewSuppkey = skewArg.isDefined
    val skewExp = skewArg.flatMap(_.split("=").lift(1)).map(_.toDouble).getOrElse(1.0)
    require(skewExp >= 1.0 && skewExp <= 8.0, s"skew exponent $skewExp out of [1,8]")
    // 676 = one full 2-letter salt alphabet; the fixed-width salt below is
    // collision-free exactly up to there (and 676x the base already
    // overshoots any scale this harness can hold)
    require(factor >= 1 && factor <= 676, s"factor $factor out of [1,676]")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val Step = 10000000L // clears every sf0.1 key range by >10x
    val reps = broadcast(spark.range(factor).select(col("id").as("__r")))
    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    // SPLITTABLE LAYOUT (round-9 finding): the old single-pass write
    // produced 1-7 row groups per table (a 74 MB documents file held ONE
    // 500k-row group at sf10), and parquet assigns every row of a row
    // group to the byte-range split holding its midpoint — so a
    // gram-dense operator whose work lives in the scan stage (q124's
    // literal-probe form) ran its whole corpus pass in ONE task while 18
    // sibling splits sat empty (stage task metrics: 19 tasks, wall 95 s =
    // summed task time, concurrency 1.0). Spark cannot see row-group
    // boundaries at planning, so no session conf heals it; the layout
    // itself must be splittable. Target ~32 MB per output file
    // (source-table bytes × factor, floor 32 files), matching how any
    // production corpus arrives — many files, row groups ≪ executor
    // count.
    def targetFiles(name: String): Int = {
      // resolve the filesystem FROM the path so a non-default scheme
      // (file:// under an hdfs:// default, s3a://) measures the right
      // store instead of failing or mis-resolving
      val path = new org.apache.hadoop.fs.Path(s"$srcDir/$name.parquet")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val scaledBytes = fs.getContentSummary(path).getLength * factor
      // tiny dims (region/nation) stay single-file; anything bigger gets
      // at least local[32]'s width so no scan stage is layout-starved
      if (scaledBytes < (4L << 20)) 1
      else math.max(32, (scaledBytes / (32L << 20)).toInt)
    }
    def write(df: DataFrame, name: String): Unit = {
      df.repartition(targetFiles(name))
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      println(s"[make_scale] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }
    def shift(c: String): org.apache.spark.sql.Column =
      col(c) + col("__r") * Step

    // per-replica word bijection, shared by document text and entity names.
    // FIXED-WIDTH two-letter salt (base-26): variable-width salts collide
    // by prefixing ("qb"+"b..." == "qbb"+"...") and a modulo salt wraps at
    // 676 — equal-length salts are pairwise-distinct for every allowed
    // factor, which is what the cross-replica disjointness claim needs
    val salt = concat(lit("q"),
      chr(lit(97) + col("__r") % 26),
      chr(lit(97) + floor(col("__r") / 26).cast("int") % 26))
    def saltWords(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(col("__r") === 0, c).otherwise(
        array_join(transform(split(c, " "),
          t => when(t === "", t).otherwise(concat(salt, t))), " "))

    write(src("region"), "region")
    write(src("nation"), "nation")
    write(src("customer").crossJoin(reps)
      .select(shift("c_custkey").as("c_custkey"),
        saltWords(col("c_name")).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer")
    write(src("supplier").crossJoin(reps)
      .select(shift("s_suppkey").as("s_suppkey"),
        saltWords(col("s_name")).as("s_name"),
        col("s_nationkey"), col("s_acctbal")), "supplier")
    write(src("part").crossJoin(reps)
      .select(shift("p_partkey").as("p_partkey"),
        saltWords(col("p_name")).as("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")), "part")
    write(src("orders").crossJoin(reps)
      .select(shift("o_orderkey").as("o_orderkey"),
        shift("o_custkey").as("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")), "orders")
    // --skew-suppkey: Zipf(1)-approximate supplier draw. u is a per-row
    // deterministic uniform in (0,1); rank = floor(K^u) gives
    // P(rank <= k) ~ ln(k)/ln(K), i.e. rank 1 alone gets ~ln(2)/ln(K) of
    // all rows. The rank maps back into the scaled key space (base key +
    // replica stripe), so every drawn key exists in `supplier`.
    val s0 = if (skewSuppkey) src("supplier").count() else 0L
    val skewedSupp = {
      val k = s0 * factor
      val u = (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), col("__r")),
        lit(1000000L)) + 1).cast("double") / 1000001.0
      val uExp = if (skewExp == 1.0) u else pow(u, skewExp)
      val rank = least(greatest(floor(pow(lit(k.toDouble), uExp)), lit(1.0)), lit(k.toDouble))
        .cast("long")
      (rank - 1) % s0 + 1 + floor((rank - 1) / lit(s0)).cast("long") * Step
    }
    write(src("lineitem").crossJoin(reps)
      .select(shift("l_orderkey").as("l_orderkey"),
        shift("l_partkey").as("l_partkey"),
        (if (skewSuppkey) skewedSupp else shift("l_suppkey")).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")), "lineitem")

    // events: time-shift each replica past the previous one so windows,
    // sessions, watermarks and cohorts never straddle replicas
    val ev = graft.core.Tables.events(spark, srcDir)
    val spanSec = ev.agg((unix_timestamp(max("ts")) -
      unix_timestamp(min("ts")) + 86400L).as("s")).head().getLong(0)
    write(ev.crossJoin(reps)
      .select(shift("event_id").as("event_id"),
        timestamp_micros(unix_micros(col("ts")) +
          col("__r") * (spanSec * 1000000L)).as("ts"),
        shift("user_id").as("user_id"), col("event_type"), col("value"),
        col("props")), "events")

    // documents: per-replica word bijection (salt-prefix every token)
    val salted = saltWords(col("text"))
    write(src("documents").crossJoin(reps)
      .select(shift("doc_id").as("doc_id"), salted.as("text"), col("lang"),
        col("source"), length(salted).cast("long").as("n_chars")), "documents")

    // embeddings: per-replica ORTHOGONAL transform, three composed
    // isometries keyed by (rot, q) = (r mod dim, r div dim):
    //   1. inner rotation by (q * 37) mod dim (37 coprime to dim=64, so
    //      distinct q get distinct strides) — without it, two replicas
    //      sharing the outer rotation differ only by a +-1 DIAGONAL, and
    //      a diagonal can never decorrelate a vector whose energy sits
    //      in few components (|cos| >= max component weight, whatever
    //      the signs); the inner rotation misaligns those components
    //      between the two copies first
    //   2. sign-flip component i iff xxhash64("flip", i, q) is odd — a
    //      per-(i,q) HASH, not bits of q: under the earlier bit pattern
    //      two distinct q disagreed on only the few components indexed
    //      by their differing bits, leaving cross cosine ~0.6-0.8;
    //      hashed patterns disagree on ~dim/2 components
    //   3. outer rotation by rot (the original leg)
    // All three depend only on the replica, so within-replica norms and
    // cosines are preserved exactly; q = 0 makes legs 1-2 the identity,
    // so replicas below the dim wrap keep the pure-rotation form. What
    // remains cross-replica is the isometry floor: ANY orthogonal pair
    // of transforms leaves same-base cosines ~ N(0, 1/dim) (std 0.125
    // at dim=64) — a benign, non-systematic tail, quantified by the
    // self-check below; the contamination mode being excluded is the
    // SYSTEMATIC one (mean |cos| >> 0), which is what grows pair counts
    // quadratically in factor.
    def flipSign(i: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
      pmod(xxhash64(lit("flip"), i.cast("int"), q), lit(2)) === 1
    def rotateBy(v: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column,
                 dim: org.apache.spark.sql.Column) =
      when(k === 0, v).otherwise(
        concat(slice(v, k + 1, dim - k), slice(v, lit(1), k)))
    val dim = size(col("embedding"))
    val rot = (col("__r") % dim).cast("int")
    val qf = floor(col("__r") / dim).cast("int")
    val spun = rotateBy(col("embedding"), (qf * 37) % dim, dim)
    val flipped = when(qf === 0, spun).otherwise(
      transform(spun, (x, i) => when(flipSign(i, qf), -x).otherwise(x)))
    val rotated = rotateBy(flipped, rot, dim)
    write(src("embeddings").crossJoin(reps)
      .select(shift("vec_id").as("vec_id"), rotated.as("embedding"),
        col("label")), "embeddings")

    // Generator self-check (factor > dim only, where distinct-q pairs
    // exist): the contamination mode this transform must exclude is a
    // same-OUTER-rotation replica pair (r, r') with r = r' mod dim —
    // their copies of a base vector differ only by the q-keyed legs, so
    // cos(T_q v, T_q' v) is computable driver-side from the flip
    // patterns + inner strides. Measured over all distinct q pairs x 64
    // sampled REAL vectors: the MEAN |cosine| catches a systematic
    // failure (the bits-of-q bug sat at 0.6-0.8; the isometry floor is
    // E|N(0, 1/dim)| ~ 0.10), the max guards the tail loosely (3.5
    // sigma of the floor ~ 0.45, far under the systematic regime).
    // Driver-side cost: <= 11 patterns x 64 vectors — microscopic.
    val embSrc = src("embeddings")
    val dimV = embSrc.select(size(col("embedding"))).head().getInt(0)
    val nQ = (factor + dimV - 1) / dimV
    if (nQ > 1) {
      val signRows = spark.range(nQ).select(col("id").cast("int").as("q"),
        transform(sequence(lit(0), lit(dimV - 1)),
          i => when(flipSign(i, col("q")), -1.0).otherwise(1.0)).as("s"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      // element type tolerant (float or double parquet physical type) and
      // zero-norm-safe: a zero vector among the samples would divide by
      // n2 = 0 below and NaN-poison the mean into a misleading
      // "systematic correlation" abort — zero vectors carry no cosine
      // information, so they are excluded from the sample, not failed on
      val samples = embSrc.limit(64).select(col("embedding"))
        .collect().map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
        .filter(v => v.exists(_ != 0.0))
      def applyQ(q: Int, v: Array[Double]): Array[Double] = {
        val stride = (q * 37) % dimV
        val spun = Array.tabulate(dimV)(i => v((i + stride) % dimV))
        if (q == 0) spun
        else Array.tabulate(dimV)(i => signRows(q)(i) * spun(i))
      }
      val cosines = for {
        q1 <- 0 until nQ; q2 <- (q1 + 1) until nQ; v <- samples
      } yield {
        val (a, b) = (applyQ(q1, v), applyQ(q2, v))
        val n2 = v.map(x => x * x).sum
        math.abs(a.indices.map(i => a(i) * b(i)).sum / n2)
      }
      if (cosines.isEmpty)
        println("[make_scale] embedding self-check SKIPPED: no non-zero " +
          "sample vectors (the check needs cosine-bearing inputs)")
      else {
        val meanAbs = cosines.sum / cosines.size
        val worst = cosines.max
        println(f"[make_scale] embedding self-check: same-outer-rotation cross-q |cosine| mean=$meanAbs%.4f max=$worst%.4f over ${nQ} q-patterns x ${samples.length} sampled vectors")
        require(meanAbs < 0.2 && worst < 0.5,
          f"generator self-check FAILED: cross-replica |cosine| mean=$meanAbs%.3f max=$worst%.3f — systematic correlation, near-dup families would re-enter quadratically")
      }
    }

    spark.stop()
  }
}
