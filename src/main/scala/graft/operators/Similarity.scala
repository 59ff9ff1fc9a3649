package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Three kinds of top-k path:
  *  - brute-force cosine top-k — the exact baseline. O(n·m) dot products in
  *    a codegen'd kernel (no UDF). The small query side is broadcast, so
  *    the big corpus never shuffles.
  *  - LSH-bucketed ANN ([[annTopKPortable]]) — sign-bit sketch of each
  *    vector against `nPlanes` md5-parity Rademacher hyperplanes,
  *    candidates = same bucket (multi-probe over `nTables` independent
  *    tables), verified with exact cosine. Shuffle volume is
  *    O(rows × nTables), independent of corpus pair count.
  *  - IVF ([[ivfTopKSampled]], [[pqTopKSampled]]) — a sampled coarse
  *    codebook partitions the corpus; queries probe their nearest cells.
  * Every plane and codebook is derived from md5 of plain values, so each
  * ANN output is recomputable in SQL and deterministic across executors
  * without shipping a matrix. */
object Similarity {

  import graft.plans.VectorExpressions.{dot => vdot}

  /** Cosine similarity of two float-array columns (null-safe, 0 when either
    * norm is 0). The dot products run in a custom Catalyst expression — one
    * tight JVM loop per row, accumulating in double left-to-right (bit-equal
    * to a sequential SQL list_sum formulation, keeping oracles exact). */
  def cosine(a: Column, b: Column): Column = {
    val d  = vdot(a, b)
    val na = sqrt(vdot(a, a))
    val nb = sqrt(vdot(b, b))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
  }

  /** Brute-force exact top-k: for each row of `queries`, the k nearest rows
    * of `corpus` by cosine. `queries` is broadcast — corpus partitions stream
    * once with no shuffle; the only exchange is the final per-query top-k
    * (rank window over query id). Self-matches (same id) are excluded.
    * Norms are precomputed per side (once per row, not once per pair). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .withColumn("cn", sqrt(vdot(col("cv"), col("cv"))))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(vdot(col("qv"), col("qv"))))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("cos", when(col("qn") === 0.0 || col("cn") === 0.0, lit(0.0))
        .otherwise(vdot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rnk"))
  }

  /** Hard-negative mining for contrastive training data: per query, the
    * k most-similar corpus vectors with a DIFFERENT label — the
    * informative negatives (easy negatives are far away and teach
    * nothing; same-label neighbors are positives, excluded). Same
    * broadcast-query brute-force shape as [[bruteForceTopK]] with the
    * label exclusion pushed into the join condition, so excluded pairs
    * never materialize; at corpus scale the LSH/IVF candidate paths
    * prune identically (filter the label at candidate level, re-rank). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        col(labelCol).as("neg_label"))
      .withColumn("cn", sqrt(vdot(col("cv"), col("cv"))))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col(labelCol).as("q_label"))
      .withColumn("qn", sqrt(vdot(col("qv"), col("qv"))))
    val scored = c.join(broadcast(q),
        col("corpus_id") =!= col("query_id") &&
          !(col("neg_label") <=> col("q_label")))
      .withColumn("cos", when(col("qn") === 0.0 || col("cn") === 0.0, lit(0.0))
        .otherwise(vdot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("corpus_id"),
        col("neg_label"), col("cos"))
  }

  /** md5-parity Rademacher hyperplanes for the LSH path:
    * coef(t, p, i) = +1 when the last hex char of md5("t_p_i") is odd,
    * else -1. Any engine with an `md5(text) -> hex` function recomputes the
    * exact matrix, which makes bucket assignments — and therefore the whole
    * ANN candidate set — SQL-oracle-checkable. Rademacher (±1) projections
    * preserve the sign-LSH cosine guarantee (Achlioptas '01: ±1 entries are
    * a valid random projection family). The matrix is tiny
    * (tables × planes × dim doubles) and rides the plan as literals. */
  def portablePlanes(nTables: Int, nPlanes: Int, dim: Int): Array[Array[Array[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nTables, nPlanes, dim) { (t, p, i) =>
      md.reset()
      val hex = md.digest(s"${t}_${p}_${i}".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      if ("13579bdf".indexOf(hex.charAt(31)) >= 0) 1.0 else -1.0
    }
  }

  /** ANN top-k via multi-table, multiprobe hyperplane LSH over
    * [[portablePlanes]]: the corpus is bucketed once per table; each query
    * probes its own bucket plus every bucket at Hamming distance 1 (flip
    * one sign bit); exact cosine re-ranks the candidates. Per-table hit
    * probability for a neighbor with per-plane agreement p is
    * ≈ p^b + b·(1-p)·p^(b-1), recall = 1-(1-hit)^T — the knob that raises
    * recall at scale is T (more tables), not brute force. Every step is
    * recomputable in plain SQL: plane coefs from md5 parity, dots as
    * sequential double sums,
    * ranks by (cos DESC, corpus_id). All nTables sketches come from ONE
    * kernel call per row (`rademacherBuckets` — the matrix rides as a
    * codegen reference object), accumulating left-to-right exactly like
    * the SQL list_sum, so engine agreement is bit-exact. `dim` must match
    * the embedding width. */
  def annTopKPortable(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, dim: Int,
                      nTables: Int = 8, nPlanes: Int = 8): DataFrame = {
    require(nPlanes <= 62, s"bucket ids are packed in a long, got nPlanes=$nPlanes")
    val flat = portablePlanes(nTables, nPlanes, dim).flatten.flatten
    def sketches(v: Column): Column =
      graft.plans.VectorExpressions.rademacherBuckets(v, flat, nTables, nPlanes)
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .select(col("corpus_id"), col("cv"),
        posexplode(sketches(col("cv"))).as(Seq("t", "b")))
      .select(struct(col("t"), col("b")).as("bucket"), col("corpus_id"), col("cv"))
    // query side probes its own bucket plus every Hamming-1 flip; b0 is an
    // attribute by the time the flips reference it (no sketch re-eval)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .select(col("query_id"), col("qv"),
        posexplode(sketches(col("qv"))).as(Seq("t", "b0")))
      .select(col("query_id"), col("qv"), col("t"), explode(array(
        col("b0") +: (0 until nPlanes).map(i =>
          col("b0").bitwiseXOR(lit(1L << i))): _*)).as("b"))
      .select(struct(col("t"), col("b")).as("bucket"), col("query_id"), col("qv"))
    val cands = c.join(q, Seq("bucket"))
      .where(col("corpus_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .select("query_id", "corpus_id", "cos")
      .dropDuplicates("query_id", "corpus_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    cands.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rnk"))
  }

  /** Johnson–Lindenstrauss random projection of an embedding column to
    * `k` dims with portable ±1 (Rademacher) planes — the dimensionality
    * cut that makes downstream pairwise work (near-dup blocking, coarse
    * ANN, clustering) k/d cheaper while preserving norms/distances to
    * 1±ε with ε ≈ √(ln n / k) (Achlioptas '01, the database-friendly JL
    * variant: ±1 entries, no Gaussians needed). Planes derive from md5
    * parity ([[portablePlanes]]), so a SQL oracle rebuilds them exactly.
    *
    * Returns (id, proj, orig_norm, proj_norm, coord_sum): `proj` is the
    * k-dim projection scaled by 1/√k; the norms are the distortion
    * witness (proj_norm/orig_norm ∈ 1±ε is the JL guarantee), coord_sum
    * a cheap exact-order content checksum. One kernel call per row
    * ([[graft.plans.VectorExpressions.rademacherProject]]) computes all
    * k dots in a single pass that stays inside whole-stage codegen —
    * zero exchanges: a projection is a map. */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                k: Int, dim: Int): DataFrame = {
    require(k >= 1 && k <= 4096, s"k $k out of [1,4096]")
    val flat = portablePlanes(1, k, dim)(0).flatten
    val invSqrtK = 1.0 / math.sqrt(k.toDouble)
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("dots",
        graft.plans.VectorExpressions.rademacherProject(col("v"), flat, k))
      .select(col("id"),
        transform(col("dots"), d => d * lit(invSqrtK)).as("proj"),
        sqrt(aggregate(transform(col("v"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, x) => a + x)).as("orig_norm"),
        // square the SCALED coordinate (d·c)², not d²·c² — bit-identical
        // to an oracle that recomputes the norm from the proj coords
        sqrt(aggregate(transform(col("dots"),
            d => (d * lit(invSqrtK)) * (d * lit(invSqrtK))),
          lit(0.0), (a, x) => a + x)).as("proj_norm"),
        aggregate(col("dots"), lit(0.0), (a, x) => a + x).as("coord_sum"))
  }

  /** Index of the max-cosine centroid for a vector column — a pure
    * projection (k dot products per row, no join, no shuffle), with the
    * codebook embedded as literals. Ties break on the lower centroid id. */
  private[operators] def nearestCentroid(v: Column, cents: Array[Seq[Double]]): Column =
    element_at(nearestCentroids(v, cents, 1), 1)

  /** The `nProbe` nearest centroid ids, best first, as an array column.
    * `v` must be a DOUBLE array (the dot kernel dispatches on the left
    * operand's element type) — callers materialize the widening cast once
    * per row, not once per centroid. */
  private[operators] def nearestCentroids(v: Column, cents: Array[Seq[Double]],
                               nProbe: Int): Column = {
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct(cosine(v, typedlit(c)).as("cdot"), lit(i).as("cid"))
    }: _*)
    val sorted = array_sort(scored, (l, r) =>
      when(l.getField("cdot") > r.getField("cdot"), -1)
        .when(l.getField("cdot") < r.getField("cdot"), 1)
        .when(l.getField("cid") < r.getField("cid"), -1)
        .when(l.getField("cid") > r.getField("cid"), 1)
        .otherwise(0))
    transform(slice(sorted, 1, nProbe), s => s.getField("cid"))
  }

  /** Deterministic SAMPLED codebook: the `n` corpus vectors whose ids come
    * first in (md5(id-as-string), id) order — a uniform pseudo-random
    * sample any SQL engine reproduces verbatim (md5 hex sorts identically
    * everywhere), widened to double. Centroid id = position in that order.
    * IVF does not require k-means — any coarse quantizer partitions the
    * corpus; sampled centroids trade some cluster balance for a codebook
    * that is itself oracle-checkable. */
  def sampledCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                      n: Int): Array[Seq[Double]] = {
    val rows = corpus
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(n)
      .collect()
    require(rows.length == n, s"corpus too small for $n sampled centroids")
    rows.map(_.getSeq[Double](1))
  }

  /** IVF (inverted-file) ANN over the [[sampledCodebook]]: each corpus
    * vector joins its single nearest cell, each query probes its `nProbe`
    * nearest cells, and exact cosine re-ranks within the probed cells.
    * Every step (codebook choice, nearest-centroid assignment with
    * (cos DESC, cid) tie-breaks, probe set, final re-rank) is recomputable
    * in plain SQL, so the full ANN output is oracle-checkable. Scale shape:
    * the codebook rides the expressions as literals, assignment on both
    * sides is a pure projection (no join, no shuffle), and the probe join
    * exchanges only the probed fraction — candidates/query ≈
    * corpus × nProbe / nCentroids. */
  def ivfTopKSampled(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nCentroids: Int = 16,
                     nProbe: Int = 4): DataFrame = {
    val cents = sampledCodebook(corpus, idCol, vecCol, nCentroids)
    val widen = (c: Column) => transform(c, x => x.cast("double"))
    val assigned = corpus
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .withColumn("__vd", widen(col("cv")))
      .withColumn("cid", nearestCentroid(col("__vd"), cents))
      .drop("__vd")
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__vd", widen(col("qv")))
      .withColumn("cid", explode(nearestCentroids(col("__vd"), cents, nProbe)))
      .drop("__vd")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    // no pair-dedup needed: each corpus row lives in exactly one cluster
    // and a query's probed clusters are distinct, so the join yields each
    // (query, corpus) pair at most once.
    assigned.join(probes, Seq("cid"))
      .where(col("corpus_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rnk"))
  }

  /** IVF+PQ ANN (FAISS IVFPQ shape; Jégou et al., PAMI '11, "Product
    * Quantization for Nearest Neighbor Search") — the memory-bounded scale
    * path: each corpus vector is encoded ONCE into `m` per-subspace code
    * indices (L2 argmin against md5-order-sampled sub-codebooks), and only
    * (corpus_id, coarse cid, codes) crosses the probe join — the vectors
    * themselves never shuffle and need not even be stored. Queries score
    * candidates asymmetrically: approx cosine = Σ_s dot(q_s, cb_s[code_s])
    * / (|q|·|x̂|), the reconstruction norm |x̂| derived from codes alone.
    * At 100 TB the probe exchange carries m+1 small ints per candidate
    * instead of `dim` floats, and the index is ~m bytes/vector.
    *
    * Every step — md5-order sampling, L2 argmin with (d2, j) ties, the
    * sequential-double dot spelling — is recomputable in plain SQL, so the
    * FULL output is oracle-checkable exactly like [[ivfTopKSampled]]
    * (which remains the exact-re-rank path when vectors are affordable;
    * recall here is additionally bounded by code granularity). */
  def pqTopKSampled(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, dim: Int, m: Int = 4,
                    codesPerSub: Int = 16, nCentroids: Int = 16,
                    nProbe: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val subDim = dim / m
    val coarse = sampledCodebook(corpus, idCol, vecCol, nCentroids)
    val sampled = sampledCodebook(corpus, idCol, vecCol, codesPerSub)
    // per-subspace codebooks + their (sequentially-summed) squared norms
    val cbs: Array[Array[Seq[Double]]] =
      Array.tabulate(m)(s => sampled.map(_.slice(s * subDim, (s + 1) * subDim)))
    val norm2: Array[Seq[Double]] =
      cbs.map(_.toSeq.map(c => c.foldLeft(0.0)((a, x) => a + x * x)))
    val widen = (c: Column) => transform(c, x => x.cast("double"))

    def subCols(vd: Column, prefix: String)(df: DataFrame): DataFrame =
      (0 until m).foldLeft(df) { (acc, s) =>
        acc.withColumn(s"$prefix$s", slice(vd, s * subDim + 1, subDim))
      }
    // L2 argmin per subspace (d2' = |c|^2 - 2·x_s·c; the |x_s|^2 term is
    // constant under the argmin; first minimum wins ties) as ONE codegen
    // kernel call — the HOF array_sort spelling paid m interpreted
    // comparators per row (2.5× the whole query's cost at sf0.1)
    val flatCb: Array[Double] = cbs.flatMap(_.flatMap(_.toArray))
    val flatN2: Array[Double] = norm2.flatMap(_.toArray)
    val enc = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .withColumn("__vd", widen(col("cv")))
      .withColumn("cid", nearestCentroid(col("__vd"), coarse))
      .withColumn("codes", graft.plans.VectorExpressions.pqEncode(
        col("__vd"), flatCb, flatN2, m, codesPerSub, subDim))
      // THE PQ point: vectors dropped before any exchange
      .select("corpus_id", "cid", "codes")

    val probes = subCols(col("__qd"), "__q")(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
          .withColumn("__qd", widen(col("qv"))))
      .withColumn("qnorm", sqrt(vdot(col("__qd"), col("__qd"))))
      .withColumn("cid", explode(nearestCentroids(col("__qd"), coarse, nProbe)))
      .drop("qv", "__qd")

    val ip = (0 until m).map { s =>
      vdot(col(s"__q$s"), element_at(typedlit(cbs(s).toSeq),
        element_at(col("codes"), s + 1) + 1))
    }.reduceLeft(_ + _)
    val xnorm2 = (0 until m).map { s =>
      element_at(typedlit(norm2(s)), element_at(col("codes"), s + 1) + 1)
    }.reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    enc.join(probes, Seq("cid"))
      .where(col("corpus_id") =!= col("query_id"))
      .withColumn("cos", when(col("qnorm") === 0.0 || sqrt(xnorm2) === 0.0,
        lit(0.0)).otherwise(ip / (col("qnorm") * sqrt(xnorm2))))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rnk"))
  }

  /** Pairwise cosine similarity between LABEL CENTROIDS — the class-
    * separation audit for an embedding space: high off-diagonal
    * centroid cosines mean the classes a downstream head must separate
    * sit on top of each other, a property worth measuring BEFORE
    * training on 100 TB of it. Everything folds in deterministic order
    * (per-dim sums over vec_id-sorted values, dot/norm sums over
    * dim-sorted products), so the matrix is hash-exact on any engine —
    * the unigram-NLL sorted-fold contract applied to float vectors.
    *
    * Scale shape: one exchange carrying (label, dim, id, v) quads; the
    * per-(label, dim) lists hold one label's values for one dimension
    * (class-size-bounded); the centroid table is labels×dims and every
    * pairwise step is labels²-bounded. */
  def labelCentroidCosines(df: DataFrame, labelCol: String, idCol: String,
                           vecCol: String): DataFrame = {
    val expl = df.select(col(labelCol).as("lbl"), col(idCol).as("id"),
      posexplode(col(vecCol)).as(Seq("dim", "v")))
    val cent = expl.groupBy("lbl", "dim")
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("id"), col("v")))).as("__cs"))
      .withColumn("c", aggregate(col("__cs"), lit(0.0),
        (a, x) => a + x.getField("v")) / col("n"))
      .select("lbl", "dim", "c")
    val norms = cent.groupBy("lbl")
      .agg(sort_array(collect_list(struct(col("dim"), col("c")))).as("__ds"))
      .withColumn("nrm", sqrt(aggregate(col("__ds"), lit(0.0),
        (a, x) => a + x.getField("c") * x.getField("c"))))
      .select("lbl", "nrm")
    val a = cent.select(col("lbl").as("lbl_a"), col("dim"), col("c").as("ca"))
    val b = cent.select(col("lbl").as("lbl_b"), col("dim"), col("c").as("cb"))
    a.join(b, Seq("dim")).where(col("lbl_a") < col("lbl_b"))
      .groupBy("lbl_a", "lbl_b")
      .agg(sort_array(collect_list(struct(col("dim"),
        (col("ca") * col("cb")).as("p")))).as("__ps"))
      .withColumn("dot", aggregate(col("__ps"), lit(0.0),
        (acc, x) => acc + x.getField("p")))
      .join(broadcast(norms.select(col("lbl").as("lbl_a"),
        col("nrm").as("na"))), Seq("lbl_a"))
      .join(broadcast(norms.select(col("lbl").as("lbl_b"),
        col("nrm").as("nb"))), Seq("lbl_b"))
      .select(col("lbl_a"), col("lbl_b"),
        round(col("dot") / (col("na") * col("nb")), 6).as("cos"))
  }

  /** Top-k agreement between two retrieval rankings — the diagnostic
    * that justifies (or refutes) fusing them: overlap@k near 1 means
    * the second retriever adds nothing; near 0 means the rankings see
    * different corpora slices and RRF-style fusion has headroom. Per
    * query: |A∩B| over the two top-k sets, overlap@k = |A∩B|/k and the
    * set Jaccard — exact integer counts, two rounded divisions.
    * Queries appearing in only one ranking emit with n_common=0.
    * Scale shape: both inputs are already top-k-bounded (k rows per
    * query), so every join and aggregation is candidate-list-sized. */
  def overlapAtK(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    def side(df: DataFrame, nm: String) = df
      .where(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"))
      .groupBy("query_id").agg(count(lit(1)).as(nm))
    val common = a.where(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"))
      .join(b.where(col("rnk") <= k).select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_common"))
    side(a, "n_a").join(side(b, "n_b"), Seq("query_id"), "full_outer")
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("overlap_at_k",
        round(col("n_common").cast("double") / k, 6))
      .withColumn("jaccard", when(col("n_a") + col("n_b") - col("n_common") > 0,
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6)))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR '09) of N
    * retrieval rankings — the standard hybrid-search merge (dense
    * cosine + lexical overlap) that needs NO score calibration because
    * it consumes only ranks: each appearance of a doc contributes
    * 1/(kConst + rank), fused rank orders by the sum. Every input frame
    * carries (query_id, doc_id, rnk).
    *
    * Determinism: terms are exact-rational doubles from integer ranks;
    * the per-doc fold runs over rank-sorted collected terms (ties are
    * identical values), so sums are bit-reproducible for any number of
    * input rankings. Scale shape: one union + one (query, doc)
    * aggregation + a per-query rank window over candidate lists whose
    * size is bounded by N·topK-of-inputs — never corpus-sized. */
  def rrfFuse(rankings: Seq[DataFrame], kConst: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val u = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rnk")))
      .reduce(_ unionByName _)
    val scored = u
      .withColumn("term", lit(1.0) / (lit(kConst.toDouble) + col("rnk")))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_lists"),
        sort_array(collect_list(struct(col("rnk").as("r"),
          col("term").as("t")))).as("__cs"))
      .withColumn("rrf", aggregate(col("__cs"), lit(0.0),
        (a, x) => a + x.getField("t")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    scored.withColumn("fused_rank", row_number().over(w))
      .where(col("fused_rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("n_lists"),
        round(col("rrf"), 6).as("rrf"), col("fused_rank"))
  }
}
