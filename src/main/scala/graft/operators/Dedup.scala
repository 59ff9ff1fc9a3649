package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators, exact → fuzzy, designed for the 100 TB document
  * case (SURVEY.md §2.6 + north-star LLM-pipeline ops).
  *
  * Design:
  *  - exact: hash-groupBy on a content digest — one shuffle on a 128-bit key,
  *    never on the document text itself (bytes moved = keys + ids, not docs).
  *  - Jaccard near-dups: an exact prefix-filter self-join over sorted
  *    shingle-hash sets ([[jaccardPairsPrefixFilter]], PPJoin). Candidates
  *    come from each document's rarest shingles and verify with exact
  *    Jaccard, so no pair above the threshold is missed.
  *  - SimHash: 64-bit fingerprint via per-token hash bit-voting, banded into
  *    4×16-bit keys for Hamming-distance≤3 blocking.
  * All sketches are deterministic (seeded hashes) — reruns give identical
  * buckets, which matters for incremental dedup at scale. */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Hot-bucket guard for LSH band joins: a degenerate corpus (thousands of
    * near-identical boilerplate docs) can put k docs under ONE band key and
    * turn the band self-join into a k² single-task explosion. Bands holding
    * more than `maxRows` rows are skipped with a logged drop count — their
    * members are boilerplate-duplicate *clusters*, which the complete
    * prefix-filter join (bucket sizes bounded by shingle df) or exact
    * dedup handles without the quadratic task.
    *
    * The input is persisted (count pass + join pass read it once each);
    * the caller ends that cache: [[hammingPairsBanded]] unpersists it once
    * its pairs are cut. The collect is bounded metadata — at most
    * totalRows/maxRows over-cap keys can exist. `maxRows <= 0` disables
    * the guard. */
  private def capBands(banded: DataFrame, bandCol: String, maxRows: Int,
                       who: String): DataFrame = {
    if (maxRows <= 0) return banded
    val cached = banded.persist()
    val hot = cached.groupBy(col(bandCol)).agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxRows).collect()
    if (hot.isEmpty) cached
    else {
      val dropped = hot.map(_.getLong(1)).sum
      log.warn(s"$who: skipping ${hot.length} over-cap band buckets " +
        s"(> $maxRows rows each, $dropped rows total) — near-identical " +
        "boilerplate clusters; use exact dedup or the prefix-filter join " +
        "for complete coverage of those")
      cached.where(!col(bandCol).isin(hot.map(_.get(0)).toSeq: _*))
    }
  }

  /** U2: keep exactly one row per key, deterministically (lowest `ord`).
    * The reference's "first wins" (pdf_ocr_rm_to_json.py:437-445) depends on
    * file order; we make the choice explicit with an order column. */
  def firstPerKey(df: DataFrame, keys: Seq[String], ord: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ord))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Exact content dedup: group by digest of normalized text, keep min(id).
    * One shuffle over (digest, id) pairs only. */
  def exactByDigest(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keyed = df.withColumn("__digest", md5(normalizedText(col(textCol))))
    firstPerKey(keyed, Seq("__digest"), idCol).drop("__digest")
  }

  /** Trimmed, whitespace-collapsed, lowercased text: the one normal form
    * the token, digest, fingerprint and char-gram operators start from. */
  private[operators] def normalizedText(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Normalized word tokens of a text column. */
  def tokens(text: Column): Column = split(normalizedText(text), " ")

  /** Distinct word n-gram shingles of a text column as a sorted hash
    * array — the gram function for multi-word keys (addresses, titles,
    * document snippets) and the word-shingle joins below. One codegen
    * kernel pass over the token array: the HOF spelling (transform over
    * [[shinglesFromTokens]]) re-evaluates the lambda-captured token
    * expression once per shingle position after projection collapse —
    * measured 20× slower on the sf0.1 documents table. Choose grams by
    * what DISCRIMINATES: char grams ([[Linkage.charGramHashes]]) suit
    * single-token keys with char-level noise; on a low-vocabulary corpus
    * char grams are shared by everything (measured: 377 distinct 3-grams
    * across 5k docs → quasi-all-pairs candidates) while word shingles
    * stay rare (vocab^n universe). */
  def wordShingleHashes(text: Column, n: Int): Column =
    graft.plans.VectorExpressions.shingleHashes(tokens(text), n)

  /** Word n-gram shingles over a MATERIALIZED token-array column, as a
    * distinct array.
    *
    * `toks` must be a column attribute (`withColumn("toks", tokens(...))`
    * first), not an inline expression: higher-order functions substitute
    * their argument into the lambda body, so an inline tokenizer would
    * re-run once per shingle position — O(tokens²) per document (measured
    * 7× on the sf0.1 bench before this split). */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column = {
    val count = greatest(size(toks) - (n - 1), lit(0))
    // guard the empty case: sequence(1, 0) is DESCENDING [1, 0] in Spark,
    // and slice(toks, 0, n) throws — a document with < n tokens must
    // yield an empty shingle set instead
    when(count < 1, array().cast("array<string>")).otherwise(
      array_distinct(transform(sequence(lit(1), count),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
  }

  // ---- prefix-filter similarity join core (PPJoin family: Xiao et al.,
  // "Efficient Similarity Joins for Near Duplicate Detection", WWW '08;
  // Chaudhuri et al., ICDE '06). jaccardPairsPrefixFilter (self-join),
  // containmentPairs and Linkage.linkPairsPrefixFilter (bipartite) are
  // built from these helpers. A join is complete only when every side
  // ranks its grams by ONE global total order and cuts its prefix at the
  // same length function — both live here, once. Each caller keeps its
  // own persists, since which frames have several consumers differs per
  // caller, and ends them once the join has cut its result.

  /** (id, sh, sz): each row's distinct gram hashes as a sorted array (the
    * `jaccardSorted` input shape) and its size; empty sets are dropped.
    * Persisted, as every caller reads it at least three times (postings,
    * the df count via postings, the verify joins), so tokenization and
    * hashing run once. MEMORY_AND_DISK (the persist default): at corpus
    * scale the hash arrays spill rather than evict-and-recompute. The join
    * that reads it ends the cache before it returns ([[jaccardJoin]],
    * [[containmentPairs]]). */
  private[operators] def gramSets(df: DataFrame, idCol: String, textCol: String,
                                  gramsOf: Column => Column): DataFrame =
    df.select(col(idCol).as("id"), gramsOf(col(textCol)).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).as("sz"))
      .where(col("sz") > 0)
      .persist()

  /** (id, sz, g): one row per gram of each set. The posting, frequency
    * and rank exchanges carry these fixed-width triples only, never the
    * arrays. */
  private[operators] def postings(sets: DataFrame): DataFrame =
    sets.select(col("id"), col("sz"), explode(col("sh")).as("g"))

  /** (g, df): document frequency of every gram found in >= 2 postings
    * over ALL of `posts` — for a bipartite join, both sides, or the two
    * prefix computations would rank under divergent orders and a pair
    * could keep its shared gram inside the prefix on one side only.
    * df=1 grams are pruned: a gram in one set connects nothing, and most
    * of a natural corpus's grams are unique, so the rank window sorts only
    * the shared tail. Pruning entries ranked ahead of a true-prefix gram
    * only lowers its rank, so the candidate set can only grow and the
    * exact verify keeps the result identical. */
  private[operators] def sharedFreq(posts: DataFrame*): DataFrame =
    posts.map(_.select("g")).reduce(_ unionAll _)
      .groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)

  /** (g, id, sz, rk, nsh): each set's shared grams ranked rarest-first in
    * the global order (df asc, hash asc), cut at `prefixLen` (a Column
    * over `sz`). rk is the rank among the set's shared grams and nsh their
    * count; both feed the positional filter of [[jaccardJoin]] (Spark's
    * column pruning drops the nsh window where no consumer reads it). */
  private[operators] def rankedPrefix(post: DataFrame, freq: DataFrame,
                                      prefixLen: Column): DataFrame =
    post.join(freq, Seq("g"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .withColumn("nsh", count(lit(1)).over(Window.partitionBy(col("id"))))
      .where(col("rk") <= prefixLen)
      .select(col("g"), col("id"), col("sz"), col("rk"), col("nsh"))

  /** Jaccard prefix length |x| - floor(|x|·t/(1+t)) + 1. Completeness:
    * the suffix |s_x| = |x| - prefLen(x) < t/(1+t)·|x| - 1 per side, and a
    * pair with J >= t has overlap o >= t/(1+t)·(|a|+|b|) > |s_a| + |s_b|,
    * so at least one common gram sits in BOTH prefixes and the pair
    * surfaces from that posting bucket. */
  private[operators] def jaccardPrefixLen(threshold: Double): Column =
    col("sz") - floor(col("sz") * (threshold / (1.0 + threshold))) + 1

  /** Candidate join + exact verify over two [[rankedPrefix]] tables cut
    * at [[jaccardPrefixLen]]: (idA, idB, jaccard) for every pair passing
    * `pairFilter` with Jaccard >= `threshold`. `setsA`/`setsB` are the
    * [[gramSets]] the prefixes came from.
    *
    * Candidates share a prefix gram and pass two upper-bound prunes, so
    * neither loses a true pair: the size ratio (J <= min/max size), and
    * PPJoin's POSITIONAL filter — a match at shared-rank positions
    * (rk_a, rk_b) bounds the overlap by 1 + min(remaining shared grams on
    * either side), while J >= t needs overlap >= t/(1+t)·(sz_a+sz_b). The
    * positional filter kills the quadratic pathology of the plain bucket
    * join: a boilerplate gram shared by k short docs sits at the END of
    * each prefix (highest df), its remaining-gram bound is tiny, and the
    * k²/2 candidates it would emit die inside the join instead of flooding
    * the verify exchange (measured at the sf10 decade: 55M candidates ->
    * linear, see PLANS.md round 6). The 1e-9 slack keeps float rounding on
    * the safe (over-keeping) side.
    *
    * The candidate id pairs are persisted so the verify joins see a REAL
    * size estimate: unestimated, the planner built its hash relations
    * from the set side instead — broadcasting every set's
    * full array twice per call (the candidate list is a bare id-pair
    * table, orders of magnitude lighter at every scale). The arrays then
    * cross exactly two exchanges (one hash join per pair side), never per
    * candidate. The verify rounds BEFORE the threshold filter (6 dp, the
    * SQL oracle's ROUND-then-filter order): a pair whose true Jaccard sits
    * within 5e-7 below the threshold must round up INTO the result.
    *
    * The result is returned materialized ([[graft.core.Checkpoints.cut]])
    * and the candidate cache ended; the caller ends the caches it passed
    * in. */
  private[operators] def jaccardJoin(rankedA: DataFrame, rankedB: DataFrame,
                                     setsA: DataFrame, setsB: DataFrame,
                                     idA: String, idB: String,
                                     pairFilter: Column, threshold: Double): DataFrame = {
    def side(ranked: DataFrame, id: String, s: String): DataFrame =
      ranked.select(col("g"), col("id").as(id), col("sz").as(s"sz_$s"),
        col("rk").as(s"rk_$s"), col("nsh").as(s"nsh_$s"))
    val alpha = lit(threshold / (1.0 + threshold)) *
      (col("sz_a") + col("sz_b")).cast("double")
    val cand = side(rankedA, idA, "a").join(side(rankedB, idB, "b"), Seq("g"))
      .where(pairFilter &&
        least(col("sz_a"), col("sz_b")).cast("double") /
          greatest(col("sz_a"), col("sz_b")) >= threshold &&
        (lit(1.0) + least(col("nsh_a") - col("rk_a"),
          col("nsh_b") - col("rk_b")).cast("double")) >= alpha - lit(1e-9))
      .select(idA, idB).dropDuplicates(idA, idB)
      .persist()
    try graft.core.Checkpoints.cut(
      cand.join(setsA.select(col("id").as(idA), col("sh").as("sh_a")), Seq(idA))
        .join(setsB.select(col("id").as(idB), col("sh").as("sh_b")), Seq(idB))
        .withColumn("jaccard", round(
          graft.plans.VectorExpressions.jaccardSorted(col("sh_a"), col("sh_b")), 6))
        .where(col("jaccard") >= threshold)
        .select(idA, idB, "jaccard"))
    finally cand.unpersist(false)
  }

  /** Exact word n-gram Jaccard near-dup pairs over the WHOLE corpus:
    * (id_a, id_b, jaccard) with id_a < id_b, via the prefix-filter self-
    * join above.
    *
    * Unlike LSH banding this is COMPLETE — every pair with Jaccard >=
    * `threshold` is found, no recall loss — yet still scale-safe:
    * candidates come from an inverted index over each document's RAREST
    * shingles (global document-frequency order), so bucket sizes are
    * bounded by shingle frequency, never by coarse metadata blocks. */
  def jaccardPairsPrefixFilter(df: DataFrame, idCol: String, textCol: String,
                               n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold $threshold out of (0,1]")
    val docs = gramSets(graft.core.ScanWidth.ensure(df), idCol, textCol,
      wordShingleHashes(_, n))
    val posting = postings(docs)
    // `ranked` is materialized ONCE: the self-join reads it as BOTH
    // sides, and Spark does not share common subtrees across self-join
    // sides — the unpersisted spelling re-ran the whole chain (posting
    // explode + the freq aggregation's second explode + the
    // exchange/sort/windows) per side: 4 full shingle explodes per call,
    // measured as ~75% of q94's runtime in the r13 phase rig. Prefix rows
    // are fixed-width longs — far smaller than the arrays the docs cache
    // already holds, so the cache trade is strictly better than the
    // recompute at any scale.
    // storage level stays the deserialized default (r14, measured): the
    // VERDICT-suggested MEMORY_AND_DISK_SER switch for these fixed-width
    // frames A/B'd flat-to-worse (q125 1.09-1.17x, q94 1.05-1.12x) with
    // no suite-pressure relief on untouched neighbors — SQL caches are
    // already compact columnar CachedBatches, so SER only adds a
    // serialize/deserialize pass (OPTIMIZATION_r14.md)
    val ranked = rankedPrefix(posting, sharedFreq(posting), jaccardPrefixLen(threshold))
      .persist()
    try jaccardJoin(ranked, ranked, docs, docs, "id_a", "id_b",
      col("id_a") < col("id_b"), threshold)
    finally { ranked.unpersist(false); docs.unpersist(false) }
  }

  /** Asymmetric containment join: pairs (id_a, id_b) where doc A's
    * shingle set is ≥ `threshold` CONTAINED in doc B's —
    * |A∩B| / |A| ≥ τ with A ≠ B. Jaccard misses these by construction
    * (a paragraph quoted inside a book has tiny Jaccard but containment
    * ≈ 1), and containment is what catches quote-plagiarism, wholesale
    * article inclusion, and template-wrapping in a pretraining corpus
    * (Fröbe et al., SIGIR '21 CopyCat shape).
    *
    * Candidate generation is the containment prefix filter on the shared
    * core's sets, postings, df count and global rank: if |A∩B| ≥ τ|A|
    * then among A's globally-ordered shingles one of the first
    * |A| - ⌈τ|A|⌉ + 1 must also be in B — so only A's prefix probes the
    * index, but (unlike the symmetric Jaccard join) the index side must
    * carry EVERY shingle of B: containment admits no size-ratio pruning —
    * a 10-shingle quote can sit inside a 10^6-shingle book. df≥2 pruning
    * still applies to both sides (a shingle in one doc connects nothing).
    * Exact verification recomputes |A∩B| on the sorted-distinct hash
    * arrays; ROUND(6)-then-filter matches the SQL oracle's order. Returns
    * (id_a, id_b, containment), materialized, with the gram-set and `freq`
    * caches ended — directional: both (A⊂B) and (B⊂A) can appear. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold $threshold out of (0,1]")
    val docs = gramSets(graft.core.ScanWidth.ensure(df), idCol, textCol,
      wordShingleHashes(_, n))
    val posting = postings(docs)
    // `freq` IS materialized (r14): probe and index both join it, so the
    // unpersisted plan re-ran the posting explode PLUS the full groupBy
    // exchange+aggregate once per side. freq is a (hash, long) table of
    // distinct shared shingles, orders of magnitude below the posting
    // table, whose own cache the r13 round reverted (measured: +0.1 s
    // isolated / +0.7 s full-suite — cache build + suite memory pressure
    // on a docs-sized frame), so the probe/index `shared` join stays lazy.
    val freq = sharedFreq(posting).persist()
    val probe = rankedPrefix(posting, freq, col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("g"), col("id").as("id_a"))
    // index side: all shared shingles (no prefix — see Scaladoc)
    val index = posting.join(freq, Seq("g")).select(col("g"), col("id").as("id_b"))
    val cand = probe.join(index, Seq("g"))
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    // exact verify on the sorted-distinct hash arrays; array_intersect is
    // a codegen'd builtin and the arrays are already distinct, so its
    // set-semantics result equals the sorted-merge intersection count
    val arrA = docs.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("sz").as("sz_a"))
    val arrB = docs.select(col("id").as("id_b"), col("sh").as("sh_b"))
    try graft.core.Checkpoints.cut(
      cand.join(arrA, Seq("id_a")).join(arrB, Seq("id_b"))
        .withColumn("containment", round(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            col("sz_a"), 6))
        .where(col("containment") >= threshold)
        .select("id_a", "id_b", "containment"))
    finally { freq.unpersist(false); docs.unpersist(false) }
  }

  /** Connected components over an undirected pair set — the step that
    * turns near-dup PAIRS into dedup DECISIONS (transitive closure:
    * A~B, B~C ⇒ {A,B,C} is one cluster; keep one canonical doc per
    * cluster). Iterative min-label propagation: every node starts
    * labeled with its own id; each round takes the min of its own and
    * its neighbors' labels; at convergence the label IS the cluster's
    * min id (the canonical survivor for keep-lowest-id dedup).
    *
    * Scale shape: each round is one join + groupBy over the EDGE set —
    * near-dup graphs are sparse (edges ≈ dup pairs ≪ corpus) and their
    * clusters have tiny diameter, so rounds are few and cheap; the
    * convergence check is an O(1)-result count per round. Each round ends
    * with a POINTER-JUMPING step (component := label(component), the
    * path-halving trick from the large-star/small-star family — Kiveris
    * et al., SoCC '14), so labels travel exponentially, not one hop:
    * convergence needs O(log diameter) rounds and the default `maxIter`
    * of 20 covers diameters beyond any real corpus. If the fixpoint is
    * STILL not reached at `maxIter`, the result would be silently wrong
    * (a dedup decision built on a partial labeling drops non-duplicates)
    * — so this THROWS. Returns (id, component). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    // Lineage truncation is the load-bearing detail of this loop. Each
    // round's plan references the previous round's labels TWICE (once in
    // the neighbor-min join, once in the merge), so without a cut the
    // analyzed plan doubles per round — and it starts from the full
    // pair-generation lineage (e.g. the whole prefix-filter join).
    // Catalyst analysis + cache canonicalization over that tree dominated
    // runtime (measured: 82s loop → 9s with checkpoints at sf0.1).
    // Checkpoints.cut materializes eagerly and replaces the plan with a
    // leaf — the iterative-algorithm pattern GraphX uses. Local blocks by
    // default; set spark.graft.reliableCheckpoint=true (+ a DFS
    // setCheckpointDir) on a cluster so an executor loss mid-iteration
    // doesn't abort the job. Superseded LOCAL checkpoint blocks are
    // released by the ContextCleaner; reliable-mode snapshots are NOT
    // auto-deleted — see graft.core.Checkpoints for the dir lifecycle.
    // The edge COUNT rides the checkpoint's own action (the Observation
    // pattern every bookkeeping read in this loop uses), so the
    // small-graph gate below costs zero extra jobs.
    // Both edge directions come from ONE read of `pairs` (r13): the old
    // two-branch union planned the ENTIRE pair-generation lineage twice —
    // for the prefix-filter callers (q76/q94/q149) that was the whole
    // posting/window/self-join/verify pipeline re-executed inside the
    // edges cut, measured at ~0.5 s per query at sf0.1. explode-of-two-
    // structs emits the identical directed-edge set from a single pass.
    val edgeObs = org.apache.spark.sql.Observation()
    val edges = graft.core.Checkpoints.cut(
      pairs.select(explode(array(
          struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
          struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        .distinct()
        .observe(edgeObs, count(lit(1)).as("n")))
    val nEdges = edgeObs.get("n").asInstanceOf[Long]
    // Small-graph fast path (round 13, measured on the q149 phase rig):
    // the loop's cost on a near-dup-sized graph is almost entirely FIXED
    // — labels-init cut + two round cuts, each a full job with three
    // joins and an aggregation, ~2.9 s at sf0.1 for 1.5k edges. When the
    // (already materialized, already counted) edge set is small enough to
    // collect within a hard byte bound, exact union-find on the driver
    // replaces the whole loop: same labeling by construction (union-find
    // roots remapped to the component-min id — the value the min-
    // propagation fixpoint converges to), one bounded collect (<= 2
    // longs x spark.graft.graphDriverMaxEdges ~= 4 MB at the default)
    // instead of 3+ checkpoint jobs, and the output is a LocalTableScan
    // every downstream join broadcasts for free. At corpus scale the
    // gate simply never fires and the distributed loop below is the
    // path; set spark.graft.graphDriverMaxEdges=0 to pin the distributed
    // loop (the specs that test the loop itself do).
    val driverMaxEdges = Graphs.driverMaxEdges(pairs.sparkSession)
    if (nEdges <= driverMaxEdges) {
      log.info(s"connectedComponents: $nEdges edges <= gate $driverMaxEdges" +
        " — exact driver union-find (distributed loop skipped)")
      return driverComponents(edges)
    }
    // Convergence via the label-sum fixpoint: min-propagation only ever
    // LOWERS labels, so an unchanged sum means an unchanged labeling.
    // The sum rides the CHECKPOINT'S OWN action as an observed metric
    // (CollectMetrics sees every row the materialization writes), so a
    // round costs ONE job, not two — the separate labelSum aggregation
    // was a full second scan of the just-checkpointed labels per round
    // (round-12 verdict item; q76/q94/q149 all ride this loop).
    // decimal(38,0) so huge id sums can't overflow a long.
    def cutWithSum(df: DataFrame): (DataFrame, Any) = {
      val obs = org.apache.spark.sql.Observation()
      val out = graft.core.Checkpoints.cut(
        df.observe(obs, sum(col("component").cast("decimal(38,0)")).as("s")))
      (out, obs.get("s"))
    }
    var (labels, prevSum) = cutWithSum(
      edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("component").as("nc")), "dst")
        .groupBy("src").agg(min("nc").as("nmin"))
      val stepped = labels
        .join(neighborMin.select(col("src").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
      // pointer jumping: component := label(component). Labels only ever
      // point DOWN (label(x) <= x) and every label is itself a node id, so
      // chasing one level halves remaining chain depth each round —
      // O(log diameter) rounds total instead of O(diameter). Jumping
      // twice per round was tried and REVERTED (round 12): near-dup
      // graphs have tiny cluster diameter, so q76's loop converges in 2
      // rounds with either variant — the second jump saved zero rounds
      // while adding a labels-sized exchange per round, a pure cost at
      // scale where the labels table is corpus-sized.
      def jump(df: DataFrame, tag: String): DataFrame = {
        val parents = df.select(col("id").as("component"), col("component").as(tag))
        df.join(parents, Seq("component"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col(tag), col("component"))).as("component"))
      }
      val (next, curSum) = cutWithSum(jump(stepped, "cc2"))
      labels = next
      converged = curSum == prevSum
      prevSum = curSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connectedComponents: label fixpoint " +
        s"NOT reached after $maxIter rounds — the labeling is partial and any " +
        s"dedup decision built on it would silently drop non-duplicates. " +
        s"Raise maxIter (rounds needed ~ log2(component diameter)).")
    log.info(s"connectedComponents: converged after $iter rounds")
    labels
  }

  /** Exact union-find over an already-bounded edge set — the small-graph
    * fast path of [[connectedComponents]]. Union-by-min (the smaller
    * root adopts) + path halving, so the final root of every node IS the
    * component-min id: byte-identical labeling to the distributed
    * min-propagation fixpoint. The caller guarantees boundedness (the
    * `graphDriverMaxEdges` gate on a count that rode the checkpoint
    * action); the output is a local relation downstream joins broadcast. */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.get(x)
      while (p != x) {
        val gp = parent.get(p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.get(x)
      }
      x
    }
    edges.select(col("src"), col("dst")).collect().foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1)
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    while (it.hasNext) { val id = it.next(); out += ((id, find(id))) }
    out.toSeq.toDF("id", "component")
  }

  /** Benchmark decontamination: ids of corpus docs sharing ANY word
    * n-gram with a (small) test/benchmark set — the overlap check run
    * before training-data release (n=8..13 word grams in practice).
    *
    * Scale shape: the test set's distinct grams BROADCAST (benchmarks are
    * tiny next to a corpus), so the corpus side explodes grams and probes
    * the broadcast hash table with NO exchange; only the matched doc ids
    * (rare) shuffle for the distinct. Joining on the gram STRING keeps
    * the operator engine-checkable; hashing grams to 8 bytes first is a
    * pure bandwidth optimization when needed. */
  def contaminatedIds(corpus: DataFrame, testDocs: DataFrame,
                      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // materialize tokens BEFORE the shingle HOF: an inline tokens(...)
    // gets collapsed into the transform lambda and re-tokenizes per
    // shingle position (the q29 trap — see PLANS.md)
    val testGrams = testDocs
      .withColumn("__toks", tokens(col(textCol)))
      .select(explode(shinglesFromTokens(col("__toks"), n)).as("g"))
      .distinct()
    graft.core.ScanWidth.ensure(corpus,
        graft.core.ScanWidth.GramExplodeSlotBytes)
      .withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol), explode(shinglesFromTokens(col("__toks"), n)).as("g"))
      .join(broadcast(testGrams), Seq("g"))
      .select(col(idCol)).distinct()
  }

  /** Widest Bloom filter [[contaminatedIdsBloomPrefilter]] probes as a
    * plan literal (2^24 bits, 4 MB); wider ones ship as joined rows. */
  private val LiteralMaxHexChars = 6

  /** [[contaminatedIds]] with a Bloom pre-filter — the two-phase probe
    * pattern for when the test-gram set outgrows an exact broadcast:
    * a benchmark suite's distinct 8-grams can run to 10^8 entries
    * (gigabytes as strings, undistributable), but fits as a Bloom filter
    * at a few bits per entry. Phase 1 broadcasts the bloom and probes
    * every corpus gram WITHOUT a shuffle; phase 2 confirms only the
    * survivors (true matches + the small false-positive mass) against
    * the exact gram set, so the exact join's input shrinks by the
    * corpus's non-matching fraction — approximate structures PRUNE,
    * exact joins DECIDE, and the result equals [[contaminatedIds]]
    * bit-for-bit because bloom probes have no false negatives.
    *
    * Grams cross both phases as md5 digests, never text (the exact join
    * on a 32-hex-char key instead of a raw 8-gram also cuts the
    * confirm-shuffle width ~4x for prose).
    *
    * SIZING IS AUTOMATIC: one cheap no-shuffle agg over the test docs
    * (total gram count from token lengths — an upper bound on distinct
    * grams, and over-sizing is the safe direction) picks the smallest
    * width holding the ~10 bits/entry law, capped at 8 hex chars (2^32
    * bits). An undersized filter saturates, every probe reads positive,
    * and the prefilter degrades into [[contaminatedIds]] plus pure
    * overhead — CORRECT at every width, which is why a hand-sized
    * parameter fails silently: q124's 2^20-bit filter was right at sf1
    * and 13x super-linear at sf10. Up to 6 hex chars (2^24 bits, a
    * 4 MB literal) the probe is the plan-literal form; wider
    * filters use the [[Sketches.bloomProbeDigest]] broadcast-word-join
    * form, whose filter side ships as joined rows instead of a
    * task-binary literal. Decisions are width- and form-independent (no
    * false negatives), so outputs never change with the sizing. */
  def contaminatedIdsBloomPrefilter(corpus: DataFrame, testDocs: DataFrame,
                                    idCol: String, textCol: String,
                                    n: Int = 8): DataFrame = {
    val testGrams = testDocs
      .withColumn("__toks", tokens(col(textCol)))
      .select(explode(shinglesFromTokens(col("__toks"), n)).as("g"))
      .select(md5(col("g")).as("gk"))
      .distinct()
    def widthFor(entries: Long): Int = {
      var h = 4 // floor: 2^16 bits, the historical default
      while (h < 8 && (1L << (4 * h)) < 10L * entries) h += 1
      h
    }
    val hexChars = {
      // the width law needs ONE number >= the distinct-gram count of
      // the SMALL side. TOTAL grams (sum of per-doc token counts, one
      // map-side agg over testDocs with NO explode/distinct shuffle)
      // upper-bounds distinct grams, and OVER-sizing is the safe
      // direction — the law is ">= 10 bits/entry", saturation only
      // threatens under-sizing. For a NON-repetitive corpus the
      // duplication factor total/distinct is small and the bound costs
      // at most a hexChar step or two of width; a repetitive corpus
      // (one n-gram repeated across a doc) makes the ratio unbounded,
      // so when the cheap bound lands at a width that CHANGES THE PLAN
      // (past the literal-probe form) it is refined by
      // approx_count_distinct over the actual grams — one extra pass
      // over the (small) test side, still no wide shuffle (the HLL
      // partials merge into a single row). The 1.1 margin covers the
      // sketch's ~5% default rsd on the over-sizing side; either way
      // decisions stay exact (the confirm join). Eager by design: a
      // plan-time scalar, like the broadcast threshold.
      val nGramsBound = math.max(testDocs
        .agg(coalesce(sum(greatest(size(tokens(col(textCol))) - (n - 1),
          lit(0)).cast("long")), lit(0L)))
        .head().getLong(0), 1L)
      val hBound = widthFor(nGramsBound)
      val nGrams =
        if (hBound <= LiteralMaxHexChars) nGramsBound
        else {
          val est = testDocs
            .withColumn("__toks", tokens(col(textCol)))
            .select(explode(shinglesFromTokens(col("__toks"), n)).as("g"))
            .agg(approx_count_distinct(col("g")))
            .head().getLong(0)
          math.max((est * 1.1).toLong, 1L)
        }
      val h = widthFor(nGrams)
      if ((1L << 32) < 10L * nGrams)
        log.warn(s"contaminatedIdsBloomPrefilter: ~$nGrams distinct test " +
          s"grams exceed the 2^32-bit cap's ~4.3e8-entry capacity at 10 " +
          "bits/entry — the filter will partially saturate and the " +
          "prefilter degrades toward pure overhead (decisions stay " +
          "exact; consider contaminatedIds direct at this test-set size)")
      log.info(s"contaminatedIdsBloomPrefilter: auto-sized bloom to " +
        s"hexChars=$h (2^${4 * h} bits) for <=$nGrams test grams" +
        (if (h > LiteralMaxHexChars) " — using broadcast-join probe form" else ""))
      h
    }
    // digest-sliced positions: gk IS an md5 hex digest, so filter bits
    // come from 3 non-overlapping substring slices of it (3 × 8 <= 32 hex
    // chars at the widest width) instead of 3 fresh md5 draws per gram —
    // on the corpus side (the 10^8-gram leg at scale) that removes ALL
    // per-gram hashing from the probe. Build + probe share the scheme.
    val bloom = Sketches.bloomWordsDigest(testGrams, Seq.empty, "gk",
      hexChars = hexChars)
    // the probe work (tokenize + explode + md5 + bloom check) is fused
    // into the corpus scan stage BY DESIGN (zero exchange) — which makes
    // it the operator most exposed to row-group starvation (measured:
    // concurrency 1.0 on a single-row-group corpus; see ScanWidth)
    val corpusGrams = graft.core.ScanWidth.ensure(corpus,
        graft.core.ScanWidth.GramExplodeSlotBytes)
      .withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol), explode(shinglesFromTokens(col("__toks"), n)).as("g"))
      .select(col(idCol), md5(col("g")).as("gk"))
    // literal-array probe while the filter fits a task-binary literal
    // (2048 longs at hexChars=4, 512k longs = 4 MB at 6): the corpus side
    // filters inside its own scan stage — zero exchange before the
    // (rare-survivor) exact confirm join. Wider filters switch to the
    // broadcast-word-join probe: same decisions, filter ships as rows.
    val probed =
      if (hexChars <= LiteralMaxHexChars)
        Sketches.bloomProbeLiteralDigest(bloom, corpusGrams, "gk",
          hexChars = hexChars)
      else
        Sketches.bloomProbeDigest(bloom, corpusGrams, Seq.empty, "gk",
          carryCols = Seq(idCol), hexChars = hexChars)
    val survivors = probed.where(col("bloom_positive"))
      .select(col(idCol), col("gk"))
    survivors
      .join(testGrams, Seq("gk"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Cross-document duplicate PASSAGES — the exact-substring half of
    * training-data dedup (Lee et al., ACL '22, "Deduplicating Training
    * Data Makes Language Models Better": document-level near-dup misses
    * long verbatim spans embedded in otherwise-distinct pages; those
    * spans measurably hurt the model). Finds all maximal shared token
    * runs of >= `minSpanTokens` between document pairs, via the
    * inverted-index spelling of the suffix-scan: position-stamped word
    * n-grams, a self-join restricted to grams seen in 2..`maxGramDf`
    * docs, then a gaps-and-islands merge of consecutive matches along
    * each (pair, offset-difference) diagonal — a run of r consecutive
    * matching n-grams is a shared span of r+n-1 tokens.
    *
    * Scale shape: the posting exchange carries (md5(gram), id, pos) —
    * never text; the df prune (>= 2 for any match, <= maxGramDf as the
    * hot-gram guard the band joins use) bounds every join bucket, so a
    * boilerplate gram shared by a million docs is excluded instead of
    * exploding quadratically — the published pipeline drops those grams
    * too, for the same reason. The islands window partitions by
    * (pair, diagonal) — granular, never global.
    *
    * Returns (id_a, id_b, a_start, b_start, span_tokens), id_a < id_b,
    * positions 0-based in token space. */
  def duplicatePassages(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 8, minSpanTokens: Int = 15,
                        maxGramDf: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minSpanTokens >= n, s"minSpanTokens $minSpanTokens must be >= n=$n")
    val toked = graft.core.ScanWidth.ensure(df,
        graft.core.ScanWidth.GramExplodeSlotBytes)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= n)
    // position-stamped grams (NOT distinct — positions are the payload);
    // toks is a materialized attribute so the HOF slices don't re-tokenize
    val grams = toked
      .select(col("id"), posexplode(
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(n))))).as(Seq("pos", "gram")))
      .select(col("id"), col("pos"), md5(col("gram")).as("gkey"))
    // df prune: only grams in 2..maxGramDf distinct docs can contribute.
    // Spelled as two SAME-KEY windows (first-occurrence marker via lag,
    // then a per-gkey sum of the markers = distinct-doc count), NOT a
    // distinct+groupBy aggregate joined back: the aggregate spelling made
    // `grams` a two-consumer frame whose branches exchanged on DIFFERENT
    // keys (so ReuseExchange couldn't share them), and the fix-of-record
    // for that — a Dataset-level persist — leaks: Dataset persist
    // registers the plan in the session CacheManager, which holds a
    // strong reference until unpersist()/clearCache(), so a long-lived
    // session calling this repeatedly accumulates cached gram tables
    // (the RDD-level ContextCleaner reclaim only applies to raw RDD
    // caching, not CacheManager entries). The window spelling gives the
    // tokenize→posexplode→md5 subtree exactly ONE consumer chain — no
    // cache, nothing to leak — at the cost of one gkey exchange + sort,
    // which the a/b self-join below then SHARES via ReuseExchange
    // (identical subtrees), so the corpus-sized leg still runs once.
    val wOrd = Window.partitionBy("gkey").orderBy("id", "pos")
    val wAll = Window.partitionBy("gkey")
    val pruned = grams
      .withColumn("__first",
        coalesce(col("id") =!= lag("id", 1).over(wOrd), lit(true)))
      .withColumn("gdf",
        sum(when(col("__first"), 1L).otherwise(0L)).over(wAll))
      .where(col("gdf") >= 2 && col("gdf") <= maxGramDf)
      .select("id", "pos", "gkey")
    val a = pruned.select(col("gkey"), col("id").as("id_a"), col("pos").as("pos_a"))
    val b = pruned.select(col("gkey"), col("id").as("id_b"), col("pos").as("pos_b"))
    val cand = a.join(b, Seq("gkey"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pos_a"),
        (col("pos_a") - col("pos_b")).as("diag"))
    // gaps-and-islands along each diagonal: consecutive pos_a = one run
    val w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    cand.withColumn("grp", col("pos_a") - row_number().over(w))
      .groupBy("id_a", "id_b", "diag", "grp")
      .agg(min(col("pos_a")).as("a_start"),
        (count(lit(1)) + lit(n - 1)).as("span_tokens"))
      .withColumn("b_start", col("a_start") - col("diag"))
      .where(col("span_tokens") >= minSpanTokens)
      .select("id_a", "id_b", "a_start", "b_start", "span_tokens")
  }

  /** The ACTION half of [[duplicatePassages]]: excise every duplicated
    * span from the HIGHER-id document of each pair (keep-first, the same
    * min-id-keeper policy as [[dropNearDups]]), returning the cleaned
    * corpus — what "deduplicating training data" actually ships (Lee et
    * al., ACL '22 remove the repeated spans, not just report them).
    *
    * Per victim doc the removed intervals are merged first (classic
    * running-max islands over a per-doc window — overlapping spans from
    * different partners must not double-count), then the text is rebuilt
    * in one pass: tokens whose position falls inside a removed interval
    * are dropped, the rest rejoin in order.
    *
    * Scale shape: the span table is output-sized (duplicate pairs), its
    * windows partition by victim doc id — granular, never global. The
    * merged intervals collapse to ONE array row per victim doc (bounded
    * by that doc's span count), so the rebuild join adds one exchange of
    * interval rows keyed by id and the corpus text crosses no exchange
    * at all when the join broadcasts (victims << corpus).
    *
    * Returns every input doc: (id, clean_text, n_tokens, n_removed),
    * untouched docs with n_removed = 0. */
  def removeDuplicatePassages(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 8, minSpanTokens: Int = 15,
                              maxGramDf: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct: the same victim interval arrives once per PARTNER doc
    // (a cloned passage shared by k sources yields k identical rows);
    // duplicates are redundant for the merge, and identical tie rows
    // would make the two-window island computation depend on tie order
    // (observed: an engine ordering ties differently between the
    // prev-max and running-sum windows splits one island in two)
    val spans = duplicatePassages(df, idCol, textCol, n, minSpanTokens, maxGramDf)
      .select(col("id_b").as("id"), col("b_start").as("s"),
        (col("b_start") + col("span_tokens")).as("e"))
      .distinct()
    // merge overlapping intervals per doc: island = rows whose start
    // exceeds the running max end of everything before them
    val w = Window.partitionBy("id").orderBy("s", "e")
    val merged = spans
      .withColumn("prev_max_e", max(col("e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1)
          .otherwise(0)).over(w))
      .groupBy("id", "island")
      .agg(min("s").as("s"), max("e").as("e"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .join(broadcast(merged), Seq("id"), "left")
      .select(col("id"),
        array_join(filter(col("toks"), (t, i) =>
          col("ivs").isNull || !exists(col("ivs"), v =>
            i >= v.getField("s") && i < v.getField("e"))), " ").as("clean_text"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(aggregate(col("ivs"), lit(0L),
          (acc, v) => acc + (v.getField("e") - v.getField("s"))), lit(0L))
          .as("n_removed"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster the embedding space with a coarse codebook, then compare
    * cosine ONLY within a cluster — the candidate set is bounded by
    * cluster sizes (~N/C per cluster), never the corpus, which is the
    * published recipe's scale shape (k-means with large C at web scale;
    * skewed clusters → raise C, same remedy as the paper's).
    *
    * Deterministic end to end so the decision is oracle-checkable: the
    * codebook is [[Similarity.sampledCodebook]] (md5-ordered sample, q53
    * precedent), assignment ties break on centroid id, and similarity
    * compares the 6-dp-rounded cosine. A doc is dropped when a LOWER id
    * in its cluster is similar (`dup_of` = the smallest such id) — the
    * min-id-keeper convention the exact-dedup path uses.
    *
    * Returns one row per input doc: (id, cid, dup_of, kept). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, threshold: Double): DataFrame = {
    val cents = Similarity.sampledCodebook(emb, idCol, vecCol, nClusters)
    val widen = (c: Column) => transform(c, x => x.cast("double"))
    val assigned = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("__vd", widen(col("v")))
      .withColumn("cid", Similarity.nearestCentroid(col("__vd"), cents))
      .drop("__vd")
    val a = assigned.select(col("cid"), col("id").as("id_a"), col("v").as("va"))
    val b = assigned.select(col("cid"), col("id").as("id_b"), col("v").as("vb"))
    val dups = a.join(b, Seq("cid"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.cosine(col("va"), col("vb")), 6))
      .where(col("cos") >= threshold)
      .groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("dup_of"))
    assigned.select(col("id"), col("cid"))
      .join(dups, Seq("id"), "left")
      .withColumn("kept", col("dup_of").isNull)
  }

  /** Near-dup dedup decision: drop every row whose id sits in a pair
    * cluster but is not the cluster's canonical (min) id. */
  def dropNearDups(df: DataFrame, idCol: String, pairs: DataFrame,
                   aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    val losers = comp.where(col("id") =!= col("component")).select(col("id"))
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** [[dropNearDups]] with a QUALITY keeper: per duplicate cluster keep
    * the row maximizing `score` (ties → smallest id) instead of the
    * smallest id — the production dedup policy (keep the best page, not
    * the first-crawled one). `score` is evaluated against `df`.
    *
    * Scale shape: identical to dropNearDups plus one component-keyed
    * aggregation — scores join the (id, component) labels (component
    * tables are pair-participant-sized, far below the corpus), the
    * keeper argmax is a map-side-combined struct max per component, and
    * the loser set anti-joins back. Text/payload columns never shuffle;
    * only (id, component, score) triples do. */
  def dropNearDupsKeepBest(df: DataFrame, idCol: String, pairs: DataFrame,
                           score: Column,
                           aCol: String = "id_a",
                           bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    // both materialized (r13): `scored` (persisted) feeds the keeper
    // aggregation AND the losers join, and `losers` (cut) is the final
    // anti-join's right side, which is pushed through any Union in `df`
    // (PushDownLeftSemiAntiJoin duplicates the right subtree per branch) —
    // unmaterialized, the whole keeper chain (incl. the score expression
    // over the corpus, e.g. a tokenizing length) re-ran once per consumer
    // per branch: 4× in the q149 plan. Both frames are inner-joined to
    // `comp`, i.e. bounded by the CLUSTERED docs only — small at any
    // scale. `scored` ends once `losers` is cut, so the call leaves no
    // cache behind.
    val scored = df.select(col(idCol).as("id"), score.as("__s"))
      .join(comp, Seq("id"))
      .persist()
    // struct max = (score asc, -id asc) → highest score, smallest id
    val keep = scored.groupBy("component")
      .agg(max(struct(col("__s"), negate(col("id")).as("__ni"))).as("__k"))
      .select(col("component"), negate(col("__k").getField("__ni")).as("keeper"))
    val losers =
      try graft.core.Checkpoints.cut(scored.join(keep, Seq("component"))
        .where(col("id") =!= col("keeper")).select(col("id")))
      finally scored.unpersist(false)
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash of the token multiset: per token, xxhash64 (seed 42);
    * each of the 64 bits votes +1/-1; fingerprint bit = sign of the vote
    * sum. Runs as one static kernel call — one loop over the tokens
    * instead of 64 interpreted array traversals. */
  def simhash64(text: Column): Column =
    graft.plans.VectorExpressions.simhash64(tokens(text))

  /** [[simhash64]] with the portable md5-derived token hash: every
    * fingerprint bit is recomputable from `md5(token)` hex in plain SQL, so
    * pair outputs are oracle-checkable end to end (the xxhash64 variant
    * stays the faster default). */
  def simhash64Portable(text: Column): Column =
    graft.plans.VectorExpressions.simhash64Md5(tokens(text))

  /** Embedding-cosine near-dup pairs, exact: all (id_a < id_b) pairs with
    * cosine >= threshold. One broadcast pass — the reference answer the
    * blocked variant below is tested against; use that one when the corpus
    * no longer fits a broadcast. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    import graft.plans.VectorExpressions.{dot => vdot}
    // norms once per row (not per pair): pair cost drops to a single dot
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .withColumn("na", sqrt(vdot(col("va"), col("va"))))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      .withColumn("nb", sqrt(vdot(col("vb"), col("vb"))))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos", when(col("na") === 0.0 || col("nb") === 0.0, lit(0.0))
        .otherwise(vdot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Embedding-cosine near-dup pairs via block-pair partitioning — the
    * COMPLETE exact join without broadcasting the corpus (the broadcast
    * variant above needs the whole corpus in every executor; this needs
    * two buckets per task). Rows hash into `nBlocks` buckets; every bucket
    * pair (i <= j) becomes one independent join task. Memory per task is
    * O(2·corpus/nBlocks) vectors, shuffle volume O(corpus × nBlocks), and
    * the inherent O(n²/2) dot products spread over nBlocks·(nBlocks+1)/2
    * tasks. Raise nBlocks as the corpus grows. */
  def embeddingNearDupPairsBlocked(df: DataFrame, idCol: String, vecCol: String,
                                   threshold: Double, nBlocks: Int = 8): DataFrame = {
    import graft.plans.VectorExpressions.{dot => vdot}
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(nBlocks)).cast("int"))
    // side A serves bucket pairs (blk, j >= blk); side B serves (i <= blk, blk)
    val a = base.withColumn("k", explode(transform(
        sequence(col("blk"), lit(nBlocks - 1)),
        j => struct(col("blk").as("i"), j.as("j")))))
      .select(col("k"), col("id").as("id_x"), col("v").as("vx"), col("nrm").as("nx"))
    val b = base.withColumn("k", explode(transform(
        sequence(lit(0), col("blk")),
        i => struct(i.as("i"), col("blk").as("j")))))
      .select(col("k"), col("id").as("id_y"), col("v").as("vy"), col("nrm").as("ny"))
    a.join(b, Seq("k"))
      .where(col("id_x") =!= col("id_y") &&
        (col("k.i") =!= col("k.j") || col("id_x") < col("id_y")))
      .withColumn("cos", when(col("nx") === 0.0 || col("ny") === 0.0, lit(0.0))
        .otherwise(vdot(col("vx"), col("vy")) / (col("nx") * col("ny"))))
      .where(col("cos") >= threshold)
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"), col("cos"))
  }

  /** SimHash near-dup pairs: block on 4×16-bit bands (any pair within
    * Hamming distance 3 shares at least one band — pigeonhole over 4 bands
    * makes the blocking COMPLETE for maxHamming <= 3), verify with popcount
    * of XOR. `portable = true` swaps the token hash for the md5-derived one
    * ([[simhash64Portable]]) so the full pair set is recomputable by a SQL
    * oracle; `maxBandRows` guards degenerate boilerplate buckets
    * ([[capBands]]). Returns (id_a, id_b, hamming). */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, portable: Boolean = false,
                          maxBandRows: Int = 10000): DataFrame = {
    val fp = if (portable) simhash64Portable(col(textCol)) else simhash64(col(textCol))
    hammingPairsBanded(graft.core.ScanWidth.ensure(df).select(col(idCol).as("id"), fp.as("fp")),
      "id", "fp", maxHamming, maxBandRows, "simhashNearDupPairs")
  }

  /** Banded hamming near-dup join over ANY 64-bit-or-narrower
    * fingerprint column — the blocking kernel shared by text simhash
    * (q34) and perceptual image hashes (q188): 4×16-bit bands, pairs
    * sharing a band verify by popcount. For maxHamming > 3 the banding
    * is a recall-trading blocker (a pair can differ in all 4 bands);
    * <= 3 it is exact by pigeonhole. Shuffle carries (band, id, fp)
    * triples only; hot bands cap via [[capBands]]. The pairs come back
    * materialized, with [[capBands]]' cache ended. */
  def hammingPairsBanded(df: DataFrame, idCol: String, fpCol: String,
                         maxHamming: Int = 3, maxBandRows: Int = 10000,
                         tag: String = "hammingPairsBanded"): DataFrame = {
    val exploded = df.select(col(idCol).as("id"), col(fpCol).as("fp"))
      .withColumn("band", explode(array((0 until 4).map(i =>
        shiftright(col("fp"), i * 16).bitwiseAND(0xFFFFL) + lit(i.toLong << 16)): _*)))
    val withFp = capBands(exploded, "band", maxBandRows, tag)
    val a = withFp.select(col("band"), col("id").as("id_a"), col("fp").as("fp_a"))
    val b = withFp.select(col("band"), col("id").as("id_b"), col("fp").as("fp_b"))
    // popcount-verify before the pair-dedup — the dedup shuffle then moves
    // only surviving (id_a, id_b, hamming) rows.
    try graft.core.Checkpoints.cut(
      a.join(b, Seq("band"))
        .where(col("id_a") < col("id_b"))
        .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
        .where(col("hamming") <= maxHamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates("id_a", "id_b"))
    finally exploded.unpersist(false)
  }

  /** Persistable MinHash index of a corpus batch: one row per (doc, band),
    * carrying the band's signature slice (the LSH blocking key) and the
    * full k-slot signature (the verify payload). Built on the PORTABLE
    * md5+affine signature ([[graft.plans.VectorExpressions.minhashSigPortable]])
    * so an index written today is probeable — and re-verifiable — by any
    * engine later, which is what an index that outlives its writer needs.
    *
    * This is the 100 TB dedup shape the whole-corpus pair joins can't
    * reach: the accumulated corpus is represented by `bands × (k+r)` longs
    * per doc (text never stored, never re-read), and each new delivery
    * joins against it by (band_idx, band_sig). Partition/bucket the
    * persisted table by `band_sig` so delivery-time probes co-locate. */
  def minhashIndexPortable(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, k: Int = 32, bands: Int = 8): DataFrame = {
    import graft.plans.VectorExpressions
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= n)
      .withColumn("sig", VectorExpressions.minhashSigPortable(col("toks"), n, k))
      .drop("toks")
      .withColumn("band_idx", explode(array((0 until bands).map(lit): _*)))
      .withColumn("band_sig", slice(col("sig"), col("band_idx") * r + 1, lit(r)))
      .select("id", "band_idx", "band_sig", "sig")
  }

  /** Incremental near-dup dedup: which docs of a NEW delivery to drop,
    * given the accumulated corpus only as its [[minhashIndexPortable]]
    * table. Candidates must share an LSH band (join on band_idx+band_sig —
    * the index's layout key), then verify as estimated Jaccard: the count
    * of agreeing signature slots, compared as INTEGERS against
    * ceil(threshold*k) so both engines decide ties identically.
    *
    * Drop rules, deterministic:
    *   - `matches_indexed`: the doc est-matches ANY indexed doc;
    *   - `intra_batch`: otherwise, the doc est-matches a SMALLER-id doc in
    *     its own batch (greedy min-dominance — chains over-drop toward the
    *     smallest id, the standard greedy; component-exact clustering is
    *     [[dropNearDups]]' job when the full pair set is wanted).
    *
    * Scale: the index never re-reads text; the new batch's signatures
    * shuffle once (band join); both verifies carry 2k longs per candidate.
    * Returns (id, reason). */
  def incrementalNearDupDrops(newDocs: DataFrame, index: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 3, k: Int = 32, bands: Int = 8,
                              threshold: Double = 0.6): DataFrame =
    // cut the freshly-built batch index HERE, not inside the drop logic:
    // it fans out to three consumers there (index probe + both
    // intra-batch legs), and uncut each one would re-tokenize and
    // re-minhash the whole delivery; callers that arrive through
    // dedupBatchAgainstIndex have already persisted their batch index,
    // and a second materialization inside the shared path would just be
    // an extra job per delivery
    nearDupDropsFromIndex(
      graft.core.Checkpoints.cut(
        minhashIndexPortable(newDocs, idCol, textCol, n, k, bands)),
      index, k, threshold)

  /** The drop decision given an ALREADY-BUILT batch index — split out so
    * [[dedupBatchAgainstIndex]] can build each batch's signatures exactly
    * once (they were being recomputed for the survivor append, doubling
    * the dominant tokenize/md5 cost per delivery). */
  private def nearDupDropsFromIndex(newIdx: DataFrame, index: DataFrame,
                                    k: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold $threshold out of (0,1]")
    val minMatches = math.ceil(threshold * k).toInt
    // `newIdx` is consumed three times below; every public caller hands
    // it in MATERIALIZED (incrementalNearDupDrops cuts the fresh build,
    // dedupBatchAgainstIndex persists it) so the fan-out reads blocks,
    // not recomputed lineage — this private helper must not add its own
    // materialization job on top (measured: a redundant inner cut cost
    // the per-delivery curve ~+1 s per delivery).
    def estMatches(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v)
    // cut: consumed by the union leg AND the intra-batch anti-join —
    // uncut, the index band-join (the expensive probe against the
    // accumulated corpus) runs twice
    val oldHits = graft.core.Checkpoints.cut(newIdx
      .join(index.select(col("band_idx"), col("band_sig"),
        col("sig").as("old_sig")), Seq("band_idx", "band_sig"))
      .where(estMatches(col("sig"), col("old_sig")) >= minMatches)
      .select("id").distinct())
    val a = newIdx.select(col("band_idx"), col("band_sig"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = newIdx.select(col("band_idx"), col("band_sig"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    val intraLosers = a.join(b, Seq("band_idx", "band_sig"))
      .where(col("id_a") < col("id_b"))
      .where(estMatches(col("sig_a"), col("sig_b")) >= minMatches)
      .select(col("id_b").as("id")).distinct()
    oldHits.withColumn("reason", lit("matches_indexed"))
      .unionByName(
        intraLosers.join(oldHits, Seq("id"), "left_anti")
          .withColumn("reason", lit("intra_batch")))
  }

  /** One delivery of the continuous-ingestion dedup: drop the batch's
    * near-dups against the accumulated index, upsert survivors into the
    * output table (hash-bucket partitioned, bounded touch), then append
    * their index rows. WRITE ORDER IS THE CRASH CONTRACT: output first,
    * keyed upsert → replaying a batch that crashed before the index
    * append re-survives the same docs and rewrites identical output rows
    * (idempotent), then appends their index rows; a replay AFTER both
    * writes drops the docs as `matches_indexed` and touches nothing.
    * Index rows may duplicate under replay — every index consumer
    * (distinct-id verifies in [[incrementalNearDupDrops]]) tolerates
    * duplicate rows by construction, which is what lets the index stay
    * APPEND-ONLY (no O(index) rewrite per delivery). */
  def dedupBatchAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
                             outPath: String, indexPath: String,
                             n: Int = 3, k: Int = 32, bands: Int = 8,
                             threshold: Double = 0.6,
                             nBuckets: Int = 16): Unit = {
    val ss = batch.sparkSession
    val b = batch.persist()
    // signatures built ONCE per batch and reused for both the drop
    // decision and the survivor index append
    val newIdx = minhashIndexPortable(b, idCol, textCol, n, k, bands).persist()
    try {
      val index =
        try ss.read.parquet(indexPath)
        catch { case _: org.apache.spark.sql.AnalysisException =>
          newIdx.limit(0) }
      val drops = nearDupDropsFromIndex(newIdx, index, k, threshold)
      val kept = b.join(drops.select(col("id").as(idCol)), Seq(idCol), "left_anti")
        .persist()
      try {
        if (!kept.isEmpty) {
          val keptB = kept.withColumn("__bucket",
            pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)))
          val buckets = keptB.select("__bucket").distinct().collect()
            .map(_.getLong(0))
          val existing =
            try Some(ss.read.parquet(outPath)
              .where(col("__bucket").isin(buckets.toSeq: _*)))
            catch { case _: org.apache.spark.sql.AnalysisException => None }
          val merged = existing match {
            case Some(e) => Merge.upsert(e, keptB, Seq(idCol))
            case None    => keptB
          }
          graft.sources.Sinks.writePartitionedStaged(merged, outPath, "__bucket")
          newIdx.join(kept.select(col(idCol).as("id")), Seq("id"), "left_semi")
            .write.mode("append").parquet(indexPath)
        }
      } finally kept.unpersist()
    } finally { newIdx.unpersist(); b.unpersist() }
  }
}
