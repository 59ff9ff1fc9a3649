package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation — PageRank as the domain/
  * document quality weight that published web-corpus pipelines compute
  * over the hyperlink graph (harmonic/PageRank centrality as a quality
  * prior alongside the classifier and heuristic scores).
  *
  * Scale shape: each iteration is one join (ranks onto the edge list)
  * plus one groupBy over edges — the standard distributed PageRank;
  * nothing driver-side grows with the graph (N and the dangling mass
  * are scalar aggregates). The dangling mass is ALWAYS a plain
  * distributed `sum` — it is one scalar per iteration, and a
  * collect_list fold over the dangling set would funnel every dangling
  * node (10^8 of them on a web graph) into one task. Edge-set skew (a
  * hub page with 10^6 in-links) lands in one group's collect_list; for
  * hash-exact oracle parity the per-target fold is sorted-by-source
  * (the q110 recipe), which bounds the struct list by in-degree. For
  * graphs with pathological in-degree hubs, plain `sum` (order-free up
  * to 1 ulp) is the scalable spelling — `exactFold = false` selects it.
  */
object Graphs {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The small-graph gate shared by the iterative/graph operators
    * (`Dedup.connectedComponents`, `pageRank`, `triangleCounts`,
    * `kCorePeel`): at or under this many canonical edges they compute
    * exactly on the driver (one bounded collect, <= 2 longs per edge,
    * ~4 MB at the default). `spark.graft.graphDriverMaxEdges=0` pins the
    * distributed loops. */
  private[operators] def driverMaxEdges(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.graphDriverMaxEdges", "262144").toLong

  /** Both id columns integral: the driver paths sort ids themselves, and
    * only integral orderings are trivially identical to Catalyst's
    * (UTF8String binary order is not JVM String order). */
  private def integralIds(df: DataFrame): Boolean =
    df.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)

  /** Fixed-iteration PageRank over an edge list. Returns (id, pr).
    *
    * pr_{k+1}(v) = (1-d)/N + d * (Σ_{u→v} pr_k(u)/deg(u) + dangling_k/N)
    * where dangling_k is the rank mass sitting on nodes with no
    * out-edges (redistributed uniformly, the standard correction).
    *
    * Determinism: with `exactFold` (default), per-target contributions
    * fold in sorted-source order, so every per-target float add happens
    * in one engine-independent order and a SQL oracle reproduces ranks
    * bit-for-bit on graphs without dangling nodes (the q127 contract —
    * its synthetic graph has out-degree 3 everywhere). The dangling
    * mass itself is a plain distributed sum (scalar; order-free only up
    * to 1 ulp): on graphs WITH dangling nodes, exactness of the oracle
    * match extends only as far as that one scalar's fold order, which
    * is the price of not collecting the dangling set into one task.
    * Fixed iteration count (not convergence-tested): curation wants a
    * stable, rerun-identical score, not a fixpoint certificate.
    *
    * The exact fold groups a sorted struct list PER TARGET, bounded by
    * in-degree — fine on bounded-degree graphs, but a web-scale hub with
    * 10^7 in-links would materialize its whole in-edge list in one task.
    * So `exactFold = true` is a REQUEST, not a command: a cheap
    * max-in-degree probe (skipped outright when the edge COUNT is within
    * the bound, since max in-degree <= |E|) demotes the
    * run to the plain-sum fold when any target's in-degree exceeds
    * `exactFoldMaxInDegree`, logging the switch — bit-parity is a
    * property worth one bounded list, never an OOM. Plain sum differs
    * from the exact fold only in float association order (<= 1 ulp per
    * add). `exactFold = false` skips the probe and always plain-sums.
    *
    * The edge list is persisted for the call only: both paths return a
    * materialized table (a driver table or the last round's cut), so the
    * call ends its caches before it returns. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, damping: Double = 0.85,
               exactFold: Boolean = true,
               exactFoldMaxInDegree: Long = 100000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters $iters out of [1,50]")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).persist()
    try {
      // Small-graph fast path, same gate as the other iterative loops
      // (round 13). Bit-parity survives it BECAUSE of the exact-fold
      // contract: per-target contributions fold in sorted-source order —
      // an engine-independent order the driver reproduces with the same
      // IEEE ops, so the gated path emits the identical doubles (the
      // dangling scalar keeps its documented ≤1-ulp fold-order caveat,
      // same as between any two distributed runs). Gated additionally on
      // BOTH id columns being integral (`integralIds`). The count is one
      // map-side scan of the just-persisted edge list.
      val maxEdges = driverMaxEdges(edges.sparkSession)
      if (maxEdges > 0 && integralIds(e) && e.count() <= maxEdges) {
        log.info(s"pageRank: edge count <= gate $maxEdges" +
          " — exact driver iterations (distributed loop skipped)")
        driverPageRank(e, iters, damping)
      } else
        distributedPageRank(e, iters, damping,
          exactFold && resolveExactFold(e, exactFoldMaxInDegree))
    } finally e.unpersist(false)
  }

  /** The distributed iterations of [[pageRank]] over its persisted edge
    * list. Every round is a cut, so the result reads no cache, and the
    * persisted node set ends here. */
  private def distributedPageRank(e: DataFrame, iters: Int, damping: Double,
                                  useExactFold: Boolean): DataFrame = {
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .distinct()
      .persist()
    try {
      val n = nodes.count() // scalar driver value, O(1) memory
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val base = (1.0 - damping) / n
      // Each round checkpoints (id, pr, deg) — lineage cut per round, the
      // connectedComponents lesson: without it the plan doubles per
      // iteration. Two round-12 folds ride that one materialization:
      //  - the dangling rank mass (nodes with no out-edges) is an observed
      //    metric on the checkpoint's own action — one SCALAR per
      //    iteration, map-side partials, never a separate job and never a
      //    collect_list of the dangling set (node-cardinality-sized on
      //    web graphs);
      //  - deg travels WITH pr, so the contribution join no longer
      //    re-joins deg onto the edge list every round.
      // The dangling sum's addends are identical to the old standalone
      // aggregation (sum ignores the non-dangling rows' nulls); only the
      // scalar's float fold ORDER may differ — the documented ≤1-ulp
      // caveat that already applied to it.
      def cutWithDangling(prDf: DataFrame): (DataFrame, Double) = {
        val obs = org.apache.spark.sql.Observation()
        val withDeg = prDf.join(deg, prDf("id") === deg("src"), "left")
          .select(col("id"), col("pr"), col("deg"))
        val out = graft.core.Checkpoints.cut(withDeg.observe(obs,
          coalesce(sum(when(col("deg").isNull, col("pr"))), lit(0.0)).as("dangling")))
        (out, obs.get("dangling").asInstanceOf[Double])
      }
      var (pr, dangling) = cutWithDangling(nodes.select(col("id"), lit(1.0 / n).as("pr")))
      for (_ <- 1 to iters) {
        val contribs = e.join(pr, e("src") === pr("id"))
          .select(col("dst"), col("src"), (col("pr") / col("deg")).as("c"))
        val summed =
          if (useExactFold)
            contribs.groupBy("dst")
              .agg(sort_array(collect_list(struct(col("src"), col("c")))).as("cs"))
              .select(col("dst"), aggregate(col("cs"), lit(0.0),
                (a, x) => a + x.getField("c")).as("s"))
          else contribs.groupBy("dst").agg(sum("c").as("s"))
        val (next, nextDangling) = cutWithDangling(
          nodes.join(summed, nodes("id") === summed("dst"), "left")
            .select(col("id"),
              (lit(base) + lit(damping) *
                (coalesce(col("s"), lit(0.0)) + lit(dangling / n))).as("pr")))
        pr = next
        dangling = nextDangling
      }
      pr.select(col("id"), col("pr"))
    } finally nodes.unpersist(false)
  }

  /** Exact PageRank iterations over an already-bounded integral-id edge
    * set — the small-graph fast path of [[pageRank]]. Replays the
    * distributed exact-fold arithmetic operation for operation:
    * contributions pr(src)/deg(src) fold per target in ascending-source
    * order from 0.0; pr' = base + damping·(s + dangling/n); dangling
    * re-summed from the new ranks each round (ascending node order — the
    * one scalar whose fold order was already a documented ≤1-ulp
    * caveat). The caller guarantees boundedness and integral ids. */
  private def driverPageRank(e: DataFrame, iters: Int, damping: Double): DataFrame = {
    val spark = e.sparkSession
    val idType = e.schema("src").dataType
    def key(v: Any): Long = v match {
      case l: java.lang.Long => l.longValue
      case i: java.lang.Integer => i.longValue
      case other => throw new IllegalStateException(
        s"driverPageRank gated on integral ids, got: $other")
    }
    val edgesArr: Array[(Long, Long)] = e.collect()
      .map(r => (key(r.get(0)), key(r.get(1))))
    val nodes: Array[Long] =
      (edgesArr.map(_._1) ++ edgesArr.map(_._2)).distinct.sorted
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("pr",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    if (nodes.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val n = nodes.length.toLong
    val deg = new java.util.HashMap[Long, Long]()
    edgesArr.foreach { case (s, _) => deg.merge(s, 1L, _ + _) }
    // in-edge sources per target, ascending — the exact-fold order;
    // duplicate edges contribute once each, exactly like the edge rows
    val inSrcs: scala.collection.Map[Long, Array[Long]] =
      edgesArr.groupBy(_._2).map { case (dst, es) => dst -> es.map(_._1).sorted }
    val base = (1.0 - damping) / n
    var pr = new java.util.HashMap[Long, Double](nodes.length * 2)
    nodes.foreach(id => pr.put(id, 1.0 / n))
    def danglingMass(p: java.util.HashMap[Long, Double]): Double = {
      var s = 0.0
      nodes.foreach(id => if (!deg.containsKey(id)) s += p.get(id))
      s
    }
    var dangling = danglingMass(pr)
    for (_ <- 1 to iters) {
      val dn = dangling / n
      val next = new java.util.HashMap[Long, Double](nodes.length * 2)
      nodes.foreach { id =>
        var s = 0.0
        inSrcs.get(id).foreach(_.foreach(src => s += pr.get(src) / deg.get(src)))
        next.put(id, base + damping * (s + dn))
      }
      pr = next
      dangling = danglingMass(pr)
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](nodes.length)
    val intIds = idType == org.apache.spark.sql.types.IntegerType
    nodes.foreach { id =>
      val outId: Any = if (intIds) id.toInt else id
      rows.add(org.apache.spark.sql.Row(outId, pr.get(id)))
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** The exact-fold safety decision, factored out so the demotion branch
    * is directly testable. max in-degree <= |E|, so when the WHOLE edge
    * list fits the bound no probe can fail — skip it: the count is a
    * cache-warming scan of the just-persisted edge list (map-side partial
    * counts, no shuffle), strictly cheaper than the groupBy+max probe it
    * replaces for the small graphs the oracle exercises. The shuffle
    * probe only runs on graphs big enough that a hub is actually
    * possible, where its cost is noise next to the iterations it
    * protects. */
  private[graft] def resolveExactFold(e: DataFrame,
                                      exactFoldMaxInDegree: Long): Boolean =
    e.count() <= exactFoldMaxInDegree || {
      val maxIn = Option(
        e.groupBy("dst").agg(count(lit(1)).as("d"))
          .agg(max("d")).head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      val ok = maxIn <= exactFoldMaxInDegree
      if (!ok) log.warn(s"pageRank: max in-degree $maxIn exceeds " +
        s"exactFoldMaxInDegree=$exactFoldMaxInDegree — demoting the " +
        "contribution fold to plain distributed sum (order-free float " +
        "adds; ranks may differ from the exact fold by ulps)")
      ok
    }

  /** Per-node triangle participation counts over an undirected graph,
    * via degree-ordered edge orientation (the MPS / "compact-forward"
    * scheme every distributed triangle counter uses): orient each edge
    * from its lower-(degree, id) endpoint to the higher, so every
    * triangle {a,b,c} is found EXACTLY once as a wedge at its
    * lowest-ranked corner closed by one oriented edge — no post-hoc
    * dedup, and the wedge fan-out at a node is bounded by its ORIENTED
    * out-degree, which the orientation caps near sqrt(|E|) even for
    * hub nodes (the reason this survives skewed degree distributions
    * at 100 TB where a naive a-b-c self-join explodes on hubs).
    *
    * Input may contain duplicates, self-loops, or both directions of an
    * edge — all normalized away. Returns (id, n_triangles) for nodes in
    * ≥1 triangle. Two shuffles per wedge step (join on wedge center,
    * then the closing-edge join on the (lo, hi) pair) plus one corner
    * explode + count — all hash exchanges on node/pair keys. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // Both normalization products are CUT to checkpoint leaves because the
    // downstream plan fans out over them: `und` feeds the degree count
    // (twice, via the unionAll) and the orientation join, and `ranked`
    // feeds three consumers (both wedge legs + the closing-edge side).
    // Uncut, Catalyst inlines the whole upstream subtree — INCLUDING
    // whatever pipeline produced `edges` — into every branch: the q161
    // executed plan carried 31 parquet scans and 88 exchanges (13 reused)
    // of which each re-ran the co-occurrence backbone aggregation. At
    // 100 TB that is re-deriving the edge list dozens of times per count.
    // canonical-edge count rides the checkpoint's action (the standing
    // Observation pattern) for the small-graph gate below
    val undObs = org.apache.spark.sql.Observation()
    val und = graft.core.Checkpoints.cut(edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .observe(undObs, count(lit(1)).as("n")))
    val nUnd = undObs.get("n").asInstanceOf[Long]
    // Small-graph fast path, same gate as the iterative loops (round
    // 13): the second cut + the degree/orientation joins + the wedge
    // join are all fixed cost on a near-dup-sized graph, and triangle
    // counts are INTEGER-exact — any correct enumeration produces the
    // identical (id, n_triangles) rows, so the parity argument needs no
    // float reasoning at all. Integral ids only (the driver orients by
    // (deg, id) and only integral orderings trivially match Catalyst's);
    // pin spark.graft.graphDriverMaxEdges=0 to force the distributed
    // plan in measurement protocols.
    val triDriverMax = driverMaxEdges(edges.sparkSession)
    if (nUnd <= triDriverMax && integralIds(und)) {
      log.info(s"triangleCounts: $nUnd edges <= gate $triDriverMax" +
        " — exact driver enumeration (distributed plan skipped)")
      return driverTriangles(und)
    }
    // undirected degree, then the total order (deg, id) that orients edges
    val deg = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val ranked = und
      .join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("id", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("lo"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("hi"))
      .transform(graft.core.Checkpoints.cut)
    // wedges centered at the lowest-ranked corner: lo→b, lo→c (b "<" c in
    // rank order is implied by b, c both out-neighbors; order by id to
    // emit each unordered out-pair once)
    val out1 = ranked.select(col("lo").as("a"), col("hi").as("b"))
    val out2 = ranked.select(col("lo").as("a"), col("hi").as("c"))
    val wedges = out1.join(out2, Seq("a")).where(col("b") < col("c"))
    // close the wedge: the (b, c) edge in oriented form is either b→c or
    // c→b depending on rank; match the UNDIRECTED canonical pair instead
    val closing = ranked.select(
      least(col("lo"), col("hi")).as("b"), greatest(col("lo"), col("hi")).as("c"))
    val tris = wedges.join(closing, Seq("b", "c"), "left_semi")
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Exact triangle counting over an already-bounded canonical edge set
    * — the small-graph fast path of [[triangleCounts]]. The same
    * degree-ordered orientation as the distributed plan (each triangle
    * enumerated exactly once at its lowest-ranked corner), counted once
    * per corner; output rows are integers, so parity with the
    * distributed plan is structural, not numeric. */
  private def driverTriangles(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    val idType = und.schema("u").dataType
    def key(v: Any): Long = v match {
      case l: java.lang.Long => l.longValue
      case i: java.lang.Integer => i.longValue
      case other => throw new IllegalStateException(
        s"driverTriangles gated on integral ids, got: $other")
    }
    val es: Array[(Long, Long)] = und.collect()
      .map(r => (key(r.get(0)), key(r.get(1))))
    val deg = new java.util.HashMap[Long, Long]()
    es.foreach { case (u, v) => deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _) }
    // rank order (deg, id): lower rank = fewer neighbors, ties by id —
    // the same orientation the distributed plan uses
    def lowerRank(a: Long, b: Long): Boolean = {
      val da = deg.get(a); val db = deg.get(b)
      da < db || (da == db && a < b)
    }
    val out = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    val edgeSet = new java.util.HashSet[Long]()
    // canonical pairs hash safely only for 32-bit ids; fall back to a
    // boxed-tuple set above that
    val fits32 = es.forall { case (u, v) =>
      u >= 0 && u < (1L << 31) && v >= 0 && v < (1L << 31) }
    val edgeSetWide = new java.util.HashSet[(Long, Long)]()
    es.foreach { case (u, v) =>
      val (lo, hi) = if (lowerRank(u, v)) (u, v) else (v, u)
      out.computeIfAbsent(lo, _ => new java.util.ArrayList[Long]()).add(hi)
      if (fits32) edgeSet.add((math.min(u, v) << 32) | math.max(u, v))
      else edgeSetWide.add((math.min(u, v), math.max(u, v)))
    }
    def hasEdge(a: Long, b: Long): Boolean = {
      val lo = math.min(a, b); val hi = math.max(a, b)
      if (fits32) edgeSet.contains((lo << 32) | hi) else edgeSetWide.contains((lo, hi))
    }
    val tri = new java.util.HashMap[Long, Long]()
    out.forEach { (a, ns) =>
      val n = ns.size()
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val b = ns.get(i); val c = ns.get(j)
          if (hasEdge(b, c)) {
            tri.merge(a, 1L, _ + _); tri.merge(b, 1L, _ + _); tri.merge(c, 1L, _ + _)
          }
          j += 1
        }
        i += 1
      }
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](tri.size())
    val intIds = idType == org.apache.spark.sql.types.IntegerType
    tri.forEach { (id, c) =>
      val outId: Any = if (intIds) id.toInt else id
      rows.add(org.apache.spark.sql.Row(outId, c))
    }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("n_triangles",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** k-core peel, fixed `rounds`: repeatedly remove vertices with degree
    * < k and their incident edges — the dense-subgraph extractor that
    * separates structural core from hangers-on (link-spam farms and
    * one-off crawl edges peel away; the organically-linked core stays).
    * Bounded iteration, not run-to-fixpoint: both a determinism contract
    * (an engine replaying EXACTLY `rounds` peels reproduces the result
    * row for row — the BPE-style unrolled-oracle property) and a
    * scheduling one (each round is one degree aggregation + one
    * semi-join; at cluster scale you budget rounds, and peeling
    * converges in O(log n) rounds on real degree distributions). The
    * loop does exit early once a round removes no edge — every
    * remaining peel is then the identity, so the output equals the
    * full `rounds` replay row for row and both contracts hold.
    * Convergence is CHECKABLE from the output: if no vertex sits below
    * k, the peel reached the true k-core (a fixpoint round removes
    * nothing); callers wanting certainty assert min(degree) >= k.
    *
    * Returns the surviving vertices with their within-subgraph degree.
    * Scale shape per round: degree aggregation exchanges (vertex, 1)
    * pairs; the survivor filter is a broadcast-or-hash semi-join of the
    * edge list against the (shrinking) vertex set; lineage cuts via
    * [[graft.core.Checkpoints.cut]] so `rounds` iterations never stack
    * one plan. */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1: $k/$rounds")
    // Edge count rides each checkpoint's own action as an observed
    // metric (the round-12 connectedComponents fold): edges are only
    // ever REMOVED, so an unchanged count means an unchanged edge set,
    // and every remaining round is the identity — the loop exits early
    // with output IDENTICAL to running all `rounds` peels (the
    // determinism contract above survives verbatim: a fixpoint round
    // removes nothing). q192's 12-round budget spent 12 full
    // aggregate+semi-join+checkpoint passes even when the peel
    // stabilized in a third of them.
    def cutWithCount(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val out = graft.core.Checkpoints.cut(
        df.observe(obs, count(lit(1)).as("n")))
      (out, obs.get("n").asInstanceOf[Long])
    }
    var (e, prevN) = cutWithCount(edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    // Small-graph fast path, same gate as connectedComponents (round
    // 13): each peel round is a full checkpoint job (degree agg + two
    // semi-joins), almost entirely fixed cost on a near-dup-sized graph
    // — q192 paid 7 such rounds. The canonical edge set is already
    // materialized and counted (the Observation above), so when it fits
    // the bounded-collect gate, the exact integer peel runs on the
    // driver: identical loop bound, identical fixpoint-exit semantics,
    // identical (id, degree) output by construction. Pin
    // spark.graft.graphDriverMaxEdges=0 to force the distributed loop
    // (measurement protocols do).
    val maxEdges = driverMaxEdges(edges.sparkSession)
    if (prevN <= maxEdges) {
      log.info(s"kCorePeel: $prevN edges <= gate $maxEdges" +
        " — exact driver peel (distributed loop skipped)")
      return driverKCorePeel(e, k, rounds)
    }
    var round = 0
    var fixed = false
    while (round < rounds && !fixed) {
      val deg = e.select(col("u").as("id"))
        .unionAll(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select("id")
      val (next, n) = cutWithCount(e
        .join(keep.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("id", "v"), Seq("v"), "left_semi"))
      e = next
      fixed = n == prevN
      prevN = n
      round += 1
    }
    if (fixed) log.info(s"kCorePeel: fixpoint after $round of $rounds rounds")
    e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
  }

  /** Exact k-core peel over an already-bounded canonical edge set — the
    * small-graph fast path of [[kCorePeel]]. Replays the distributed
    * loop's exact semantics: at most `rounds` peels, early exit when a
    * round removes nothing, output = surviving vertices with their
    * within-subgraph degree. Generic over the id type (collected JVM
    * values carry standard equality); the caller guarantees boundedness. */
  private def driverKCorePeel(canonEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = canonEdges.sparkSession
    val idType = canonEdges.schema("u").dataType
    var es: Array[(Any, Any)] = canonEdges.collect()
      .map(r => (r.get(0), r.get(1)))
    var round = 0
    var fixed = false
    while (round < rounds && !fixed) {
      val deg = new java.util.HashMap[Any, Long]()
      es.foreach { case (u, v) =>
        deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _)
      }
      val next = es.filter { case (u, v) => deg.get(u) >= k && deg.get(v) >= k }
      fixed = next.length == es.length
      es = next
      round += 1
    }
    if (fixed) log.info(s"kCorePeel(driver): fixpoint after $round of $rounds rounds")
    val deg = new java.util.HashMap[Any, Long]()
    es.foreach { case (u, v) =>
      deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _)
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](deg.size())
    deg.forEach((id, d) => rows.add(org.apache.spark.sql.Row(id, d)))
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("degree",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }
}
