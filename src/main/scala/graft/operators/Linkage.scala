package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Record linkage (entity resolution) — the BIPARTITE cousin of the
  * near-dup family: match records of one table against records of
  * ANOTHER table by fuzzy text similarity, without an all-pairs join.
  *
  * The reference does linkage implicitly — dirty registry names arrive
  * from OCR and are matched to clean master data by normalization plus
  * exact keys (`ImportDbdFinancial.php:149-154` tax-id canonicalization,
  * `pdf_ocr_rm_to_json.py:219-229` common-prefix doc/ref repair). This
  * operator is the general form for when no exact key survives the
  * noise: character n-gram Jaccard with a prefix-filter candidate join
  * (PPJoin, Xiao et al., WWW '08), which is EXACT — the blocked result
  * equals the all-pairs result at the same threshold, so the oracle can
  * recompute it as a plain cross join at test scale.
  *
  * Scale shape: the pair join is the prefix-filter core in [[Dedup]]
  * (`gramSets` → `postings` → `sharedFreq` → `rankedPrefix` →
  * `jaccardJoin`, also behind [[Dedup.jaccardPairsPrefixFilter]]), run
  * across two tables: candidate generation exchanges (gram-hash, id,
  * size) triples only, bucket sizes are bounded by gram document
  * frequency (rarest-first prefixes), df=1 grams are pruned before the
  * rank window, and the gram arrays cross exactly one exchange per side
  * for the verify join. No all-pairs anywhere; a 10^9-row registry
  * against a 10^6-row master joins on rare-gram buckets, not on the
  * cross product.
  */
object Linkage {

  /** Distinct character n-grams of a whitespace-normalized, lowercased
    * string, as a SORTED array of portable 60-bit md5 hashes (the
    * jaccardSorted kernel input shape; same hash family as the sketches,
    * so any md5-capable engine reproduces the gram sets bit-for-bit). */
  def charGramHashes(s: Column, n: Int): Column = {
    val norm = Dedup.normalizedText(s)
    val cnt = greatest(length(norm) - (n - 1), lit(0))
    val grams = when(cnt < 1, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(1), cnt),
        i => norm.substr(i, lit(n)))))
    array_sort(array_distinct(transform(grams,
      g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))))
  }

  /** All (left_id, right_id, jaccard) pairs across two tables whose
    * `gramsOf` Jaccard is >= threshold — complete at the given threshold,
    * never materializing the cross product. Prefix-filter completeness
    * carries over from the self-join unchanged, because the gram order
    * is computed over the union of both sides' postings (see
    * `Dedup.sharedFreq`). The pairs come back materialized, with every
    * cache the join made ended. */
  def linkPairsPrefixFilter(left: DataFrame, leftId: String, leftText: String,
                            right: DataFrame, rightId: String, rightText: String,
                            gramsOf: Column => Column,
                            threshold: Double = 0.55): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold $threshold out of (0,1]")
    val l = Dedup.gramSets(left, leftId, leftText, gramsOf)
    val r = Dedup.gramSets(right, rightId, rightText, gramsOf)
    val lPost = Dedup.postings(l)
    val rPost = Dedup.postings(r)
    // materialized: BOTH prefix computations below consume `freq`, and an
    // unmaterialized plan re-ran the union of the two posting explodes per
    // consumer (4 explodes per call — the same self-join-sides miss the
    // r13 round measured in Dedup.jaccardPairsPrefixFilter). Shared-gram
    // counts are a (hash, long) table, tiny at any scale.
    val freq = Dedup.sharedFreq(lPost, rPost).persist()
    val prefixLen = Dedup.jaccardPrefixLen(threshold)
    try Dedup.jaccardJoin(Dedup.rankedPrefix(lPost, freq, prefixLen),
      Dedup.rankedPrefix(rPost, freq, prefixLen), l, r,
      "left_id", "right_id", lit(true), threshold)
    finally { freq.unpersist(false); l.unpersist(false); r.unpersist(false) }
  }

  /** The DECIDE step: best right-side match per left record (highest
    * Jaccard, right_id as the deterministic tie-break). Window partitions
    * by left_id — granular keys, never a global window. */
  def bestMatch(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("left_id"))
      .orderBy(col("jaccard").desc, col("right_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1).drop("rnk")
  }

  /** Edit-distance self-join: all pairs with Levenshtein distance ≤
    * `maxDist`, WITHOUT an all-pairs comparison — the partition-based
    * segment filter (PASS-JOIN, Li/Deng/Wang/Feng, PVLDB 5(3) 2011).
    * Complements the Jaccard linkage family: set similarity tolerates
    * token reorder but misses transposed/typo'd characters inside a
    * token; edit distance is the metric for keys where ORDER is the
    * content (doc refs, tax ids, OCR'd names — the C23 lookalike-repair
    * family's measurement side).
    *
    * Completeness (pigeonhole): any string is cut into τ+1 contiguous
    * segments; ≤ τ edits leave at least one segment untouched, so one
    * side's segment occurs VERBATIM in the other string, at a start
    * shifted by at most τ. Candidates are therefore: index every string's
    * τ+1 segments keyed by (source length, segment idx, segment text);
    * probe every string with each substring that could match an indexed
    * segment (lengths within ±τ, starts within the ±τ window, clamped);
    * equi-join on the key. Strings shorter than 2τ+1 chars can't host
    * τ+1 non-degenerate segments — they pair all-vs-all inside one
    * residue bucket (a bounded domain: every member is shorter than
    * 2τ+1 ≈ a handful of chars). Levenshtein (threshold form — early
    * exit above τ) verifies candidates; output is exact.
    *
    * Scale shape: the candidate exchange carries (len, idx, segment)
    * keys — bucket size is bounded by how many strings share a verbatim
    * segment at the same length/index, never by block metadata; probe
    * fan-out is ≤ (2τ+1)²·(τ+1) rows per string (18 at τ=1), each a
    * short substring. Text crosses one exchange per side for the verify
    * join; no driver materialization; the quadratic residue bucket holds
    * only near-empty strings. */
  def editDistanceSelfJoin(df: DataFrame, idCol: String, strCol: String,
                           maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val tau = maxDist
    val m = tau + 1 // segments per indexed string
    // DEDUP-FIRST: collapse identical strings to one representative
    // before any segment machinery. Real key corpora are heavily
    // duplicated (measured: 20k part rows, 64 distinct names, hottest
    // name ×347) — running the segment join on raw rows turns every
    // identity group into an all-pairs segment bucket (~50M candidates,
    // 87 s at sf0.1); on distinct strings the same join sees 64 rows.
    // Identity groups re-expand at the END: intra-group pairs are
    // dist-0 by definition (no Levenshtein call), cross-group pairs
    // multiply out id lists. Output size is the answer's own size —
    // irreducible; the id arrays are bounded by the duplication factor
    // (a near-constant key column wants the GROUP representation, not
    // pairs — use the groups frame directly in that regime).
    val rows = df.select(col(idCol).cast("long").as("id"),
      col(strCol).as("s"))
    val groups = rows.groupBy(col("s"))
      .agg(sort_array(collect_list(col("id"))).as("ids"),
        min(col("id")).as("gid"))
      .withColumn("l", length(col("s")))
      .localCheckpoint(true) // 3 consumers: intra, index/probe, expand
    val intra = groups.where(size(col("ids")) > 1)
      .select(col("ids"), explode(col("ids")).as("id1"))
      .select(col("id1"), explode(col("ids")).as("id2"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), lit(0).as("dist"))
    val base = groups.select(col("gid").as("id"), col("s"), col("l"))
    // deterministic even partition: rem = l % m longer segments FIRST;
    // start/len are pure arithmetic in (l, i) so the probe side can
    // recompute them for any candidate length without seeing the string
    def segStart(l: Column, i: Column): Column =
      i * floor(l / lit(m)).cast("int") + least(i, pmod(l.cast("int"), lit(m)))
    def segLen(l: Column, i: Column): Column =
      floor(l / lit(m)).cast("int") +
        when(i < pmod(l.cast("int"), lit(m)), 1).otherwise(0)
    val idx = base.where(col("l") >= m)
      .select(col("id"), col("s"), col("l"),
        explode(sequence(lit(0), lit(m - 1))).as("i"))
      .select(col("id").as("idx_id"), col("l").as("tl"), col("i"),
        col("s").substr(segStart(col("l"), col("i")) + 1,
          segLen(col("l"), col("i"))).as("seg"))
    // probe: for each indexable length tl within ±τ of own length, each
    // segment slot, each start in the clamped ±τ shift window
    val probes = base
      .select(col("id").as("p_id"), col("s").as("ps"), col("l").as("pl"))
      .withColumn("tl", explode(sequence(col("pl") - tau, col("pl") + tau)))
      .where(col("tl") >= m)
      .withColumn("i", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("slen", segLen(col("tl"), col("i")))
      .withColumn("plo", greatest(segStart(col("tl"), col("i")) - tau, lit(0)))
      .withColumn("phi", least(segStart(col("tl"), col("i")) + tau,
        col("pl") - col("slen")))
      .where(col("phi") >= col("plo"))
      .withColumn("p", explode(sequence(col("plo"), col("phi"))))
      .select(col("p_id"), col("tl"), col("i"),
        col("ps").substr(col("p") + 1, col("slen")).as("seg"))
    val segCand = probes.join(idx, Seq("tl", "i", "seg"))
      .where(col("p_id") =!= col("idx_id"))
      .select(least(col("p_id"), col("idx_id")).as("id1"),
        greatest(col("p_id"), col("idx_id")).as("id2"))
    // residue: strings too short to index pair all-vs-all (their partner
    // is at most τ longer, i.e. still < 2τ+1 chars — a bounded bucket)
    val short = base.where(col("l") < lit(2 * tau + 1))
      .select(col("id"), col("l"))
    val shortCand = short.select(col("id").as("a_id"), col("l").as("a_l"))
      .join(short.select(col("id").as("b_id"), col("l").as("b_l")),
        col("a_id") < col("b_id") &&
          abs(col("a_l") - col("b_l")) <= tau)
      .select(col("a_id").as("id1"), col("b_id").as("id2"))
    val strs = base.select(col("id"), col("s"))
    val gidPairs = segCand.unionByName(shortCand)
      .dropDuplicates("id1", "id2")
      .join(strs.select(col("id").as("id1"), col("s").as("s1")), Seq("id1"))
      .join(strs.select(col("id").as("id2"), col("s").as("s2")), Seq("id2"))
      .withColumn("dist", levenshtein(col("s1"), col("s2"), tau))
      .where(col("dist") >= 1) // distinct strings: 0 is impossible
      .select(col("id1").as("gid_a"), col("id2").as("gid_b"), col("dist"))
    val inter = gidPairs
      .join(groups.select(col("gid").as("gid_a"), col("ids").as("ids_a")),
        Seq("gid_a"))
      .join(groups.select(col("gid").as("gid_b"), col("ids").as("ids_b")),
        Seq("gid_b"))
      .select(col("ids_b"), col("dist"), explode(col("ids_a")).as("ia"))
      .select(col("ia"), col("dist"), explode(col("ids_b")).as("ib"))
      .select(least(col("ia"), col("ib")).as("id1"),
        greatest(col("ia"), col("ib")).as("id2"), col("dist"))
    intra.unionByName(inter)
  }
}
