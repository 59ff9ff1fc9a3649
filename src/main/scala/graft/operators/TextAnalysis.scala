package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language-ID heuristics, fingerprinting. All pure Column
  * expressions — a single narrow projection pass at any scale. */
object TextAnalysis {

  /** The fused one-pass stats array behind the counting/ratio family —
    * [len, punct, cjk, nTokSplit, en17, en6, de, fr, es]. Identical
    * per-expression references collapse under codegen subexpression
    * elimination, so a projection computing several of the functions
    * below tokenizes each row ONCE (the HOF spellings each re-tokenized:
    * filter/size lambdas are interpreted, outside CSE — measured ~6
    * tokenizer passes per row on the corpus-pipeline query). */
  private def stats(text: Column): Column =
    graft.plans.StringExpressions.textStatsCol(text)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = {
    val t = trim(text)
    when(t === "" || t.isNull, lit(0))
      .otherwise(element_at(stats(text), 4).cast("int"))
  }

  /** Punctuation character ratio (0..1). */
  def punctRatio(text: Column): Column = {
    val n = element_at(stats(text), 1)
    when(n === 0 || n.isNull, lit(0.0)).otherwise(
      element_at(stats(text), 2).cast("double") / n)
  }

  /** English stopword hit ratio of the token stream (0..1). */
  val enStopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "for", "on", "with", "as", "at", "by")
  def stopwordRatio(text: Column): Column = {
    val nt = element_at(stats(text), 4)
    when(nt === 0, lit(0.0))
      .otherwise(element_at(stats(text), 5).cast("double") / nt)
  }

  /** Composite quality score (0..1): length sweet-spot, moderate punctuation,
    * nonzero stopword density — the shape of reference-free quality filters
    * used in LLM data pipelines. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3.0, 4)
  }

  /** Multi-language n-gram/stopword heuristic language ID:
    * CJK char ratio > 0.2 → 'zh'; else argmax of per-language stopword hits
    * (the small, mutually disjoint marker sets of the text-stats kernel,
    * `graft.plans.StringExpressions`) with fixed precedence
    * en > de > fr > es; no hits → 'und'.
    * Pure expression — replicable in ANSI SQL for oracle checks. */
  def langIdMulti(text: Column): Column = {
    val st = stats(text)
    val n = greatest(element_at(st, 1), lit(1))
    val cjk = element_at(st, 3).cast("double") / n
    val en = element_at(st, 6)
    val de = element_at(st, 7)
    val fr = element_at(st, 8)
    val es = element_at(st, 9)
    when(cjk > 0.2, lit("zh"))
      .when(en >= de && en >= fr && en >= es && en > 0, lit("en"))
      .when(de >= fr && de >= es && de > 0, lit("de"))
      .when(fr >= es && fr > 0, lit("fr"))
      .when(es > 0, lit("es"))
      .otherwise(lit("und"))
  }

  /** Head/tail language split — the mixed-language screen: classify the
    * first and second half of the text independently; disagreement
    * flags concatenation artifacts (scraped pages that glue a foreign
    * footer/boilerplate onto the body), which poison both language
    * filters and language-conditional training mixes. Pure projection —
    * two [[langIdMulti]] evaluations over substrings, no shuffle. */
  def halfLangs(text: Column): (Column, Column) = {
    val half = floor(length(text) / 2).cast("int")
    (langIdMulti(text.substr(lit(1), half)),
      langIdMulti(text.substr(half + 1, length(text))))
  }

  /** Stable document fingerprint: md5 of case/whitespace-normalized text —
    * the exact-dedup key (content-defined; reorder-sensitive). */
  def fingerprint(text: Column): Column =
    md5(Dedup.normalizedText(text))

  /** Repetition/diversity profile (Gopher-family filters, Rae et al. 2021
    * §A1.1): [n_tokens, n_distinct, max token count, max bigram count] from
    * ONE codegen kernel pass — no explode, no shuffle; a corpus-wide scan
    * stays a narrow projection at any scale. */
  private def rep(text: Column): Column =
    graft.plans.StringExpressions.repStatsCol(text)

  /** Distinct-token / total-token ratio (type-token ratio, 0..1; 0 for
    * empty text). Low values flag template/boilerplate documents. */
  def distinctTokenRatio(text: Column): Column = {
    val r = rep(text)
    val n = element_at(r, 1)
    when(n === 0, lit(0.0))
      .otherwise(round(element_at(r, 2).cast("double") / n, 6))
  }

  /** Fraction of tokens taken by the single most frequent token (0..1). */
  def topTokenFraction(text: Column): Column = {
    val r = rep(text)
    val n = element_at(r, 1)
    when(n === 0, lit(0.0))
      .otherwise(round(element_at(r, 3).cast("double") / n, 6))
  }

  /** Fraction of bigram slots taken by the most frequent bigram (0..1) —
    * the "fraction of characters in most common n-gram" family, token
    * flavored. High values flag machine-generated loops. */
  def topBigramFraction(text: Column): Column = {
    val r = rep(text)
    val slots = greatest(element_at(r, 1) - 1, lit(1L))
    when(element_at(r, 1) <= 1, lit(0.0))
      .otherwise(round(element_at(r, 4).cast("double") / slots, 6))
  }

  // PII patterns — the RE2/Java-regex common subset (no lookaround, no
  // backrefs) so a DuckDB oracle applies the IDENTICAL pattern. Order of
  // redaction matters (emails contain dots; phones contain digits): email
  // first, then IPv4, then phone runs.
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phonePattern = "\\+?[0-9][0-9 ()-]{6,}[0-9]"

  /** Count of PII matches per kind: [emails, ipv4s, phones]. */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val noEmail = regexp_replace(text, emailPattern, "[EMAIL]")
    val noIp = regexp_replace(noEmail, ipv4Pattern, "[IP]")
    // null text -> null counts under BOTH ANSI modes (size of a null array
    // is -1 with legacy sizeOfNull but null under ANSI; guard instead)
    (when(text.isNotNull, size(regexp_extract_all(text, lit(emailPattern), lit(0)))),
      when(text.isNotNull, size(regexp_extract_all(noEmail, lit(ipv4Pattern), lit(0)))),
      when(text.isNotNull, size(regexp_extract_all(noIp, lit(phonePattern), lit(0)))))
  }

  /** Redact emails → [EMAIL], IPv4s → [IP], phone-number runs → [PHONE].
    * Pure projection; the cascade order makes each stage see the previous
    * stage's placeholders (a phone regex never eats an IP's digits). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "[EMAIL]"),
        ipv4Pattern, "[IP]"),
      phonePattern, "[PHONE]")

  /** Top-k most relevant terms per document by tf/df — the tf-idf shape
    * with a rational score (tf and df are integers, one IEEE division,
    * deterministic across engines; ln-idf ranks identically when df ranks
    * identically). Plan at scale: tf is a (doc, token) partial-agg
    * shuffle; df is vocabulary-sized (Zipf-bounded) and BROADCAST back,
    * so the only wide exchange carries (doc_id, token, tf) triples; the
    * per-doc top-k window repartitions by doc_id. */
  def topTermsPerDoc(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= ""))
          .as("token"))
    // two consumers (dfreq + the scored join) — checkpoint so the corpus
    // tokenizes once; (doc, token, tf) is far smaller than raw tokens.
    // localCheckpoint, not persist: a persist here would pin cached
    // blocks in the CacheManager for the session's lifetime (no sound
    // place to unpersist a lazily-returned result); checkpoint blocks
    // free with the RDD reference.
    val tf = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "token")
      .withColumn("score", round(col("tf").cast("double") / col("df"), 6))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("token"))))
      .where(col("rn") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("score"),
        col("rn").cast("int").as("rank"))
  }

  // URL pieces via regexes in the RE2/Java common subset (no lookaround)
  // so a SQL oracle applies the IDENTICAL patterns. parse_url would be
  // Spark-only; URL hygiene must hash identically across engines to be a
  // dedup key.
  private val urlHostRe = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
  private val urlPathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"

  /** Lower-cased host, userinfo/port stripped. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, urlHostRe, 1))

  /** Registered-domain approximation: last two dot labels of the host
    * (public-suffix lists are a lookup table upgrade, same shape). */
  def urlDomain(url: Column): Column =
    regexp_extract(urlHost(url), "([^.]+\\.[^.]+)$", 1)

  /** Path component (no query/fragment), empty → "/". */
  def urlPath(url: Column): Column = {
    val p = regexp_extract(url, urlPathRe, 1)
    when(p === "", lit("/")).otherwise(p)
  }

  /** Canonical URL for dedup keys: lowered scheme+host, path with any
    * trailing slash dropped (root stays "/"), query/fragment stripped. */
  def urlCanonical(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val path = regexp_replace(urlPath(url), "/$", "")
    concat(scheme, lit("://"), urlHost(url),
      when(path === "", lit("/")).otherwise(path))
  }

  /** Conjunctive keyword search through an inverted-index shape: explode
    * tokens, keep only query terms (the predicate prunes BEFORE the
    * shuffle — postings for three terms, not the whole corpus), aggregate
    * per doc, keep docs hitting ALL terms. Returns (id, tf_total) ranked
    * by total term frequency. The same plan a posting-list intersection
    * runs at index-serving scale: per-term selectivity bounds the shuffle,
    * never the corpus size. */
  def searchAllTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val toks = df.select(col(idCol),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= ""))
          .as("token"))
      .where(col("token").isin(terms.map(x => x: Any): _*))
    toks.groupBy(col(idCol))
      .agg(count_distinct(col("token")).as("n_terms"),
        count(lit(1)).as("tf_total"))
      .where(col("n_terms") === terms.size)
      .select(col(idCol), col("tf_total"))
  }

  /** BM25 ranked retrieval (Robertson/Okapi, the lexical-search workhorse):
    * score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)). Returns the top `k` docs per
    * query as (query_id, rnk, doc_id, score), score rounded to 6 dp.
    *
    * Scale shape (the posting-list plan, not the naive one):
    *  - per-doc lengths come from `size(tokens)` inside the scan — NO
    *    corpus-wide groupBy for dl;
    *  - the explode is pruned to the union of query terms BEFORE the
    *    (doc,term) shuffle, so the exchange carries the query postings,
    *    never the corpus;
    *  - df and the query map are broadcast (bounded by |terms|); N/avgdl
    *    is a single-row aggregate crossJoin;
    *  - the rank window partitions by query_id — bounded per query.
    *
    * Cross-engine determinism: per-(query,doc) term contributions are
    * folded in sorted-term order via a sequential `aggregate` (the q30
    * list_sum precedent), avgdl is exact-integer-sum / count, and every
    * constant folds from the same decimal literals both engines parse
    * identically — so the 6-dp scores hash-match the SQL oracle. */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, queries: Seq[(Long, Seq[String])], k: Int,
               k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty), "empty query set")
    val spark = df.sparkSession
    val allTerms = queries.flatMap(_._2).distinct
    val qRows = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
    val qdf = spark.createDataFrame(qRows).toDF("query_id", "token")

    val withDl = df.select(col(idCol).as("doc_id"),
        filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= "").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val stats = withDl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val postings = withDl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .where(col("token").isin(allTerms.map(x => x: Any): _*))
      .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    val termDf = postings.groupBy("token").agg(count(lit(1)).as("df"))

    val scored = postings
      .join(broadcast(termDf), "token")
      .join(broadcast(qdf), "token")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * ((col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))))
    val perDoc = scored.groupBy("query_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("token"), col("contrib")))).as("cs"))
      .withColumn("score",
        round(aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("contrib")), 6))
      .drop("cs")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    perDoc.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"))
  }

  /** Overlapping token-window chunking — the RAG/pretraining chunker: each
    * document becomes (chunk_idx, chunk) rows of `chunkSize` whitespace
    * tokens starting every `chunkSize - overlap`, the final window clipped
    * at the document end (a short document yields one chunk). The window
    * generation runs in a one-pass codegen kernel
    * (`VectorExpressions.tokenChunks`); the explode is the one-row→many
    * generator shape, so chunk rows parallelize downstream like any table. */
  def chunkText(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, chunkSize: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap $overlap must be in [0, chunkSize=$chunkSize)")
    df.select(col(idCol), posexplode(
        graft.plans.VectorExpressions.tokenChunks(
          split(trim(col(textCol)), "\\s+"), chunkSize, chunkSize - overlap))
      .as(Seq("chunk_idx", "chunk")))
  }

  /** Line-level boilerplate removal — the web-corpus cleaning step that
    * strips lines repeated across many documents (cookie banners, nav
    * menus, share buttons) while leaving document-specific text intact
    * (the RefinedWeb / CCNet line-dedup recipe). A line is boilerplate
    * when its trim-normalized form appears in >= `minDf` DISTINCT
    * documents; every occurrence of a boilerplate line is dropped and the
    * remaining lines are reassembled in original order.
    *
    * Scale shape: the line-frequency pass exchanges (md5(line), doc_id)
    * pairs only — never line text — and map-side partial aggregation
    * collapses within-document repeats before the shuffle. The
    * boilerplate set is by construction tiny (lines crossing a
    * corpus-wide frequency threshold), so it rides back as a BROADCAST
    * and the keep/drop decision is a broadcast anti-probe with no second
    * corpus exchange; only the reassembly groupBy shuffles kept lines
    * once. Returns (id, clean_text, n_lines, n_dropped). */
  def dropBoilerplateLines(df: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String, minDf: Int,
                           sep: String = "\n"): org.apache.spark.sql.DataFrame = {
    require(minDf >= 2, s"minDf $minDf must be >= 2")
    val lines = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .withColumn("lkey", md5(trim(col("line"))))
    // distinct-doc frequency: two-level aggregate so a line repeated
    // inside one document counts once (distinct first = map-side combine)
    val boiler = lines.select("lkey", "id").distinct()
      .groupBy("lkey").agg(count(lit(1)).as("line_df"))
      .where(col("line_df") >= minDf)
      .select("lkey")
    val kept = lines
      .join(broadcast(boiler), Seq("lkey"), "left_anti")
    kept.groupBy("id")
      .agg(
        array_sort(collect_list(struct(col("pos"), col("line")))).as("ls"),
        count(lit(1)).as("n_kept"))
      .join(df.select(col(idCol).as("id"),
        size(split(col(textCol), java.util.regex.Pattern.quote(sep))).cast("long").as("n_lines")),
        Seq("id"), "right")
      .select(col("id"),
        coalesce(array_join(transform(col("ls"), x => x.getField("line")), sep), lit(""))
          .as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Per-document negative log-likelihood under the corpus unigram LM —
    * the perplexity-style quality signal (the CCNet recipe scores docs
    * with a KenLM model; the self-supervised variant here builds the LM
    * from the corpus itself). Vocabulary = the `vocabSize` most frequent
    * tokens (ties broken by token text, so the cut is deterministic);
    * add-one smoothing over vocab + one OOV bucket:
    * p(tok) = (cnt+1)/(N+V+1) in-vocab, 1/(N+V+1) for OOV. Returns
    * (id, n_tokens, avg_nll) with avg_nll = -sum(ln p)/n_tokens at 6 dp.
    *
    * Cross-engine exactness is engineered like q110's BM25: per-document
    * contributions fold in sorted-token order (OOV mass folded as one
    * deterministic term), every ln() argument is the same exact rational
    * on both engines, and the final division + round happen once.
    *
    * Scale shape: token counts are one map-side-combined shuffle of
    * (token, n); the vocab is top-V of that — a broadcast. The per-doc
    * pass aggregates (id, token) locally, probes the broadcast vocab, and
    * folds — one corpus exchange of (id, token, cnt) total. */
  def unigramNll(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, vocabSize: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= ""))
          .as("token"))
    val counts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum("cnt").as("n_total"), count(lit(1)).as("n_distinct"))
    val vocab = counts
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("token"))))
      .where(col("rk") <= vocabSize)
      .select("token", "cnt")
    val perDocTok = toks.groupBy("id", "token").agg(count(lit(1)).as("n"))
      .join(broadcast(vocab), Seq("token"), "left")
    // ln p folds per document in sorted-token order; the denominator
    // ln(N+V+1) factors out: nll = n_tokens*ln(N+V+1) - sum(n*ln(cnt+1))
    // — fewer ln() calls and one exactly-reproducible fold
    perDocTok
      .groupBy("id")
      .agg(
        sum(col("n")).as("n_tokens"),
        sort_array(collect_list(struct(col("token"),
          (col("n").cast("double") * log(coalesce(col("cnt"), lit(0L)) + lit(1.0)))
            .as("term")))).as("cs"))
      .crossJoin(broadcast(totals))
      .withColumn("nll",
        col("n_tokens").cast("double") * log(col("n_total") + lit(vocabSize.toDouble) + lit(1.0))
          - aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("term")))
      .select(col("id"), col("n_tokens"),
        round(col("nll") / col("n_tokens"), 6).as("avg_nll"))
  }

  /** DSIR-style importance weights (Xie et al., NeurIPS '23): score each
    * corpus document by how target-like its hashed unigram features are —
    * the log-likelihood ratio between a target-set feature distribution
    * and the corpus-wide background distribution, summed over the
    * document's tokens. Features are md5-hashed into 4096 buckets (three
    * leading hex nibbles — the same portable-hash family as the simhash /
    * LSH oracles), both distributions add-one smoothed. Returns every doc
    * with (id, n_tokens, dsir_score) at 6 dp — positive = target-like.
    *
    * Scale shape: both bucket tables are fixed 4096-row aggregates →
    * broadcast; the corpus pass is one map-side-combined exchange of
    * (id, bucket, cnt) and a sorted fold. The target set never needs to
    * be big — that is the method's point. */
  def dsirScores(corpus: org.apache.spark.sql.DataFrame,
                 target: org.apache.spark.sql.DataFrame,
                 idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val nBuckets = 4096
    def bucketed(df: org.apache.spark.sql.DataFrame) = df
      .select(col(idCol).as("id"),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= ""))
          .as("token"))
      .withColumn("bucket", conv(substring(md5(col("token")), 1, 3), 16, 10).cast("long"))
    val tgt = bucketed(target).groupBy("bucket").agg(count(lit(1)).as("t_cnt"))
    val bg  = bucketed(corpus).groupBy("bucket").agg(count(lit(1)).as("b_cnt"))
    val tgtTotal = tgt.agg(sum("t_cnt").as("t_total"))
    val bgTotal  = bg.agg(sum("b_cnt").as("b_total"))
    // λ_b = ln(t_b+1) - ln(T+B) - ln(c_b+1) + ln(C+B); the totals factor
    // out of the per-doc fold exactly like unigramNll's denominator
    val lam = bg.join(tgt, Seq("bucket"), "left")
      .select(col("bucket"),
        (log(coalesce(col("t_cnt"), lit(0L)) + lit(1.0))
          - log(col("b_cnt") + lit(1.0))).as("lam_core"))
    bucketed(corpus)
      .groupBy("id", "bucket").agg(count(lit(1)).as("n"))
      .join(broadcast(lam), Seq("bucket"))
      .groupBy("id")
      .agg(
        sum(col("n")).as("n_tokens"),
        sort_array(collect_list(struct(col("bucket"),
          (col("n").cast("double") * col("lam_core")).as("term")))).as("cs"))
      .crossJoin(broadcast(tgtTotal)).crossJoin(broadcast(bgTotal))
      .withColumn("score",
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("term"))
          + col("n_tokens").cast("double")
            * (log(col("b_total") + lit(nBuckets.toDouble))
              - log(col("t_total") + lit(nBuckets.toDouble))))
      .select(col("id"), col("n_tokens"), round(col("score"), 6).as("dsir_score"))
  }

  /** Bigram-LM negative log-likelihood — the n-gram upgrade of
    * [[unigramNll]] (real quality filters score with conditional n-gram
    * probabilities, not unigram frequency):
    * `p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V+1)` (add-one smoothed), doc
    * score = mean `-ln p` over its bigrams, 6 dp. Docs with < 2 tokens
    * emit no row. The per-doc fold runs over the (w1,w2)-sorted term
    * list, so the float sum is order-pinned and engine-exact.
    *
    * Scale shape: the corpus bigram table is NOT broadcastable (it grows
    * with the corpus) — doc bigrams hash-join it on (w1,w2), already the
    * key both sides aggregate on, then the context counts join on w1.
    * Three map-side-combined aggregations + two co-keyed joins; text
    * never shuffles, only bigram keys and counts. */
  def bigramNll(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, vocabSize: Int): org.apache.spark.sql.DataFrame = {
    val toksArr = df.select(col(idCol).as("id"),
      filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= "").as("toks"))
    val bi = toksArr.where(size(col("toks")) >= 2)
      .select(col("id"), explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1).as("w1"),
        slice(col("toks"), lit(2), size(col("toks")) - 1).as("w2"))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val perDoc = bi.groupBy("id", "w1", "w2").agg(count(lit(1)).as("n"))
    perDoc.join(big, Seq("w1", "w2")).join(uni, Seq("w1"))
      .groupBy("id")
      .agg(sum("n").as("n_bigrams"),
        sort_array(collect_list(struct(col("w1"), col("w2"),
          (col("n").cast("double") *
            (log(col("c1") + lit(vocabSize.toDouble) + lit(1.0))
              - log(col("c12") + lit(1.0)))).as("term")))).as("cs"))
      .withColumn("nll",
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("term")))
      .select(col("id"), col("n_bigrams"),
        round(col("nll") / col("n_bigrams"), 6).as("avg_nll"))
  }

  /** Corpus vocabulary build: token frequencies over the whole corpus,
    * pruned to `minCount`, ranked (count desc, token asc — deterministic)
    * and capped at `maxSize`. Returns (token, cnt, token_id) with ids
    * 0..maxSize-1 — the tokenizer-training prep step of an LLM data
    * pipeline (the id table feeds [[vocabTokenStats]] and any
    * fixed-vocab encoder).
    *
    * Scale shape: the only wide exchange is the token-count aggregation
    * (map-side combined — the exchange carries one row per DISTINCT
    * token per partition, never the token stream). The rank window runs
    * single-partition, but on the minCount-pruned candidate set — vocab-
    * sized (≤ a few 100k rows), the same bounded-small-side reasoning as
    * the IVF codebook; the orderBy+limit prunes it to `maxSize` before
    * any downstream broadcast. */
  def buildVocab(df: org.apache.spark.sql.DataFrame, textCol: String,
                 minCount: Long, maxSize: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    df.select(
        explode(filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= ""))
          .as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token")).limit(maxSize)
      .withColumn("token_id", row_number().over(w) - 1)
  }

  /** Encode each document against a fixed vocabulary: known tokens map to
    * their vocab id, out-of-vocabulary tokens to a stable negative bucket
    * `-1 - (md5(token) mod nOovBuckets)` (fasttext-style hash fallback,
    * portable md5 family). Emits per-doc (id, n_tokens, n_known, n_oov,
    * id_checksum) — the checksum is the exact sum of emitted ids, so any
    * drift in vocab ranking or OOV hashing shows up as a value diff.
    *
    * Scale shape: vocab broadcasts (bounded by buildVocab's cap); the
    * token stream never shuffles — one map-side explode + broadcast-hash
    * lookup, then a per-doc aggregation map-side-combined on the doc id
    * the stream is already clustered by. */
  def vocabTokenStats(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, vocab: org.apache.spark.sql.DataFrame,
                      nOovBuckets: Int): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= ""))
        .as("token"))
    toks.join(broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .withColumn("tid", coalesce(col("token_id"),
        lit(-1L) - conv(substring(md5(col("token")), 1, 3), 16, 10)
          .cast("long") % nOovBuckets))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        count(col("token_id")).as("n_known"),
        (count(lit(1)) - count(col("token_id"))).as("n_oov"),
        sum(col("tid")).as("id_checksum"))
  }

  /** PMI collocations (Church & Hanks '90) over adjacent token bigrams —
    * the classic multi-word-expression detector corpus curators run to
    * find boilerplate phrases and tokenizer merge candidates:
    * pmi(w1,w2) = ln( c12·N / (c1·c2) ) where c12 is the adjacent-bigram
    * count, c1/c2 the unigram counts, N the corpus bigram total.
    *
    * Cross-engine determinism: the ln() argument is built as one double
    * division of two exact integer products (c12·N and c1·c2 — both far
    * under 2^63 at any corpus size where c* fit in longs), so both
    * engines call ln on the identical double; round once at 6 dp.
    *
    * Scale shape: bigrams are a zip of the token stream with itself
    * shifted by one — generated map-side inside the scan, no window over
    * positions; unigram and bigram counts are two map-side-combined
    * exchanges; the final assembly joins the (minCount-pruned) bigram
    * table to the unigram table on each endpoint — keyed hash joins on
    * the word, with the pruned bigram side orders of magnitude smaller
    * than the token stream. */
  def pmiCollocations(df: org.apache.spark.sql.DataFrame, textCol: String,
                      minCount: Long): org.apache.spark.sql.DataFrame = {
    val toks = df.select(
      filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= "").as("ts"))
    val bigrams = toks
      .select(explode(zip_with(
        slice(col("ts"), lit(1), greatest(size(col("ts")) - 1, lit(0))),
        slice(col("ts"), lit(2), greatest(size(col("ts")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bg = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .where(col("c12") >= minCount)
    val totals = bigrams.agg(count(lit(1)).as("n_bigrams"))
    bg.join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12") * col("n_bigrams")).cast("double") /
          (col("c1") * col("c2")).cast("double")), 6).as("pmi"))
  }

  /** Exact-phrase search via positional postings — "docs containing this
    * exact token sequence", the lexical primitive BM25 can't express
    * (bag-of-words scoring loses adjacency). Tokens are position-stamped
    * with posexplode, postings are pruned to the phrase's terms BEFORE
    * any shuffle (the bm25TopK discipline), and a k-token phrase is a
    * chain of (k-1) equi-joins on (doc, position+offset) — each join a
    * hash join on the (doc_id, pos) pair, with the smallest posting list
    * bounding the output. Returns (phrase_id, doc_id, n_matches) for
    * docs with ≥1 occurrence, materialized, so the pruned postings every
    * phrase reads are persisted only for the call; overlapping matches
    * each count. */
  def phraseSearch(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String,
                   phrases: Seq[(Long, Seq[String])]): org.apache.spark.sql.DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_._2.nonEmpty), "empty phrase set")
    val allTerms = phrases.flatMap(_._2).distinct
    val postings = df.select(col(idCol).as("doc_id"),
        posexplode(filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= "")))
      .toDF("doc_id", "pos", "token")
      .where(col("token").isin(allTerms.map(x => x: Any): _*))
      .persist()
    val perPhrase = phrases.map { case (pid, terms) =>
      val first = postings.where(col("token") === terms.head)
        .select(col("doc_id"), col("pos").as("p0"))
      val matched = terms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
        acc.join(
          postings.where(col("token") === t)
            .select(col("doc_id"), (col("pos") - i).as("p0")),
          Seq("doc_id", "p0"))
      }
      matched.groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
        .select(lit(pid).as("phrase_id"), col("doc_id"), col("n_matches"))
    }
    try graft.core.Checkpoints.cut(perPhrase.reduce(_ unionByName _))
    finally postings.unpersist(false)
  }

  /** Character-level Shannon entropy (nats) over the lowercased
    * alphanumeric+space channel — the gibberish/keyboard-mash detector
    * that complements the token-level repetition family: "aaaaaaaa" and
    * base64 blobs sit at the two extremes token stats can't separate.
    * The channel restriction pins cross-engine splitting semantics to
    * single-byte chars (no grapheme/code-unit ambiguity).
    *
    * Pure per-row expression — entropy never shuffles; at 100 TB this is
    * a scan-stage projection. Spelled as H = (n·ln n − Σ k·ln k)/n with
    * the Σ folded over counts sorted ASCENDING, so an engine recomputing
    * it (ordered-aggregate SQL) reproduces the exact fp fold. Empty
    * channel → 0. */
  def charEntropy(text: Column): Column = {
    val chars = filter(
      split(regexp_replace(lower(text), "[^a-z0-9 ]", ""), ""),
      c => c =!= "")
    val counts = array_sort(transform(array_distinct(chars),
      c => size(filter(chars, x => x === c))))
    val n = size(chars).cast("double")
    // null text -> null entropy under BOTH ANSI modes (size of the null
    // char array reads -1 off-ANSI / null on-ANSI; decide on the input)
    when(text.isNull, lit(null).cast("double"))
      .when(size(chars) <= 0, lit(0.0)).otherwise(round(
        (n * log(n) - aggregate(counts, lit(0.0),
          (acc, k) => acc + k.cast("double") * log(k.cast("double")))) / n, 6))
  }

  /** Byte-pair-encoding merge training (Sennrich et al., ACL 2016) —
    * the tokenizer-training step of an LLM data pipeline, distributed:
    * learn `nMerges` frequent adjacent symbol pairs, greedily, over the
    * corpus WORD-TYPE table (BPE's own trick: statistics live on
    * distinct words × frequency, so the iteration cost is
    * vocabulary-sized no matter how large the corpus — the corpus is
    * read ONCE to build the type table).
    *
    * Each ROUND: (1) adjacent-pair counts weighted by word frequency —
    * one vocabulary-sized aggregation; (2) the top `batch * 8` pairs
    * under the total order (count desc, left, right) — a bounded
    * TakeOrdered to the driver, never the pair table; (3) a greedy pick
    * of up to `batch` mutually COMPATIBLE merges from that window: a
    * pair is picked unless any of its three symbols {left, right,
    * left+right} was already claimed by an earlier pick of the SAME
    * round — the "non-chaining" rule. It keeps the round's counts
    * honest (no picked pair consumes another picked pair's occurrences:
    * overlap at a shared position needs a shared symbol) and blocks
    * textual chaining through the merged string (picking (t,h) and then
    * (th,e) in one round would let the second replace consume
    * boundaries the first just created); (4) the picks apply in pick
    * order to every word's symbol string via `replace('|a||b|' →
    * '|ab|')`, with a lineage cut.
    *
    * `batch = 1` is exact per-merge greedy BPE (the first candidate is
    * the argmax). A 32 k-merge vocabulary cannot afford one Spark job
    * chain per merge, so larger batches cut driver round-trips and
    * checkpoints by the batch factor — the standard approximation
    * (per-round counts are a round stale vs. a per-merge recount).
    *
    * Each symbol carries its OWN delimiters ('|a||b||a||b|'), which is
    * what makes plain left-to-right non-overlapping replace EXACTLY
    * symbol-level greedy BPE application: consecutive matches share no
    * characters, so '|b||b||b|' with merge (b,b) → '|bb||b|' and
    * '|a||b||a||b|' → '|ab||ab|' (a single-space-joined form would
    * CONSUME the shared delimiter and skip every second back-to-back
    * repeat). Both Spark's `replace` and ANSI REPLACE share these
    * semantics, so an engine unrolling (rank window → greedy fold →
    * chained REPLACE) per round reproduces every stage — the q203
    * oracle spells the greedy fold as a recursive CTE over the
    * candidate ranks. Symbols stay in the lowercased [a-z] channel
    * (word boundaries = anything else), so '|' can never occur inside
    * a symbol.
    *
    * `symbols_after` is the corpus symbol count after the whole ROUND.
    * Under-picking (fewer than `batch` compatible candidates in the
    * window) applies a smaller round; rounds stop once `nMerges` merges
    * are applied or the pair table empties. Returns
    * (step, round, left, right, merged, pair_freq, symbols_after). */
  def bpeMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
                nMerges: Int, batch: Int): org.apache.spark.sql.DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1: $nMerges")
    require(batch >= 1, s"batch must be >= 1: $batch")
    val spark = df.sparkSession
    import spark.implicits._
    var cur = df
      .select(explode(filter(split(trim(
          regexp_replace(lower(col(textCol)), "[^a-z]+", " ")), " "),
        t => t =!= "")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"), concat(lit("|"),
        concat_ws("||", filter(split(col("word"), ""), c => c =!= "")),
        lit("|")).as("rep"))
      .localCheckpoint(true)
    val out = scala.collection.mutable
      .ArrayBuffer[(Int, Int, String, String, String, Long, Long)]()
    var step = 0
    var exhausted = false
    val rounds = (nMerges + batch - 1) / batch
    for (round <- 1 to rounds if !exhausted && step < nMerges) {
      val m = math.min(batch, nMerges - step)
      val toksC = filter(split(trim(col("rep"), "|"), "\\|\\|"), t => t =!= "")
      val cands = cur
        .select(col("freq"), toksC.as("t"))
        .select(col("freq"), explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(batch * 8)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cands.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val picks = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        for ((a, b, c) <- cands if picks.size < m) {
          val syms = Seq(a, b, a + b)
          if (!syms.exists(used.contains)) { picks += ((a, b, c)); used ++= syms }
        }
        // the compression curve (corpus symbol count after this round)
        // RIDES the checkpoint's own materialization as an observed
        // metric instead of a separate aggregate job per round (r14)
        val symObs = org.apache.spark.sql.Observation()
        cur = cur.withColumn("rep",
            picks.foldLeft(col("rep")) { case (e, (a, b, _)) =>
              replace(e, lit(s"|$a||$b|"), lit(s"|$a$b|")) })
          .observe(symObs, sum(col("freq") *
            size(filter(split(trim(col("rep"), "|"), "\\|\\|"),
              t => t =!= ""))).as("ns"))
          .localCheckpoint(true)
        val nSyms = symObs.get("ns").asInstanceOf[Long]
        picks.zipWithIndex.foreach { case ((a, b, c), j) =>
          out += ((step + j + 1, round, a, b, a + b, c, nSyms)) }
        step += picks.size
      }
    }
    out.toSeq.toDF("step", "round", "left", "right", "merged",
      "pair_freq", "symbols_after")
  }

  /** Keyword-in-context (KWIC) snippet extraction: for every occurrence
    * of `term` in a document, the surrounding ±`window` tokens joined
    * back into a display string — the search-result snippet / concordance
    * op (retrieval surfaces rank with [[bm25TopK]], then SHOW with this).
    *
    * Scale shape: tokenize once per row, explode only MATCH positions
    * (the term filter prunes before any fan-out, as in [[searchAllTerms]]
    * — a rare term costs its postings, never the corpus), then a pure
    * array-slice projection; nothing joins, nothing re-reads the text.
    * Multiple occurrences emit one row each with their token position. */
  def kwicSnippets(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, term: String,
                   window: Int): org.apache.spark.sql.DataFrame = {
    require(window >= 0, s"window must be >= 0: $window")
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= "")
    val hi = least(col("pos") + lit(window), size(col("__toks")))
    val lo = greatest(col("pos") - lit(window), lit(1))
    df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol), col("__toks"),
        posexplode(col("__toks")).as(Seq("pos0", "tok")))
      .where(col("tok") === lit(term))
      .withColumn("pos", col("pos0") + 1) // 1-based, the slice convention
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(col("__toks"), lo, hi - lo + 1)).as("snippet"))
  }

  /** Zipf power-law fit of the token frequency distribution per group —
    * the corpus-health screen: natural language sits near slope −1 on
    * the log-log rank/frequency plot; templated or machine-generated
    * text bends the curve (flat head = boilerplate vocabulary, steep
    * tail = mail-merge filler). Fits OLS over the top `topN` ranks in
    * (ln rank, ln count) space.
    *
    * Determinism: ln values quantize to integer MICRO-NATS
    * (round(ln·10⁶)) before the fit, so the moment sums ride
    * [[Validation.linearFit]]'s exact DECIMAL(38) path — the shared-ln
    * contract of the LM-score families, then pure integer arithmetic.
    * Slope/R² are scale-invariant under the ×10⁶; the intercept divides
    * back out. Scale shape: one (group, token) count exchange
    * (map-side combined), a per-group rank window over the COUNT table
    * (vocabulary-bounded, Zipf's own guarantee), one 5-moment
    * aggregation. */
  def zipfFit(df: org.apache.spark.sql.DataFrame, groupCol: String,
              textCol: String, topN: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(col(groupCol).as("grp0"),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= ""))
          .as("token"))
      .groupBy("grp0", "token").agg(count(lit(1)).as("cnt"))
    val ranked = counts.withColumn("rk", row_number().over(
        Window.partitionBy("grp0").orderBy(col("cnt").desc, col("token"))))
      .where(col("rk") <= topN)
    val pts = ranked.select(col("grp0"),
      round(log(col("rk").cast("double")) * 1e6, 0).cast("long").as("x"),
      round(log(col("cnt").cast("double")) * 1e6, 0).cast("long").as("y"))
    Validation.linearFit(pts, "grp0", col("x"), col("y"))
      .select(col("grp"), col("n"), col("slope"),
        round(col("intercept") / 1e6, 6).as("intercept_ln"), col("r2"))
  }

  /** Per-group quality-percentile gate — FineWeb-style "keep the top
    * `keepFrac` of each language" thresholding, where an absolute score
    * cutoff would starve low-resource groups (their score distribution
    * sits lower, not their value). Returns every doc with its group,
    * score, percent_rank (ascending — 1.0 = best in group) and the keep
    * decision `pr >= 1 - keepFrac`.
    *
    * Determinism: percent_rank is the exact rational (rank−1)/(n−1) —
    * identical doubles on any engine — and the score is already
    * quantized (4 dp), so the gate compares exact values; rank ties get
    * identical pr and identical decisions. A singleton group (n = 1)
    * is pinned to pr = 1.0: SQL percent_rank gives its only row 0/0 → 0,
    * which would DROP the group's only (and therefore best) document —
    * "keep the top fraction of each group" must never starve a group of
    * size 1. Scale shape: one exchange by group for the window; groups
    * are languages (dozens), so skew is the concern — acceptable because
    * the window computes rank only (no per-row state beyond the sort),
    * and a salt-and-merge two-pass rank is the documented upgrade if one
    * language dominates. */
  def qualityPercentileFilter(df: org.apache.spark.sql.DataFrame,
                              idCol: String, textCol: String,
                              groupCol: String,
                              keepFrac: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp")
    df.select(col(idCol), col(groupCol).as("grp"),
        qualityScore(col(textCol)).as("q"))
      .withColumn("pr", when(count(lit(1)).over(w) === 1, lit(1.0))
        .otherwise(percent_rank().over(w.orderBy(col("q"), col(idCol)))))
      .withColumn("kept", col("pr") >= lit(1.0) - lit(keepFrac))
  }
}
