package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical (BM25) retrieval over a document corpus — the keyword
  * counterpart of the embedding retrieval in [[Similarity]]. A
  * training-data pipeline uses it to pull topic slices out of a raw
  * corpus ("all documents about X"), to audit near-duplicate clusters,
  * and as the lexical arm of hybrid (BM25 + cosine) retrieval.
  *
  * Scale shape (the part that must survive 100 TB): the corpus is
  * tokenized and EXPLODED ONCE, but the very next operator is a
  * map-side `term IN (query vocabulary)` filter, so the only rows that
  * ever reach a shuffle are (doc, term) postings for terms some query
  * actually uses — corpus-size-independent per non-matching token. The
  * per-term document frequencies are an aggregate of that filtered
  * posting set (a handful of rows, broadcast back), the query list
  * itself is a broadcast literal table, and the final top-k is a
  * WindowGroupLimit (map-side trim to k per query before the single
  * rank shuffle). Nothing in the plan materializes corpus-sized state.
  *
  * Determinism discipline (the oracle hashes every value): the ONLY
  * transcendental in BM25 is `ln` inside idf, and libm implementations
  * differ in the last ulp across engines. So idf is snapped to 1e-6
  * fixed-point immediately after the `ln` (one rounding per term — the
  * entire cross-engine exposure), every subsequent mul/div is IEEE
  * basic arithmetic on bit-identical inputs, each per-term score is
  * snapped to 1e-6 fixed-point LONGS, and the per-document sum runs in
  * exact integer arithmetic — associative, so shuffle order cannot
  * change the total. Ties on the fixed-point score break by doc id.
  */
object Retrieval {

  /** BM25 top-k: score `queries` (id -> query text) against the corpus
    * and keep the `k` best documents per query.
    *
    * Classic Robertson/Sparck-Jones BM25:
    *   idf(t)   = ln((N - df + 0.5) / (df + 0.5) + 1)
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    *
    * Query-term multiplicity is ignored (standard for short queries);
    * query text tokenizes with the same normalization as documents.
    * Output: (query_id, doc_id, rank, score), score rounded to 4
    * decimals for presentation (ranking uses the full fixed-point sum).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "bm25TopK: empty query set")
    require(k >= 1, "bm25TopK: k must be >= 1")
    import graft.functions.text
    val qTerms = queryTerms(queries)
    val vocab = qTerms.map(_._2).distinct

    // Corpus stats: one aggregate-only pass (count + total token mass).
    // A single bounded driver row — the same pattern as the centroid /
    // carry tables elsewhere; never row data.
    val toks = text.tokenize(col(textCol))
    val stats = docs.agg(
      count(lit(1)).as("n"), sum(size(toks)).as("s")).head()
    val nDocs = stats.getLong(0)
    val avgDl = stats.getLong(1).toDouble / nDocs

    // Postings for query-vocabulary terms only. The isin filter sits
    // directly on the exploded generator output — map-side, before the
    // (term, doc) aggregation shuffle.
    val posting = docs
      .select(col(idCol), size(toks).as("__dl"), explode(toks).as("__t"))
      .filter(col("__t").isin(vocab: _*))
      .groupBy(col("__t"), col(idCol), col("__dl"))
      .agg(count(lit(1)).as("__tf"))

    bm25Rank(posting, idCol, nDocs, avgDl, qTerms, k, k1, b)
  }

  /** Normalized distinct (query_id, term) pairs of a query set. */
  private def queryTerms(queries: Seq[(Long, String)]): Seq[(Long, String)] =
    queries.flatMap { case (qid, qt) =>
      qt.trim.toLowerCase.split("\\s+").toIndexedSeq.distinct
        .filter(_.nonEmpty).map(qid -> _)
    }

  /** Shared BM25 scoring + ranking over a vocabulary-filtered posting
    * frame `(__t, idCol, __dl, __tf)`. Document frequency aggregates
    * from the postings themselves — a vocabulary-bounded table (the
    * filter selects terms, never drops a term's rows, so the count is
    * the true corpus df). idf snaps to 1e-6 fixed-point right after
    * the `ln` — the single cross-engine rounding point; per-term
    * scores snap to fixed-point longs; the per-doc sum is exact
    * integer arithmetic (shuffle-order-proof).
    */
  private def bm25Rank(posting: DataFrame, idCol: String, nDocs: Long,
      avgDl: Double, qTerms: Seq[(Long, String)], k: Int,
      k1: Double, b: Double): DataFrame = {
    val spark = posting.sparkSession
    val dfByTerm = posting.groupBy(col("__t"))
      .agg(count(lit(1)).as("__df"))
      .withColumn("__idf_fp", round(
        log((lit(nDocs.toDouble) - col("__df") + 0.5d) /
          (col("__df") + 0.5d) + 1.0d) * 1e6d).cast("long"))

    val qdf = spark.createDataFrame(qTerms).toDF("query_id", "__t")

    val tfD = col("__tf").cast("double")
    val lenNorm = lit(1.0d - b) + col("__dl") * b / avgDl
    val termScoreFp = round(
      (col("__idf_fp").cast("double") / 1e6d) *
        (tfD * (k1 + 1.0d)) / (tfD + lenNorm * k1) * 1e6d)
      .cast("long")

    val scored = posting
      .join(broadcast(dfByTerm), "__t")
      .join(broadcast(qdf), "__t")
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(termScoreFp).as("__score_fp"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__score_fp").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol),
        col("rank").cast("long").as("rank"),
        round(col("__score_fp") / 1e6d, 4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Materialize a lexical index for [[bm25FromIndex]] — the
    * "index once, query many" scale path beside [[bm25TopK]]'s
    * single-shot scan (the exact analog of the ANN index next to the
    * brute-force scan in [[Similarity]]). Layout:
    *
    *  - `dir/postings/` — one row per (term, doc): `(__t, id, __dl,
    *    __tf)`, directory-partitioned by `pb = pmod(xxhash64(term),
    *    nBuckets)` and RANGE-sorted by term within each bucket. A
    *    query's vocabulary resolves to a handful of `pb` values →
    *    partition pruning skips every other directory, and the term
    *    equality filter lands on sorted row groups → min/max stats
    *    skip most files inside the bucket. Cost per query is
    *    vocabulary-sized, NOT corpus-sized — the property a 100 TB
    *    corpus needs (the direct path re-tokenizes everything per
    *    query batch).
    *  - `dir/stats/` — `(n_docs, total_tokens)` rows, summed at read
    *    time: stats are MERGEABLE PARTIALS, so `mode = "append"` is
    *    the incremental-maintenance path — index a novel batch (the
    *    [[graft.operators.Dedup.incrementalDedup]] output is the
    *    natural feed) and serving reflects the union corpus with no
    *    rebuild. Appending the same documents twice double-counts;
    *    novelty is the caller's contract.
    *
    * Document frequency is NOT stored: the postings of a term are
    * complete by construction, so query-time df is an aggregate of
    * the (pruned) read — one less table to keep consistent.
    */
  def writeLexicalIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int = 64, mode: String = "overwrite"): Unit = {
    require(nBuckets >= 1, "writeLexicalIndex: nBuckets must be >= 1")
    import graft.functions.text
    val toks = text.tokenize(col(textCol))
    docs.select(col(idCol).as("id"), size(toks).as("__dl"),
        explode(toks).as("__t"))
      .groupBy(col("__t"), col("id"), col("__dl"))
      .agg(count(lit(1)).as("__tf"))
      .withColumn("pb", pmod(xxhash64(col("__t")), lit(nBuckets)))
      .repartitionByRange(col("pb"), col("__t"))
      .write.mode(mode).partitionBy("pb").parquet(s"$dir/postings")
    docs.agg(count(lit(1)).as("n_docs"),
        sum(size(toks)).cast("long").as("total_tokens"))
      .write.mode(mode).parquet(s"$dir/stats")
  }

  /** BM25 top-k served FROM a [[writeLexicalIndex]] index: identical
    * results to [[bm25TopK]] (same postings, same fixed-point
    * arithmetic, same ranking), but the corpus side is the stored
    * postings — the query vocabulary's bucket list reaches the scan
    * as a partition filter and the term list as a pushed parquet
    * predicate. `idCol` names the doc-id column of the OUTPUT (the
    * index stores it as `id`).
    */
  def bm25FromIndex(spark: SparkSession, dir: String,
      queries: Seq[(Long, String)], k: Int, idCol: String = "doc_id",
      nBuckets: Int = 64, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "bm25FromIndex: empty query set")
    require(k >= 1, "bm25FromIndex: k must be >= 1")
    val qTerms = queryTerms(queries)
    val vocab = qTerms.map(_._2).distinct

    // stats rows are mergeable partials (one per write generation)
    val stats = spark.read.parquet(s"$dir/stats")
      .agg(sum(col("n_docs")), sum(col("total_tokens"))).head()
    val nDocs = stats.getLong(0)
    val avgDl = stats.getLong(1).toDouble / nDocs

    // The vocabulary's partition buckets, computed by the SAME
    // engine expression that wrote them (xxhash64 must match the
    // writer bit-for-bit, so it is evaluated, not re-implemented).
    // Vocabulary-sized local work.
    import spark.implicits._
    val buckets = vocab.toDF("__t")
      .select(pmod(xxhash64(col("__t")), lit(nBuckets)))
      .collect().map(_.getLong(0)).distinct.toSeq

    val posting = spark.read.parquet(s"$dir/postings")
      .filter(col("pb").isin(buckets: _*))
      .filter(col("__t").isin(vocab: _*))
      .select(col("__t"), col("id").as(idCol), col("__dl"), col("__tf"))
    bm25Rank(posting, idCol, nDocs, avgDl, qTerms, k, k1, b)
  }

  /** Reciprocal-rank fusion of ranked retrieval arms (Cormack et al.,
    * SIGIR'09): each arm contributes `1/(kRrf + rank)` per (query,
    * doc) and the fused ranking orders by the summed contribution.
    * Arm-agnostic — any frame with (query, id, rank) columns fuses,
    * so BM25, exact cosine, and ANN arms compose freely.
    *
    * Scale shape: every arm is already top-k-per-query (k·|queries|
    * rows — probe-sized, not corpus-sized), so fusion is a union +
    * one tiny aggregate + WindowGroupLimit. The corpus-scale work
    * lives in the arms; fusion adds no corpus-sized shuffle.
    *
    * Determinism: the contribution is snapped to an integer
    * (`round(1e9/(kRrf+rank))` — one IEEE division of exact integers,
    * identically rounded in any engine) and summed as exact longs, so
    * arm order and shuffle order cannot move a hash. Ties on the
    * fused score break by doc id.
    */
  def rrfFuse(arms: Seq[DataFrame], queryCol: String, idCol: String,
      rankCol: String, k: Int, kRrf: Int = 60): DataFrame = {
    require(arms.nonEmpty, "rrfFuse: no arms")
    require(k >= 1, "rrfFuse: k must be >= 1")
    require(kRrf >= 1, "rrfFuse: kRrf must be >= 1")
    val contrib = arms.map(_.select(
      col(queryCol), col(idCol),
      round(lit(1e9d) / (lit(kRrf.toDouble) + col(rankCol).cast("double")))
        .cast("long").as("__rrf")))
      .reduce(_ unionByName _)
    val fused = contrib.groupBy(col(queryCol), col(idCol))
      .agg(sum(col("__rrf")).as("rrf_fp"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_fp").desc, col(idCol))
    fused
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryCol), col(idCol),
        col("rank").cast("long").as("rank"), col("rrf_fp"))
      .orderBy(col(queryCol), col("rank"))
  }

  /** TF-IDF top-k keyword extraction per document — the corpus-wide
    * inversion of [[bm25TopK]] (there a few queries scan all docs; here
    * every doc gets its k most DISTINCTIVE terms): the per-doc labels a
    * pipeline uses for topic slicing, dataset cards, and cluster
    * naming.
    *
    * Scale shape: the corpus tokenizes and explodes once into (doc,
    * term, tf) via one map-side-combined aggregation; document
    * frequency aggregates the SAME posting frame on term — a
    * vocabulary-bounded table (grows with distinct terms, not corpus
    * rows) that equi-joins back on the term key (AQE broadcasts it when
    * small; at web-corpus vocabulary it stays a sound shuffle join —
    * never corpus x corpus). The per-doc top-k is a WindowGroupLimit on
    * the doc key: map-side trim to k before the single rank shuffle.
    *
    * Determinism: idf = ln(N/df) snapped to 1e-6 fixed-point right
    * after the `ln` (the single transcendental — the BM25 discipline),
    * score = tf * idf_fp in EXACT long arithmetic, ties break (score
    * desc, term asc).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "tfidfTopTerms: k must be >= 1")
    import graft.functions.text
    val toks = text.tokenize(col(s"`$textCol`"))
    val nDocs = docs.count()
    val posting = docs
      .select(col(s"`$idCol`"), explode(toks).as("__t"))
      .groupBy(col(s"`$idCol`"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val dfByTerm = posting.groupBy(col("__t"))
      .agg(count(lit(1)).as("__df"))
      .withColumn("__idf_fp",
        round(log(lit(nDocs.toDouble) / col("__df")) * 1e6d).cast("long"))
    val w = Window.partitionBy(col(s"`$idCol`"))
      .orderBy(col("__score_fp").desc, col("__t"))
    posting.join(dfByTerm, "__t")
      .withColumn("__score_fp", col("__tf") * col("__idf_fp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(s"`$idCol`"), col("rank").cast("long").as("rank"),
        col("__t").as("term"), col("__tf").as("tf"),
        round(col("__score_fp") / 1e6d, 6).as("tfidf"))
  }

  /** Hard-negative mining for retrieval-model training (the DPR /
    * Contriever recipe): per query, the top-scoring documents that are
    * NOT the labeled positive — lexically confusable, semantically
    * wrong, exactly what contrastive training needs. `positives` maps
    * query_id → the labeled positive doc; a query WITHOUT a label uses
    * the top-1 result as its positive proxy (standard when mining from
    * unlabeled corpora — the best hit stands in for the answer).
    * Negatives re-rank densely 1..k.
    *
    * Scale shape: one [[bm25TopK]] pass at k+1 (its map-side
    * vocabulary filter and fixed-point determinism carry over), a
    * broadcast positives map, and a window over ≤ (k+1)·|queries|
    * rows — nothing corpus-sized happens after the BM25 trim.
    */
  def hardNegatives(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int,
      positives: Map[Long, Long] = Map.empty,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    val base = bm25TopK(docs, idCol, textCol, queries, k + 1, k1, b)
    val withPos =
      if (positives.isEmpty)
        base.withColumn("__is_pos", col("rank") === 1L)
      else {
        val posDf = broadcast(
          spark.createDataFrame(positives.toSeq)
            .toDF("query_id", "__pos"))
        base.join(posDf, Seq("query_id"), "left")
          .withColumn("__is_pos",
            coalesce(col(s"`$idCol`") === col("__pos"),
              col("rank") === 1L))
      }
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    withPos.filter(!col("__is_pos"))
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"), col(s"`$idCol`"), col("neg_rank"),
        col("score"))
      .orderBy(col("query_id"), col("neg_rank"))
  }

  /** Maximal-Marginal-Relevance diversified rerank of a per-query
    * candidate SHORTLIST: greedily pick k candidates maximizing
    * `lam*rel - (1-lam)*maxSimToSelected` (first pick = pure argmax
    * rel), where the redundancy term is the cosine over integer-
    * quantized embeddings (x`q`) — dot/norms fold exactly in long
    * arithmetic, the final sqrt/divide are the only IEEE ops, so any
    * engine replaying the same quantization picks the SAME documents
    * (the argmax comparisons are over bit-identical doubles; ties
    * break to the lowest id). The classic answer to "top-k returned
    * five near-identical passages" in RAG retrieval.
    *
    * Scale shape: one groupBy collecting the per-query shortlist
    * (caller-bounded; the kernel hard-caps at 4096), greedy selection
    * as ONE expression call per query row, posexplode back out —
    * cost is |queries| x shortlist^2 x dim at worst, never
    * corpus-shaped. Returns (query, mmr_rank 1..k, id).
    */
  def mmrRerank(cands: DataFrame, queryCol: String, idCol: String,
      relCol: String, vecCol: String, k: Int, lam: Double,
      q: Int = 1000): DataFrame = {
    val qv = transform(col(s"`$vecCol`"),
      e => round(e.cast("double") * q).cast("long"))
    val grouped = cands
      .select(col(s"`$queryCol`").as("__mq"),
        struct(col(s"`$idCol`").cast("long").as("id"),
          col(s"`$relCol`").cast("double").as("rel"),
          qv.as("emb")).as("__ms"))
      .groupBy(col("__mq"))
      .agg(collect_list(col("__ms")).as("__cl"))
    val ids = transform(col("__cl"), s => s.getField("id"))
    val rels = transform(col("__cl"), s => s.getField("rel"))
    val embs = transform(col("__cl"), s => s.getField("emb"))
    val sel = graft.plans.NativeMath.mmrSelect(ids, rels, embs, k, lam)
    grouped.select(col("__mq"), posexplode(sel).as(Seq("__pos", "__id")))
      .select(col("__mq").as(queryCol),
        (col("__pos") + 1).cast("long").as("mmr_rank"),
        col("__id").as("id"))
  }

  /** Ranking-quality evaluation (X189, round 11) — the metric suite a
    * retrieval pipeline grades its runs with: per query,
    * `recall@k = |hits≤k| / |gold|`, `MRR = 1/first-hit-rank`,
    * `AP@k = (Σⱼ j/rⱼ) / min(|gold|, k)` over the sorted hit ranks rⱼ
    * (precision-at-each-hit — the standard binary-relevance form),
    * and `nDCG@k = Σ 1/log₂(rⱼ+1) / Σᵢ≤min(|gold|,k) 1/log₂(i+1)`.
    * Queries with no hits score 0 on everything; gold rows are
    * distinct'd first.
    *
    * Shapes for scale: one (query, doc) equi-join of the run against
    * the gold table, then per-query bounded state (≤ k hit ranks via
    * sort_array(collect_list)) — nothing corpus-sized. All metrics
    * are rational arithmetic over integer ranks except the nDCG
    * discounts (the one ln each engine computes; compared surfaces
    * round — the idf policy). Runs are deduplicated on
    * (query_id, doc_id) keeping the MINIMUM rank before the gold
    * join (round-12 ADVICE: a duplicate retrieved doc would join the
    * gold row twice, inflating recall@k past 1.0 and corrupting
    * AP/nDCG).
    * Inputs: `runs(query_id, doc_id, rank)`, `gold(query_id, doc_id)`.
    * Output per query: (query_id, n_gold, first_hit [0 = none],
    * recall_k, mrr, ap_k, ndcg_k).
    */
  def evalRanking(runs: DataFrame, gold: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "evalRanking: k >= 1")
    val disc = typedLit((1 to k).map(i =>
      1.0 / (math.log(i + 1.0) / math.log(2.0))))
    val g = gold.select(col("query_id"), col("doc_id")).distinct()
    val ng = g.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("long").as("n_gold"))
    val hits = runs.filter(col("rank") <= k)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(min(col("rank")).as("rank"))
      .join(g, Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(col("rank").cast("int"))).as("__hr"))
    val hr = coalesce(col("__hr"), typedLit(Seq.empty[Int]))
    val nHits = size(hr).cast("double")
    val prec = aggregate(
      zip_with(hr, sequence(lit(1), greatest(size(hr), lit(1))),
        (r, j) => j.cast("double") / r.cast("double")),
      lit(0.0), (a, x) => a + x)
    val dcg = aggregate(hr, lit(0.0),
      (a, r) => a + element_at(disc, r))
    val idcg = aggregate(
      slice(disc, lit(1), least(col("n_gold"), lit(k)).cast("int")),
      lit(0.0), (a, x) => a + x)
    ng.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_gold"),
        coalesce(element_at(col("__hr"), 1), lit(0)).cast("long")
          .as("first_hit"),
        (nHits / col("n_gold").cast("double")).as("recall_k"),
        when(size(hr) > 0,
          lit(1.0) / element_at(hr, 1).cast("double"))
          .otherwise(lit(0.0)).as("mrr"),
        when(size(hr) > 0,
          prec / least(col("n_gold"), lit(k.toLong)).cast("double"))
          .otherwise(lit(0.0)).as("ap_k"),
        when(size(hr) > 0, dcg / idcg).otherwise(lit(0.0)).as("ndcg_k"))
  }
}
