package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Observation}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.text

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH and SimHash near-dedup, and exact n-gram
  * Jaccard verification.
  *
  * Scale discipline: candidate generation is ALWAYS bucketed — documents
  * meet only inside an LSH band bucket (a shuffle on the band key),
  * never via an all-pairs product. At 100 TB an all-pairs comparison is
  * not slow, it is impossible; the band-bucket join is linear in corpus
  * size + quadratic only within a bucket (bucket width is controlled by
  * the band/row parameters; pathological buckets can additionally be
  * capped or salted).
  *
  * Exact verify. Candidate pairs over per-document sets come from
  * MinHash bands, SimHash bands, prefix-filtered shingle postings or a
  * deterministic partner rule, and all of them go through ONE verify
  * stage (`verifySets`): the documents are semi-joined to the
  * candidate ids, the set is computed for those documents only and
  * joined to both pair sides, and the stage emits `n_a`, `n_b` and
  * `n_inter` (|A|, |B|, |A∩B|). Jaccard is `n_inter / (n_a + n_b −
  * n_inter)` and containment `n_inter / least(n_a, n_b)`, each 0 when
  * its denominator is 0. Every set on these paths is distinct
  * ([[graft.functions.text.ngrams]] emits distinct shingles; the hashed
  * form applies `array_distinct`), so `n_a + n_b − n_inter` is |A∪B|.
  * The candidate strategy decides recall and cost; the answer over the
  * candidates is always exact.
  */
object Dedup {

  /** Exact dedup: group rows by a key expression, keep ONE deterministic
    * representative per group (the row with the minimal `idCol`), carry
    * the group size as `dup_count`. Plain hash aggregation — partial
    * aggregation reduces map-side, the shuffle carries one candidate row
    * per (mapper, key).
    */
  def exactDedup(df: DataFrame, key: Column, idCol: String): DataFrame = {
    val payload = df.columns.toIndexedSeq
    df.withColumn("__key", key)
      .groupBy(col("__key"))
      .agg(
        min_by(struct(payload.map(col): _*), col(idCol)).as("__rep"),
        count(lit(1)).as("dup_count"))
      .select(col("__rep.*"), col("dup_count"))
  }

  /** Incremental exact dedup against a persistent fingerprint store:
    * a batch keeps only rows whose `key` is NEITHER in the store NOR
    * duplicated within the batch (first-by-id wins), then the novel
    * keys are appended to the store. The streaming form of
    * [[exactDedup]] — inside `foreachBatch` this dedups a continuous
    * document feed against ALL history while touching only the
    * fingerprint column of it: the store holds (key, id), never
    * payloads, so the anti-join's build side stays orders of magnitude
    * smaller than the corpus. At warehouse scale the store would be
    * bucketed by key to co-locate the anti-join; idempotent re-runs of
    * a failed batch are safe (re-appended keys dedup on read via the
    * min-id rule).
    */
  def incrementalDedup(batch: DataFrame, key: Column, idCol: String,
      storeDir: String): DataFrame = {
    val spark = batch.sparkSession
    val inBatch = exactDedup(batch, key, idCol).drop("dup_count")
      .withColumn("__key", key)
    val store = readStore(spark, storeDir).map(_.select(col("__key")))
    val novel = store.fold(inBatch) { st =>
      // null-safe equality: a NULL key (e.g. fingerprint of NULL text)
      // must match its stored NULL, or the row re-emits every batch
      inBatch.join(st, inBatch("__key") <=> st("__key"), "left_anti")
    }
    // materialize the survivors BEFORE appending their keys, so the
    // returned frame cannot be re-planned against the grown store
    val out = novel.localCheckpoint(true)
    out.select(col("__key"), col(idCol).cast("long").as("__id"))
      .write.mode("append").parquet(storeDir)
    out.drop("__key")
  }

  /** The parquet history store at `dir`, or None before its first
    * append. Existence is asked of the session's Hadoop FS (not
    * java.io.File: the store may be object storage), because the file
    * source logs a FileNotFoundException stack trace for a missing
    * path before it fails. The PATH_NOT_FOUND catch covers a store
    * removed in between; only a missing path means "no history yet" —
    * a corrupt or unreadable store propagates, never silently disables
    * all dedup history.
    */
  private def readStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
    else
      try Some(spark.read.parquet(dir))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => None
      }
  }

  /** [[incrementalDedup]] with BLOOM semi-join reduction — identical
    * results (a Bloom filter has no false negatives), different 100 TB
    * cost shape. The plain form anti-joins the full batch against the
    * full history store: both sides shuffle. Here two bloom sketches
    * (bytes, not rows) cut both shuffles map-side before the exact
    * anti-join:
    *
    *  - '''history bloom over the batch''': batch rows whose key
    *    cannot be in the store (probe false) are definitely novel and
    *    BYPASS the join entirely — for the common mostly-novel batch,
    *    that is most rows never shuffling;
    *  - '''batch bloom over the store''': store rows whose key cannot
    *    be in the batch are irrelevant to the anti-join and drop at
    *    the store scan — the join's right side shrinks from
    *    |history| to ~|batch| rows. False positives only let extra
    *    rows through to the exact check; they can never change the
    *    result (Bloom's one-sided error + the anti-join ignoring
    *    unmatched right rows).
    *
    * Keys probe through `xxhash64(key)`: Spark's hash functions map a
    * NULL input to the seed constant on BOTH the insert and the probe
    * side, so NULL keys flow through the bloom pair consistently and
    * the final NULL-safe `<=>` anti-join settles them exactly.
    *
    * `fpp` trades sketch bytes (shipped with the task binary, the
    * runtime-filter transport) against exact-check traffic. The
    * history bloom is sized by a cheap count of the key-only store.
    */
  def incrementalDedupBloom(batch: DataFrame, key: Column, idCol: String,
      storeDir: String, fpp: Double = 0.01): DataFrame = {
    val spark = batch.sparkSession
    // persisted: the batch side feeds three actions (its bloom build's
    // count + sketch, then the final plan) — without a cache the
    // exactDedup shuffle would re-run per action
    val inBatch = exactDedup(batch, key, idCol).drop("dup_count")
      .withColumn("__key", key)
      .persist()
    try {
      val store = readStore(spark, storeDir).map(_.select(col("__key")))
      def bloomOf(df: DataFrame): Array[Byte] =
        graft.plans.NativeHashes.bloomSketch(
          df.select(xxhash64(col("__key")).as("__h")), "__h", fpp)
      val novel = store.fold(inBatch) { st =>
        val storeProbe = graft.plans.NativeHashes.bloomMightContain(
          xxhash64(col("__key")), bloomOf(st))
        val definite = inBatch.filter(!storeProbe)
        val maybeNew = inBatch.filter(storeProbe)
        val batchProbe = graft.plans.NativeHashes.bloomMightContain(
          xxhash64(col("__key")), bloomOf(inBatch))
        val stNear = st.filter(batchProbe)
        definite.unionByName(
          maybeNew.join(stNear, maybeNew("__key") <=> stNear("__key"),
            "left_anti"))
      }
      val out = novel.localCheckpoint(true)
      out.select(col("__key"), col(idCol).cast("long").as("__id"))
        .write.mode("append").parquet(storeDir)
      out.drop("__key")
    } finally inBatch.unpersist()
  }

  // -------------------------------------------------------------------
  // MinHash + LSH

  /** MinHash signature of a shingle set: element i is the minimum of the
    * i-seeded 64-bit hash over all shingles. Identical sets yield
    * identical signatures (guaranteed recall for exact duplicates);
    * element-wise collision probability equals Jaccard similarity.
    * NULL for rows with an empty shingle set (documents shorter than
    * the shingle width) — filter those upstream.
    */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    when(size(shingles) > 0,
      transform(sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(shingles, s => xxhash64(i, s)))))

  /** LSH band keys: the signature is cut into `bands` runs of
    * `numHashes/bands` elements and each run is hashed to one bucket
    * key. Two documents are candidates iff they agree on at least one
    * full band — for Jaccard j the detection probability is
    * 1-(1-j^r)^b, a sharp threshold around (1/b)^(1/r).
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => xxhash64(j, slice(sig, j * rowsPerBand + 1, lit(rowsPerBand))))

  /** Evaluate `e` ONCE per row and pass the result to `f` as a bound
    * lambda variable. Catalyst's project collapsing inlines expression
    * aliases into every consumer, so an expensive expression referenced
    * N times is computed N times — routing it through a one-element
    * `transform` makes it a lambda binding the optimizer cannot
    * duplicate. (Measured on the MinHash path: 16 band keys referencing
    * the 64-hash signature re-inlined it 16x → 73 s at sf0.1; bound
    * once → ~3 s.)
    */
  private def bindOnce(e: Column, f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** One `(keep…, band, bkey)` row per LSH band of every row of `df`
    * with a non-empty `shingles` set. The signature is the native
    * kernel ([[graft.plans.NativeHashes.minHashSignature64]]; the Column
    * formulation is interpreted HOF evaluation and dominated the whole
    * pipeline's CPU), bound ONCE per row so the band keys cannot
    * re-inline it.
    */
  private def bandRows(df: DataFrame, shingles: String, numHashes: Int,
      bands: Int, keep: Column*): DataFrame = {
    val r = numHashes / bands
    require(bands * r == numHashes, "bands must divide numHashes")
    val keys = bindOnce(
      graft.plans.NativeHashes.minHashSignature64(col(shingles), numHashes),
      sig => lshBandKeys(sig, bands, r))
    df.filter(size(col(shingles)) > 0)
      .select(keep :+ posexplode(keys).as(Seq("band", "bkey")): _*)
  }

  /** Distinct `n`-token shingles of the text column `textCol`. The
    * name is backtick-quoted, so a dotted name is one column.
    */
  private def shingles(textCol: String, n: Int): Column =
    text.ngrams(text.tokenize(col(s"`$textCol`")), n)

  /** [[shingles]] as a sorted distinct set of xxhash64 values: 8-byte
    * elements instead of ~30-byte strings on the verify shuffle (the
    * dominant sf1 cost of containment). Set-exact up to a 64-bit
    * collision inside one pair's sets (~n²/2^64 ≈ 1e-16 for realistic
    * doc sizes); `array_distinct` keeps the per-doc sizes exact even
    * then.
    */
  private def hashedShingles(textCol: String, n: Int): Column =
    array_sort(array_distinct(
      transform(shingles(textCol, n), g => xxhash64(g))))

  /** |A∩B| of two distinct-element set columns. */
  private def nInter(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("long")

  /** Jaccard of two distinct sets from their sizes and overlap:
    * `nInter / (nA + nB − nInter)`, 0 when the union is empty.
    */
  private def jaccard(nA: Column, nB: Column, nInter: Column): Column = {
    val nUnion = nA + nB - nInter
    when(nUnion > 0, nInter.cast("double") / nUnion).otherwise(lit(0.0))
  }

  /** Containment `nInter / least(nA, nB)`; 0 when a set is empty. */
  private def containment(nA: Column, nB: Column, nInter: Column): Column = {
    val nMin = least(nA, nB)
    when(nMin > 0, nInter.cast("double") / nMin).otherwise(lit(0.0))
  }

  /** [[jaccard]] of two set columns, for the index joins that meet
    * their sets without the verify stage.
    */
  private def jaccardOf(a: Column, b: Column): Column =
    jaccard(size(a), size(b), nInter(a, b))

  /** All (id_a < id_b) pairs within each bucket of a (band, key)
    * bucketing, with `n_shared`, the number of buckets the pair shares:
    * ONE shuffle on the bucket key, collect ids per bucket, expand
    * combinations in-expression. A caller that selects only the pair
    * columns gets a plain distinct (column pruning drops the count).
    * Deliberately not a self-join — a self-join would execute the
    * (expensive) bucketing subtree once per side; this shape computes
    * it once and pairs up map-free.
    * Pathological buckets (a band value shared by a large fraction of
    * the corpus) would expand quadratically — cap them: a bucket wider
    * than maxBucket is dropped, because a "near-duplicate class" that
    * large is really a template/boilerplate cluster that deserves its
    * own handling, not C(n,2) pair emission.
    *
    * Buckets under the cap can still be huge — C(10⁴, 2) ≈ 5·10⁷ pairs
    * would expand inside ONE task if a bucket's sorted id list pairs up
    * where it lands after the group-by. So expansion is CHUNKED: a
    * bucket's list splits into √maxBucket-sized contiguous slices, one
    * row per (slice_i, slice_j ≥ i) chunk pair, and a repartition on
    * (bucket, ci, cj) spreads those rows across tasks before they
    * expand — each task row yields ≤ maxBucket pairs. Buckets that fit
    * one chunk (the overwhelming majority) emit a single chunk-pair
    * row, so their cost is unchanged except the repartition pass,
    * whose volume is ≈ the bucket lists themselves (each id travels
    * once per chunk-pair touching its slice — once, for one-chunk
    * buckets). Sortedness of the list makes cross-chunk pairs ordered
    * (everything in slice i < everything in slice j>i), so the a<b
    * invariant holds without comparison.
    */
  private[graft] def pairsWithinBuckets(buckets: DataFrame, idCol: String,
      maxBucket: Int, obs: Option[Observation]): DataFrame = {
    val sized = buckets.groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
    // observability for the cap: a boilerplate-heavy corpus silently
    // losing recall through dropped buckets must be visible — the
    // observation rides the existing aggregation (no extra job) and
    // reports after the consuming action completes. Single consumer
    // downstream: a branched plan would duplicate the observe node and
    // double-count the metrics.
    val metered = obs.fold(sized)(o => sized.observe(o,
      sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L))
        .as("dropped_buckets"),
      sum(when(size(col("ids")) > maxBucket, size(col("ids")).cast("long"))
        .otherwise(0L)).as("dropped_ids"),
      coalesce(max(size(col("ids"))), lit(0)).as("widest_bucket")))
    val chunkSize = math.max(16, math.ceil(math.sqrt(maxBucket)).toInt)
    val cs = lit(chunkSize)
    val nChunks = when(size(col("ids")) <= cs, lit(1))
      .otherwise(ceil(size(col("ids")).cast("double") / cs).cast("int"))
    metered.filter(size(col("ids")) <= maxBucket)
      .select(col("band"), col("bkey"), col("ids"),
        explode(flatten(transform(sequence(lit(0), nChunks - 1), ci =>
          transform(sequence(ci, nChunks - 1), cj =>
            struct(ci.as("ci"), cj.as("cj")))))).as("cp"))
      .select(col("band"), col("bkey"),
        col("cp.ci").as("ci"), col("cp.cj").as("cj"),
        slice(col("ids"), col("cp.ci") * cs + 1, cs).as("ids_a"),
        slice(col("ids"), col("cp.cj") * cs + 1, cs).as("ids_b"))
      .repartition(col("band"), col("bkey"), col("ci"), col("cj"))
      .select(explode(when(col("ci") === col("cj"),
          // within-chunk: ordered combinations of the slice
          flatten(transform(col("ids_a"), (a, i) =>
            transform(slice(col("ids_a"), i + 2, size(col("ids_a"))),
              b => struct(a.as("id_a"), b.as("id_b"))))))
        .otherwise(
          // cross-chunk: full product; slice ci < slice cj elementwise
          flatten(transform(col("ids_a"), a =>
            transform(col("ids_b"),
              b => struct(a.as("id_a"), b.as("id_b"))))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Candidate pairs via band buckets: explode (band, bucket-key) rows,
    * group by bucket, pair up within buckets only, dedup pairs that
    * collide in several bands.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 10000, obs: Option[Observation] = None): DataFrame =
    pairsWithinBuckets(bandRows(df, shinglesCol, numHashes, bands, col(idCol)),
      idCol, maxBucket, obs).select(col("id_a"), col("id_b"))

  /** The exact set-overlap verify stage (see the object doc): candidate
    * `pairs` `(id_a, id_b, extra…)` joined to the per-document `set` of
    * `docs`, returned as the pair columns (`id_b` first: the using-join
    * order) plus `n_a`, `n_b` and `n_inter`.
    *
    * The documents are first semi-joined to the distinct ids the pairs
    * mention, so `set` is computed only for candidate documents: the
    * verify cost follows the candidates, not the corpus. No broadcast
    * hint: the id set is usually tiny (AQE broadcasts it), but a
    * boilerplate-heavy corpus can push it past the broadcast ceiling.
    *
    * `stage = true` stages the pairs ([[graft.Graft.stage]]) first, so
    * the call runs Spark jobs before it returns. The pairs feed both
    * the id set and the pair join, and unstaged the whole candidate
    * subtree executes once per consumer (measured on containment at
    * sf1: ~23 s → ~13 s staged). The frame is candidate-sized, so the
    * stage is cheap, and a bucket-cap Observation on it fires exactly
    * once; `false` keeps the whole plan inspectable for plan audits.
    */
  private[graft] def verifySets(docs: DataFrame, pairs: DataFrame,
      idCol: String, set: Column, stage: Boolean = false): DataFrame = {
    val cands = if (stage) graft.Graft.stage(pairs) else pairs
    val candidateIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val sets = docs.join(candidateIds, Seq(idCol), "left_semi")
      .select(col(idCol), set.as("__set"))
    def side(s: String) =
      sets.select(col(idCol).as(s"id_$s"), col("__set").as(s"__set_$s"))
    // the counts come out of a generator (`inline` of one struct), so
    // a caller's filter on them stays above it: pushed through a
    // projection into the pair join, it would run `array_intersect`
    // once per use instead of once per pair
    cands.join(side("a"), "id_a").join(side("b"), "id_b")
      .select(col("*"), inline(array(struct(
        size(col("__set_a")).cast("long").as("n_a"),
        size(col("__set_b")).cast("long").as("n_b"),
        nInter(col("__set_a"), col("__set_b")).as("n_inter")))))
      .drop("__set_a", "__set_b")
  }

  /** A [[verifySets]] frame scored as `(…, n_inter, n_union, jaccard)`. */
  private[graft] def jaccardScored(verified: DataFrame): DataFrame =
    verified
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jaccard", jaccard(col("n_a"), col("n_b"), col("n_inter")))
      .drop("n_a", "n_b")

  /** Exact Jaccard verification of candidate pairs over the distinct
    * set column `shinglesCol` of `docs`: the verify stage, as
    * `(id_b, id_a, extra…, n_inter, n_union, jaccard)`. Correctness of
    * the answer never depends on how the candidates were generated. A
    * set column computed by a projection of `docs` is computed for
    * every document: the optimizer does not move the semi-join below
    * that projection (pass the set as a Column to `verifySets`).
    */
  def jaccardVerify(docs: DataFrame, pairs: DataFrame, idCol: String,
      shinglesCol: String): DataFrame =
    jaccardScored(verifySets(docs, pairs, idCol, col(shinglesCol)))

  /** End-to-end MinHash-LSH near-dedup: shingle → signature → band
    * buckets → candidate pairs → exact Jaccard ≥ threshold. Output is
    * exact (verified), the LSH only bounds the candidate set; shingles
    * are recomputed only for candidate documents (the verify stage).
    *
    * EAGER by default: with `materialize = true` the candidate-pair
    * frame is staged ([[graft.Graft.stage]]) inside this call, so the
    * call itself runs Spark jobs before it returns. `materialize =
    * false` returns the whole plan unexecuted (same rows).
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucket: Int = 10000,
      obs: Option[Observation] = None,
      materialize: Boolean = true): DataFrame = {
    val sh = shingles(textCol, shingleN)
    val cands = lshCandidatePairs(df.select(col(idCol), sh.as("__sh")),
      idCol, "__sh", numHashes, bands, maxBucket, obs)
    jaccardScored(verifySets(df, cands, idCol, sh, materialize))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental NEAR-dup dedup against a persistent LSH store (X199,
    * round 13) — the streaming form of [[nearDupPairs]], completing
    * the incremental family next to the exact [[incrementalDedup]]:
    * a batch keeps only documents that are NOT near-duplicates (exact
    * Jaccard ≥ `threshold` over distinct `shingleN`-gram shingles) of
    * any HISTORY document, then appends the survivors' band keys and
    * shingle sets to the store. Store layout under `storeDir`:
    * `bands` (band, bkey, __id — the LSH index) and `shingles`
    * (__id, __sh — the verification sets).
    *
    * Scale shape: candidates come from ONE equi-join of the batch's
    * band keys against the store's band index — |batch|-bounded, never
    * |batch| × |history|; hot band buckets (template/boilerplate
    * classes wider than `maxBucket` in the store) are excluded like
    * [[pairsWithinBuckets]]' cap; each candidate pair is verified with
    * exact Jaccard against the STORED shingle set, so given the
    * candidates the drop decision is exact. A re-fetched document
    * agrees with its own stored signature on EVERY band (Jaccard 1.0)
    * — recall 1.0 for identical re-crawls, the common case. Documents
    * with no shingles (< `shingleN` tokens) carry no content to match:
    * they pass through and are not indexed.
    */
  def incrementalNearDedup(batch: DataFrame, idCol: String,
      textCol: String, storeDir: String, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    val spark = batch.sparkSession
    val shingled = batch
      .withColumn("__id", col(s"`$idCol`").cast("long"))
      .withColumn("__sh", shingles(textCol, shingleN))
    def bandKeys(frame: DataFrame): DataFrame =
      bandRows(frame, "__sh", numHashes, bands, col("__id"))
    val batchBands = bandKeys(shingled)
    val dupIds = readStore(spark, s"$storeDir/bands").map { sb0 =>
      // the hot-bucket cap, on the INDEX side: a band value shared by
      // > maxBucket stored docs is a boilerplate class, not a dedup
      // bucket (the pairsWithinBuckets rationale) — its fan-out would
      // be |batch bucket| x |history bucket|
      val hot = sb0.groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
        .select(col("band"), col("bkey"))
      val sb = sb0.join(hot, Seq("band", "bkey"), "left_anti")
        .withColumnRenamed("__id", "__hist")
      val cands = batchBands.join(sb, Seq("band", "bkey"))
        .select(col("__id"), col("__hist")).distinct()
      val histSh = readStore(spark, s"$storeDir/shingles").get
        .select(col("__id").as("__hist"), col("__sh").as("__sh_b"))
      cands
        .join(shingled.select(col("__id"), col("__sh").as("__sh_a")),
          "__id")
        .join(histSh, "__hist")
        .filter(jaccardOf(col("__sh_a"), col("__sh_b")) >= threshold)
        .select(col("__id")).distinct()
    }.getOrElse(shingled.select(col("__id")).filter(lit(false)))
    val survivors = shingled.join(dupIds, Seq("__id"), "left_anti")
    // materialize BEFORE appending (the incrementalDedup discipline:
    // the returned frame must not re-plan against the grown store)
    val out = survivors.localCheckpoint(true)
    bandKeys(out).write.mode("append").parquet(s"$storeDir/bands")
    out.filter(size(col("__sh")) > 0).select(col("__id"), col("__sh"))
      .write.mode("append").parquet(s"$storeDir/shingles")
    out.drop("__id", "__sh")
  }

  /** Contrastive training triplets mined from the corpus itself —
    * (anchor, positive, negative) rows for embedding-model training:
    * positives are VERIFIED near-duplicate partners inside a Jaccard
    * band [loJ, hiJ) (similar but not byte-identical — the sweet spot
    * for contrastive pairs; band from [[nearDupPairs]], so candidates
    * are LSH-bounded and every emitted pair is exact), negatives are
    * the deterministic far partner ([[Similarity.withFarPartner]])
    * VERIFIED dissimilar (jaccard < loJ) — a rule any engine
    * can replay, unlike an RNG or hash-order pick.
    *
    * Scale shape: one [[nearDupPairs]] pass (banded LSH, exact
    * verify), one in-plan max(id), and the verify stage over the
    * triplet-bounded (anchor, negative) pairs on 64-bit hashed shingle
    * sets. Output: (anchor_id, pos_id, pos_jaccard, neg_id,
    * neg_jaccard).
    */
  def contrastiveTriplets(df: DataFrame, idCol: String, textCol: String,
      loJ: Double, hiJ: Double, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16, materialize: Boolean = true): DataFrame = {
    require(loJ > 0.0 && loJ < hiJ && hiJ <= 1.0,
      "contrastiveTriplets: need 0 < loJ < hiJ <= 1")
    val pos = nearDupPairs(df, idCol, textCol, shingleN, numHashes,
        bands, threshold = loJ, materialize = materialize)
      .filter(col("jaccard") < hiJ)
    // (anchor, negative) pairs for the verify stage, positives riding along
    val withNeg = Similarity.withFarPartner(
        pos.select(col("id_a"), col("id_b").as("pos_id"),
          col("jaccard").as("pos_jaccard")),
        col("id_a"), df, col(idCol), "id_b")
      .filter(col("id_b") =!= col("id_a") && col("id_b") =!= col("pos_id"))
    verifySets(df, withNeg, idCol, hashedShingles(textCol, shingleN),
        materialize)
      .withColumn("neg_jaccard",
        jaccard(col("n_a"), col("n_b"), col("n_inter")))
      .filter(col("neg_jaccard") < loJ)
      .select(col("id_a").as("anchor_id"), col("pos_id"), col("pos_jaccard"),
        col("id_b").as("neg_id"), col("neg_jaccard"))
  }

  /** Near-superset detection via CONTAINMENT — the asymmetric overlap
    * `|A∩B| / min(|A|,|B|)` (MassiveText/Gopher-style): a short
    * document quoted whole inside a long one scores low Jaccard (the
    * union is dominated by the long side) but containment ≈ 1, which
    * is exactly the duplication a symmetric near-dup pass misses —
    * and which MinHash-LSH candidates CANNOT surface, because LSH
    * collision probability is a function of Jaccard. So candidates
    * here come from a df-capped inverted shingle index instead: a
    * pair is a candidate iff it shares ≥ `minSharedShingles` distinct
    * shingles whose document frequency is ≤ `maxDf`. That rule is the
    * operator's exact, engine-replayable recall contract — a
    * contained doc with ≥ minShared uncommon shingles is ALWAYS
    * found (no probabilistic luck), and a tinier doc is explicitly
    * outside the envelope.
    *
    * Scale shape — PREFIX FILTERING (the PPJoin-family bound), not a
    * naive posting self-join: a full inverted-index self-join costs
    * Σ df(g)² pairs, which goes quadratic the moment shingles are
    * shared widely (measured: 12x wall-time at 10x docs on the
    * small-vocabulary bench corpus). Instead each document PROBES the
    * index with only its `min(n, ⌊(1−c)·n⌋+k)` RAREST capped shingles
    * (global df order, ties by shingle; k = minSharedShingles), and a
    * pair is a candidate only when the MIN side's probes score
    * `h ≥ plen − ⌊(1−c)·n⌋` hits: if the smaller side of a pair is
    * ≥ c-contained in the other over the capped sets, at most
    * (1−c)·n of its prefix shingles are absent from the partner, so
    * at least that many probes must hit — recall is a pigeonhole
    * fact, not a probability. Probe volume is ~(1−c) of the posting
    * volume and
    * concentrated on LOW-df shingles, so the join fan-out collapses
    * exactly where the naive join explodes. `maxDf` still drops
    * boilerplate shingles from index AND probes (a pair supported
    * only by corpus-common shingles is noise). Exact verify then runs
    * through the verify stage over hashed FULL shingle sets, computed
    * only for candidate docs; the emitted
    * n_inter/containment/jaccard use the FULL sets, with
    * `minSharedShingles` applied as a final exact filter. The whole
    * candidate rule is deterministic and engine-replayable — the
    * oracle reruns it verbatim.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minSharedShingles: Int = 5, maxDf: Int = 1000,
      minContainment: Double = 0.9, materialize: Boolean = true): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      "containmentPairs: minContainment in (0, 1]")
    // candidate generation runs on 64-BIT HASHED shingles (round 9,
    // the q182 diet applied here): the exploded (id, shingle) frame
    // feeds the df-count shuffle and two joins, and 8-byte keys cut
    // those shuffle bytes ~4x vs ~30-byte strings. Output-preserving:
    // the pigeonhole completeness bound holds for ANY pLen probe
    // choice (at most (1−c)·n of the min side's shingles are absent
    // from a qualifying partner — whichever pLen we probe), a rare
    // hash collision can only ADD a candidate, and the exact verify
    // below is hash-based too
    val e = df.select(col(idCol),
      explode(transform(shingles(textCol, shingleN), g => xxhash64(g)))
        .as("__g"))
    val dfreq = e.groupBy(col("__g"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    val ec = e.join(dfreq, Seq("__g"))
    val sizes = ec.groupBy(col(idCol))
      .agg(count(lit(1)).as("__nc"))
    // k-EXTENDED prefix + hit threshold: probing only ⌊(1−c)n⌋+1
    // rarest shingles makes one hit sufficient, so every pair sharing
    // any rare-ish shingle becomes a candidate (measured: 14.2M
    // candidates for 1.2k true pairs on the dense bench corpus).
    // Probing ⌊(1−c)n⌋+k instead and demanding h ≥ plen−⌊(1−c)n⌋
    // hits ON THE MIN SIDE keeps the same pigeonhole exactness — at
    // most (1−c)n prefix shingles can be absent from a ≥c-containing
    // partner, so ≥ plen−(1−c)n must hit — while random pairs now
    // need k rare shingles in common, which collapses the candidate
    // set to ~the true pairs (measured: 1,175). k rides on
    // minSharedShingles since the final filter demands that much
    // overlap anyway.
    val k = math.max(minSharedShingles, 1)
    val fr = lit(1.0 - minContainment)
    // per-doc rarest-first rank; the window partitions by document id
    // (corpus-cardinality keys — one bounded-width partition per doc)
    val byRarity = Window.partitionBy(col(idCol))
      .orderBy(col("__df"), col("__g"))
    val pLen = least(col("__nc"), floor(fr * col("__nc")) + k)
    val probes = ec.join(sizes, Seq(idCol))
      .withColumn("__rn", row_number().over(byRarity))
      .filter(col("__rn") <= pLen)
      .select(col(idCol).as("__pid"), col("__g"),
        col("__nc").as("__pnc"),
        (pLen - floor(fr * col("__nc"))).as("__thr"))
    // the bound is a MIN-SIDE fact: a probing side's threshold applies
    // only when it is no larger than its partner (on ties both sides
    // are min sides and either suffices). Carrying the partner's size
    // ON the index side lets the min-side cut run on the JOIN FAN-OUT
    // rows, BEFORE the pair-keyed aggregation shuffle — every
    // larger-side probe row (half the symmetric volume) drops
    // map-side instead of riding the shuffle and a post-group join.
    val index = ec.join(sizes, Seq(idCol))
      .select(col(idCol).as("__iid"), col("__g"), col("__nc").as("__inc"))
    val hits = probes
      .join(index, Seq("__g"))
      .filter(col("__pid") =!= col("__iid") &&
        col("__pnc") <= col("__inc"))
      .groupBy(col("__pid"), col("__iid"), col("__pnc"), col("__thr"))
      .agg(count(lit(1)).as("__h"))
    val cands = hits
      .filter(col("__h") >= col("__thr"))
      .select(least(col("__pid"), col("__iid")).as("id_a"),
        greatest(col("__pid"), col("__iid")).as("id_b"))
      .distinct()
    verifySets(df, cands, idCol, hashedShingles(textCol, shingleN),
        materialize)
      .withColumn("containment",
        containment(col("n_a"), col("n_b"), col("n_inter")))
      .withColumn("jaccard", jaccard(col("n_a"), col("n_b"), col("n_inter")))
      .filter(col("containment") >= minContainment &&
        col("n_inter") >= minSharedShingles)
  }

  /** Corpus snapshot diff — the data-ops report between two crawl /
    * pipeline versions: every document id is `added` (current only),
    * `removed` (previous only), `changed` (both, content hash
    * differs) or `same`. Content compares by map-side MD5 (portable
    * hex in every engine), so the one full-outer id join ships
    * (id, 16-byte hash) — never text. At 100 TB both sides hash at
    * scan time, the join is one id-keyed shuffle, and the typical
    * consumer aggregates to status counts immediately (AQE collapses
    * the tiny result).
    */
  def corpusDiff(current: DataFrame, previous: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def hashed(df: DataFrame, side: String) = df.select(
      col(idCol).as(s"__id_$side"),
      md5(col(textCol).cast("binary")).as(s"__h_$side"))
    hashed(current, "cur")
      .join(hashed(previous, "prev"),
        col("__id_cur") === col("__id_prev"), "full_outer")
      .select(
        coalesce(col("__id_cur"), col("__id_prev")).as(idCol),
        when(col("__id_prev").isNull, "added")
          .when(col("__id_cur").isNull, "removed")
          // null-SAFE inequality: a null text on one side is a change,
          // not a silent "same"
          .when(!(col("__h_cur") <=> col("__h_prev")), "changed")
          .otherwise("same").as("status"))
  }

  /** Benchmark-contamination scan — the training-data hygiene pass:
    * which corpus documents share at least `minHits` DISTINCT n-gram
    * shingles with a (small) benchmark/eval set. Asymmetric by
    * design: the benchmark side is eval-suite-sized, so its exploded
    * shingles BROADCAST and the corpus is scanned exactly once with no
    * shuffle of document payloads — the per-(doc, bench) hit counts
    * that do shuffle are collision-sized. No banding needed (unlike
    * near-dedup) because the right side is small; the absolute-hits
    * threshold is the decontamination convention (a single shared
    * 13-gram is the usual flag; the tests use 3-grams with a higher
    * floor because the synthetic vocabulary is tiny).
    * Output: (contaminated_id, bench_id, n_shared).
    */
  def contaminationScan(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleN: Int, minHits: Long): DataFrame =
    benchHits(docs, shingleRows(bench, idCol, textCol, shingleN, "bench_id"),
        idCol, textCol, shingleN)
      .filter(col("n_shared") >= minHits)

  /** One `(idOut, __g)` row per distinct `n`-gram shingle of each doc. */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int, idOut: String): DataFrame =
    df.select(col(s"`$idCol`").as(idOut),
      explode(shingles(textCol, n)).as("__g"))

  /** `(contaminated_id, bench_id, n_shared)`: the distinct shingles each
    * doc shares with each bench example, for every pair sharing one.
    * `benchGrams` ([[shingleRows]] of the bench) is broadcast, so the
    * corpus scans once map-side and only the hit counts shuffle.
    */
  private def benchHits(docs: DataFrame, benchGrams: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    shingleRows(docs, idCol, textCol, n, "contaminated_id")
      .join(broadcast(benchGrams), "__g")
      .groupBy(col("contaminated_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))

  // -------------------------------------------------------------------
  // SimHash

  /** 64-bit SimHash over the distinct tokens of a document: bit b is set
    * iff the sum over tokens of ±1 (sign of bit b of the token's hash)
    * is positive. Near-identical token sets differ in few bits, so
    * Hamming-window banding finds them.
    *
    * Operating envelope: documents with tens of tokens or more. On very
    * short documents one differing token flips a large share of the
    * bits (its ±1 vote is a big fraction of every bit's total), pushing
    * even J≥0.9 pairs beyond banding's Hamming guarantee — gate short
    * docs to the exact/MinHash paths instead (see q23's gate).
    */
  def simHash(toks: Column): Column = {
    val th = transform(array_distinct(toks), t => xxhash64(t))
    val bitScores = transform(sequence(lit(0), lit(63)), b =>
      aggregate(th, lit(0L), (acc, h) =>
        acc + when(call_function("shiftright", h, b)
          .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))))
    // pack via shift+or: the sign bit makes `acc * 2` overflow under
    // ANSI mode on the 64th doubling; bitwise ops wrap by definition
    aggregate(bitScores, lit(0L),
      (acc, s) => shiftleft(acc, 1)
        .bitwiseOR(when(s > 0, lit(1L)).otherwise(lit(0L))))
  }

  /** Cut a 64-bit SimHash into `bands` equal bit-slices (band keys).
    * Two documents whose SimHashes differ in fewer than `bands` bits
    * share at least one identical band (pigeonhole), so banding with b
    * bands GUARANTEES detection up to Hamming distance b-1.
    */
  def simHashBands(sh: Column, bands: Int): Column = {
    val width = 64 / bands
    require(bands * width == 64, "bands must divide 64")
    transform(sequence(lit(0), lit(bands - 1)), j =>
      call_function("shiftright", sh, j * width)
        .bitwiseAND(lit((1L << width) - 1)))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b)).cast("long")

  /** Candidate pairs from SimHash band buckets — same bucketed-join
    * shape as the MinHash path (never all-pairs).
    */
  def simHashCandidatePairs(df: DataFrame, idCol: String, toksCol: String,
      bands: Int = 8, maxBucket: Int = 10000,
      obs: Option[Observation] = None): DataFrame = {
    // native SimHash kernel; bindOnce guards the band slices from
    // re-inlining it 8x (see bindOnce above)
    val keys = bindOnce(graft.plans.NativeHashes.simHash64(col(toksCol)),
      sh => simHashBands(sh, bands))
    val buckets = df
      .select(col(idCol), posexplode(keys))
      .toDF(idCol, "band", "bkey")
    pairsWithinBuckets(buckets, idCol, maxBucket, obs)
      .select(col("id_a"), col("id_b"))
  }

  /** Diagnostics from a `connectedComponents` call: bidirectional edge
    * count, which path ran (`driver` union-find vs `distributed`
    * label-propagation), and rounds to fixpoint (0 for the driver
    * path). Kept in a small ring buffer so the bench main can stamp
    * WHICH path produced a wall-time into its JSON — round 7's q75
    * sf1 3x regression was unexplainable precisely because nothing
    * recorded the path or the edge count.
    */
  final case class CcStats(tag: String, edges: Long, path: String,
      rounds: Int)

  private val ccStatsBuf =
    new java.util.concurrent.ConcurrentLinkedDeque[CcStats]()

  private def recordCc(s: CcStats): Unit = {
    ccStatsBuf.addLast(s)
    while (ccStatsBuf.size > 16) ccStatsBuf.pollFirst()
  }

  /** Most-recent-last snapshot of recent `connectedComponents` runs. */
  def recentCcStats: Seq[CcStats] = {
    import scala.jdk.CollectionConverters._
    ccStatsBuf.iterator().asScala.toSeq
  }

  /** Connected components over a near-dup pair set: every document in a
    * component gets the component's MINIMUM id as `cluster_id` — the
    * transitive-closure step that turns pairwise matches into dedup
    * clusters (a ~ b and b ~ c dedup to one survivor even when a ~ c
    * was never emitted). Only ids that appear in `pairs` are returned;
    * everything else is its own singleton and needs no row.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * (1) lowers every node's label to the min over its neighbors'
    * labels (one equi-join + partial-min aggregation) and (2) replaces
    * each label by its label's label (one self-join) — the pointer
    * jump that contracts chains geometrically, so rounds grow with
    * log(diameter), not diameter. Each round is hash-partitioned
    * equi-joins only — no windows, no driver-side data; the edge list
    * is persisted once and the label frame is `localCheckpoint`ed per
    * round to cut the iterative lineage (at cluster scale swap in a
    * reliable checkpoint dir). Convergence is detected by an aggregated
    * change count (one long to the driver per round). The fixpoint —
    * every label the component minimum — is unique, so the result is
    * deterministic regardless of join order.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25,
      smallGraphEdges: Long = 4L * 1024 * 1024,
      tag: String = ""): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))
      // a null endpoint would ride along as an unreachable phantom node
      // (null never equi-joins) and emit a (null, null) label row
      .filter(col("u").isNotNull && col("v").isNotNull)
    val bi = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct().persist()
    var biP: DataFrame = null
    try {
      // SCALE-ADAPTIVE: a near-dup pair graph is tiny relative to its
      // corpus (pairs ≪ docs). Below the threshold a driver
      // union-find answers in ONE collect instead of ~log(diameter)
      // shuffle+checkpoint rounds of pure job latency; past it the
      // distributed loop below takes over. Gate tuning (round 8,
      // after the r7 q75 sf1 regression crossed the old 512k gate):
      // the collect materializes boxed Rows at ~100 B each
      // transiently, so 4M edges is ≤ ~400 MB against the 8 GB
      // driver heap, and the union-find itself is O(E·α) — tens of
      // milliseconds at 4M — vs ~1-2 s of pure job latency PER ROUND
      // for the distributed loop on local[32]. On a real cluster
      // with a beefier driver the same ratio holds further out; past
      // the gate the label-propagation loop is the 100 TB path.
      val biCount = bi.count()
      if (biCount <= smallGraphEdges) {
        recordCc(CcStats(tag, biCount, "driver", 0))
        return driverComponents(pairs.sparkSession, bi.collect()
          .map(r => (r.getLong(0), r.getLong(1))))
      }
      // Right-size the loop's partitioning to the graph, not the
      // session default: label frames carry one row per node and the
      // edge frame ~biCount rows, so at the gate boundary 32
      // partitions are mostly empty and per-round cost is pure task
      // scheduling. ~250k edges per partition, capped at the session
      // parallelism. bi is re-persisted pre-partitioned on the join
      // key `v`, so each round's neighbor join reuses the exchange
      // instead of re-shuffling the (static) edge side every round.
      val spark = pairs.sparkSession
      val parts = math.max(2, math.min(
        spark.sparkContext.defaultParallelism,
        (biCount / 250000L).toInt + 1))
      biP = bi.repartition(parts, col("v")).persist()
      biP.count()
      var labels = biP.select(col("u").as("id")).distinct()
        .repartition(parts, col("id"))
        .withColumn("lbl", col("id")).localCheckpoint()
      var changed = true
      var iter = 0
      while (changed && iter < maxIter) {
        // (1) min over neighbor labels (bi is symmetric, so grouping on
        // u sees every neighbor of u)
        val nbrMin = biP.join(labels, biP("v") === labels("id"))
          .groupBy(col("u")).agg(min(col("lbl")).as("nbr"))
        val lowered = labels.join(nbrMin, labels("id") === nbrMin("u"),
            "left")
          .select(col("id"), col("lbl"),
            least(col("lbl"), coalesce(col("nbr"), col("lbl")))
              .as("low"))
        // (2) pointer jump: follow the lowered label one hop
        val byId = lowered.select(col("id").as("jid"), col("low").as("jlbl"))
        val jumped = lowered.join(byId, lowered("low") === byId("jid"),
            "left")
          .select(col("id"), col("lbl"),
            coalesce(col("jlbl"), col("low")).as("next"))
        val next = jumped
          .select(col("id"), col("next").as("lbl"),
            (col("next") =!= col("lbl")).as("__chg"))
          .localCheckpoint()
        // convergence probe: first-match scan over the checkpointed
        // frame (stops at the first changed row) — not a full
        // sum-aggregation job over a frame we just materialized
        changed = !next.where(col("__chg")).isEmpty
        labels = next.select(col("id"), col("lbl"))
        iter += 1
      }
      require(!changed,
        s"connectedComponents: no fixpoint after $maxIter rounds")
      recordCc(CcStats(tag, biCount, "distributed", iter))
      labels.select(col("id"), col("lbl").as("cluster_id"))
    } finally {
      bi.unpersist()
      if (biP != null) biP.unpersist()
    }
  }

  /** Driver-side union-find for small pair graphs — value-identical
    * to the distributed loop: every node labels with the MINIMUM id
    * reachable in its component.
    */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) {
        val n = parent.getOrElse(c, c); parent(c) = r; c = n
      }
      r
    }
    edges.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    // union always points max-root at min-root, so every root IS its
    // component's minimum id — find(n) is the label directly
    parent.keys.toSeq.map(n => (n, find(n)))
      .toDF("id", "cluster_id")
  }

  /** Cluster-dedup survivors: drop every row whose id sits in a pair
    * cluster and is not the cluster's representative (min id). The
    * anti-join ships only the loser id set — never the payload.
    */
  def dedupByClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Incremental [[semanticDedup]]: which BATCH rows survive against
    * an already-deduplicated HISTORY plus the batch itself. A batch
    * row is dropped iff a history row shares its cell above the
    * threshold (history always wins — it was there first), or a
    * lower-id batch row does. Candidates form only through the cell
    * equi-join on both legs; history ships (id, cell, vector) — at
    * 100 TB the history leg is the ANN-index shape, prunable by cell
    * partition exactly like `annTopKFromIndex`. The [[incrementalDedup]]
    * contract, semantic edition: batch-sized output, arrival-order
    * deterministic.
    */
  def incrementalSemanticDedup(batch: DataFrame, history: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      cell: Column): DataFrame = {
    import Similarity.{Candidates, corpusSide, exactPairsAbove, probeSide}
    // history ids are never read: batch and history are not ordered
    val histVictims = exactPairsAbove(
        corpusSide(batch, col(idCol), col(vecCol), Seq(cell.as("__cell"))),
        probeSide(history, lit(null), col(vecCol), Seq(cell.as("__cell"))),
        Candidates.SameKey("__cell"), threshold, ordered = false)
      .select(col("id_a").as(idCol))
      .distinct()
    semanticDedup(batch, idCol, vecCol, threshold, cell)
      .join(histVictims, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic near-dedup (Abbas et al. 2023 — embed,
    * cluster, prune within clusters): rows whose embeddings land in
    * the same cell and whose cosine similarity clears `threshold` are
    * duplicates, and only the lowest id of each duplicate pair
    * survives — a row is dropped iff a LOWER-id row above threshold
    * shares its cell (the paper's keep-one-representative policy made
    * deterministic: greedy in id order).
    *
    * `cell` is the coarse partitioner over the embedding column:
    * [[Similarity.annBucket]] (hyperplane LSH — replicable in a SQL
    * oracle) or [[Similarity.assignCell]] over [[Similarity.kmeansCentroids]]
    * (the data-adaptive scale path). Pairs only form INSIDE a cell —
    * the comparison is a cell-key equi-join, never an all-pairs
    * product, and the cell granularity bounds the intra-cell
    * quadratic (k ≈ √N cells keeps expected cell size ≈ √N, SemDeDup's
    * own operating point). The anti-join ships only victim ids, never
    * embedding payloads. Returns the surviving rows of `vecs`
    * unchanged.
    */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, cell: Column): DataFrame = {
    import Similarity.{Candidates, corpusSide, exactPairsAbove, probeSide}
    // widen = true: the float→double widening is hoisted to ONE
    // transform per ROW; left to the analyzer it becomes a Cast that
    // materializes a fresh 64-element double array per PAIR inside the
    // join condition — the dominant cost of this entry at sf1
    // (measured 11 s → ~3 s)
    val a = corpusSide(vecs, col(idCol), col(vecCol), Seq(cell.as("__cell")),
      widen = true)
    val b = probeSide(vecs, col(idCol), col(vecCol), Seq(cell.as("__cell")),
      widen = true)
    // Parallelism guard (round 11): the cell join broadcasts the
    // (small) b side, so the pair-scoring stage inherits the A SIDE'S
    // partitioning — and a compact parquet corpus scans as one or two
    // partitions, serializing the entire O(Σ|cell|²) dot-product work
    // through one core (measured at sf1: the whole entry was a single
    // 78M-pair task). One cheap row-level shuffle of the probe side
    // (ids + vectors, linear in N) spreads the quadratic stage across
    // the cluster; output is row-identical.
    val victims = exactPairsAbove(a.repartition(col("__cell"), col("id")), b,
        Candidates.SameKey("__cell"), threshold, ordered = true)
      .select(col("id_b").as(idCol))
      .distinct()
    vecs.join(victims, Seq(idCol), "left_anti")
  }

  /** [[semanticDedup]] with the pair generator as a PARAMETER (round
    * 12 — the `mutualKnnGraph` candidates pattern applied to the
    * dedup family): `candidates(i, j)` is ANY pair DataFrame — the
    * IVF probe join ([[Similarity.knnCandidatesIvf]]), LSH buckets, a
    * previous round's edges — and ONLY those pairs score. Keep-policy
    * is identical to [[semanticDedup]]: a row is dropped iff a
    * LOWER-id candidate neighbor clears `threshold` (greedy in id
    * order, deterministic). Pairs are canonicalized (min, max) and
    * deduplicated BEFORE the two id-keyed vector joins, so a
    * symmetric generator costs nothing extra and no non-equi product
    * exists anywhere. At 100 TB this is the dress-rehearsal shape:
    * candidate volume ≈ nprobe·√N per row (the generator's contract),
    * victim ids travel alone, and the survivors leave through one
    * anti-join.
    */
  def semanticDedupCandidates(vecs: DataFrame, idCol: String,
      vecCol: String, threshold: Double,
      candidates: DataFrame): DataFrame = {
    import Similarity.{Candidates, canonicalPairs, corpusSide,
      exactPairsAbove, probeSide}
    val id = col(s"`$idCol`").cast("long")
    val und = canonicalPairs(candidates, "id", "probe_id")
    // per-ROW widening hoist, same rationale as semanticDedup; `und` is
    // canonical (id < probe_id) already
    val victims = exactPairsAbove(
        corpusSide(vecs, id, col(vecCol), widen = true),
        probeSide(vecs, id, col(vecCol), widen = true),
        Candidates.Listed(und), threshold, ordered = false)
      .select(col("id_b").cast(vecs.schema(idCol).dataType).as(idCol))
      .distinct()
    vecs.join(victims, Seq(idCol), "left_anti")
  }

  /** Semantic decontamination (X195, round 12) — the embedding-level
    * sibling of the n-gram [[decontaminate]]: a corpus row is
    * contaminated iff its embedding's cosine against ANY eval-set
    * embedding clears `threshold`. Candidates come from the IVF
    * structure, asymmetrically: the EVAL side (benchmark-sized, by
    * contract tiny) probes its `nprobe` best cells, the CORPUS side
    * is binned once (optionally list-length-capped — note the cap
    * bounds work but can SKIP a contaminated pair whose corpus row was
    * trimmed from its cell list; leave it uncapped for the
    * decontamination use unless the cell-skew risk dominates), and
    * pairs form through one cell equi-join. Survivors leave through
    * an id anti-join. At 100 TB this is eval-probes × (corpus/#cells)
    * candidate volume — never corpus × eval.
    *
    * Recall contract (planted-pair pinned, Round13Spec): a
    * contaminated pair whose cosine clears the threshold AND whose
    * corpus row is binned to a cell the eval probe covers is found
    * with recall 1.0 — for near-duplicate contamination (the
    * decontamination case: eval row ≈ corpus row, so both share an
    * argmax cell) any nprobe ≥ 1 satisfies that; the probabilistic
    * loss is confined to borderline-cosine pairs straddling a cell
    * boundary. The CAPPED path misses EXACTLY the contaminated rows
    * the (norm desc, id) trim drops from their cell list — a loss
    * bounded by 1 − maxPerCell·#cells/corpus — which is why uncapped
    * is the safe decontamination default.
    */
  def semanticDecontaminate(corpus: DataFrame, evalVecs: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      cents: Array[(Long, Seq[Double])], nprobe: Int,
      maxPerCell: Int = Int.MaxValue): DataFrame = {
    import Similarity.{Candidates, corpusSide, exactPairsAbove, probeSide}
    val vec = col(s"`$vecCol`")
    // eval ids are never read: corpus and eval rows are not ordered
    val contaminated = exactPairsAbove(
        corpusSide(corpus, col(s"`$idCol`").cast("long"), vec, widen = true),
        probeSide(evalVecs, lit(null), vec, widen = true),
        Candidates.Ivf(cents, nprobe, maxPerCell), threshold, ordered = false)
      .select(col("id_a").cast(corpus.schema(idCol).dataType).as(idCol))
      .distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** C4-style boilerplate line removal: a line (newline-split, compared
    * after trim) that appears in at least `minDocs` DISTINCT documents
    * is boilerplate — navigation chrome, cookie banners, subscribe
    * footers — and is stripped from every document. Returns `df` with
    * `textCol` rebuilt from the surviving lines (original spelling,
    * original order, '\n'-joined) plus a `lines_removed` count per
    * document. Blank lines are structure, not boilerplate: they are
    * never counted and never removed.
    *
    * Scale shape: the corpus shuffles ONCE, keyed by line text, for
    * the distinct-document frequency count; the boilerplate set — by
    * construction lines repeated across ≥ `minDocs` documents, so
    * orders of magnitude smaller than the corpus, and guarded by
    * `maxBoilerplate` — folds into a single array row that rides a
    * broadcast to every task; document reconstruction is then a pure
    * map-side higher-order `filter` over the split array. No
    * explode-and-regroup round trip: a document never leaves its
    * partition to be rebuilt.
    */
  def stripFrequentLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int, maxBoilerplate: Int = 1000000): DataFrame = {
    require(minDocs >= 2, "stripFrequentLines: minDocs must be >= 2")
    val id = col(s"`$idCol`")
    val text = col(s"`$textCol`")
    val freq = df
      .select(id.as("__bl_id"),
        explode(split(text, "\n")).as("__bl_raw"))
      .select(col("__bl_id"), trim(col("__bl_raw")).as("__bl_t"))
      .filter(length(col("__bl_t")) > 0)
      .groupBy(col("__bl_t"))
      .agg(countDistinct(col("__bl_id")).as("__bl_nd"))
      .filter(col("__bl_nd") >= minDocs)
    val nBl = freq.limit(maxBoilerplate + 1).count()
    require(nBl <= maxBoilerplate,
      s"stripFrequentLines: boilerplate set exceeds $maxBoilerplate " +
        "lines — raise maxBoilerplate or minDocs (the set must stay " +
        "broadcast-sized)")
    // one row, one array column; sort_array for a stable plan, the
    // membership test below is order-insensitive
    val bl = freq.agg(sort_array(collect_set(col("__bl_t")))
      .as("__bl_set"))
    val parts = split(text, "\n")
    val kept = filter(parts,
      l => !array_contains(col("__bl_set"), trim(l)))
    df.crossJoin(broadcast(bl))
      .withColumn("lines_removed",
        (size(parts) - size(kept)).cast("long"))
      .withColumn(textCol, array_join(kept, "\n"))
      .drop("__bl_set")
  }

  /** Prime modulus of the span-hash fold ([[dupSpanStats]]). */
  private val spanP = 1000000007L

  /** Per-token rolling hashes mod [[spanP]] of the text column
    * `textCol` (backtick-quoted): the element hashes every span hash
    * folds.
    */
  private def tokenHashes(textCol: String): Column =
    transform(text.tokenize(col(s"`$textCol`")),
      t => graft.plans.NativeHashes.rollingHash(t, spanP))

  /** Duplicate n-token span detection — the exact-substring-dedup
    * primitive of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL'22), in the scalable windowed-hash
    * form: every `window`-token sliding span is hashed, and a span
    * whose hash occurs in ≥ 2 DISTINCT documents is duplicated
    * (memorization risk / cross-doc copying). Returns per-document
    * span counts: `(id, n_spans, n_dup_spans, dup_fraction)` for
    * every document with at least `window` tokens.
    *
    * Scale shape: span hashing is a pure projection (the rows that
    * reach a shuffle are (doc, hash) pairs — linear in token count,
    * the same expansion class as X2's shingles). The only
    * corpus-sized shuffles are the distinct-doc frequency aggregate
    * on the span hash and the final per-doc rollup; the ≥2-docs
    * filter shrinks the dup-hash table to the duplicated subset, so
    * the mark join broadcasts it and probes the span stream MAP-SIDE
    * (plan-audited — with a pathologically duplicated corpus it
    * degrades to an equi-join on the hash, still never a pair
    * product). The paper's suffix array gives arbitrary-length
    * matches but needs a global sort; fixed-window hashing is the
    * shuffle-bounded approximation that holds at 100 TB.
    *
    * Determinism: span hash = integer fold `(acc*31 + tokHash) mod p`
    * over per-token rolling hashes — exact integer arithmetic, no
    * floats anywhere until the final rounded fraction, so the oracle
    * replays it bit-for-bit as the per-window fold. The engine
    * computes the SAME values in O(tokens) via the native
    * [[graft.plans.NativeHashes.spanHashes]] Rabin–Karp kernel (the
    * rolling update drops the outgoing term with a precomputed
    * 31^(w-1) weight — no modular inverse needed);
    * [[spanHashesColumn]] keeps the combinator fold as the
    * executable specification, and DedupSpec proves them equal.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      window: Int = 20): DataFrame = {
    require(window >= 2, s"dupSpanStats: window must be >= 2, got $window")
    val spans = df
      .select(col(idCol), tokenHashes(textCol).as("__th"))
      .withColumn("__n", size(col("__th")))
      .filter(col("__n") >= window)
      // the native kernel is total (empty below the window) — which
      // also matters for safety: InferFiltersFromGenerate pushes a
      // size(__sh) > 0 predicate below the __n filter, so this
      // evaluates on short docs too (the combinator spec needs its
      // when-guard for exactly that reason)
      .withColumn("__sh",
        graft.plans.NativeHashes.spanHashes(col("__th"), window, spanP))
      .select(col(idCol), explode(col("__sh")).as("__h"))
    val dupHashes = spans.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2)
    spans.join(dupHashes, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("__nd").isNotNull, 1L).otherwise(0L))
          .as("n_dup_spans"))
      .withColumn("dup_fraction",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
  }

  /** Robust-winnowing document fingerprints (Schleimer, Wilkerson,
    * Aiken, SIGMOD'03 — the MOSS fingerprinting algorithm): hash every
    * `window`-token span ([[graft.plans.NativeHashes.spanHashes]], the
    * X62 kernel), slide a `guarantee`-length window over the span-hash
    * sequence and keep each window's MINIMUM; the distinct kept values
    * are the document's fingerprints. The winnowing guarantee: any
    * shared run of `window + guarantee − 1` tokens produces at least
    * one shared fingerprint, while expected fingerprint density is
    * `2/(guarantee+1)` of the spans — the corpus-wide shuffle carries
    * a ~`(guarantee+1)/2`-fold fewer rows than X62's every-span
    * explode, which is the whole point at 100 TB.
    *
    * Documents shorter than `window` tokens have no spans and emit no
    * fingerprints; documents with fewer than `guarantee` spans emit
    * the minimum of what they have (one truncated window). The min is
    * selected by VALUE (ties collapse in the distinct), so the
    * rightmost-tie rule of the paper — which exists to bound the
    * SELECTED-POSITION count — is immaterial for the value-set
    * semantics used here.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, guarantee: Int = 4): DataFrame = {
    require(window >= 2,
      s"winnowFingerprints: window must be >= 2, got $window")
    require(guarantee >= 1,
      s"winnowFingerprints: guarantee must be >= 1, got $guarantee")
    df.select(col(idCol), tokenHashes(textCol).as("__th"))
      .filter(size(col("__th")) >= window)
      .select(col(idCol),
        graft.plans.NativeHashes.spanHashes(col("__th"), window, spanP)
          .as("__sh"))
      .select(col(idCol),
        array_distinct(
          graft.plans.NativeHashes.slidingMin(col("__sh"), guarantee))
          .as("fingerprints"))
  }

  /** The winnow sliding-min as a pure-Column combinator — the
    * executable specification [[graft.plans.NativeHashes.slidingMin]]
    * is proven equal to (DedupSpec); the kernel exists because the
    * per-window interpreted slice+min was the measured cost of the
    * whole fingerprint pass. `arr` must be a BOUND column reference —
    * indexing a computed array from inside a HOF lambda re-evaluates
    * it per element (the q154 lesson).
    */
  private[graft] def slidingMinColumn(arr: Column, g: Int): Column =
    transform(
      sequence(lit(1), greatest(size(arr) - (g - 1), lit(1))),
      i => array_min(slice(arr, i, lit(g))))

  /** MOSS-style similarity pairs over [[winnowFingerprints]]:
    * `(id_a, id_b, n_shared)` for document pairs sharing at least
    * `minShared` distinct fingerprints. Each fingerprint is a bucket of
    * [[pairsWithinBuckets]]: pairs form only within it, and a
    * fingerprint carried by more than `maxDocsPerPrint` documents is
    * boilerplate by definition and is dropped from pair formation (the
    * bucket cap — without it one ubiquitous print forms a quadratic
    * pair set).
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, guarantee: Int = 4, minShared: Int = 2,
      maxDocsPerPrint: Int = 64): DataFrame = {
    require(minShared >= 1,
      s"winnowPairs: minShared must be >= 1, got $minShared")
    require(maxDocsPerPrint >= 2,
      s"winnowPairs: maxDocsPerPrint must be >= 2, got $maxDocsPerPrint")
    val prints = winnowFingerprints(df, idCol, textCol, window, guarantee)
      .select(col(idCol).as("__id"), lit(0).as("band"),
        explode(col("fingerprints")).as("bkey"))
    // the ids stay nullable in the schema, as the doc ids they come from
    def nullable(c: String): Column = GraftSqlBridge.column(
      KnownNullable(GraftSqlBridge.expression(col(c)))).as(c)
    pairsWithinBuckets(prints, "__id", maxDocsPerPrint, None)
      .filter(col("n_shared") >= minShared)
      .select(nullable("id_a"), nullable("id_b"), col("n_shared"))
  }

  /** Duplicate-span REMOVAL — the second half of Lee et al.'s
    * exact-substring dedup: every token covered by a cross-document
    * duplicated `window`-span ([[dupSpanStats]]'s ≥2-distinct-docs
    * rule) is dropped from the text, in EVERY document carrying it.
    * Returns the input columns with the text column rebuilt, plus
    * `removed_tokens`.
    *
    * Scale shape on top of X62's: the duplicated POSITIONS fold to
    * one sorted array per affected document (bounded by the doc's own
    * length), ride an id-keyed equi-join back onto the corpus, and
    * the rebuild is a map-side two-arg `filter` over (token, index) —
    * a token survives iff NO duplicated position covers its index.
    * Corpus-sized shuffles: the span frequency, the position rollup,
    * and the id join — all linear, no pair product, no window.
    *
    * The membership probe is O(|dupPositions|) per token; documents
    * that are mostly duplicated pay O(len²/window) worst-case. The
    * cure is `mergeIntervals = true`: the sorted positions fold once
    * into DISJOINT merged `[s, e)` intervals (adjacent/overlapping
    * spans coalesce), and the probe runs over intervals instead of
    * raw positions — a mostly-duplicated document collapses to a
    * handful of intervals, so the probe drops from O(len·|dupPos|)
    * to ~O(len). Off by default: on lightly-duplicated corpora the
    * positions are few and the fold is pure overhead; flip it when
    * profiles show heavy per-document duplication.
    * `StripSpansMergeProps` proves the two variants byte-equal.
    */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 20, mergeIntervals: Boolean = false): DataFrame = {
    require(window >= 2,
      s"stripDuplicateSpans: window must be >= 2, got $window")
    val id = col(s"`$idCol`")
    val spans = df
      .select(id, graft.plans.NativeHashes.spanHashes(
        tokenHashes(textCol), window, spanP).as("__sh"))
      .select(id, posexplode(col("__sh")).as(Seq("__pos", "__h")))
    val dupHashes = spans.groupBy(col("__h"))
      .agg(countDistinct(id).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("__h"))
    val dupPos = spans.join(dupHashes, "__h")
      .groupBy(id)
      .agg(sort_array(collect_list(col("__pos"))).as("__dp"))
    val toks = text.tokenize(col(s"`$textCol`"))
    // the coverage set the probe runs against: raw span-start
    // positions, or (flagged) the same positions folded into merged
    // disjoint [s, e) intervals — __dp is sorted ascending, so one
    // left-to-right aggregate pass merges every overlapping or
    // adjacent span (pos <= last.e extends; pos > last.e opens)
    val emptyIv = slice(
      array(struct(lit(0).as("s"), lit(0).as("e"))), 1, 0)
    val merged = aggregate(col("__dp"), emptyIv, (acc, pos) => {
      val last = element_at(acc, -1)
      when(size(acc) === 0 || pos > last.getField("e"),
        concat(acc, array(struct(pos.as("s"), (pos + window).as("e")))))
        .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(last.getField("s").as("s"),
            greatest(last.getField("e"), pos + window).as("e")))))
    })
    val kept =
      if (mergeIntervals)
        filter(toks, (t, i) => !exists(merged, v =>
          i >= v.getField("s") && i < v.getField("e")))
      else
        filter(toks, (t, i) =>
          !exists(col("__dp"), pos => i >= pos && i < pos + window))
    df.join(dupPos, Seq(idCol), "left")
      .withColumn("removed_tokens",
        when(col("__dp").isNull, 0L)
          .otherwise((size(toks) - size(kept)).cast("long")))
      .withColumn(textCol,
        when(col("__dp").isNull, col(s"`$textCol`"))
          .otherwise(array_join(kept, " ")))
      .drop("__dp")
  }

  /** WITHIN-document repeated-span removal — the intra-document half
    * of Lee et al.'s exact-substring discipline, and the compressor
    * for degenerate/looped text (repeated headers, LM babble): a span
    * is a REPEAT iff the same hash first occurred earlier in the SAME
    * document at a non-overlapping position
    * ([[graft.plans.NativeHashes.repeatSpanDrops]]); every token a
    * repeat span covers drops — the [[stripDuplicateSpans]] coverage
    * rule applied within the document. First occurrences always stay
    * (a repeat's coverage cannot reach them), so running the operator
    * twice is a no-op on exact-loop text.
    *
    * Scale shape: the whole operator is ONE map-side projection —
    * token hashes, span hashes, the repeat mask, and the rebuild all
    * happen inside the row, so there is NO shuffle at any corpus size
    * and the operator drops into a streaming micro-batch stateless.
    * (Cross-document duplicated text is [[stripDuplicateSpans]]'s
    * job — the two compose, within-doc first.)
    */
  def stripWithinDocRepeats(df: DataFrame, idCol: String,
      textCol: String, window: Int = 8): DataFrame = {
    require(window >= 2,
      s"stripWithinDocRepeats: window must be >= 2, got $window")
    val toks = text.tokenize(col(s"`$textCol`"))
    val withDrops = df
      .withColumn("__th", tokenHashes(textCol))
      .withColumn("__dp", when(size(col("__th")) >= window,
        graft.plans.NativeHashes.repeatSpanDrops(
          graft.plans.NativeHashes.spanHashes(col("__th"), window, spanP),
          window)).otherwise(array().cast("array<int>")))
    val kept = filter(toks, (t, i) =>
      !exists(col("__dp"), d => d === i))
    withDrops
      .withColumn("removed_tokens",
        (size(toks) - size(kept)).cast("long"))
      .withColumn(textCol,
        when(size(col("__dp")) === 0, col(s"`$textCol`"))
          .otherwise(array_join(kept, " ")))
      .drop("__th", "__dp")
  }

  /** Span-level train/eval decontamination — the GPT-3 appendix-C
    * discipline (13-gram overlap between training documents and
    * evaluation examples) generalized: every distinct `window`-token
    * span of every training document is matched against every distinct
    * span of every eval example, and a (train, eval) pair reporting
    * `n_shared` common spans with coverage
    * `n_shared / n_eval_spans` is a leak candidate. Doc-level
    * fingerprint contamination (X27) catches verbatim copies; this
    * catches PARTIAL quoting — the leak mode that actually occurs.
    *
    * Scale shape: both sides hash through the O(tokens) native kernel
    * ([[graft.plans.NativeHashes.spanHashes]]) and dedup map-side
    * (`array_distinct` BEFORE the explode — the shuffle carries one
    * row per distinct (doc, span), never per position). The match is
    * a hash equi-join: with a benchmark-sized eval set the planner
    * broadcasts it and the corpus is never shuffled at all; a huge
    * eval side degrades to a shuffled equi-join — still linear,
    * never a pair product. Pair rows exist only for pairs that share
    * ≥ 1 span.
    *
    * Determinism: the span hash is the X62 integer fold — exact
    * arithmetic end to end; the only double is the final rounded
    * coverage ratio.
    */
  def spanContamination(train: DataFrame, eval: DataFrame,
      trainIdCol: String, evalIdCol: String, trainTextCol: String,
      evalTextCol: String, window: Int = 13): DataFrame = {
    require(window >= 2,
      s"spanContamination: window must be >= 2, got $window")
    def spans(df: DataFrame, idCol: String, textCol: String,
        outId: String): DataFrame =
      df.select(col(s"`$idCol`").as(outId),
          array_distinct(graft.plans.NativeHashes.spanHashes(
            tokenHashes(textCol), window, spanP)).as("__sh"))
        .withColumn("__n_spans", size(col("__sh")))
        .select(col(outId), col("__n_spans"),
          explode(col("__sh")).as("__h"))
    val ts = spans(train, trainIdCol, trainTextCol, "train_id")
      .drop("__n_spans")
    val es = spans(eval, evalIdCol, evalTextCol, "eval_id")
      .withColumnRenamed("__n_spans", "n_eval_spans")
    ts.join(es, "__h")
      .groupBy(col("train_id"), col("eval_id"), col("n_eval_spans"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("coverage",
        round(col("n_shared").cast("double") / col("n_eval_spans"), 4))
      .select(col("train_id"), col("eval_id"), col("n_shared"),
        col("n_eval_spans").cast("long").as("n_eval_spans"),
        col("coverage"))
  }

  /** Reference combinator formulation of the span-hash array
    * ([[graft.plans.NativeHashes.spanHashes]] computes identical
    * values in one O(tokens) codegen'd loop): per window position, a
    * left fold `(acc*31 + x) mod p` over that window's element
    * hashes. The when-guard keeps it total for short arrays.
    */
  def spanHashesColumn(elementHashes: Column, window: Int,
      p: Long): Column =
    when(size(elementHashes) >= window, transform(
      sequence(lit(0), size(elementHashes) - window),
      i => aggregate(slice(elementHashes, i + lit(1), lit(window)),
        lit(0L), (acc, x) => pmod(acc * 31 + x, lit(p)))))
      .otherwise(array().cast("array<long>"))

  // -------------------------------------------------------------------
  // Paragraph-level cross-document dedup

  /** Cross-document PARAGRAPH dedup, first-writer-wins (the
    * RefinedWeb/Falcon granularity between X1's whole-document hash and
    * X62's token spans): a normalized paragraph survives only in the
    * document with the MINIMUM id carrying it and is dropped from every
    * other document. Distinct from [[stripFrequentLines]] (which removes
    * boilerplate from ALL documents, owner included) — here exactly one
    * copy of every duplicated paragraph survives the corpus.
    *
    * Scale shape: one paragraph-keyed shuffle computes (owner = min id,
    * distinct-doc count) per normalized paragraph; only paragraphs seen
    * in ≥ 2 DISTINCT documents — the duplicated subset, orders of
    * magnitude smaller than the corpus — survive the filter, roll up to
    * one drop-list array per affected document (bounded by that
    * document's own paragraph count), and ride an id-keyed equi-join
    * back onto the corpus; the rebuild is a pure map-side higher-order
    * filter. Documents with no cross-doc paragraph never join a drop
    * list and pass through untouched. No all-pairs product anywhere.
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val id = col(s"`$idCol`")
    val txt = col(s"`$textCol`")
    val paras = df
      .select(id.as("__pd_id"), explode(split(txt, sep)).as("__pd_raw"))
      .select(col("__pd_id"), trim(col("__pd_raw")).as("__pd_p"))
      .filter(length(col("__pd_p")) > 0)
      // a doc repeating a paragraph internally still votes once
      .distinct()
    val owners = paras.groupBy(col("__pd_p"))
      .agg(min(col("__pd_id")).as("__pd_owner"),
        count(lit(1)).as("__pd_nd"))
      .filter(col("__pd_nd") >= 2)
    val drops = paras.join(owners, "__pd_p")
      .filter(col("__pd_id") =!= col("__pd_owner"))
      .groupBy(col("__pd_id"))
      .agg(sort_array(collect_set(col("__pd_p"))).as("__pd_drop"))
    val parts = split(txt, sep)
    val kept = filter(parts,
      p => !array_contains(col("__pd_drop"), trim(p)))
    df.join(drops, id === col("__pd_id"), "left")
      .withColumn("paras_removed",
        when(col("__pd_drop").isNull, 0L)
          .otherwise((size(parts) - size(kept)).cast("long")))
      .withColumn(textCol,
        when(col("__pd_drop").isNull, txt)
          .otherwise(array_join(kept, sep)))
      .drop("__pd_id", "__pd_drop")
  }

  // -------------------------------------------------------------------
  // Contamination overlap fraction

  /** Benchmark-contamination OVERLAP FRACTION — the graded upgrade of
    * [[contaminationScan]]'s boolean flag (the WIMBD/benchmark-report
    * metric): for every (corpus doc, benchmark example) pair sharing at
    * least one n-gram, the fraction of the example's DISTINCT n-grams
    * the doc covers. A doc covering 80% of an eval example is a
    * memorization risk; one sharing a single idiom is not — the
    * fraction is what decontamination policy thresholds on.
    *
    * Same asymmetric scale shape as the scan: the benchmark side is
    * eval-suite-sized so its exploded shingles (and per-example totals)
    * BROADCAST; the corpus scans once map-side; only collision-sized
    * (doc, example) hit counts shuffle. The fraction divides exact
    * longs and rounds once at the end.
    */
  def contaminationFraction(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, shingleN: Int,
      minFraction: Double = 0.0): DataFrame = {
    val benchG = shingleRows(bench, idCol, textCol, shingleN, "bench_id")
    val benchSz = benchG.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_bench"))
    benchHits(docs, benchG, idCol, textCol, shingleN)
      .join(broadcast(benchSz), "bench_id")
      .withColumn("overlap_frac",
        round(col("n_shared").cast("double") / col("n_bench"), 6))
      .filter(col("overlap_frac") >= minFraction)
      .select(col("contaminated_id"), col("bench_id"),
        col("n_shared"), col("n_bench").cast("long").as("n_bench"),
        col("overlap_frac"))
  }

  // -------------------------------------------------------------------
  // Corpus-level source overlap

  /** EXACT pairwise shingle-set overlap between SOURCES — the
    * corpus-composition report ("how much does source A repeat source
    * B") that drives mixture weights, crawl-dedup priorities, and
    * licensing audits: per (src_a < src_b), the distinct-shingle
    * intersection, union, and Jaccard of the sources' pooled shingle
    * sets.
    *
    * Scale shape: ONE corpus-sized shuffle builds the distinct
    * (source, shingle) table; per-shingle source lists are bounded by
    * the SOURCE count (guarded by `maxSources`), pair expansion
    * happens in-expression inside that bound, and the rollup output is
    * sources² rows. Nothing corpus-sized survives past the distinct.
    * The lists skip [[pairsWithinBuckets]]' chunked expansion: they are
    * already bounded by the source count, and the chunking would add a
    * repartition shuffle.
    */
  def sourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
      shingleN: Int = 3, maxSources: Int = 4096): DataFrame = {
    val ss = docs
      .select(col(s"`$srcCol`").as("__so_src"),
        explode(shingles(textCol, shingleN)).as("__so_g0"))
      // shingle STRINGS never reach the shuffle: hashing to 64 bits
      // map-side means the one corpus-sized distinct ships 8-byte keys
      // (~4-8x fewer shuffle bytes; a collision altering a count needs
      // ~2^32 distinct shingles per source pair — not at this scale)
      .select(col("__so_src"), xxhash64(col("__so_g0")).as("__so_g"))
      .distinct()
    val nSrc = ss.select(col("__so_src")).distinct()
      .limit(maxSources + 1).count()
    require(nSrc <= maxSources,
      s"sourceOverlap: more than $maxSources sources — per-shingle " +
        "source lists would not stay bounded; raise maxSources " +
        "deliberately or pre-bucket sources")
    val sz = ss.groupBy(col("__so_src")).agg(count(lit(1)).as("__so_n"))
    val pairs = ss.groupBy(col("__so_g"))
      .agg(sort_array(collect_set(col("__so_src"))).as("__so_ss"))
      .filter(size(col("__so_ss")) > 1)
      .select(explode(flatten(transform(col("__so_ss"), (a, i) =>
        transform(slice(col("__so_ss"), i + 2, size(col("__so_ss"))),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(broadcast(sz.select(col("__so_src").as("src_a"),
        col("__so_n").as("__na"))), "src_a")
      .join(broadcast(sz.select(col("__so_src").as("src_b"),
        col("__so_n").as("__nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_inter"),
        (col("__na") + col("__nb") - col("n_inter")).as("n_union"),
        round(jaccard(col("__na"), col("__nb"), col("n_inter")), 6)
          .as("jaccard"))
  }

  /** SKETCH estimate of [[sourceOverlap]] — the shape that holds when
    * per-source shingle sets no longer fit anything: each source keeps
    * only a `numHashes`-element MinHash signature of its POOLED
    * distinct-shingle set (union sketch: elementwise min over member
    * shingles), and pairwise Jaccard is estimated as the fraction of
    * agreeing signature slots (stderr ≈ sqrt(J(1-J)/H)).
    *
    * Scale shape (round-9 rewrite — the first form posexploded
    * tokens × numHashes ROWS and benched 8× slower than the exact
    * form at sf0.1): each DOC computes its numHashes-slot signature
    * in ONE codegen'd kernel pass (one base xxhash per shingle + k
    * integer mixes, `HashKernels.minhash` — no row explosion), and
    * the source's union signature is the elementwise min across its
    * docs (min is associative: folding per-doc minima equals the min
    * over the source's pooled shingle set). The only shuffle is the
    * docs × numHashes slot rollup, map-side combined to
    * sources × numHashes partials per mapper; pair comparison runs on
    * the sources²-sized signature table. Exact and estimate agree at
    * the extremes by construction (identical sets → identical
    * signatures → 1.0; disjoint hash-free sets → ~0); `Round8Props`
    * pins the error envelope. The exact form is the oracle-comparable
    * reference; this is the flagged 100 TB variant.
    */
  def sourceOverlapSketch(docs: DataFrame, srcCol: String,
      textCol: String, shingleN: Int = 3,
      numHashes: Int = 128): DataFrame = {
    // drop docs with NO shingles (fewer than shingleN tokens) BEFORE
    // signing: the kernel returns an all-Long.MaxValue signature for
    // them, and two sources consisting only of such docs would share
    // that degenerate signature and read as overlap 1.0 — the
    // pre-rewrite posexplode form naturally emitted no slots for an
    // empty shingle array, and this where() restores that behavior
    val sh = shingles(textCol, shingleN)
    val docSig = docs
      .where(size(sh) > 0)
      .select(col(s"`$srcCol`").as("__sk_src"),
        graft.plans.NativeHashes.minHashSignature64(sh, numHashes)
          .as("__sk_ds"))
    val slots = docSig.select(col("__sk_src"),
        posexplode(col("__sk_ds")).as(Seq("__sk_i", "__sk_h")))
      .groupBy(col("__sk_src"), col("__sk_i"))
      .agg(min(col("__sk_h")).as("__sk_m"))
    val sigs = slots.groupBy(col("__sk_src"))
      .agg(transform(array_sort(collect_list(
          struct(col("__sk_i"), col("__sk_m")))),
        s => s.getField("__sk_m")).as("__sk_sig"))
    val a = sigs.select(col("__sk_src").as("src_a"),
      col("__sk_sig").as("__sa"))
    val b = sigs.select(col("__sk_src").as("src_b"),
      col("__sk_sig").as("__sb"))
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        round(aggregate(
          zip_with(col("__sa"), col("__sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast("double") / numHashes, 6)
          .as("jaccard_est"))
  }

  // -------------------------------------------------------------------
  // Streaming near-dup intake gate (static LSH index + per-batch gate)

  /** Static LSH index over a known corpus for STREAMING intake gating:
    * one row per (band, bkey) bucket membership, carrying the owner id
    * and its shingle set for the exact verify. Build once (or
    * incrementally append novel docs), read by [[nearDupGateBatch]]
    * inside `foreachBatch`.
    */
  def buildNearDupIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    bandRows(docs.select(col(s"`$idCol`").cast("long").as("idx_id"),
        shingles(textCol, shingleN).as("idx_sh")),
      "idx_sh", numHashes, bands, col("idx_id"), col("idx_sh"))
  }

  /** Per-batch near-dup intake gate — the STREAMING half of the
    * MinHash-LSH dedup: drop every batch document that is an exact-
    * verified (Jaccard ≥ `threshold`) near-duplicate of ANY document
    * in a static [[buildNearDupIndex]] index; survivors pass through
    * with their full payload. Run inside `foreachBatch` — the gate
    * itself keeps ZERO streaming state (the index is the state, and it
    * is static per batch; appending survivors back to the index
    * between batches gives continuous-intake semantics, the
    * [[incrementalDedup]] pattern at near-dup granularity).
    *
    * Scale shape: the batch computes signatures MAP-SIDE and meets the
    * index only through the (band, bkey) equi-join — the X2 bucket
    * discipline, never batch × corpus. Collisions are verified with
    * exact shingle Jaccard before they can kill (LSH false positives
    * cannot drop a document), and the kill set — ids only — anti-joins
    * the batch payload.
    */
  def nearDupGateBatch(batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val probes = bandRows(
      batch.select(col(s"`$idCol`").cast("long").as("__g_id"),
        shingles(textCol, shingleN).as("__g_sh")),
      "__g_sh", numHashes, bands, col("__g_id"), col("__g_sh"))
    val kills = probes.join(index, Seq("band", "bkey"))
      .filter(col("idx_id") =!= col("__g_id"))
      .filter(jaccardOf(col("__g_sh"), col("idx_sh")) >= threshold)
      .select(col("__g_id")).distinct()
    batch.join(kills,
      batch(s"`$idCol`").cast("long") === kills("__g_id"),
      "left_anti")
  }

  // -------------------------------------------------------------------
  // Quality-aware survivor selection

  /** Quality-aware dedup survivor selection — the policy layer between
    * [[connectedComponents]] and the actual row drop: within every
    * near-dup cluster the survivor is the member with the HIGHEST
    * quality score (ties break to the smaller id, so selection is
    * deterministic), not the arbitrary minimum id. Keep-best-of-cluster
    * is the difference between deduping a crawl and deduping it while
    * silently keeping the worst copy of everything.
    *
    * Input `pairs` is any (aCol, bCol) near-dup pair set (MinHash,
    * SimHash, winnowing...). Only clustered documents are returned —
    * singletons survive by definition and need no row. Scale shape: the
    * cluster closure is [[connectedComponents]]'s (scale-adaptive);
    * quality rides an id-keyed equi-join (broadcast when the clustered
    * subset is small, which it is by the near-dup premise); the
    * per-cluster argmax is one partial-aggregable max_by.
    */
  def qualitySurvivors(docs: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String, idCol: String,
      quality: Column): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol,
      tag = "qualitySurvivors")
    val scored = docs.select(col(s"`$idCol`").cast("long").as("id"),
      quality.as("__q"))
    labels.join(scored, "id")
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).cast("long").as("n_members"),
        // (quality, -id) max == best quality, ties to the SMALLER id
        max_by(col("id"), struct(col("__q"), (-col("id")).as("t")))
          .as("survivor_id"),
        max(col("__q")).as("best_quality"),
        // fixed-point mean: sum exact 1e-6 longs, divide once — a
        // float sum's addition order could flip the last rounded
        // digit between engines (the q137 lesson)
        round(sum(round(col("__q") * 1e6d).cast("long")).cast("double") /
          (count(lit(1)) * 1e6d), 6).as("mean_quality"))
  }

  /** Blocking-join record linkage (X169, round 10) — fuzzy entity
    * matching the way it survives scale: candidate pairs meet ONLY
    * inside a blocking-key bucket (the same discipline as LSH bands —
    * never an all-pairs product), then the expensive string metric
    * (Jaro–Winkler, the NativeNet kernel whose definition DuckDB's
    * builtin shares bit-for-bit) verifies within the block. Block-key
    * choice is the caller's recall/cost dial; emits (block, id_a,
    * id_b, jw) for ordered pairs at or above the threshold, jw
    * rounded to 6 dp BEFORE the threshold compare so the compared
    * predicate is the replayable one.
    */
  def blockedLinkage(df: DataFrame, idCol: String, nameCol: String,
      blockKey: Column, threshold: Double): DataFrame = {
    val base = df.select(col(s"`$idCol`").cast("long").as("__bl_id"),
      col(s"`$nameCol`").as("__bl_n"), blockKey.as("__bl_k"))
    val a = base.select(col("__bl_k"), col("__bl_id").as("id_a"),
      col("__bl_n").as("name_a"))
    val b = base.select(col("__bl_k"), col("__bl_id").as("id_b"),
      col("__bl_n").as("name_b"))
    a.join(b, Seq("__bl_k")).where(col("id_a") < col("id_b"))
      .withColumn("jw",
        round(expr("jaroWinklerSimilarity(name_a, name_b)"), 6))
      .where(col("jw") >= threshold)
      .select(col("__bl_k").as("block"), col("id_a"), col("id_b"),
        col("jw"))
  }

  /** Cross-document sentence-template detection (X167, round 10) —
    * the machine-generated-boilerplate finder one level above line
    * dedup: sentences that repeat across MANY documents once their
    * digits are masked ("order 123 shipped to zone 45") are template
    * spam, and a per-doc template fraction is the cut signal.
    *
    * Normalization: lowercase, trim, digit runs → `0` (the standard
    * skeleton mask); sentences under `minChars` are ignored (one-word
    * fragments template-match everything). Distributed shape:
    * sentence explode → (template, doc) distinct → partial-agg doc
    * counts per template — linear, one shuffle on the template key;
    * per-doc fractions join the (bounded) qualifying-template set
    * back via the hashed key.
    *
    * Returns one row per qualifying template (appearing in ≥ minDocs
    * distinct docs): `template`, `n_docs`, `n_sents` (total
    * occurrences, including repeats within a doc).
    */
  def templateSentences(docs: DataFrame, idCol: String,
      textCol: String, minDocs: Long, minChars: Int = 8): DataFrame = {
    val sents = docs.select(col(s"`$idCol`").as("__ts_id"),
        explode(text.sentences(col(s"`$textCol`"))).as("__ts_s"))
      .select(col("__ts_id"),
        regexp_replace(lower(trim(col("__ts_s"))), "[0-9]+", "0")
          .as("__ts_t"))
      .where(length(col("__ts_t")) >= minChars)
    sents.groupBy(col("__ts_t"))
      .agg(count(lit(1)).as("n_sents"),
        // distinct docs per template: the inner distinct is the
        // (template, doc) pre-aggregation — partial-aggregable,
        // never a set-valued state
        countDistinct(col("__ts_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("__ts_t").as("template"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_sents").cast("long").as("n_sents"))
  }

  /** Eval-set n-gram decontamination (X156, round 10) — the
    * benchmark-leak filter every training pipeline runs before a
    * model sees the corpus (the GPT-3-style 13-gram collision rule):
    * flag every training document sharing at least `minHits` distinct
    * word n-grams with the eval/benchmark set.
    *
    * Scale shape: the eval side is benchmarks — SMALL by construction
    * — so its distinct gram hashes build once and BROADCAST; the
    * corpus side streams map-side through the broadcast hash join and
    * is never shuffled by gram (the only corpus-wide movement is the
    * per-doc hit count's groupBy on doc id, which partial-aggregates).
    * Join keys are xxhash64(gram) — 8-byte shuffle/broadcast payloads,
    * the X91 diet; the oracle replays on gram STRINGS (collision odds
    * ~|grams|²/2⁶⁴, the accepted hashed-replay contract).
    *
    * Returns the full `docs` row set (nothing silently dropped) plus
    * `eval_hits` (distinct colliding grams — `ngrams` emits distinct
    * shingles per doc) and `contaminated`.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 13,
      minHits: Int = 1): DataFrame = {
    require(n >= 1 && minHits >= 1,
      "decontaminate: need n >= 1 and minHits >= 1")
    evalHits(docs, evalGramHashes(evalDocs, textCol, n), idCol, textCol, n,
      minHits, probe = None)
  }

  /** The distinct xxhash64 values of the eval side's `n`-grams. */
  private def evalGramHashes(evalDocs: DataFrame, textCol: String,
      n: Int): DataFrame =
    evalDocs.select(explode(shingles(textCol, n)).as("__dc_g"))
      .select(xxhash64(col("__dc_g")).as("__dc_gh")).distinct()

  /** The decontamination body: `docs` plus `eval_hits` (the doc's
    * distinct grams among `evalGrams`, counted through the broadcast
    * hash join) and `contaminated`. `probe`, when given, filters the
    * corpus gram stream map-side before the join.
    */
  private def evalHits(docs: DataFrame, evalGrams: DataFrame, idCol: String,
      textCol: String, n: Int, minHits: Int,
      probe: Option[Column]): DataFrame = {
    val grams = docs.select(col(s"`$idCol`").as("__dc_id"),
        explode(shingles(textCol, n)).as("__dc_g"))
      .select(col("__dc_id"), xxhash64(col("__dc_g")).as("__dc_gh"))
    val hits = probe.fold(grams)(grams.filter)
      .join(broadcast(evalGrams), Seq("__dc_gh"))
      .groupBy(col("__dc_id"))
      .agg(count(lit(1)).as("__dc_hits"))
    docs.join(hits, col(s"`$idCol`") === col("__dc_id"), "left")
      .withColumn("eval_hits", coalesce(col("__dc_hits"), lit(0L)))
      .withColumn("contaminated", col("eval_hits") >= minHits)
      .drop("__dc_id", "__dc_hits")
  }

  /** [[decontaminate]] behind a BLOOM pre-filter (X208, round 13) —
    * RESULT-IDENTICAL (a Bloom filter has no false negatives; false
    * positives fall through to the exact broadcast join), different
    * 100 TB cost shape: with a LARGE eval suite the corpus's exploded
    * gram stream is the volume — here every corpus gram probes a
    * bytes-sized sketch MAP-SIDE and non-matching grams (the
    * overwhelming majority of a clean corpus) drop BEFORE the exact
    * join, so the join's probe volume shrinks from all corpus grams
    * to ~the contaminated ones plus fpp noise; the exact eval-gram
    * join then settles every survivor. `fpp` trades sketch bytes
    * (shipped with the task binary) against exact-join traffic.
    * Parity with [[decontaminate]] pinned in Round13Spec.
    */
  def decontaminateBloom(docs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 13, minHits: Int = 1,
      fpp: Double = 0.01): DataFrame = {
    require(n >= 1 && minHits >= 1,
      "decontaminateBloom: need n >= 1 and minHits >= 1")
    val evalGrams = evalGramHashes(evalDocs, textCol, n)
      .persist() // feeds the bloom build's count + sketch + the join
    try {
      // map-side: most grams never reach the join
      val probe = graft.plans.NativeHashes.bloomMightContain(col("__dc_gh"),
        graft.plans.NativeHashes.bloomSketch(evalGrams, "__dc_gh", fpp))
      // materialize before unpersist: the returned frame must not
      // re-plan against an evicted cache
      evalHits(docs, evalGrams, idCol, textCol, n, minHits, Some(probe))
        .localCheckpoint(true)
    } finally evalGrams.unpersist()
  }
}
