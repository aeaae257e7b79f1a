package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`), built as
  * candidates → one exact verify.
  *
  * Every search and near-dup operator here, and the semantic ones in
  * [[Dedup]], generates its candidate pairs its own way: all pairs
  * against a broadcast probe set, a random-hyperplane LSH bucket with
  * multiprobe, an IVF cell (optionally list-capped), or a shortlist
  * ranked on int8 codes, PQ-ADC scores or sign-bit Hamming distance.
  * The candidates then go through ONE exact-verify stage
  * ([[exactTopK]], [[exactPairsAbove]]): the zero-norm-guarded cosine
  * over per-row norms, cut to a (sim desc, id asc) top-k or to the
  * pairs at or above a threshold. The candidate strategy decides recall
  * and cost; the answer over the candidates is always exact.
  *
  * The per-row and per-pair math runs in codegen'd native kernels
  * ([[graft.plans.NativeMath]]: `DotProduct64Expr`, `ArgMaxCosineExpr`,
  * `graft_top_cells`, PQ-ADC, Hamming), accumulating in double; the
  * `...Column` combinators kept here are their value-identical
  * references.
  */
object Similarity {

  /** Dot product of two numeric-array columns, accumulated in double.
    * Backed by the native `DotProduct64Expr` kernel (codegen; the
    * combinator spec [[dotColumn]] evaluates interpreted and was the
    * hot loop of every ANN path).
    */
  def dot(a: Column, b: Column): Column = graft.plans.NativeMath.dot64(a, b)

  /** Reference combinator formulation of [[dot]] (value-identical;
    * SimilaritySpec proves it).
    */
  def dotColumn(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm of a numeric-array column: sqrt of the native
    * self-dot (same index-ordered accumulation as the combinator).
    */
  def norm(a: Column): Column = sqrt(graft.plans.NativeMath.dot64(a, a))

  /** Cosine similarity; 0 when either side has zero norm. */
  def cosine(a: Column, b: Column): Column =
    guardedSim(a, b, norm(a), norm(b))

  /** The shared scoring expression: cosine from PRE-computed norms,
    * zero-guarded. Every similarity operator scores through this one
    * definition so tie-break/guard changes cannot diverge between the
    * inline, indexed and pair variants.
    */
  private[graft] def guardedSim(v: Column, p: Column, vn: Column, pn: Column): Column =
    when(vn > 0 && pn > 0, dot(v, p) / (vn * pn)).otherwise(lit(0.0))

  /** Exact top-k rows per key by (sim desc, id asc); any column besides
    * (key, id, sim) rides along. One `row_number` window per key: Spark
    * plans the rank filter as a WindowGroupLimit Partial in each map
    * task, below the key exchange, then a Final one after it. So the
    * shuffle carries at most k rows per (key, input partition), and no
    * single task ranks all candidates of a key. That trim is planned
    * only for k ≤ `spark.sql.optimizer.windowGroupLimitThreshold`
    * (default 1000); above it the rank has no map-side trim. No
    * registered entry ranks more than 400 (q209's shortlist at sf1).
    */
  private[graft] def topKPerKey(scored: DataFrame, keyCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("sim").desc, col("id").asc)
    val extra = scored.columns.toSeq.diff(Seq(keyCol, "id", "sim")).map(col)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col(keyCol), col("rank").cast("long").as("rank"),
        col("id"), col("sim")) ++ extra: _*)
  }

  // -------------------------------------------------------------------
  // Exact verify: the one stage every candidate generator feeds

  /** Projects `df` to one side of the exact-verify stage: the id, the
    * vector and its norm (once per row, never per pair), plus the
    * `keys` the candidates meet on. `widen` also hoists the float→double
    * widening to once per row. That pays where each row scores many
    * pairs inside one stage ([[Dedup.semanticDedup]] at sf1: 11 s →
    * ~3 s, against 4.0 s for the float-native kernel); where the side
    * is shuffled it only doubles the payload. Both forms are
    * value-identical.
    */
  private def side(df: DataFrame, names: (String, String, String),
      id: Column, vec: Column, keys: Seq[Column],
      widen: Boolean): DataFrame = {
    val (idName, vecName, normName) = names
    val v = if (widen) transform(vec, x => x.cast("double")) else vec
    df.select(Seq(id.as(idName), v.as(vecName), norm(vec).as(normName)) ++
      keys: _*)
  }

  /** The corpus side `(id, __v, __vn, keys…)`. It is also the stored
    * [[writeAnnIndex]] layout, so an index reads back as a corpus side.
    */
  private[graft] def corpusSide(df: DataFrame, id: Column, vec: Column,
      keys: Seq[Column] = Nil, widen: Boolean = false): DataFrame =
    side(df, ("id", "__v", "__vn"), id, vec, keys, widen)

  /** The probe side `(probe_id, __p, __pn, keys…)`. */
  private[graft] def probeSide(df: DataFrame, id: Column, vec: Column,
      keys: Seq[Column] = Nil, widen: Boolean = false): DataFrame =
    side(df, ("probe_id", "__p", "__pn"), id, vec, keys, widen)

  /** How the candidate pairs of the exact-verify stage form. The
    * strategy is a value; scoring and the top-k or threshold cut are
    * shared.
    */
  private[graft] sealed trait Candidates

  private[graft] object Candidates {
    /** Every (corpus, probe) pair. */
    case object All extends Candidates

    /** Rows sharing the `key` column both sides carry: an LSH bucket or
      * a semantic-dedup cell.
      */
    final case class SameKey(key: String) extends Candidates

    /** IVF cells: corpus rows are binned into their nearest-centroid
      * cell ([[assignCell]]) and capped at `maxPerCell` rows per cell
      * ([[capCellLists]]); each probe explodes its `nprobe` best cells
      * ([[probeCells]]); the two meet through one cell equi-join.
      */
    final case class Ivf(cents: Array[(Long, Seq[Double])], nprobe: Int,
        maxPerCell: Int = Int.MaxValue) extends Candidates {
      require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
      require(maxPerCell >= 1, s"maxPerCell must be >= 1, got $maxPerCell")
    }

    /** Exactly the listed `(probe_id, id)` pairs. For [[exactTopK]] they
      * are a shortlist already bounded per probe, and their other
      * columns ride to the output. A corpus side of just `(id, __v)`
      * gets its norm per listed pair, after the join: the form for a
      * shortlist far smaller than the corpus. Spark moves no join below
      * a projection that computes columns, so a norm (or a widening)
      * projected with the corpus runs on every corpus row, listed or
      * not.
      */
    final case class Listed(pairs: DataFrame) extends Candidates
  }

  /** Both sides' columns for every candidate pair of `cands`. */
  private def candidatePairs(corpus: DataFrame, probes: DataFrame,
      cands: Candidates): DataFrame = cands match {
    case Candidates.All => corpus.crossJoin(probes)
    case Candidates.SameKey(key) => corpus.join(probes, key)
    case Candidates.Ivf(cents, nprobe, maxPerCell) =>
      val binned = corpus
        .withColumn("__cell", assignCell(col("__v"), cents))
        // the cap's ordering key: micro-quantized norm (engine-exact —
        // sqrt IS correctly rounded, and the round(·1e6) kills any
        // borderline-tie cross-engine drift), ties by id
        .withColumn("__nq", round(col("__vn") * 1e6).cast("long"))
      capCellLists(binned, "__cell", "__nq", "id", maxPerCell)
        .join(probes.withColumn("__cell",
          explode(probeCells(col("__p"), cents, nprobe))), "__cell")
    case Candidates.Listed(pairs) =>
      val met = pairs.join(corpus, "id")
      (if (corpus.columns.contains("__vn")) met
       else met.withColumn("__vn", norm(col("__v"))))
        .join(probes, "probe_id")
  }

  /** The verified score of a candidate pair: [[guardedSim]] over the
    * two sides' vectors and per-row norms.
    */
  private def verifiedSim: Column =
    guardedSim(col("__v"), col("__p"), col("__vn"), col("__pn"))

  /** Exact top-k corpus rows per probe among `cands`, the probe itself
    * excluded, ranked by [[topKPerKey]]: (probe_id, rank, id, sim),
    * plus the extra columns of a `Listed` shortlist. `score` is the
    * pair's `sim` over both sides' columns, higher first: the guarded
    * cosine by default, or any other score a ranker needs (a negated
    * Hamming distance, a PQ-ADC lookup sum, an exact integer dot).
    */
  private[graft] def exactTopK(corpus: DataFrame, probes: DataFrame,
      cands: Candidates, k: Int, score: Column = verifiedSim): DataFrame = {
    val extra = cands match {
      case Candidates.Listed(pairs) =>
        pairs.columns.toSeq.diff(Seq("probe_id", "id")).map(col)
      case _ => Nil
    }
    val scored = candidatePairs(corpus, probes, cands)
      .filter(col("id") =!= col("probe_id"))
      .select(Seq(col("probe_id"), col("id"), score.as("sim")) ++
        extra: _*)
    topKPerKey(scored, "probe_id", k)
  }

  /** Exact candidate pairs at or above `threshold`: (id_a, id_b, sim),
    * id_a from the corpus side. `ordered` keeps only id_a < id_b (each
    * pair of a self-join once); it filters before the score does.
    */
  private[graft] def exactPairsAbove(corpus: DataFrame, probes: DataFrame,
      cands: Candidates, threshold: Double,
      ordered: Boolean): DataFrame = {
    val met = candidatePairs(corpus, probes, cands)
    (if (ordered) met.filter(col("id") < col("probe_id")) else met)
      .select(col("id").as("id_a"), col("probe_id").as("id_b"),
        verifiedSim.as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Exact top-k neighbors per probe: broadcast the (small) probe set
    * against the corpus, compute cosine once per (vector, probe) with
    * pre-computed norms, rank per probe ([[topKPerKey]]). One corpus
    * scan total; deterministic tie-break on id.
    *
    * Output: (probe_id, rank, id, sim).
    */
  def bruteForceTopK(vecs: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    exactTopK(corpusSide(vecs, col(idCol), col(vecCol)),
      broadcast(probeSide(probes, col(idCol), col(vecCol))),
      Candidates.All, k)

  /** Matryoshka truncation recall curve (X200, round 13): for each
    * prefix length d in `dims`, the exact top-k under the FIRST d
    * dimensions' cosine is compared per probe against the
    * full-dimension exact top-k — recall@k per d, the chart that
    * decides how many dimensions a 100 TB vector corpus actually
    * ships (matryoshka-style prefix truncation cuts vector IO d/D
    * with a measured recall trade). One brute-force pass per d over
    * the probes (broadcast, bounded), all rankings deterministic
    * (sim desc, id asc); the denominator is the full top-k row count
    * computed in-plan (no driver scalar). Exact arithmetic end to
    * end — the oracle replays slices, cosines, and ranks.
    */
  def truncationRecallCurve(vecs: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, dims: Seq[Int],
      k: Int): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ > 0),
      "truncationRecallCurve: dims must be positive")
    // probes×k-bounded, consumed |dims|+1 times (every per-dim recall
    // semi-join AND the denominator) — stage it or the full-dimension
    // brute-force corpus scan re-executes once per consumer (round 13,
    // the q192/shared-lineage discipline)
    val full = graft.Graft.stage(
      bruteForceTopK(vecs, probes, idCol, vecCol, k)
        .select(col("probe_id"), col("id")))
    val perDim = dims.map { d =>
      val tv = vecs.select(col(s"`$idCol`").as(idCol),
        slice(col(s"`$vecCol`"), 1, d).as(vecCol))
      val tp = probes.select(col(s"`$idCol`").as(idCol),
        slice(col(s"`$vecCol`"), 1, d).as(vecCol))
      bruteForceTopK(tv, tp, idCol, vecCol, k)
        .select(col("probe_id"), col("id"))
        .join(full, Seq("probe_id", "id"), "left_semi")
        .agg(count(lit(1)).cast("long").as("hits"))
        .select(lit(d.toLong).as("dims"), col("hits"))
    }.reduce(_ unionByName _)
    val denom = full.agg(count(lit(1)).cast("long").as("__den"))
    perDim.crossJoin(denom)
      .select(col("dims"), col("hits"), col("__den").as("n_full"),
        round(col("hits").cast("double") / col("__den"), 6).as("recall"))
  }

  /** Binary (sign-bit) embedding ANN (X201, round 13): vectors pack
    * into sign bits ([[graft.plans.NativeMath.packSignBits]], 64
    * dims/long — 32× less vector IO than float32), candidates rank by
    * XOR-popcount Hamming distance (one codegen'd kernel per pair),
    * and the per-probe `shortlist` re-ranks with the EXACT cosine —
    * the two-stage shape binary vector stores deploy. Deterministic
    * throughout: shortlist by (hamming asc, id asc) through
    * [[exactTopK]] with the negated distance as its score, final rank
    * by (sim desc, id asc). Fully structural — the oracle replays sign
    * bits, Hamming counts, the shortlist cut, and the exact re-rank.
    */
  def binaryHammingTopK(vecs: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, "binaryHammingTopK: shortlist must be >= k")
    val bits = graft.plans.NativeMath.packSignBits(col(s"`$vecCol`"))
    val short = exactTopK(
      vecs.select(col(s"`$idCol`").as("id"), bits.as("__v")),
      broadcast(probes.select(col(s"`$idCol`").as("probe_id"),
        bits.as("__p"))),
      Candidates.All, shortlist,
      score = -graft.plans.NativeMath.hammingI64(col("__v"), col("__p")))
      .select(col("probe_id"), col("id"), (-col("sim")).as("hamming"))
    // exact re-rank over the shortlist only: vectors join back by id
    // (shortlist-bounded), probes broadcast
    exactTopK(
      vecs.select(col(s"`$idCol`").as("id"), col(s"`$vecCol`").as("__v")),
      broadcast(probeSide(probes, col(s"`$idCol`"), col(s"`$vecCol`"),
        widen = true)),
      Candidates.Listed(short), k)
  }

  /** Per-group embedding centroid drift (X206, round 13) — the
    * distribution-shift monitor a continuously re-embedded corpus
    * needs: for two PERIODS of a group (old crawl vs new, model v1 vs
    * v2), the cosine between the periods' centroids plus both row
    * counts. Determinism: per-dimension sums are EXACT fixed-point
    * longs (round(x·1e6) — float sums reorder across partitions,
    * integer sums cannot), and the cosine compares the SUM vectors —
    * cosine is scale-invariant, so cos(Σa, Σb) ≡ cos(mean a, mean b)
    * with no division anywhere before the one final cosine. Scale
    * shape: one map-side-combined (group, period, dim) rollup —
    * output bounded by groups × periods × dims, never rows; the
    * centroid arrays assemble per group and the cosine is one
    * codegen'd dot. The oracle replays the fixed-point sums and the
    * same double fold.
    */
  def centroidDrift(vecs: DataFrame, groupCol: String, periodCol: String,
      vecCol: String): DataFrame = {
    val grp = col(s"`$groupCol`")
    val per = col(s"`$periodCol`").cast("long")
    val byDim = vecs
      .select(grp.as("__g"), per.as("__p"),
        posexplode(col(s"`$vecCol`")).as(Seq("__d", "__x")))
      .groupBy(col("__g"), col("__p"), col("__d"))
      .agg(sum(round(col("__x").cast("double") * 1e6).cast("long"))
        .as("__s"))
    val arrs = byDim.groupBy(col("__g"), col("__p"))
      .agg(transform(array_sort(collect_list(
          struct(col("__d"), col("__s")))),
        e => e.getField("__s").cast("double")).as("__v"))
    val counts = vecs.groupBy(grp.as("__g"), per.as("__p"))
      .agg(count(lit(1)).as("__n"))
    val sides = arrs.join(counts, Seq("__g", "__p"))
    val a = sides.filter(col("__p") === 0)
      .select(col("__g"), col("__v").as("__va"), col("__n").as("n_a"))
    val b = sides.filter(col("__p") === 1)
      .select(col("__g"), col("__v").as("__vb"), col("__n").as("n_b"))
    a.join(b, Seq("__g"), "outer")
      .select(col("__g").as(groupCol),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("__va").isNotNull && col("__vb").isNotNull,
          guardedSim(col("__va"), col("__vb"),
            norm(col("__va")), norm(col("__vb"))))
          .as("drift_cos"))
  }

  /** Int8 scalar quantization codes of an embedding: round(127·x/maxAbs)
    * as a tinyint array — 4× less memory/IO than float32 (8× vs the
    * float64 compute form). Cosine is scale-invariant, so ranking by
    * the cosine OF THE CODES approximates ranking by true cosine with
    * no need to carry the per-vector scale. The max-abs binds through a
    * one-element `transform` so project collapsing cannot inline the
    * array_max once per element (the bindOnce discipline, see Dedup).
    * An all-zero vector quantizes to all-zero codes → the zero-norm
    * guard scores it 0, as everywhere else.
    */
  def quantize8(vec: Column): Column =
    element_at(transform(array(array_max(transform(vec, x => abs(x)))),
      s => transform(vec, x =>
        when(s > 0, round(x * lit(127.0) / s)).otherwise(lit(0.0))
          .cast("byte"))), 1)

  /** Two-phase quantized ANN: phase 1 scans ONLY int8 codes (a quarter
    * of the float32 bytes — at 100 TB of embeddings that factor applies
    * to the scan, the shuffle and the broadcast alike) and keeps a
    * margin×k candidate pool per probe via [[topKPerKey]]; phase 2
    * re-ranks just the pool with exact float cosine, joining the float
    * vectors back by id — candidate-bounded, like every verify stage in
    * this engine. Output schema equals [[bruteForceTopK]]; results are
    * EQUAL to the exact top-k as long as quantization error never
    * pushes a true top-k member below the margin pool (the oracle pins
    * that equality at every test SF — margin 4 is conservative for
    * 64-dim int8).
    */
  def quantizedTopK(vecs: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, margin: Int = 4): DataFrame = {
    // codes in their own projection: quantized once per row, then normed
    def codes(df: DataFrame): DataFrame = df.select(col(idCol),
      quantize8(col(vecCol)).cast("array<double>").as(vecCol))
    val pool = exactTopK(corpusSide(codes(vecs), col(idCol), col(vecCol)),
      broadcast(probeSide(codes(probes), col(idCol), col(vecCol))),
      Candidates.All, k * margin)
    exactTopK(vecs.select(col(idCol).as("id"), col(vecCol).as("__v")),
      broadcast(probeSide(probes, col(idCol), col(vecCol))),
      Candidates.Listed(pool.select(col("probe_id"), col("id"))), k)
  }

  /** All pairs with cosine ≥ threshold — embedding-level near-dedup.
    * Exact (block-nested over the broadcast side); use for verification
    * scale or as the in-bucket verify step of an LSH pipeline. At
    * corpus×corpus scale use [[annBucket]] candidates + this as the
    * verify pass instead.
    */
  def cosinePairsAbove(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame =
    exactPairsAbove(corpusSide(vecs, col(idCol), col(vecCol)),
      probeSide(vecs, col(idCol), col(vecCol)), Candidates.All, threshold,
      ordered = true)

  // -------------------------------------------------------------------
  // LSH (random hyperplane) ANN

  /** Sign bit of the projection of `v` onto pseudo-random hyperplane
    * `h`: component i of the hyperplane is ±1 derived from a seeded
    * 64-bit hash of (h, i), so every executor derives the identical
    * hyperplane with no broadcast state.
    */
  private def hyperplaneBit(v: Column, h: Int): Column = {
    val proj = aggregate(
      transform(v, (x, i) =>
        x.cast("double") *
          when(pmod(xxhash64(lit(h), i), lit(2)) === 0, lit(1.0))
            .otherwise(lit(-1.0))),
      lit(0.0), (acc, d) => acc + d)
    when(proj >= 0, lit(1L)).otherwise(lit(0L))
  }

  /** nBits-bit LSH bucket id of an embedding (cosine-preserving:
    * vectors at small angle agree on most sign bits).
    */
  def annBucket(v: Column, nBits: Int): Column =
    (0 until nBits).foldLeft(lit(0L)) {
      (acc, h) => acc * 2 + hyperplaneBit(v, h)
    }

  /** Buckets to probe for a query vector: its own bucket plus every
    * bucket at Hamming distance 1 (single-bit flips). Multiprobe trades
    * one extra candidate bucket per bit for recall.
    */
  def probeBuckets(bucket: Column, nBits: Int): Column =
    array((bucket +: (0 until nBits).map(b =>
      bucket.bitwiseXOR(lit(1L << b)))): _*)

  /** The multiprobe side of a bucket join: a [[probeSide]] exploded
    * to one row per probed bucket — own bucket + every Hamming-1 flip,
    * the bucket id bound ONCE per row (the nBits+1 entries would
    * otherwise each re-inline the hyperplane projections). All three
    * bucket-join operators build their probing side here.
    */
  private def multiprobeSide(df: DataFrame, idCol: String, vecCol: String,
      nBits: Int): DataFrame = {
    val buckets = element_at(
      transform(array(annBucket(col(vecCol), nBits)),
        b => probeBuckets(b, nBits)), 1)
    probeSide(df, col(idCol), col(vecCol),
      keys = Seq(explode(buckets).as("__bucket")))
  }

  /** The corpus side of a bucket join: a [[corpusSide]] keyed by its
    * own [[annBucket]].
    */
  private def bucketedSide(df: DataFrame, idCol: String, vecCol: String,
      nBits: Int): DataFrame =
    corpusSide(df, col(idCol), col(vecCol),
      keys = Seq(annBucket(col(vecCol), nBits).as("__bucket")))

  /** Embedding near-dup at scale: all pairs above a cosine threshold
    * whose buckets are equal or 1 bit apart — candidates come from a
    * bucket equi-join (each vector probes its own bucket plus the
    * Hamming-1 flips), NEVER an all-pairs product; exact cosine inside
    * the candidate set. The deterministic hyperplanes make the
    * candidate structure itself oracle-replicable (q49); for the
    * target regime (near-dup cosine ≥ ~0.9) same-or-adjacent-bucket
    * probability is high — SimilaritySpec asserts recall 1 vs
    * [[cosinePairsAbove]] on planted clusters.
    */
  def cosinePairsAboveLsh(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 4): DataFrame =
    // no dedup needed: only the id_a < id_b orientation survives, the
    // probing side's 5 bucket values are distinct, and the other side
    // sits in exactly one bucket — each pair matches at most once
    exactPairsAbove(bucketedSide(vecs, idCol, vecCol, nBits),
      multiprobeSide(vecs, idCol, vecCol, nBits),
      Candidates.SameKey("__bucket"), threshold, ordered = true)

  // -------------------------------------------------------------------
  // IVF (inverted-file) ANN

  /** Deterministic coarse quantizer: every `modulus`-th vector by id is
    * a centroid. SQL-replicable (so the q37 oracle can reproduce cell
    * assignment exactly); for data-adaptive cells use
    * [[kmeansCentroids]] instead — [[ivfTopK]] takes either.
    * Returns (cent_id: Long, vector) ordered by cent_id.
    */
  def seedCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      modulus: Int): Array[(Long, Seq[Double])] =
    vecs.filter(pmod(col(idCol), lit(modulus)) === 0)
      .select(col(idCol).cast("long"),
        transform(col(vecCol), x => x.cast("double")))
      .orderBy(col(idCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** Lloyd's k-means over the embedding column — the production coarse
    * quantizer for IVF at scale. Training runs on a bounded
    * deterministic sample (id-hash modulus filter, ≤ ~`maxTrainRows`
    * rows, persisted across iterations): at corpus scale the quantizer
    * needs a representative sample, not the data — full-corpus Lloyd's
    * would re-scan 100 TB per iteration for no recall gain. Each
    * iteration is one broadcast-assignment pass (cell = argmax cosine
    * against the literal centroid table, a pure projection — no
    * shuffle) plus one groupBy(cell) average (one shuffle of partial
    * sums, map-side combined).
    * Deterministic: the sample filter and the seeds (the k first
    * vectors in id-HASH order — TakeOrdered, fully parallel) are pure
    * functions of the ids, and argmax tie-breaks on centroid position.
    * Cells that go empty are dropped and centroids re-indexed, so the
    * result may have fewer than k cells on degenerate data.
    */
  def kmeansCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int,
      maxTrainRows: Long = 100000L): Array[(Long, Seq[Double])] = {
    val total = vecs.select(col(idCol)).count()
    val denom = math.max(1L, total / math.max(1L, maxTrainRows))
    val train0 =
      if (denom == 1L) vecs
      else vecs.filter(pmod(xxhash64(col(idCol)), lit(denom)) === 0)
    val train = train0.select(col(idCol), col(vecCol)).persist()
    try {
      var cents: Array[(Long, Seq[Double])] =
        train.orderBy(xxhash64(col(idCol)), col(idCol)).limit(k)
          .select(col(idCol).cast("long"),
            transform(col(vecCol), x => x.cast("double")))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
      require(cents.nonEmpty, "kmeansCentroids: input has no vectors")
      for (_ <- 0 until iters) {
        val assigned = train.withColumn("__cell",
          assignCell(col(vecCol), cents))
        val dim = cents.head._2.length
        val sums = assigned.groupBy(col("__cell"))
          .agg(
            count(lit(1)).as("__n"),
            (0 until dim).map(i =>
              sum(element_at(col(vecCol), i + 1).cast("double")).as(s"__s$i")): _*)
          .collect()
        cents = sums.map { r =>
          val n = r.getAs[Long]("__n").toDouble
          val mean = (0 until dim).map(i => r.getAs[Double](s"__s$i") / n)
          (r.getAs[Long]("__cell"), mean)
        }.sortBy(_._1).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
      }
      cents
    } finally train.unpersist()
  }

  /** Cell id of a vector: argmax-cosine centroid, computed inline over
    * the literal centroid table (ties → first centroid in id order).
    * A projection, not a join: the corpus is never shuffled to be
    * assigned. Backed by the native `ArgMaxCosineExpr` kernel — the
    * `transform`+`array_position` combinator ([[assignCellColumn]])
    * evaluates one interpreted lambda per centroid per row, which was
    * the hot loop of the IVF path at #cells ≈ √N.
    */
  private[graft] def assignCell(v: Column, cents: Array[(Long, Seq[Double])]): Column =
    element_at(typedLit(cents.map(_._1).toSeq),
      graft.plans.NativeMath.argmaxCosine(v, typedLit(cents.map(_._2).toSeq))
        + 1)

  /** Reference combinator formulation of [[assignCell]] (value-identical;
    * SimilaritySpec proves it).
    */
  private[graft] def assignCellColumn(v: Column,
      cents: Array[(Long, Seq[Double])]): Column = {
    val centVecs = typedLit(cents.map(_._2).toSeq)
    val centIds = typedLit(cents.map(_._1).toSeq)
    val sims = transform(centVecs, c => {
      val cn = norm(c)
      val vn = norm(v)
      when(vn > 0 && cn > 0, dot(v, c) / (vn * cn)).otherwise(lit(0.0))
    })
    element_at(centIds, array_position(sims, array_max(sims)).cast("int"))
  }

  /** IVF top-k per probe: corpus vectors are binned once into their
    * nearest-centroid cell (inline argmax projection); each probe ranks
    * the centroids and searches only its `nprobe` best cells via a cell
    * equi-join — the fraction of the corpus scanned per probe is
    * nprobe/#cells instead of 1. Exact cosine + [[topKPerKey]] within
    * the candidate set. Recall is probabilistic (a true neighbor binned
    * into an unprobed cell is missed) — q37's oracle replicates the
    * structure exactly, and SimilaritySpec asserts recall vs
    * [[bruteForceTopK]].
    */
  def ivfTopK(vecs: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: Array[(Long, Seq[Double])],
      nprobe: Int): DataFrame =
    exactTopK(corpusSide(vecs, col(idCol), col(vecCol)),
      probeSide(probes, col(idCol), col(vecCol)),
      Candidates.Ivf(cents, nprobe), k)

  /** The `nprobe` best cells for a probe vector, ranked by centroid
    * cosine (desc) with centroid order as tie-break — the native
    * `graft_top_cells` kernel (round 11: the combinator form re-derived
    * every centroid norm per row through interpreted lambdas — the
    * measured hot loop of the IVF candidate generator at √N
    * centroids). [[probeCellsColumn]] keeps the combinator as the
    * value-identical reference; SimilaritySpec pins the equality.
    */
  private def probeCells(v: Column, cents: Array[(Long, Seq[Double])],
      nprobe: Int): Column =
    graft.plans.NativeMath.topCells(v, cents, nprobe)

  /** Reference combinator formulation of [[probeCells]]
    * (value-identical; SimilaritySpec proves it).
    */
  private[graft] def probeCellsColumn(v: Column,
      cents: Array[(Long, Seq[Double])], nprobe: Int): Column = {
    val centVecs = typedLit(cents.map(_._2).toSeq)
    val centIds = typedLit(cents.map(_._1).toSeq)
    val scored = zip_with(centIds, centVecs, (cid, c) => {
      val cn = norm(c)
      val vn = norm(v)
      struct(
        when(vn > 0 && cn > 0, dot(v, c) / (vn * cn)).otherwise(lit(0.0))
          .as("sim"),
        cid.as("cid"))
    })
    val sorted = array_sort(scored, (l, r) =>
      when(l.getField("sim") > r.getField("sim"), lit(-1))
        .when(l.getField("sim") < r.getField("sim"), lit(1))
        .otherwise(signum(l.getField("cid") - r.getField("cid")).cast("int")))
    transform(slice(sorted, 1, nprobe), s => s.getField("cid"))
  }

  /** Materialized LSH index: the corpus bucketed once by [[annBucket]]
    * and STORED `partitionBy(bucket)` with precomputed norms, so
    * probe-time reads prune to the multiprobe bucket directories —
    * at scale the difference between scanning the corpus per probe
    * batch and reading nprobe/2^nBits of it. Append-friendly: new
    * vectors land in their bucket partition (`mode = "append"` from a
    * `foreachBatch` makes this the streaming index-maintenance path).
    * `repartitionByRange(bucket, id)` keeps whole sorted bucket runs
    * per task, the same file-count discipline as [[graft.sources.Warehouse]].
    */
  def writeAnnIndex(vecs: DataFrame, idCol: String, vecCol: String,
      dir: String, nBits: Int, mode: String = "overwrite"): Unit =
    bucketedSide(vecs, idCol, vecCol, nBits)
      .repartitionByRange(col("__bucket"), col("id"))
      .write.mode(mode).partitionBy("__bucket").parquet(dir)

  /** ANN top-k served FROM the materialized index: identical results
    * to [[annTopK]] (same buckets, same multiprobe, same ranking), but
    * the corpus side is the stored index — the probe bucket list
    * reaches the scan as a partition filter (dynamic partition
    * pruning against the broadcast probe side), and stored norms skip
    * recomputation.
    */
  def annTopKFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, idCol: String, vecCol: String, k: Int,
      nBits: Int = 4): DataFrame =
    exactTopK(spark.read.parquet(dir),
      broadcast(multiprobeSide(probes, idCol, vecCol, nBits)),
      Candidates.SameKey("__bucket"), k)

  /** ANN top-k per probe: corpus bucketed once by [[annBucket]]; each
    * probe joins only its multiprobe bucket list (bucket equi-join →
    * shuffle on the bucket key, never a cross join); exact cosine +
    * ranking within the candidate set. Probabilistic recall — verify
    * against [[bruteForceTopK]] at test scale.
    */
  def annTopK(vecs: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, nBits: Int = 4): DataFrame =
    exactTopK(bucketedSide(vecs, idCol, vecCol, nBits),
      multiprobeSide(probes, idCol, vecCol, nBits),
      Candidates.SameKey("__bucket"), k)

  /** Domain-similarity map: the pairwise cosine between per-GROUP
    * embedding centroids — which data domains/sources/clusters are
    * semantically close (mixture design, domain weighting, split
    * stratification all read this table).
    *
    * Exactness discipline: a float centroid sums partials in shuffle
    * order, so the last rounded digit of a naive cosine can differ
    * run-to-run and engine-to-engine. Here every per-dimension sum is
    * an EXACT fixed-point long (round(x·1e6)), the centroid snaps to
    * round(sum/n) longs, and dot/norms fold those longs with exact
    * integer arithmetic (components ≤ ~1e7 → dot ≤ ~1e16, inside
    * int64), so the single cosine division at the end sees
    * bit-identical inputs everywhere.
    *
    * Scale shape: one (group, dim) aggregation — cardinality = groups
    * × dims, corpus-independent — then an all-pairs join of the
    * GROUP-count-sized centroid table (groups², tiny by premise; this
    * is the one deliberate small cross product in the library, and it
    * never touches corpus rows).
    */
  def labelCentroidCosines(vecs: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    val sums = vecs
      .select(col(s"`$labelCol`").as("__lc_l"),
        posexplode(col(s"`$vecCol`")).as(Seq("__lc_d", "__lc_x")))
      .groupBy(col("__lc_l"), col("__lc_d"))
      .agg(sum(round(col("__lc_x").cast("double") * 1e6d).cast("long"))
          .as("__lc_s"),
        count(lit(1)).as("__lc_n"))
    val cents = sums
      .withColumn("__lc_c",
        round(col("__lc_s").cast("double") / col("__lc_n")).cast("long"))
      .groupBy(col("__lc_l"))
      .agg(
        transform(array_sort(collect_list(
            struct(col("__lc_d"), col("__lc_c")))),
          s => s.getField("__lc_c")).as("__lc_v"),
        max(col("__lc_n")).as("__lc_nn"))
    def sq(v: Column): Column =
      aggregate(v, lit(0L), (acc, x) => acc + x * x)
    val a = cents.select(col("__lc_l").as("label_a"),
      col("__lc_v").as("__ca"), col("__lc_nn").as("n_a"))
    val b = cents.select(col("__lc_l").as("label_b"),
      col("__lc_v").as("__cb"), col("__lc_nn").as("n_b"))
    a.join(b, col("label_a") < col("label_b"))
      .withColumn("__dot", aggregate(
        zip_with(col("__ca"), col("__cb"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v))
      .select(col("label_a"), col("label_b"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        round(col("__dot").cast("double") /
          (sqrt(sq(col("__ca")).cast("double")) *
            sqrt(sq(col("__cb")).cast("double"))), 6).as("cos"))
  }

  // -------------------------------------------------------------------
  // Product quantization (PQ) — the memory-side ANN scale path next to
  // IVF's compute-side one (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011). The embedding is split into
  // `m` subvectors; each subspace gets a k-codeword codebook trained by
  // Lloyd's on the SLICES; a vector stores only its m codes (m bytes at
  // k ≤ 256 vs 4·d float bytes — 32× smaller at d=64, m=8). Search is
  // ADC (asymmetric distance computation): per probe, an m×k lookup
  // table of subspace dot products is computed ONCE, and scoring the
  // corpus is m table lookups per vector — no float vector is ever
  // read. At 100 TB the codes table fits where the vectors cannot,
  // and the ADC scan is a pure projection over it.

  /** The `s`-th length-`sub` slice of `v` as doubles (1-based slice). */
  private def subSlice(v: Column, s: Int, sub: Int): Column =
    transform(slice(v, s * sub + 1, sub), x => x.cast("double"))

  /** Squared L2 distance between two double arrays. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Index (0-based) of the nearest codeword by squared L2, first-min
    * tie-break — the PQ assignment rule, as an inline expression over
    * the literal codebook (a projection, never a join). Round 9: the
    * `transform`+`array_position(array_min)` combinator became the
    * codegen'd [[graft.plans.NativeMath.pqNearestSub]] kernel — the
    * m × k interpreted lambda folds were q209's top CPU line; the
    * kernel does the identical index-ordered IEEE accumulation and
    * first-min tie-break (SimilaritySpec pins the codebooks).
    */
  private def nearestCode(sub: Column, codebook: Column): Column =
    graft.plans.NativeMath.pqNearestSub(sub, codebook)

  /** Train PQ codebooks: `m` subspaces × up to `k` codewords each
    * (empty cells drop and re-index, the kmeansCentroids contract).
    * Same determinism scheme as [[kmeansCentroids]]: bounded id-hash
    * sample, seeds are the first k slices in id-hash order, assignment
    * tie-breaks on codeword position. Each Lloyd iteration is ONE pass
    * over the sample: the m subspaces are posexploded together and
    * aggregated by (subspace, code) — fused, not m separate scans.
    * Returns codebooks(s)(c) = centroid of code c in subspace s.
    *
    * `totalRows`, when given, must be |vecs| (> 0): it replaces the
    * count job as the denominator of the `maxTrainRows` sample, so a
    * wrong value changes which rows train; a non-positive one is
    * rejected.
    */
  def pqCodebooks(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int,
      maxTrainRows: Long = 100000L,
      totalRows: Option[Long] = None): Array[Array[Seq[Double]]] = {
    require(totalRows.forall(_ > 0),
      s"pqCodebooks: totalRows must be positive, got ${totalRows.get}")
    val dim = vecs.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m=$m")
    val sub = dim / m
    // callers that already know |vecs| pass it in — the count is only
    // the train-sample denominator, and a second full count job over
    // the corpus is driver latency for nothing (round 13, guide §5)
    val total = totalRows.getOrElse(vecs.select(col(idCol)).count())
    val denom = math.max(1L, total / math.max(1L, maxTrainRows))
    val train0 =
      if (denom == 1L) vecs
      else vecs.filter(pmod(xxhash64(col(idCol)), lit(denom)) === 0)
    val train = train0.select(col(idCol), col(vecCol)).persist()
    try {
      val seedRows = train.orderBy(xxhash64(col(idCol)), col(idCol)).limit(k)
        .select((0 until m).map(s =>
          subSlice(col(vecCol), s, sub).as(s"__s$s")): _*)
        .collect()
      var books: Array[Array[Seq[Double]]] =
        Array.tabulate(m)(s =>
          seedRows.map(r => r.getSeq[Double](s).toSeq: Seq[Double]))
      require(books.nonEmpty && books.head.nonEmpty,
        "pqCodebooks: input has no vectors")
      // the posexploded (subspace, sub-vector) frame is loop-invariant:
      // materialize it ONCE — each Lloyd iteration then re-reads the
      // cached exploded blocks instead of re-running the projection
      // over `train` (and its upstream scan/sample) per iteration
      val exploded = train.select(posexplode(array((0 until m).map(s =>
        subSlice(col(vecCol), s, sub)): _*)).as(Seq("__s", "__sub")))
        .persist()
      exploded.count() // force materialization before the loop
      try for (_ <- 0 until iters) {
        val lit3 = typedLit(books.map(_.toSeq).toSeq)
        val sums = exploded
          .withColumn("__c", nearestCode(col("__sub"),
            element_at(lit3, col("__s") + 1)))
          .groupBy(col("__s"), col("__c"))
          .agg(count(lit(1)).as("__n"),
            (0 until sub).map(i =>
              sum(element_at(col("__sub"), i + 1)).as(s"__d$i")): _*)
          .collect()
        books = Array.tabulate(m) { s =>
          sums.iterator.filter(_.getAs[Int]("__s") == s).toArray
            .sortBy(_.getAs[Int]("__c"))
            .map { r =>
              val n = r.getAs[Long]("__n").toDouble
              (0 until sub).map(i => r.getAs[Double](s"__d$i") / n): Seq[Double]
            }
        }
      } finally exploded.unpersist()
      books
    } finally train.unpersist()
  }

  /** PQ codes of a vector — array of `m` codeword indices, the stored
    * representation. A pure projection against the literal codebooks.
    */
  def pqEncode(v: Column, books: Array[Array[Seq[Double]]]): Column =
    graft.plans.NativeMath.pqEncode64(v,
      typedLit(books.map(_.toSeq).toSeq))

  /** Embedding-space outlier detection (the SemDeDup-adjacent CLEANING
    * pass: a vector far from its own source's centroid is mislabeled,
    * mojibake, or spam — drop or route it before training). Exactness
    * via two tricks: embeddings quantize ×`q` to integers so the
    * per-source SUM vectors fold exactly in any order, and the cosine
    * is taken against the SUM vector rather than the mean — the 1/n
    * scale cancels in cosine, so no division touches the accumulation.
    * The final `dot/(√·√)` is the only IEEE arithmetic, mirrored by
    * the oracle.
    *
    * Scale shape: one posexplode + (label, dim) partial-sum shuffle
    * (map-side combined, output |labels|·d rows), the tiny sum table
    * broadcast back, and the flagging pass is a projection — the
    * corpus is never shuffled to be scored.
    *
    * Returns (id, label, cos, outlier) — callers filter or route.
    */
  def sourceOutliers(vecs: DataFrame, idCol: String, labelCol: String,
      vecCol: String, minCos: Double, q: Int = 1000): DataFrame = {
    val qv = transform(col(vecCol),
      e => round(e.cast("double") * q).cast("long"))
    val base = vecs.select(col(idCol).as("id"),
      col(labelCol).as("label"), qv.as("__q"))
    val sums = base
      .select(col("label"), posexplode(col("__q")).as(Seq("__d", "__v")))
      .groupBy(col("label"), col("__d"))
      .agg(sum(col("__v")).as("__s"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(
          struct(col("__d"), col("__s")))),
        p => p.getField("__s")).as("__sum"))
    def dotLL(a: Column, b: Column): Column =
      graft.plans.NativeMath.dotI64(a, b)
    val joined = base.join(broadcast(sums), "label")
    val num = dotLL(col("__q"), col("__sum"))
    val cos = num.cast("double") /
      (sqrt(dotLL(col("__q"), col("__q")).cast("double")) *
        sqrt(dotLL(col("__sum"), col("__sum")).cast("double")))
    joined.select(col("id"), col("label"), cos.as("cos"))
      .withColumn("outlier", col("cos") < minCos)
  }

  /** ADC top-`k` with exact re-rank: each probe computes its m×k
    * dot-product lookup table inline (a projection over the literal
    * codebooks), the codes table is scored by m table lookups per
    * vector, the top `shortlist` per probe survive, and only those are
    * joined back to their float vectors for exact-cosine re-ranking.
    * The codes side never reads a float vector — the 100 TB shape.
    */
  def pqTopK(vecs: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, books: Array[Array[Seq[Double]]],
      shortlist: Int): DataFrame = {
    val m = books.length
    val sub = books.head.head.length
    val lit3 = typedLit(books.map(_.toSeq).toSeq)
    val codes = vecs.select(col(idCol).as("id"),
      pqEncode(col(vecCol), books).as("__code"))
    // per-probe m×k lookup table: lut(s)(c) = dot(probe_s, books(s)(c))
    // — built from explicit per-subspace columns (a lambda index can't
    // serve as a slice offset)
    val lut = array((0 until m).map { s =>
      transform(element_at(lit3, s + 1), c =>
        aggregate(zip_with(subSlice(col(vecCol), s, sub), c,
          (x, y) => x * y), lit(0.0), (acc, x) => acc + x))
    }: _*)
    val p2 = probes.select(col(idCol).as("probe_id"), lut.as("__lut"))
    // ADC fold as the codegen'd kernel (index-ordered, bit-identical
    // to the zip_with combinator) — the scan is codes × probes
    val short = exactTopK(codes, broadcast(p2), Candidates.All, shortlist,
        score = graft.plans.NativeMath.pqAdc(col("__code"), col("__lut")))
      .select(col("probe_id"), col("id"))
    exactTopK(vecs.select(col(idCol).as("id"), col(vecCol).as("__v")),
      broadcast(probeSide(probes, col(idCol), col(vecCol))),
      Candidates.Listed(short), k)
  }

  /** Matryoshka prefix-dimension fidelity — for each candidate
    * truncation dim d, how well prefix-d cosine approximates the
    * full-dimension cosine over a deterministic far-pair sample
    * ([[withFarPartner]]): the evaluation that decides how small a
    * truncated (MRL-style) embedding an ANN tier can serve. Exactness:
    * vectors quantize ×`q`, dots/norms fold in long arithmetic, and
    * the only IEEE ops (two sqrts, a divide, a subtraction) are
    * mirrored by the oracle, so deviations are bit-identical; the
    * per-dim rollup is one bounded pass (|dims| × |pairs| rows).
    *
    * Returns (dim, n_pairs, avg_abs_dev, max_abs_dev).
    */
  def matryoshkaFidelity(vecs: DataFrame, idCol: String, vecCol: String,
      dims: Seq[Int], q: Int = 1000): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ > 0),
      "matryoshkaFidelity: dims must be positive")
    val qv = transform(col(s"`$vecCol`"),
      e => round(e.cast("double") * q).cast("long"))
    val base = vecs.select(col(s"`$idCol`").cast("long").as("__id"),
      qv.as("__v"))
    val a = withFarPartner(
        base.select(col("__id").as("__ida"), col("__v").as("__va")),
        col("__ida"), base, col("__id"), "__idb")
      .filter(col("__ida") < col("__idb"))
    val pairs = a.join(
      base.select(col("__id").as("__idb"), col("__v").as("__vb")),
      "__idb")
    def dotLL(x: Column, y: Column): Column =
      graft.plans.NativeMath.dotI64(x, y)
    def cosOf(x: Column, y: Column): Column = {
      val nx = dotLL(x, x)
      val ny = dotLL(y, y)
      when(nx > 0 && ny > 0, dotLL(x, y).cast("double") /
        (sqrt(nx.cast("double")) * sqrt(ny.cast("double"))))
        .otherwise(lit(0.0))
    }
    val full = cosOf(col("__va"), col("__vb"))
    val perDim = dims.map { d =>
      val cd = cosOf(slice(col("__va"), 1, d), slice(col("__vb"), 1, d))
      pairs.select(lit(d.toLong).as("dim"),
        abs(cd - full).as("__dev"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n_pairs"),
          avg(col("__dev")).as("avg_abs_dev"),
          max(col("__dev")).as("max_abs_dev"))
    }
    perDim.reduce(_ unionAll _).orderBy(col("dim"))
  }

  /** `rows` plus `partner`, the deterministic far partner of each row's
    * `id`: (id + idSpace div 2) mod idSpace, with idSpace = max of
    * `spaceId` over `space`, plus 1. The max is a one-row aggregate
    * cross-joined into the plan, not a driver round-trip, so an empty
    * or all-null-id `space` leaves every partner null.
    */
  private[graft] def withFarPartner(rows: DataFrame, id: Column,
      space: DataFrame, spaceId: Column, partner: String): DataFrame =
    rows.crossJoin(space.agg((max(spaceId.cast("long")) + 1L).as("__fp_n")))
      .withColumn(partner, pmod(id + expr("__fp_n div 2"), col("__fp_n")))
      .drop("__fp_n")

  /** A candidate pair frame `(i, j)` as its distinct canonical long
    * pairs `(lo, hi)`, lo < hi: self-pairs drop and (j, i) folds onto
    * (i, j), so a symmetric generator costs nothing extra downstream.
    */
  private[graft] def canonicalPairs(candidates: DataFrame, lo: String,
      hi: String): DataFrame =
    candidates
      .select(col("i").cast("long").as("__i"), col("j").cast("long").as("__j"))
      .where(col("__i") =!= col("__j"))
      .select(least(col("__i"), col("__j")).as(lo),
        greatest(col("__i"), col("__j")).as(hi))
      .distinct()

  /** Mutual-kNN graph (X163, round 10) — the edge set semantic-dedup
    * clustering and diversity analysis build on: vector i and j are
    * connected iff each is in the other's top-k by dot product
    * (mutuality is the standard filter that kills hub vectors').
    *
    * Exactness: embeddings quantize to ×1000 longs and the dot folds
    * as an EXACT integer (64 dims × 10⁶ per term — far inside long),
    * so ranking has no float at all; ties break (dot desc, id asc) —
    * fully deterministic, any engine replays it.
    *
    * Scale: the pair generator is a PARAMETER (round 11 — the
    * `pairBleu` pattern). `candidates = None` is the EXACT
    * all-ordered-pairs form — the verifier and small-corpus
    * (≤ ~10⁵ vectors) path; at 100 TB pass the IVF/cell-bucket
    * candidate join ([[knnCandidatesIvf]], or any (i, j) pair
    * DataFrame — LSH buckets, a previous round's edges) and ONLY
    * those pairs score: the downstream ranking (exact integer dots,
    * [[exactTopK]] per i, mutuality) is identical in both forms.
    * Candidates are symmetrized internally (ranking side i needs the
    * pair in both directions). Emits each mutual edge once (i < j)
    * with both ranks.
    */
  def mutualKnnGraph(vecs: DataFrame, idCol: String, embCol: String,
      k: Int, candidates: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, "mutualKnnGraph: k >= 1")
    val corpus = vecs.select(col(s"`$idCol`").cast("long").as("id"),
      transform(col(s"`$embCol`"),
        e => round(e.cast("double") * 1000).cast("long")).as("__v"))
    val cands = candidates match {
      case None => Candidates.All
      case Some(c) =>
        // dedup on the CANONICAL (min, max) pair FIRST, then emit both
        // directions (round 11: distinct-after-union shuffled twice
        // the rows — IVF candidates arrive in both directions whenever
        // two vectors probe each other's cells, so the canonical form
        // halves the dedup volume for the identical symmetric
        // closure; the union is positional, so its second leg is the
        // reverse direction); the verify stage pulls the quantized
        // vectors through two id-keyed equi-joins
        val und = canonicalPairs(c, "probe_id", "id")
        Candidates.Listed(und.union(und.select(col("id"), col("probe_id"))))
    }
    // exact int64 fold as the codegen'd kernel (round 11): identical
    // accumulation order/overflow to the zip_with combinator, but it
    // stays inside whole-stage codegen — the candidate-pair volume is
    // where all the time goes at scale
    val ranked = exactTopK(corpus,
        corpus.select(col("id").as("probe_id"), col("__v").as("__p")),
        cands, k,
        score = graft.plans.NativeMath.dotI64(col("__v"), col("__p")))
      .select(col("probe_id").as("i"), col("id").as("j"),
        col("sim").as("d"), col("rank").cast("int").as("rk"))
    // Mutuality via ONE grouped pass over the undirected key instead of
    // a ranked ⋈ ranked self-join: Spark does not common-subexpression
    // the self-join's two identical subtrees, so the whole candidate +
    // scoring + ranking pipeline executed TWICE (round-11 plan audit on
    // the sf1 corpus — the 2x was the entry's top cost, not the dot).
    // Each direction appears at most once post-rank, so a (u, v) group
    // has ≤ 2 rows and count == 2 IS the mutuality test; d is symmetric
    // so either row carries it.
    val undirected = ranked.select(
      least(col("i"), col("j")).as("u"),
      greatest(col("i"), col("j")).as("v"),
      when(col("i") < col("j"),
        struct(col("d"), col("rk"))).as("__fwd"),
      when(col("i") > col("j"), col("rk")).as("__rk_back"))
    undirected.groupBy(col("u"), col("v"))
      .agg(first(col("__fwd"), ignoreNulls = true).as("__fwd"),
        first(col("__rk_back"), ignoreNulls = true).as("rk_ji"),
        count(lit(1)).as("__nd"))
      .where(col("__nd") === 2)
      .select(col("u").as("i"), col("v").as("j"),
        col("__fwd").getField("d").as("d"),
        col("__fwd").getField("rk").as("rk_ij"), col("rk_ji"))
  }

  /** Per-cell IVF list-length cap (round 12, verdict ask #8; hoisted
    * round 13, verdict ask #7 — ONE implementation for every call
    * site): keep at most `maxPerCell` rows per `cellCol`, ordered by
    * micro-quantized norm descending with `idCol` as the tie-break —
    * deterministic across engines (sqrt IS correctly rounded and the
    * round(·1e6) kills borderline-tie drift; the oracle replays the
    * same trim). Bounds candidate volume per probe to
    * nprobe·maxPerCell regardless of cell skew — the list-length
    * lever real ANN systems use. The rank runs map-side as a
    * WindowGroupLimit (plan-pinned in Round12Spec); `normQCol` is
    * consumed (dropped) either way. Recall vs the exact graph is
    * contract-gated at the call sites (Round12Spec kNN contract,
    * Round13Spec planted-recall).
    */
  private def capCellLists(df: DataFrame, cellCol: String,
      normQCol: String, idCol: String, maxPerCell: Int): DataFrame =
    if (maxPerCell == Int.MaxValue) df.drop(normQCol)
    else df
      .withColumn("__cap_r", row_number().over(
        Window.partitionBy(col(cellCol))
          .orderBy(col(s"`$normQCol`").desc, col(s"`$idCol`"))))
      .where(col("__cap_r") <= maxPerCell)
      .drop("__cap_r", normQCol)

  /** IVF candidate pairs for [[mutualKnnGraph]] (round 11): every
    * vector probes its `nprobe` best centroid cells (inline literal
    * ranking, [[probeCells]] — no join, no shuffle) and meets the
    * vectors BINNED into those cells ([[assignCell]]) through one cell
    * equi-join — the `ivfTopK` structure emitting the pair list
    * instead of ranking it. Per-probe candidate volume is
    * ≈ nprobe/#cells of the corpus, so with #cells ≈ √N the pair
    * count grows as N·√N·nprobe/N = √N·nprobe per probe instead of
    * N — the 100 TB swap-in for the exact all-pairs product.
    * Asymmetry (j probing doesn't guarantee i's cell is probed) is
    * repaired by the caller's symmetrization; recall vs the exact
    * graph is probabilistic by design and is contract-gated at the
    * call site (the q54 pattern).
    */
  def knnCandidatesIvf(vecs: DataFrame, idCol: String, embCol: String,
      cents: Array[(Long, Seq[Double])], nprobe: Int,
      maxPerCell: Int = Int.MaxValue): DataFrame = {
    val id = col(s"`$idCol`").cast("long")
    val emb = col(s"`$embCol`")
    candidatePairs(corpusSide(vecs, id, emb), probeSide(vecs, id, emb),
        Candidates.Ivf(cents, nprobe, maxPerCell))
      .where(col("probe_id") =!= col("id"))
      .select(col("probe_id").as("i"), col("id").as("j"))
  }

  /** Pairwise BLEU-2 with a RATIONAL brevity penalty (X158, round
    * 10) — the sequence-overlap verifier for candidate pairs (MT-eval
    * BLEU repurposed as a near-dup/paraphrase score, the way
    * generation-dedup pipelines use it):
    *
    *   bleu = min(1, |c|₁/|r|₁) · √(p₁·p₂),
    *   pₙ = Σ_g min(count_c(g), count_r(g)) / |c|ₙ   (modified
    *   n-gram precision, counts NOT clipped to distinct)
    *
    * The standard exp(1−r/c) brevity penalty is deliberately replaced
    * by the rational clamp min(1, c/r): exp/ln are NOT
    * correctly-rounded by libm and differ across engines (the q137
    * trig lesson), while division, min, multiply, and sqrt ARE
    * IEEE-correctly-rounded — every compared cell replays
    * bit-identically from exact integer gram counts. A doc with
    * fewer than 2 tokens has p₂ = 0 and scores 0 (documented edge).
    *
    * Scale shape: gram counts explode per doc and partial-aggregate
    * on (doc, gram); each pair side joins counts by doc id then
    * overlaps on (pair, gram) — linear in Σ pair-doc lengths (the
    * pairs are a candidate set by contract, never all-pairs), no
    * per-row quadratic HOF over token arrays.
    */
  def pairBleu(docs: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String, idCol: String,
      textCol: String): DataFrame = {
    import graft.functions.text
    val toks = docs.select(col(s"`$idCol`").cast("long").as("__pb_id"),
      text.tokenize(col(s"`$textCol`")).as("__pb_t"))
    def gramCounts(n: Int): DataFrame =
      toks.select(col("__pb_id"),
          explode(when(size(col("__pb_t")) >= n,
            transform(sequence(lit(1), size(col("__pb_t")) - (n - 1)),
              i => concat_ws(" ", slice(col("__pb_t"), i, lit(n)))))
            .otherwise(array().cast("array<string>"))).as("__pb_g"))
        .groupBy(col("__pb_id"), col("__pb_g"))
        .agg(count(lit(1)).as("__pb_c"))
    val p = pairs.select(col(s"`$aCol`").cast("long").as("a"),
      col(s"`$bCol`").cast("long").as("b"))
    def overlap(n: Int, tag: String): DataFrame = {
      val gc = gramCounts(n)
      val ca = gc.select(col("__pb_id").as("a"), col("__pb_g"),
        col("__pb_c").as("__pb_ca"))
      val cb = gc.select(col("__pb_id").as("__pb_b2"),
        col("__pb_g").as("__pb_gb"), col("__pb_c").as("__pb_cb"))
      p.join(ca, Seq("a"))
        .join(cb, col("__pb_b2") === col("b") &&
          col("__pb_gb") === col("__pb_g"))
        .drop("__pb_gb", "__pb_b2")
        .groupBy(col("a"), col("b"))
        .agg(sum(least(col("__pb_ca"), col("__pb_cb")))
          .cast("long").as(s"over$tag"))
    }
    def lens(n: Int, side: String, tag: String): DataFrame =
      gramCounts(n).groupBy(col("__pb_id").as(side))
        .agg(sum(col("__pb_c")).cast("long").as(tag))
    val out = p
      .join(lens(1, "a", "c1len"), Seq("a"), "left")
      .join(lens(1, "b", "r1len"), Seq("b"), "left")
      .join(lens(2, "a", "c2len"), Seq("a"), "left")
      .join(overlap(1, "1"), Seq("a", "b"), "left")
      .join(overlap(2, "2"), Seq("a", "b"), "left")
      .na.fill(0L, Seq("c1len", "r1len", "c2len", "over1", "over2"))
    val p1 = col("over1").cast("double") /
      greatest(col("c1len"), lit(1L)).cast("double")
    val p2 = col("over2").cast("double") /
      greatest(col("c2len"), lit(1L)).cast("double")
    val bp = least(lit(1.0), col("c1len").cast("double") /
      greatest(col("r1len"), lit(1L)).cast("double"))
    out.select(col("a"), col("b"), col("over1"), col("over2"),
      col("c1len"), col("c2len"),
      (bp * sqrt(p1 * p2)).as("bleu"))
  }

  // -------------------------------------------------------------------
  // Cluster-balanced corpus curation (X183, round 11) — the
  // SemDeDup/DataComp-style balancing pass one level ABOVE pairwise
  // dedup: embed → cluster → cap every cluster at a quota, so
  // over-represented semantic regions (boilerplate genres, template
  // farms) stop dominating the training mixture without any pairwise
  // comparison at all.

  /** Cell assignment as a PROJECTION: every row gains its
    * nearest-centroid `cell` via the inline argmax-cosine kernel over
    * the broadcast centroid literal — the corpus is never shuffled to
    * be clustered ([[assignCell]]'s contract; centroids from
    * [[seedCentroids]] for oracle-replayable runs or
    * [[kmeansCentroids]] for the data-adaptive production path).
    */
  def clusterAssign(vecs: DataFrame, idCol: String, embCol: String,
      cents: Array[(Long, Seq[Double])]): DataFrame =
    vecs.withColumn("cell", assignCell(col(s"`$embCol`"), cents))

  /** Cluster-balanced sample: assign cells, then keep at most `quota`
    * rows per cell, chosen by the engine-portable hash order (ties by
    * id) — `Mix.stratifiedSample`'s threshold+window shape, so the
    * window only ever sees ~1.3x-quota survivors per cell, never the
    * corpus. Deterministic end to end: the assignment is a pure
    * function of (embedding, centroids) and the draw a pure function
    * of the ids. At 100 TB this is one projection + one bounded trim —
    * no pairwise candidate generation, no corpus-wide shuffle.
    */
  def clusterBalancedSample(vecs: DataFrame, idCol: String,
      embCol: String, cents: Array[(Long, Seq[Double])],
      quota: Int): DataFrame =
    graft.operators.Mix.stratifiedSample(
      clusterAssign(vecs, idCol, embCol, cents), "cell", idCol, quota)
}
