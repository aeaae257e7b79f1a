package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Unit coverage for cosine similarity search: hand-checked math, exact
  * brute-force ranking, and LSH-ANN recall on planted clusters.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot / norm / cosine match hand math") {
    val df = Seq((Seq(1f, 2f, 2f), Seq(2f, 0f, 1f))).toDF("a", "b")
    val (d, na, c) = df.select(
      Similarity.dot($"a", $"b"),
      Similarity.norm($"a"),
      Similarity.cosine($"a", $"b")).as[(Double, Double, Double)].head()
    assert(d == 4.0)
    assert(na == 3.0)
    assert(math.abs(c - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-12)
  }

  test("native dot64 is bit-for-bit equal to the combinator spec") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((
      Seq.fill(64)(rnd.nextFloat() * 4f - 2f),
      Seq.fill(64)(rnd.nextFloat() * 4f - 2f)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      Similarity.dot($"a", $"b"),
      Similarity.dotColumn($"a", $"b"),
      Similarity.norm($"a"),
      sqrt(Similarity.dotColumn($"a", $"a"))).as[(Double, Double, Double, Double)]
      .collect()
    got.foreach { case (nat, comb, nn, cn) =>
      assert(nat == comb); assert(nn == cn)
    }
  }

  test("dot64 matches the combinator on MALFORMED inputs too: null") {
    // zip_with pads a length mismatch with nulls and a null element
    // poisons the aggregate — the kernel must return the same NULL,
    // not a truncated/garbage finite score
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("a", "b")
    val got = df.select(
      Similarity.dot($"a", $"b").as("nat"),
      Similarity.dotColumn($"a", $"b").as("comb"))
      .collect()
    got.foreach { r => assert(r.isNullAt(0) == r.isNullAt(1)) }
    assert(got(0).isNullAt(0) && got(1).isNullAt(0))
    assert(got(2).getDouble(0) == 11.0)
  }

  test("native dotI64 equals the long-fold combinator, incl. malformed") {
    // the exact-integer twin (round 11): same index order, same
    // two's-complement overflow wrap, same NULL domain as
    // aggregate(zip_with(a, b, _*_), 0L, _+_)
    def comb(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(50)((
      Seq.fill(64)(rnd.nextInt(4001).toLong - 2000L),
      Seq.fill(64)(rnd.nextInt(4001).toLong - 2000L)))
    val df = rows.toDF("a", "b")
    df.select(graft.plans.NativeMath.dotI64($"a", $"b"), comb($"a", $"b"))
      .as[(Long, Long)].collect()
      .foreach { case (nat, c) => assert(nat == c) }
    // malformed: length mismatch and null element -> NULL on both sides
    val bad = Seq(
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L)),
      (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](3L, 4L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L)))
      .toDF("a", "b")
    val got = bad.select(graft.plans.NativeMath.dotI64($"a", $"b").as("nat"),
      comb($"a", $"b").as("c")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
    assert(got(0).isNullAt(0) && got(1).isNullAt(0))
    assert(got(2).getLong(0) == 11L)
    // overflow THROWS on both sides (ANSI Multiply semantics) — a
    // quantization-scale bug must be an error, never a wrapped ranking
    val ovf = Seq((Seq(Long.MaxValue, 1L), Seq(2L, 0L))).toDF("a", "b")
    intercept[Exception] {
      ovf.select(graft.plans.NativeMath.dotI64($"a", $"b")).collect() }
    intercept[Exception] { ovf.select(comb($"a", $"b")).collect() }
  }

  test("native argmaxCosine cell assignment equals the combinator spec") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.tabulate(100)(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val cents: Array[(Long, Seq[Double])] = Array.tabulate(7)(i =>
      (i.toLong * 3, Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
    val got = vecs.select(
      Similarity.assignCell($"embedding", cents),
      Similarity.assignCellColumn($"embedding", cents))
      .as[(Long, Long)].collect()
    got.foreach { case (nat, comb) => assert(nat == comb) }
  }

  test("cosine guards zero-norm vectors") {
    val df = Seq((Seq(0f, 0f), Seq(1f, 1f))).toDF("a", "b")
    assert(df.select(Similarity.cosine($"a", $"b")).as[Double].head() == 0.0)
  }

  /** 3 orthogonal cluster directions × 10 members each; members are
    * positive scalings of the center so within-cluster cosine is exactly
    * 1 and cross-cluster is 0 — brute-force and ANN rankings are fully
    * determined (tie-break on id).
    */
  private lazy val clustered = {
    val rows = for {
      k <- 0 until 3
      j <- 0 until 10
    } yield {
      val v = Array.fill(8)(0f)
      v(2 * k) = 1f * (1 + 0.05f * j)
      v(2 * k + 1) = 0.5f * (1 + 0.05f * j)
      ((k * 10 + j).toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("bruteForceTopK returns own-cluster members first") {
    val probes = clustered.filter($"vec_id".isin(0L, 10L, 20L))
    val got = Similarity.bruteForceTopK(clustered, probes, "vec_id",
      "embedding", k = 5)
      .select($"probe_id", $"id").as[(Long, Long)].collect()
    got.foreach { case (p, id) =>
      assert(id / 10 == p / 10, s"probe $p got cross-cluster neighbor $id")
    }
    assert(got.groupBy(_._1).forall(_._2.length == 5))
  }

  test("annTopK (LSH buckets + multiprobe) achieves recall 1 here") {
    val probes = clustered.filter($"vec_id".isin(0L, 10L, 20L))
    val brute = Similarity.bruteForceTopK(clustered, probes, "vec_id",
      "embedding", k = 5)
      .select($"probe_id", $"rank", $"id").as[(Long, Long, Long)]
      .collect().toSet
    val ann = Similarity.annTopK(clustered, probes, "vec_id",
      "embedding", k = 5, nBits = 4)
      .select($"probe_id", $"rank", $"id").as[(Long, Long, Long)]
      .collect().toSet
    assert(ann == brute)
  }

  test("ivfTopK with seed centroids achieves recall 1 here") {
    val probes = clustered.filter($"vec_id".isin(0L, 10L, 20L))
    val brute = Similarity.bruteForceTopK(clustered, probes, "vec_id",
      "embedding", k = 5)
      .select($"probe_id", $"rank", $"id").as[(Long, Long, Long)]
      .collect().toSet
    // one seed per cluster (ids 0/10/20 are cluster members), nprobe 1:
    // every probe's own cell contains its whole cluster
    val cents = Similarity.seedCentroids(clustered, "vec_id", "embedding",
      modulus = 10)
    assert(cents.map(_._1).toSeq == Seq(0L, 10L, 20L))
    val ivf = Similarity.ivfTopK(clustered, probes, "vec_id",
      "embedding", k = 5, cents, nprobe = 1)
      .select($"probe_id", $"rank", $"id").as[(Long, Long, Long)]
      .collect().toSet
    assert(ivf == brute)
  }

  test("kmeansCentroids converge to the cluster directions (recall 1)") {
    val probes = clustered.filter($"vec_id".isin(0L, 10L, 20L))
    val brute = Similarity.bruteForceTopK(clustered, probes, "vec_id",
      "embedding", k = 5)
      .select($"probe_id", $"rank", $"id").as[(Long, Long, Long)]
      .collect().toSet
    val cents = Similarity.kmeansCentroids(clustered, "vec_id", "embedding",
      k = 3, iters = 5)
    assert(cents.length == 3)
    val ivf = Similarity.ivfTopK(clustered, probes, "vec_id",
      "embedding", k = 5, cents, nprobe = 1)
      .select($"probe_id", $"rank", $"id").as[(Long, Long, Long)]
      .collect().toSet
    assert(ivf == brute)
  }

  test("materialized ANN index serves identical results to the inline path") {
    val probes = clustered.filter($"vec_id".isin(0L, 10L, 20L))
    val inline = Similarity.annTopK(clustered, probes, "vec_id",
      "embedding", k = 5, nBits = 4)
      .select($"probe_id", $"rank", $"id").as[(Long, Long, Long)]
      .collect().toSet
    val dir = tempDir("ann_idx")
    Similarity.writeAnnIndex(clustered, "vec_id", "embedding", dir, nBits = 4)
    val fromIndex = Similarity.annTopKFromIndex(spark, dir, probes,
      "vec_id", "embedding", k = 5, nBits = 4)
      .select($"probe_id", $"rank", $"id").as[(Long, Long, Long)]
      .collect().toSet
    assert(fromIndex == inline)
    // appending new vectors lands them in their bucket partitions
    val more = Seq((100L, Seq.fill(8)(0.25f))).toDF("vec_id", "embedding")
    Similarity.writeAnnIndex(more, "vec_id", "embedding", dir, nBits = 4,
      mode = "append")
    assert(spark.read.parquet(dir).count() == 31)
  }

  test("cosinePairsAboveLsh (bucket join) achieves recall 1 on clusters") {
    val exact = Similarity.cosinePairsAbove(clustered, "vec_id",
      "embedding", threshold = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosinePairsAboveLsh(clustered, "vec_id",
      "embedding", threshold = 0.9, nBits = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("quantize8: codes bounded, max component hits ±127, zero vec → zeros") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0f, 0f, 0f))).toDF("id", "v")
    val got = df.select($"id", Similarity.quantize8($"v").as("q"))
      .as[(Long, Seq[Byte])].collect().toMap
    assert(got(1L) == Seq[Byte](64, -127, 32)) // round(127·x/maxAbs)
    assert(got(2L) == Seq[Byte](0, 0, 0))
  }

  test("quantizedTopK equals bruteForceTopK on the clustered corpus") {
    val probes = clustered.filter($"vec_id" < 2)
    val exact = Similarity.bruteForceTopK(clustered, probes, "vec_id",
      "embedding", k = 5).collect().toSet
    val quant = Similarity.quantizedTopK(clustered, probes, "vec_id",
      "embedding", k = 5).collect().toSet
    assert(quant == exact)
  }

  test("cosinePairsAbove finds exactly the within-cluster pairs") {
    val got = Similarity.cosinePairsAbove(clustered, "vec_id", "embedding",
      threshold = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expect = (for {
      k <- 0 until 3
      a <- 0 until 10; b <- (a + 1) until 10
    } yield ((k * 10 + a).toLong, (k * 10 + b).toLong)).toSet
    assert(got == expect)
  }

  test("pqCodebooks are deterministic across runs and shaped m × ≤k") {
    val b1 = Similarity.pqCodebooks(clustered, "vec_id", "embedding",
      m = 4, k = 3, iters = 2)
    val b2 = Similarity.pqCodebooks(clustered, "vec_id", "embedding",
      m = 4, k = 3, iters = 2)
    assert(b1.length == 4)
    assert(b1.forall(cb => cb.nonEmpty && cb.length <= 3))
    assert(b1.map(_.toSeq).toSeq == b2.map(_.toSeq).toSeq)
    assert(b1.forall(_.forall(_.length == 2))) // dim 8 / m 4
  }

  test("pqEncode assigns each slice to its nearest codeword (manual " +
      "check against the literal codebooks)") {
    val books = Similarity.pqCodebooks(clustered, "vec_id", "embedding",
      m = 4, k = 3, iters = 2)
    val got = clustered
      .select($"vec_id", Similarity.pqEncode($"embedding", books).as("c"))
      .as[(Long, Seq[Int])].collect()
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val vecs = clustered.as[(Long, Seq[Float])].collect().toMap
    got.foreach { case (id, codes) =>
      assert(codes.length == 4)
      val v = vecs(id).map(_.toDouble)
      codes.zipWithIndex.foreach { case (c, s) =>
        val slice = v.slice(s * 2, s * 2 + 2)
        val d = books(s).map(cb => l2(slice, cb))
        assert(d(c) == d.min, s"vec $id subspace $s: code $c not nearest")
      }
    }
  }

  test("sourceOutliers flags a planted opposite-direction vector and " +
      "keeps the aligned cluster") {
    val rows = (0 until 10).map(i =>
      (i.toLong, "a", Seq(1f, 0.9f + 0.01f * i, 0f, 0f))) :+
      ((99L, "a", Seq(-1f, -1f, 0f, 0f)))
    val df = rows.toDF("vec_id", "src", "embedding")
    val got = Similarity.sourceOutliers(df, "vec_id", "src", "embedding",
      minCos = 0.5)
      .select($"id", $"outlier").as[(Long, Boolean)].collect().toMap
    assert(got(99L), "the planted opposite vector must flag")
    (0 until 10).foreach(i => assert(!got(i.toLong), s"vector $i flagged"))
  }

  test("sourceOutliers plan: the corpus side is a projection joined " +
      "to a BROADCAST sum table — the vectors are never shuffled") {
    val df = clustered.withColumn("src",
      org.apache.spark.sql.functions.col("vec_id") % 2)
    val p = Similarity.sourceOutliers(df, "vec_id", "src", "embedding",
      minCos = 0.1).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pqTopK with exact re-rank recovers brute-force top-k on the " +
      "clustered corpus (recall 1 with a generous shortlist)") {
    val books = Similarity.pqCodebooks(clustered, "vec_id", "embedding",
      m = 4, k = 3, iters = 2)
    val probes = clustered.filter($"vec_id".isin(0L, 10L, 20L))
    val exact = Similarity.bruteForceTopK(clustered, probes, "vec_id",
      "embedding", k = 5)
      .select($"probe_id", $"id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(clustered, probes, "vec_id", "embedding",
      k = 5, books, shortlist = 15)
      .select($"probe_id", $"id").as[(Long, Long)].collect().toSet
    assert(pq == exact, s"PQ missed ${(exact -- pq).size} of ${exact.size}")
  }

  // ---- edge inputs through the shared exact-verify stage ----

  /** A 4-dim corpus with a planted zero-norm vector (id 6), probed by a
    * vector outside it (id 100).
    */
  private lazy val zeroPlanted = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f)), (4L, Seq(0f, 0f, 1f, 0.2f)),
      (5L, Seq(-1f, 0f, 0f, 1f)), (6L, Seq(0f, 0f, 0f, 0f)))
    .toDF("vec_id", "embedding")
  private lazy val outsideProbe =
    Seq((100L, Seq(0.5f, 0.4f, 0.3f, 0.2f))).toDF("vec_id", "embedding")

  /** Every top-k operator over `zeroPlanted` as (probes, k) => result.
    * Shortlists cover the whole corpus and every bucket or cell is
    * probed, so each operator ranks every corpus row.
    */
  private lazy val topKOperators
      : Seq[(String, (org.apache.spark.sql.DataFrame, Int) =>
        org.apache.spark.sql.DataFrame)] = {
    val corpus = zeroPlanted
    val n = 6
    val cents: Array[(Long, Seq[Double])] =
      Array((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
    val books = Similarity.pqCodebooks(corpus, "vec_id", "embedding",
      m = 2, k = 2, iters = 1)
    val dir = tempDir("ann_edge")
    Similarity.writeAnnIndex(corpus, "vec_id", "embedding", dir, nBits = 1)
    Seq(
      ("bruteForceTopK", (p, k) => Similarity.bruteForceTopK(corpus, p,
        "vec_id", "embedding", k)),
      ("quantizedTopK", (p, k) => Similarity.quantizedTopK(corpus, p,
        "vec_id", "embedding", k)),
      ("ivfTopK", (p, k) => Similarity.ivfTopK(corpus, p, "vec_id",
        "embedding", k, cents, nprobe = 2)),
      ("annTopK", (p, k) => Similarity.annTopK(corpus, p, "vec_id",
        "embedding", k, nBits = 1)),
      ("annTopKFromIndex", (p, k) => Similarity.annTopKFromIndex(spark,
        dir, p, "vec_id", "embedding", k, nBits = 1)),
      ("pqTopK", (p, k) => Similarity.pqTopK(corpus, p, "vec_id",
        "embedding", k, books, shortlist = n)),
      ("binaryHammingTopK", (p, k) => Similarity.binaryHammingTopK(corpus,
        p, "vec_id", "embedding", k, shortlist = n)))
  }

  test("every top-k operator returns 0 rows and the (probe_id, rank, id, " +
      "sim) schema for 0 probes") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    for ((name, op) <- topKOperators) {
      val got = op(outsideProbe.filter(lit(false)), 6)
      assert(got.columns.take(4).toSeq == Seq("probe_id", "rank", "id", "sim"),
        s"$name: ${got.columns.mkString(",")}")
      assert(got.schema("rank").dataType == LongType, name)
      assert(got.schema("sim").dataType == DoubleType, name)
      assert(got.count() == 0, name)
    }
  }

  test("a zero-norm corpus vector scores exactly 0.0 (not NaN) through " +
      "every top-k operator") {
    for ((name, op) <- topKOperators) {
      val got = op(outsideProbe, 6)
        .select($"id", $"sim").as[(Long, Double)].collect().toMap
      assert(got.keySet == (1L to 6L).toSet, s"$name ranked ${got.keySet}")
      assert(got(6L) == 0.0 && !got(6L).isNaN, s"$name: ${got(6L)}")
    }
  }

  test("a zero-norm vector scores exactly 0.0 (not NaN) through every " +
      "threshold path") {
    import graft.operators.Dedup
    val pair = zeroPlanted.filter($"vec_id".isin(1L, 6L))
    // the pair operators report the score itself
    for (pairs <- Seq(
        Similarity.cosinePairsAbove(pair, "vec_id", "embedding", -1.0),
        Similarity.cosinePairsAboveLsh(pair, "vec_id", "embedding", -1.0,
          nBits = 1)))
      assert(pairs.select($"id_a", $"id_b", $"sim")
        .as[(Long, Long, Double)].collect().toSeq == Seq((1L, 6L, 0.0)))
    // the dedup operators only keep or drop: a score of exactly 0.0
    // clears threshold 0 and fails the smallest positive one (NaN would
    // clear both, as Spark orders NaN above every number)
    val one = pair.filter($"vec_id" === 1L)
    val zero = pair.filter($"vec_id" === 6L)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"vec_id").as[Long].collect().toSet
    def survivors(t: Double): Seq[Set[Long]] = Seq(
      ids(Dedup.semanticDedup(pair, "vec_id", "embedding", t, lit(0L))),
      ids(Dedup.semanticDedupCandidates(pair, "vec_id", "embedding", t,
        Seq((1L, 6L)).toDF("i", "j"))),
      ids(Dedup.incrementalSemanticDedup(zero, one, "vec_id", "embedding",
        t, lit(0L))),
      ids(Dedup.semanticDecontaminate(zero, one, "vec_id", "embedding", t,
        Array((0L, Seq(1.0, 0.0, 0.0, 0.0))), nprobe = 1)))
    assert(survivors(0.0) == Seq(Set(1L), Set(1L), Set(), Set()))
    assert(survivors(Double.MinPositiveValue) ==
      Seq(Set(1L, 6L), Set(1L, 6L), Set(6L), Set(6L)))
  }

  test("the shared verify stages reject k < 1, nprobe < 1 and " +
      "maxPerCell < 1") {
    import graft.operators.Dedup
    def rejects(msg: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    for ((name, op) <- topKOperators; k <- Seq(0, -1))
      withClue(s"$name k=$k: ")(rejects("k must be >= 1")(op(outsideProbe, k)))
    val cents: Array[(Long, Seq[Double])] =
      Array((0L, Seq(1.0, 0.0, 0.0, 0.0)))
    for (nprobe <- Seq(0, -1)) {
      rejects("nprobe must be >= 1")(Similarity.ivfTopK(zeroPlanted,
        outsideProbe, "vec_id", "embedding", 3, cents, nprobe))
      rejects("nprobe must be >= 1")(Similarity.knnCandidatesIvf(
        zeroPlanted, "vec_id", "embedding", cents, nprobe))
      rejects("nprobe must be >= 1")(Dedup.semanticDecontaminate(
        zeroPlanted, outsideProbe, "vec_id", "embedding", 0.9, cents,
        nprobe))
    }
    for (maxPerCell <- Seq(0, -1)) {
      rejects("maxPerCell must be >= 1")(Similarity.knnCandidatesIvf(
        zeroPlanted, "vec_id", "embedding", cents, 1, maxPerCell))
      rejects("maxPerCell must be >= 1")(Dedup.semanticDecontaminate(
        zeroPlanted, outsideProbe, "vec_id", "embedding", 0.9, cents, 1,
        maxPerCell))
    }
  }

  // ---- the one top-k stage: exactTopK against a driver sort-and-take ----

  /** Checks `exactTopK(corpus, probes, All, k, score)` against a
    * sort-and-take on the driver: every corpus row but the probe
    * itself, by (score desc, id asc), the first k. Over 1 and 4 input
    * partitions, k from 1 to more than the candidate count, and an
    * empty corpus or probe side.
    */
  private def assertTopKMatches[C, P](name: String,
      corpus: Seq[(Long, C)], corpusDf: org.apache.spark.sql.DataFrame,
      probes: Seq[(Long, P)], probeDf: org.apache.spark.sql.DataFrame,
      score: Column, ref: (C, P) => Double): Unit = {
    import Similarity.{Candidates, exactTopK}
    for (parts <- Seq(1, 4); k <- Seq(1, 3, corpus.size + 5)) {
      val got = exactTopK(corpusDf.repartition(parts), probeDf,
          Candidates.All, k, score)
        .select($"probe_id", $"rank", $"id", $"sim".cast("double"))
        .as[(Long, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
      val want = probes.sortBy(_._1).flatMap { case (pid, p) =>
        corpus.filter(_._1 != pid).map { case (id, c) => (id, ref(c, p)) }
          .sortBy { case (id, sc) => (-sc, id) }.take(k).zipWithIndex
          .map { case ((id, sc), r) => (pid, r + 1L, id, sc) }
      }
      assert(got == want, s"$name: parts=$parts k=$k")
    }
    for ((c, p) <- Seq((corpusDf.limit(0), probeDf), (corpusDf, probeDf.limit(0))))
      assert(exactTopK(c, p, Candidates.All, 3, score).count() == 0,
        s"$name: 0 rows")
  }

  /** 12 ids over 4 distinct patterns, so each score ties across ids and
    * the id breaks the tie; ids 0 and 5 are also the probes.
    */
  private def tiedCorpus[A](patterns: Seq[A]): Seq[(Long, A)] =
    (0 until 12).map(i => (i.toLong, patterns(i % patterns.size)))

  test("exactTopK equals a driver sort-and-take under the guarded cosine") {
    val vs = tiedCorpus(Seq(Seq(1f, 2f, -1f, 0.5f), Seq(-2f, 1f, 0.5f, 1f),
      Seq(0f, 0f, 0f, 0f), Seq(1f, 1f, 1f, 1f)))
    val probes = vs.filter(v => v._1 == 0L || v._1 == 5L)
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val (na, nb) = (math.sqrt(dot(a, a)), math.sqrt(dot(b, b)))
      if (na > 0 && nb > 0) dot(a, b) / (na * nb) else 0.0
    }
    assertTopKMatches[Seq[Float], Seq[Float]]("cosine",
      vs, Similarity.corpusSide(vs.toDF("id", "v"), $"id", $"v"),
      probes, Similarity.probeSide(probes.toDF("id", "v"), $"id", $"v"),
      Similarity.guardedSim($"__v", $"__p", $"__vn", $"__pn"), cos)
  }

  test("exactTopK equals a driver sort-and-take under a negated Hamming " +
      "distance") {
    val bits = tiedCorpus(Seq(Seq(0L, 5L), Seq(-1L, 3L), Seq(7L, 0L),
      Seq(255L, 1L)))
    val probes = bits.filter(v => v._1 == 0L || v._1 == 5L)
    assertTopKMatches[Seq[Long], Seq[Long]]("hamming",
      bits, bits.toDF("id", "__v"), probes, probes.toDF("probe_id", "__p"),
      -graft.plans.NativeMath.hammingI64($"__v", $"__p"),
      (a, b) => -a.zip(b).map { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) }.sum.toDouble)
  }

  test("exactTopK equals a driver sort-and-take under a PQ-ADC score") {
    val codes = tiedCorpus(Seq(Seq(0, 1), Seq(1, 0), Seq(2, 2), Seq(0, 2)))
    val luts = Seq(
      (0L, Seq(Seq(0.5, -1.0, 0.25), Seq(1.0, 0.0, -0.5))),
      (5L, Seq(Seq(-0.5, 2.0, 0.0), Seq(0.125, 0.0, 0.75))))
    assertTopKMatches[Seq[Int], Seq[Seq[Double]]]("adc",
      codes, codes.toDF("id", "__code"), luts, luts.toDF("probe_id", "__lut"),
      graft.plans.NativeMath.pqAdc($"__code", $"__lut"),
      (c, lut) => c.indices.foldLeft(0.0)((acc, s) => acc + lut(s)(c(s))))
  }

  test("exactTopK equals a driver sort-and-take under an exact int64 dot") {
    val qs = tiedCorpus(Seq(Seq(1000L, -2000L, 3L), Seq(-5L, 7000L, 0L),
      Seq(0L, 0L, 0L), Seq(999L, 1L, -1L)))
    val probes = qs.filter(v => v._1 == 0L || v._1 == 5L)
    assertTopKMatches[Seq[Long], Seq[Long]]("dotI64",
      qs, qs.toDF("id", "__v"), probes, probes.toDF("probe_id", "__p"),
      graft.plans.NativeMath.dotI64($"__v", $"__p"),
      (a, b) => a.zip(b).map { case (x, y) => x * y }.sum.toDouble)
  }

  test("matryoshkaFidelity returns 0 rows for an empty corpus") {
    val empty = Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding")
      .filter(lit(false))
    assert(Similarity.matryoshkaFidelity(empty, "vec_id", "embedding",
      Seq(1)).count() == 0)
  }
}
