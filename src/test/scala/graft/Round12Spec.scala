package graft

import org.apache.spark.sql.functions._

/** Round-12 first-wave pins — the round-11 ADVICE findings:
  *
  *  - PASTE JOIN: ordinal ORDER BY keys raise the contract error
  *    (transplanted into the row_number window spec an integer
  *    literal is a constant — nondeterministic pairing); a matched
  *    keyword NEVER falls back to the silent-cartesian parse; a bare
  *    `SELECT *` over the paste returns exactly left-cols ++
  *    right-cols (no helper column).
  *  - groupArrayIntersect deduplicates a single-array group exactly
  *    like a multi-array group (set semantics).
  *  - evalRanking deduplicates duplicate (query_id, doc_id) run rows
  *    on the minimum rank — recall@k can never exceed 1.0.
  */
class Round12Spec extends SparkSpec {
  import spark.implicits._

  // ---- PASTE JOIN hardening ----

  test("paste join: an ordinal ORDER BY key raises the contract error, " +
      "never a constant-ordered (nondeterministic) window") {
    val e = intercept[Exception] {
      spark.sql("""
        SELECT a.x, b.y FROM
          (SELECT id AS x FROM range(5) ORDER BY 1 DESC) AS a
        PASTE JOIN
          (SELECT id AS y FROM range(5) ORDER BY y) AS b
      """).collect()
    }
    assert(e.getMessage.contains("ordinal"), e.getMessage)
    assert(e.getMessage.contains("PASTE JOIN"), e.getMessage)
  }

  test("paste join: unparenthesized sides fail closed with the contract " +
      "error — never Spark's PASTE-as-alias cartesian parse") {
    spark.range(3).toDF("id").createOrReplaceTempView("r12_paste_l")
    spark.range(3).toDF("id").createOrReplaceTempView("r12_paste_r")
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM r12_paste_l PASTE JOIN r12_paste_r").collect()
    }
    assert(e.getMessage.contains("PASTE JOIN"), e.getMessage)
  }

  test("paste join: SELECT * returns exactly left-cols ++ right-cols — " +
      "the helper rank column never leaks") {
    val df = spark.sql("""
      SELECT * FROM
        (SELECT id AS x FROM range(4) ORDER BY x) AS a
      PASTE JOIN
        (SELECT id * 2 AS y FROM range(4) ORDER BY y DESC) AS b
      ORDER BY x
    """)
    assert(df.columns.toSeq == Seq("x", "y"), df.columns.mkString(","))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 6L), (1L, 4L), (2L, 2L), (3L, 0L)))
  }

  test("paste join: qualified side references still resolve alongside " +
      "the USING-joined helper") {
    val r = spark.sql("""
      SELECT b.y, a.x FROM
        (SELECT id AS x FROM range(3) ORDER BY x) AS a
      PASTE JOIN
        (SELECT id + 10 AS y FROM range(3) ORDER BY y) AS b
      ORDER BY a.x
    """).collect()
    assert(r.map(w => (w.getLong(0), w.getLong(1))).toSeq ==
      Seq((10L, 0L), (11L, 1L), (12L, 2L)))
  }

  // ---- groupArrayIntersect set semantics ----

  test("groupArrayIntersect: a single-array group deduplicates (set " +
      "semantics, same as multi-array groups)") {
    val one = spark.sql(
      "SELECT groupArrayIntersect(a) AS g FROM VALUES (array(3, 1, 3, 1)) t(a)")
      .collect().head.getSeq[Int](0)
    assert(one == Seq(1, 3), one)
    // and the multi-array behavior it must match
    val two = spark.sql("""SELECT groupArrayIntersect(a) AS g FROM VALUES
      (array(3, 1, 3, 1)), (array(1, 3, 5)) t(a)""")
      .collect().head.getSeq[Int](0)
    assert(two == Seq(1, 3), two)
  }

  // ---- semanticDedupCandidates (X190's novel stage) ----

  test("semanticDedupCandidates: drops only higher-id members of " +
      "above-threshold CANDIDATE pairs — a near-dup pair outside the " +
      "candidate set survives untouched") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)),   // near-dup of 2 (candidate) -> 2 drops
      (2L, Seq(0.999f, 0.04f)),
      (3L, Seq(0.0f, 1.0f)),   // near-dup of 4, NOT a candidate pair
      (4L, Seq(0.04f, 0.999f)),
      (5L, Seq(-1.0f, 0.0f))   // candidate with 1 but dissimilar
    ).toDF("vec_id", "embedding")
    val cand = Seq((1L, 2L), (2L, 1L), (1L, 5L)).toDF("i", "j")
    val out = graft.operators.Dedup.semanticDedupCandidates(
        vecs, "vec_id", "embedding", threshold = 0.9, cand)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 3L, 4L, 5L), out)
  }

  test("semanticDedupCandidates with the all-pairs candidate set " +
      "equals semanticDedup with a single cell (policy equivalence)") {
    val vecs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(60)
    val n = vecs.count()
    val ids = vecs.select(col("vec_id"))
    val allPairs = ids.select(col("vec_id").as("i"))
      .crossJoin(ids.select(col("vec_id").as("j")))
      .where(col("i") =!= col("j"))
    val viaCand = graft.operators.Dedup.semanticDedupCandidates(
        vecs, "vec_id", "embedding", 0.46, allPairs)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val viaCell = graft.operators.Dedup.semanticDedup(
        vecs, "vec_id", "embedding", 0.46, lit(0))
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaCand == viaCell, s"n=$n cand=$viaCand cell=$viaCell")
  }

  // ---- applyCalibration step semantics (X193) ----

  test("applyCalibration: largest point <= score wins, below-range " +
      "clamps to the group floor, unknown groups yield null") {
    val cal = Seq(("a", 2L, 0.2), ("a", 5L, 0.5), ("a", 8L, 0.8))
      .toDF("g", "score", "calibrated")
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 4L), ("a", 7L),
      ("a", 9L), ("z", 5L)).toDF("g", "score")
    val out = graft.operators.Select
      .applyCalibration(rows, cal, "g", "score")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(out == Set(
      ("a", 1L, 0.2), // below range -> floor clamp
      ("a", 2L, 0.2), // exact point
      ("a", 4L, 0.2), // steps down to 2
      ("a", 7L, 0.5), // steps down to 5
      ("a", 9L, 0.8), // above range -> last point
      ("z", 5L, null) // group absent from the table
    ), out)
  }

  // ---- bootstrap CI (X194) ----

  test("bootstrapMeanCI: Poisson(1) weights average ~1, the interval " +
      "brackets the sample mean on IID data, and reruns are identical") {
    import graft.operators.Corpus
    val df = spark.range(4000)
      .select(col("id").as("doc_id"), lit("g").as("source"),
        (col("id") % 17).cast("long").as("v"))
    // weight sanity: mean weight over many draws ≈ 1 (Poisson(1))
    val wBar = df.select(explode(sequence(lit(1), lit(16))).as("b"),
        col("doc_id"))
      .select(Corpus.poissonWeight(col("doc_id"), col("b")).as("w"))
      .agg(avg(col("w"))).collect().head.getDouble(0)
    assert(math.abs(wBar - 1.0) < 0.02, s"mean weight $wBar")
    val run1 = Corpus.bootstrapMeanCI(df, "source", "v", "doc_id",
      reps = 32, alpha = 0.1).collect().head
    val run2 = Corpus.bootstrapMeanCI(df, "source", "v", "doc_id",
      reps = 32, alpha = 0.1).collect().head
    assert(run1.toString == run2.toString) // fully deterministic
    val (mean, lo, hi) = (run1.getAs[Double]("mean"),
      run1.getAs[Double]("ci_lo"), run1.getAs[Double]("ci_hi"))
    assert(lo <= hi, run1.toString)
    assert(lo <= mean && mean <= hi, // IID 4000-row mean sits inside
      s"mean=$mean outside [$lo, $hi]")
    assert(run1.getAs[Long]("reps_used") == 32L)
  }

  // ---- capped IVF candidates: the recall contract (ask #8) ----

  test("knnCandidatesIvf with a per-cell cap: recall vs the exact " +
      "mutual-kNN graph stays above the contract floor, and the cap " +
      "really bounds per-cell list length") {
    import graft.operators.Similarity
    val vecs = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    val modulus = math.ceil(math.sqrt(vecs.count().toDouble)).toInt
    val cents = Similarity.seedCentroids(vecs, "vec_id", "embedding",
      modulus)
    def edges(c: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.mutualKnnGraph(vecs, "vec_id", "embedding", k = 5,
          candidates = c)
        .select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = edges(None)
    val capped = edges(Some(Similarity.knnCandidatesIvf(
      vecs, "vec_id", "embedding", cents, nprobe = 4, maxPerCell = 64)))
    val uncapped = edges(Some(Similarity.knnCandidatesIvf(
      vecs, "vec_id", "embedding", cents, nprobe = 4)))
    val recallCapped = capped.intersect(exact).size.toDouble / exact.size
    val recallUncapped =
      uncapped.intersect(exact).size.toDouble / exact.size
    info(f"exact=${exact.size} uncapped recall=$recallUncapped%.3f " +
      f"capped recall=$recallCapped%.3f")
    // the cap may only cost a bounded slice of the uncapped recall
    assert(recallCapped >= recallUncapped - 0.10,
      f"capped=$recallCapped%.3f uncapped=$recallUncapped%.3f")
    assert(recallCapped >= 0.60, f"capped recall $recallCapped%.3f")
    // and the bound itself holds: no cell contributes > 64 list rows
    val maxList = Similarity.knnCandidatesIvf(vecs, "vec_id",
        "embedding", cents, nprobe = 1, maxPerCell = 64)
      .groupBy(col("i")).agg(countDistinct(col("j")).as("nj"))
      .agg(max(col("nj"))).collect().head.getLong(0)
    assert(maxList <= 64L, s"maxList=$maxList")
  }

  // ---- conf-gated durable pipeline stages (verdict ask #7) ----

  test("Graft.stage: the reliable checkpoint() path and the default " +
      "localCheckpoint path produce identical frames") {
    val base = spark.range(500).toDF("id")
      .withColumn("v", col("id") % 7)
      .groupBy(col("v")).agg(sum(col("id")).as("s"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val localRows = rows(Graft.stage(base))
    val dir = tempDir("ckpt_spec")
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val staged = Graft.stage(base)
      assert(rows(staged) == localRows)
      // the reliable path really wrote to the durable dir
      assert(new java.io.File(dir).listFiles().nonEmpty, dir)
    } finally {
      spark.conf.set("spark.graft.reliableCheckpoint", "false")
    }
  }

  test("q278 runs green under the reliable-checkpoint conf (same " +
      "rows as the default path)") {
    val sf = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q278_prep_pipeline_v3")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val dflt = canon(q(spark, sf))
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try assert(canon(q(spark, sf)) == dflt)
    finally spark.conf.set("spark.graft.reliableCheckpoint", "false")
  }

  // ---- evalRanking run dedup ----

  test("evalRanking: duplicate (query, doc) run rows keep the minimum " +
      "rank — recall@k stays <= 1.0 and MRR uses the best rank") {
    val runs = Seq(
      ("q1", "d1", 3L), ("q1", "d1", 1L), // duplicate retrieved doc
      ("q1", "d2", 2L),
      ("q2", "d9", 1L)).toDF("query_id", "doc_id", "rank")
    val gold = Seq(("q1", "d1"), ("q1", "d2"), ("q2", "d9"))
      .toDF("query_id", "doc_id")
    val out = graft.operators.Retrieval.evalRanking(runs, gold, k = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    val q1 = out("q1")
    assert(q1.getAs[Double]("recall_k") == 1.0, q1)
    assert(q1.getAs[Double]("mrr") == 1.0, q1) // best rank of d1 is 1
    assert(q1.getAs[Long]("first_hit") == 1L, q1)
    // AP with hit ranks {1, 2}: (1/1 + 2/2) / 2 = 1.0
    assert(q1.getAs[Double]("ap_k") == 1.0, q1)
    val q2 = out("q2")
    assert(q2.getAs[Double]("recall_k") == 1.0, q2)
  }
}
