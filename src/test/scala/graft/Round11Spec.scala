package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Round-11 pins:
  *
  *  - mutualKnnGraph's candidate-pairs parameter (verdict ask #2):
  *    the candidate route must reproduce the exact graph when the
  *    candidates cover all pairs, find every planted-cluster edge
  *    through IVF candidates, and plan WITHOUT any all-pairs product.
  *  - The bucketed Metrica hot path (ask #7): q91's and q113's FINAL
  *    collapse must read HashPartitioning from the bucketed warehouse
  *    scan — no Exchange hash-partitions on the collapse key.
  *  - QUALIFY's out-of-contract shape (ask #6) raises the dialect's
  *    own message, not Spark's grammar error.
  */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  // ---- mutualKnnGraph: candidate-pairs parameter ----

  /** 3 planted clusters x 4 members on well-separated axes: member
    * vectors are the cluster axis plus a tiny distinct per-member
    * bump, so every mutual-kNN edge is intra-cluster by construction.
    */
  private def plantedVecs = {
    val rows = for {
      c <- 0 until 3
      m <- 0 until 4
    } yield {
      val id = (c * 4 + m).toLong
      val v = Array.fill(6)(0.0f)
      v(c * 2) = 1.0f
      v(c * 2 + 1) = 0.01f * (m + 1)
      (id, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("mutualKnnGraph: all-pairs candidates reproduce the exact " +
      "graph cell-for-cell") {
    val vecs = plantedVecs
    val exact = Similarity.mutualKnnGraph(vecs, "vec_id", "embedding",
      k = 2).orderBy("i", "j").collect()
    val ids = vecs.select(col("vec_id"))
    val all = ids.select(col("vec_id").as("i"))
      .crossJoin(ids.select(col("vec_id").as("j")))
      .where(col("i") =!= col("j"))
    val routed = Similarity.mutualKnnGraph(vecs, "vec_id", "embedding",
        k = 2, candidates = Some(all))
      .orderBy("i", "j").collect()
    assert(exact.toSeq == routed.toSeq)
    assert(exact.nonEmpty)
  }

  test("mutualKnnGraph: IVF candidates recover every planted-cluster " +
      "edge (recall 1.0 on separated clusters) and plan with no " +
      "all-pairs product") {
    val vecs = plantedVecs
    // one centroid per cluster axis — the planted ideal (the
    // data-adaptive quantizer is recall-asserted in SimilaritySpec)
    val cents: Array[(Long, Seq[Double])] = Array(
      (0L, Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 0.0, 1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 0.0, 0.0, 1.0, 0.0)))
    val cand = Similarity.knnCandidatesIvf(vecs, "vec_id", "embedding",
      cents, nprobe = 1)
    val ivf = Similarity.mutualKnnGraph(vecs, "vec_id", "embedding",
      k = 2, candidates = Some(cand))
    val exact = Similarity.mutualKnnGraph(vecs, "vec_id", "embedding",
      k = 2)
    val ivfEdges = ivf.select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactEdges = exact.select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // separated clusters: the exact graph is intra-cluster, and
    // nprobe=1 IVF probes exactly the home cluster -> full recall
    assert(exactEdges.nonEmpty)
    assert(ivfEdges == exactEdges,
      s"ivf=$ivfEdges exact=$exactEdges")
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(800))
  }

  // ---- bucketed Metrica hot path: Exchange-free FINAL collapse ----

  test("q91: the FINAL collapse reads the bucketed warehouse " +
      "with no Exchange on the collapse key") {
    val df = graft.queries.DialectQueries.q91ChFinalSql
      .fn(spark, "/root/testdata/sf0.001")
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    // the collapse aggregations group on eid(, ver); with the bucketed
    // scan providing HashPartitioning(eid, 32) no Exchange may
    // re-partition on it (the aggregate/order exchanges partition on
    // event_type)
    assert(plan.contains("max_by"), plan.take(1200))
    assert(!plan.contains("hashpartitioning(eid"), plan.take(2000))
  }

  test("q113: the scaled goals FINAL collapse reads the bucketed " +
      "visits warehouse with no Exchange on VisitID") {
    val df = graft.queries.MetricaQueries.q113GoalsFinalScaled
      .fn(spark, "/root/testdata/sf0.001")
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    // distinct-agg exchanges partition on (gprice, VisitID) — only a
    // LEADING VisitID hash (the collapse window's shape) is banned
    assert(!plan.contains("hashpartitioning(VisitID"), plan.take(2000))
  }

  // ---- QUALIFY contract error ----

  test("QUALIFY in a subquery raises the dialect contract error " +
      "naming the supported shape") {
    spark.range(10).selectExpr("id", "id % 3 AS g")
      .createOrReplaceTempView("r11_qualify")
    val e = intercept[IllegalArgumentException] {
      spark.sql("""SELECT * FROM (
        SELECT id, row_number() OVER (PARTITION BY g ORDER BY id) AS rn
        FROM r11_qualify QUALIFY rn = 1) t""")
    }
    assert(e.getMessage.contains("QUALIFY is supported at the top level"),
      e.getMessage)
  }

  // ---- X174: round-11 dialect fill #3 ----

  test("dialect fill #3: bin / morton / angle / base64 / quote / json " +
      "hand-checked") {
    val r = spark.sql("""
      SELECT bin(5) AS b5, bin(-1) AS bm1,
             mortonEncode(3, 1) AS me,
             mortonDecode(2, mortonEncode(1023, 77)).a AS mda,
             mortonDecode(2, mortonEncode(1023, 77)).b AS mdb,
             round(greatCircleAngle(0.0D, 0.0D, 90.0D, 0.0D), 6) AS gca,
             tryBase64Decode('aGk=') AS tb_ok,
             tryBase64Decode('!!!') AS tb_bad,
             tryBase64Decode('aGk') AS tb_nopad,
             regexpQuoteMeta('a.b*c') AS rqm,
             simpleJSONExtractRaw('{"k": 42, "s": "x"}', 'k') AS sj_num,
             simpleJSONExtractRaw('{"k": 42, "s": "x\\"y"}', 's') AS sj_str,
             simpleJSONExtractRaw('{"k": 1}', 'zz') AS sj_miss,
             multiSearchAnyCaseInsensitive('Hello World',
               array('WORL', 'zz')) AS msa1,
             multiSearchAnyCaseInsensitive('Hello', array('zz')) AS msa0
      """).head()
    // bin: full-width two's complement
    assert(r.getAs[String]("b5") ===
      "0" * 61 + "101")
    assert(r.getAs[String]("bm1") === "1" * 64)
    // mortonEncode(3, 1): a bits 0,1 -> positions 0,2; b bit 0 -> 1
    assert(r.getAs[Long]("me") === 7L)
    // roundtrip at the 10-bit corners
    assert(r.getAs[Long]("mda") === 1023L)
    assert(r.getAs[Long]("mdb") === 77L)
    // quarter great circle = 90 degrees exactly
    assert(math.abs(r.getAs[Double]("gca") - 90.0) < 1e-6)
    assert(r.getAs[String]("tb_ok") === "hi")
    assert(r.getAs[String]("tb_bad") === "")
    // unpadded input is malformed under the strict RFC contract
    assert(r.getAs[String]("tb_nopad") === "")
    assert(r.getAs[String]("rqm") === "a\\.b\\*c")
    assert(r.getAs[String]("sj_num") === "42")
    // RAW keeps the quotes and the escape
    assert(r.getAs[String]("sj_str") === "\"x\\\"y\"")
    assert(r.getAs[String]("sj_miss") === "")
    assert(r.getAs[Long]("msa1") === 1L)
    assert(r.getAs[Long]("msa0") === 0L)
  }

  test("mortonEncode z-values preserve 2-D locality order within a " +
      "quadrant (the file-skipping premise)") {
    // within one power-of-two quadrant the z-value range of the
    // quadrant is contiguous: all cells of quadrant (a<4, b<4) sort
    // before any cell of (a>=4, b>=4)
    val df = spark.sql("""
      SELECT a, b, mortonEncode(a, b) AS z FROM
      (SELECT explode(sequence(CAST(0 AS BIGINT), 7)) AS a) CROSS JOIN
      (SELECT explode(sequence(CAST(0 AS BIGINT), 7)) AS b)""")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lowQuad = rows.filter { case (a, b, _) => a < 4 && b < 4 }.map(_._3)
    val highQuad = rows.filter { case (a, b, _) => a >= 4 && b >= 4 }.map(_._3)
    assert(lowQuad.max < highQuad.min)
    // and z is a bijection on the 8x8 grid
    assert(rows.map(_._3).distinct.length === 64)
  }

  // ---- X178: windowFunnel strict modes ----

  test("windowFunnel modes: strict_order / strict_dedup / " +
      "strict_increase hand cases") {
    def lvl(modes: String, rows: String): Int = {
      val m = if (modes.isEmpty) "" else s", $modes"
      spark.sql(s"""
        SELECT windowFunnel(10$m)(t, e = 'a', e = 'b', e = 'c')
        FROM VALUES $rows AS v(t, e)""").head().getInt(0)
    }
    // an intruder event D between B and C
    val abdc = "(1L,'a'),(2L,'b'),(3L,'d'),(4L,'c')"
    assert(lvl("", abdc) === 3)                    // default ignores D
    assert(lvl("'strict_order'", abdc) === 2)      // D freezes at 2
    // a repeated level-1 event
    val aabc = "(1L,'a'),(2L,'a'),(3L,'b'),(4L,'c')"
    assert(lvl("", aabc) === 3)                    // default restarts on A
    assert(lvl("'strict_dedup'", aabc) === 1)      // repeat freezes at 1
    // equal timestamps ACROSS events: the deterministic tie sort puts
    // later-level conditions first, so cross-event equal-ts chaining
    // cannot occur in any mode (CH block order is nondeterministic
    // here — the documented refinement)
    assert(lvl("", "(1L,'a'),(1L,'b'),(2L,'c')") === 1)
    // equal timestamps WITHIN one event (overlapping conditions): the
    // strict_increase discriminator — default chains off the same-ts
    // level-1 event, strict_increase demands a strictly later ts
    def lvlV(modes: String, rows: String): Int = {
      val m = if (modes.isEmpty) "" else s", $modes"
      spark.sql(s"""
        SELECT windowFunnel(10$m)(t, v >= 1, v >= 2)
        FROM VALUES $rows AS x(t, v)""").head().getInt(0)
    }
    assert(lvlV("", "(1L, 1), (1L, 2)") === 2)
    assert(lvlV("'strict_increase'", "(1L, 1), (1L, 2)") === 1)
    assert(lvlV("'strict_increase'", "(1L, 1), (2L, 2)") === 2)
    // window anchors at the FIRST event in every mode
    assert(lvl("", "(0L,'a'),(5L,'b'),(11L,'c')") === 2)
    // two modes compose
    assert(lvl("'strict_order', 'strict_dedup'",
      "(1L,'a'),(2L,'b'),(3L,'b'),(4L,'c')") === 2)
  }

  // ---- X177: corrMatrix from exact integer moments ----

  test("corrMatrix: hand math — perfect, anti, independent-ish, and " +
      "degenerate columns") {
    val r = spark.sql("""
      SELECT corrMatrix(x, y, z, c) AS m FROM VALUES
        (1L, 2L, 3L, 5L), (2L, 4L, 2L, 5L),
        (3L, 6L, 1L, 5L), (4L, 8L, 0L, 5L) AS t(x, y, z, c)
    """).head().getSeq[Seq[java.lang.Double]](0)
    assert(r(0)(0) === 1.0)             // diagonal pinned structurally
    // off-diagonal perfect/anti pairs are num/(√da·√db) — a ulp off
    // exactness is inherent to sqrt (the entry rounds cells to 6 dp)
    assert(math.abs(r(0)(1) - 1.0) < 1e-12)   // y = 2x: perfect
    assert(math.abs(r(0)(2) + 1.0) < 1e-12)   // z descends with x: anti
    assert(math.abs(r(1)(2) + 1.0) < 1e-12)
    assert(r(0)(3) == null)             // constant column: NULL cell
    assert(r(3)(3) == null)             // degenerate diagonal too
    // symmetry
    assert(r(1)(0) === r(0)(1) && r(2)(0) === r(0)(2))
  }

  // ---- X176: t-digest quantile sketch ----

  test("quantileTDigest: exact on tiny groups, bracketed under any " +
      "partitioning, monotone across levels") {
    // tiny groups: a single value IS every quantile
    val one = spark.sql(
      "SELECT quantileTDigest(0.5)(x) FROM VALUES (7.0) AS t(x)")
      .head().getDouble(0)
    assert(one === 7.0)
    // 10k skewed values (x^2 shape -> heavy tail): the digest estimate
    // must land between the exact quantiles at level -/+ 0.02 rank,
    // under 1, 7, and 32 input partitions (merge-order robustness)
    val base = spark.range(10000).selectExpr(
      "CAST(id * id % 9973 AS DOUBLE) AS x")
    val exact = base.selectExpr(
      "percentile(x, 0.48) AS lo50", "percentile(x, 0.52) AS hi50",
      "percentile(x, 0.93) AS lo95", "percentile(x, 0.97) AS hi95",
      "percentile(x, 0.97) AS lo99", "max(x) AS hi99").head()
    for (parts <- Seq(1, 7, 32)) {
      base.repartition(parts).createOrReplaceTempView("td_t")
      val r = spark.sql("""
        SELECT quantileTDigest(0.5)(x), quantileTDigest(0.95)(x),
               quantileTDigest(0.99)(x),
               quantilesTDigest(0.25, 0.5, 0.75)(x)
        FROM td_t""").head()
      assert(r.getDouble(0) >= exact.getDouble(0) &&
        r.getDouble(0) <= exact.getDouble(1),
        s"q50 ${r.getDouble(0)} outside [${exact.getDouble(0)}, ${exact.getDouble(1)}] at $parts parts")
      assert(r.getDouble(1) >= exact.getDouble(2) &&
        r.getDouble(1) <= exact.getDouble(3),
        s"q95 ${r.getDouble(1)} outside band at $parts parts")
      assert(r.getDouble(2) >= exact.getDouble(4) &&
        r.getDouble(2) <= exact.getDouble(5),
        s"q99 ${r.getDouble(2)} outside band at $parts parts")
      val qs = r.getSeq[Double](3)
      assert(qs.length === 3 && qs(0) <= qs(1) && qs(1) <= qs(2))
    }
    // NULL and NaN inputs are skipped; an all-null group is NULL
    val n = spark.sql("""
      SELECT quantileTDigest(0.5)(x)
      FROM VALUES (CAST(NULL AS DOUBLE)), (CAST('NaN' AS DOUBLE)) AS t(x)""")
      .head()
    assert(n.isNullAt(0))
  }

  // ---- X175: z-order layout file skipping ----

  test("writeZOrdered: a 2-D box touches fewer files than a " +
      "single-key sorted layout, and the data survives intact") {
    import graft.sources.Warehouse
    // uniform 256x256 grid -> every (a, b) cell occupied exactly once
    val grid = spark.range(65536).select(
      (org.apache.spark.sql.functions.col("id") % 256).as("a"),
      (org.apache.spark.sql.functions.col("id") / 256).cast("long").as("b"))
    val tmp = tempDir("zorder")
    Warehouse.writeZOrdered(grid, s"$tmp/z", "a", "b",
      bits = 8, outFiles = 64)
    // the single-key comparison layout: range-sorted by a only
    grid.repartitionByRange(64, $"a").sortWithinPartitions($"a")
      .write.parquet(s"$tmp/lin")
    def filesTouching(dir: String): Long = {
      // per-FILE min/max of both dims — exactly the stats parquet
      // footers carry; a file intersects the box iff both ranges do
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min($"a").as("alo"), max($"a").as("ahi"),
          min($"b").as("blo"), max($"b").as("bhi"))
        .filter($"ahi" >= 0 && $"alo" <= 31 && $"bhi" >= 0 && $"blo" <= 31)
        .count()
    }
    val zTouch = filesTouching(s"$tmp/z")
    val linTouch = filesTouching(s"$tmp/lin")
    // linear-by-a: the box's a-range selects ~1/8 of the files, and
    // every one of them spans the FULL b range, so none drop out
    // (~8 of 64); z-order: the 32x32 box is one contiguous z-range
    // covering 1/64 of z space (~1-2 of 64, +1 for a range boundary)
    assert(zTouch < linTouch,
      s"z-order touched $zTouch files vs linear $linTouch")
    // <= 4, not <= 3: repartitionByRange SAMPLES its boundaries with a
    // seed derived from the global RDD id, so the exact split points
    // shift by one file depending on what ran earlier in the shared
    // test session (caught as an order-dependent flake in round 11) —
    // the property under test is the ~1/64-vs-1/8 gap, not the ±1
    assert(zTouch <= 4, s"z-order box should be ~1/64 of 64 files, got $zTouch")
    assert(linTouch >= 6, s"linear layout should touch ~1/8 of 64 files, got $linTouch")
    // and the layout is only a layout: same rows back
    assert(spark.read.parquet(s"$tmp/z").count() === 65536L)
    val boxZ = spark.read.parquet(s"$tmp/z")
      .filter($"a" <= 31 && $"b" <= 31).agg(sum($"a" * 256 + $"b")).head().getLong(0)
    val boxRaw = grid
      .filter($"a" <= 31 && $"b" <= 31).agg(sum($"a" * 256 + $"b")).head().getLong(0)
    assert(boxZ === boxRaw)
  }

  test("QUALIFY at depth 0 still rewrites (the contract check must " +
      "not catch the supported shape)") {
    spark.range(10).selectExpr("id", "id % 3 AS g")
      .createOrReplaceTempView("r11_qualify0")
    val r = spark.sql("""
      SELECT id, row_number() OVER (PARTITION BY g ORDER BY id) AS rn
      FROM r11_qualify0 QUALIFY rn = 1 ORDER BY id""").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }
}
