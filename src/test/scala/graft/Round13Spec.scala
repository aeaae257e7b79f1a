package graft

import org.apache.spark.sql.functions._

/** Round-13 pins — the round-12 verdict asks and ADVICE findings:
  *
  *  - X193 `applyCalibration` is shuffle-free over the corpus side:
  *    per-group calibration arrays broadcast, a codegen'd binary
  *    search evaluates the step function per row; bit-parity with
  *    the previous asofJoin form.
  *  - PASTE JOIN hides `__paste_rn` from EVERY star form (`*`,
  *    `*, expr`, `a.*`, `a.*, b.*`), not just a bare `*`.
  *  - mix32 is overflow-free for any long id (split 16/16 multiply),
  *    unchanged where the old form was defined.
  *  - bootstrapMeanCI surfaces a group whose every replica drew
  *    all-zero weights (reps_used = 0, null interval) instead of
  *    dropping it.
  *  - Graft.stage honors spark.graft.checkpointDir changes.
  */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  // ---- PASTE JOIN star forms (round-13 ADVICE) ----

  test("paste join: qualified stars a.*, b.* return exactly " +
      "left-cols ++ right-cols — the helper never leaks") {
    val df = spark.sql("""
      SELECT a.*, b.* FROM
        (SELECT id AS x FROM range(4) ORDER BY x) AS a
      PASTE JOIN
        (SELECT id * 2 AS y FROM range(4) ORDER BY y DESC) AS b
      ORDER BY x
    """)
    assert(df.columns.toSeq == Seq("x", "y"), df.columns.mkString(","))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 6L), (1L, 4L), (2L, 2L), (3L, 0L)))
  }

  test("paste join: the `*, expr` owner form hides the helper too") {
    val df = spark.sql("""
      SELECT *, x + y AS s FROM
        (SELECT id AS x FROM range(3) ORDER BY x) AS a
      PASTE JOIN
        (SELECT id * 10 AS y FROM range(3) ORDER BY y) AS b
      ORDER BY x
    """)
    assert(df.columns.toSeq == Seq("x", "y", "s"), df.columns.mkString(","))
    assert(df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 0L, 0L), (1L, 10L, 11L), (2L, 20L, 22L)))
  }

  test("paste join: a star qualified by a non-paste alias is left " +
      "untouched (nothing to hide)") {
    // single-side star plus explicit right column — a.* carries the
    // helper, the explicit b.y never did
    val df = spark.sql("""
      SELECT a.*, b.y FROM
        (SELECT id AS x FROM range(3) ORDER BY x) AS a
      PASTE JOIN
        (SELECT id AS y FROM range(3) ORDER BY y) AS b
      ORDER BY x
    """)
    assert(df.columns.toSeq == Seq("x", "y"), df.columns.mkString(","))
  }

  // ---- X193 applyCalibration: plan + parity (verdict ask #1) ----

  /** The pre-round-13 form, kept as the parity reference: asofJoin
    * (union + running-last window per group) + broadcast floor clamp.
    */
  private def applyCalibrationAsof(df: org.apache.spark.sql.DataFrame,
      cal: org.apache.spark.sql.DataFrame, groupCol: String,
      scoreCol: String): org.apache.spark.sql.DataFrame = {
    val grp = col(s"`$groupCol`")
    val calT = cal.select(grp, col("score").as("__cal_s"),
      col("calibrated").as("__cal_v"))
    val looked = graft.operators.Relational.asofJoin(
      df, calT, Seq(groupCol), scoreCol, "__cal_s", Seq("__cal_v"))
    val floorV = calT.groupBy(grp)
      .agg(min_by(col("__cal_v"), col("__cal_s")).as("__cal_floor"))
    looked.join(broadcast(floorV), Seq(groupCol), "left")
      .withColumn("calibrated",
        coalesce(col("__cal_v"), col("__cal_floor")))
      .drop("__cal_v", "__cal_floor")
  }

  test("applyCalibration: broadcast binary-search form is bit-identical " +
      "to the asofJoin form on a fitted table (incl. floor clamp and " +
      "absent groups)") {
    import graft.operators.Select
    val base = spark.range(3000).select(
      col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(5))).as("g"),
      pmod(col("id") * 7 + 3, lit(40)).cast("long").as("score"),
      when(pmod(col("id") * 13, lit(100)) < pmod(col("id"), lit(40)) + 30,
        1L).otherwise(0L).as("label"))
    val cal = Select.calibrateIsotonic(
      base.where(col("doc_id") % 2 === 0), "g", "score", "label")
    // shift scores so below-range, between-points, and above-range all
    // occur; add a group absent from the table
    val applyTo = base.where(col("doc_id") % 2 === 1)
      .withColumn("score", col("score") +
        when(col("doc_id") % 4 === 1, lit(-45L)).otherwise(lit(2L)))
      .union(base.limit(5).withColumn("g", lit("missing")))
    val got = Select.applyCalibration(applyTo, cal, "g", "score")
      .select(col("doc_id"), col("g"), col("score"), col("calibrated"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) "null"
        else java.lang.Double.doubleToRawLongBits(r.getDouble(3)).toString))
      .toSet
    val ref = applyCalibrationAsof(applyTo, cal, "g", "score")
      .select(col("doc_id"), col("g"), col("score"), col("calibrated"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) "null"
        else java.lang.Double.doubleToRawLongBits(r.getDouble(3)).toString))
      .toSet
    assert(got == ref)
    assert(got.nonEmpty && got.exists(_._4 == "null"))
  }

  test("applyCalibration plan: zero window anywhere, zero exchange on " +
      "the corpus side — the corpus rides a broadcast join only") {
    import graft.operators.Select
    val corpus = spark.range(1000).select(
      col("id").as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(3))).as("g"),
      pmod(col("id"), lit(20)).cast("long").as("score"))
    val cal = Seq(("s0", 2L, 0.2), ("s0", 5L, 0.5), ("s1", 3L, 0.4))
      .toDF("g", "score", "calibrated")
    val applied = Select.applyCalibration(corpus, cal, "g", "score")
    val p = applied.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus (streamed) side must reach the join without an
    // exchange. The streamed child prints BEFORE the build side's
    // BroadcastExchange line, so any shuffle on the corpus path would
    // appear above it: every hash exchange must sit after the
    // BroadcastExchange (the dictionary-sized cal aggregation)
    val lines = p.linesIterator.toSeq
    val bcast = lines.indexWhere(_.contains("BroadcastExchange"))
    assert(bcast >= 0, p)
    val corpusShuffles = lines.take(bcast)
      .filter(_.contains("Exchange hashpartitioning"))
    assert(corpusShuffles.isEmpty, corpusShuffles.mkString("\n"))
  }

  test("stepLookup kernel: exact point, between points, below range " +
      "(floor), above range (last), null x") {
    val cal = Seq((2L, 0.2), (5L, 0.5), (8L, 0.8))
    val df = Seq(Some(1L), Some(2L), Some(4L), Some(7L), Some(9L), None)
      .toDF("x")
      .select(col("x"),
        graft.plans.NativeCalib.stepLookup(
          typedLit(cal.map(_._1)), typedLit(cal.map(_._2)),
          col("x")).as("v"))
    val got = df.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) null else r.getDouble(1))).toSet
    assert(got == Set((1L, 0.2), (2L, 0.2), (4L, 0.2), (7L, 0.5),
      (9L, 0.8), (-1L, null)), got)
  }

  // ---- mix32 overflow (round-13 ADVICE) ----

  test("mix32: split multiply is overflow-free for huge ids and " +
      "unchanged for 32-bit ids (the old form's domain)") {
    import graft.operators.Corpus
    // JVM reference: the ORIGINAL arithmetic, exact where it does not
    // overflow — mod 2^32 of the wrapped 64-bit product IS the true
    // mod-2^32 value, so this reference is valid for every id
    def ref(id: Long, b: Long): Long = {
      val m = 4294967296L
      def p(x: Long) = ((x % m) + m) % m
      val h0 = p(id * 2654435761L + b * 40503L)
      val h1 = p(((h0 >> 16) ^ h0) * 0x45d9f3bL)
      val h2 = p(((h1 >> 16) ^ h1) * 0x45d9f3bL)
      (h2 >> 16) ^ h2
    }
    val ids = Seq(0L, 1L, 7L, 65535L, 65536L, 2147483647L,
      3400000001L, 4294967295L, 4294967296L, 999999999999L,
      Long.MaxValue / 3)
    val got = ids.toDF("id")
      .select(col("id"), graft.operators.Corpus.mix32(col("id"), lit(5L))
        .as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      assert(got(id) == ref(id, 5L), s"id=$id got=${got(id)} ref=${ref(id, 5L)}")
      assert(got(id) >= 0 && got(id) < 4294967296L)
    }
    // and the weights stay in the Poisson range
    val w = Seq(Long.MaxValue / 3).toDF("id")
      .select(Corpus.poissonWeight(col("id"), lit(1)).as("w"))
      .collect().head.getInt(0)
    assert(w >= 0 && w <= 9)
  }

  test("bootstrapMeanCI: a tiny group whose every replica drew zero " +
      "weight surfaces with reps_used = 0 and a null interval") {
    import graft.operators.Corpus
    // find (deterministically) an id whose 2 replicas BOTH draw w=0
    def mixRef(id: Long, b: Long): Long = {
      val m = 4294967296L
      def p(x: Long) = ((x % m) + m) % m
      val h0 = p(id * 2654435761L + b * 40503L)
      val h1 = p(((h0 >> 16) ^ h0) * 0x45d9f3bL)
      val h2 = p(((h1 >> 16) ^ h1) * 0x45d9f3bL)
      (h2 >> 16) ^ h2
    }
    val zeroId = (1L to 10000L).find(id =>
      mixRef(id, 1) < 1580030168L && mixRef(id, 2) < 1580030168L)
    assert(zeroId.nonEmpty, "no all-zero id in range — widen the search")
    val df = Seq((zeroId.get, "tiny", 7L), (1L, "big", 3L), (2L, "big", 5L),
      (3L, "big", 4L), (4L, "big", 6L)).toDF("doc_id", "g", "v")
    val out = Corpus.bootstrapMeanCI(df, "g", "v", "doc_id", reps = 2,
        alpha = 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("mean"), r.isNullAt(3),
          r.isNullAt(4), r.getLong(5))).toMap
    assert(out.contains("tiny"), out.keys.mkString(","))
    val t = out("tiny")
    assert(t._1 == 1L && t._2 == 7.0 && t._3 && t._4 && t._5 == 0L, t)
    assert(out("big")._5 > 0L)
  }

  // ---- byTokenBudgetFraction (verdict ask #6) ----

  test("byTokenBudgetFraction: identical selection to byTokenBudget at " +
      "the explicit floor(total/2) budget") {
    import graft.operators.Select
    val df = spark.range(2000).select(
      col("id").as("doc_id"),
      pmod(col("id") * 31 + 7, lit(50)).cast("long").as("score"),
      (pmod(col("id") * 13, lit(90)) + 10).cast("long").as("nt"))
    val total = df.agg(sum(col("nt"))).head().getLong(0)
    val viaFrac = Select.byTokenBudgetFraction(df, "score", "nt",
        "doc_id", 1L, 2L)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val viaAbs = Select.byTokenBudget(df, "score", "nt", "doc_id",
        total / 2)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(viaFrac == viaAbs && viaFrac.nonEmpty)
  }

  test("byTokenBudgetFraction triggers no extra scalar job: same job " +
      "count as the absolute form at the equivalent budget") {
    import graft.operators.Select
    val df = spark.range(500).select(
      col("id").as("doc_id"),
      pmod(col("id"), lit(10)).cast("long").as("score"),
      lit(5L).as("nt")).localCheckpoint()
    val fracJobs = countJobs {
      Select.byTokenBudgetFraction(df, "score", "nt", "doc_id", 1L, 2L)
    }
    val absJobs = countJobs {
      Select.byTokenBudget(df, "score", "nt", "doc_id", 1250L)
    }
    assert(fracJobs == absJobs,
      s"fraction form ran $fracJobs jobs vs absolute's $absJobs — the " +
        "total must come off the histogram, never a separate pass")
  }

  test("q280 job budget: the chain runs in a pinned number of Spark " +
      "jobs — the budget scalar job is gone (verdict ask #6)") {
    // pinned at sf0.001 with AQE on (54 as of round 13 — the fraction
    // budget removed the agg().head() pass); a regression that re-adds
    // a driver-side scalar pass (or re-executes a stage) shows up as a
    // job-count jump. Re-pin deliberately if the plan is restructured.
    val jobs = countJobs {
      SparkEntry.queries("q280_ivf_curation_chain")(
        spark, "/root/testdata/sf0.001").collect()
    }
    assert(jobs == 54, s"q280 job count: $jobs")
  }

  // ---- semanticDecontaminate planted recall (verdict ask #3) ----
  // q285's oracle replays the same IVF candidate structure, so a
  // SYSTEMATIC miss (eval probe skips the corpus row's cell; the cap
  // trims the row from its list) is invisible to correctness. Plant
  // contaminated rows at controlled cosines and pin both failure
  // modes the operator documents.

  private def plantedWorld(): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, Array[(Long, Seq[Double])],
      Set[Long]) = {
    val dim = 8
    val cells = 8
    val cents: Array[(Long, Seq[Double])] =
      (0 until cells).map { k =>
        val v = new Array[Double](dim); v(k) = 1.0
        (k.toLong, v.toSeq)
      }.toArray
    // corpus: 64 rows, 8 per cell. Each row = e_k + 0.55·(cosθ e_a +
    // sinθ e_b) with a UNIQUE phase θ per row within its cell (45°
    // apart), so within-cell pairwise cosine <= (1 + 0.3025·cos45°)
    // / 1.3025 ≈ 0.936 — comfortably below the 0.97 threshold: a
    // planted eval probe contaminates ITS row, never its cell. Norm
    // scale 1.0-1.6 varies by id so the cap's (norm desc, id) trim
    // has a real ordering to bite on (cosines are scale-invariant).
    val corpusRows = (1 to 64).map { i =>
      val k = i % cells
      val idx = (i - 1) / cells
      val th = idx * math.Pi / 4
      val v = new Array[Double](dim)
      v(k) = 1.0
      v((k + 1) % cells) += 0.55 * math.cos(th)
      v((k + 2) % cells) += 0.55 * math.sin(th)
      val s = 1.0 + 0.1 * (i % 7)
      (i.toLong, v.map(x => (x * s).toFloat).toSeq)
    }
    // planted contamination: exact-direction copies (cosine 1.0) and
    // perturbed copies (one fresh orthogonal axis, cosine ≈ 0.985 —
    // a CONTROLLED cosine above threshold, same argmax cell)
    val exactIds = Set(8L, 19L, 37L, 50L)
    val nearIds = Set(13L, 26L, 44L, 58L)
    val planted = exactIds ++ nearIds
    val byId = corpusRows.toMap
    val evalRows =
      exactIds.toSeq.sorted.map { id =>
        (1000L + id, byId(id).map(x => x * 1.25f))
      } ++
      nearIds.toSeq.sorted.map { id =>
        val base = byId(id).map(_.toDouble).toArray
        val k = (id % cells).toInt
        val mag = math.sqrt(base.map(x => x * x).sum)
        base((k + 5) % cells) += 0.175 * mag // cos = 1/sqrt(1.030625)
        (2000L + id, base.map(_.toFloat).toSeq)
      } ++
      // clean eval rows: between-cell directions — cosine to every
      // corpus row <= 1/(sqrt(2)·1.1413) ≈ 0.62, far below threshold
      (0 until 4).map { j =>
        val v = new Array[Double](dim)
        v(j) = 1.0; v((j + 4) % cells) = 1.0
        (3000L + j, v.map(_.toFloat).toSeq)
      }
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val evalV = evalRows.toDF("vec_id", "embedding")
    (corpus, evalV, cents, planted)
  }

  test("semanticDecontaminate planted recall: uncapped, every planted " +
      "contaminated row is dropped (recall 1.0) and nothing else is") {
    val (corpus, evalV, cents, planted) = plantedWorld()
    val surv = graft.operators.Dedup.semanticDecontaminate(
      corpus, evalV, "vec_id", "embedding", threshold = 0.97,
      cents, nprobe = 2)
    val kept = surv.select("vec_id").collect().map(_.getLong(0)).toSet
    val dropped = (1L to 64L).toSet -- kept
    assert(dropped == planted,
      s"missed=${planted -- dropped} extra=${dropped -- planted}")
  }

  test("semanticDecontaminate planted recall: the capped path misses " +
      "EXACTLY the planted rows the cell trim drops — the documented " +
      "failure mode, nothing more") {
    import graft.operators.{Dedup, Similarity}
    val (corpus, evalV, cents, planted) = plantedWorld()
    val maxPerCell = 4
    // replicate the trim rule to compute which corpus rows survive
    // their cell list: top maxPerCell per cell by (round(norm*1e6)
    // desc, id asc)
    val binned = corpus.select(col("vec_id"),
        Similarity.assignCell(col("embedding"), cents).as("cell"),
        round(Similarity.norm(col("embedding")) * 1e6).cast("long")
          .as("nq"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val capSurvivors = binned.groupBy(_._2).values.flatMap(
      _.sortBy(t => (-t._3, t._1)).take(maxPerCell).map(_._1)).toSet
    val surv = Dedup.semanticDecontaminate(
      corpus, evalV, "vec_id", "embedding", threshold = 0.97,
      cents, nprobe = 2, maxPerCell = maxPerCell)
    val dropped = (1L to 64L).toSet --
      surv.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dropped == (planted intersect capSurvivors),
      s"dropped=$dropped expected=${planted intersect capSurvivors}")
    // the test must exercise REAL loss: some planted rows trimmed,
    // some surviving
    assert((planted -- capSurvivors).nonEmpty, "cap trimmed no planted row")
    assert((planted intersect capSurvivors).nonEmpty,
      "cap trimmed every planted row")
  }

  // ---- native bootstrap partial (verdict ask #8) ----

  test("bootstrapMeanCI: the native one-pass partial is bit-identical " +
      "to the exploded reps x rows form (incl. the reps_used=0 group)") {
    import graft.operators.Corpus
    // mixed group sizes, including the 1-row all-zero-weight group the
    // ADVICE fix surfaces (found deterministically in the earlier test)
    def mixRef(id: Long, b: Long): Long = {
      val m = 4294967296L
      def p(x: Long) = ((x % m) + m) % m
      val h0 = p(id * 2654435761L + b * 40503L)
      val h1 = p(((h0 >> 16) ^ h0) * 0x45d9f3bL)
      val h2 = p(((h1 >> 16) ^ h1) * 0x45d9f3bL)
      (h2 >> 16) ^ h2
    }
    val zeroId = (1L to 10000L).find(id =>
      mixRef(id, 1) < 1580030168L && mixRef(id, 2) < 1580030168L).get
    val df = spark.range(3000).select(
        col("id").as("doc_id"),
        concat(lit("s"), pmod(col("id"), lit(4))).as("g"),
        pmod(col("id") * 17 + 5, lit(200)).cast("long").as("v"))
      .union(Seq((zeroId, "tiny", 7L)).toDF("doc_id", "g", "v"))
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map { r =>
        (r.getString(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          if (r.isNullAt(3)) -1L
          else java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
          if (r.isNullAt(4)) -1L
          else java.lang.Double.doubleToRawLongBits(r.getDouble(4)),
          r.getLong(5))
      }.sortBy(_._1).toSeq
    val native = canon(Corpus.bootstrapMeanCI(df, "g", "v", "doc_id",
      reps = 2, alpha = 0.1))
    val exploded = canon(Corpus.bootstrapMeanCIExploded(df, "g", "v",
      "doc_id", reps = 2, alpha = 0.1))
    assert(native == exploded)
    assert(native.exists(_._6 == 0L), "the reps_used=0 group must appear")
    // and at the production rep count on real-ish data
    val native64 = canon(Corpus.bootstrapMeanCI(df, "g", "v", "doc_id",
      reps = 64, alpha = 0.05))
    val exploded64 = canon(Corpus.bootstrapMeanCIExploded(df, "g", "v",
      "doc_id", reps = 64, alpha = 0.05))
    assert(native64 == exploded64)
  }

  test("bootstrapMeanCI plan: no Generate (explode) anywhere — the " +
      "draws happen inside the aggregate") {
    import graft.operators.Corpus
    val df = spark.range(100).select(col("id").as("doc_id"),
      lit("g").as("g"), (col("id") % 7).cast("long").as("v"))
    val p = Corpus.bootstrapMeanCI(df, "g", "v", "doc_id", reps = 64)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), p)
    assert(p.contains("graft_bootstrap_pairs"), p)
  }

  // ---- X198 hashed linear classifier ----

  test("hashed classifier: separable tokens train to the right sign, " +
      "scoring is shuffle-free through the native kernel") {
    import graft.operators.Classify
    // range-based (not a LocalRelation) so the scoring projection
    // stays in the plan for the shuffle-free pin below
    val docs = spark.range(1, 401).select(
      col("id").as("doc_id"),
      when(col("id") % 2 === 0,
          concat(lit("good solid clean text number "), col("id")))
        .otherwise(concat(lit("bad spam junk noise number "), col("id")))
        .as("text"),
      when(col("id") % 2 === 0, 1L).otherwise(0L).as("label"))
    val w = Classify.trainHashedLogOdds(docs.where(col("doc_id") <= 300),
      "text", "label", buckets = 1024)
    val scored = Classify.scoreHashedLogOdds(
      docs.where(col("doc_id") > 300), "text", w, buckets = 1024)
    val got = scored.select(col("label"), col("logit_fp")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    got.foreach { case (label, logit) =>
      if (label == 1L) assert(logit > 0, s"positive doc scored $logit")
      else assert(logit < 0, s"negative doc scored $logit")
    }
    val p = scored.queryExecution.executedPlan.toString
    assert(p.contains("graft_hashed_score"), p)
    assert(!p.contains("Exchange"), p) // scoring never shuffles the corpus
  }

  // ---- X199 incremental near-dup dedup ----

  test("incrementalNearDedup: re-fetches and near-dups of HISTORY drop, " +
      "novel and sub-shingle docs pass, survivors join the store") {
    import graft.operators.Dedup
    val store = tempDir("r13_nd") + "/store"
    val seed = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines here"))
      .toDF("doc_id", "text")
    val kept1 = Dedup.incrementalNearDedup(seed, "doc_id", "text", store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(1L, 2L)) // empty store: everything is novel
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // re-fetch of 1
      (11L, "the quick brown fox jumps over the lazy cat"), // near-dup (J≈0.55)
      (12L, "an entirely novel document with fresh words only"),
      (13L, "too short")) // < 3 tokens: no shingles, passes, not indexed
      .toDF("doc_id", "text")
    val kept2 = Dedup.incrementalNearDedup(batch, "doc_id", "text", store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(12L, 13L), kept2)
    // survivors were appended: re-feeding 12's text now drops it
    val batch3 = Seq((20L, "an entirely novel document with fresh words only"),
      (21L, "the quick brown fox jumps over the lazy cat")) // 11 was DROPPED, never stored -> still novel vs store? no: it near-dups doc 1's stored shingles
      .toDF("doc_id", "text")
    val kept3 = Dedup.incrementalNearDedup(batch3, "doc_id", "text", store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept3 == Set.empty[Long], kept3)
  }

  // ---- X200/X201 binary + truncated embeddings ----

  test("packSignBits / hammingI64 kernels: known bit patterns") {
    import graft.plans.NativeMath
    val df = Seq(
      (1L, Seq(1.0f, -2.0f, 0.0f, 3.0f), Seq(1.0f, 2.0f, -1.0f, 3.0f)))
      .toDF("id", "a", "b")
      .select(NativeMath.packSignBits(col("a")).as("pa"),
        NativeMath.packSignBits(col("b")).as("pb"),
        NativeMath.hammingI64(NativeMath.packSignBits(col("a")),
          NativeMath.packSignBits(col("b"))).as("ham"))
    val r = df.collect().head
    // a: bits {0, 3} set (1.0, 3.0 positive; -2.0 and 0.0 are not)
    assert(r.getSeq[Long](0) == Seq(9L), r.getSeq[Long](0))
    // b: bits {0, 1, 3} set
    assert(r.getSeq[Long](1) == Seq(11L), r.getSeq[Long](1))
    assert(r.getLong(2) == 1L) // differ only at bit 1
    // 65-dim vector packs into two words
    val wide = Seq((1L, (0 until 65).map(i => if (i == 64) 1.0f else -1.0f)))
      .toDF("id", "v")
      .select(NativeMath.packSignBits(col("v")).as("p"))
      .collect().head.getSeq[Long](0)
    assert(wide == Seq(0L, 1L), wide)
  }

  test("binaryHammingTopK: recall@10 vs the exact top-10 clears the " +
      "contract floor on the real embeddings (shortlist 64)") {
    import graft.operators.Similarity
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val probes = vecs.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(vecs, probes, "vec_id",
        "embedding", k = 10)
      .select(col("probe_id"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bin = Similarity.binaryHammingTopK(vecs, probes, "vec_id",
        "embedding", k = 10, shortlist = 64)
      .select(col("probe_id"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect bin).size.toDouble / exact.size
    assert(recall >= 0.6, s"binary recall $recall < 0.6 (measured 0.74)")
  }

  test("truncationRecallCurve: the full-prefix curve point is exact " +
      "recall 1.0 and shorter prefixes stay in (0, 1]") {
    import graft.operators.Similarity
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val probes = vecs.where(col("vec_id") < 8)
    val got = Similarity.truncationRecallCurve(vecs, probes, "vec_id",
        "embedding", dims = Seq(8, 64), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(64L) == 1.0, got) // 64 = the full dimension: identical ranks
    assert(got(8L) > 0.0 && got(8L) <= 1.0, got)
  }

  // ---- X202 stripHtml / X203 chunkByTokens ----

  test("stripHtml: blocks drop whole, tags strip, entities decode in " +
      "the standard order, whitespace collapses") {
    import graft.functions.text
    val cases = Seq(
      ("<p>hello <b>world</b></p>", "hello world"),
      ("<script>if (a < b && c > d) { x(); }</script>ok", "ok"),
      ("<style type=\"text/css\">p { }</style>body", "body"),
      ("a<!-- hidden <b>bold</b> -->b", "a b"),
      ("x &amp;lt; y", "x &lt; y"), // &amp; decodes LAST: literal &lt;
      ("5 &lt; 6 &amp;&amp; 7 &gt; 2", "5 < 6 && 7 > 2"),
      ("a&nbsp;&nbsp;b", "a b"),
      ("<div\nclass='x'>multi\nline</div>", "multi line"))
    val got = cases.map(_._1).toDF("h")
      .select(text.stripHtml(col("h")).as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), got.zip(cases.map(_._2)))
  }

  test("chunkByTokens: full coverage with exact overlap, edge sizes, " +
      "empty docs emit nothing") {
    import graft.operators.Select
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, mk(10)), (2L, mk(8)), (3L, mk(9)), (4L, ""),
      (5L, mk(21))).toDF("doc_id", "text")
    val ch = Select.chunkByTokens(df, "doc_id", "text",
        chunkSize = 8, overlap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
      .sortBy(t => (t._1, t._2))
    // doc 2 (n == chunkSize): exactly one chunk
    assert(ch.filter(_._1 == 2L).map(_._3).toSeq == Seq(8L))
    // doc 3 (n == chunkSize + 1): two chunks, second starts at step=5
    assert(ch.filter(_._1 == 3L).map(c => (c._2, c._3)).toSeq ==
      Seq((0L, 8L), (1L, 4L)))
    // doc 4 (empty): zero chunks
    assert(!ch.exists(_._1 == 4L))
    // coverage invariant: chunk k starts at k*step; dropping each
    // later chunk's first `overlap` tokens reconstructs the original
    for (id <- Seq(1L, 3L, 5L)) {
      val orig = df.where(col("doc_id") === id).collect()
        .head.getString(1).split(" ").filter(_.nonEmpty).toSeq
      val chunks = ch.filter(_._1 == id).sortBy(_._2)
        .map(_._4.split(" ").toSeq)
      // chunk k starts at k*step — its first `overlap` tokens are
      // exactly the previous chunk's last tokens at those positions
      chunks.zipWithIndex.foreach { case (c, k) =>
        assert(c == orig.slice(k * 5, k * 5 + 8), s"doc $id chunk $k")
      }
      // full coverage: the last chunk reaches the final token
      assert(chunks.size * 5 + 8 - 5 >= orig.length, s"doc $id coverage")
    }
  }

  // ---- X208 bloom-gated decontamination ----

  test("decontaminateBloom is result-identical to decontaminate " +
      "(one-sided error: false positives settle at the exact join)") {
    import graft.operators.Dedup
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.where(col("doc_id") % 23 =!= 0)
    val evalD = docs.where(col("doc_id") % 23 === 0)
    def canon(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), col("eval_hits"), col("contaminated"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    val exact = canon(Dedup.decontaminate(corpus, evalD, "doc_id",
      "text", n = 8))
    val bloom = canon(Dedup.decontaminateBloom(corpus, evalD, "doc_id",
      "text", n = 8, fpp = 0.05)) // aggressive fpp: parity must hold anyway
    assert(bloom == exact)
    assert(exact.exists(_._3), "fixture has no contamination to detect")
  }

  // ---- X204 group-aware splits ----

  test("assignSplitsByGroup: a group never straddles splits, fractions " +
      "land near target, and string group keys hash portably") {
    import graft.operators.Mix
    val df = spark.range(6000).select(
      col("id").as("doc_id"),
      concat(lit("grp"), pmod(col("id"), lit(997))).as("g"))
    val out = Mix.assignSplitsByGroup(df, "g",
      Seq(("train", 0.5), ("val", 0.25), ("test", 0.25)), seed = 3L)
    // group integrity: one distinct split per group
    val maxSplits = out.groupBy(col("g"))
      .agg(countDistinct(col("split")).as("k"))
      .agg(max(col("k"))).collect().head.getLong(0)
    assert(maxSplits == 1L)
    // fractions: each split holds a material share (hash balance)
    val shares = out.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(shares.keySet == Set("train", "val", "test"), shares)
    assert(shares("train") > 2000 && shares("val") > 800 &&
      shares("test") > 800, shares)
    // determinism across re-evaluation
    val again = Mix.assignSplitsByGroup(df, "g",
        Seq(("train", 0.5), ("val", 0.25), ("test", 0.25)), seed = 3L)
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == shares)
  }

  // ---- Graft.stage checkpoint dir (round-13 ADVICE) ----

  test("Graft.stage honors a spark.graft.checkpointDir change between " +
      "calls (reliable path)") {
    val tmp = tempDir("r13_ckpt")
    val dirA = s"$tmp/a"
    val dirB = s"$tmp/b"
    try {
      spark.conf.set("spark.graft.reliableCheckpoint", "true")
      spark.conf.set("spark.graft.checkpointDir", dirA)
      Graft.stage(spark.range(10).toDF("id")).count()
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(dirA)))
      spark.conf.set("spark.graft.checkpointDir", dirB)
      Graft.stage(spark.range(10).toDF("id")).count()
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(dirB)))
    } finally {
      spark.conf.unset("spark.graft.reliableCheckpoint")
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }
}
