package graft

import org.apache.spark.sql.functions._

import graft.functions.ch

/** Round-11 second-wave pins: the CH time-series family (X180).
  *
  *  - seriesOutliersDetectTukey: exact fence arithmetic (type-7
  *    quantiles), signed distance outside / 0.0 inside, the n >= 4
  *    contract, custom percentile parameters, parameter validation.
  *  - seriesPeriodDetectFFT: planted-period recovery (divisible and
  *    non-divisible n), constant-series 0.0 sentinel, n >= 4 contract.
  *  - seriesDecomposeSTL: four-array shape, bit-exact periodicity of
  *    the seasonal component, additive reconstruction, the p >= 2 and
  *    n >= 2p NULL contracts.
  */
class Round11bSpec extends SparkSpec {
  import spark.implicits._

  private def series(xs: Seq[Double]) = typedLit(xs)

  private def one[T](c: org.apache.spark.sql.Column): T =
    spark.range(1).select(c.as("v")).collect().head.getAs[T]("v")

  private def oneSeq(c: org.apache.spark.sql.Column): Seq[Double] =
    spark.range(1).select(c.as("v")).collect().head.getSeq[Double](0).toVector

  private def oneSeqSeq(c: org.apache.spark.sql.Column): Seq[Seq[Double]] =
    spark.range(1).select(c.as("v")).collect().head
      .getSeq[scala.collection.Seq[Double]](0).map(_.toVector).toVector

  // ---- seriesOutliersDetectTukey ----

  test("tukey: inliers score 0.0, outliers score the signed distance " +
      "past the fence") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 100.0)
    val sc = oneSeq(ch.seriesOutliersDetectTukey(series(xs)))
    // sorted = xs; q1 = 2.25, q3 = 4.75 (type-7), iqr = 2.5,
    // fences [-1.5, 8.5]: only 100 is out, by 91.5
    assert(sc.take(5).forall(_ == 0.0), sc)
    assert(math.abs(sc(5) - 91.5) < 1e-12, sc)
  }

  test("tukey: low outliers score negative") {
    val xs = Seq(-100.0, 1.0, 2.0, 3.0, 4.0, 5.0)
    val sc = oneSeq(ch.seriesOutliersDetectTukey(series(xs)))
    assert(sc.head < 0.0, sc)
    assert(sc.drop(1).forall(_ == 0.0), sc)
  }

  test("tukey: series shorter than 4 is NULL") {
    val r = spark.range(1)
      .select(ch.seriesOutliersDetectTukey(
        series(Seq(1.0, 2.0, 3.0))).as("v"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("tukey: wider percentiles and k=3 keep the same planted spikes") {
    val xs = (0 until 24).map(i => (i % 7).toDouble +
      (if (i == 11) 100.0 else 0.0) + (if (i == 17) -100.0 else 0.0))
    val sc = oneSeq(
      ch.seriesOutliersDetectTukey(series(xs), 0.1, 0.9, 3.0))
    assert(sc.count(_ != 0.0) == 2, sc)
    assert(sc(11) > 0 && sc(17) < 0, sc)
  }

  test("tukey: invalid percentile parameters are rejected loudly") {
    intercept[IllegalArgumentException] {
      ch.seriesOutliersDetectTukey(series(Seq(1.0)), 0.9, 0.1, 1.5)
    }
  }

  // ---- seriesPeriodDetectFFT ----

  test("fft: recovers a planted sawtooth period, n divisible") {
    for (p <- Seq(3, 4, 5, 7)) {
      val xs = (0 until p * 12).map(i => (i % p).toDouble * 10)
      assert(one[Double](ch.seriesPeriodDetectFFT(series(xs))) ==
        p.toDouble, s"period $p")
    }
  }

  test("fft: recovers a sinusoid period with non-divisible tail") {
    // period 6 over n = 30 (k* = 5): clean; the estimator returns n/k*
    val xs = (0 until 30).map(i => math.sin(2 * math.Pi * i / 6.0))
    assert(one[Double](ch.seriesPeriodDetectFFT(series(xs))) == 6.0)
  }

  test("fft: constant series -> 0.0, short series -> NULL") {
    assert(one[Double](ch.seriesPeriodDetectFFT(
      series(Seq.fill(16)(5.0)))) == 0.0)
    val r = spark.range(1)
      .select(ch.seriesPeriodDetectFFT(series(Seq(1.0, 2.0, 3.0))).as("v"))
      .collect().head
    assert(r.isNullAt(0))
  }

  // ---- seriesDecomposeSTL ----

  test("stl: seasonal repeats with period p BIT-exactly, and " +
      "baseline + residual reconstructs the series") {
    val p = 4
    val xs = (0 until p * 10).map(i => (i % p).toDouble * 10 + i * 0.5)
    val d = oneSeqSeq(ch.seriesDecomposeSTL(series(xs), lit(p)))
    assert(d.length == 4)
    val Seq(seasonal, trend, resid, baseline) = d
    assert(seasonal.length == xs.length && trend.length == xs.length)
    // per-phase construction => exact equality across cycles
    for (i <- 0 until xs.length - p)
      assert(seasonal(i) == seasonal(i + p), s"phase drift at $i")
    for (i <- xs.indices) {
      assert(baseline(i) == seasonal(i) + trend(i))
      assert(math.abs(baseline(i) + resid(i) - xs(i)) < 1e-9)
    }
  }

  test("stl: seasonal component sums to ~zero over the phase means") {
    val p = 5
    val xs = (0 until p * 8).map(i => (i % p).toDouble * 3 + 100.0)
    val d = oneSeqSeq(ch.seriesDecomposeSTL(series(xs), lit(p)))
    val phaseSum = d.head.take(p).sum // one seasonal cycle
    assert(math.abs(phaseSum) < 1e-9, phaseSum)
  }

  test("stl: p < 2 or n < 2p -> NULL") {
    val xs = series((0 until 10).map(_.toDouble))
    val r = spark.range(1).select(
      ch.seriesDecomposeSTL(xs, lit(1)).as("a"),
      ch.seriesDecomposeSTL(xs, lit(6)).as("b")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  // ---- PASTE JOIN (X181) ----

  test("paste join: zips two ordered subqueries by rank and truncates " +
      "to the shorter side") {
    val r = spark.sql("""
      SELECT a.x, b.y FROM
        (SELECT id AS x FROM range(5) ORDER BY x) AS a
      PASTE JOIN
        (SELECT id * 10 AS y FROM range(3) ORDER BY y DESC) AS b
      ORDER BY a.x
    """).collect()
    assert(r.length == 3) // min-length truncation
    assert(r.map(w => (w.getLong(0), w.getLong(1))).toSeq ==
      Seq((0L, 20L), (1L, 10L), (2L, 0L)))
  }

  test("paste join: a side without ORDER BY raises the dialect's " +
      "contract error, not a grammar error or a silent cartesian") {
    val e = intercept[Exception] {
      spark.sql("""
        SELECT * FROM (SELECT id FROM range(3)) AS a
        PASTE JOIN (SELECT id FROM range(3) ORDER BY id) AS b
      """).collect()
    }
    assert(e.getMessage.contains("PASTE JOIN"), e.getMessage)
    assert(e.getMessage.contains("ORDER BY"), e.getMessage)
  }

  test("paste join: a missing alias raises the contract error") {
    val e = intercept[Exception] {
      spark.sql("""
        SELECT * FROM (SELECT id FROM range(3) ORDER BY id)
        PASTE JOIN (SELECT id FROM range(3) ORDER BY id) AS b
      """).collect()
    }
    assert(e.getMessage.contains("AS alias"), e.getMessage)
  }

  test("paste join: a side with LIMIT pastes the limited result") {
    val r = spark.sql("""
      SELECT a.x, b.y FROM
        (SELECT id AS x FROM range(10) ORDER BY x DESC LIMIT 4) AS a
      PASTE JOIN
        (SELECT id AS y FROM range(4) ORDER BY y) AS b
      ORDER BY a.x DESC
    """).collect()
    assert(r.map(w => (w.getLong(0), w.getLong(1))).toSeq ==
      Seq((9L, 0L), (8L, 1L), (7L, 2L), (6L, 3L)))
  }

  // ---- dialect fill #4 (X182) ----

  test("nonNegativeDerivative: per-second rate, clamped at 0, first " +
      "row and resets give 0") {
    val df = Seq((1, 0.0, 10.0), (2, 2.0, 30.0), (3, 4.0, 20.0),
      (4, 8.0, 28.0)).toDF("id", "t", "v")
    df.createOrReplaceTempView("nnd_src")
    val r = spark.sql("""
      SELECT id, nonNegativeDerivative(v, t)
               OVER (ORDER BY t) AS d,
             nonNegativeDerivative(v, t, 4)
               OVER (ORDER BY t) AS d4
      FROM nnd_src ORDER BY id""").collect()
    assert(r.map(_.getDouble(1)).toSeq == Seq(0.0, 10.0, 0.0, 2.0))
    assert(r.map(_.getDouble(2)).toSeq == Seq(0.0, 40.0, 0.0, 8.0))
  }

  test("nonNegativeDerivative: INTERVAL literal argument") {
    val r = spark.sql("""
      SELECT nonNegativeDerivative(CAST(id * 2 AS DOUBLE),
               CAST(id AS DOUBLE), INTERVAL 10 SECOND)
             OVER (ORDER BY id) AS d
      FROM range(3) ORDER BY id""").collect()
    assert(r.map(_.getDouble(0)).toSeq == Seq(0.0, 20.0, 20.0))
  }

  test("groupArrayIntersect: sorted intersection; all-NULL group NULL") {
    val r = spark.sql("""
      SELECT groupArrayIntersect(a) AS g FROM VALUES
        (array(3, 1, 2)), (array(2, 3, 9)), (array(2, 4, 3)) t(a)
    """).collect().head
    assert(r.getSeq[Int](0) == Seq(2, 3))
    val n = spark.sql(
      "SELECT groupArrayIntersect(CAST(NULL AS ARRAY<INT>)) FROM range(2)")
      .collect().head
    assert(n.isNullAt(0))
  }

  test("sumWithOverflow wraps at Int64 like two's complement") {
    val r = spark.sql("""
      SELECT sumWithOverflow(x) AS s FROM VALUES
        (9223372036854775807L), (1L), (5L) t(x)
    """).collect().head
    assert(r.getLong(0) == Long.MinValue + 5L)
    // no-overflow groups are a plain exact sum
    val p = spark.sql(
      "SELECT sumWithOverflow(id) AS s FROM range(100)").collect().head
    assert(p.getLong(0) == 4950L)
  }

  test("tokens: maximal alphanumeric-ASCII runs, empties dropped") {
    val r = spark.sql(
      """SELECT tokens('ab, c9--x_7 !') AS t""").collect().head
    assert(r.getSeq[String](0) == Seq("ab", "c9", "x", "7"))
  }

  test("unixTimestamp64 family round-trips and truncates nanos to µs") {
    val r = spark.sql("""
      SELECT toUnixTimestamp64Milli(TIMESTAMP '2024-03-01 12:30:45.123456')
               AS ms,
             toUnixTimestamp64Micro(TIMESTAMP '2024-03-01 12:30:45.123456')
               AS us,
             toUnixTimestamp64Nano(TIMESTAMP '2024-03-01 12:30:45.123456')
               AS ns,
             fromUnixTimestamp64Micro(toUnixTimestamp64Micro(
               TIMESTAMP '2024-03-01 12:30:45.123456'))
               = TIMESTAMP '2024-03-01 12:30:45.123456' AS rt,
             fromUnixTimestamp64Nano(1709296245123456789L)
               = fromUnixTimestamp64Micro(1709296245123456L) AS nrt
    """).collect().head
    assert(r.getLong(1) == r.getLong(0) * 1000L + 456L)
    assert(r.getLong(2) == r.getLong(1) * 1000L)
    assert(r.getBoolean(3) && r.getBoolean(4))
  }

  test("day-number conversions: CH's year-zero anchor and MJD") {
    val r = spark.sql("""
      SELECT toDaysSinceYearZero(DATE '1970-01-01') AS d0,
             toModifiedJulianDay(DATE '1858-11-17') AS mj0,
             toModifiedJulianDay(DATE '2024-01-01') AS mj,
             fromModifiedJulianDay(toModifiedJulianDay(
               DATE '2024-06-15')) = DATE '2024-06-15' AS rt
    """).collect().head
    assert(r.getInt(0) == 719528) // the CH-pinned anchor value
    assert(r.getInt(1) == 0)
    assert(r.getInt(2) == 60310)
    assert(r.getBoolean(3))
  }

  test("timeSlots: slot grid covers [start, start+duration] inclusive") {
    val r = spark.sql("""
      SELECT timeSlots(TIMESTAMP '2024-01-01 10:17:00', 1800) AS s,
             size(timeSlots(TIMESTAMP '2024-01-01 10:00:00', 3600, 600))
               AS n
    """).collect().head
    val slots = r.getSeq[java.sql.Timestamp](0)
    assert(slots.length == 2) // 10:00 and 10:30 cover 10:17..10:47
    assert(slots.head.toString.contains("10:00:00"))
    assert(slots(1).toString.contains("10:30:00"))
    assert(r.getInt(1) == 7) // 10:00..11:00 on a 600 s grid, inclusive
  }

  // ---- cluster-balanced curation (X183) ----

  test("clusterBalancedSample: every cluster capped at the quota, " +
      "draw deterministic, assignment a pure projection") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val vecs = Graft.table(spark, dir, "embeddings")
    val cents = Similarity.seedCentroids(vecs, "vec_id", "embedding", 7)
    val s1 = Similarity.clusterBalancedSample(vecs, "vec_id",
      "embedding", cents, quota = 5)
    val byCell = s1.groupBy("cell").count().collect()
    assert(byCell.forall(_.getLong(1) <= 5L), byCell.mkString(","))
    // deterministic: same ids both runs
    val ids1 = s1.select("vec_id").collect().map(_.getLong(0)).sorted
    val ids2 = Similarity.clusterBalancedSample(vecs, "vec_id",
      "embedding", cents, quota = 5)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(ids1.sameElements(ids2))
    // exact per-cluster size: min(quota, |cluster|)
    val pop = Similarity.clusterAssign(vecs, "vec_id", "embedding", cents)
      .groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = byCell.map(r => r.getLong(0) -> r.getLong(1)).toMap
    pop.foreach { case (cell, n) =>
      assert(got.getOrElse(cell, 0L) == math.min(5L, n),
        s"cell $cell: pop $n, sampled ${got.getOrElse(cell, 0L)}")
    }
    // the assignment itself never shuffles: a pure projection plan
    val ap = Similarity.clusterAssign(vecs, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!ap.contains("Exchange") && !ap.contains("Join"), ap)
  }

  // ---- idempotent backfill (X184) ----

  test("backfill: untouched week partitions keep their PHYSICAL files; " +
      "the target week is replaced, not appended") {
    import graft.sources.Warehouse
    import graft.functions.ch
    val dir = "/root/testdata/sf0.001"
    val out = tempDir("r11b_backfill")
    val ev = Graft.table(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    Warehouse.write(ev, out, "ts", Seq("event_id"))
    val weeks = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("week=")).map(_.getName).sorted
    assert(weeks.length >= 2, weeks.mkString(","))
    val target = weeks.head.stripPrefix("week=")
    val other = weeks.last
    def snapshot(week: String): Seq[(String, Long, Long)] =
      new java.io.File(s"$out/$week").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).sorted.toSeq
    val otherBefore = snapshot(other)
    val targetBefore = snapshot(s"week=$target")
    val fixed = ev
      .filter(ch.toMonday(col("ts")) === to_date(lit(target)))
      .withColumn("value", col("value") * 2)
    val nFixed = fixed.count()
    assert(nFixed > 0)
    Warehouse.backfill(fixed, out, "ts", Seq("event_id"))
    // non-target week: byte-identical files, untouched mtimes
    assert(snapshot(other) == otherBefore)
    // target week: physically rewritten
    assert(snapshot(s"week=$target") != targetBefore)
    // idempotent rerun: row count stays exactly the week's population
    Warehouse.backfill(fixed, out, "ts", Seq("event_id"))
    val back = Warehouse.read(spark, out)
    assert(back.filter(col("week") === to_date(lit(target))).count()
      == nFixed)
    assert(back.count() == ev.count())
  }

  // ---- BPE decode (X186) ----

  test("decodeTokens inverts any segmentation: pieces concat to " +
      "words, markers to single spaces") {
    import graft.operators.Bpe
    val r = spark.range(1).select(Bpe.decodeTokens(typedLit(Seq(
      "he", "ll", "o", "</w>", "wor", "ld</w>", "x</w>"))).as("d"))
      .collect().head.getString(0)
    assert(r == "hello world x")
    // empty stream -> empty text
    val e = spark.range(1)
      .select(Bpe.decodeTokens(typedLit(Seq.empty[String])).as("d"))
      .collect().head.getString(0)
    assert(e == "")
  }

  // ---- system.functions (X187) ----

  test("system.functions lists the dialect registry, alphabetical " +
      "and duplicate-free") {
    val rows = spark.sql(
      "SELECT name, origin FROM system.functions").collect()
    val names = rows.map(_.getString(0)).toSeq
    assert(names == names.sorted, "not alphabetical")
    assert(names.distinct.size == names.size, "duplicates")
    assert(names.size >= 400, s"registry unexpectedly small: ${names.size}")
    assert(rows.forall(_.getString(1) == "ChDialect"))
    // this round's additions are visible
    Seq("seriesDecomposeSTL", "timeSlots", "groupArrayIntersect",
      "tokens").foreach(n => assert(names.contains(n), n))
  }

  // ---- native IVF probe ranking (round-11 perf) ----

  test("native topCells equals the combinator probe ranking, " +
      "cell-for-cell, including ties and zero norms") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val vecs = Graft.table(spark, dir, "embeddings")
    val cents = Similarity.seedCentroids(vecs, "vec_id", "embedding", 9)
    val both = vecs.select(col("vec_id"),
      graft.plans.NativeMath.topCells(col("embedding"), cents, 4)
        .as("nat"),
      Similarity.probeCellsColumn(col("embedding"), cents, 4).as("ref"))
    val bad = both.filter(not(col("nat") === col("ref"))).count()
    assert(bad == 0L)
    // zero vector: all sims 0.0, ranking falls to centroid id order
    val z = spark.range(1).select(graft.plans.NativeMath.topCells(
      typedLit(Seq.fill(cents.head._2.length)(0.0)), cents, 3).as("v"))
      .collect().head.getSeq[Long](0)
    assert(z == cents.map(_._1).sorted.take(3).toSeq)
  }

  // ---- retrieval-run evaluation (X189) ----

  test("evalRanking: multi-gold metrics match the hand-computed " +
      "values; no-hit queries score zero") {
    import graft.operators.Retrieval
    // query 1: gold {10,20,30}, hits at ranks 2 and 5 (docs 10, 20)
    // query 2: gold {40}, no hits in the run
    val runs = Seq(
      (1L, 99L, 1L), (1L, 10L, 2L), (1L, 98L, 3L), (1L, 97L, 4L),
      (1L, 20L, 5L),
      (2L, 96L, 1L), (2L, 95L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val gold = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 40L))
      .toDF("query_id", "doc_id")
    val r = Retrieval.evalRanking(runs, gold, k = 10)
      .orderBy("query_id").collect()
    val q1 = r(0)
    assert(q1.getLong(1) == 3L && q1.getLong(2) == 2L)
    assert(math.abs(q1.getDouble(3) - 2.0 / 3) < 1e-12)     // recall
    assert(math.abs(q1.getDouble(4) - 0.5) < 1e-12)          // mrr
    // AP = (1/2 + 2/5) / min(3, 10) = 0.3
    assert(math.abs(q1.getDouble(5) - 0.3) < 1e-12)
    // nDCG = (d2 + d5) / (d1 + d2 + d3)
    def d(i: Int) = 1.0 / (math.log(i + 1.0) / math.log(2.0))
    assert(math.abs(q1.getDouble(6) - (d(2) + d(5)) / (d(1) + d(2) + d(3)))
      < 1e-12)
    val q2 = r(1)
    assert(q2.getLong(2) == 0L)
    assert(Seq(3, 4, 5, 6).forall(i => q2.getDouble(i) == 0.0))
  }

  test("series functions resolve through the SQL surface") {
    val r = spark.sql("""
      SELECT seriesPeriodDetectFFT(transform(sequence(0, 23),
               i -> CAST(i % 4 AS DOUBLE))) AS p,
             size(seriesOutliersDetectTukey(transform(sequence(0, 11),
               i -> CAST(i AS DOUBLE)))) AS n,
             size(seriesDecomposeSTL(transform(sequence(0, 23),
               i -> CAST(i % 4 AS DOUBLE)), 4)) AS d
    """).collect().head
    assert(r.getDouble(0) == 4.0 && r.getInt(1) == 12 && r.getInt(2) == 4)
  }
}
