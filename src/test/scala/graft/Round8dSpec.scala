package graft

import org.apache.spark.sql.functions._

import graft.functions.ch

/** Round-8 fifth wave: interval-sweep aggregates (X109), ordered
  * moving-window group arrays + groupBit folds (X110), entropy (X111),
  * and the KMV uniqTheta sketch (X112).
  */
class Round8dSpec extends SparkSpec {
  import spark.implicits._

  private def intervals(rows: (Long, Long)*) =
    rows.toDF("s", "e")

  test("intervalLengthSum counts overlap once, gaps not at all, and " +
      "ignores empty/inverted intervals") {
    // [0,10) ∪ [5,15) ∪ [20,25) = 15 + 5; [30,30) and [40,35) add 0
    val df = intervals((0L, 10L), (5L, 15L), (20L, 25L),
      (30L, 30L), (40L, 35L))
    val got = df.agg(ch.intervalLengthSum($"s", $"e")).as[Long].head()
    assert(got == 20L)
  }

  test("intervalLengthSum: an interval nested inside another adds " +
      "nothing, and the frontier survives it") {
    // [0,100) ∪ [10,20) ∪ [90,150): nested adds 0, the third extends 50
    val df = intervals((0L, 100L), (10L, 20L), (90L, 150L))
    val got = df.agg(ch.intervalLengthSum($"s", $"e")).as[Long].head()
    assert(got == 150L)
  }

  test("maxIntersections treats intervals as half-open: touching " +
      "endpoints do not overlap") {
    // [0,10) and [10,20) never coexist; with [5,12) the peak is 2
    val df = intervals((0L, 10L), (10L, 20L), (5L, 12L))
    val got = df.agg(ch.maxIntersections($"s", $"e")).as[Long].head()
    assert(got == 2L)
  }

  test("maxIntersectionsPosition is the LEFTMOST position reaching " +
      "the peak") {
    // peak 2 is reached first at 5 ([0,10)+[5,12)), again at 15 — the
    // strict-> fold keeps 5
    val df = intervals((0L, 10L), (5L, 12L), (15L, 30L), (16L, 25L))
    val got = df.agg(ch.maxIntersectionsPosition($"s", $"e"))
      .as[Long].head()
    assert(got == 5L)
  }

  test("maxIntersections of an empty group is 0") {
    val df = intervals((5L, 5L)) // degenerate only
    assert(df.agg(ch.maxIntersections($"s", $"e")).as[Long].head() == 0L)
    assert(df.agg(ch.maxIntersectionsPosition($"s", $"e"))
      .as[Long].head() == 0L)
  }

  test("groupArrayMovingSum windows over the explicit ordering, not " +
      "encounter order") {
    // rows deliberately out of order; ord sorts them 1..5, x = ord*10
    val df = Seq((3L, 30L), (1L, 10L), (5L, 50L), (2L, 20L), (4L, 40L))
      .toDF("o", "x")
    val k2 = df.agg(ch.groupArrayMovingSum(Some(2), $"x", $"o"))
      .as[Seq[Long]].head()
    assert(k2 == Seq(10L, 30L, 50L, 70L, 90L))
    val all = df.agg(ch.groupArrayMovingSum(None, $"x", $"o"))
      .as[Seq[Long]].head()
    assert(all == Seq(10L, 30L, 60L, 100L, 150L))
  }

  test("groupArrayMovingAvg divides by the FULL window while it fills " +
      "(CH's always-k divisor)") {
    val df = Seq((1L, 4L), (2L, 8L), (3L, 12L)).toDF("o", "x")
    val got = df.agg(ch.groupArrayMovingAvg(4, $"x", $"o"))
      .as[Seq[Double]].head()
    assert(got == Seq(1.0, 3.0, 6.0)) // 4/4, 12/4, 24/4
  }

  test("entropy: uniform two-value split is exactly 1 bit, single " +
      "value 0 bits, and the empty group 0") {
    val two = Seq("a", "a", "b", "b").toDF("x")
    assert(math.abs(two.agg(ch.entropy($"x")).as[Double].head() - 1.0)
      < 1e-12)
    val one = Seq("z", "z", "z").toDF("x")
    assert(one.agg(ch.entropy($"x")).as[Double].head() == 0.0)
    val none = Seq.empty[String].toDF("x")
    assert(none.agg(ch.entropy($"x")).as[Double].head() == 0.0)
  }

  test("entropy of a 3:1 split matches the closed form") {
    val df = Seq("a", "a", "a", "b").toDF("x")
    val expect = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25)) /
      math.log(2.0)
    assert(math.abs(df.agg(ch.entropy($"x")).as[Double].head() - expect)
      < 1e-9)
  }

  test("uniqTheta is exact below k and a pure function of the value " +
      "SET above it (order/duplication invariant)") {
    import graft.plans.UniqThetaAgg
    import org.apache.spark.sql.GraftSqlBridge
    def theta(df: org.apache.spark.sql.DataFrame, k: Int): Long = {
      val e = GraftSqlBridge.expression(col("v").cast("string"))
      df.agg(GraftSqlBridge.column(
        UniqThetaAgg(e, k).toAggregateExpression())).as[Long].head()
    }
    val small = (1 to 100).map(_.toString).toDF("v")
    assert(theta(small, 256) == 100L)
    val big = (1 to 5000).map(_.toString).toDF("v")
    val est = theta(big, 256)
    // KMV with k=256 has ~1/sqrt(254) ≈ 6.3% sigma; 25% is 4 sigma
    assert(est > 3750 && est < 6250, s"estimate $est far from 5000")
    // estimator determinism: duplicated + shuffled input, same estimate
    val noisy = (scala.util.Random.shuffle((1 to 5000).toList) ++
      (1 to 2500)).map(_.toString).toDF("v").repartition(7)
    assert(theta(noisy, 256) == est)
  }

  test("uniqTheta hash48 equals the numeric value of the first 12 md5 " +
      "hex chars (the DuckDB replay contract)") {
    import graft.plans.UniqThetaAgg
    import org.apache.spark.unsafe.types.UTF8String
    for (s <- Seq("42", "hello", "", "Iñtërnâtiônàl")) {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_))
        .mkString
      assert(UniqThetaAgg.hash48(UTF8String.fromString(s)) ==
        java.lang.Long.parseLong(hex, 16))
    }
  }

  test("DISTINCT ON keeps the first row per key under the scope's " +
      "ORDER BY, and rewrites through the rank filter (no global " +
      "distinct)") {
    Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"), (2L, 7L, "d"))
      .toDF("k", "v", "tag").createOrReplaceTempView("don_t1")
    val df = spark.sql(
      "SELECT DISTINCT ON (k) k, v, tag FROM don_t1 ORDER BY k, v DESC")
    assert(df.as[(Long, Long, String)].collect().toSeq ==
      Seq((1L, 20L, "b"), (2L, 7L, "d")))
    // the plan carries the row_number rank filter shape the optimizer
    // turns into WindowGroupLimit — not an Aggregate-distinct
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("WindowGroupLimit") || phys.contains("Window"),
      s"expected a window rank-filter plan, got:\n$phys")
  }

  test("DISTINCT ON with multiple keys and no ORDER BY falls back to " +
      "keys-ascending (deterministic)") {
    Seq((1L, 1L, 9L), (1L, 1L, 9L), (1L, 2L, 8L), (2L, 1L, 7L))
      .toDF("a", "b", "v").createOrReplaceTempView("don_t2")
    val got = spark.sql(
      "SELECT DISTINCT ON (a, b) a, b, v FROM don_t2")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 9L), (1L, 2L, 8L), (2L, 1L, 7L)))
  }

  test("pointInPolygon: concave pentagon distinguishes even-odd from " +
      "a convex hull test") {
    val poly = "array(array(0.0D,0.0D), array(20.0D,5.0D), " +
      "array(10.0D,10.0D), array(20.0D,20.0D), array(0.0D,15.0D))"
    def hit(x: Double, y: Double): Long =
      spark.sql(s"SELECT pointInPolygon(${x}D, ${y}D, $poly) AS r")
        .as[Long].head()
    assert(hit(5.0, 7.5) == 1L)    // well inside
    assert(hit(25.0, 10.0) == 0L)  // right of everything
    // (17, 10) is inside the convex hull but inside the NOTCH between
    // the two right-pointing lobes -> outside for even-odd
    assert(hit(17.0, 10.0) == 0L)
    assert(hit(-1.0, 5.0) == 0L)   // left of the left edge
  }

  test("pointInPolygon closes the polygon (last->first edge counts)") {
    // triangle missing its closing edge in the list; a point whose ray
    // exits through that implied edge still resolves correctly
    val tri = "array(array(0.0D,0.0D), array(10.0D,0.0D), " +
      "array(0.0D,10.0D))"
    val got = spark.sql(s"SELECT pointInPolygon(2.0D, 2.0D, $tri) AS r")
      .as[Long].head()
    assert(got == 1L)
  }

  test("SummingMergeTree FINAL: sums listed columns, pins others to " +
      "the group min, keeps declared types, and drops all-zero rows") {
    val root = tempDir("smt_spec")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE metrica.smt_spec
        (
            `k` UInt32,
            `c` Int32,
            `amt` Float64,
            `tag` String
        )
        ENGINE = SummingMergeTree(c, amt)
        ORDER BY (k)""")
      spark.sql("""
        INSERT INTO smt_spec
        SELECT 1, CAST(2 AS INT), CAST(0.5 AS DOUBLE), 'b' UNION ALL
        SELECT 1, CAST(3 AS INT), CAST(1.5 AS DOUBLE), 'a' UNION ALL
        SELECT 2, CAST(4 AS INT), CAST(-1.0 AS DOUBLE), 'x' UNION ALL
        SELECT 3, CAST(1 AS INT), CAST(2.0 AS DOUBLE), 'y' UNION ALL
        SELECT 3, CAST(-1 AS INT), CAST(-2.0 AS DOUBLE), 'y'""")
      val got = spark.sql(
        "SELECT k, c, amt, tag FROM smt_spec FINAL ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
          r.getString(3))).toSeq
      // k=3 cancels to (0, 0.0) and is DROPPED; k=1 sums and takes
      // min tag 'a'; c stays Int32 (declared type survives the sum)
      assert(got == Seq((1L, 5, 2.0, "a"), (2L, 4, -1.0, "x")))
    } finally {
      spark.conf.unset("spark.graft.warehouse")
      FsUtil.rmTree(root)
    }
  }

  test("SummingMergeTree with no ENGINE column list sums every " +
      "numeric non-key column (CH's default sum set)") {
    val root = tempDir("smt_spec2")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE metrica.smt_spec2
        (
            `k` UInt32,
            `a` Int64,
            `b` Float64,
            `s` String
        )
        ENGINE = SummingMergeTree()
        ORDER BY (k)""")
      spark.sql("""
        INSERT INTO smt_spec2
        SELECT 7, CAST(10 AS BIGINT), CAST(0.25 AS DOUBLE), 'q' UNION ALL
        SELECT 7, CAST(20 AS BIGINT), CAST(0.75 AS DOUBLE), 'p'""")
      val got = spark.sql(
        "SELECT k, a, b, s FROM smt_spec2 FINAL")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).toSeq
      assert(got == Seq((7L, 30L, 1.0, "p")))
    } finally {
      spark.conf.unset("spark.graft.warehouse")
      FsUtil.rmTree(root)
    }
  }

  test("uniqTheta merges associatively across partitions (the " +
      "map-side-combine contract)") {
    import graft.plans.UniqThetaAgg
    val agg = UniqThetaAgg(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 8)
    def bufOf(vs: Seq[String]) = {
      val b = agg.createAggregationBuffer()
      vs.foreach { v =>
        val h = UniqThetaAgg.hash48(
          org.apache.spark.unsafe.types.UTF8String.fromString(v))
        // mirror update()'s add path through serialize round-trip
        b.add(h); while (b.size > 8) b.pollLast()
      }
      b
    }
    val all = (1 to 50).map(_.toString)
    val (l, r) = all.splitAt(23)
    val merged = agg.merge(bufOf(l), bufOf(r))
    val direct = bufOf(all)
    assert(agg.eval(merged) == agg.eval(direct))
    // serialize round-trip preserves the buffer exactly
    assert(agg.deserialize(agg.serialize(direct)).equals(direct))
  }
}
