package graft

import org.apache.spark.sql.functions._

/** Round-9 first wave: the ChProjectionRule hardening pass — filtered
  * aggregates, name-shadowing Projects, empty-base global counts, and
  * the empty-registry fast path (judge round-8 asks + ADVICE findings).
  */
class Round9Spec extends SparkSpec {
  import spark.implicits._

  private def mkTable(name: String): Unit = {
    spark.sql(s"""
      CREATE TABLE metrica.$name
      (
          `site` UInt32,
          `d` Date,
          `dev` String,
          `clicks` Int64,
          `amount` Float64
      )
      ENGINE = MergeTree
      PARTITION BY toMonday(d)
      ORDER BY (site, dev)
      SETTINGS index_granularity = 8192""")
    Seq(
      (1, "mob", 10L, 1.5), (1, "mob", 5L, 0.5), (1, "desk", 7L, 2.0),
      (2, "mob", 3L, 1.0), (2, "desk", 8L, 4.0), (2, "desk", 1L, 0.25))
      .toDF("s", "d", "c", "a").createOrReplaceTempView(s"${name}_src")
    spark.sql(s"""
      INSERT INTO $name
      SELECT CAST(s AS INT) AS site, DATE '2024-01-02' AS d, d AS dev,
             c AS clicks, CAST(a AS DOUBLE) AS amount
      FROM ${name}_src""")
  }

  private def withWarehouse[T](tag: String)(f: => T): T = {
    val root = tempDir(s"r9projspec_$tag")
    spark.conf.set("spark.graft.warehouse", root)
    try f finally {
      spark.conf.unset("spark.graft.warehouse")
      graft.plans.ChProjections.clear()
    }
  }

  test("sum(x) FILTER (WHERE …) is NOT answered from the projection — " +
      "the predicate has no stored partial (ADVICE high)") {
    withWarehouse("f") {
      mkTable("r9a")
      val expected = spark.sql("""
        SELECT site, sum(clicks) FILTER (WHERE dev = 'mob') AS mc
        FROM r9a GROUP BY site ORDER BY site""").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      spark.sql("""
        ALTER TABLE r9a ADD PROJECTION pf
        (SELECT site, sum(clicks), count() GROUP BY site)""")
      val q = spark.sql("""
        SELECT site, sum(clicks) FILTER (WHERE dev = 'mob') AS mc
        FROM r9a GROUP BY site ORDER BY site""")
      assert(!readsProjection(q),
        q.queryExecution.executedPlan.toString)
      assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        == expected)
      assert(expected == Seq((1L, 15L), (2L, 3L)))
      // the unfiltered sibling still rides the rewrite
      val plain = spark.sql(
        "SELECT site, sum(clicks) AS c FROM r9a GROUP BY site")
      assert(readsProjection(plain))
    }
  }

  test("a subquery alias shadowing a projection key name does NOT " +
      "rewrite — matching is by name, a renaming Project is unsafe " +
      "(ADVICE medium)") {
    withWarehouse("s") {
      mkTable("r9b")
      spark.sql("""
        ALTER TABLE r9b ADD PROJECTION ps
        (SELECT site, sum(clicks) GROUP BY site)""")
      // `dev AS site` shadows the real projection key: grouping by the
      // projection's site column here would be silently wrong
      val q = spark.sql("""
        SELECT site, sum(clicks) AS c
        FROM (SELECT dev AS site, clicks FROM r9b)
        GROUP BY site ORDER BY site""")
      assert(!readsProjection(q),
        q.queryExecution.executedPlan.toString)
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        == Seq(("desk", 16L), ("mob", 18L)))
      // a non-renaming column-subset subquery still rides the rewrite
      val ok = spark.sql("""
        SELECT site, sum(clicks) AS c
        FROM (SELECT site, clicks FROM r9b) GROUP BY site""")
      assert(readsProjection(ok))
    }
  }

  test("global count() answered from an EMPTY projection returns 0, " +
      "not NULL (ADVICE low)") {
    withWarehouse("e") {
      mkTable("r9c")
      spark.sql("""
        ALTER TABLE r9c ADD PROJECTION pe
        (SELECT site, sum(clicks), count() GROUP BY site)""")
      // empty the projection parquet in place (a DELETE that empties
      // the base collapses the base scan to a LocalRelation before the
      // rule sees it, so the NULL path needs the projection side empty
      // while the base still LOOKS scannable — exactly the stale-
      // rollup-after-mutation shape the staleness contract allows)
      val p = graft.plans.ChProjections.get("r9c", "pe").get.path
      val schema = spark.read.parquet(p).schema
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(p)
      spark.catalog.refreshByPath(p)
      val q = spark.sql("SELECT count(1) AS n FROM r9c")
      // optimizedPlan prints column lists, not paths — the stored
      // partial __p_cnt appearing at all proves the rewrite fired
      assert(q.queryExecution.optimizedPlan.toString.contains("__p_cnt"),
        "the global count must actually ride the projection rewrite " +
          "for this test to exercise the coalesce")
      val r = q.collect().head
      assert(!r.isNullAt(0), "count over empty projection must not be NULL")
      assert(r.getLong(0) == 0L)
    }
  }

  // ------------------------------------------------------------------
  // Partition-DDL crash safety (judge round-8 stretch ask): every
  // mutation's commit point is ONE atomic directory rename; any
  // observable intermediate state is either fully-previous or hidden
  // from partition discovery (dot-prefixed retire dirs). These tests
  // drive the interrupted-rename seams directly.

  private def mkWeeks(name: String): Seq[java.sql.Date] = {
    spark.sql(s"""
      CREATE TABLE metrica.$name
      (`uid` UInt64, `d` Date, `v` Int64)
      ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (uid)
      SETTINGS index_granularity = 8192""")
    Seq((1L, "2024-01-02", 10L), (2L, "2024-01-03", 20L),
        (3L, "2024-01-09", 30L), (4L, "2024-01-16", 40L))
      .toDF("u", "ds", "vv").createOrReplaceTempView(s"${name}_wsrc")
    spark.sql(s"""
      INSERT INTO $name
      SELECT u AS uid, CAST(ds AS DATE) AS d, vv AS v FROM ${name}_wsrc""")
    spark.sql(s"SELECT DISTINCT toMonday(d) AS w FROM $name ORDER BY w")
      .collect().map(_.getDate(0)).toSeq
  }

  test("DETACH PARTITION shelves a prior detached copy (_1 suffix) " +
      "instead of deleting it — colliding detached parts are DATA " +
      "(ADVICE low)") {
    withWarehouse("pd") {
      val weeks = mkWeeks("r9p1")
      val w = weeks.head.toString
      spark.sql(s"ALTER TABLE r9p1 DETACH PARTITION '$w'")
      // refill the same week, detach again → collision
      spark.sql("""
        INSERT INTO r9p1
        SELECT CAST(9 AS BIGINT) AS uid, DATE '2024-01-04' AS d,
               CAST(99 AS BIGINT) AS v""")
      spark.sql(s"ALTER TABLE r9p1 DETACH PARTITION '$w'")
      val b = graft.sources.Catalog.binding("r9p1").get
      val root = new java.io.File(b.path.stripSuffix("/") + "_detached")
      val names = root.listFiles().map(_.getName).sorted.toSeq
      assert(names == Seq(s"week=$w", s"week=${w}_1"), names.toString)
      // the FIRST detach's two rows live in the shelved _1 copy
      val shelved = spark.read.parquet(s"${root}/week=${w}_1")
      assert(shelved.count() == 2)
      val current = spark.read.parquet(s"${root}/week=$w")
      assert(current.count() == 1)
    }
  }

  test("a MOVE killed between the rename and the catalog refresh " +
      "leaves no half-attached week: the rename IS the commit point") {
    withWarehouse("pm") {
      val weeks = mkWeeks("r9p2")
      spark.sql("""
        CREATE TABLE metrica.r9p2_side
        (`uid` UInt64, `d` Date, `v` Int64)
        ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (uid)
        SETTINGS index_granularity = 8192""")
      val w = weeks.last.toString
      val src = graft.sources.Catalog.binding("r9p2").get
      val dst = graft.sources.Catalog.binding("r9p2_side").get
      // simulate the crash: perform MOVE's single rename by hand and
      // STOP — no refresh, no re-register (the killed-process state)
      val from = new java.io.File(src.path, s"week=$w")
      val to = new java.io.File(dst.path, s"week=$w")
      new java.io.File(dst.path).mkdirs()
      assert(from.renameTo(to))
      // the crashed process never refreshed; a RESTARTED session's
      // first read re-resolves the bindings — model that re-resolution
      spark.catalog.refreshByPath(src.path)
      spark.catalog.refreshByPath(dst.path)
      graft.sources.Catalog.register(spark, src)
      graft.sources.Catalog.register(spark, dst)
      // discovery on reread: week fully absent from source, fully
      // present in dest — never both, never partial
      assert(!spark.table("r9p2").select(expr("toMonday(d)"))
        .collect().map(_.get(0).toString).contains(w))
      assert(spark.table("r9p2_side").count() == 1)
      // re-running the interrupted MOVE fails CLEANLY (week no longer
      // in source), not half-applies
      val e = intercept[Exception] {
        spark.sql(
          s"ALTER TABLE r9p2 MOVE PARTITION '$w' TO TABLE r9p2_side")
      }
      assert(e.getMessage.contains("not present"), e.getMessage)
    }
  }

  test("DROP PARTITION's retire dir is dot-prefixed — a crash between " +
      "retire-rename and delete leaves nothing partition discovery " +
      "can see") {
    withWarehouse("pr") {
      val weeks = mkWeeks("r9p3")
      val w = weeks.head.toString
      val b = graft.sources.Catalog.binding("r9p3").get
      val before = spark.table("r9p3").count()
      // simulate the crash state: retire-rename done, delete never ran
      val live = new java.io.File(b.path, s"week=$w")
      val retired = new java.io.File(
        new java.io.File(b.path).getParentFile,
        s".${new java.io.File(b.path).getName}_retired_week=${w}_test")
      assert(live.renameTo(retired))
      // a restarted session re-resolves the binding on first read
      spark.catalog.refreshByPath(b.path)
      graft.sources.Catalog.register(spark, b)
      // the dot-dir is invisible to discovery; the table simply no
      // longer has the week — exactly DROP's committed end state
      val after = spark.table("r9p3").count()
      assert(after == before - 2, s"before=$before after=$after")
      assert(!spark.table("r9p3").select(expr("toMonday(d)"))
        .collect().map(_.get(0).toString).contains(w))
      FsUtil.rmTree(retired.getPath)
    }
  }

  // ------------------------------------------------------------------
  // X133: categorical-association family (CatAssocAgg) — hand-computed
  // 2×2-ish fixtures; exact expectations derived from the integer
  // contingency table (χ² = 3136/1800 for the first fixture).

  private def assocFixture(): Unit =
    Seq(("x", "p"), ("x", "p"), ("x", "q"), ("y", "p"),
        ("y", "q"), ("y", "q"), ("y", "q"), ("y", "q"))
      .toDF("a", "b").createOrReplaceTempView("r9_assoc")

  test("cramersV / contingency / theilsU: exact hand-computed values " +
      "on an 8-row table (χ² = 3136/1800)") {
    assocFixture()
    val r = spark.sql("""
      SELECT cramersV(a, b) AS v, contingency(a, b) AS ct,
             theilsU(a, b) AS u, cramersVBiasCorrected(a, b) AS vc
      FROM r9_assoc""").collect().head
    // V² = (3136/1800)/8 → V = 56/120 exactly
    assert(math.abs(r.getDouble(0) - 56.0 / 120.0) < 1e-12)
    val x2 = 3136.0 / 1800.0
    assert(math.abs(r.getDouble(1) - math.sqrt(x2 / (x2 + 8))) < 1e-12)
    // H(a) = ln8 − (3ln3 + 5ln5)/8; H(a|p), H(a|q) per-column
    val ha = math.log(8) - (3 * math.log(3) + 5 * math.log(5)) / 8
    val hp = math.log(3) - (2 * math.log(2)) / 3
    val hq = math.log(5) - (4 * math.log(4)) / 5
    val u = (ha - (3.0 / 8 * hp + 5.0 / 8 * hq)) / ha
    assert(math.abs(r.getDouble(2) - u) < 1e-9)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= r.getDouble(0))
  }

  test("categoricalInformationValue: binary tag, hand-computed IV; " +
      "zero-count categories are skipped") {
    Seq(("x", "0"), ("x", "0"), ("x", "1"), ("y", "0"),
        ("y", "1"), ("y", "1"), ("y", "1"), ("y", "1"),
        ("z", "1")) // z has zero bad rows → skipped
      .toDF("cat", "tag").createOrReplaceTempView("r9_iv")
    val r = spark.sql(
      "SELECT categoricalInformationValue(cat, tag) AS iv FROM r9_iv")
      .collect().head
    // goods: x=1, y=4, z=1 (G=6); bads: x=2, y=1 (B=3); z skipped
    val iv = (1.0 / 6 - 2.0 / 3) * math.log((1.0 / 6) / (2.0 / 3)) +
      (4.0 / 6 - 1.0 / 3) * math.log((4.0 / 6) / (1.0 / 3))
    assert(math.abs(r.getDouble(0) - iv) < 1e-9)
  }

  test("categorical association is partition-invariant: the same value " +
      "from 1 and 7 shuffle partitions (count-map merge is exact)") {
    assocFixture()
    val one = spark.sql("SELECT cramersV(a, b) AS v, theilsU(a, b) AS u " +
      "FROM r9_assoc").collect().head
    val df = spark.table("r9_assoc").repartition(7)
    df.createOrReplaceTempView("r9_assoc7")
    val seven = spark.sql("SELECT cramersV(a, b) AS v, theilsU(a, b) AS u " +
      "FROM r9_assoc7").collect().head
    assert(one.getDouble(0) == seven.getDouble(0))
    assert(one.getDouble(1) == seven.getDouble(1))
  }

  test("degenerate association inputs: single category → 0; empty " +
      "group → NULL; nulls ignored") {
    Seq(("x", "p"), ("x", "q")).toDF("a", "b")
      .createOrReplaceTempView("r9_assoc1")
    val r = spark.sql(
      "SELECT cramersV(a, b) AS v, theilsU(a, b) AS u FROM r9_assoc1")
      .collect().head
    assert(r.getDouble(0) == 0.0)
    // H(a) = 0 (one category) → defined 0
    assert(r.getDouble(1) == 0.0)
    val e = spark.sql("SELECT cramersV(a, b) AS v FROM r9_assoc1 " +
      "WHERE a = 'nope'").collect().head
    assert(e.isNullAt(0))
  }

  // ------------------------------------------------------------------
  // X135: eval/report vocabulary — hand-computed pins.

  test("arrayAUC: perfect, inverted, tied, and degenerate inputs") {
    val r = spark.sql("""
      SELECT arrayAUC(array(0.1D, 0.4D, 0.35D, 0.8D),
                      array(0L, 0L, 1L, 1L)) AS sk,
             arrayAUC(array(1.0D, 2.0D), array(0L, 1L)) AS perfect,
             arrayAUC(array(2.0D, 1.0D), array(0L, 1L)) AS inverted,
             arrayAUC(array(1.0D, 1.0D), array(0L, 1L)) AS tied,
             arrayAUC(array(1.0D, 2.0D), array(1L, 1L)) AS oneclass,
             arrayAUC(array(1.0D), array(1L, 0L)) AS mismatch
    """).collect().head
    // scikit-style fixture: positives at 0.35, 0.8 vs negatives
    // 0.1, 0.4 → pairs won: (0.35>0.1), (0.8>0.1), (0.8>0.4) = 3/4
    assert(r.getDouble(0) == 0.75)
    assert(r.getDouble(1) == 1.0)
    assert(r.getDouble(2) == 0.0)
    assert(r.getDouble(3) == 0.5)
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("boundingRatio: slope between the min-x and max-x points") {
    Seq((1L, 10L), (5L, 2L), (9L, 26L), (3L, 100L))
      .toDF("x", "y").createOrReplaceTempView("r9_br")
    val r = spark.sql("SELECT boundingRatio(x, y) AS br FROM r9_br")
      .collect().head
    // (y@x=9 − y@x=1)/(9 − 1) = (26 − 10)/8 = 2.0
    assert(r.getDouble(0) == 2.0)
  }

  test("sumMapFiltered keeps only listed keys; tupleElement reads the " +
      "result by ordinal and by name") {
    Seq((Seq(1L, 2L), Seq(10L, 100L)), (Seq(2L, 3L), Seq(100L, 7L)),
        (Seq(1L, 1L), Seq(5L, 5L)))
      .toDF("ks", "vs").createOrReplaceTempView("r9_smf")
    val r = spark.sql("""
      SELECT tupleElement(sumMapFiltered(array(CAST(1 AS BIGINT),
               CAST(3 AS BIGINT)))(ks, vs), 1) AS keys,
             tupleElement(sumMapFiltered(array(CAST(1 AS BIGINT),
               CAST(3 AS BIGINT)))(ks, vs), 'sums') AS sums
      FROM r9_smf""").collect().head
    assert(r.getSeq[String](0) == Seq("1", "3"))
    assert(r.getSeq[Long](1) == Seq(20L, 7L)) // key 2 never aggregated
  }

  test("groupBitmapAnd/Or/Xor fold per-row bitmaps by set algebra") {
    Seq(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L), Seq(3L, 4L, 5L))
      .toDF("xs").createOrReplaceTempView("r9_gb")
    val r = spark.sql("""
      SELECT groupBitmapAnd(bitmapBuild(xs)) AS a,
             groupBitmapOr(bitmapBuild(xs)) AS o,
             groupBitmapXor(bitmapBuild(xs)) AS x
      FROM r9_gb""").collect().head
    assert(r.getLong(0) == 1L) // {3}
    assert(r.getLong(1) == 5L) // {1,2,3,4,5}
    // odd membership: 1(1), 2(2), 3(3), 4(2), 5(1) → {1, 3, 5}
    assert(r.getLong(2) == 3L)
  }

  test("sparkbar renders exact integer glyph levels, space for empty " +
      "buckets, and honors explicit bounds") {
    Seq((0L, 8L), (1L, 4L), (3L, 1L), (3L, 1L))
      .toDF("x", "y").createOrReplaceTempView("r9_sb")
    val r = spark.sql(
      "SELECT sparkbar(4)(x, y) AS b FROM r9_sb").collect().head
    // heights by bucket (lo=0, hi=3, span 4): [8, 4, 0, 2]; maxh=8 →
    // levels ⌈8h/8⌉ = [8, 4, ·, 2] → chars 2588, 2584, ' ', 2582
    assert(r.getString(0) == "█▄ ▂")
    val b = spark.sql(
      "SELECT sparkbar(2, 0, 7)(x, y) AS b FROM r9_sb").collect().head
    // bounds 0..7, 2 buckets of span 4: [14, 0] → [█, ' ']
    assert(b.getString(0) == "█ ")
    // partition-invariance of the count-map merge
    val big = spark.range(0, 1000)
      .selectExpr("id % 16 AS x", "id % 5 AS y").repartition(11)
    big.createOrReplaceTempView("r9_sb2")
    val one = spark.sql("SELECT sparkbar(8)(x, y) AS b FROM r9_sb2")
      .collect().head.getString(0)
    val two = spark.sql(
      "SELECT sparkbar(8)(x, y) AS b FROM (SELECT * FROM r9_sb2 " +
        "ORDER BY x DESC)").collect().head.getString(0)
    assert(one == two)
  }

  // ------------------------------------------------------------------
  // X136 MMR rerank + X137 OOV rate — hand-computed fixtures.

  test("mmrRerank diversifies: a near-duplicate of pick 1 is deferred " +
      "behind a less-relevant but novel candidate") {
    // c1 (0.9, [1,0]) and c2 (0.89, [1,0]) are duplicates; c3 (0.5,
    // [0,1]) is orthogonal. λ=0.7: pick2 scores c2 = .7·.89 − .3·1 =
    // .323 < c3 = .7·.5 − 0 = .35 → order [1, 3, 2]
    Seq((10L, 1L, 0.9, Seq(1.0f, 0.0f)), (10L, 2L, 0.89, Seq(1.0f, 0.0f)),
        (10L, 3L, 0.5, Seq(0.0f, 1.0f)), (10L, 4L, 0.4, Seq(0.707f, 0.707f)))
      .toDF("qid", "id", "rel", "emb").createOrReplaceTempView("r9_mmr")
    val r = graft.operators.Retrieval.mmrRerank(spark.table("r9_mmr"),
        "qid", "id", "rel", "emb", k = 3, lam = 0.7)
      .orderBy(col("mmr_rank"))
      .collect().map(x => (x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 1L), (2L, 3L), (3L, 2L)))
    // pure relevance order would have been 1, 2, 3 — MMR demoted the dup
  }

  test("mmrRerank is collect-order invariant (id-sorted kernel) and " +
      "caps k at the shortlist size") {
    Seq((1L, 5L, 0.3, Seq(1.0f, 0.0f)), (1L, 6L, 0.7, Seq(0.0f, 1.0f)))
      .toDF("qid", "id", "rel", "emb").createOrReplaceTempView("r9_mmr2")
    val a = graft.operators.Retrieval.mmrRerank(
        spark.table("r9_mmr2").orderBy(col("id").desc).repartition(5),
        "qid", "id", "rel", "emb", k = 10, lam = 0.5)
      .orderBy(col("mmr_rank")).collect().map(_.getLong(2)).toSeq
    assert(a == Seq(6L, 5L))
  }

  test("oovRate: deterministic top-K vocabulary (count desc, token " +
      "asc), exact per-source counts") {
    Seq(("A", "a a b"), ("B", "a c z z"))
      .toDF("source", "text").createOrReplaceTempView("r9_oov")
    val r = graft.operators.Corpus.oovRate(spark.table("r9_oov"),
        "source", "text", vocabSize = 2)
      .orderBy(col("source")).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getDouble(3), x.getLong(4))).toSeq
    // vocab = {a (3), z (2)}; b and c are OOV
    assert(r == Seq(("A", 3L, 1L, 0.333333, 1L),
      ("B", 4L, 1L, 0.25, 1L)))
  }

  // ------------------------------------------------------------------
  // X138: network/encoding vocabulary — hand-pinned values.

  test("IP predicates, CIDR ranges, and MAC round-trips") {
    val r = spark.sql("""
      SELECT isIPv4String('192.168.0.1') AS v4y,
             isIPv4String('256.1.1.1') AS v4n,
             isIPv4String('1.2.3') AS v4s,
             isIPv6String('2001:db8::8a2e:370:7334') AS v6y,
             isIPv6String('::1') AS v6loop,
             isIPv6String('::ffff:192.0.2.128') AS v6map,
             isIPv6String('1:2:3:4:5:6:7:8') AS v6full,
             isIPv6String('1:2:3:4:5:6:7:8:9') AS v6over,
             isIPv6String('1::2::3') AS v6dbl,
             isIPv6String('192.168.0.1') AS v6v4,
             IPv4CIDRToRange('192.168.5.77', 24) AS cidr,
             MACNumToString(1108152157446) AS mac,
             MACStringToNum('01:02:03:04:05:06') AS macn,
             MACStringToNum('zz:02:03:04:05:06') AS macbad
    """).collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 1L && r.getLong(4) == 1L && r.getLong(5) == 1L)
    assert(r.getLong(6) == 1L && r.getLong(7) == 0L && r.getLong(8) == 0L)
    assert(r.getLong(9) == 0L)
    val cidr = r.getStruct(10)
    assert(cidr.getString(0) == "192.168.5.0")
    assert(cidr.getString(1) == "192.168.5.255")
    // 1108152157446 = 0x010203040506
    assert(r.getString(11) == "01:02:03:04:05:06")
    assert(r.getLong(12) == 1108152157446L)
    assert(r.getLong(13) == 0L)
  }

  test("base58 round-trips (Bitcoin alphabet), soundex classics, " +
      "IDNA encode/decode") {
    val r = spark.sql("""
      SELECT base58Encode('Hello') AS b58,
             base58Decode(base58Encode('The quick brown fox')) AS rt,
             base58Decode('0invalid') AS bad,
             soundex('Robert') AS sx1,
             soundex('Rupert') AS sx2,
             soundex('Tymczak') AS sx3,
             soundex('Honeyman') AS sx4,
             idnaEncode('münchen.example') AS idna,
             idnaDecode(idnaEncode('münchen.example')) AS idnart
    """).collect().head
    // 'Hello' = 0x48656c6c6f → base58 "9Ajdvzr"
    assert(r.getString(0) == "9Ajdvzr")
    assert(r.getString(1) == "The quick brown fox")
    assert(r.isNullAt(2)) // '0' not in the alphabet
    assert(r.getString(3) == "R163" && r.getString(4) == "R163")
    assert(r.getString(5) == "T522") // classic W/H-transparency fixture
    assert(r.getString(6) == "H555")
    assert(r.getString(7) == "xn--mnchen-3ya.example")
    assert(r.getString(8) == "münchen.example")
  }

  test("normalizeQuery masks literals and collapses placeholder " +
      "lists; normalizedQueryHash groups shape-equal queries") {
    val r = spark.sql("""
      SELECT normalizeQuery(
               "SELECT * FROM t WHERE a = 5 AND b IN (1, 2, 3) AND c = 'x'")
               AS nq,
             normalizedQueryHash(
               "SELECT * FROM t WHERE a = 5 AND b IN (1, 2, 3) AND c = 'x'")
             = normalizedQueryHash(
               "SELECT * FROM t WHERE a = 99 AND b IN (7, 8) AND c = 'yy'")
               AS same,
             normalizedQueryHash('SELECT 1') = normalizedQueryHash('SELECT 2, 3')
               AS diff
    """).collect().head
    assert(r.getString(0) ==
      "SELECT * FROM t WHERE a = ? AND b IN (?..) AND c = ?")
    assert(r.getBoolean(1))
    assert(!r.getBoolean(2))
  }

  test("meanZTest / proportionsZTest: hand-computed statistics " +
      "(statistic-only policy — no p-values in compared surfaces)") {
    Seq((1L, 0), (2L, 0), (3L, 0), (5L, 1), (7L, 1))
      .toDF("x", "idx").createOrReplaceTempView("r9_zt")
    val r = spark.sql(
      "SELECT meanZTest(4.0, 1.0, 0.95)(x, idx) AS z FROM r9_zt")
      .collect().head
    // (2 − 6) / sqrt(4/3 + 1/2)
    val want = (2.0 - 6.0) / math.sqrt(4.0 / 3.0 + 1.0 / 2.0)
    assert(math.abs(r.getDouble(0) - want) < 1e-12)
    val p = spark.sql(
      "SELECT proportionsZTest(20, 10, 100, 80, 0.95) AS z")
      .collect().head
    val pooled = 30.0 / 180.0
    val wantP = (0.2 - 0.125) /
      math.sqrt(pooled * (1.0 - pooled) * (1.0 / 100 + 1.0 / 80))
    assert(math.abs(p.getDouble(0) - wantP) < 1e-12)
  }

  test("exponentialTimeDecayed* window family: hand-computed running " +
      "recurrence, O(1) state") {
    Seq((0.0, 10.0), (1.0, 20.0), (3.0, 40.0))
      .toDF("t", "v").createOrReplaceTempView("r9_ed")
    val rows = spark.sql("""
      SELECT t,
             exponentialTimeDecayedSum(2.0)(v, t)
               OVER (ORDER BY t) AS s,
             exponentialTimeDecayedCount(2.0)(t)
               OVER (ORDER BY t) AS c,
             exponentialTimeDecayedAvg(2.0)(v, t)
               OVER (ORDER BY t) AS a,
             exponentialTimeDecayedMax(2.0)(v, t)
               OVER (ORDER BY t) AS m
      FROM r9_ed ORDER BY t""").collect()
    val e05 = math.exp(-0.5)
    val e1 = math.exp(-1.0)
    val s1 = 20.0 + e05 * 10.0
    val s2 = 40.0 + e1 * s1
    val w1 = 1.0 + e05 * 1.0
    val w2 = 1.0 + e1 * w1
    assert(rows(0).getDouble(1) == 10.0)
    assert(math.abs(rows(1).getDouble(1) - s1) < 1e-12)
    assert(math.abs(rows(2).getDouble(1) - s2) < 1e-12)
    assert(math.abs(rows(2).getDouble(2) - w2) < 1e-12)
    assert(math.abs(rows(2).getDouble(3) - s2 / w2) < 1e-12)
    // max: 40 dominates every decayed predecessor
    assert(rows(2).getDouble(4) == 40.0)
    assert(math.abs(rows(1).getDouble(4) - 20.0) < 1e-12) // 20 > e^-.5*10
  }

  test("sequenceNextNode: forward/head, forward/first_match, " +
      "backward/tail, and the no-match NULL") {
    Seq((1L, "home"), (2L, "gift"), (3L, "exit"), (4L, "basket"))
      .toDF("ts", "page").createOrReplaceTempView("r9_snn")
    val r = spark.sql("""
      SELECT sequenceNextNode(forward, head)(ts, page,
               page = 'home', page = 'home', page = 'gift') AS fh,
             sequenceNextNode(forward, first_match)(ts, page,
               page = 'gift', page = 'gift') AS fm,
             sequenceNextNode(backward, tail)(ts, page,
               page = 'basket', page = 'basket') AS bt,
             sequenceNextNode(forward, head)(ts, page,
               page = 'home', page = 'home', page = 'exit') AS miss,
             sequenceNextNode(forward, first_match)(ts, page,
               page = 'basket', page = 'basket') AS tail_end
      FROM r9_snn""").collect().head
    assert(r.getString(0) == "exit")   // home→gift chain, next = exit
    assert(r.getString(1) == "exit")   // first gift, next = exit
    assert(r.getString(2) == "exit")   // walking backward from basket
    assert(r.isNullAt(3))              // home→exit never consecutive
    assert(r.isNullAt(4))              // chain matches but nothing follows
  }

  test("groupArraySample: deterministic seeded hash-sample — " +
      "partition-invariant, subset, size-capped, seed-sensitive") {
    spark.range(0, 100).selectExpr("id AS x").repartition(7)
      .createOrReplaceTempView("r9_gas")
    val a = spark.sql(
      "SELECT groupArraySample(5, 42)(x) AS s FROM r9_gas")
      .collect().head.getSeq[Long](0)
    val b = spark.sql(
      "SELECT groupArraySample(5, 42)(x) AS s FROM " +
        "(SELECT x FROM r9_gas ORDER BY x DESC)")
      .collect().head.getSeq[Long](0)
    assert(a == b, "same seed + same set must give the same sample")
    assert(a.length == 5 && a.toSet.subsetOf((0L until 100L).toSet))
    val c = spark.sql(
      "SELECT groupArraySample(5, 43)(x) AS s FROM r9_gas")
      .collect().head.getSeq[Long](0)
    assert(a != c, "a different seed should pick a different sample")
    val small = spark.sql(
      "SELECT groupArraySample(5)(x) AS s FROM (SELECT 7L AS x)")
      .collect().head.getSeq[Long](0)
    assert(small == Seq(7L))
  }

  test("contrastiveTriplets: banded near-dup positive, deterministic " +
      "far negative, exact jaccards") {
    val mk = (i: Int, t: String) => (i.toLong, t)
    val docs = Seq(
      mk(0, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      mk(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 DIFFERENT"),
      mk(2, "unrelated text about completely other things entirely"),
      mk(3, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"),
      mk(4, "another separate document with its own private words"),
      mk(5, "final standalone filler document nothing shared here"))
      .toDF("doc_id", "text")
    val r = graft.operators.Dedup.contrastiveTriplets(docs,
        "doc_id", "text", loJ = 0.5, hiJ = 0.95)
      .collect()
    assert(r.length == 1)
    val t = r.head
    assert(t.getLong(0) == 0L && t.getLong(1) == 1L)
    // 8 shingles each, 7 shared → j = 7/9; neg = (0+3) % 6 = 3, disjoint
    assert(math.abs(t.getDouble(2) - 7.0 / 9.0) < 1e-12)
    assert(t.getLong(3) == 3L)
    assert(t.getDouble(4) == 0.0)
  }

  test("string-distance family: classic fixtures (kitten/sitting, " +
      "MARTHA/MARHTA, true Damerau ca→abc = 2)") {
    val r = spark.sql("""
      SELECT editDistance('kitten', 'sitting') AS ed,
             levenshteinDistance('kitten', 'sitting') AS ld,
             damerauLevenshteinDistance('ca', 'abc') AS dl1,
             damerauLevenshteinDistance('ab', 'ba') AS dl2,
             damerauLevenshteinDistance('kitten', 'sitting') AS dl3,
             jaroSimilarity('MARTHA', 'MARHTA') AS js,
             jaroWinklerSimilarity('MARTHA', 'MARHTA') AS jw,
             jaroSimilarity('DWAYNE', 'DUANE') AS js2,
             stringJaccardIndex('duck', 'luck') AS sj,
             jaroSimilarity('', '') AS jse,
             jaroSimilarity('a', '') AS jsz
    """).collect().head
    assert(r.getInt(0) == 3 && r.getInt(1) == 3) // Levenshtein is Int
    // TRUE Damerau (with alphabet table): ca→ac→abc = 2, not OSA's 3
    assert(r.getLong(2) == 2L)
    assert(r.getLong(3) == 1L)
    assert(r.getLong(4) == 3L)
    assert(math.abs(r.getDouble(5) - 0.9444444444444445) < 1e-15)
    assert(math.abs(r.getDouble(6) - 0.9611111111111111) < 1e-15)
    assert(math.abs(r.getDouble(7) - 0.8222222222222223) < 1e-15)
    assert(r.getDouble(8) == 0.6) // {u,c,k} / {d,l,u,c,k}
    assert(r.getDouble(9) == 1.0 && r.getDouble(10) == 0.0)
  }

  test("hasToken boundaries, countMatches, translateUTF8, array " +
      "rotate/shift") {
    val r = spark.sql("""
      SELECT hasToken('the quick-brown fox', 'quick') AS t1,
             hasToken('quickly', 'quick') AS t0,
             hasTokenCaseInsensitive('The QUICK fox', 'quick') AS tci,
             countMatches('a1b22c333', '[0-9]+') AS cm,
             translateUTF8('hello', 'el', 'ip') AS tr,
             arrayRotateLeft(array(1, 2, 3, 4, 5), 2) AS rl,
             arrayRotateRight(array(1, 2, 3, 4, 5), 1) AS rr,
             arrayRotateLeft(array(1, 2, 3), 7) AS rlw,
             arrayShiftLeft(array(1, 2, 3, 4), 2, 0) AS sl,
             arrayShiftRight(array(1, 2, 3, 4), 1, 9) AS sr
    """).collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L && r.getLong(2) == 1L)
    assert(r.getLong(3) == 3L)
    assert(r.getString(4) == "hippo")
    assert(r.getSeq[Int](5) == Seq(3, 4, 5, 1, 2))
    assert(r.getSeq[Int](6) == Seq(5, 1, 2, 3, 4))
    assert(r.getSeq[Int](7) == Seq(2, 3, 1)) // 7 mod 3 = 1
    assert(r.getSeq[Int](8) == Seq(3, 4, 0, 0))
    assert(r.getSeq[Int](9) == Seq(9, 1, 2, 3))
  }

  test("spanCorruptionPairs: deterministic arithmetic masking, " +
      "numbered sentinels, per-doc phase shift") {
    Seq((0L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11"),
        (1L, "a b c d e f g"))
      .toDF("doc_id", "text").createOrReplaceTempView("r9_span")
    val r = graft.operators.Pack.spanCorruptionPairs(
        spark.table("r9_span"), "doc_id", "text",
        maskEvery = 5, spanLen = 2)
      .orderBy(col("id")).collect()
    // doc 0 (phase 0): spans {0,1}, {5,6}, {10,11}
    assert(r(0).getLong(1) == 12L && r(0).getLong(2) == 6L)
    assert(r(0).getString(3) ==
      "<extra_id_0> t2 t3 t4 <extra_id_1> t7 t8 t9 <extra_id_2>")
    assert(r(0).getString(4) ==
      "<extra_id_0> t0 t1 <extra_id_1> t5 t6 <extra_id_2> t10 t11")
    // doc 1 (d31 = 31, phase: i ≡ 4 mod 5): spans {4,5} → e f
    assert(r(1).getLong(1) == 7L && r(1).getLong(2) == 2L)
    assert(r(1).getString(3) == "a b c d <extra_id_0> g")
    assert(r(1).getString(4) == "<extra_id_0> e f")
  }

  test("minSampleSize planners (Acklam inverse normal), toTypeName, " +
      "formatReadableTimeDelta") {
    val r = spark.sql("""
      SELECT minSampleSizeConversion(0.1, 0.02, 0.8, 0.05) AS msc,
             minSampleSizeContinuous(100.0, 20.0, 0.05, 0.8, 0.05) AS msk,
             toTypeName(CAST(1 AS BIGINT)) AS tn1,
             toTypeName(array(1.0D)) AS tn2,
             toTypeName(named_struct('a', 1, 'b', 'x')) AS tn3,
             formatReadableTimeDelta(93784) AS frt,
             formatReadableTimeDelta(59) AS frs,
             formatReadableTimeDelta(0) AS frz
    """).collect().head
    val msc = r.getStruct(0)
    // textbook two-proportion n (p1=.10, p2=.12, α=.05, power=.8)
    // ≈ 3835 per group; Acklam error ~1e-9 cannot move it by 1
    assert(math.abs(msc.getDouble(0) - 3840.8475) < 0.01,
      msc.getDouble(0).toString)
    assert(math.abs(msc.getDouble(1) - 0.08) < 1e-12 &&
      math.abs(msc.getDouble(2) - 0.12) < 1e-12)
    val msk = r.getStruct(1)
    // 2(1.95996+0.84162)^2 * 400 / 25 = 251.164
    assert(math.abs(msk.getDouble(0) - 251.1642) < 0.01,
      msk.getDouble(0).toString)
    assert(r.getString(2) == "Int64")
    assert(r.getString(3) == "Array(Float64)")
    assert(r.getString(4) == "Tuple(Int32, String)")
    // 93784 s = 1 day, 2 hours, 3 minutes, 4 seconds
    assert(r.getString(5) == "1 day, 2 hours, 3 minutes, 4 seconds")
    assert(r.getString(6) == "59 seconds")
    assert(r.getString(7) == "0 seconds")
  }

  test("ensembleQualityRank: exact tie-sharing percentiles, averaged " +
      "across signals, threshold keep") {
    Seq((0L, 10L, 5L), (1L, 20L, 4L), (2L, 20L, 3L),
        (3L, 30L, 2L), (4L, 40L, 1L))
      .toDF("doc_id", "a", "b").createOrReplaceTempView("r9_eqr")
    val r = graft.operators.Select.ensembleQualityRank(
        spark.table("r9_eqr"), "doc_id", Seq("a", "b"), threshold = 0.5)
      .orderBy(col("id")).collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2),
        x.getDouble(3), x.getInt(4))).toSeq
    assert(r == Seq(
      (0L, 0.0, 1.0, 0.5, 1),
      (1L, 0.25, 0.75, 0.5, 1),
      (2L, 0.25, 0.5, 0.375, 0),
      (3L, 0.75, 0.25, 0.5, 1),
      (4L, 1.0, 0.0, 0.5, 1)))
  }

  test("vocabCoverage: exact occurrence shares at candidate vocab " +
      "sizes, k clamped to the type count") {
    Seq((0L, "a a a b b c")).toDF("doc_id", "text")
      .createOrReplaceTempView("r9_vc")
    val r = graft.operators.Corpus.vocabCoverage(
        spark.table("r9_vc"), "text", ks = Seq(1, 2, 5))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getDouble(3))).toSeq
    assert(r == Seq((1L, 1L, 3L, 0.5), (2L, 2L, 5L, 5.0 / 6.0),
      (5L, 3L, 6L, 1.0)))
  }

  test("map family, array fill/OrNull selectors, splitByNonAlpha, " +
      "groupConcat, JSON sugar") {
    val r = spark.sql("""
      SELECT mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2, 'c', 3)) AS mf,
             mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3)) AS mu,
             mapPopulateSeries(map(1L, 10L, 4L, 40L)) AS mp,
             arrayFill(x -> x > 0, array(5, 0, 0, 3, 0)) AS af,
             arrayReverseFill(x -> x > 0, array(0, 2, 0, 0, 7)) AS arf,
             arrayFirstOrNull(x -> x > 10, array(3, 12, 20)) AS afo,
             arrayFirstOrNull(x -> x > 99, array(3, 12)) AS afn,
             arrayLastOrNull(x -> x > 10, array(3, 12, 20)) AS alo,
             splitByNonAlpha('ab1,,cd--e f') AS sna,
             toJSONString(named_struct('a', 1, 'b', 'x')) AS js,
             concat_ws(',', transform(JSONExtractKeysAndValues(
               '{"k1": "v1", "k2": "v2"}'),
               e -> concat(e.key, '=', e.value))) AS jkv
    """).collect().head
    assert(r.getMap[String, Int](0) == Map("b" -> 2, "c" -> 3))
    assert(r.getMap[String, Int](1) == Map("a" -> 1, "b" -> 9, "c" -> 3))
    assert(r.getMap[Long, Long](2) ==
      Map(1L -> 10L, 2L -> 0L, 3L -> 0L, 4L -> 40L))
    assert(r.getSeq[Int](3) == Seq(5, 5, 5, 3, 3))
    assert(r.getSeq[Int](4) == Seq(2, 2, 7, 7, 7))
    assert(r.getInt(5) == 12 && r.isNullAt(6) && r.getInt(7) == 20)
    assert(r.getSeq[String](8) == Seq("ab1", "cd", "e", "f"))
    assert(r.getString(9) == """{"a":1,"b":"x"}""")
    assert(r.getString(10) == "k1=v1,k2=v2")
    val g = spark.sql("""
      SELECT groupConcat('-')(x) AS g1, groupConcat(x) AS g2
      FROM VALUES ('b'), ('a'), ('c') AS t(x)""").collect().head
    assert(g.getString(0) == "a-b-c") // sorted-order deviation
    assert(g.getString(1) == "a,b,c")
  }

  test("tuple constructor, CH-rule initcap, and the string " +
      "hash-sketch family (engine-defined values, structural pins)") {
    val r = spark.sql("""
      SELECT tuple(1, 'x').col1 AS t1, tuple(1, 'x').col2 AS t2,
             initcap('hello-world foo_bar 2nd') AS ic,
             wordShingleSimHash('the quick brown fox jumps') AS ws,
             wordShingleSimHash('the quick brown fox jumps') AS ws2,
             wordShingleSimHash('entirely different text here now') AS wd,
             ngramSimHash('abcdef') AS ng,
             wordShingleMinHash('the quick brown fox jumps') AS wm,
             ngramMinHash('abcdef') AS nm
    """).collect().head
    assert(r.getInt(0) == 1 && r.getString(1) == "x")
    // CH rule: letters after ANY non-alphanumeric capitalize
    assert(r.getString(2) == "Hello-World Foo_Bar 2nd")
    assert(r.getLong(3) == r.getLong(4)) // deterministic
    assert(r.getLong(3) != r.getLong(5)) // discriminates
    assert(r.getLong(6) != 0L)
    val wm = r.getStruct(7)
    assert(wm.getLong(0) <= wm.getLong(1)) // min <= max slot
    assert(!r.isNullAt(8))
  }

  test("exponentialMovingAverage: CH's half-decay form rides the " +
      "ExpDecayAgg recurrence (2^-1 per unit at half_decay = 1)") {
    Seq((0.0, 10.0), (1.0, 20.0)).toDF("t", "v")
      .createOrReplaceTempView("r9_ema")
    val r = spark.sql("""
      SELECT exponentialMovingAverage(1.0)(v, t) OVER (ORDER BY t) AS a
      FROM r9_ema ORDER BY t""").collect()
    // S = 20 + 0.5*10 = 25, W = 1.5 → 16.666…
    assert(math.abs(r(1).getDouble(0) - 25.0 / 1.5) < 1e-12)
  }

  test("arraySort/arrayReverseSort by key lambda; arrayPartialSort " +
      "refines to a full sort") {
    val r = spark.sql("""
      SELECT arraySort(x -> length(x), array('ccc', 'a', 'bb')) AS s1,
             arrayReverseSort(x -> length(x),
               array('ccc', 'a', 'bb')) AS s2,
             arraySort(x -> -x, array(1, 3, 2)) AS s3,
             arrayPartialSort(2, array(3, 1, 2)) AS ps,
             arraySort(array(2, 1)) AS plain
    """).collect().head
    assert(r.getSeq[String](0) == Seq("a", "bb", "ccc"))
    assert(r.getSeq[String](1) == Seq("ccc", "bb", "a"))
    assert(r.getSeq[Int](2) == Seq(3, 2, 1))
    assert(r.getSeq[Int](3) == Seq(1, 2, 3))
    assert(r.getSeq[Int](4) == Seq(1, 2))
  }

  test("theta set algebra: exact in the partial regime, state is the " +
      "ascending k-min array") {
    spark.range(1, 11).selectExpr("CAST(id AS STRING) AS x")
      .createOrReplaceTempView("r9_ta")
    spark.range(6, 16).selectExpr("CAST(id AS STRING) AS x")
      .createOrReplaceTempView("r9_tb")
    val r = spark.sql("""
      WITH a AS (SELECT uniqThetaState(256)(x) AS sa FROM r9_ta),
           b AS (SELECT uniqThetaState(256)(x) AS sb FROM r9_tb)
      SELECT uniqThetaUnion(sa, sb, 256) AS u,
             uniqThetaIntersect(sa, sb, 256) AS i,
             uniqThetaNot(sa, sb, 256) AS n,
             size(sa) AS ka,
             sa[0] <= sa[size(sa) - 1] AS asc
      FROM a CROSS JOIN b""").collect().head
    // {1..10} vs {6..15}: union 15, intersect 5, not 5 — exact when
    // both sketches are partial (θ = 2^48)
    assert(r.getLong(0) == 15L && r.getLong(1) == 5L && r.getLong(2) == 5L)
    assert(r.getInt(3) == 10 && r.getBoolean(4))
  }

  test("empty registry fast path: with no projections registered the " +
      "optimizer leaves an aggregate plan byte-identical (judge ask #4)") {
    graft.plans.ChProjections.clear()
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df.createOrReplaceTempView("r9_fast_ev")
    val q = spark.sql(
      "SELECT event_type, count(1) AS n FROM r9_fast_ev GROUP BY event_type")
    val optimized = q.queryExecution.optimizedPlan
    val reapplied = graft.plans.ChProjectionRule(spark)(optimized)
    assert(reapplied eq optimized,
      "rule must return the very same plan object when no projection exists")
  }
}
