package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.ChDdl
import graft.schemas.Metrica

/** The reference's own CREATE TABLE DDL, verbatim: type mapping must
  * equal the hand-transcribed Metrica schemas field-for-field, the
  * engine clause must become the metadata stamps, and the full
  * CREATE → INSERT → FINAL/OPTIMIZE/DELETE workflow must run as SQL.
  */
class ChDdlSpec extends SparkSpec {
  import spark.implicits._

  private def refDdl(file: String): String =
    new String(java.nio.file.Files.readAllBytes(
      referenceFile(s"ddl/$file")), "UTF-8")
      .replace("<id трансфера>", "x1")

  test("the reference hits.sql parses to the transcribed 106-col schema") {
    val p = ChDdl.parseCreateTable(refDdl("hits.sql")).get
    assert(p.name == "hits_x1")
    assert(p.engine == "ReplicatedMergeTree")
    assert(p.partitionBy.contains("EventDate"))
    assert(p.orderKey == Metrica.hitsOrderKey)
    assert(p.sampleBy.contains("CounterUserIDHash"))
    val got = p.schema.fields.map(f => (f.name, f.dataType, f.nullable))
    val want = Metrica.hits.fields.map(f => (f.name, f.dataType, f.nullable))
    assert(got.length == 106)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    // engine stamps: sample key + week invariant; plain MergeTree has
    // no collapsing stamps
    assert(p.schema("CounterUserIDHash").metadata
      .contains("graft.sampleKey"))
    assert(p.schema("EventDate").metadata
      .contains(graft.plans.WeekBoundsRule.flag))
    assert(!p.schema.fields.exists(_.metadata.contains("graft.finalSign")))
  }

  test("the reference visits.sql parses to the transcribed 224-col schema " +
      "with the collapsing engine stamped") {
    val p = ChDdl.parseCreateTable(refDdl("visits.sql")).get
    assert(p.name == "visits_x1")
    assert(p.engine == "ReplicatedVersionedCollapsingMergeTree")
    assert(p.orderKey == Metrica.visitsOrderKey)
    val got = p.schema.fields.map(f => (f.name, f.dataType, f.nullable))
    val want = Metrica.visits.fields.map(f => (f.name, f.dataType, f.nullable))
    assert(got.length == 224)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    assert(p.schema("Sign").metadata.contains("graft.finalSign"))
    assert(p.schema("VisitVersion").metadata.contains("graft.finalVersion"))
    Metrica.visitsOrderKey.foreach(k =>
      assert(p.schema(k).metadata.contains("graft.finalKey"), k))
    assert(p.schema("StartDate").metadata
      .contains(graft.plans.WeekBoundsRule.flag))
  }

  test("CREATE -> INSERT -> FINAL -> OPTIMIZE -> ALTER DELETE, all SQL") {
    val root = tempDir("ddlspec_wh")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      val created = spark.sql("""
        CREATE TABLE metrica.mini_visits
        (
            `VisitID` UInt64,
            `StartDate` Date,
            `Sign` Int8,
            `VisitVersion` UInt64,
            `PageViews` Nullable(UInt16),
            `Goals.ID` Array(UInt32)
        )
        ENGINE = VersionedCollapsingMergeTree(Sign, VisitVersion)
        PARTITION BY toMonday(StartDate)
        ORDER BY (VisitID)
        SETTINGS index_granularity = 8192;""").collect()
      assert(created.head.getString(0) == "mini_visits")
      // v1 state+cancel and v2 for visit 1; v1 only for visit 2
      Seq(
        (1L, "2024-01-02", 1, 1L, 3, Seq(10L)),
        (1L, "2024-01-02", -1, 1L, 3, Seq(10L)),
        (1L, "2024-01-02", 1, 2L, 5, Seq(10L, 11L)),
        (2L, "2024-01-09", 1, 1L, 7, Seq.empty[Long]))
        .toDF("VisitID", "ds", "Sign", "VisitVersion", "PageViews", "gid")
        .createOrReplaceTempView("mini_src")
      spark.sql("""
        INSERT INTO mini_visits
        SELECT VisitID, CAST(ds AS DATE) AS StartDate,
               CAST(Sign AS TINYINT) AS Sign, VisitVersion,
               CAST(PageViews AS INT) AS PageViews, gid AS `Goals.ID`
        FROM mini_src""")
      // FINAL read mode straight off the DDL stamps
      val fin = spark.sql("""
        SELECT VisitID, VisitVersion, PageViews
        FROM mini_visits FINAL ORDER BY VisitID""").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(fin == Seq((1L, 2L, 5), (2L, 1L, 7)))
      // OPTIMIZE compacts in place; the raw row count drops to 2
      spark.sql("OPTIMIZE TABLE mini_visits FINAL")
      assert(spark.table("mini_visits").count() == 2)
      // mutations address the same binding
      spark.sql("ALTER TABLE mini_visits DELETE WHERE VisitID = 2")
      assert(spark.table("mini_visits").count() == 1)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("ENGINE = S3 DDL binds the csv-gzip export path") {
    val dir = tempDir("ddlspec_s3")
    spark.sql(s"""
      CREATE TABLE mini_s3
      (`k` UInt64, `t` String)
      ENGINE = S3('$dir', 'CSVWithNames', 'gzip')""")
    Seq((1L, "a"), (2L, "b")).toDF("k", "t")
      .createOrReplaceTempView("mini_s3_src")
    spark.sql("INSERT INTO mini_s3 SELECT k, t FROM mini_s3_src")
    val back = spark.table("mini_s3").orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "a"), (2L, "b")))
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.endsWith(".csv.gz")))
  }

  test("CREATE TABLE ... AS other ENGINE = S3: the reference's schema-clone " +
      "export table (README.md:136)") {
    val root = tempDir("ddlspec_clone")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE hits_x9
        (`WatchID` UInt64, `EventDate` Date, `URL` Nullable(String))
        ENGINE = MergeTree PARTITION BY toMonday(EventDate)
        ORDER BY (WatchID)""")
      Seq((5L, "2024-01-02", "http://a"), (6L, "2024-01-09", "http://b"))
        .toDF("WatchID", "ds", "URL")
        .createOrReplaceTempView("hits_src9")
      spark.sql("""INSERT INTO hits_x9
        SELECT WatchID, CAST(ds AS DATE) AS EventDate, URL FROM hits_src9""")
      // the reference's verbatim clone shape (ON CLUSTER parsed+dropped)
      spark.sql(s"""
        create table metrica.hits_s3_c on cluster xyz as hits_x9
        ENGINE = S3('$root/s3_export', 'CSVWithNames', 'gzip')""")
      spark.sql("""INSERT INTO hits_s3_c SETTINGS s3_create_new_file_on_insert=1
        SELECT WatchID, EventDate, URL FROM hits_x9
        WHERE EventDate = CAST('2024-01-02' AS DATE)""")
      val back = spark.table("hits_s3_c").collect()
        .map(r => (r.getLong(0), r.getString(2))).toSeq
      assert(back == Seq((5L, "http://a")))
      assert(new java.io.File(s"$root/s3_export").listFiles()
        .exists(_.getName.endsWith(".csv.gz")))
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("CTAS: CREATE TABLE ... ENGINE = ... AS SELECT creates and fills") {
    val root = tempDir("ddlspec_ctas")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      Seq((1L, "2024-01-02", 2.5), (2L, "2024-01-09", 4.0))
        .toDF("k", "ds", "v").createOrReplaceTempView("ctas_src")
      spark.sql("""
        CREATE TABLE ctas_t ENGINE = MergeTree
        PARTITION BY toMonday(d) ORDER BY (k)
        AS SELECT k, CAST(ds AS DATE) AS d, v FROM ctas_src""")
      val rows = spark.table("ctas_t").select(col("k"), col("v"))
        .orderBy(col("k")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == Seq((1L, 2.5), (2L, 4.0)))
      // week-partitioned like any warehouse table
      assert(new java.io.File(s"$root/ctas_t/week=2024-01-08").exists())
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("CREATE MATERIALIZED VIEW: updates on INSERT, reads via uniqMerge") {
    val root = tempDir("ddlspec_mv")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE mv_src (`uid` UInt64, `d` Date)
        ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (uid)""")
      // pre-MV data: NOT included (CH's rule)
      Seq((999L, "2024-01-02")).toDF("uid", "ds")
        .createOrReplaceTempView("mv_pre")
      spark.sql("INSERT INTO mv_src SELECT uid, CAST(ds AS DATE) FROM mv_pre")
      spark.sql("""
        CREATE MATERIALIZED VIEW mv_uniq ENGINE = AggregatingMergeTree
        AS SELECT toMonday(d) AS wk, uniqState(uid) AS u
        FROM mv_src GROUP BY wk""")
      assert(spark.table("mv_uniq").count() == 0) // starts empty
      // two inserts with overlapping users across one week
      Seq((1L, "2024-01-02"), (2L, "2024-01-03"), (3L, "2024-01-09"))
        .toDF("uid", "ds").createOrReplaceTempView("mv_b1")
      Seq((2L, "2024-01-04"), (4L, "2024-01-10"))
        .toDF("uid", "ds").createOrReplaceTempView("mv_b2")
      spark.sql("INSERT INTO mv_src SELECT uid, CAST(ds AS DATE) FROM mv_b1")
      spark.sql("INSERT INTO mv_src SELECT uid, CAST(ds AS DATE) FROM mv_b2")
      // the CH query shape: finish states with uniqMerge
      val got = spark.sql("""
        SELECT wk, uniqMerge(u) AS users FROM mv_uniq
        GROUP BY wk ORDER BY wk""").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
      // week1: users {1,2} (2 deduped across inserts); week2: {3,4};
      // the pre-MV uid 999 is absent
      assert(got == Seq(("2024-01-01", 2L), ("2024-01-08", 2L)))
      // all-time grain from the same states
      val total = spark.sql("SELECT uniqMerge(u) AS n FROM mv_uniq")
        .collect().head.getLong(0)
      assert(total == 4L)
      // DROP TABLE detaches the MV and stops the trigger
      spark.sql("DROP TABLE mv_uniq")
      assert(!spark.catalog.tableExists("mv_uniq"))
      spark.sql("INSERT INTO mv_src SELECT uid, CAST(ds AS DATE) FROM mv_b1")
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("an INSERT after a crashed MV state swap, past the grace " +
      "period, folds into the restored state") {
    val root = tempDir("ddlspec_mvcrash")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE mvc_src (`uid` UInt64, `d` Date)
        ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (uid)""")
      spark.sql("""
        CREATE MATERIALIZED VIEW mvc_mv ENGINE = AggregatingMergeTree
        AS SELECT toMonday(d) AS wk, countState() AS n
        FROM mvc_src GROUP BY wk""")
      Seq((1L, "2024-01-02"), (2L, "2024-01-03"))
        .toDF("uid", "ds").createOrReplaceTempView("mvc_b")
      spark.sql("INSERT INTO mvc_src SELECT uid, CAST(ds AS DATE) FROM mvc_b")
      // the next fold's swap crashed long ago between its renames: the
      // state retired, never replaced
      val state = new java.io.File(root, "mv.mvc_mv")
      val retired = new java.io.File(root, ".mv.mvc_mv_retired_1")
      assert(state.renameTo(retired))
      retired.setLastModified(System.currentTimeMillis() -
        graft.sources.Warehouse.recoveryGraceMs - 60000)
      spark.sql("INSERT INTO mvc_src SELECT uid, CAST(ds AS DATE) FROM mvc_b")
      assert(!retired.exists())
      assert(spark.sql("SELECT countMerge(n) FROM mvc_mv")
        .collect().head.getLong(0) == 4L)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("MATERIALIZED VIEW with the full -State family: exact merges") {
    val root = tempDir("ddlspec_mvfam")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE fam_src (`uid` UInt64, `grp` String, `v` Float64,
          `d` Date)
        ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (uid)""")
      spark.sql("""
        CREATE MATERIALIZED VIEW fam_mv ENGINE = AggregatingMergeTree
        AS SELECT grp, countState() AS n, sumState(v) AS sv,
                  minState(v) AS mn, maxState(v) AS mx,
                  avgState(v) AS av, uniqState(uid) AS u
        FROM fam_src GROUP BY grp""")
      Seq((1L, "a", 2.0, "2024-01-02"), (2L, "a", 4.0, "2024-01-03"))
        .toDF("uid", "grp", "v", "ds").createOrReplaceTempView("fam_b1")
      Seq((1L, "a", 6.0, "2024-01-09"), (3L, "b", 1.5, "2024-01-09"))
        .toDF("uid", "grp", "v", "ds").createOrReplaceTempView("fam_b2")
      spark.sql(
        "INSERT INTO fam_src SELECT uid, grp, v, CAST(ds AS DATE) FROM fam_b1")
      spark.sql(
        "INSERT INTO fam_src SELECT uid, grp, v, CAST(ds AS DATE) FROM fam_b2")
      val got = spark.sql("""
        SELECT grp, countMerge(n) AS n, round(sumMerge(sv), 2) AS sv,
               minMerge(mn) AS mn, maxMerge(mx) AS mx,
               round(avgMerge(av), 4) AS av, uniqMerge(u) AS uu
        FROM fam_mv GROUP BY grp ORDER BY grp""").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
        .toSeq
      // grp a: 3 rows across two inserts, values {2,4,6}, users {1,2}
      assert(got == Seq(
        ("a", 3L, 12.0, 2.0, 6.0, 4.0, 2L),
        ("b", 1L, 1.5, 1.5, 1.5, 1.5, 1L)))
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("MV quantile/argMin/argMax states: fold across inserts equals " +
      "the direct aggregate, ties deterministic") {
    val root = tempDir("ddlspec_mvq")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE mvq_src (`uid` UInt64, `grp` String, `v` Float64,
          `d` Date)
        ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (uid)""")
      spark.sql("""
        CREATE MATERIALIZED VIEW mvq_mv ENGINE = AggregatingMergeTree
        AS SELECT grp, quantileExactState(v) AS qv,
                  argMaxState(uid, v) AS amax,
                  argMinState(uid, v) AS amin
        FROM mvq_src GROUP BY grp""")
      // grp a values across the split: {1, 3, 5, 9} -> median 4.0
      // (interpolated); the max v=9 and min v=1 are unique.
      // grp b: v TIES everywhere (all 2.0) -> argMax must pick the
      // LARGEST uid, argMin the SMALLEST (the (o, v) total order),
      // regardless of which insert carried which row
      Seq((1L, "a", 1.0, "2024-01-02"), (2L, "a", 9.0, "2024-01-03"),
        (7L, "b", 2.0, "2024-01-02"))
        .toDF("uid", "grp", "v", "ds").createOrReplaceTempView("mvq_b1")
      Seq((3L, "a", 3.0, "2024-01-09"), (4L, "a", 5.0, "2024-01-09"),
        (5L, "b", 2.0, "2024-01-09"), (9L, "b", 2.0, "2024-01-10"))
        .toDF("uid", "grp", "v", "ds").createOrReplaceTempView("mvq_b2")
      spark.sql(
        "INSERT INTO mvq_src SELECT uid, grp, v, CAST(ds AS DATE) FROM mvq_b1")
      spark.sql(
        "INSERT INTO mvq_src SELECT uid, grp, v, CAST(ds AS DATE) FROM mvq_b2")
      val got = spark.sql("""
        SELECT grp, round(quantileExactMerge(0.5)(qv), 4) AS med,
               argMaxMerge(amax) AS amax, argMinMerge(amin) AS amin
        FROM mvq_mv GROUP BY grp ORDER BY grp""").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(got == Seq(("a", 4.0, 2L, 1L), ("b", 2.0, 9L, 5L)))
      // the MV answer equals the direct parameterized aggregate over
      // the raw table (the state/merge pair loses nothing)
      val direct = spark.sql("""
        SELECT grp, round(quantileExact(0.5)(v), 4) AS med,
               argMax(uid, v) AS amax, argMin(uid, v) AS amin
        FROM mvq_src GROUP BY grp ORDER BY grp""").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(direct.map(t => (t._1, t._2)) == got.map(t => (t._1, t._2)))
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("MV fold with a batch id is exactly-once: replays never refold") {
    val root = tempDir("ddlspec_mvbatch")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE mvb_src (`uid` UInt64, `grp` String, `d` Date)
        ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (uid)""")
      spark.sql("""
        CREATE MATERIALIZED VIEW mvb_mv ENGINE = AggregatingMergeTree
        AS SELECT grp, countState() AS n FROM mvb_src GROUP BY grp""")
      val mv = graft.plans.ChMatView.get("mvb_mv").get
      val batch = Seq((1L, "a"), (2L, "a"), (3L, "b"))
        .toDF("uid", "grp")
      def counts(): Map[String, Long] = spark.sql(
        "SELECT grp, countMerge(n) AS n FROM mvb_mv GROUP BY grp")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.plans.ChMatView.mergeInsert(spark, mv, batch, Some(7L))
      assert(counts() == Map("a" -> 2L, "b" -> 1L))
      // the crash-replay shape: same batch id arrives again — the
      // stamp rode the atomic state swap, so the refold is a no-op
      // (countState is NOT idempotent; without the stamp this would
      // read a=4, b=2)
      graft.plans.ChMatView.mergeInsert(spark, mv, batch, Some(7L))
      assert(counts() == Map("a" -> 2L, "b" -> 1L))
      // the NEXT batch id folds normally
      graft.plans.ChMatView.mergeInsert(spark, mv, batch, Some(8L))
      assert(counts() == Map("a" -> 4L, "b" -> 2L))
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("MATERIALIZED VIEW with POPULATE folds pre-existing data in") {
    val root = tempDir("ddlspec_mvpop")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE mvp_src (`uid` UInt64, `grp` String, `d` Date)
        ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (uid)""")
      Seq((1L, "a", "2024-01-02"), (2L, "a", "2024-01-03"),
        (3L, "b", "2024-01-02"))
        .toDF("uid", "grp", "ds").createOrReplaceTempView("mvp_pre")
      spark.sql(
        "INSERT INTO mvp_src SELECT uid, grp, CAST(ds AS DATE) FROM mvp_pre")
      spark.sql("""
        CREATE MATERIALIZED VIEW mvp_uniq ENGINE = AggregatingMergeTree
        POPULATE AS SELECT grp, uniqState(uid) AS u
        FROM mvp_src GROUP BY grp""")
      val got = spark.sql("""
        SELECT grp, uniqMerge(u) AS users FROM mvp_uniq
        GROUP BY grp ORDER BY grp""").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("a", 2L), ("b", 1L)))
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("the reference's visits DDL + collapsing pairs + Q1 over FINAL " +
      "end-to-end") {
    val root = tempDir("ddlspec_visits")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      // the reference's own 224-column CREATE TABLE, verbatim
      spark.sql(refDdl("visits.sql"))
      graft.queries.MetricaQueries.rawVisitPairs(spark)
        .createOrReplaceTempView("visits_raw_src")
      spark.sql("INSERT INTO visits_x1 SELECT * FROM visits_raw_src")
      // Q1's daily visits measure: over FINAL every surviving row is
      // the latest LIVE version, so count(1) equals the query-time
      // sum(Sign) over the raw pairs — the collapsing invariant
      val overFinal = spark.sql("""
        SELECT StartDate AS d, count(1) AS visits
        FROM visits_x1 FINAL
        GROUP BY StartDate ORDER BY d""").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
      val queryTime = spark.table("visits_raw_src")
        .groupBy(col("StartDate"))
        .agg(sum(col("Sign")).cast("long").as("visits"))
        .orderBy(col("StartDate")).collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
      assert(overFinal.nonEmpty && overFinal == queryTime)
      // the engine stamps came from the DDL: SAMPLE works too
      val sampled = spark.sql(
        "SELECT count(1) AS n FROM visits_x1 SAMPLE 0.5")
        .collect().head.getLong(0)
      val all = spark.table("visits_x1").count()
      assert(sampled > 0 && sampled < all)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("Map types parse (the newer Metrica params shape)") {
    import org.apache.spark.sql.types._
    val (dt, n) = graft.plans.ChDdl.chType("Map(String, UInt64)")
    assert(dt == MapType(StringType, LongType, valueContainsNull = false)
      && !n)
    val (dt2, _) = graft.plans.ChDdl.chType(
      "Map(LowCardinality(String), Array(Nullable(String)))")
    assert(dt2 == MapType(StringType,
      ArrayType(StringType, containsNull = true),
      valueContainsNull = false))
  }

  test("column modifiers and table-level INDEX entries parse-and-drop") {
    val p = graft.plans.ChDdl.parseCreateTable("""
      CREATE TABLE modded
      (
          `k` UInt64 CODEC(Delta, ZSTD(3)),
          `d` Date DEFAULT toDate(now()) COMMENT 'event day',
          `s` Nullable(String) DEFAULT 'none',
          `v` Float64 TTL d + INTERVAL 1 MONTH,
          INDEX idx_s s TYPE bloom_filter GRANULARITY 4,
          CONSTRAINT c1 CHECK v >= 0,
          `z` LowCardinality(String)
      )
      ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (k)""").get
    import org.apache.spark.sql.types._
    assert(p.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
      == Seq(("k", LongType, false), ("d", DateType, false),
        ("s", StringType, true), ("v", DoubleType, false),
        ("z", StringType, false)))
    assert(p.partitionBy.contains("d"))
  }

  test("TRUNCATE empties a binding's data; DROP detaches it") {
    val root = tempDir("ddlspec_drop")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE mini_drop (`k` UInt64, `d` Date)
        ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (k)""")
      Seq((1L, "2024-01-02"), (2L, "2024-01-09")).toDF("k", "ds")
        .createOrReplaceTempView("mini_drop_src")
      spark.sql(
        "INSERT INTO mini_drop SELECT k, CAST(ds AS DATE) AS d FROM mini_drop_src")
      assert(spark.table("mini_drop").count() == 2)
      spark.sql("TRUNCATE TABLE mini_drop")
      assert(spark.table("mini_drop").count() == 0) // table stays, empty
      spark.sql("DROP TABLE mini_drop")
      assert(graft.sources.Catalog.binding("mini_drop").isEmpty)
      assert(!spark.catalog.tableExists("mini_drop"))
      // Spark's own DROP TABLE error path is untouched for non-bindings
      val err = intercept[Exception](spark.sql("DROP TABLE never_was"))
      assert(err.getMessage.toLowerCase.contains("cannot be found") ||
        err.getMessage.toLowerCase.contains("not found"))
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("a backquoted column name holding a paren parses") {
    val p = ChDdl.parseCreateTable(
      "CREATE TABLE bq_paren (`k(` UInt8, `d` Date) " +
        "ENGINE = MergeTree ORDER BY (`k(`, d)").get
    assert(p.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("k(", ShortType), ("d", DateType)))
    assert(p.orderKey == Seq("k(", "d"))
  }

  test("a -- inside a DDL string literal is not a comment") {
    val p = ChDdl.parseCreateTable(
      "CREATE TABLE lit_dash (`d` Date COMMENT 'a--b', `n` UInt32) " +
        "ENGINE = MergeTree ORDER BY d -- a real comment (\n" +
        "SETTINGS index_granularity = 8192")
    assert(p.isDefined)
    assert(p.get.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("d", DateType), ("n", LongType)))
    assert(p.get.orderKey == Seq("d"))
  }

  test("a block comment after a column type is not part of the type") {
    val p = ChDdl.parseCreateTable(
      "CREATE TABLE cmt_type (`k` UInt64 /* key */, `d` Date) " +
        "ENGINE = MergeTree ORDER BY k")
    assert(p.get.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("k", LongType), ("d", DateType)))
  }

  test("a backslash-escaped quote stays inside its DDL literal") {
    val p = ChDdl.parseCreateTable(
      "CREATE TABLE esc_default (`s` String DEFAULT 'it\\'s, (x', " +
        "`n` UInt8) ENGINE = MergeTree ORDER BY n")
    assert(p.get.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("s", StringType), ("n", ShortType)))
  }

  test("a line comment after an MV select item is not part of the next") {
    val ps = graft.plans.ChMatView.parseSelect(
      "SELECT toMonday(d) AS wk, -- the day\n" +
        "uniqState(uid) AS u FROM mv_src GROUP BY wk")
    assert(ps.groupItems == Seq(("toMonday(d)", "wk")))
    assert(ps.aggItems.map(a => (a.kind, a.argSql, a.alias)) ==
      Seq(("uniq", "uid", "u")))
    assert(ps.srcTable == "mv_src")
  }

  test("a FROM inside a block comment of an MV select is not a clause") {
    val ps = graft.plans.ChMatView.parseSelect(
      "SELECT toMonday(d) AS wk /* not FROM other */, " +
        "uniqState(uid) AS u FROM mv_src GROUP BY wk")
    assert(ps.groupItems == Seq(("toMonday(d)", "wk")))
    assert(ps.aliasesInOrder == Seq("wk", "u"))
    assert(ps.srcTable == "mv_src")
  }

  test("comments inside an ADD PROJECTION body are not items or clauses") {
    val root = tempDir("ddlspec_projcmt")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      spark.sql("""
        CREATE TABLE proj_cmt (`k` UInt32, `z` UInt32, `x` Int64, `d` Date)
        ENGINE = MergeTree PARTITION BY toMonday(d) ORDER BY (k)""")
      Seq((1L, 2L, 3L)).toDF("k", "z", "x")
        .createOrReplaceTempView("proj_cmt_src")
      spark.sql("INSERT INTO proj_cmt " +
        "SELECT k, z, x, DATE '2024-01-02' AS d FROM proj_cmt_src")
      spark.sql("ALTER TABLE proj_cmt ADD PROJECTION p_list " +
        "(SELECT k, /* a, b */ sum(x) GROUP BY k)")
      spark.sql("ALTER TABLE proj_cmt ADD PROJECTION p_group " +
        "(SELECT k /* GROUP BY z */, sum(x) GROUP BY k)")
      Seq("p_list", "p_group").foreach { n =>
        val d = graft.plans.ChProjections.get("proj_cmt", n).get
        assert((d.keys, d.aggs) == ((Seq("k"), Seq(("sum", "x")))), n)
      }
    } finally {
      spark.conf.unset("spark.graft.warehouse")
      graft.plans.ChProjections.clear()
    }
  }
}
