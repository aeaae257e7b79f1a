package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.Warehouse

/** CH mutation analogues (`ALTER TABLE ... DELETE / UPDATE`):
  * selective week-partition rewrite — untouched partitions keep their
  * files byte-identical.
  */
class MutationSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String): String = {
    val base = tempDir(s"mutspec_$name")
    // three Mondays: 2024-01-01, 2024-01-08, 2024-01-15
    val rows = for {
      day <- 1 to 21
      i <- 1 to 5
    } yield (f"2024-01-$day%02d", (day * 10 + i).toLong, i.toLong, 1.0 * i)
    val df = rows.toDF("ds", "id", "grp", "v")
      .select(to_date($"ds").as("d"), $"id", $"grp", $"v")
    Warehouse.write(df, base, "d", orderKey = Seq("id"))
    base
  }

  private def files(dir: String, week: String): Set[String] = {
    val d = new File(dir, s"week=$week")
    if (!d.exists()) Set.empty
    else d.listFiles().map(f => f.getName + ":" + f.lastModified()).toSet
  }

  test("deleteWhere rewrites only the affected week partitions") {
    val t = freshTable("del")
    val w1Before = files(t, "2024-01-01")
    val w3Before = files(t, "2024-01-15")
    // matches live only in week 2 (Jan 8-14)
    val touched = Warehouse.deleteWhere(spark, t,
      col("d").between("2024-01-08", "2024-01-14") && col("grp") === 2,
      orderKey = Seq("id"))
    assert(touched == Seq("2024-01-08"))
    assert(files(t, "2024-01-01") == w1Before) // byte-untouched
    assert(files(t, "2024-01-15") == w3Before)
    val left = Warehouse.read(spark, t)
    assert(left.count() == 21 * 5 - 7) // 7 days x 1 matching row gone
    assert(left.filter(col("grp") === 2 &&
      col("d").between("2024-01-08", "2024-01-14")).count() == 0)
    // other weeks' grp=2 rows survive
    assert(left.filter(col("grp") === 2).count() == 14)
  }

  test("deleteWhere keeps NULL-condition rows (3VL, CH semantics)") {
    val base = tempDir("mutspec_delnull")
    // grp is nullable: NULL rows make `grp = 2` evaluate NULL, and CH's
    // ALTER DELETE removes only predicate-TRUE rows — NULLs survive
    val df = Seq(
      ("2024-01-02", 1L, Some(1L)),
      ("2024-01-03", 2L, Some(2L)),
      ("2024-01-04", 3L, None: Option[Long]),
      ("2024-01-09", 4L, None: Option[Long])) // week 2: NULL only
      .toDF("ds", "id", "grp")
      .select(to_date($"ds").as("d"), $"id", $"grp")
    Warehouse.write(df, base, "d", orderKey = Seq("id"))
    val touched = Warehouse.deleteWhere(spark, base, col("grp") === 2,
      orderKey = Seq("id"))
    // week 2 has no TRUE match → untouched, its NULL row trivially kept
    assert(touched == Seq("2024-01-01"))
    val left = Warehouse.read(spark, base)
    assert(left.count() == 3) // only the grp=2 row went
    // the NULL-grp row in the REWRITTEN week survived too
    assert(left.filter(col("id") === 3).count() == 1)
  }

  test("a week whose rows all match a delete disappears") {
    val t = freshTable("delall")
    val touched = Warehouse.deleteWhere(spark, t,
      col("d") >= "2024-01-15")
    assert(touched == Seq("2024-01-15"))
    assert(!new File(t, "week=2024-01-15").exists())
    assert(Warehouse.read(spark, t).count() == 14 * 5)
  }

  test("a crashed swap self-heals: retired week restores on next mutation") {
    val t = freshTable("recover")
    val before = Warehouse.read(spark, t).count()
    // simulate the crash window: live week retired, replacement never
    // renamed in (the dir name carries the week tag recovery reads),
    // plus an orphaned mutation tmp dir — both from "long ago"
    val dir = new File(t)
    val retired = new File(dir.getParentFile,
      s".${dir.getName}_retired_week=2024-01-08_12345")
    assert(new File(dir, "week=2024-01-08").renameTo(retired))
    val orphanTmp = new File(dir.getParentFile,
      s".${dir.getName}_mutation_99999")
    orphanTmp.mkdirs()
    val old = System.currentTimeMillis() - Warehouse.recoveryGraceMs - 60000
    retired.setLastModified(old)
    orphanTmp.setLastModified(old)
    assert(Warehouse.read(spark, t).count() < before) // week gone
    // ANY next mutation heals first — this one matches nothing
    assert(Warehouse.deleteWhere(spark, t, col("grp") === 99) == Nil)
    assert(!retired.exists())
    assert(!orphanTmp.exists()) // the leaked rewrite is swept too
    assert(Warehouse.read(spark, t).count() == before)
  }

  test("the recovery sweep leaves FRESH leftovers alone (grace period)") {
    // a concurrent mutation's just-retired week must not be 'restored'
    // out from under it — only leftovers older than the grace heal
    val t = freshTable("grace")
    val dir = new File(t)
    val retired = new File(dir.getParentFile,
      s".${dir.getName}_retired_week=2024-01-08_777")
    assert(new File(dir, "week=2024-01-08").renameTo(retired))
    // modification time is NOW -> inside the grace window
    assert(Warehouse.deleteWhere(spark, t, col("grp") === 99) == Nil)
    assert(retired.exists()) // untouched
    // put it back for cleanliness
    assert(retired.renameTo(new File(dir, "week=2024-01-08")))
  }

  /** `dir`'s sibling `.<dir name>_<suffix>`, made by renaming `from`
    * (a new empty dir when None) and dated before the recovery grace
    * period: what a swap that crashed long ago left behind.
    */
  private def oldLeftover(dir: File, suffix: String,
      from: Option[File]): File = {
    val f = new File(dir.getParentFile, s".${dir.getName}_$suffix")
    assert(from.fold(f.mkdirs())(_.renameTo(f)))
    f.setLastModified(
      System.currentTimeMillis() - Warehouse.recoveryGraceMs - 60000)
    f
  }

  private def registered(name: String): (String, File) = {
    val t = freshTable(name)
    graft.sources.Catalog.register(spark,
      graft.sources.Binding(s"crash_$name", t))
    (s"crash_$name", new File(t))
  }

  test("OPTIMIZE heals a crashed whole-table swap and sweeps its " +
      "staging dir") {
    val (t, dir) = registered("opt")
    val before = spark.table(t).count()
    // the table dir retired, its compacted copy never renamed in
    val retired = oldLeftover(dir, "retired_12345", Some(dir))
    val staged = oldLeftover(dir, "optimize_99999", None)
    spark.sql(s"OPTIMIZE TABLE $t DEDUPLICATE").collect()
    assert(!retired.exists() && !staged.exists())
    assert(spark.table(t).count() == before)
  }

  test("OPTIMIZE PARTITION restores a crashed swap's retired week first") {
    val (t, dir) = registered("optpart")
    val before = spark.table(t).count()
    val retired = oldLeftover(dir, "retired_week=2024-01-08_1",
      Some(new File(dir, "week=2024-01-08")))
    val weeks = spark.sql(
      s"OPTIMIZE TABLE $t PARTITION '2024-01-08' DEDUPLICATE")
      .collect().map(_.getString(0)).toSeq
    assert(weeks == Seq("2024-01-08"))
    assert(!retired.exists())
    assert(spark.table(t).count() == before)
  }

  test("DROP PARTITION restores a crashed swap's retired week first") {
    val (t, dir) = registered("droppart")
    val retired = oldLeftover(dir, "retired_week=2024-01-08_1",
      Some(new File(dir, "week=2024-01-08")))
    spark.sql(s"ALTER TABLE $t DROP PARTITION '2024-01-15'").collect()
    assert(!retired.exists())
    assert(dir.list().filter(_.startsWith("week=")).sorted.toSeq ==
      Seq("week=2024-01-01", "week=2024-01-08"))
  }

  test("MATERIALIZE TTL restores a crashed swap's retired week first") {
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    val t = freshTable("ttl")
    val dir = new File(t)
    // a 7-day DELETE TTL on d, as the DDL's TTL clause stamps it
    val schema = StructType(spark.read.parquet(t).schema
      .filter(_.name != Warehouse.weekCol)
      .map(f => if (f.name != "d") f else f.copy(metadata =
        new MetadataBuilder().withMetadata(f.metadata)
          .putLong("graft.ttlDays", 7L)
          .putString("graft.ttlAction", "delete").build())))
    graft.sources.Catalog.register(spark, graft.sources.Binding(
      "crash_ttl", t, schema = Some(schema), dateCol = Some("d"),
      orderKey = Seq("id")))
    val retired = oldLeftover(dir, "retired_week=2024-01-08_1",
      Some(new File(dir, "week=2024-01-08")))
    // cutoff toMonday(2024-01-16 - 7 days) = 2024-01-08
    val expired = spark.sql(
      "ALTER TABLE crash_ttl MATERIALIZE TTL AS OF '2024-01-16'")
      .collect().map(_.getString(0)).toSeq
    assert(expired == Seq("2024-01-01"))
    assert(!retired.exists())
    assert(spark.table("crash_ttl").count() == 14 * 5)
  }

  test("no matches: nothing touched, Nil returned") {
    val t = freshTable("nomatch")
    val before = (1 to 15 by 7)
      .map(d => files(t, f"2024-01-$d%02d")).toSet
    assert(Warehouse.deleteWhere(spark, t, col("grp") === 99) == Nil)
    assert((1 to 15 by 7).map(d => files(t, f"2024-01-$d%02d")).toSet
      == before)
  }

  test("updateWhere assigns only matching rows, other weeks untouched") {
    val t = freshTable("upd")
    val w1Before = files(t, "2024-01-01")
    val touched = Warehouse.updateWhere(spark, t,
      col("d") >= "2024-01-15" && col("grp") === 3,
      Map("v" -> lit(0.0)), orderKey = Seq("id"))
    assert(touched == Seq("2024-01-15"))
    assert(files(t, "2024-01-01") == w1Before)
    val after = Warehouse.read(spark, t)
    assert(after.filter(col("v") === 0.0).count() == 7)
    assert(after.count() == 21 * 5) // update never drops rows
    // non-matching rows in the rewritten week keep their values
    assert(after.filter(col("d") >= "2024-01-15" && col("grp") === 5
      && col("v") === 5.0).count() == 7)
  }

  test("ALTER TABLE ... DELETE / UPDATE run as verbatim SQL") {
    val t = freshTable("sql")
    graft.sources.Catalog.register(spark,
      graft.sources.Binding("mut_sql_t", t))
    val del = spark.sql(
      "ALTER TABLE mut_sql_t DELETE WHERE grp = 2 AND d >= '2024-01-15'")
      .collect().map(_.getString(0)).toSeq
    assert(del == Seq("2024-01-15"))
    assert(spark.table("mut_sql_t").filter(col("grp") === 2).count() == 14)
    val upd = spark.sql(
      "ALTER TABLE mut_sql_t UPDATE v = v * 10, grp = 0 WHERE id = 11")
      .collect().map(_.getString(0)).toSeq
    assert(upd == Seq("2024-01-01"))
    val row = spark.table("mut_sql_t").filter(col("id") === 11)
      .select(col("grp"), col("v")).collect().head
    assert(row.getLong(0) == 0L && row.getDouble(1) == 10.0)
    // unknown binding fails loudly, not silently
    val err = intercept[Exception](
      spark.sql("ALTER TABLE nope DELETE WHERE 1 = 1").collect())
    assert(err.getMessage.contains("not a registered Catalog binding"))
  }

  test("ALTER UPDATE with string-literal values survives literal masking") {
    val t = freshTable("strlit")
    graft.sources.Catalog.register(spark,
      graft.sources.Binding("mut_strlit_t", t))
    // two masked literals in the assignments, one in the condition —
    // the GDPR string-redaction shape
    Seq((11L, "alice"), (12L, "bob")).toDF("id2", "name")
    spark.sql("ALTER TABLE mut_strlit_t UPDATE grp = 0 WHERE d = '2024-01-03'")
    assert(spark.table("mut_strlit_t")
      .filter(col("d") === "2024-01-03" && col("grp") === 0).count() == 5)
    val touched = spark.sql(
      """ALTER TABLE mut_strlit_t UPDATE v = -1.0 WHERE
         d >= '2024-01-15' AND d <= '2024-01-21'""")
      .collect().map(_.getString(0)).toSeq
    assert(touched == Seq("2024-01-15"))
    assert(spark.table("mut_strlit_t").filter(col("v") === -1.0)
      .count() == 35)
  }

  test("csv INSERT with shuffled column names writes the declared order") {
    import org.apache.spark.sql.types._
    val b = tempDir("mutspec_shuf")
    graft.sources.Catalog.register(spark, graft.sources.Binding(
      "ins_shuf_t", b, format = "csv",
      schema = Some(StructType(Seq(StructField("k", LongType),
        StructField("t", StringType)))),
      options = Map("header" -> "true", "escape" -> "\"")))
    Seq((7L, "x")).toDF("k", "t").createOrReplaceTempView("ins_shuf_src")
    // names cover the schema but arrive reversed — read-back is
    // positional, so the writer must reorder to the declared schema
    spark.sql("INSERT INTO ins_shuf_t SELECT t, k FROM ins_shuf_src")
    val r = spark.table("ins_shuf_t").collect().head
    assert(r.getLong(0) == 7L && r.getString(1) == "x")
  }

  test("OPTIMIZE TABLE FINAL compacts the versioned warehouse in place") {
    import org.apache.spark.sql.types.MetadataBuilder
    val b = tempDir("mutspec_opt")
    val keyMd = new MetadataBuilder().putBoolean("graft.finalKey", true).build()
    val verMd = new MetadataBuilder().putBoolean("graft.finalVersion", true).build()
    val signMd = new MetadataBuilder().putBoolean("graft.finalSign", true).build()
    // entity 1: v1 cancelled + v2 live; entity 2: v1 live — across two weeks
    val raw = Seq(
      ("2024-01-02", 1L, 1L, 1, 10.0),
      ("2024-01-02", 1L, 1L, -1, 10.0),
      ("2024-01-03", 1L, 2L, 1, 20.0),
      ("2024-01-09", 2L, 1L, 1, 5.0))
      .toDF("ds", "id", "ver", "sign", "v")
      .select(to_date($"ds").as("d"),
        $"id".as("id", keyMd), $"ver".as("ver", verMd),
        $"sign".as("sign", signMd), $"v")
    Warehouse.write(raw, b, "d", orderKey = Seq("id", "ver"))
    graft.sources.Catalog.register(spark,
      graft.sources.Binding("opt_sql_t", b))
    // PARTITION-scoped first: only week 1 compacts (week 2's raw rows
    // stay), only week 1's directory is touched
    val w2Before = files(b, "2024-01-08")
    val part = spark.sql(
      "OPTIMIZE TABLE opt_sql_t PARTITION '2024-01-01' FINAL")
      .collect().map(_.getString(0)).toSeq
    assert(part == Seq("2024-01-01"))
    assert(files(b, "2024-01-08") == w2Before)
    assert(spark.table("opt_sql_t")
      .filter($"week" === "2024-01-01").count() == 1) // collapsed
    val weeks = spark.sql("OPTIMIZE TABLE opt_sql_t FINAL")
      .collect().map(_.getString(0)).toSeq
    assert(weeks == Seq("2024-01-01", "2024-01-08"))
    val rows = spark.table("opt_sql_t")
      .select($"id", $"ver", $"v").orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 2L, 20.0), (2L, 1L, 5.0)))
  }

  test("INSERT INTO a csv binding appends fresh gzip objects") {
    import org.apache.spark.sql.types._
    val b = tempDir("mutspec_ins")
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "t")
      .createOrReplaceTempView("ins_src")
    graft.sources.Catalog.register(spark, graft.sources.Binding(
      "ins_s3_t", b, format = "csv",
      schema = Some(StructType(Seq(StructField("k", LongType),
        StructField("t", StringType)))),
      options = Map("header" -> "true")))
    spark.sql("""INSERT INTO ins_s3_t SETTINGS s3_create_new_file_on_insert=1
                 SELECT k, t FROM ins_src WHERE t = 'a'""")
    spark.sql("INSERT INTO ins_s3_t SELECT k, t FROM ins_src WHERE t = 'b'")
    val back = spark.table("ins_s3_t").orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "a"), (2L, "b"), (3L, "a")))
    // every insert creates new gzip objects, never rewrites
    val objs = new java.io.File(b).listFiles()
      .filter(_.getName.endsWith(".csv.gz"))
    assert(objs.length >= 2)
    // a non-binding INSERT target still reaches Spark's own error
    val err = intercept[Exception](
      spark.sql("INSERT INTO ins_src SELECT 4L, 'c'").collect())
    assert(!err.getMessage.contains("Catalog binding"))
  }

  test("RENAME / EXCHANGE TABLES: the CTAS blue-green swap") {
    val root = tempDir("mutspec_bg")
    spark.conf.set("spark.graft.warehouse", root)
    try {
      Seq((1L, "2024-01-02"), (2L, "2024-01-02")).toDF("k", "ds")
        .createOrReplaceTempView("bg_src")
      spark.sql("""CREATE TABLE bg_live ENGINE = MergeTree
        PARTITION BY toMonday(d) ORDER BY (k)
        AS SELECT k, CAST(ds AS DATE) AS d FROM bg_src""")
      // rebuild with a filter, then swap atomically
      spark.sql("""CREATE TABLE bg_next ENGINE = MergeTree
        PARTITION BY toMonday(d) ORDER BY (k)
        AS SELECT k, d FROM bg_live WHERE k = 1""")
      spark.sql("EXCHANGE TABLES bg_live AND bg_next")
      assert(spark.table("bg_live").count() == 1) // the rebuilt one
      assert(spark.table("bg_next").count() == 2) // the old data
      spark.sql("DROP TABLE bg_next")
      spark.sql("RENAME TABLE bg_live TO bg_current")
      assert(spark.table("bg_current").count() == 1)
      assert(graft.sources.Catalog.binding("bg_live").isEmpty)
      val err = intercept[Exception](
        spark.sql("RENAME TABLE bg_current TO bg_current"))
      assert(err.getMessage.contains("already exists"))
      // round 2 of the cycle: re-creating a name whose derived path
      // is owned by another table must refuse, not corrupt it
      val clash = intercept[Exception](
        spark.sql("""CREATE TABLE bg_next ENGINE = MergeTree
          PARTITION BY toMonday(d) ORDER BY (k)
          AS SELECT k, d FROM bg_current"""))
      assert(clash.getMessage.contains("owned by"))
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("the partition column cannot be assigned") {
    val t = freshTable("updweek")
    val err = intercept[IllegalArgumentException](
      Warehouse.updateWhere(spark, t, col("grp") === 1,
        Map(Warehouse.weekCol -> lit("2030-01-06"))))
    assert(err.getMessage.contains("partition column"))
  }
}
