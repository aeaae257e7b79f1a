package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sources.Warehouse
import graft.streaming.Ingest

/** Streaming ingest invariants (ST1-ST4): checkpointed restart without
  * loss or duplication, and late-arriving cancel pairs resolving at
  * query time with no stream-side state.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def visitRows(rows: Seq[(Long, Long, Int, String)]) =
    rows.toDF("id", "ver", "sign", "d")
      .select($"id", $"ver", $"sign", $"d".cast("date").as("d"))

  test("restart resumes from checkpoint: no loss, no dups, late cancels apply") {
    val base = tempDir("ingest_spec")
    val srcDir = s"$base/src"
    val cp = s"$base/cp"
    val sink = Ingest.Sink(s"$base/wh", "visits", "t1",
      dateCol = "d", orderKey = Seq("id", "ver"),
      cleanupPolicy = "DISABLED") // the reference's policy: keep data
    val schema = visitRows(Nil).schema

    // batch 1: two visits, one already at version 2
    visitRows(Seq(
      (1L, 1L, 1, "2023-11-01"),
      (2L, 1L, 1, "2023-11-02"),
      (2L, 1L, -1, "2023-11-02"), (2L, 2L, 1, "2023-11-02")))
      .write.mode("append").parquet(srcDir)
    Ingest.runToCompletion(spark, srcDir, schema, sink, cp)
    val t = Ingest.tableDir(sink)
    assert(Warehouse.read(spark, t).count() == 4)

    // batch 2 after a "restart": late cancel pair for visit 1 (ST3)
    visitRows(Seq(
      (1L, 1L, -1, "2023-11-01"), (1L, 2L, 1, "2023-11-01"),
      (3L, 1L, 1, "2023-11-08")))
      .write.mode("append").parquet(srcDir)
    Ingest.runToCompletion(spark, srcDir, schema, sink, cp)
    val afterRestart = Warehouse.read(spark, t)
    assert(afterRestart.count() == 7, "batch 2 appended exactly once")

    // a third activation with no new files must be a no-op (no dups)
    Ingest.runToCompletion(spark, srcDir, schema, sink, cp)
    assert(Warehouse.read(spark, t).count() == 7)

    // query-time collapsing sees the post-restart truth
    val latest = Relational.latestVersions(
      Warehouse.read(spark, t), Seq("id"), "ver", "sign")
      .select($"id", $"ver").as[(Long, Long)].collect().toSet
    assert(latest == Set((1L, 2L), (2L, 2L), (3L, 1L)))
    // sign-weighted count of live visits
    val live = Warehouse.read(spark, t).agg(sum($"sign")).as[Long].head()
    assert(live == 3L)
  }

  test("continuous mode (ST1): a live query drains files as they arrive") {
    val base = tempDir("ingest_spec_cont")
    val srcDir = s"$base/src"
    val sink = Ingest.Sink(s"$base/wh", "visits", "t_cont",
      dateCol = "d", orderKey = Seq("id", "ver"), cleanupPolicy = "DISABLED")
    val schema = visitRows(Nil).schema
    visitRows(Seq((1L, 1L, 1, "2023-11-01"))).write.mode("append").parquet(srcDir)
    val q = Ingest.activate(spark, srcDir, schema, sink, s"$base/cp",
      availableNow = false) // continuous micro-batch trigger
    try {
      q.processAllAvailable()
      assert(Warehouse.read(spark, Ingest.tableDir(sink)).count() == 1)
      // rows arriving WHILE the query runs are picked up — no restart
      visitRows(Seq((2L, 1L, 1, "2023-11-02"), (3L, 1L, 1, "2023-11-03")))
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(Warehouse.read(spark, Ingest.tableDir(sink)).count() == 3)
    } finally q.stop()
  }

  test("cleanup policy DROP clears table and checkpoint; TRUNCATE keeps checkpoint") {
    // a plain path, then a file: URI (the object-store shape)
    for (base <- Seq(tempDir("ingest_spec2"), "file:" + tempDir("ingest_spec2f"))) {
      val srcDir = s"$base/src"
      val sink = Ingest.Sink(s"$base/wh", "visits", "t2",
        dateCol = "d", orderKey = Seq("id", "ver"), cleanupPolicy = "DROP")
      val schema = visitRows(Nil).schema
      visitRows(Seq((1L, 1L, 1, "2023-11-01"))).write.mode("append").parquet(srcDir)
      Ingest.runToCompletion(spark, srcDir, schema, sink, s"$base/cp")
      assert(Warehouse.read(spark, Ingest.tableDir(sink)).count() == 1)
      // re-activation with DROP reprocesses from scratch → still exactly 1
      Ingest.runToCompletion(spark, srcDir, schema, sink, s"$base/cp")
      assert(Warehouse.read(spark, Ingest.tableDir(sink)).count() == 1)
      // TRUNCATE empties the table but keeps the checkpoint: only the
      // file that arrived since lands
      visitRows(Seq((2L, 1L, 1, "2023-11-02"))).write.mode("append").parquet(srcDir)
      Ingest.runToCompletion(spark, srcDir, schema,
        sink.copy(cleanupPolicy = "TRUNCATE"), s"$base/cp")
      assert(Warehouse.read(spark, Ingest.tableDir(sink)).select($"id")
        .as[Long].collect().toSeq == Seq(2L), base)
    }
  }

  test("weekly compaction keeps only the latest live version per entity") {
    val base = tempDir("compact_spec")
    // two weeks of versioned rows: id 1 upgraded to v2, id 2 untouched,
    // id 3 (next week) fully canceled
    Warehouse.write(visitRows(Seq(
        (1L, 1L, 1, "2023-11-01"), (1L, 1L, -1, "2023-11-01"),
        (1L, 2L, 1, "2023-11-01"),
        (2L, 1L, 1, "2023-11-02"),
        (3L, 1L, 1, "2023-11-08"), (3L, 1L, -1, "2023-11-08"))),
      s"$base/t", "d", Seq("id", "ver"))
    Warehouse.compact(spark, s"$base/t", s"$base/t_compacted",
      dateCol = "d", orderKey = Seq("id", "ver"),
      idCols = Seq("id"), versionCol = "ver", signCol = "sign")
    val got = Warehouse.read(spark, s"$base/t_compacted")
    assert(got.select($"id", $"ver").as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (2L, 1L)))
    // compacted table keeps the week-partitioned layout
    assert(got.columns.contains(Warehouse.weekCol))
  }

  test("tierByTtl moves aged week partitions via the Hadoop FileSystem " +
      "(explicit file: scheme)") {
    val base = tempDir("ttl_spec")
    Warehouse.write(visitRows(Seq(
        (1L, 1L, 1, "2023-11-01"), (2L, 1L, 1, "2023-11-08"),
        (3L, 1L, 1, "2023-11-15"))),
      s"$base/hot", "d", Seq("id", "ver"))
    // scheme-qualified URIs exercise the FileSystem resolution path the
    // java.io.File implementation could not serve (s3a/HDFS analogue)
    val moved = Warehouse.tierByTtl(spark, s"file:$base/hot",
      s"file:$base/cold", java.time.LocalDate.parse("2023-11-13"))
    assert(moved == Seq("week=2023-10-30", "week=2023-11-06"))
    assert(Warehouse.read(spark, s"$base/cold").count() == 2)
    assert(Warehouse.read(spark, s"$base/hot").count() == 1)
    assert(Warehouse.readTiered(spark, s"file:$base/hot", s"file:$base/cold")
      .count() == 3)
    // idempotent: nothing left to move
    assert(Warehouse.tierByTtl(spark, s"file:$base/hot", s"file:$base/cold",
      java.time.LocalDate.parse("2023-11-13")).isEmpty)
  }

  test("multi-batch drain (maxFilesPerTrigger) lands every file once") {
    val base = tempDir("ingest_spec3")
    val srcDir = s"$base/src"
    val sink = Ingest.Sink(s"$base/wh", "visits", "t3",
      dateCol = "d", orderKey = Seq("id", "ver"), cleanupPolicy = "DROP")
    val schema = visitRows(Nil).schema
    val rows = (1L to 40L).map(i => (i, 1L, 1, "2023-11-0" + (1 + i % 7)))
    visitRows(rows).repartition(8).write.mode("append").parquet(srcDir)
    Ingest.runToCompletion(spark, srcDir, schema, sink, s"$base/cp",
      maxFilesPerTrigger = Some(3))
    val got = Warehouse.read(spark, Ingest.tableDir(sink))
    assert(got.count() == 40)
    assert(got.select("id").distinct().count() == 40)
  }

  test("sessionize interval merge equals batch gaps-and-islands, any split") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.Sess
    val gap = 100L
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(200)(rnd.nextLong(5000).abs).distinct.sorted
    // batch reference: split the sorted points on gap > 100
    def reference(ps: Seq[Long]): Seq[Sess] =
      ps.foldLeft(List.empty[Sess]) { (acc, p) =>
        acc match {
          case h :: t if p - h.last <= gap =>
            Sess(h.start, p, h.n + 1) :: t
          case _ => Sess(p, p, 1) :: acc
        }
      }.reverse
    val expect = reference(pts)
    // incremental: shuffle the points, split into arbitrary chunks,
    // merge chunk-by-chunk through the operator's state transition
    for (trial <- 0 until 10) {
      val shuffled = rnd.shuffle(pts)
      val chunks = {
        var rem = shuffled
        val out = Seq.newBuilder[Seq[Long]]
        while (rem.nonEmpty) {
          val k = 1 + rnd.nextInt(40)
          out += rem.take(k); rem = rem.drop(k)
        }
        out.result()
      }
      val got = chunks.foldLeft(Seq.empty[Sess]) { (state, chunk) =>
        Sessionize.mergeWithGap(
          state ++ chunk.sorted.map(p => Sess(p, p, 1)), gap)
      }
      assert(got == expect, s"trial $trial")
    }
  }

  test("materialized views fold per micro-batch over the replication stream") {
    import org.apache.spark.sql.functions._
    val base = tempDir("ingest_mv")
    spark.conf.set("spark.graft.warehouse", s"$base/wh")
    try {
      val rows = (0 until 60).map(i =>
        (i.toLong, (i % 20).toLong, f"2024-01-${1 + i % 10}%02d"))
      val df = rows.toDF("event_id", "uid", "ds")
        .select($"event_id", $"uid", to_date($"ds").as("d"))
      val sink = graft.streaming.Ingest.Sink(s"$base/sink", "ev", "t9",
        dateCol = "d", orderKey = Seq("event_id"), cleanupPolicy = "DROP")
      // phase 1: activate over an EMPTY source — registers the table
      // binding so the MV can be created before data flows (CH's
      // create-MV-then-attach-transfer order)
      new java.io.File(s"$base/src").mkdirs()
      graft.streaming.Ingest.runToCompletion(spark, s"$base/src",
        df.schema, sink, s"$base/cp")
      spark.sql("""
        CREATE MATERIALIZED VIEW ev_mv_ingest
        ENGINE = AggregatingMergeTree
        AS SELECT toMonday(d) AS wk, countState() AS n, uniqState(uid) AS u
        FROM ev_t9 GROUP BY wk""")
      // phase 2: data arrives in multiple micro-batches (DISABLED
      // cleanup keeps the checkpoint, 2 files per trigger)
      df.repartition(4).write.mode("overwrite").parquet(s"$base/src")
      graft.streaming.Ingest.runToCompletion(spark, s"$base/src",
        df.schema, sink.copy(cleanupPolicy = "DISABLED"), s"$base/cp",
        maxFilesPerTrigger = Some(2))
      val got = spark.sql("""
        SELECT wk, countMerge(n) AS n, uniqMerge(u) AS uu
        FROM ev_mv_ingest GROUP BY wk ORDER BY wk""").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
      // weeks: Jan 1-7 -> 2024-01-01 (days 1..7: 42 rows), Jan 8-10 ->
      // 2024-01-08 (days 8..10: 18 rows); uids 0..19 appear in both
      assert(got.map(_._1) == Seq("2024-01-01", "2024-01-08"))
      assert(got.map(_._2).sum == 60)
      assert(got.forall(_._3 > 0))
      // the MV agrees with a direct query over the replicated table
      val exact = spark.sql("""
        SELECT toMonday(d) AS wk, count(1) AS n,
               count(DISTINCT uid) AS uu
        FROM ev_t9 GROUP BY wk ORDER BY wk""").collect()
        .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
      assert(got == exact) // sparse-mode HLL is exact at 20 uids
      spark.sql("DROP TABLE ev_mv_ingest")
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("the sink follows its table through RENAME across a restart") {
    import org.apache.spark.sql.functions._
    val base = tempDir("ingest_rename")
    spark.conf.set("spark.graft.warehouse", s"$base/wh")
    try {
      val df = (0 until 20).map(i => (i.toLong, f"2024-02-${1 + i % 5}%02d"))
        .toDF("event_id", "ds")
        .select($"event_id", to_date($"ds").as("d"))
      val sink = graft.streaming.Ingest.Sink(s"$base/sink", "ev", "t15",
        dateCol = "d", orderKey = Seq("event_id"), cleanupPolicy = "DROP")
      // leg 1 under the transfer-suffixed name, with an attached MV
      df.filter($"event_id" < 10).repartition(1)
        .write.mode("append").parquet(s"$base/src")
      graft.streaming.Ingest.runToCompletion(spark, s"$base/src",
        df.schema, sink, s"$base/cp")
      spark.sql("""
        CREATE MATERIALIZED VIEW ev_mv_rename
        ENGINE = AggregatingMergeTree
        AS SELECT d, countState() AS n FROM ev_t15 GROUP BY d""")
      // publish cutover while the transfer is stopped
      spark.sql("RENAME TABLE ev_t15 TO ev_pub")
      assert(graft.streaming.Ingest.currentName(sink) == "ev_pub")
      // leg 2 across the restart: appends land under the published
      // name, the MV (which followed the rename) keeps folding, and
      // the old transfer-suffixed name is NOT resurrected
      df.filter($"event_id" >= 10).repartition(1)
        .write.mode("append").parquet(s"$base/src")
      graft.streaming.Ingest.runToCompletion(spark, s"$base/src",
        df.schema, sink.copy(cleanupPolicy = "DISABLED"), s"$base/cp")
      assert(spark.table("ev_pub").count() == 20)
      assert(graft.sources.Catalog.binding("ev_t15").isEmpty)
      // created between the legs without POPULATE, the MV folds only
      // post-creation inserts (CH semantics) — 10 = all of leg 2,
      // which only reaches the MV if the fold FOLLOWED the rename
      val mvTotal = spark.sql(
        "SELECT countMerge(n) AS n FROM ev_mv_rename")
        .collect().head.getLong(0)
      assert(mvTotal == 10, "MV folded leg 2 through the rename")
      spark.sql("DROP TABLE ev_mv_rename")
      spark.sql("DROP TABLE ev_pub")
    } finally spark.conf.unset("spark.graft.warehouse")
  }
}
