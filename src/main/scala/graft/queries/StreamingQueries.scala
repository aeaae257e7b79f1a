package graft.queries

import org.apache.spark.sql.functions._

import graft.{Graft, QueryDef}
import graft.functions.ch.uniqExact
import graft.sources.Warehouse
import graft.streaming.{Ingest, Sessionize}

/** Streaming ingest coverage (S1/S2, ST1-ST5): the events table staged
  * as a directory of parquet files, drained through the replication
  * pipeline (file stream → foreachBatch → week-partitioned warehouse
  * with transfer-id-suffixed name) in multiple micro-batches, then the
  * WAREHOUSE is queried and hash-checked against the oracle computed
  * straight from the original table — the whole ingest path has to be
  * lossless and duplicate-free for this to match.
  */
object StreamingQueries {

  val q31StreamIngest = QueryDef(
    "q31_stream_ingest",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "stream_q31")
      val srcDir = s"$base/src"
      // stage: the raw table (ts normalized to a µs long) as 4 source files
      val raw = Graft.eventsMicros(s, dir)
      raw.repartition(4).write.mode("overwrite").parquet(srcDir)
      val sink = Ingest.Sink(s"$base/warehouse", "events", "tr42",
        dateCol = "EventDate", orderKey = Seq("user_id", "ts"),
        cleanupPolicy = "DROP") // from-scratch per run → deterministic
      Ingest.runToCompletion(s, srcDir, raw.schema, sink,
        checkpointDir = s"$base/checkpoint",
        prepare = b => b.withColumn("EventDate",
          to_date(timestamp_micros(col("ts")))),
        maxFilesPerTrigger = Some(2)) // force a multi-batch drain
      Warehouse.read(s, Ingest.tableDir(sink))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("value_sum"),
          count_distinct(col("user_id")).as("users"),
          min(col("EventDate")).as("first_day"),
          max(col("EventDate")).as("last_day"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type,
             CAST(count(1) AS BIGINT) AS n,
             round(sum(value), 2) AS value_sum,
             CAST(count(DISTINCT user_id) AS BIGINT) AS users,
             min(CAST(ts AS DATE)) AS first_day,
             max(CAST(ts AS DATE)) AS last_day
      FROM events GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // ST6: the stream as a QUERY source — a streaming aggregation
  // (stateful operator, complete output mode) over the staged file
  // stream, drained with AvailableNow into a memory sink, then the
  // final state is hash-checked against the batch oracle. Proves the
  // streaming and batch engines agree on the same aggregation.
  val q48StreamSourceAgg = QueryDef(
    "q48_stream_source_agg",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "stream_q48")
      val srcDir = s"$base/src"
      val raw = s.read.parquet(s"$dir/events.parquet")
      raw.repartition(3).write.mode("overwrite").parquet(srcDir)
      val q = s.readStream.schema(raw.schema).parquet(srcDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("value_sum"))
        .writeStream.format("memory").queryName("graft_q48_state")
        .outputMode("complete")
        // no explicit checkpoint: a kept checkpoint would make reruns
        // see "no new files" and leave the memory table empty; the
        // ephemeral default gives every run a full deterministic drain
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_q48_state").orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, CAST(count(1) AS BIGINT) AS n,
             round(sum(value), 2) AS value_sum
      FROM events GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // ST4 (compaction half): the scheduled VersionedCollapsing merge as an
  // oracle-checked entry. A versioned fixture derived from events
  // (entity = user_id, version = event micros, every third version also
  // gets a cancel row) is appended into the week-partitioned warehouse,
  // compacted in ONE job (all weeks parallel — the grouping key carries
  // the week scope), and the compacted table is hash-checked against
  // the latest-live-version-per-(entity, week) relation computed
  // straight from the raw rows in SQL.
  val q52CompactWarehouse = QueryDef(
    "q52_compact_warehouse",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "compact_q52")
      // ts normalized to µs long = DuckDB's epoch_us, either layout
      val raw = Graft.eventsMicros(s, dir)
      val state = raw.select(
        col("user_id").as("id"),
        col("ts").as("version"),
        col("value"),
        to_date(timestamp_micros(col("ts"))).as("d"),
        lit(1).as("sign"))
      val cancels = state.filter(pmod(col("version"), lit(3)) === 0)
        .withColumn("sign", lit(-1))
      Warehouse.write(state.unionByName(cancels), s"$base/tbl", "d",
        orderKey = Seq("id", "version"))
      Warehouse.compact(s, s"$base/tbl", s"$base/compacted", "d",
        orderKey = Seq("id", "version"), idCols = Seq("id"),
        versionCol = "version", signCol = "sign")
      Warehouse.read(s, s"$base/compacted")
        .groupBy(pmod(col("id"), lit(7)).cast("long").as("id_bucket"))
        .agg(
          count(lit(1)).as("n_latest"),
          sum(col("version")).cast("long").as("version_sum"),
          round(sum(col("value")), 2).as("value_sum"))
        .orderBy(col("id_bucket"))
    },
    Some("""
      WITH state AS (
        SELECT user_id AS id, epoch_us(ts) AS version, value,
               CAST(ts AS DATE) AS d, 1 AS sign
        FROM events
      ), v AS (
        SELECT * FROM state
        UNION ALL
        SELECT id, version, value, d, -1 AS sign
        FROM state WHERE version % 3 = 0
      ), live AS (
        SELECT p.* FROM v p
        WHERE p.sign = 1 AND NOT EXISTS (
          SELECT 1 FROM v m
          WHERE m.sign = -1 AND m.id = p.id AND m.version = p.version)
      ), latest AS (
        SELECT id, version, value,
               row_number() OVER (
                 PARTITION BY id, date_trunc('week', d)
                 ORDER BY version DESC) AS rn
        FROM live
      )
      SELECT CAST(id % 7 AS BIGINT) AS id_bucket,
             CAST(count(1) AS BIGINT) AS n_latest,
             CAST(sum(version) AS BIGINT) AS version_sum,
             round(sum(value), 2) AS value_sum
      FROM latest WHERE rn = 1
      GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // Event-time windowed aggregation under a WATERMARK, append mode —
  // the finalization semantics that matter at 100 TB (complete mode
  // holds all state forever; append emits a window once the watermark
  // passes its end and then DROPS the state). A sentinel event two days
  // past the real range pushes the final watermark beyond every real
  // window's end, so all real windows finalize in the closing
  // no-data micro-batch; the sentinel's own window stays open and is
  // never emitted — which IS the semantics under test. The oracle
  // computes the same day windows from the batch table (it never sees
  // the sentinel).
  val q57StreamWindowedAgg = QueryDef(
    "q57_stream_windowed_agg",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "stream_q57")
      val srcDir = s"$base/src"
      val raw = Graft.eventsMicros(s, dir) // ts = µs long
      val maxTs = raw.agg(max(col("ts"))).head().getLong(0)
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        lit(maxTs + 2L * 86400L * 1000000L).as("ts"),
        lit(-1L).as("user_id"),
        lit("__sentinel").as("event_type"),
        lit(0.0).as("value"),
        lit(null).cast("string").as("props"))
      raw.unionByName(sentinel).repartition(3)
        .write.mode("overwrite").parquet(srcDir)
      val q = s.readStream.schema(raw.schema).parquet(srcDir)
        .withColumn("ets", timestamp_micros(col("ts")))
        .withWatermark("ets", "1 hour")
        .groupBy(window(col("ets"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
        .writeStream.format("memory").queryName("graft_q57_state")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_q57_state")
        .select(col("window.start").cast("date").as("day"),
          col("event_type"), col("n"), col("value_sum"))
        .orderBy(col("day"), col("event_type"))
    },
    Some("""
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(count(1) AS BIGINT) AS n,
             round(sum(value), 2) AS value_sum
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------------
  // Custom streaming state (flatMapGroupsWithState): gap-based
  // sessionization of the event stream — state per user is the open
  // session INTERVALS (bounded by sessions, not events), emission is
  // event-time-timeout-driven (the watermark passed the session's last
  // event by more than the gap). The same sentinel trick as q57 closes
  // every real session at end of stream; the oracle recomputes the
  // sessions with the batch gaps-and-islands idiom (lag + running sum)
  // and must agree bucket-for-bucket on counts, sizes and session-start
  // hashes — multi-batch split (maxFilesPerTrigger=1 over 3 files)
  // exercises the cross-batch interval merge.
  val q58StreamSessionize = QueryDef(
    "q58_stream_sessionize",
    (s, dir) => {
      import s.implicits._
      val base = Graft.scratchDir(dir, "stream_q58")
      val srcDir = s"$base/src"
      val gapUs = 30L * 60 * 1000000 // 30 min
      val raw = Graft.eventsMicros(s, dir) // ts = µs long
      val maxUs = raw.agg(max(col("ts"))).head().getLong(0)
      val real = raw.select(col("user_id"), col("ts").as("ets_us"))
      real.repartition(3).write.mode("overwrite").parquet(srcDir)
      // the sentinel must be the LAST micro-batch (a watermark jump in
      // an early batch would mark every later real file late): append
      // it as its own file and push its mtime forward -- the file
      // source processes oldest-first
      val before = new java.io.File(srcDir).listFiles().map(_.getName).toSet
      s.range(1).select(lit(-1L).as("user_id"),
          lit(maxUs + 500L * 86400 * 1000000).as("ets_us"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      new java.io.File(srcDir).listFiles()
        .filter(f => f.getName.startsWith("part-") && !before(f.getName))
        .foreach(f => f.setLastModified(f.lastModified() + 600000))
      val stream = s.readStream.schema(real.schema)
        .option("maxFilesPerTrigger", "1") // one file per batch: the
        // cross-batch interval merge is actually exercised
        .parquet(srcDir)
        .as[(Long, Long)]
      // watermark delay > the corpus's whole time span: real files
      // split arbitrarily across batches, so disorder is unbounded
      // within the range -- only the sentinel may close sessions
      val out = Sessionize.sessionizeStream(stream, gapUs,
        watermarkDelay = "400 days")
      val q = out.writeStream.format("memory").queryName("graft_q58_state")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_q58_state")
        .filter(col("user_id") >= 0)
        .groupBy(pmod(col("user_id"), lit(10)).cast("long").as("bucket"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events"),
          max(col("n_events")).cast("long").as("max_session_events"),
          sum(pmod(col("start_us"), lit(1000000007L))).cast("long")
            .as("start_hash"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH o AS (
        SELECT user_id, epoch_us(ts) AS u,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
      ), sx AS (
        SELECT user_id, u,
               sum(brk) OVER (PARTITION BY user_id ORDER BY u
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
      ), sess AS (
        SELECT user_id, sid, min(u) AS start_us, count(*) AS n
        FROM sx GROUP BY 1, 2
      )
      SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
             CAST(count(1) AS BIGINT) AS n_sessions,
             CAST(sum(n) AS BIGINT) AS n_events,
             CAST(max(n) AS BIGINT) AS max_session_events,
             CAST(sum(start_us % 1000000007) AS BIGINT) AS start_hash
      FROM sess GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // STREAMING exact dedup — the at-least-once-delivery half of the
  // dedup story (batch exact = q21, store-backed incremental = q46):
  // a source with planted re-deliveries (every 10th event duplicated)
  // drains through `dropDuplicatesWithinWatermark(event_id)` into a
  // parquet sink; the deduped table must equal the ORIGINAL event set,
  // so the oracle is simply the aggregate over the raw table. State is
  // BOUNDED by the watermark horizon (distinct ids within 1 hour of
  // event time) — the property that lets exact streaming dedup run
  // forever at 100 TB/day, with the fingerprint-store path (q46)
  // covering dedup against all history.
  val q71StreamDedup = QueryDef(
    "q71_stream_dedup",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "stream_q71")
      val raw = Graft.eventsMicros(s, dir) // ts = µs long
      val redelivered = raw.unionByName(
        raw.filter(pmod(col("event_id"), lit(10)) === 3))
      redelivered.repartition(4).write.mode("overwrite")
        .parquet(s"$base/src")
      val deduped = s.readStream.schema(raw.schema).parquet(s"$base/src")
        .withColumn("ets", timestamp_micros(col("ts")))
        .withWatermark("ets", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .drop("ets")
      val q = deduped.writeStream
        .option("checkpointLocation", s"$base/cp")
        .option("path", s"$base/out")
        .format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          uniqExact(col("event_id")).as("n_ids"),
          round(sum(col("value")), 2).as("value_sum"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, CAST(count(1) AS BIGINT) AS n,
             CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
             round(sum(value), 2) AS value_sum
      FROM events GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // Stream-STREAM inner join (the remaining classic of the streaming
  // matrix): each purchase event joins the SAME user's view events
  // from the preceding hour — attribution. Both sides are watermarked
  // and the join condition carries the event-time range, so Spark
  // bounds both state stores (a view older than the watermark minus
  // the range can never match and is dropped — the unbounded-stream
  // contract). Inner-join results emit as matches arrive (append
  // mode); the memory-sink table is then batch-aggregated per user.
  // Timestamps are µs-exact on BOTH engines (µs-long ts here,
  // epoch_ns//1000 in the oracle), so the range boundary never
  // truncation-flips.
  val q80StreamStreamJoin = QueryDef(
    "q80_stream_stream_join",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "stream_q80")
      val srcDir = s"$base/src"
      val raw = Graft.eventsMicros(s, dir) // ts = µs long
      raw.repartition(3).write.mode("overwrite").parquet(srcDir)
      val stream = s.readStream.schema(raw.schema).parquet(srcDir)
        .withColumn("ets", timestamp_micros(col("ts")))
      val views = stream.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ets").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ets").as("p_ts"),
          col("value"))
        .withWatermark("p_ts", "1 hour")
      val joined = purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      val q = joined.writeStream.format("memory")
        .queryName("graft_q80_pairs").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_q80_pairs")
        .groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("p_ts").cast("long") - col("v_ts").cast("long")))
            .cast("long").as("delay_s_sum"),
          round(sum(col("value")), 2).as("attr_value"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type, value,
               epoch_ns(ts) // 1000 AS us
        FROM events
      ), pairs AS (
        SELECT p.user_id, p.us AS p_us, v.us AS v_us, p.value
        FROM e p JOIN e v
          ON p.event_type = 'purchase' AND v.event_type = 'view'
         AND p.user_id = v.user_id
         AND v.us <= p.us AND v.us >= p.us - 3600000000
      )
      SELECT user_id,
             CAST(count(1) AS BIGINT) AS n_pairs,
             CAST(sum(p_us // 1000000 - v_us // 1000000) AS BIGINT)
               AS delay_s_sum,
             round(sum(value), 2) AS attr_value
      FROM pairs GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // CH MATERIALIZED VIEW -> AggregatingMergeTree: the INGEST-TIME
  // rollup. Each micro-batch folds its partial HLL sketches into a
  // persisted per-(event_type, day) state table (cost O(batch +
  // |groups|), never O(history)); weekly uniques are answered by
  // MERGING daily states — raw events are never rescanned. The oracle
  // recomputes exact weekly uniques and pins the 5% band to 1 (the
  // sketch registers are order-independent, so the multi-batch split
  // changes nothing).
  val q95StreamMvRollup = QueryDef(
    "q95_stream_mv_rollup",
    (s, dir) => {
      import graft.streaming.MatView
      import graft.functions.ch.toMonday
      val base = Graft.scratchDir(dir, "mv_q95")
      val raw = Graft.eventsMicros(s, dir)
      raw.repartition(4).write.parquet(s"$base/src")
      MatView.runHllRollup(s, s"$base/src", raw.schema, s"$base/state",
        s"$base/ckpt",
        groupCols = Seq("event_type", "day"), keyCol = "user_id",
        prepare = b => b.withColumn("day",
          to_date(timestamp_micros(col("ts")))),
        maxFilesPerTrigger = Some(2)) // force a multi-batch drain
      val weekly = MatView.estimateAt(
        MatView.readState(s, s"$base/state"),
        Seq(col("event_type"), toMonday(col("day")).as("wk")))
      val exact = Graft.table(s, dir, "events")
        .groupBy(col("event_type"),
          toMonday(col("ts").cast("date")).as("wk"))
        .agg(count_distinct(col("user_id")).as("exact_users"))
      exact.join(weekly, Seq("event_type", "wk"))
        .select(col("event_type"), col("wk"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            lit(0.05) * col("exact_users")).cast("long").as("mv_in_band"))
        .orderBy(col("event_type"), col("wk"))
    },
    Some("""
      SELECT event_type,
             CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             CAST(1 AS BIGINT) AS mv_in_band
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------------
  // The streaming TRAINING-DATA INTAKE pipeline — the round-7 operators
  // composed into the continuous-ingestion shape: documents stream in
  // (with exact-duplicate redeliveries under fresh ids, the crawler
  // reality), each micro-batch is PII-scrubbed and quality-gated
  // map-side (codegen'd Column ops — the stream adds no state for
  // them), survivors append RAW to the sink, and deduplication
  // resolves at read time by content fingerprint with min-id winners —
  // the same append-then-resolve contract the CDC warehouse uses
  // (ST4), so the result is independent of batch boundaries and
  // arrival order. The oracle rebuilds the whole pipeline in DuckDB:
  // same redelivery, same quality formula, same rolling-hash
  // fingerprint, same min-id dedup.
  val q112StreamIntake = QueryDef(
    "q112_stream_intake",
    (s, dir) => {
      import graft.functions.text
      val base = Graft.scratchDir(dir, "stream_q112")
      val raw = s.read.parquet(s"$dir/documents.parquet")
      // every 10th doc redelivers under a shifted id — same content
      val redelivered = raw.unionByName(
        raw.filter(pmod(col("doc_id"), lit(10)) === 3)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      redelivered.repartition(4).write.mode("overwrite")
        .parquet(s"$base/src")
      val toks = text.tokenize(col("text"))
      val stream = s.readStream.schema(raw.schema).parquet(s"$base/src")
        .withColumn("red", text.redactPii(col("text")))
        .withColumn("n_tok", text.tokenCountWs(col("text")))
        .withColumn("dup2", text.dupNgramFraction(toks, 2))
        .withColumn("fp", text.fingerprint(col("text")))
        .filter(col("n_tok") >= 20 && col("dup2") <= lit(0.6))
      val q = stream.writeStream
        .option("checkpointLocation", s"$base/cp")
        .option("path", s"$base/out")
        .format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // read-time dedup: min doc_id per content fingerprint
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      s.read.parquet(s"$base/out")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_tok")).cast("long").as("tok_sum"),
          sum(length(col("red"))).cast("long").as("red_len"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH delivered AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, lang, text FROM documents
        WHERE doc_id % 10 = 3
      ), m AS (
        SELECT doc_id, lang,
               regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                 '\+?\d[\d() -]{7,}\d', '<PHONE>', 'g') AS red
        FROM delivered
      ), g AS (
        SELECT doc_id, lang, norm, red,
               CAST(len(toks) AS BIGINT) AS n_tok,
               CASE WHEN len(toks) >= 2 THEN
                 round(1.0 - len(list_distinct(
                   [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]))
                   / CAST(len(toks) - 1 AS DOUBLE), 6)
               ELSE 0.0 END AS dup2
        FROM m
      ), kept AS (
        SELECT doc_id, lang, red, n_tok,
               list_reduce(list_prepend(0::BIGINT,
                 [unicode(norm[i])::BIGINT
                  for i in range(1, length(norm) + 1)]),
                 (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        FROM g WHERE n_tok >= 20 AND dup2 <= 0.6
      ), dedup AS (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
          AS rn
        FROM kept
      )
      SELECT lang, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(doc_id) AS BIGINT) AS id_sum,
             CAST(sum(n_tok) AS BIGINT) AS tok_sum,
             CAST(sum(length(red)) AS BIGINT) AS red_len
      FROM dedup WHERE rn = 1
      GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------------
  // The production composition the pieces were spec'd for, end-to-end:
  // a BLUE-GREEN table rebuild with an attached materialized view,
  // ACROSS an Ingest checkpoint restart.
  //
  //   1. transfer replicates leg 1 (multi-batch); the MV folds per batch
  //   2. transfer stopped: CTAS a re-clustered rebuild, EXCHANGE TABLES
  //      — the serving name flips to the rebuilt copy atomically, while
  //      the MV follows the ORIGINAL physical table (CH's identity
  //      rule, ChMatView.retargetSources) to its new name
  //   3. transfer restarts from checkpoint (leg 2): the sink feeds a
  //      physical DIRECTORY, so it resolves the name that directory
  //      carries NOW (Ingest.currentName) — appends and MV folds
  //      continue under the swapped-out name, nothing detaches
  //   4. roll forward: EXCHANGE back (the live name again carries the
  //      streaming table, complete with leg 2 and its MV), DROP the
  //      retired snapshot
  //
  // The result reads the MV (exact countState/sumState merges) joined
  // against a direct aggregate of the serving table; the oracle
  // recomputes both from the raw events — green means no batch was
  // lost, duplicated, or double-folded anywhere across the swap +
  // restart. Money sums run in integer cents (no double-sum ordering).
  val q114BlueGreenMvSwap = QueryDef(
    "q114_bluegreen_mv_swap",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "stream_q114")
      // same-JVM re-run hygiene: detach anything a previous execution
      // of this entry registered
      if (graft.plans.ChMatView.isMv("q114_mv"))
        graft.plans.ChMatView.remove(s, "q114_mv")
      graft.sources.Catalog.bindings.filter(_.path.startsWith(base))
        .foreach(b => graft.sources.Catalog.unregister(s, b.name))
      s.conf.set("spark.graft.warehouse", s"$base/wh")
      try {
        val raw = Graft.eventsMicros(s, dir)
        val srcDir = s"$base/src"
        new java.io.File(srcDir).mkdirs()
        val sink = Ingest.Sink(s"$base/warehouse", "ev", "q114",
          dateCol = "EventDate", orderKey = Seq("event_id"),
          cleanupPolicy = "DROP")
        val prep = (b: org.apache.spark.sql.DataFrame) =>
          b.withColumn("EventDate",
            to_date(timestamp_micros(col("ts"))))
        // activate over the empty source: registers the table so the
        // MV can attach before data flows (CH's create-MV-then-
        // attach-transfer order)
        Ingest.runToCompletion(s, srcDir, raw.schema, sink,
          checkpointDir = s"$base/cp", prepare = prep)
        s.sql("""
          CREATE MATERIALIZED VIEW q114_mv
          ENGINE = AggregatingMergeTree
          AS SELECT toMonday(EventDate) AS wk, countState() AS n,
                    sumState(toInt64(round(value * 100))) AS cents
          FROM ev_q114 GROUP BY wk""")
        // leg 1: even event_ids, drained in 2 micro-batches
        raw.filter(pmod(col("event_id"), lit(2)) === 0)
          .repartition(2).write.mode("append").parquet(srcDir)
        Ingest.runToCompletion(s, srcDir, raw.schema,
          sink.copy(cleanupPolicy = "DISABLED"), s"$base/cp",
          prepare = prep, maxFilesPerTrigger = Some(1))
        // blue-green, transfer stopped: re-clustered rebuild + swap
        s.sql("""CREATE TABLE ev_q114_rb
          ENGINE = MergeTree PARTITION BY toMonday(EventDate)
          ORDER BY (event_id)
          AS SELECT event_id, ts, user_id, event_type, value, props,
                    EventDate
          FROM ev_q114""")
        s.sql("EXCHANGE TABLES ev_q114 AND ev_q114_rb")
        // leg 2 lands across the restart: odd event_ids, 2 new files;
        // the checkpoint resumes, the sink follows its directory to
        // the swapped-out name, the MV keeps folding
        raw.filter(pmod(col("event_id"), lit(2)) === 1)
          .repartition(2).write.mode("append").parquet(srcDir)
        Ingest.runToCompletion(s, srcDir, raw.schema,
          sink.copy(cleanupPolicy = "DISABLED"), s"$base/cp",
          prepare = prep, maxFilesPerTrigger = Some(1))
        // roll forward and retire the snapshot
        s.sql("EXCHANGE TABLES ev_q114 AND ev_q114_rb")
        s.sql("DROP TABLE ev_q114_rb")
        val merged = s.sql("""
          SELECT wk, countMerge(n) AS n, toInt64(sumMerge(cents)) AS cents
          FROM q114_mv GROUP BY wk""")
        val table = s.sql("""
          SELECT toMonday(EventDate) AS wk, toInt64(count(1)) AS tn,
                 toInt64(sum(toInt64(round(value * 100)))) AS tcents
          FROM ev_q114 GROUP BY wk""")
        merged.join(table, Seq("wk"))
          .select(col("wk"), col("n"), col("cents"),
            (col("n") === col("tn") && col("cents") === col("tcents"))
              .cast("long").as("mv_agrees_table"))
          .orderBy(col("wk"))
      } finally s.conf.unset("spark.graft.warehouse")
    },
    Some("""
      SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
             CAST(count(1) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(1 AS BIGINT) AS mv_agrees_table
      FROM events GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------------
  // The LM quality gate IN-STREAM: the model trains on the static
  // reference corpus BEFORE the stream starts (the CCNet shape — the
  // clean corpus is a fixed artifact, the crawl streams through), and
  // scoring is a stateless projection (O(1) dictionary probes riding
  // the task binary), so the gate runs map-side inside each
  // micro-batch with ZERO streaming state — same contract as the
  // X42/X43 gates in q112. Survivors append raw; the final rollup is
  // checked against a DuckDB replay of the identical model.
  val q117StreamLmGate = QueryDef(
    "q117_stream_lm_gate",
    (s, dir) => {
      import graft.operators.Lm
      val base = Graft.scratchDir(dir, "stream_q117")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val m = Lm.trainUnigram(docs, "text", "lm_q117", topV = 16)
      docs.repartition(3).write.parquet(s"$base/src")
      val gated = s.readStream.schema(docs.schema).parquet(s"$base/src")
        .withColumn("lp_i", Lm.logProbScore(m, col("text")))
        .filter(col("lp_i") >= lit(-60000L))
      val q = gated.writeStream
        .option("checkpointLocation", s"$base/cp")
        .option("path", s"$base/out")
        .format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("lp_i")).cast("long").as("lp_sum"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, lang,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        FROM documents
      ), cnt AS (
        SELECT t, count(1) AS c FROM toks GROUP BY t
      ), tot AS (
        SELECT count(1) AS n FROM toks
      ), vocab AS (
        SELECT t, c FROM cnt
        QUALIFY row_number() OVER (ORDER BY c DESC, t ASC) <= 16
      ), scored AS (
        SELECT k.doc_id, k.lang,
               CAST(round(avg(ln(CAST(coalesce(v.c + 1, 1) AS DOUBLE) /
                    (tot.n + 16 + 1))) * 10000) AS BIGINT) AS lp_i
        FROM toks k LEFT JOIN vocab v ON k.t = v.t CROSS JOIN tot
        GROUP BY k.doc_id, k.lang
      )
      SELECT lang, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(doc_id) AS BIGINT) AS id_sum,
             CAST(sum(lp_i) AS BIGINT) AS lp_sum
      FROM scored WHERE lp_i >= -60000
      GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------------
  // X67 in-stream: the stupid-backoff bigram gate — the model is
  // pre-trained on the static reference corpus (two bounded
  // dictionaries riding the task binary), so each micro-batch scores
  // map-side with ZERO streaming state, exactly the q117 unigram
  // contract one modeling step up. The oracle retrains both count
  // tables and replays the integer scoring + threshold (the q154
  // arithmetic) over the batch table.
  val q158StreamBigramGate = QueryDef(
    "q158_stream_bigram_gate",
    (s, dir) => {
      import graft.operators.Lm
      val base = Graft.scratchDir(dir, "stream_q158")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val m = Lm.trainBigram(docs, "text", "lm_q158", topV = 24,
        topB = 48)
      docs.repartition(3).write.parquet(s"$base/src")
      // per-token threshold: total fp score / token count, so long and
      // short documents gate on the same scale
      val nToks = greatest(
        size(graft.functions.text.tokenize(col("text"))), lit(1))
      val gated = s.readStream.schema(docs.schema).parquet(s"$base/src")
        .withColumn("bi_fp", Lm.bigramScoreFp(m, col("text")))
        .filter(col("bi_fp") >= lit(-5400000L) * nToks)
      val q = gated.writeStream
        .option("checkpointLocation", s"$base/cp")
        .option("path", s"$base/out")
        .format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("bi_fp")).cast("long").as("fp_sum"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents
      ), uc AS (
        SELECT u.t AS t, CAST(count(1) AS BIGINT) AS c
        FROM t, unnest(toks) AS u(t) GROUP BY 1
      ), nt AS (
        SELECT CAST(sum(c) AS BIGINT) AS n FROM uc
      ), vt AS (
        SELECT t, CAST(round(ln((c + 1)
                 / CAST((SELECT n FROM nt) + 24 + 1 AS DOUBLE))
               * 1000000.0) AS BIGINT) AS lpfp
        FROM uc
        QUALIFY row_number() OVER (ORDER BY c DESC, t ASC) <= 24
      ), pc AS (
        SELECT u.p AS ab, CAST(count(1) AS BIGINT) AS cab
        FROM t, unnest([toks[i] || ' ' || toks[i+1]
                        for i in range(1, len(toks))]) AS u(p)
        GROUP BY 1
      ), vb AS (
        SELECT q.ab,
               CAST(round(ln(q.cab / CAST(uc.c AS DOUBLE))
                 * 1000000.0) AS BIGINT) AS lcfp
        FROM (SELECT ab, cab FROM pc
              QUALIFY row_number() OVER (ORDER BY cab DESC,
                split_part(ab, ' ', 1) ASC,
                split_part(ab, ' ', 2) ASC) <= 48) q
        JOIN uc ON uc.t = split_part(q.ab, ' ', 1)
      ), pos AS (
        SELECT doc_id, u.i AS i, toks[u.i] AS tok,
               CASE WHEN u.i > 1
                 THEN toks[u.i-1] || ' ' || toks[u.i] END AS ab
        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
      ), scored AS (
        SELECT pos.doc_id,
               CAST(sum(CASE WHEN pos.i = 1 THEN
                   coalesce(vt.lpfp,
                     CAST(round(ln(1.0 / ((SELECT n FROM nt) + 25))
                       * 1000000.0) AS BIGINT))
                 ELSE coalesce(vb.lcfp,
                   CAST(round(ln(0.4) * 1000000.0) AS BIGINT)
                   + coalesce(vt.lpfp,
                       CAST(round(ln(1.0 / ((SELECT n FROM nt) + 25))
                         * 1000000.0) AS BIGINT)))
                 END) AS BIGINT) AS bi_fp
        FROM pos
        LEFT JOIN vt ON pos.tok = vt.t
        LEFT JOIN vb ON pos.ab = vb.ab
        GROUP BY 1
      ), gated AS (
        SELECT t.doc_id, t.lang, s.bi_fp
        FROM t JOIN scored s USING (doc_id)
        WHERE s.bi_fp >= -5400000 * greatest(len(t.toks), 1)
      )
      SELECT lang, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(doc_id) AS BIGINT) AS id_sum,
             CAST(sum(bi_fp) AS BIGINT) AS fp_sum
      FROM gated GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------------
  // X75 + X67 composed IN-STREAM: the clean-intake shape a production
  // pipeline runs — within-document repeat stripping (a stateless
  // projection, so it drops into the micro-batch unchanged) followed
  // by the bigram quality gate scoring the CLEANED text. Zero
  // streaming state in either stage. The oracle replays the repeat
  // coverage on token lists, rebuilds the cleaned token stream,
  // retrains the bigram tables on the raw corpus, and re-scores the
  // cleaned positions — both stages are the compared surface.
  val q168StreamCleanIntake = QueryDef(
    "q168_stream_clean_intake",
    (s, dir) => {
      import graft.operators.{Dedup, Lm}
      val base = Graft.scratchDir(dir, "stream_q168")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val m = Lm.trainBigram(docs, "text", "lm_q168", topV = 24,
        topB = 48)
      docs.repartition(3).write.parquet(s"$base/src")
      val cleaned = Dedup.stripWithinDocRepeats(
        s.readStream.schema(docs.schema).parquet(s"$base/src"),
        "doc_id", "text", window = 8)
      val nToks = greatest(
        size(graft.functions.text.tokenize(col("text"))), lit(1))
      val gated = cleaned
        .withColumn("bi_fp", Lm.bigramScoreFp(m, col("text")))
        .filter(col("bi_fp") >= lit(-5400000L) * nToks)
      val q = gated.writeStream
        .option("checkpointLocation", s"$base/cp")
        .option("path", s"$base/out")
        .format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("removed_tokens")).cast("long").as("removed_sum"),
          sum(col("bi_fp")).cast("long").as("fp_sum"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents
      ), th AS (
        SELECT doc_id,
               [list_reduce(list_prepend(0::BIGINT,
                  [unicode(tk[i])::BIGINT
                   for i in range(1, length(tk) + 1)]),
                  (acc, x) -> (acc * 31 + x) % 1000000007)
                for tk in toks] AS h,
               CAST(len(toks) AS BIGINT) AS n
        FROM t
      ), spn AS (
        SELECT doc_id, pos, list_reduce(list_prepend(0::BIGINT,
                 list_slice(h, pos + 1, pos + 8)),
                 (acc, x) -> (acc * 31 + x) % 1000000007) AS sh
        FROM (SELECT doc_id, h,
                unnest(generate_series(0, n - 8)) AS pos
              FROM th WHERE n >= 8)
      ), firstp AS (
        SELECT doc_id, sh, min(pos) AS fp FROM spn GROUP BY 1, 2
      ), rep AS (
        SELECT s.doc_id, s.pos
        FROM spn s JOIN firstp f
          ON s.doc_id = f.doc_id AND s.sh = f.sh
        WHERE s.pos >= f.fp + 8
      ), dl AS (
        SELECT g.doc_id, list(DISTINCT g.ti) AS dps
        FROM (SELECT doc_id, u.i - 1 AS ti
              FROM t, unnest(range(1, len(toks) + 1)) AS u(i)) g
        JOIN rep r ON g.doc_id = r.doc_id
          AND g.ti BETWEEN r.pos AND r.pos + 7
        GROUP BY g.doc_id
      ), cleaned AS (
        SELECT t.doc_id, t.lang,
               CASE WHEN dl.dps IS NULL THEN t.toks
                 ELSE [t.toks[i] for i in range(1, len(t.toks) + 1)
                       if NOT list_contains(dl.dps, i - 1)] END AS ctoks,
               CAST(len(t.toks) AS BIGINT) AS n_raw
        FROM t LEFT JOIN dl USING (doc_id)
      ), uc AS (
        SELECT u.t AS t, CAST(count(1) AS BIGINT) AS c
        FROM t, unnest(toks) AS u(t) GROUP BY 1
      ), nt AS (
        SELECT CAST(sum(c) AS BIGINT) AS n FROM uc
      ), vt AS (
        SELECT t, CAST(round(ln((c + 1)
                 / CAST((SELECT n FROM nt) + 24 + 1 AS DOUBLE))
               * 1000000.0) AS BIGINT) AS lpfp
        FROM uc
        QUALIFY row_number() OVER (ORDER BY c DESC, t ASC) <= 24
      ), pc AS (
        SELECT u.p AS ab, CAST(count(1) AS BIGINT) AS cab
        FROM t, unnest([toks[i] || ' ' || toks[i+1]
                        for i in range(1, len(toks))]) AS u(p)
        GROUP BY 1
      ), vb AS (
        SELECT q.ab,
               CAST(round(ln(q.cab / CAST(uc.c AS DOUBLE))
                 * 1000000.0) AS BIGINT) AS lcfp
        FROM (SELECT ab, cab FROM pc
              QUALIFY row_number() OVER (ORDER BY cab DESC,
                split_part(ab, ' ', 1) ASC,
                split_part(ab, ' ', 2) ASC) <= 48) q
        JOIN uc ON uc.t = split_part(q.ab, ' ', 1)
      ), pos AS (
        SELECT doc_id, u.i AS i, ctoks[u.i] AS tok,
               CASE WHEN u.i > 1
                 THEN ctoks[u.i-1] || ' ' || ctoks[u.i] END AS ab
        FROM cleaned, unnest(range(1, len(ctoks) + 1)) AS u(i)
      ), scored AS (
        SELECT pos.doc_id,
               CAST(sum(CASE WHEN pos.i = 1 THEN
                   coalesce(vt.lpfp,
                     CAST(round(ln(1.0 / ((SELECT n FROM nt) + 25))
                       * 1000000.0) AS BIGINT))
                 ELSE coalesce(vb.lcfp,
                   CAST(round(ln(0.4) * 1000000.0) AS BIGINT)
                   + coalesce(vt.lpfp,
                       CAST(round(ln(1.0 / ((SELECT n FROM nt) + 25))
                         * 1000000.0) AS BIGINT)))
                 END) AS BIGINT) AS bi_fp
        FROM pos
        LEFT JOIN vt ON pos.tok = vt.t
        LEFT JOIN vb ON pos.ab = vb.ab
        GROUP BY 1
      ), gated AS (
        SELECT c.doc_id, c.lang, s.bi_fp,
               c.n_raw - CAST(len(c.ctoks) AS BIGINT) AS removed
        FROM cleaned c JOIN scored s USING (doc_id)
        WHERE s.bi_fp >= -5400000 * greatest(len(c.ctoks), 1)
      )
      SELECT lang, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(doc_id) AS BIGINT) AS id_sum,
             CAST(sum(removed) AS BIGINT) AS removed_sum,
             CAST(sum(bi_fp) AS BIGINT) AS fp_sum
      FROM gated GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------------
  // Chunking runs IN-STREAM: the overlapping-window chunker (X54) is a
  // stateless projection + Generate, so it drops into a micro-batch
  // pipeline with no state store and batch-boundary-independent output
  // — each document's chunks depend on that document alone. The
  // chunked stream lands in a parquet sink; the check aggregates the
  // landed chunks per doc bucket against an oracle that replays the
  // chunk arithmetic from the raw table.
  val q128StreamChunks = QueryDef(
    "q128_stream_chunks",
    (s, dir) => {
      import graft.operators.Pack
      import graft.functions.text
      val base = Graft.scratchDir(dir, "stream_q128")
      val raw = s.read.parquet(s"$dir/documents.parquet")
      raw.repartition(4).write.mode("overwrite").parquet(s"$base/src")
      val stream = s.readStream.schema(raw.schema).parquet(s"$base/src")
        .select(col("doc_id"), text.tokenize(col("text")).as("toks"))
      val chunks = Pack.chunkOverlap(stream, "doc_id", "toks",
          window = 32, stride = 24)
        .drop("chunk_toks")
      val q = chunks.writeStream
        .option("checkpointLocation", s"$base/cp")
        .option("path", s"$base/out")
        .format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy(pmod(col("doc_id"), lit(8)).as("bucket"))
        .agg(
          count(lit(1)).as("n_chunks"),
          uniqExact(col("doc_id")).as("n_docs"),
          sum(col("n_chunk_tokens")).cast("long").as("tok_sum"),
          sum(col("chunk_start")).cast("long").as("start_sum"),
          max(col("chunk_idx")).as("max_idx"))
        .orderBy(col("bucket"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents
      ), c AS (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
        FROM t WHERE len(toks) > 0
      ), g AS (
        SELECT doc_id, n,
               unnest(generate_series(0,
                 greatest(least(n - 32 + 24 - 1, n - 1), 0), 24)) AS st
        FROM c
      )
      SELECT doc_id % 8 AS bucket,
             CAST(count(1) AS BIGINT) AS n_chunks,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(sum(least(st + 32, n) - st) AS BIGINT) AS tok_sum,
             CAST(sum(st) AS BIGINT) AS start_sum,
             CAST(max(st // 24) AS BIGINT) AS max_idx
      FROM g GROUP BY 1 ORDER BY bucket"""))

  // ---------------------------------------------------------------------
  // X89: STREAMING near-dup intake gate — MinHash-LSH dedup of an
  // incoming document stream against a static index of the existing
  // corpus, in foreachBatch with ZERO streaming state (q71/q155 gate
  // on exact fingerprints; this is the near-dup upgrade). Fixture:
  // even doc_ids are the indexed "existing corpus", odd doc_ids replay
  // as the incoming stream; an incoming doc is dropped iff it is an
  // exact-verified J >= 0.5 near-dup of ANY indexed doc. The oracle
  // recomputes the cross-parity ground-truth pairs with the inverted
  // shingle index (LSH recall at this corpus's J >= 0.9 dup pairs is
  // ~1, the q22 envelope) and aggregates the surviving odd docs.
  val q180StreamNearDupGate = QueryDef(
    "q180_stream_neardup_gate",
    (s, dir) => {
      import graft.operators.Dedup
      val base = Graft.scratchDir(dir, "stream_q180")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val existing = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val incoming = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      // the index persists across every micro-batch — build once,
      // localCheckpoint so the stream does not re-plan it per batch
      val index = Dedup.buildNearDupIndex(existing, "doc_id", "text")
        .localCheckpoint()
      incoming.repartition(3).write.parquet(s"$base/src")
      val q = s.readStream.schema(docs.schema).parquet(s"$base/src")
        .writeStream
        .option("checkpointLocation", s"$base/cp")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            _: Long) =>
          Dedup.nearDupGateBatch(batch, index, "doc_id", "text")
            .write.mode("append").parquet(s"$base/out")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents
      ), s AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3
                    THEN list_distinct([array_to_string(toks[i:i+2], ' ')
                                        for i in range(1, len(toks) - 1)])
                    ELSE [] END AS sh
        FROM t
      ),
      e AS (SELECT doc_id, unnest(sh) AS g FROM s),
      inter AS (
        SELECT a.doc_id AS oid, b.doc_id AS eid, count(*) AS n_inter
        FROM e a JOIN e b ON a.g = b.g
        WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        GROUP BY 1, 2
      ), sz AS (SELECT doc_id, len(sh) AS n FROM s),
      kill AS (
        SELECT DISTINCT i.oid FROM inter i
        JOIN sz sa ON sa.doc_id = i.oid
        JOIN sz sb ON sb.doc_id = i.eid
        WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= 0.5
      )
      SELECT lang, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(doc_id) AS BIGINT) AS id_sum
      FROM documents d
      WHERE d.doc_id % 2 = 1
        AND d.doc_id NOT IN (SELECT oid FROM kill)
      GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------------
  // X166: sketch aggregates UNDER Structured Streaming — the
  // near-real-time "distinct users right now" dashboard at 100 TB
  // ingest. What this pins beyond q48: the engine's custom
  // TypedImperativeAggregates (KMV theta, HLL) partial-merge
  // correctly across MICRO-BATCHES in complete-mode streaming state —
  // serialize/deserialize and merge() run on the streaming state
  // store path, not just the batch hash-aggregate path. k = 64
  // forces the SATURATED KMV regime so the oracle replays the real
  // estimator (row_number over md5-48 per group), not the trivial
  // exact branch; the ln-corrected HLL stays bracket-compared.
  val q257StreamSketch = QueryDef(
    "q257_stream_sketch_distinct",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "stream_q257")
      val srcDir = s"$base/src"
      val raw = s.read.parquet(s"$dir/events.parquet")
      raw.repartition(5).write.mode("overwrite").parquet(srcDir)
      val q = s.readStream.schema(raw.schema).parquet(srcDir)
        // several small files per trigger -> multiple micro-batches
        .groupBy(col("event_type"))
        // expr() uses the raw parser — the (k)(x) paramAgg rewrite is
        // a TotalsParser (spark.sql) affair, so call the flattened
        // (k, x) builder form directly. uniqExact is a distinct
        // aggregation — BANNED on streams — so the HLL bracket joins
        // against the batch exact count after the drain.
        .agg(expr("uniqTheta(64, toString(user_id))").as("theta_u"),
          expr("uniqHLL12(toString(user_id))").as("__hll"),
          count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("graft_q257_state")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val exact = raw.groupBy(col("event_type"))
        .agg(uniqExact(col("user_id")).as("__ex"))
      s.table("graft_q257_state").join(exact, Seq("event_type"))
        .select(col("event_type"), col("theta_u"),
          (abs(col("__hll") - col("__ex")) <=
            greatest((col("__ex") * 0.05).cast("long"), lit(10L)))
            .as("hll_ok"),
          col("n"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH h AS (
        SELECT DISTINCT event_type,
               CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                 1, 12) AS BIGINT) AS hh
        FROM events
      ), r AS (
        SELECT event_type, hh,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hh) AS rk
        FROM h
      ), c AS (
        SELECT event_type, count(*) AS cnt,
               max(hh) FILTER (WHERE rk <= 64) AS kth
        FROM r GROUP BY 1
      ), cnt AS (
        SELECT event_type, CAST(count(1) AS BIGINT) AS n
        FROM events GROUP BY 1
      )
      SELECT c.event_type,
             CAST(CASE WHEN c.cnt < 64 THEN c.cnt
               ELSE (63 * 281474976710656) // c.kth END AS BIGINT)
               AS theta_u,
             true AS hll_ok, cnt.n
      FROM c JOIN cnt ON cnt.event_type = c.event_type
      ORDER BY c.event_type"""))

  // ---------------------------------------------------------------------
  // X185: streaming anomaly gate — the round-11 time-series kernels
  // (X180) composed over a STREAMED daily rollup: micro-batch ingest →
  // windowed per-day counts in complete-mode state → after the drain,
  // each event type's ordered daily-count series gets Tukey outlier
  // scores. A spike is PLANTED on the first day (+1e5 via the
  // two-arg indexed transform) so the gate provably fires; everything
  // — window starts, counts, fences, scores — replays exactly in the
  // oracle from the raw events (integer-valued doubles end to end).
  val q275StreamAnomaly = QueryDef(
    "q275_stream_anomaly",
    (s, dir) => {
      val base = Graft.scratchDir(dir, "stream_q275")
      val srcDir = s"$base/src"
      val raw = s.read.parquet(s"$dir/events.parquet")
      raw.repartition(5).write.mode("overwrite").parquet(srcDir)
      // the events.ts two-layout branch (nanos BIGINT at GenScale
      // dirs, µs timestamp in the driver's) — same policy as
      // Graft.table, applied to the streaming frame
      val tsCol = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts DIV 1000"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          col("ts").cast("timestamp")
        case _ => col("ts")
      }
      val q = s.readStream.schema(raw.schema).parquet(srcDir)
        .withColumn("ts", tsCol)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("graft_q275_state")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val ser = s.table("graft_q275_state")
        .select(col("window.start").cast("date").as("day"),
          col("event_type"), col("n"))
        .groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("day"), col("n"))))
          .as("p"))
        .select(col("event_type"),
          transform(col("p"), (x, i) =>
            x.getField("n").cast("double") +
              when(i === 0, lit(100000.0)).otherwise(lit(0.0)))
            .as("v"))
      ser.select(col("event_type"),
          size(col("v")).cast("long").as("n_days"),
          graft.functions.ch.seriesOutliersDetectTukey(col("v"))
            .as("tk"))
        .select(col("event_type"), col("n_days"),
          size(filter(col("tk"), t => t =!= 0.0)).cast("long")
            .as("tk_nz"),
          (element_at(col("tk"), 1) > 0.0).cast("int").as("spike_ok"),
          round(aggregate(col("tk"), lit(0.0), (a, x) => a + x), 6)
            .as("score_sum"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH d AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n
        FROM events GROUP BY 1, 2
      ), s AS (
        SELECT event_type, day, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS i
        FROM d
      ), x AS (
        SELECT event_type, i,
               CAST(n AS DOUBLE)
                 + CASE WHEN i = 1 THEN 100000.0 ELSE 0.0 END AS v
        FROM s
      ), srt AS (
        SELECT event_type, list(v ORDER BY v) AS sv,
               CAST(count(*) AS INT) AS cnt
        FROM x GROUP BY 1
      ), fen AS (
        SELECT event_type, cnt,
          sv[CAST(floor((cnt-1)*0.25) AS INT)+1]
            + ((cnt-1)*0.25 - floor((cnt-1)*0.25))
            * (sv[least(CAST(floor((cnt-1)*0.25) AS INT)+2, cnt)]
               - sv[CAST(floor((cnt-1)*0.25) AS INT)+1]) AS q1,
          sv[CAST(floor((cnt-1)*0.75) AS INT)+1]
            + ((cnt-1)*0.75 - floor((cnt-1)*0.75))
            * (sv[least(CAST(floor((cnt-1)*0.75) AS INT)+2, cnt)]
               - sv[CAST(floor((cnt-1)*0.75) AS INT)+1]) AS q3
        FROM srt
      ), sc AS (
        SELECT x.event_type, x.i, f.cnt,
               CASE WHEN x.v < f.q1 - 1.5*(f.q3-f.q1)
                      THEN x.v - (f.q1 - 1.5*(f.q3-f.q1))
                    WHEN x.v > f.q3 + 1.5*(f.q3-f.q1)
                      THEN x.v - (f.q3 + 1.5*(f.q3-f.q1))
                    ELSE 0.0 END AS sc
        FROM x JOIN fen f ON x.event_type = f.event_type
      )
      SELECT event_type, CAST(max(cnt) AS BIGINT) AS n_days,
             CAST(count(CASE WHEN sc <> 0.0 THEN 1 END) AS BIGINT)
               AS tk_nz,
             CAST(max(CASE WHEN i = 1 AND sc > 0.0 THEN 1 ELSE 0 END)
               AS INT) AS spike_ok,
             round(sum(sc), 6) AS score_sum
      FROM sc GROUP BY event_type ORDER BY event_type"""))

  val defs: Seq[QueryDef] =
    Seq(q257StreamSketch, q275StreamAnomaly,
      q31StreamIngest, q48StreamSourceAgg, q52CompactWarehouse,
      q57StreamWindowedAgg, q58StreamSessionize, q71StreamDedup,
      q80StreamStreamJoin, q95StreamMvRollup, q112StreamIntake,
      q114BlueGreenMvSwap, q117StreamLmGate, q128StreamChunks,
      q158StreamBigramGate, q168StreamCleanIntake,
      q180StreamNearDupGate)
}
