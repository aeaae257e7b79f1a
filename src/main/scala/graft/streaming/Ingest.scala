package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.Warehouse

/** Continuous replication ingest — the engine's form of the reference's
  * Data Transfer pipeline (README.md:46-58):
  *
  *  - S1 source: a file-based Structured Streaming source of
  *    Metrica-schema rows (the sandbox stand-in for the Metrica
  *    firehose); `visits`-style streams carry Sign/VisitVersion pairs
  *    and are appended RAW — versions resolve at query time via
  *    Sign-weighted aggregates or `Relational.latestVersions`, exactly
  *    as VersionedCollapsingMergeTree does (ST3/ST4: late cancel pairs
  *    need no state, they just append).
  *  - S2 sink: `foreachBatch` append into the week-partitioned Parquet
  *    warehouse ([[Warehouse.write]]); the table directory is
  *    auto-created on first batch and named `<table>_<transferId>`,
  *    mirroring the transfer-id suffix (README.md:47,58; ST5).
  *  - ST1 continuity: the checkpoint directory makes restart resume
  *    from the last committed batch — stop/start loses nothing and
  *    duplicates nothing (IngestSpec proves it).
  *  - Cleanup policy on (re)activation (data-transfer-endpoint.tf:15):
  *    DISABLED keeps existing data (the reference's choice), DROP
  *    clears table + checkpoint for a from-scratch run.
  *  - ST2: there is no historical backfill — rows exist in the stream
  *    only from activation on; anything already in the source directory
  *    is the initial replication snapshot.
  *
  * At scale: each micro-batch is one bounded append job; partitioning
  * work is [[Warehouse.write]]'s (each task writes one sorted file per
  * week it holds, no shuffle). Throughput tuning = `maxFilesPerTrigger`
  * × executor count; no stateful operator, so no state store to size.
  * Per-activation cost: 0 recompiles. Spark keys its codegen cache by
  * the task thread's context classloader too, and
  * [[graft.Graft.tune]] turns off artifact isolation, so a streaming
  * activation's tasks run under the session's own loader and a warm
  * activation reuses the compiled classes of the last one
  * (`CodegenCacheSpec` pins it).
  */
object Ingest {

  /** Sink configuration (terraform/data-transfer-endpoint.tf:4-18). */
  final case class Sink(
      warehouseDir: String,
      tableName: String,
      transferId: String,
      dateCol: String,
      orderKey: Seq[String],
      cleanupPolicy: String = "DISABLED")

  /** `<table>_<transferId>` — the suffixed table/binding name. */
  def tableName(sink: Sink): String =
    s"${sink.tableName}_${sink.transferId}"

  /** `<warehouse>/<table>_<transferId>` — the suffixed target table. */
  def tableDir(sink: Sink): String =
    s"${sink.warehouseDir}/${tableName(sink)}"

  /** The name the sink's directory CURRENTLY carries. The transfer
    * feeds a physical table; RENAME/EXCHANGE move names over fixed
    * directories and attached MVs follow the physical table through a
    * swap ([[graft.plans.ChMatView.retargetSources]]) — so the stream
    * follows its directory too: batches re-register the binding and
    * fold the MVs of whatever name the table holds NOW, and a
    * blue-green swap between two micro-batches (or across a
    * checkpoint restart) never detaches the replication from its
    * views. Falls back to the static `<table>_<transferId>` name
    * before first registration.
    */
  def currentName(sink: Sink): String = {
    val dir = tableDir(sink)
    graft.sources.Catalog.bindings.find(_.path == dir).map(_.name)
      .getOrElse(tableName(sink))
  }

  /** Apply the cleanup policy before (re)activation: DROP/TRUNCATE
    * clear the table (and DROP also the checkpoint — a from-scratch
    * transfer) through the session's FileSystem
    * ([[Warehouse.deleteDir]]); DISABLED keeps everything
    * (re-activation appends).
    */
  def applyCleanupPolicy(spark: SparkSession, sink: Sink,
      checkpointDir: String): Unit =
    sink.cleanupPolicy match {
      case "DROP" =>
        Warehouse.deleteDir(spark, tableDir(sink))
        Warehouse.deleteDir(spark, checkpointDir)
      case "TRUNCATE" => Warehouse.deleteDir(spark, tableDir(sink))
      case _ => ()
    }

  /** Activate the transfer: stream `srcDir` → warehouse table.
    *
    * @param prepare per-batch ELT applied before the write (e.g. derive
    *                the partition date from a raw timestamp)
    * @param availableNow true = drain everything currently available
    *                     and stop (batch-shaped run of the same
    *                     pipeline); false = run continuously
    * @param maxFilesPerTrigger bound micro-batch size (throughput /
    *                           latency knob; also forces multi-batch
    *                           runs in tests)
    */
  def activate(spark: SparkSession, srcDir: String, schema: StructType,
      sink: Sink, checkpointDir: String,
      prepare: DataFrame => DataFrame = identity,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    applyCleanupPolicy(spark, sink, checkpointDir)
    // the replicated table registers as a Catalog binding, so it is
    // immediately queryable by name AND materialized views can hang
    // off it — the reference stack's production shape (Data Transfer
    // feeds a table; MVs keep the dashboards fresh). The binding's
    // schema resolves from the parquet files, so registration happens
    // per batch below (the first batch creates the table).
    // upfront registration with the PREPARED schema (derived on an
    // empty typed frame), so MVs can be created before the first
    // batch arrives — CH's create-MV-then-attach-transfer order.
    // The binding name resolves PER CALL (currentName): a re-activation
    // after a RENAME/EXCHANGE must refresh the table under the name it
    // carries now, not resurrect the original transfer-suffixed name.
    val preparedSchema = prepare(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)).schema
    def binding(sc: StructType) = graft.sources.Binding(
      currentName(sink), tableDir(sink), dateCol = Some(sink.dateCol),
      orderKey = sink.orderKey, schema = Some(sc))
    graft.sources.Catalog.register(spark, binding(preparedSchema))
    val reader = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
    val writer = src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotence marker: a batch REPLAYED after it fully
        // processed (checkpoint lag, the common restart case) must
        // not re-append the table or re-fold MV counters. Underscore
        // files are invisible to parquet readers. A crash strictly
        // inside the batch still replays it: the TABLE append is
        // at-least-once in that window (duplicate raw rows; versioned
        // tables resolve them at read time via FINAL/latestVersions,
        // CH's own replication contract), while MV folds stay
        // exactly-once — each fold stamps its batch id inside the
        // atomically-swapped state (mergeInsert skips a stamped
        // batch), so exact sum/count states never double-fold.
        val marker = new org.apache.hadoop.fs.Path(
          tableDir(sink), s"_graft_batch_$batchId")
        val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(marker)) {
          val prepared = prepare(batch)
          // MVs fold the SAME frame that lands in the table; cached
          // so the batch plan executes once for write + all triggers.
          // Looked up under the directory's CURRENT name, so views
          // follow the table through a mid-stream RENAME/EXCHANGE.
          val mvs = graft.plans.ChMatView.onTable(currentName(sink))
          if (mvs.nonEmpty) prepared.persist()
          try {
            Warehouse.write(prepared, tableDir(sink), sink.dateCol,
              sink.orderKey)
            graft.sources.Catalog.register(spark,
              binding(prepared.schema))
            mvs.foreach(mv => graft.plans.ChMatView.mergeInsert(
              spark, mv, prepared, batchId = Some(batchId)))
            fs.create(marker, true).close()
          } finally if (mvs.nonEmpty) prepared.unpersist()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Activate with AvailableNow and block until the drain completes. */
  def runToCompletion(spark: SparkSession, srcDir: String,
      schema: StructType, sink: Sink, checkpointDir: String,
      prepare: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    activate(spark, srcDir, schema, sink, checkpointDir, prepare,
      availableNow = true, maxFilesPerTrigger).awaitTermination()
}
