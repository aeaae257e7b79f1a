package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Ingest-time materialized rollup — the engine's form of ClickHouse's
  * `CREATE MATERIALIZED VIEW ... ENGINE = AggregatingMergeTree AS
  * SELECT day, type, uniqState(user) ... GROUP BY day, type`: every
  * INSERT folds its partial aggregate states into a persistent rollup
  * table, so distinct-count queries read |groups| sketch rows (~1.5 KB
  * each) instead of rescanning raw history.
  *
  * Spark-native mapping: the ingest stream's `foreachBatch` computes
  * the batch's partial HLL sketches (map-side, one small aggregate per
  * micro-batch), unions them with the persisted state by group, and
  * swaps the state table atomically. Cost per batch is
  * O(batch + |groups|), NEVER O(history) — the property that keeps an
  * always-on rollup viable at 100 TB/day ingest. Restart safety comes
  * from the algebra, not bookkeeping: HLL union is idempotent (set
  * semantics), so a replayed batch merges to the identical state.
  *
  * Query side: [[readState]] + `hll_union_agg`/`hll_sketch_estimate`
  * answer ANY coarser grain (week, month, all-time) from the daily
  * states — CH's uniqMerge over AggregatingMergeTree parts.
  */
object MatView {

  /** lgConfigK for all sketches (~0.8% rsd, ~1.5 KB per group). */
  val LgK = 14

  /** Run the rollup to completion over everything currently in
    * `srcDir`: maintain `stateDir` as one sketch row per
    * `groupCols` group, distinct-counting `keyCol`.
    *
    * @param prepare per-batch ELT before grouping (derive day columns
    *                etc.) — the MV's SELECT clause
    */
  def runHllRollup(spark: SparkSession, srcDir: String, schema: StructType,
      stateDir: String, checkpointDir: String,
      groupCols: Seq[String], keyCol: String,
      prepare: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(spark, prepare(batch), stateDir, groupCols, keyCol)
      }
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }

  /** Fold one batch's partial sketches into the state table. Exposed
    * for batch-shaped backfills (the same merge serves both).
    */
  def mergeBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
      groupCols: Seq[String], keyCol: String): Unit =
    foldPartial(spark,
      batch.groupBy(groupCols.map(c => col(s"`$c`")): _*)
        .agg(hll_sketch_agg(col(s"`$keyCol`"), lit(LgK)).as("sk")),
      stateDir, groupCols, "sk")

  /** Union a pre-computed partial-sketch frame into the state table
    * and swap atomically — the merge half of [[mergeBatch]], also
    * driven by the MATERIALIZED VIEW insert trigger
    * ([[graft.plans.ChMatView]]) whose partials carry user-defined
    * group expressions and sketch alias.
    */
  def foldPartial(spark: SparkSession, partial: DataFrame,
      stateDir: String, groupCols: Seq[String], sketchCol: String): Unit = {
    val gcols = groupCols.map(c => col(s"`$c`"))
    graft.sources.Warehouse.recover(spark, stateDir)
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    val fs = statePath.getFileSystem(spark.sessionState.newHadoopConf())
    val merged =
      if (!fs.exists(statePath)) partial
      else spark.read.parquet(stateDir).unionByName(partial)
        .groupBy(gcols: _*)
        .agg(hll_union_agg(col(s"`$sketchCol`"), lit(true))
          .as(sketchCol))
    swapState(spark, merged, stateDir)
  }

  /** Materialize `merged` and swap it in as the new state table
    * ([[graft.sources.Warehouse.replaceDir]]; the fold runs
    * [[graft.sources.Warehouse.recover]] before it reads the state).
    * The frame may READ the current state (the usual fold) — it
    * localCheckpoints BEFORE any file moves, so the plan never reads
    * files the swap is replacing. State tables are |groups|-sized, so
    * the checkpoint stays tiny.
    *
    * `publishMarker`, when set, names an underscore file written into
    * the NEW state dir before the rename — data and marker publish in
    * the same atomic move, so a reader can trust "marker present ⇒
    * this exact state includes the marked fold" with no crash window
    * between them ([[graft.plans.ChMatView.mergeInsert]]'s per-batch
    * idempotence stamp).
    */
  def swapState(spark: SparkSession, merged: DataFrame,
      stateDir: String, publishMarker: Option[String] = None): Unit = {
    val rows = merged.localCheckpoint(eager = true)
    graft.sources.Warehouse.replaceDir(spark, stateDir) { staged =>
      rows.write.parquet(staged)
      publishMarker.foreach { m =>
        val marker = new org.apache.hadoop.fs.Path(staged, s"_$m")
        marker.getFileSystem(spark.sessionState.newHadoopConf())
          .create(marker, true).close()
      }
    }
  }

  /** The persisted rollup state (one sketch row per group). */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(stateDir)

  /** Estimate distinct counts at a coarser grain: re-group the state
    * and MERGE sketches — never touches raw history.
    */
  def estimateAt(state: DataFrame, regroup: Seq[org.apache.spark.sql.Column],
      as: String = "est"): DataFrame =
    state.groupBy(regroup: _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))).as(as))
}
