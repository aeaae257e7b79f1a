package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.Warehouse
import graft.streaming.MatView

/** Ingest-time materialized HLL rollup (the AggregatingMergeTree MV):
  * per-batch merge, |groups|-bounded state, coarser-grain estimates.
  */
class MatViewSpec extends SparkSpec {
  import spark.implicits._

  private def base(name: String): String = tempDir(s"mv_$name")

  test("multi-batch rollup converges to the exact distinct counts") {
    val b = base("conv")
    // 3 source files -> 3 micro-batches with maxFilesPerTrigger=1;
    // user u appears for day d when u % 3 == d % 3 (overlap across files)
    val rows = for (f <- 0 until 3; u <- 0 until 90; if u % 3 == f)
      yield (s"day$f", u.toLong)
    val df = rows.toDF("day", "uid")
    df.repartition(3).write.parquet(s"$b/src")
    MatView.runHllRollup(spark, s"$b/src", df.schema, s"$b/state",
      s"$b/ckpt", groupCols = Seq("day"), keyCol = "uid",
      maxFilesPerTrigger = Some(1))
    val state = MatView.readState(spark, s"$b/state")
    assert(state.count() == 3) // one sketch row per group, period
    val est = MatView.estimateAt(state, Seq(col("day")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // sparse-mode HLL is exact at these cardinalities
    assert(est == Map("day0" -> 30L, "day1" -> 30L, "day2" -> 30L))
  }

  test("coarser-grain estimate merges states, and replays are no-ops") {
    val b = base("grain")
    val rows = (0 until 200).map(u => (s"d${u % 2}", (u % 100).toLong))
    val df = rows.toDF("day", "uid")
    df.repartition(2).write.parquet(s"$b/src")
    MatView.runHllRollup(spark, s"$b/src", df.schema, s"$b/state",
      s"$b/ckpt", groupCols = Seq("day"), keyCol = "uid")
    // all-time grain: users overlap across days -> distinct union, not sum
    val total = MatView.estimateAt(
      MatView.readState(spark, s"$b/state"), Seq(lit(1).as("one")))
      .collect().head.getLong(1)
    assert(total == 100L)
    // re-activation with the same checkpoint sees no new files: the
    // state is untouched (and HLL union would absorb a replay anyway)
    val before = MatView.readState(spark, s"$b/state")
      .agg(sum(crc32(col("sk"))), count(lit(1))).collect().head
    MatView.runHllRollup(spark, s"$b/src", df.schema, s"$b/state",
      s"$b/ckpt", groupCols = Seq("day"), keyCol = "uid")
    val after = MatView.readState(spark, s"$b/state")
      .agg(sum(crc32(col("sk"))), count(lit(1))).collect().head
    assert(before == after)
  }

  test("batch-shaped backfill merges through the same path") {
    val b = base("backfill")
    MatView.mergeBatch(spark,
      Seq(("a", 1L), ("a", 2L)).toDF("g", "k"), s"$b/state",
      Seq("g"), "k")
    MatView.mergeBatch(spark,
      Seq(("a", 2L), ("a", 3L), ("b", 9L)).toDF("g", "k"), s"$b/state",
      Seq("g"), "k")
    val est = MatView.estimateAt(
      MatView.readState(spark, s"$b/state"), Seq(col("g")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("a" -> 3L, "b" -> 1L)) // {1,2} u {2,3} = 3
  }

  private val batch1 = Seq(("a", 1L), ("b", 2L))
  private val batch2 = Seq(("a", 3L), ("c", 4L))

  private def fold(batch: Seq[(String, Long)], stateDir: String): Unit =
    MatView.mergeBatch(spark, batch.toDF("g", "k"), stateDir, Seq("g"), "k")

  private def estimates(stateDir: String): Map[String, Long] =
    MatView.estimateAt(MatView.readState(spark, stateDir), Seq(col("g")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Fold batch1 into `<b>/state`, then leave batch2's swap crashed
    * between its renames: the state retired, its successor staged.
    * Returns (state, retired copy, staged copy).
    */
  private def crashedSwap(b: String): (File, File, File) = {
    fold(batch1, s"$b/state")
    val state = new File(s"$b/state")
    val retired = new File(b, ".state_retired_1")
    val staged = new File(b, ".state_next_1")
    assert(state.renameTo(retired))
    fold(batch1 ++ batch2, s"$b/other")
    assert(new File(s"$b/other").renameTo(staged))
    (state, retired, staged)
  }

  test("a fold after a crashed state swap, past the grace period, " +
      "restores the retired state first") {
    val b = base("swapold")
    fold(batch1, s"$b/clean")
    fold(batch2, s"$b/clean")
    val (_, retired, staged) = crashedSwap(b)
    val old = System.currentTimeMillis() - Warehouse.recoveryGraceMs - 60000
    retired.setLastModified(old)
    staged.setLastModified(old)
    fold(batch2, s"$b/state")
    assert(estimates(s"$b/state") == estimates(s"$b/clean"))
    assert(!retired.exists() && !staged.exists())
  }

  test("a fold inside the grace period of a crashed state swap fails " +
      "and leaves both copies intact") {
    val b = base("swapfresh")
    val (state, retired, staged) = crashedSwap(b)
    def contents(f: File) = f.list().sorted.toSeq
    val (r0, s0) = (contents(retired), contents(staged))
    val e = intercept[IllegalStateException](fold(batch2, s"$b/state"))
    assert(e.getMessage.contains(retired.getName), e.getMessage)
    assert(!state.exists())
    assert(contents(retired) == r0 && contents(staged) == s0)
  }
}
