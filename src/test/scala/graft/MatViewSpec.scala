package graft

import org.apache.spark.sql.functions._

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
}
