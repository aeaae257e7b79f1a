package graft

import org.apache.spark.sql.functions._

import graft.functions.ch.toMonday
import graft.sources.Warehouse

/** `Warehouse.write` is a MergeTree INSERT: every task writes one file
  * sorted on (week, key) per week among its own rows, and nothing is
  * shuffled before the write.
  */
class WarehouseWriteSpec extends SparkSpec {
  import spark.implicits._

  private val parts = 3

  // 6,000 rows over 40 days (six weeks), in `parts` input partitions
  // that each hold rows of every week
  private def frame = spark.range(0L, 6000L, 1L, parts).select(
    date_add(lit("2023-10-30").cast("date"), (col("id") % 40).cast("int"))
      .as("d"),
    (col("id") % 97).as("k"), col("id"))

  test("one write runs one job and leaves at most one sorted file per " +
      "input partition in each week") {
    val dir = s"${tempDir("wh_write")}/t"
    val jobs = countJobs(Warehouse.write(frame, dir, "d", Seq("k", "id")))
    // the write job alone: no range-bounds sampling job before it
    assert(jobs == 1, s"Warehouse.write ran $jobs jobs")

    val stored = Warehouse.read(spark, dir)
      .withColumn("f", input_file_name())
    assert(stored.count() == 6000L)
    // every row sits in the week= dir of its date
    assert(stored.filter(toMonday(col("d")) =!= col(Warehouse.weekCol))
      .count() == 0L)
    val files = stored.groupBy(col(Warehouse.weekCol))
      .agg(countDistinct(col("f")).as("n"))
      .as[(java.sql.Date, Long)].collect()
    assert(files.length == 6)
    files.foreach { case (w, n) =>
      assert(n >= 1L && n <= parts, s"week $w holds $n files") }
    // every file is sorted on the key in row order
    val unsorted = stored.select(col("f"), col("k"), col("id"))
      .as[(String, Long, Long)].collect().groupBy(_._1).values
      .map(_.map(r => (r._2, r._3)).toSeq).count(ks => ks != ks.sorted)
    assert(unsorted == 0)
  }
}
