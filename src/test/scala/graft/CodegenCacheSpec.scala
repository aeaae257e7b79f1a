package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.queries.MetricaQueries
import graft.schemas.Metrica
import graft.sources.{CsvGzip, Warehouse}
import graft.streaming.Ingest

/** The codegen cache holds the engine's working set: re-running the
  * same plans in one session compiles no generated class again.
  *
  * The body is the Metrica path on the full-width fixture shapes
  * (224-column visits written, compacted and charted with Q1/Q2;
  * 106-column hits written, exported as day-sliced CSV-gzip and
  * reconciled) plus the curation operators' near-dup and PQ training
  * passes. Together they need more distinct generated classes than
  * Spark's default cache of 100 (163 when the spec runs alone in a
  * JVM), so under the default LRU every class is evicted before its
  * reuse and the second run recompiles most of them (154); with
  * [[Graft.tune]]'s sizing it recompiles none.
  *
  * The spec turns off `spark.sql.codegen.useIdInClassName` while it
  * runs. A whole-stage class is named after its codegen stage id, and
  * under AQE the ids follow the order in which concurrent query stages
  * finish, so a plan with parallel stages can get different class
  * names from run to run whatever the cache size. That race is not
  * what this spec pins.
  */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  private val days = Seq("2023-11-01", "2023-11-02", "2023-11-03")

  /** Generated classes Janino has compiled so far in this JVM. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // 106-column hits over the three export days: the clustering keys,
  // CSV-quoting strings, array and IPv6 binary columns populated, the
  // rest typed nulls
  private lazy val hits = {
    val rows = (0 until 300).map { i =>
      val day = java.sql.Date.valueOf(days(i % 3))
      (1000L + i % 5, day, 10000L + i % 101, 1L + i,
        s"""https://example.com/p/${i % 40}?q=a,b&r="${i % 9}"""",
        s"Title $i, part ${i % 7}",
        (0 until i % 4).map(g => (i % 10 + g).toLong),
        Array.tabulate(16)(b => ((i + b) % 251).toByte))
    }
    Metrica.conform(rows.toDF("CounterID", "EventDate",
      "CounterUserIDHash", "WatchID", "URL", "Title", "GoalsReached",
      "ClientIP6"), Metrica.hits)
  }

  // near-duplicate families: doc i shares its first eight words with
  // every doc of the same i % 20 family
  private lazy val docs = (0 until 200).map { i =>
    (i.toLong, ((0 until 8).map(w => s"w${i % 20}_$w") ++
      (0 until 4).map(w => s"x${i}_$w")).mkString(" "))
  }.toDF("doc_id", "text")

  private lazy val vecs = spark.range(64).select(col("id").as("vec_id"),
    transform(sequence(lit(1), lit(8)), d =>
      sin(col("id") * d.cast("double")) * 10.0).as("embedding"))

  private def body(base: String): Unit = {
    Warehouse.write(MetricaQueries.rawVisitPairs(spark), s"$base/visits",
      Metrica.visitsPartitionDate, Metrica.visitsOrderKey)
    Warehouse.compact(spark, s"$base/visits", s"$base/compacted",
      Metrica.visitsPartitionDate, Metrica.visitsOrderKey,
      idCols = Seq("VisitID"), versionCol = "VisitVersion", signCol = "Sign")
    Warehouse.write(hits, s"$base/hits", Metrica.hitsPartitionDate,
      Metrica.hitsOrderKey)
    val stored = Warehouse.read(spark, s"$base/hits").drop(Warehouse.weekCol)
    CsvGzip.exportDaySliced(CsvGzip.encodeComplex(stored), col("EventDate"),
      days, s"$base/export")
    val exported = CsvGzip.read(spark, s"$base/export",
      CsvGzip.encodedSchema(Metrica.hits)).count()
    assert(exported == 300L)
    val compacted = Warehouse.read(spark, s"$base/compacted")
    MetricaQueries.q1Visits(compacted, "2023-11-01", "2023-11-08").collect()
    MetricaQueries.q2TrafficSources(compacted, "2023-11-01", "2023-11-14")
      .collect()
    Dedup.nearDupPairs(docs, "doc_id", "text").collect()
    Similarity.pqCodebooks(vecs, "vec_id", "embedding", m = 2, k = 4,
      iters = 2)
  }

  test("a second run of the same Metrica and curation plans compiles no " +
      "generated class") {
    val root = tempDir("codegen_cache")
    val idInName = "spark.sql.codegen.useIdInClassName"
    val prev = spark.conf.getOption(idInName)
    spark.conf.set(idInName, "false")
    try {
      body(s"$root/run1")
      val before = compiles
      body(s"$root/run2")
      assert(compiles - before == 0L,
        "warm re-run recompiled generated classes: the codegen cache " +
          "is smaller than the working set")
    } finally {
      prev.fold(spark.conf.unset(idInName))(spark.conf.set(idInName, _))
      FsUtil.rmTree(root)
    }
  }

  test("a warm streaming activation into a fresh table compiles no " +
      "generated class") {
    val root = tempDir("codegen_ingest")
    val visits = MetricaQueries.rawVisitPairs(spark)
    // two source files, one per micro-batch
    visits.repartition(2).write.parquet(s"$root/src")
    def activate(run: String): Unit = {
      val sink = Ingest.Sink(s"$root/$run", "visits", s"cg_$run",
        Metrica.visitsPartitionDate, Metrica.visitsOrderKey)
      Ingest.runToCompletion(spark, s"$root/src", visits.schema, sink,
        s"$root/${run}_checkpoint", maxFilesPerTrigger = Some(1))
      assert(Seq(0, 1).forall(b => new java.io.File(
        Ingest.tableDir(sink), s"_graft_batch_$b").exists),
        "the activation ran fewer than two micro-batches")
    }
    try {
      activate("run1")
      val before = compiles
      activate("run2")
      val n = compiles - before
      assert(n == 0L,
        s"a second activation recompiled $n of its batch plans' classes")
    } finally FsUtil.rmTree(root)
  }
}
