package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.queries.MetricaQueries
import graft.schemas.Metrica
import graft.sources.{CsvGzip, Warehouse}
import graft.streaming.Ingest

/** The reference's path, one full pass per op:
  *
  *  1. stream the visit state/cancel pairs into the week-partitioned
  *     table, several micro-batches (`Ingest.runToCompletion`);
  *  2. compact it to the live state (`Warehouse.compact`);
  *  3. the DataLens charts: Q1 and Q2 as DataFrame programs over the
  *     compacted table, then Q1 as ClickHouse SQL text (WITH TOTALS,
  *     LIMIT 0, 10) through `spark.sql`, Sign-weighted over the raw table
  *     by the catalog name the ingest registered;
  *  4. write the hits table, export it day-sliced as CSVWithNames+gzip,
  *     and reconcile the export by reading it back.
  *
  * Each pass works in a fresh directory; its outputs are checked against
  * the generator's answers and removed after the timer stops.
  */
final class MetricaPipeline(spark: SparkSession, args: Main.Args, tr: Trace)
    extends Workload {

  val nHits: Long = math.max(30L, math.round(MetricaGen.defaultHits * args.scale))
  val nVisits: Long = nHits / 3
  private val visitFiles = 4
  private val filesPerBatch = 2
  private lazy val expected = new MetricaGen.Expected(args.seed, nHits, nVisits)
  private val root = s"${args.scratch}/metrica_pipeline"
  private var srcDir = ""
  private var visitsSchema: StructType = _

  def setup(rep: Int): Unit = {
    val dir = Dirs.fresh(s"$root/src-$rep")
    MetricaGen.visitsFrame(spark, args.seed, nVisits).repartition(visitFiles)
      .write.parquet(s"$dir/visits")
    MetricaGen.hitsFrame(spark, args.seed, nHits).repartition(4)
      .write.parquet(s"$dir/hits")
    if (rep > 0) graft.FsUtil.rmTree(s"$root/src-${rep - 1}")
    srcDir = dir
    visitsSchema = spark.read.parquet(s"$dir/visits").schema
  }

  def passSize: Int = 1
  def sourceRows: Long = expected.sourceRows
  def inputs: Map[String, Any] = Map("hits" -> nHits, "visits" -> nVisits,
    "visit_rows" -> expected.visitRows, "visit_source_files" -> visitFiles,
    "max_files_per_trigger" -> filesPerBatch)

  /** A seeded seven-day chart interval inside the visit dates, new on
    * every pass, as a dashboard user changing the interval would ask.
    */
  private def interval(pass: Int): (Int, Int) = {
    val from = MetricaGen.pick(args.seed, pass, 900, MetricaGen.visitDays - 6)
    (from, from + 6)
  }

  // chart latencies and plan-phase milliseconds of the traced passes
  private val chartMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var tracedCharts = 0

  /** Run one chart: build its DataFrame, collect it. */
  private def chart(name: String, layer: String, call: String)(build: => DataFrame): Array[Row] = {
    val t0 = System.nanoTime()
    val df = tr.span(layer, call)(build)
    val rows = tr.span("spark", "collect")(df.collect())
    if (tr.enabled) {
      tracedCharts += 1
      chartMs(name) += (System.nanoTime() - t0) / 1e6
      df.queryExecution.tracker.phases.foreach { case (p, s) => phaseMs(p) += s.durationMs }
    }
    rows
  }

  def op(pass: Int, i: Int, warm: Boolean): Op = {
    val base = s"$root/pass-$pass"
    val (from, to) = interval(pass)
    val (f, t) = (MetricaGen.visitDay(from), MetricaGen.visitDay(to))
    val sink = Ingest.Sink(s"$base/wh", "visits", "bench",
      dateCol = Metrica.visitsPartitionDate, orderKey = Metrica.visitsOrderKey)
    Op("pipeline_pass", () => {
      tr.span("streaming", "Ingest.runToCompletion") {
        Ingest.runToCompletion(spark, s"$srcDir/visits", visitsSchema, sink,
          s"$base/checkpoint", maxFilesPerTrigger = Some(filesPerBatch))
      }
      tr.span("sources", "Warehouse.compact") {
        Warehouse.compact(spark, Ingest.tableDir(sink), s"$base/compacted",
          Metrica.visitsPartitionDate, Metrica.visitsOrderKey,
          idCols = Seq("VisitID"), versionCol = "VisitVersion", signCol = "Sign")
      }
      def compacted() = tr.span("sources", "Warehouse.read")(
        Warehouse.read(spark, s"$base/compacted"))
      val q1 = chart("q1_df", "queries", "MetricaQueries.q1Visits")(
        MetricaQueries.q1Visits(compacted(), f, t))
      val q2 = chart("q2_df", "queries", "MetricaQueries.q2TrafficSources")(
        MetricaQueries.q2TrafficSources(compacted(), f, t))
      val q1Sql = chart("q1_sql", "plans", "spark.sql")(
        spark.sql(Charts.q1Sql(Ingest.tableName(sink), f, t)))
      tr.span("sources", "Warehouse.write") {
        Warehouse.write(spark.read.parquet(s"$srcDir/hits"), s"$base/hits",
          Metrica.hitsPartitionDate, Metrica.hitsOrderKey)
      }
      tr.span("sources", "CsvGzip.exportDaySliced") {
        val hits = Warehouse.read(spark, s"$base/hits").drop(Warehouse.weekCol)
        CsvGzip.exportDaySliced(CsvGzip.encodeComplex(hits), col("EventDate"),
          (0 until MetricaGen.hitDays).map(MetricaGen.hitDay), s"$base/export")
      }
      val reconciled = tr.span("sources", "CsvGzip.read") {
        CsvGzip.read(spark, s"$base/export", CsvGzip.encodedSchema(Metrica.hits))
          .groupBy(col("EventDate")).count().collect()
      }
      () => try check(base, from, to, q1, q2, q1Sql, reconciled)
        finally graft.FsUtil.rmTree(base)
    })
  }

  private def check(base: String, from: Int, to: Int, q1: Array[Row],
      q2: Array[Row], q1Sql: Array[Row], reconciled: Array[Row]): Seq[(Boolean, String)] = {
    if (tr.enabled) recordSizes(base)
    val perDay = reconciled.map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val wantDay = (0 until MetricaGen.hitDays)
      .map(d => MetricaGen.hitDay(d) -> expected.hitsPerDay(d)).toMap
    val live = Warehouse.read(spark, s"$base/compacted").count()
    val (q1Days, q1Total) = Charts.q1Answer(q1)
    val (wantDays, wantTotal) = expected.q1(from, to)
    val q1Raw = Charts.q1Answer(q1Sql)
    Seq(
      (perDay.values.sum == nHits,
        s"reconciled export count ${perDay.values.sum} != generated hits $nHits"),
      (perDay == wantDay, s"export rows per day $perDay != $wantDay"),
      (live == expected.liveVisits,
        s"compacted live visits $live != expected ${expected.liveVisits}"),
      (q1Total.contains(q1Days.values.sum),
        s"Q1 TOTALS $q1Total != sum of day rows ${q1Days.values.sum}"),
      (q1Days == wantDays && q1Total.contains(wantTotal),
        s"Q1 over compacted $q1Days / $q1Total != expected $wantDays / $wantTotal"),
      (q1Raw == ((q1Days, q1Total)),
        s"Sign-weighted Q1 SQL over raw ingest $q1Raw != Q1 over compacted"),
      Charts.q2Check(q2, expected.q2(from, to, compacted = true)))
  }

  // sizes of the traced passes' outputs, summed; reported per pass
  private var sizedPasses = 0
  private var compactBytes, warehouseBytes, exportBytes, exportFiles = 0L

  private def recordSizes(base: String): Unit = {
    sizedPasses += 1
    compactBytes += Dirs.size(s"$base/compacted")._1
    warehouseBytes += Seq("wh", "compacted", "hits").map(d => Dirs.size(s"$base/$d")._1).sum
    val (b, f) = Dirs.size(s"$base/export")
    exportBytes += b
    exportFiles += f
  }

  def layerMetrics(traced: Seq[Trace.Span], passes: Int,
      counters: SparkCounters): Map[String, Double] = {
    val n = math.max(1, passes).toDouble
    def spanS(name: String) = traced.filter(_.name == name).map(_.seconds).sum / n
    val sized = math.max(1, sizedPasses).toDouble
    val charts = math.max(1, tracedCharts).toDouble
    val sqlSpans = traced.filter(_.name == "spark.sql")
    // the charts' scans: their build and collect spans
    val chartSpans = traced.filter(s => s.name == "collect" || s.name == "spark.sql" ||
      s.name.startsWith("MetricaQueries.")).map(_.id)
    Map(
      "sources.scan_bytes_per_query" -> counters.sum(chartSpans).input / charts,
      "streaming.ingest_s" -> spanS("Ingest.runToCompletion"),
      "sources.compact_s" -> spanS("Warehouse.compact"),
      "sources.compact_bytes_written" -> compactBytes / sized,
      "sources.warehouse_write_s" -> spanS("Warehouse.write"),
      "sources.warehouse_bytes" -> warehouseBytes / sized,
      "sources.export_s" -> spanS("CsvGzip.exportDaySliced"),
      "sources.export_bytes" -> exportBytes / sized,
      "sources.export_files" -> exportFiles / sized,
      "sources.reconcile_s" -> spanS("CsvGzip.read"),
      "plans.sql_parse_ms" -> (if (sqlSpans.isEmpty) 0.0
        else sqlSpans.map(_.seconds).sum * 1e3 / sqlSpans.size),
      "plans.analysis_ms" -> phaseMs("analysis") / charts,
      "plans.optimization_ms" -> phaseMs("optimization") / charts,
      "plans.planning_ms" -> phaseMs("planning") / charts) ++
      Seq("q1_df", "q2_df", "q1_sql").map(c => s"charts.${c}_ms" -> chartMs(c) / n)
  }
}
