package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One op of a workload. `run` is timed; it returns the op's checks,
  * which run after the timer stops and give one (passed, description)
  * pair per check.
  */
final case class Op(kind: String, run: () => (() => Seq[(Boolean, String)]))

/** A workload: set-up that can be repeated, then passes of ops. */
trait Workload {
  /** One set-up repetition; the last one leaves the inputs in place. */
  def setup(rep: Int): Unit
  /** Ops per pass. */
  def passSize: Int
  /** Op `i` of pass `pass`; `warm` marks the untimed warm-up passes. */
  def op(pass: Int, i: Int, warm: Boolean): Op
  /** Rows of the workload's source tables; one pass reads them all. */
  def sourceRows: Long
  /** Input sizes and parameters, for the run record. */
  def inputs: Map[String, Any]
  /** Per-layer measurements of the traced passes. */
  def layerMetrics(traced: Seq[Trace.Span], passes: Int,
      counters: SparkCounters): Map[String, Double]
  /** Extra record fields (e.g. outputs left for an external check). */
  def extra: Map[String, Any] = Map.empty
  def warmPasses: Int = 1
  def minPasses: Int = 2
}

/** Benchmark process: runs one workload against the engine in `local[N]`,
  * one client thread issuing ops in a closed loop, and writes the raw
  * measurements as JSON for `run.py` to report.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <scratch dir> <result json> <scale>`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, scratch: String, out: String, scale: Double)

  val setupReps = 3

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7, "usage: perfbench.Main <workload> <seed> " +
      "<seconds> <trace 0|1> <scratch> <out.json> <scale>")
    val args = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), argv(6).toDouble)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = graft.Graft.tune(SparkSession.builder()
        .master(s"local[$cores]").appName("perfbench"), cores.toString)
      .config("spark.local.dir", s"${args.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.scratch}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val tr = new Trace(spark.sparkContext, enabled = false)
      val w: Workload = args.workload match {
        case "metrica_pipeline" => new MetricaPipeline(spark, args, tr)
        case "curation" => new Curation(spark, args, tr)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val record = new Harness(spark, args, cores, tr, w).run()
      Files.write(Paths.get(args.out),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(record))
    } finally spark.stop()
  }
}

/** Runs set-up, the warm-up passes and the timed passes of one workload. */
final class Harness(spark: SparkSession, args: Main.Args, cores: Int,
    tr: Trace, w: Workload) {

  private val opRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  private def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 50) errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  // JVM and host counter deltas summed over the traced ops' run time
  private val tracedHost = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def runOp(pass: Int, i: Int, phase: String): Unit = {
    val op = w.op(pass, i, warm = phase == "warm")
    val h0 = if (tr.enabled) Some(Host.snap()) else None
    val t0 = System.nanoTime()
    val result = try Right(tr.op(op.kind)(op.run())) catch {
      case NonFatal(e) => Left(e)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    h0.foreach(h => Host.delta(h, Host.snap()).foreach { case (k, v) => tracedHost(k) += v })
    result match {
      case Left(e) =>
        attempted += 1
        fail(s"${op.kind} (pass $pass): ${describe(e)}")
      case Right(checkAll) =>
        val checks = try checkAll() catch {
          case NonFatal(e) => Seq(false -> s"check threw ${describe(e)}")
        }
        attempted += math.max(1, checks.size)
        checks.filterNot(_._1).foreach(c => fail(s"${op.kind} (pass $pass): ${c._2}"))
    }
    opRecords += Map("phase" -> phase, "pass" -> pass, "kind" -> op.kind,
      "ms" -> ms, "ok" -> result.isRight)
    System.err.println(f"[perfbench] $phase pass $pass ${op.kind} $ms%.1f ms")
  }

  private val streamCounters = new StreamCounters
  private val sparkCounters = new SparkCounters

  private def setTracing(on: Boolean): Unit = if (on != tr.enabled) {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    if (on) {
      spark.sparkContext.addSparkListener(sparkCounters)
      spark.streams.addListener(streamCounters)
    } else {
      spark.sparkContext.removeSparkListener(sparkCounters)
      spark.streams.removeListener(streamCounters)
    }
    tr.enabled = on
  }

  def run(): Map[String, Any] = {
    val setupS = (0 until Main.setupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    var pass = 0
    (0 until w.warmPasses).foreach { _ =>
      (0 until w.passSize).foreach(i => runOp(pass, i, "warm"))
      pass += 1
    }
    // Trace mode alternates untraced and traced passes, at least
    // untraced-traced-untraced: the untraced passes bracket the traced
    // ones, so a warm-up trend cancels out of the gap between them, the
    // tracing overhead.
    var tracedPasses = 0
    val h0 = Host.snap()
    var timedPasses = 0
    val minPasses = if (args.trace) math.max(3, w.minPasses) else w.minPasses
    while ((System.nanoTime() - h0.wallNs) / 1e9 < args.seconds ||
        timedPasses < minPasses) {
      val traced = args.trace && timedPasses % 2 == 1
      setTracing(traced)
      (0 until w.passSize).foreach(i =>
        runOp(pass, i, if (traced) "traced" else "timed"))
      if (traced) tracedPasses += 1
      pass += 1
      timedPasses += 1
    }
    val host = Host.delta(h0, Host.snap())
    setTracing(false)

    // spans exist only for the traced passes
    val spans = tr.spans.toSeq
    val self = tr.selfSeconds()
    val perLayer = if (!args.trace) Map.empty[String, Double] else {
      val c = sparkCounters.sum(spans.map(_.id))
      val n = tracedPasses.toDouble
      val wall = spans.filter(_.parent == -1).map(_.seconds).sum
      val build = spans.filter(_.layer == "queries")
      Map(
        "trace.op_wall_s" -> wall / n,
        "queries.build_s" -> build.map(_.seconds).sum / n,
        "queries.build_jobs" -> sparkCounters.sum(build.map(_.id)).jobs / n,
        "spark.jobs" -> c.jobs / n,
        "spark.stages" -> c.stages / n,
        "spark.tasks" -> c.tasks / n,
        "spark.task_s" -> c.taskMs / 1e3 / n,
        "spark.core_util" -> (if (wall > 0) c.taskMs / 1e3 / (wall * cores) else 0.0),
        "spark.shuffle_read_bytes" -> c.shuffleRead / n,
        "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
        "spark.spill_bytes" -> c.spill / n,
        "spark.input_bytes" -> c.input / n,
        "spark.output_bytes" -> c.output / n,
        "spark.unattributed_jobs" -> sparkCounters.unattributedJobs.toDouble,
        "host.other_cpu_share" -> host("other_cpu_share"),
        "host.iowait_steal_share" -> host("iowait_steal_share"),
        "host.psi_cpu_some_ms" -> host("psi_cpu_some_ms"),
        "host.psi_io_some_ms" -> host("psi_io_some_ms"),
        "host.psi_mem_some_ms" -> host("psi_mem_some_ms"),
        "jvm.gc_s" -> tracedHost("gc_s") / n,
        "jvm.cpu_s" -> tracedHost("cpu_s") / n,
        "jvm.jit_ms" -> tracedHost("jit_ms") / n) ++
        Seq("bench", "streaming", "sources", "plans", "queries", "spark")
          .map(l => s"self.${l}_s" -> spans.filter(_.layer == l).map(s => self(s.id)).sum / n) ++
        w.layerMetrics(spans, tracedPasses, sparkCounters) ++
        streamMetrics(tracedPasses)
    }
    val spanRows = spans.map(s => Map("trace" -> s.trace, "id" -> s.id,
      "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> (s.start - h0.wallNs) / 1e6, "ms" -> s.seconds * 1e3,
      "self_ms" -> self(s.id) * 1e3, "jobs" -> sparkCounters.sum(Seq(s.id)).jobs))
    Map(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "cores" -> cores,
      "trace" -> args.trace,
      "inputs" -> w.inputs,
      "source_rows" -> w.sourceRows,
      "pass_size" -> w.passSize,
      "setup_s" -> setupS,
      "ops" -> opRecords.toSeq,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "host" -> host,
      "peak_rss_mb" -> Host.peakRssMb(),
      "per_layer" -> perLayer,
      "spans" -> spanRows) ++ w.extra
  }

  private def streamMetrics(passes: Int): Map[String, Double] = {
    val runs = streamCounters.runs
    val rows = runs.map(_._2).sum.toDouble
    val ms = runs.map(_._3).sum.toDouble
    Map(
      "streaming.batches" -> runs.map(_._1).sum.toDouble / math.max(1, passes),
      "streaming.batch_rows_per_s" -> (if (ms > 0) rows / (ms / 1e3) else 0.0))
  }
}

/** Scratch-directory helpers: every path the benchmark writes is below
  * the per-run root `run.py` creates and removes.
  */
object Dirs {
  def fresh(path: String): String = {
    graft.FsUtil.rmTree(path)
    new File(path).mkdirs()
    path
  }

  /** Bytes of the regular files below `path`, and their count. */
  def size(path: String): (Long, Long) = {
    val files = Option(new File(path)).filter(_.exists).toSeq.flatMap(walk)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.map(_.length).sum, files.size.toLong)
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
}
