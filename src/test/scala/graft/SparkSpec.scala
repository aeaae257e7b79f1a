package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.MetricaQueries

/** One shared local session for the whole suite (JVM-wide, forked by
  * sbt). Individual suites `import spark.implicits._` off the stable
  * `spark` val.
  */
object SparkSpec {

  /** Once the session exists, [[runDir]] is also the JVM's
    * `java.io.tmpdir`: the scratch dirs of the registered queries a
    * spec runs ([[Graft.scratchPath]]) land there and go with it.
    * Spark's own local dirs were placed before the switch and stay
    * Spark's to remove.
    */
  lazy val spark: SparkSession = {
    val s = Graft.local("graft-test")
    System.setProperty("java.io.tmpdir", runDir.toString)
    s
  }

  /** This test run's temp root, named by the JVM's pid, so two
    * checkouts running the suite at once share no directory. It is
    * removed when the JVM exits, after Spark's shutdown hooks (a lower
    * Hadoop hook priority): those delete Spark's own temp dirs, some of
    * them under this root.
    */
  private lazy val runDir: Path = {
    val d = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_specs_${ProcessHandle.current.pid}")
    FsUtil.rmTree(d.toString) // a dead run's, under a reused pid
    Files.createDirectories(d)
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(() => FsUtil.rmTree(d.toString), 0)
    d
  }

  private val dirs = new java.util.concurrent.atomic.AtomicInteger

  /** A new empty directory under [[runDir]]; `tag` names it. */
  def tempDir(tag: String): String =
    Files.createDirectory(
      runDir.resolve(s"${tag}_${dirs.incrementAndGet()}")).toString
}

trait SparkSpec extends AnyFunSuite {
  val spark: SparkSession = SparkSpec.spark

  /** [[SparkSpec.tempDir]]: a new empty directory, removed with the run. */
  protected def tempDir(tag: String): String = SparkSpec.tempDir(tag)

  /** Whether `q` reads a projection's rollup: one of its input files
    * lies in a `__proj_` dir. Its plan string cannot tell: it cuts a
    * scan's path at `spark.sql.maxMetadataStringLength` (100 chars).
    */
  protected def readsProjection(q: org.apache.spark.sql.DataFrame): Boolean =
    q.inputFiles.exists(_.contains("__proj_"))

  /** `p`, a file of the reference checkout; cancels the calling test,
    * naming `p`, where the checkout does not hold it.
    */
  protected def referenceFile(p: Path): Path = {
    assume(Files.isRegularFile(p), s"reference checkout file $p is absent")
    p
  }

  /** [[referenceFile]] of `rel` under [[MetricaQueries.referenceRoot]]. */
  protected def referenceFile(rel: String): Path =
    referenceFile(MetricaQueries.referenceRoot.resolve(rel))

  /** Spark jobs triggered while `body` runs (listener-counted; the
    * shared session is quiet between tests).
    */
  protected def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // listener bus is async — wait until the count is stable
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(150)
        val cur = n.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }
}
