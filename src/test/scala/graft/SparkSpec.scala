package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.MetricaQueries

/** One shared local session for the whole suite (JVM-wide, forked by
  * sbt). Individual suites `import spark.implicits._` off the stable
  * `spark` val.
  */
object SparkSpec {
  lazy val spark: SparkSession = Graft.local("graft-test")
}

trait SparkSpec extends AnyFunSuite {
  val spark: SparkSession = SparkSpec.spark

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
}
