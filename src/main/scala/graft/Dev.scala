package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Dev-only per-query tools (not part of the driver contract) over the
  * registered queries and the data dir `$SPARK_GRAFT_SF_DIR` (for the
  * sf1 slice, point it at the dir [[Bench]]'s sf1 section generates):
  *
  *   sbt "runMain graft.Dev time qNNN_name[,qMMM_name...] [reps]"
  *
  * runs each named query once to warm up, then `reps` (default 3) timed
  * reps with the noop-sink materialization [[Bench]] uses, printing
  * per-rep wall, GC and process CPU — the contention discriminator —
  * so a perf change is measured without paying for the whole suite.
  *
  *   sbt "runMain graft.Dev explain [qNNN_name ...]"
  *
  * prints the formatted physical plan of the named queries (all when
  * none are named), to check broadcasts, pushdown and codegen spans.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "")
    val queries = SparkEntry.queries
    args.toSeq match {
      case _ if dir.isEmpty => usage()
      case Seq("time", names, rest @ _*) =>
        val reps = rest.headOption.map(_.toInt).getOrElse(3)
        val spark = Graft.local("graft-dev")
        val os = ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
        for (name <- names.split(',').toSeq; r <- 0 to reps) {
          val g0 = gcMillis; val c0 = os.getProcessCpuTime
          val t0 = System.nanoTime()
          queries(name)(spark, dir).write.format("noop").mode("overwrite")
            .save()
          val t = (System.nanoTime() - t0) / 1e9
          val tag = if (r == 0) "warm" else s"rep$r"
          println(f"[time] $name $tag: $t%.2fs " +
            f"gc=${(gcMillis - g0) / 1e3}%.2fs " +
            f"cpu=${(os.getProcessCpuTime - c0) / 1e9}%.1fs")
        }
        spark.stop()
      case Seq("explain", names @ _*) =>
        val spark = Graft.local("graft-dev")
        val selected = if (names.nonEmpty) names else queries.keys.toSeq.sorted
        selected.foreach { n =>
          println(s"===== $n =====")
          try queries(n)(spark, dir).explain("formatted")
          catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
        }
        spark.stop()
      case _ => usage()
    }
  }

  private def usage(): Unit = {
    System.err.println("usage: SPARK_GRAFT_SF_DIR=<dir> graft.Dev " +
      "time q1[,q2...] [reps] | explain [q...]")
    sys.exit(2)
  }
}
