package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Dump `.explain("formatted")` for named declared queries to files —
  * the per-round optimization evidence (plans/r<N>/<query>_<tag>.txt).
  * Usage: `runMain graft.ExplainDump <sfDir> <outDir> <tag> <query ...>`.
  * A name that matches no declared query is rejected before any work;
  * every query that builds is dumped, and the main exits non-zero when
  * any query threw. Not part of the driver contract. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val tag = args(2)
    val names = args.drop(3).distinct.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"no declared query named: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    val failed = names.filter { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        println(s"EXPLAIN dumped $name -> $outDir/${name}_$tag.txt")
        false
      } catch { case NonFatal(e) =>
        System.err.println(s"EXPLAIN $name failed: ${e.getMessage}")
        true
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"EXPLAIN failed for ${failed.size} of ${names.size}: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
