package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named declared queries to files —
  * the per-round optimization evidence (plans/r<N>/<query>_<tag>.txt).
  * Usage: `runMain graft.ExplainDump <sfDir> <outDir> <tag> <query ...>`.
  * Not part of the driver contract. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val tag = args(2)
    val names = args.drop(3).toSet
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.filter { case (n, _) => names(n) }.foreach {
      case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
          println(s"EXPLAIN dumped $name -> $outDir/${name}_$tag.txt")
        } catch { case e: Throwable =>
          System.err.println(s"EXPLAIN $name failed: ${e.getMessage}")
        }
    }
    spark.stop()
  }
}
