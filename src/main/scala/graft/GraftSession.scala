package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder of the mains and the test suites:
  * `local[cpus]` with as many shuffle partitions, UTC session time, no
  * UI and WARN logging. `confs` are set on top. */
object GraftSession {
  def local(cpus: Int, confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
