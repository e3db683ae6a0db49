package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One shared local session for all suites (the reference's
  * LocalSparkContext trait, LocalSparkContext.scala:15-86, minus the
  * cluster matrix — partitioning behavior is exercised by explicit
  * repartition calls instead). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4, "spark.app.name" -> "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** What `f` returns, for comparing the driver and distributed venues:
    * its schema and its rows in a canonical order, or the message of
    * the exception it throws. */
  def outcome(f: => DataFrame): Either[String, (StructType, List[String])] =
    try {
      val df = f
      Right(df.schema -> df.collect().map(_.toSeq.mkString(",")).toList.sorted)
    } catch { case e: Exception => Left(e.getMessage) }

  /** `f` run at the default driver caps, then with every cap at 0,
    * which forces each gated operator onto its distributed loop. */
  def atBothVenues[A](f: => A): (A, A) = {
    val caps = Seq("graft.graph.maxDriverEdges", "graft.graph.maxDriverEdgesQuadratic",
      "graft.dedup.maxDriverPairs", "graft.bpe.maxDriverVocab")
    val driver = f
    caps.foreach(spark.conf.set(_, "0"))
    try (driver, f) finally caps.foreach(spark.conf.unset)
  }
}
