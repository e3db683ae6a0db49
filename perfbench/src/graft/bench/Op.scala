package graft.bench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation of a workload.
  *
  * `build` is the DataFrame construction (a `SparkEntry.queries` call or
  * an operation builder, including any eager jobs it fires); `action`
  * runs it and returns the rows the check reads. Exactly one of
  * `oracle` (DuckDB SQL compared against the dumped rows of the check
  * pass) and `expect` (an in-JVM check against values derived from the
  * generated inputs) is set. `confs` are set before the operation and
  * unset after it. */
final case class Op(
    name: String,
    venue: String,
    build: SparkSession => DataFrame,
    action: DataFrame => Array[Row] = _.collect(),
    confs: Map[String, String] = Map.empty,
    oracle: Option[SparkSession => String] = None,
    expect: Option[Array[Row] => Option[String]] = None)

/** A fixed, ordered list of operations plus the fixtures they read. */
trait Workload {
  def ops: Seq[Op]
  /** Builds this session's fixtures; called once per set-up cycle. */
  def setup(spark: SparkSession): Unit = ()
  /** Removes outputs an operation wrote; called between passes, untimed. */
  def cleanup(): Unit = ()
  /** Frames an operation's scans decode, derived from its optimized plan. */
  def framesDecoded(op: Op, df: DataFrame): Long = 0L
  /** Direct single-threaded calls into `sources` and `core` (traced runs). */
  def directLayers(): Map[String, Double] = Map.empty
}
