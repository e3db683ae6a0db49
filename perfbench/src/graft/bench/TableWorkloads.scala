package graft.bench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Workloads over the generated parquet tables in `dataDir`: every
  * operation is a query of the engine's inventory, checked against the
  * engine's own DuckDB oracle SQL. */
object TableWorkloads {

  private def query(name: String, dataDir: String, venue: String = "-",
                    confs: Map[String, String] = Map.empty,
                    label: String = ""): Op = {
    val q = SparkEntry.queries(name)
    val oracle: SparkSession => String = SparkEntry.oracleSql.get(name) match {
      case Some(sql) => _ => sql
      case None => s => SparkEntry.dataOracleSql(s, dataDir, Set(name))(name)
    }
    Op(if (label.isEmpty) name else label, venue, s => q(s, dataDir),
      confs = confs, oracle = Some(oracle))
  }

  /** The driver-path caps; 0 forces the distributed loops. */
  val DriverCaps: Seq[String] = Seq("graft.graph.maxDriverEdges",
    "graft.graph.maxDriverEdgesQuadratic", "graft.dedup.maxDriverPairs",
    "graft.bpe.maxDriverVocab")

  /** Relational and temporal queries (scan, star join, window, range
    * join), where execution dominates and construction is one
    * schema-inference job per read; then PageRank on the driver path
    * (construction: eager jobs and the driver loop) and with the caps
    * forced to 0 (iterative distributed jobs). */
  def tables(dataDir: String): Workload = new Workload {
    private val zeroCaps = DriverCaps.map(_ -> "0").toMap
    val ops: Seq[Op] = Seq("q01_pricing_summary", "q05_region_revenue", "q11_window_topk",
      "q62_range_join").map(query(_, dataDir)) ++ Seq(
      query("q119_pagerank", dataDir, "driver", label = "q119_pagerank@driver"),
      query("q119_pagerank", dataDir, "distributed", zeroCaps, "q119_pagerank@distributed"))
  }
}
