package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failures.txt with one `name<TAB>message` line per query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName ...] — extra names restrict the
    // dump to those queries (builder-side iteration; the driver always
    // passes exactly two args and dumps everything)
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"$name\t${String.valueOf(e.getMessage).replaceAll("\\s+", " ")}\n")
        }
      }
    Files.writeString(Paths.get(s"$outDir/failures.txt"), failures.mkString)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // @SF@/@RUN@ mark scratch paths (interchange round-trip files are
    // written under .../graft_interchange_<sfbase>_r<pid>_<fmt> so
    // neither runs at other scale factors nor CONCURRENT runs at the
    // same one can clobber the gate's files): substitute the actual sf
    // basename and this JVM's run token so the dumped SQL reads
    // exactly the files THIS run wrote.
    // a restricted run dumps only the selected queries' oracles: with
    // per-run-token scratch paths, an unselected interchange oracle
    // would point at files this run never wrote (and unselected
    // data-oracle fits would burn time for entries nobody compares)
    val sfBase = Paths.get(sfDir).getFileName.toString
    val json = (SparkEntry.oracleSql.filter { case (k, _) =>
        only.isEmpty || only(k) } ++
      SparkEntry.dataOracleSql(spark, sfDir, only))
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("@SF@", sfBase)
        .replace("@RUN@", graft.queries.TextPipeline.runToken))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
