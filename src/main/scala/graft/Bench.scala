package graft

/** Benchmark main — the driver's per-round throughput probe.
  *
  * Runs every declared query three times: an unmeasured warm-up pass
  * (JIT + whole-stage-codegen compilation + OS page cache for the
  * parquet inputs), then TWO timed passes. The reported per-query
  * figure is the MIN of the two timed readings — a box that takes a
  * background-load hit during one pass (the documented drift class in
  * docs/BENCH_METHOD.md: GC from a preceding Verify run, page-cache
  * eviction, CPU contention) still records the steady-state number,
  * because transient load only ever ADDS time. Both raw pass totals
  * are emitted alongside so a polluted pass is visible, not hidden.
  * Output is the contract's single JSON line. A query that throws in
  * either timed pass is recorded as failed: it is left out of
  * `queries` and every total, and counted in `n_failed`.
  *
  * The line also carries an ENVIRONMENT FINGERPRINT — 1/5/15-minute
  * loadavg before and after the run, the pass spread (slower/faster
  * total), and the query count — so the artifact alone classifies
  * itself quiet-or-loaded (the round-12 lesson: three different
  * "round bench" numbers existed and only a method doc explained
  * which to trust). Reading rule: loadavg_before[0] ≲ the bench's own
  * parallelism and pass_spread ≲ 1.15 ⇒ quiet box; a large spread or
  * high pre-run load marks the number as contended.
  */
object Bench {
  private def loadavg(): String =
    try scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg")) {
      _.mkString.trim.split(" ").take(3).mkString("[", ",", "]")
    } catch { case _: Throwable => "[]" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))
    val spark = GraftSession.local(cpus)

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)

    // Force FULL evaluation of every output column: a counted query
    // lets Catalyst prune deterministic projection/UDF work the count
    // doesn't need, flattering non-aggregating queries. The noop DSv2
    // sink consumes every row and column without write-side cost.
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // warm-up pass: same plans, unmeasured
    queries.foreach { case (_, fn) =>
      try force(fn(spark, sfDir)) catch { case _: Throwable => () }
    }

    // a query's seconds, or None when it throws
    def timedPass(): Seq[(String, Option[Double])] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        force(fn(spark, sfDir))
        name -> Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        name -> None
      }
    }
    val loadBefore = loadavg()
    val pass1 = timedPass()
    val pass2 = timedPass()
    val loadAfter = loadavg()
    val timed = pass1.zip(pass2).collect { case ((name, Some(a)), (_, Some(b))) =>
      (name, a, b)
    }
    val results = timed.map { case (name, a, b) => name -> math.min(a, b) }
    val nFailed = queries.length - results.length
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val t1 = timed.map(_._2).sum; val t2 = timed.map(_._3).sum
    val spread = if (math.min(t1, t2) > 0) math.max(t1, t2) / math.min(t1, t2) else 1.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"pass_totals":[$t1,$t2],""" +
        s""""pass_spread":$spread,"n_queries":${results.length},"n_failed":$nFailed,""" +
        s""""cpus":$cpus,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"sf":"$sfDir"}"""
    println(line)
    // The driver's artifact keeps only a 2000-char stdout TAIL. The
    // full contract line above now carries 200+ per-query entries
    // (~9 KB), so the tail cuts its HEAD off and the driver parsed
    // nothing in round 16 (PERF_r16.json parsed:null). Emit a compact
    // summary as the LAST stdout line — small enough to always survive
    // the tail whole — so the driver can at least recover the totals,
    // spread and fingerprint; the complete per-query map is persisted
    // to a committed file (below), which tools/bench_compare.py and
    // the cross-round history read.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"bench: could not write $outPath: ${e.getMessage}") }
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","pass_totals":[$t1,$t2],""" +
        s""""pass_spread":$spread,"n_queries":${results.length},"n_failed":$nFailed,""" +
        s""""cpus":$cpus,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,""" +
        s""""queries_file":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
