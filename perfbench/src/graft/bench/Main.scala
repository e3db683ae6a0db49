package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM side. Runs one workload in one JVM:
  *
  *  1. `setupCycles` set-up cycles, each building a fresh session and the
  *     workload's fixtures and running one untimed warm-up pass; the
  *     first cycle's pass is the check pass (rows dumped for the DuckDB
  *     oracle, or checked in the JVM, and fingerprinted);
  *  2. timed passes over the fixed, ordered operation list until
  *     `seconds` have passed and at least `minPasses` ran, with a forced
  *     GC and output cleanup between passes, outside the timed region.
  *     Each operation's rows are fingerprinted and compared with the
  *     check pass; a throwing or mismatching operation is recorded as
  *     failed, never timed;
  *  3. with `trace`, every other pass runs under the [[Tracer]] and the
  *     per-layer metrics come from the traced passes, the untraced ones
  *     giving the tracing overhead.
  *
  * Writes a report (samples, counts, environment) that run.py turns
  * into the benchmark's metrics. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: Path, tiny: Boolean, out: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("data", ""), Paths.get(m("work")).toAbsolutePath,
      m.getOrElse("size", "full") == "tiny", Paths.get(m("out")))
  }

  private def loadavg(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .trim.split(" ").take(3).map(_.toDouble).toSeq

  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()

  /** Canonical, order-insensitive fingerprint of a result. */
  def fingerprint(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "∅"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case other => other.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(s => md.update((s + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString + s"/${rows.length}"
  }

  private def workload(a: Args, cores: Int): Workload = a.workload match {
    case "tables" => TableWorkloads.tables(a.data)
    case "images" =>
      if (a.tiny) new ImageWorkload(a.seed, a.work, side = 64, perSyntax = 2, nPng = 2,
        nTiff = 1, pages = 2, parts = cores)
      else new ImageWorkload(a.seed, a.work, side = 256, perSyntax = 6, nPng = 8,
        nTiff = 4, pages = 4, parts = cores)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  final case class Sample(pass: Int, op: String, seconds: Double, constructS: Double,
                          status: String, traced: Boolean)

  /** `--workload train` runs every workload at tiny size with tracing,
    * in one JVM: the build uses it to record a class-data archive. */
  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.workload != "train") runOne(a)
    else Seq("tables", "images").foreach { w =>
      runOne(a.copy(workload = w, trace = true, tiny = true, work = a.work.resolve(w),
        out = a.work.resolve(s"$w.json")))
    }
  }

  private def runOne(a: Args): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val loadBefore = loadavg()
    val w = workload(a, cores)
    val setupCycles = if (a.tiny) 1 else 3
    // traced runs alternate untraced and traced passes
    val minPasses = (if (a.tiny) 1 else if (a.trace) 2 else 3) * (if (a.trace) 2 else 1)
    Files.createDirectories(a.work)

    val refs = mutable.Map.empty[String, String]
    val check = mutable.LinkedHashMap.empty[String, String]
    val dumps = a.work.resolve("dumps")
    var spark: SparkSession = null

    final case class Outcome(rows: Option[Array[Row]], seconds: Double, constructS: Double,
                             error: Option[String])

    def run(op: Op, tr: Option[(Tracer, OpTrace)]): Outcome = {
      op.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      tr.foreach { case (t, o) => t.begin(o) }
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = op.build(spark)
        t1 = System.nanoTime()
        tr.foreach { case (t, o) => t.constructed(o) }
        val rows = op.action(df)
        val t2 = System.nanoTime()
        tr.foreach { case (t, o) =>
          t.end(o)
          o.frames = w.framesDecoded(op, df)
          o.storageMb = spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum / 1e6
        }
        Outcome(Some(rows), (t2 - t0) / 1e9, (t1 - t0) / 1e9, None)
      } catch {
        case e: Throwable =>
          tr.foreach { case (t, o) => t.end(o) }
          Outcome(None, (System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9,
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      } finally op.confs.keys.foreach(k => spark.conf.unset(k))
    }

    // ---- set-up cycles; the first warm-up pass is the check pass ------
    val setupS = (1 to setupCycles).map { cycle =>
      val t0 = System.nanoTime()
      var untimed = 0L
      if (spark != null) spark.stop()
      spark = session(cores, a.work)
      spark.sparkContext.setLogLevel("WARN")
      w.setup(spark)
      w.ops.foreach { op =>
        val o = run(op, None)
        System.err.println(f"[bench] set-up cycle $cycle ${op.name} ${o.seconds}%.3f s")
        if (cycle == 1) {
          val c0 = System.nanoTime()
          check(op.name) = o.rows match {
            case None => s"failed: ${o.error.get}"
            case Some(rows) =>
              refs(op.name) = fingerprint(rows)
              if (op.oracle.isDefined) {
                spark.createDataFrame(rows.toSeq.asJava, rows.headOption.map(_.schema)
                  .getOrElse(op.build(spark).schema))
                  .write.mode("overwrite").parquet(dumps.resolve(op.name).toString)
                "oracle"
              } else op.expect.flatMap(_(rows)).map("mismatch: " + _).getOrElse("ok")
          }
          untimed += System.nanoTime() - c0
        }
      }
      val c0 = System.nanoTime(); w.cleanup(); untimed += System.nanoTime() - c0
      (System.nanoTime() - t0 - untimed) / 1e9
    }

    // ---- timed passes ---------------------------------------------------
    val samples = mutable.ArrayBuffer.empty[Sample]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val traces = mutable.ArrayBuffer.empty[(Int, Seq[OpTrace], Double)]
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var pass = 0
    var opSeq = 0
    while (pass < minPasses || System.nanoTime() < deadline) {
      val traced = tracer.isDefined && pass % 2 == 1
      if (traced) tracer.get.attach()
      val opTraces = mutable.ArrayBuffer.empty[OpTrace]
      val p0 = System.nanoTime()
      w.ops.foreach { op =>
        opSeq += 1
        val tr = if (traced) Some(tracer.get -> new OpTrace(opSeq, op.name, op.venue)) else None
        tr.foreach(x => opTraces += x._2)
        val o = run(op, tr)
        val status = o.rows match {
          case None => "failed"
          case Some(rows) if !refs.get(op.name).contains(fingerprint(rows)) => "mismatch"
          case _ => "ok"
        }
        samples += Sample(pass, op.name, o.seconds, o.constructS, status, traced)
      }
      val passWall = (System.nanoTime() - p0) / 1e9
      if (traced) { tracer.get.detach(); traces += ((pass, opTraces.toSeq, passWall)) }
      w.cleanup()
      System.gc(); System.gc()
      heapMb += mem.getHeapMemoryUsage.getUsed / 1e6
      pass += 1
    }
    val loadAfter = loadavg()

    // ---- per-layer metrics (traced passes) ------------------------------
    val layers: Map[String, Double] =
      if (a.trace) Layers.metrics(w, traces.toSeq, samples.toSeq, heapMb.toSeq, cores)
      else Map.empty
    if (a.trace) {
      val spans = traces.flatMap { case (p, ots, _) => ots.flatMap(o => Spans.of(o, p)) }
      Files.write(a.work.resolve("spans.jsonl"),
        spans.map(Json.render).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val counts = traces.flatMap(_._2).groupBy(_.name).map { case (op, ots) =>
      op -> ots.map(o => Seq(o.jobs.length, o.stages.length, o.c("tasks").toLong,
        o.eagerJobs, o.c("query_executions").toLong)).toSeq
    }
    val frames = traces.flatMap(_._2).groupBy(_.name).map { case (op, ots) => op -> ots.head.frames }

    val oracleSql = w.ops.filter(_.oracle.isDefined).map { op =>
      op.name -> (try op.oracle.get(spark) catch { case e: Throwable => s"-- unavailable: $e" })
    }.toMap
    Files.write(a.work.resolve("oracle_sql.json"), Json.render(oracleSql).getBytes(UTF_8))

    val report = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "env" -> Map("nproc" -> cores, "local_n" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version,
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter),
      "setup_cycles" -> setupCycles, "setup_s" -> setupS,
      "ops" -> w.ops.map(o => Map("name" -> o.name, "venue" -> o.venue,
        "checked_by" -> (if (o.oracle.isDefined) "duckdb" else "jvm"))),
      "check" -> check.toMap,
      "samples" -> samples.map(s => Seq(s.pass, s.op, s.seconds, s.constructS, s.status, s.traced)),
      "heap_after_gc_mb" -> heapMb.toSeq,
      "layers" -> layers, "layer_units" -> (if (a.trace) Layers.names.toMap else Map.empty),
      "counts" -> counts, "frames_decoded" -> frames,
      "unattributed_jobs" -> tracer.map(_.unattributedJobs).getOrElse(0))
    Files.write(a.out, Json.render(report).getBytes(UTF_8))
    spark.stop()
  }
}
