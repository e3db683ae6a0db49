package graft.bench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters and spans of one traced operation run. Times are epoch ms
  * (the clock Spark stamps its events with). */
final class OpTrace(val id: Int, val name: String, val venue: String) {
  var startMs, constructEndMs, endMs = 0L
  var frames = 0L
  var storageMb = 0.0
  val jobs = mutable.ArrayBuffer.empty[(Int, String, Long, Long)] // id, phase, start, end
  val stages = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)] // stage, job, start, end
  val c: mutable.Map[String, Double] = mutable.LinkedHashMap.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) = c(k) + v
  def eagerJobs: Int = jobs.count(_._2 == "construct")
}

/** SparkListener + QueryExecutionListener registered from outside the
  * engine. Each operation runs under local properties naming it and its
  * phase (construct or action), so jobs, stages and tasks are attributed
  * by the properties Spark copies onto them; query executions are
  * attributed to the operation that was running, because the bus is
  * drained after every operation. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc: SparkContext = spark.sparkContext
  private val OpKey = "graftbench.op"
  private val PhaseKey = "graftbench.phase"
  private val byId = mutable.Map.empty[Int, OpTrace]
  private val jobOp = mutable.Map.empty[Int, (OpTrace, Int)] // job -> (op, index in op.jobs)
  private val stageJob = mutable.Map.empty[Int, Int]
  private var current: Option[OpTrace] = None
  var unattributedJobs = 0

  def attach(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(this) }
  def detach(): Unit = {
    BenchBus.drain(sc); sc.removeSparkListener(this); spark.listenerManager.unregister(this)
  }

  def begin(op: OpTrace): Unit = synchronized {
    byId(op.id) = op; current = Some(op)
    sc.setLocalProperty(OpKey, op.id.toString); sc.setLocalProperty(PhaseKey, "construct")
    op.startMs = System.currentTimeMillis()
  }
  def constructed(op: OpTrace): Unit = {
    op.constructEndMs = System.currentTimeMillis()
    sc.setLocalProperty(PhaseKey, "action")
  }
  def end(op: OpTrace): Unit = {
    op.endMs = System.currentTimeMillis()
    sc.setLocalProperty(OpKey, null); sc.setLocalProperty(PhaseKey, null)
    BenchBus.drain(sc)
    synchronized { current = None }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpKey))).flatMap(id => byId.get(id.toInt)) match {
      case Some(op) =>
        val phase = props.map(_.getProperty(PhaseKey, "action")).getOrElse("action")
        op.jobs += ((e.jobId, phase, e.time, e.time))
        jobOp(e.jobId) = (op, op.jobs.length - 1)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      case None => unattributedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.get(e.jobId).foreach { case (op, i) =>
      val (id, ph, st, _) = op.jobs(i); op.jobs(i) = (id, ph, st, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (job <- stageJob.get(info.stageId); (op, _) <- jobOp.get(job))
      op.stages += ((info.stageId, job, info.submissionTime.getOrElse(0L),
        info.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); (op, _) <- jobOp.get(job)) {
      op.add("tasks", 1)
      op.add("task_s", e.taskInfo.duration / 1e3)
      Option(e.taskMetrics).foreach { m =>
        op.add("task_cpu_s", m.executorCpuTime / 1e9)
        op.add("gc_s", m.jvmGCTime / 1e3)
        op.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        op.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        op.add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        op.add("records_read", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    current.foreach { op =>
      op.add("query_executions", 1)
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { k =>
        ph.get(k).foreach(p => op.add(s"${k}_s", p.durationMs / 1e3))
      }
    }
  }
}

/** Spans of one traced operation, each with its self time: its duration
  * minus the part of it that its child spans cover. */
object Spans {
  private def covered(lo: Long, hi: Long, kids: Seq[(Long, Long)]): Long = {
    var total = 0L; var reach = lo
    kids.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(k => k._2 > k._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  def of(op: OpTrace, pass: Int): Seq[Map[String, Any]] = {
    val phases = Seq(("construct", op.startMs, op.constructEndMs), ("action", op.constructEndMs, op.endMs))
    def span(id: String, parent: String, kind: String, name: String, lo: Long, hi: Long,
             kids: Seq[(Long, Long)], extra: Map[String, Any] = Map.empty): Map[String, Any] =
      Map("trace" -> s"$pass/${op.id}", "id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_ms" -> lo, "end_ms" -> hi,
        "self_ms" -> ((hi - lo) - covered(lo, hi, kids))) ++ extra
    val root = span("op", "", "operation", op.name, op.startMs, op.endMs,
      phases.map(p => (p._2, p._3)), Map("venue" -> op.venue) ++ op.c.toMap ++
        Map("jobs" -> op.jobs.length, "eager_jobs" -> op.eagerJobs, "stages" -> op.stages.length,
          "frames_decoded" -> op.frames))
    val phaseSpans = phases.map { case (ph, lo, hi) =>
      val js = op.jobs.filter(_._2 == ph)
      span(ph, "op", ph, s"${op.name}.$ph", lo, hi, js.map(j => (j._3, j._4)).toSeq,
        Map("jobs" -> js.length))
    }
    val jobSpans = op.jobs.map { case (j, ph, lo, hi) =>
      val ss = op.stages.filter(_._2 == j)
      span(s"job$j", ph, "job", s"job $j", lo, hi, ss.map(s => (s._3, s._4)).toSeq,
        Map("stages" -> ss.length))
    }
    val stageSpans = op.stages.map { case (s, j, lo, hi) =>
      span(s"stage$s", s"job$j", "stage", s"stage $s", lo, hi, Nil)
    }
    Seq(root) ++ phaseSpans ++ jobSpans ++ stageSpans
  }
}
