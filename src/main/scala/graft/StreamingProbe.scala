package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.EventStreams

/** Diagnostic probe for the two arbitrary-state streaming exec nodes
  * this build's planner has failed on (see EventStreams scaladoc).
  * Watchdog-guarded: a hung micro-batch is force-stopped, so the probe
  * always terminates with a printed verdict per operator. */
object StreamingProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def events(n: Int) = (0 until n).map { i =>
      EventStreams.Event(i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L),
        (i % 3).toLong, "t", 1.0)
    }

    def probe(name: String)(start: MemoryStream[EventStreams.Event] =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      try {
        val mem = MemoryStream[EventStreams.Event]
        val q = start(mem)
        val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
        val watchdog = new Thread(() => {
          Thread.sleep(45000)
          if (!stopped.get()) { println(s"$name: WATCHDOG STOP (hang)"); q.stop() }
        })
        watchdog.setDaemon(true)
        watchdog.start()
        mem.addData(events(30))
        q.processAllAvailable()
        Thread.sleep(4000) // let the 2s processing-time gap expire
        mem.addData(events(3)) // trigger another batch so timers fire
        q.processAllAvailable()
        Thread.sleep(1000)
        q.processAllAvailable()
        stopped.set(true)
        val rows = spark.table(name).count()
        q.stop()
        println(s"$name: OK, emitted $rows closed sessions")
      } catch {
        case e: Throwable =>
          println(s"$name: FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
          var c = e.getCause
          while (c != null) { println(s"  cause: ${c.getClass.getName}: ${String.valueOf(c.getMessage).take(300)}"); c = c.getCause }
      }
    }

    probe("fmgws_probe") { mem =>
      EventStreams.statefulSessions(mem.toDS(), gapMs = 2000)
        .writeStream.format("memory").queryName("fmgws_probe")
        .outputMode("append").start()
    }
    probe("tws_probe") { mem =>
      EventStreams.twsSessions(mem.toDS(), gapMs = 2000)
        .writeStream.format("memory").queryName("tws_probe")
        .outputMode("append").start()
    }

    // the q165 streaming composition: TWO chained transformWithState
    // stages (band-keyed occupancy -> doc-keyed verdict assembly) in
    // ONE query — the multi-stateful-operator shape this build's
    // planner has to support for streamingCuration
    try {
      val docs = (0 until 40).map(i => EventStreams.StreamDoc(i.toLong,
        if (i % 3 == 0) s"short text $i"
        else s"the quick brown fox number ${i % 7} jumps over the lazy dog " * 5))
      val model = graft.pipeline.QualityClassifier.fit(
        docs.toDF("doc_id", "text"))
      val mem = MemoryStream[EventStreams.StreamDoc]
      val q = EventStreams.streamingCuration(mem.toDS(), model)
        .writeStream.format("memory").queryName("curation_probe")
        .outputMode("append").start()
      val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
      val watchdog = new Thread(() => {
        Thread.sleep(45000)
        if (!stopped.get()) { println(s"curation_probe: WATCHDOG STOP (hang)"); q.stop() }
      })
      watchdog.setDaemon(true)
      watchdog.start()
      docs.grouped(15).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      stopped.set(true)
      val n = spark.table("curation_probe").count()
      q.stop()
      println(s"curation_probe: OK, $n verdicts for ${docs.size} docs" +
        (if (n == docs.size) " (exactly-once per doc)" else " MISMATCH"))
    } catch {
      case e: Throwable =>
        println(s"curation_probe: FAILED ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(500))
    }
    // transformWithState DOWNSTREAM of a stream-static join — the
    // online-retrieval shape streamingAnnServe plans (probe flatMap →
    // static index equi-join → per-query top-k assembly)
    try {
      val dim = 8
      val vecs = (0 until 50).map(i =>
        (i.toLong, Seq.tabulate(dim)(d => ((i * 7 + d * 3) % 13).toDouble)))
      val emb = vecs.toDF("vec_id", "embedding")
      val centers = graft.pipeline.Similarity.ivfFitCenters(emb, nClusters = 4)
      val ixDir = java.nio.file.Files.createTempDirectory("graft_probe_ivf")
        .toString + "/ix"
      graft.pipeline.Similarity.ivfEncode(emb, centers).write.parquet(ixDir)
      val index = spark.read.parquet(ixDir)
      val mem = MemoryStream[EventStreams.QueryVec]
      val q = EventStreams.streamingAnnServe(mem.toDS(), index, centers, k = 3)
        .writeStream.format("memory").queryName("ann_serve_probe")
        .outputMode("append").start()
      val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
      val watchdog = new Thread(() => {
        Thread.sleep(45000)
        if (!stopped.get()) { println(s"ann_serve_probe: WATCHDOG STOP (hang)"); q.stop() }
      })
      watchdog.setDaemon(true)
      watchdog.start()
      val qs = vecs.take(10).map { case (id, v) => EventStreams.QueryVec(id, v) }
      qs.grouped(4).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      stopped.set(true)
      val n = spark.table("ann_serve_probe").count()
      q.stop()
      println(s"ann_serve_probe: OK, $n hits for ${qs.size} queries" +
        (if (n == qs.size * 3) " (k per query, exactly-once)" else ""))
    } catch {
      case e: Throwable =>
        println(s"ann_serve_probe: FAILED ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(500))
    }
    // TTL-bounded variants of the two shapes above (round 15): with a
    // non-null ttl the queries run in TimeMode.ProcessingTime + TTL
    // state. Measured: the exec nodes run and emit correctly batch
    // after batch, but `processAllAvailable` never returns (the engine
    // always sees potential timer work — the twsSessions quirk), so
    // these probes DRIVE BY POLLING the sink with a deadline. A hang
    // here would mean batches stopped processing, not just the await.
    def pollUntil(table: String, n: Long): Boolean = {
      val dl = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (spark.table(table).count() < n && System.nanoTime() < dl)
        Thread.sleep(250)
      spark.table(table).count() >= n
    }
    try {
      val docs = (0 until 24).map(i => EventStreams.StreamDoc(i.toLong,
        if (i % 3 == 0) s"short text $i"
        else s"the quick brown fox number ${i % 5} jumps over the lazy dog " * 5))
      val model = graft.pipeline.QualityClassifier.fit(docs.toDF("doc_id", "text"))
      val mem = MemoryStream[EventStreams.StreamDoc]
      val q = EventStreams.streamingCuration(mem.toDS(), model,
          ttl = java.time.Duration.ofMinutes(10))
        .writeStream.format("memory").queryName("curation_ttl_probe")
        .outputMode("append").start()
      try {
        var ok = true
        docs.grouped(8).zipWithIndex.foreach { case (b, i) =>
          mem.addData(b: _*)
          ok = ok && pollUntil("curation_ttl_probe", (i + 1) * 8L)
        }
        val n = spark.table("curation_ttl_probe").count()
        println(s"curation_ttl_probe: ${if (ok) "OK" else "TIMED OUT"}, " +
          s"$n verdicts for ${docs.size} docs")
      } finally q.stop()
    } catch {
      case e: Throwable =>
        println(s"curation_ttl_probe: FAILED ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(500))
    }
    try {
      val dim = 8
      val vecs = (0 until 50).map(i =>
        (i.toLong, Seq.tabulate(dim)(d => ((i * 7 + d * 3) % 13).toDouble)))
      val emb = vecs.toDF("vec_id", "embedding")
      val centers = graft.pipeline.Similarity.ivfFitCenters(emb, nClusters = 4)
      val ixDir = java.nio.file.Files.createTempDirectory("graft_probe_ivf_ttl")
        .toString + "/ix"
      graft.pipeline.Similarity.ivfEncode(emb, centers).write.parquet(ixDir)
      val index = spark.read.parquet(ixDir)
      val mem = MemoryStream[EventStreams.QueryVec]
      val q = EventStreams.streamingAnnServe(mem.toDS(), index, centers, k = 3,
          ttl = java.time.Duration.ofMinutes(10))
        .writeStream.format("memory").queryName("ann_serve_ttl_probe")
        .outputMode("append").start()
      try {
        val qs = vecs.take(8).map { case (id, v) => EventStreams.QueryVec(id, v) }
        var ok = true
        qs.grouped(4).zipWithIndex.foreach { case (b, i) =>
          mem.addData(b: _*)
          ok = ok && pollUntil("ann_serve_ttl_probe", (i + 1) * 4L * 3)
        }
        val n = spark.table("ann_serve_ttl_probe").count()
        println(s"ann_serve_ttl_probe: ${if (ok) "OK" else "TIMED OUT"}, " +
          s"$n hits for ${qs.size} queries" +
          (if (n == qs.size * 3) " (k per query, exactly-once)" else ""))
      } finally q.stop()
    } catch {
      case e: Throwable =>
        println(s"ann_serve_ttl_probe: FAILED ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(500))
    }
    spark.stop()
  }
}
