package graft

import org.apache.spark.sql.SparkSession

/** Cross-JVM serialization smoke: runs one representative query per
  * operator family on `local-cluster[2,2,1024]` — a real standalone
  * master + 2 worker JVMs + executor processes, so every task closure,
  * Aggregator buffer (HistogramAggregator, MisraGriesAggregator,
  * TopKAggregator, SaltedAgg), SparkImage encoder, and broadcast
  * actually crosses a process boundary. `local[*]` keeps everything
  * in-JVM and cannot catch a non-serializable buffer or an
  * encoder that only works object-identity-local (the reference's
  * test matrix runs local-cluster[2,2,512] for the same reason,
  * IJSqlTest.scala:21-31, LocalSparkContext.scala:19,47).
  *
  * Run as a child process (ClusterSmokeSpec does this) — a JVM can
  * hold only one SparkContext, and the suite's shared session is
  * local[4]. Writes each result to `outDir/<name>` parquet for the
  * spec's exact comparison against the same query run locally.
  */
object ClusterSmoke {

  /** One per operator family: agg+dsum, broadcast star join, window,
    * as-of (union+window), salted skew agg, Misra–Gries sketch, top-k
    * Aggregator + codegen'd vector kernel, prefix-filtered similarity
    * join, CDC chunk UDFs, SparkImage UDFs, stack assembly,
    * cross-image histogram Aggregator, CC labeling + struct-max argmax. */
  val queryNames: Seq[String] = Seq(
    "q01_pricing_summary", "q05_region_revenue", "q11_window_topk",
    "q60_asof_join", "q68_skew_join", "q86_heavy_hitters",
    "q29_ann_topk", "q31_ngram_jaccard", "q83_cdc_chunks",
    "q92_gram_matrix", // 2080-long Array[Long] Aggregator buffers cross JVMs
    "q96_canonical_keep", // localCheckpoint'd CC rounds + struct-typed agg buffers cross JVMs
    "q101_bucketed_join", // bucketed saveAsTable write path + bucket-pruned scans cross JVMs
    "q104_gopher_rules", // isInCollection stop set + long-arith flags serialize to executors
    "q109_bm25_search", // runtime ReuseExchange stage dedup must hold across worker JVMs
    "q112_leakage_safe_split", // CC labels + md5-bucket split: checkpointed rounds re-read cross-JVM
    "q114b_pq_kmeans", // broadcast 3-D codebook array into an executor-side argmin UDF
    "q115_rrf_fusion", // both retrieval legs + the k-row fusion join across JVMs
    "img20_dicom_series", // executor-side Hadoop FS writes + imagedir scan + mapGroups stacking
    "q119_pagerank", // 10 localCheckpoint'd integer-rank rounds re-read across worker JVMs
    "q126_kmeans", // broadcast centroid relation + grid-triple aggs per Lloyd iteration cross-JVM
    "q146_blocklist", // the Aho-Corasick automaton program broadcasts into executor-side scans
    "q149_bloom_prejoin", // ONE-row packed-word Bloom array broadcast + xxhash64 probe cross-JVM
    "q151_ann_ivfpq", // nested centroid+codebook arrays broadcast into executor-side encode/ADC UDFs
    "q152_ann_recall", // three retrieval legs + two broadcast rank-relation joins cross-JVM
    "q154_neardup_recall", // full-outer pair intersection over BNLJ ground truth + banded LSH cross-JVM
    "q155_ann_recall_prod", // 32-table LSH bucket arrays + PQ rerank broadcast shortlist cross-JVM
    "q156_neardup_recall_sampled", // md5-anchor predicates on both audit sides across worker JVMs
    "img23_dicom_multiframe", // multi-frame encode/decode + populated-BOT and multi-fragment frames through executor-side FS
    "img25_dicom_ybr", // YCbCr color conversion + 422 packing in executor-side encode/decode UDFs
    "img26_dicom_palette", // LUT arrays serialize into executor-side palette encode; OW elements cross-JVM
    "img27_dicom_mono1_signed", // MONOCHROME1 inversion + signed two's-complement + DS rescale parse cross-JVM
    "img28_dicom_color_lossy", // executor-side JDK ImageIO color JPEG write+decode (plugin registry per JVM)
    "q159_quality_classifier", // fit-sample TakeOrdered + literal weight-array margins across worker JVMs
    "q160_firstseen_neardup", // banded self-join + min-rep reduction across worker JVMs
    "q162_sq8_index_roundtrip", // executor-side binary-code parquet write + dequantize-serve cross-JVM
    "q166_ann_ivfsq8", // broadcast centroids+ranges into the executor-side assign+dequantize UDF
    "q163_classifier_confusion", // the memoized fit broadcast into executor-side scoring, count agg cross-JVM
    "q167_ivf_index_roundtrip", // persisted (cluster, nv) index + reloaded centroid broadcast serve cross-JVM
    "q169_ivfsq8_index_roundtrip", // byte-code index parquet + reloaded centers/ranges dequantize-serve cross-JVM
    "img01_stats", "img10_stack_build", "img13_hist_aggregate")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // executor JVMs are spawned by the in-JVM workers: they need the
    // application classes (this build's target dirs) on their
    // classpath and the same JDK17 --add-opens the driver runs with.
    // Classpath entries MUST be absolute: executors run from their own
    // work dir, so a relative `target/scala-2.13/classes` silently
    // resolves to nothing there and every graft class in a task binary
    // becomes a ClassNotFound — which the JDK masks as
    // "cannot assign instance of SerializedLambda/
    // DefaultSerializationProxy to field ..." because an exception
    // recorded on a stream handle suppresses readResolve.
    val absCp = System.getProperty("java.class.path")
      .split(java.io.File.pathSeparator)
      .filter(_.nonEmpty)
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val spark = SparkSession.builder()
      .master("local-cluster[2,2,1024]")
      .appName("graft-cluster-smoke")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.extraClassPath", absCp)
      .config("spark.executor.extraJavaOptions", addOpens)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      queryNames.foreach { name =>
        SparkEntry.queries(name)(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        println(s"[cluster-smoke] OK $name")
      }
      streamingStateSmoke(spark)
      println("[cluster-smoke] OK streaming_tws_sessions")
      mgTimerSmoke(spark)
      println("[cluster-smoke] OK streaming_mg_timer")
      decontamSmoke(spark)
      println("[cluster-smoke] OK streaming_decontam")
      funnelSmoke(spark)
      println("[cluster-smoke] OK streaming_funnel")
      checkpointSmoke(spark)
      println("[cluster-smoke] OK reliable_checkpoint")
      println("[cluster-smoke] ALL OK")
    } finally spark.stop()
  }

  /** Reliable checkpoint(dir) across REAL executor processes: the
    * iterative family's production materialization — executor JVMs
    * write each round's RDD state through the Hadoop FS API and the
    * next round re-reads it (in `local[*]` the write short-circuits
    * through one JVM, so only this path proves the cross-process
    * round trip). The driver cap is 0, so the distributed rounds run.
    * Asserts bit-identical ranks vs the localCheckpoint path and that
    * checkpoint data landed on disk. */
  private def checkpointSmoke(spark: SparkSession): Unit = {
    import spark.implicits._
    val edges = Seq((1L, 2L, 5L), (2L, 1L, 1L), (2L, 3L, 4L), (3L, 2L, 2L),
      (3L, 1L, 7L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val dir = java.nio.file.Files.createTempDirectory("graft_cluster_ckpt").toString
    def ranks() = graft.pipeline.Graph.pagerank(edges, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    spark.conf.set("graft.graph.maxDriverEdges", "0")
    val local = ranks()
    spark.conf.set("graft.checkpointDir", dir)
    val reliable = try ranks() finally {
      spark.conf.unset("graft.checkpointDir")
      spark.conf.unset("graft.graph.maxDriverEdges")
    }
    if (reliable != local)
      sys.error(s"checkpoint smoke mismatch: $reliable vs $local")
    import scala.jdk.CollectionConverters._
    val rdds = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.count(_.getFileName.toString.startsWith("rdd-"))
    if (rdds < 5) sys.error(s"checkpoint smoke: $rdds checkpointed rdds, expected >= 5")
  }

  /** Streaming decontamination across REAL executor processes: the
    * DecontamProcessor carries TWO driver Broadcast handles (the Bloom
    * bit array and the exact benchmark shingle set) inside a
    * StatefulProcessor that is serialized to worker JVMs — in
    * `local[*]` broadcasts short-circuit through the driver-side block
    * cache, so only this path proves the handles re-fetch their blocks
    * from a remote BlockManager inside a streaming task. Also crosses
    * the RocksDB decided-state. */
  private def decontamSmoke(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val bench = Seq((1L, "kappa lambda mu nu xi omicron")).toDF("doc_id", "text")
    val docs = Seq(
      EventStreams.StreamDoc(101L, "one two three four five six"),
      EventStreams.StreamDoc(103L, "intro kappa lambda mu nu outro"), // contaminated
      EventStreams.StreamDoc(104L, "kappa lambda mu wholly different")) // 3-gram only: clean at n=4
    val mem = MemoryStream[EventStreams.StreamDoc]
    val q = EventStreams.streamingDecontam(mem.toDS(), bench, n = 4).toDF()
      .writeStream.format("memory").queryName("cluster_decontam")
      .outputMode("append").start()
    try {
      mem.addData(docs(0), docs(1))
      mem.addData(docs(0), docs(2)) // 101 redelivered across batches
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table("cluster_decontam").count() < 2 &&
             System.nanoTime() < deadline) Thread.sleep(250)
      val got = spark.table("cluster_decontam").as[EventStreams.StreamDoc]
        .collect().map(_.doc_id).sorted.toSeq
      if (got != Seq(101L, 104L))
        sys.error(s"decontam smoke mismatch: got $got want Seq(101, 104)")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** Streaming funnel across REAL executor processes: the
    * FunnelProcessor's ValueState carries a PRODUCT-encoded case
    * class (FunnelProgress) — the state-encoder shape no other smoke
    * covers (sessions use ListState of products, decontam a primitive
    * ValueState, MG a MapState) — through a worker-JVM RocksDB
    * provider, across two batches so the stage/last_ms pair must
    * round-trip the store between microbatches. */
  private def funnelSmoke(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EventStreams.FunnelIn]
    val q = EventStreams.streamingFunnel(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("cluster_funnel")
      .outputMode("append").start()
    try {
      // batch 1: view then a decoy pre-view click redelivered later
      mem.addData(EventStreams.FunnelIn(1L, "click", 50L),
        EventStreams.FunnelIn(1L, "view", 100L))
      // batch 2: the click and purchase complete the funnel — stage
      // state from batch 1 must come back from RocksDB in an executor
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table("cluster_funnel").count() < 1 &&
             System.nanoTime() < deadline) Thread.sleep(250)
      mem.addData(EventStreams.FunnelIn(1L, "click", 200L),
        EventStreams.FunnelIn(1L, "purchase", 250L))
      while (spark.table("cluster_funnel").count() < 3 &&
             System.nanoTime() < deadline) Thread.sleep(250)
      val got = spark.table("cluster_funnel").as[EventStreams.FunnelHit]
        .collect().map(h => (h.stage, h.ts_ms)).sorted.toSeq
      if (got != Seq((1, 100L), (2, 200L), (3, 250L)))
        sys.error(s"funnel smoke mismatch: got $got want Seq((1,100), (2,200), (3,250))")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** Timer-driven MG sketch snapshots under RocksDB across REAL
    * executor processes — the last untested pairing: StreamingSpec
    * covers the timer path in local[*] and [[streamingStateSmoke]]
    * covers RocksDB cross-JVM for sessionization, but a processing-time
    * timer + MapState candidate set had never crossed a worker-JVM
    * RocksDB provider together. Substream 0 gets all its tokens up
    * front and NO flush sentinel, so its {a, d} snapshot can only come
    * from the periodic timer firing in an executor. */
  private def mgTimerSmoke(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import graft.streaming.EventStreams
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[EventStreams.TokIn]
    val q = EventStreams.streamingHeavyHitterCandidates(mem.toDS(), k = 2,
        snapshotEveryMs = 300L).toDF()
      .writeStream.format("memory").queryName("cluster_mg_timer")
      .outputMode("append").start()
    try {
      // a(4) and d(4) exceed N/(k+1) = 11/3, so the MG guarantee pins
      // the capacity-2 candidate set to exactly {a, d} in any order
      mem.addData(Seq("a", "a", "a", "a", "b", "c", "d", "d", "d", "d", "e")
        .map(EventStreams.TokIn(0, _)): _*)
      val start = System.nanoTime()
      val deadline = start + 120L * 1000 * 1000 * 1000
      def sub0Tokens() = spark.table("cluster_mg_timer")
        .filter(col("sub") === 0).select(col("token")).distinct().count()
      var tick = 0L
      while (sub0Tokens() < 2 && System.nanoTime() < deadline) {
        mem.addData(EventStreams.TokIn(1, s"bystander$tick"))
        tick += 1
        Thread.sleep(250)
      }
      val elapsedS = (System.nanoTime() - start) / 1e9
      val snapshotRows = spark.table("cluster_mg_timer").count()
      val got = spark.table("cluster_mg_timer").filter(col("sub") === 0)
        .as[EventStreams.HHCand].collect().map(_.token).distinct.sorted.toList
      // distinguish "the timer never fired" (deadline expiry, zero/partial
      // sub-0 snapshots) from a genuine wrong candidate set — a timeout
      // on a loaded box needs a different diagnosis than a sketch bug
      if (got != List("a", "d")) {
        val timedOut = System.nanoTime() >= deadline
        if (timedOut)
          sys.error(f"mg timer smoke DEADLINE EXPIRED after $elapsedS%.1fs: " +
            s"$snapshotRows snapshot rows total, sub-0 tokens $got (want List(a, d)) " +
            s"— the 300ms snapshot timer likely never fired in an executor")
        else
          sys.error(f"mg timer smoke mismatch after $elapsedS%.1fs " +
            s"($snapshotRows snapshot rows): got $got want List(a, d)")
      }
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** RocksDB-backed transformWithState across REAL executor processes:
    * event-time sessionization (ListState of open sessions + an
    * event-time timer per key) where every state row and timer is
    * serialized by the RocksDB provider in a worker JVM — the state
    * encoder class of bug that `local[*]`'s in-JVM store can't catch.
    * Asserts the closed sessions equal the known session set. */
  private def streamingStateSmoke(spark: SparkSession): Unit = {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import graft.streaming.EventStreams
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = 1700000000000L
    // user 1: sessions (0/60/120s) and (3600/3660s); user 2: (30/90s)
    val evs = Seq(
      (0L, 0L, 1L), (1L, 60L, 1L), (2L, 120L, 1L),
      (3L, 3600L, 1L), (4L, 3660L, 1L),
      (5L, 30L, 2L), (6L, 90L, 2L)
    ).map { case (id, sec, user) =>
      EventStreams.Event(id, new Timestamp(base + sec * 1000L), user, "t", 1.0)
    }
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.twsSessionsEventTime(mem.toDS(), gapMs = 300000L,
        delay = "2 hours")
      .toDF().writeStream.format("memory").queryName("cluster_et_sessions")
      .outputMode("append").start()
    try {
      mem.addData(evs(2), evs(0), evs(4)) // out of order, 2h bound holds them
      mem.addData(evs(1), evs(3), evs(5), evs(6))
      var tick = 0L
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def closed() = spark.table("cluster_et_sessions")
        .filter(col("user_id").isin(1L, 2L)).count()
      while (closed() < 3 && System.nanoTime() < deadline) {
        mem.addData(EventStreams.Event(1000L + tick,
          new Timestamp(base + 21600000L + tick * 1000L), 99L, "tick", 0.0))
        tick += 1
        Thread.sleep(250)
      }
      val got = spark.table("cluster_et_sessions")
        .filter(col("user_id").isin(1L, 2L))
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val want = Seq((1L, 2L, 2.0), (1L, 3L, 3.0), (2L, 2L, 2.0))
      if (got != want)
        sys.error(s"streaming state smoke mismatch: got $got want $want")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
