package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ops.TemporalJoins
import graft.pipeline.{Graph, Sampling}

/** Round-8 operator cores: fixed-point PageRank against an independent
  * in-test integer reference model, funnel sequence detection on hand
  * fixtures, and the windowed skyline against brute-force dominance.
  */
class GraphSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  /** Independent reference: the same integer recurrence evaluated over
    * plain Scala Maps — no Spark, no SQL. */
  private def refPagerank(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val ow = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = edges.map(_._1).distinct.sorted
    val n = nodes.size
    val base = (3L * Graph.Scale) / (20L * n)
    var rank = nodes.map(_ -> Graph.Scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).view.mapValues { es =>
        es.map { case (u, _, w) => (rank(u) * w) / ow(u) }.sum
      }.toMap
      rank = nodes.map(v => v -> (base + (17L * contrib.getOrElse(v, 0L)) / 20L)).toMap
    }
    rank
  }

  private def pagerankOn(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.pagerank(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pagerank matches the integer reference model exactly (path / star / weighted)") {
    val path = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 1L), (3L, 2L, 1L))
    val star = Seq( // hub 0 <-> spokes 1..4
      (0L, 1L, 1L), (1L, 0L, 1L), (0L, 2L, 1L), (2L, 0L, 1L),
      (0L, 3L, 1L), (3L, 0L, 1L), (0L, 4L, 1L), (4L, 0L, 1L))
    val weighted = Seq( // asymmetric weights, incl. a 2-cycle and a chain
      (1L, 2L, 5L), (2L, 1L, 1L), (2L, 3L, 4L), (3L, 2L, 2L),
      (3L, 1L, 7L), (1L, 3L, 1L))
    val withSource = Seq( // node 3 has out-edges but NO in-edges: it must
      // stay in the rank vector at constant base rank and keep feeding
      // node 1 every iteration (the slow path's per-iteration left-join)
      (1L, 2L, 1L), (2L, 1L, 1L), (3L, 1L, 5L))
    val withSink = Seq( // node 3 has in-edges but NO out-edges: it holds
      // no rank (nodes = distinct src), so it must NOT appear in the
      // output — the contribution aggregate alone would emit it
      (1L, 2L, 1L), (2L, 1L, 1L), (1L, 3L, 5L))
    for (g <- Seq(path, star, weighted, withSource, withSink); iters <- Seq(1, 3, 10)) {
      withClue(s"graph=$g iters=$iters: ") {
        pagerankOn(g, iters) shouldBe refPagerank(g, iters)
      }
    }
  }

  test("personalizedPagerank matches the seed-conditional reference model") {
    import spark.implicits._
    def ref(edges: Seq[(Long, Long, Long)], seeds: Set[Long], iters: Int): Map[Long, Long] = {
      val ow = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val nodes = edges.map(_._1).distinct.sorted
      val nS = nodes.count(seeds)
      val base = (3L * Graph.Scale) / (20L * nS)
      var rank = nodes.map(v => v -> (if (seeds(v)) Graph.Scale / nS else 0L)).toMap
      for (_ <- 1 to iters) {
        val contrib = edges.groupBy(_._2).view.mapValues { es =>
          es.map { case (u, _, w) => (rank(u) * w) / ow(u) }.sum
        }.toMap
        rank = nodes.map(v => v ->
          ((if (seeds(v)) base else 0L) + (17L * contrib.getOrElse(v, 0L)) / 20L)).toMap
      }
      rank
    }
    val g = Seq((1L, 2L, 5L), (2L, 1L, 1L), (2L, 3L, 4L), (3L, 2L, 2L),
      (3L, 1L, 7L), (1L, 3L, 1L), (4L, 1L, 2L), (1L, 4L, 2L))
    for (iters <- Seq(1, 3, 10)) {
      val got = Graph.personalizedPagerank(g.toDF("src", "dst", "w"),
          isSeed = v => v <= 2, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"iters=$iters: ") {
        got shouldBe ref(g, Set(1L, 2L), iters)
      }
    }
    // a node unreachable from any seed converges to 0, but stays a row
    val island = g ++ Seq((7L, 8L, 1L), (8L, 7L, 1L))
    val got = Graph.personalizedPagerank(island.toDF("src", "dst", "w"),
        isSeed = v => v <= 2, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got(7L) shouldBe 0L
    got(8L) shouldBe 0L
    got.keySet shouldBe Set(1L, 2L, 3L, 4L, 7L, 8L)
  }

  test("personalizedPagerank: sink-forced seeded-join path matches the reference " +
      "(fast/slow agreement)") {
    import spark.implicits._
    // the symmetric cases above take the FAST path (src set == dst
    // set: seed flag rides the edge relation, no per-round seeded
    // join); adding a pure sink (9 is never a src) forces the
    // seeded-join path. Both must match the reference recurrence —
    // this pins that the round-16 fast-path rewrite computes the same
    // seed-conditional fixed point as the guarded slow path.
    def ref(edges: Seq[(Long, Long, Long)], seeds: Set[Long], iters: Int): Map[Long, Long] = {
      val ow = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val nodes = edges.map(_._1).distinct.sorted
      val nS = nodes.count(seeds)
      val base = (3L * Graph.Scale) / (20L * nS)
      var rank = nodes.map(v => v -> (if (seeds(v)) Graph.Scale / nS else 0L)).toMap
      for (_ <- 1 to iters) {
        val contrib = edges.groupBy(_._2).view.mapValues { es =>
          es.map { case (u, _, w) => (rank(u) * w) / ow(u) }.sum
        }.toMap
        rank = nodes.map(v => v ->
          ((if (seeds(v)) base else 0L) + (17L * contrib.getOrElse(v, 0L)) / 20L)).toMap
      }
      rank
    }
    val sym = Seq((1L, 2L, 3L), (2L, 1L, 3L), (2L, 3L, 1L), (3L, 2L, 2L),
      (3L, 1L, 5L), (1L, 3L, 2L))
    val withSink = sym ++ Seq((1L, 9L, 4L))
    for ((g, label) <- Seq((sym, "fast"), (withSink, "slow"))) {
      val got = Graph.personalizedPagerank(g.toDF("src", "dst", "w"),
          isSeed = v => v % 2 === 1, iters = 7)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"$label path: ") {
        got shouldBe ref(g, Set(1L, 3L, 9L), 7)
      }
    }
  }

  test("pagerank is uniform on a vertex-transitive graph and conserves rank mass") {
    // 6-cycle, symmetric unit weights: all nodes equivalent
    val cyc = (0L until 6L).flatMap(i =>
      Seq((i, (i + 1) % 6, 1L), ((i + 1) % 6, i, 1L)))
    val ranks = pagerankOn(cyc, 10)
    ranks.values.toSet.size shouldBe 1
    // fixed-point floors only ever LOSE mass, at most a few units per
    // node per iteration (one floor per edge contribution + one per
    // damping step)
    val total = ranks.values.sum
    total should be <= Graph.Scale
    total should be > Graph.Scale - 6L * 10L * 10L
  }

  test("supplierCooccurrence is symmetric, self-loop-free, and counts orders not lineitems") {
    import spark.implicits._
    val li = Seq(
      // order 10: suppliers 1, 2 (supplier 1 appears TWICE -> still one co-occurrence)
      (10L, 1L), (10L, 1L), (10L, 2L),
      // order 20: suppliers 1, 2, 3
      (20L, 1L), (20L, 2L), (20L, 3L),
      // order 30: supplier 3 alone -> no edges
      (30L, 3L)).toDF("l_orderkey", "l_suppkey")
    val edges = Graph.supplierCooccurrence(li)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    edges shouldBe Set(
      (1L, 2L, 2L), (2L, 1L, 2L), // orders 10 and 20
      (1L, 3L, 1L), (3L, 1L, 1L),
      (2L, 3L, 1L), (3L, 2L, 1L))
  }

  test("supplierCooccurrence: wide (>31-bit) ids — packed key raises loudly, struct-key fallback counts correctly") {
    import spark.implicits._
    val wide = 1L << 40 // a synthetic/hashed id domain the pack can't carry
    val li = Seq(
      (10L, wide + 1L), (10L, wide + 2L),
      (20L, wide + 1L), (20L, wide + 2L), (20L, wide + 3L))
      .toDF("l_orderkey", "l_suppkey")
    // default (packed): fail fast, never mis-count
    val e = intercept[Exception] {
      Graph.supplierCooccurrence(li).collect()
    }
    e.getMessage should include("packed pair key would overflow")
    // conf-selected struct-key branch: same operator, wide ids carried
    spark.conf.set("graft.graph.packPairKey", "false")
    try {
      val edges = Graph.supplierCooccurrence(li)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      edges shouldBe Set(
        (wide + 1L, wide + 2L, 2L), (wide + 2L, wide + 1L, 2L),
        (wide + 1L, wide + 3L, 1L), (wide + 3L, wide + 1L, 1L),
        (wide + 2L, wide + 3L, 1L), (wide + 3L, wide + 2L, 1L))
      // and on narrow ids the two branches agree exactly
      val liN = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L), (20L, 3L))
        .toDF("l_orderkey", "l_suppkey")
      val structEdges = Graph.supplierCooccurrence(liN)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      spark.conf.set("graft.graph.packPairKey", "true")
      val packedEdges = Graph.supplierCooccurrence(liN)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      packedEdges shouldBe structEdges
    } finally spark.conf.set("graft.graph.packPairKey", "true")
  }

  test("driver fast path == distributed loops (caps forced to 0) for every graph operator") {
    import spark.implicits._
    // seeded random weighted digraph, big enough to exercise every
    // operator's interesting cases (sinks, zero-indegree, ties), plus
    // a source whose only out-edge has w = 0 (its rank contributes
    // nothing on either path)
    val rng = new scala.util.Random(20260819L)
    val random = (1 to 400).map { _ =>
      (rng.nextInt(40).toLong, rng.nextInt(40).toLong, (rng.nextInt(9) + 1).toLong)
    }.distinct.filter(e => e._1 != e._2) :+ ((40L, 3L, 0L))
    val parquetDir = java.nio.file.Files.createTempDirectory("graph-venues").toString + "/e"
    random.toDF("src", "dst", "w").write.parquet(parquetDir)
    // every input is a table the operators accept; each one has a case
    // where the two venues could part: the driver kernels see Scala
    // tuples, the distributed loops see nullable columns and joins
    val inputs: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "random" -> random.toDF("src", "dst", "w").localCheckpoint(),
      // symmetric, so the distributed rank loops take their fast path;
      // 4 <-> 5 carry w = 0 both ways, so 4 and 5 receive only the null
      // contributions of zero out-weight sources
      "symmetric" -> Seq((1L, 2L, 3L), (2L, 1L, 3L), (2L, 3L, 1L), (3L, 2L, 1L),
        (4L, 5L, 0L), (5L, 4L, 0L)).toDF("src", "dst", "w"),
      "zero-weights" -> Seq((1L, 2L, 0L), (2L, 1L, 0L), (2L, 3L, 0L), (3L, 1L, 5L),
        (1L, 3L, 0L), (3L, 4L, 0L), (4L, 3L, 2L)).toDF("src", "dst", "w"),
      "self-loops" -> Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L), (2L, 2L, 3L),
        (2L, 3L, 1L), (3L, 1L, 1L), (3L, 3L, 1L), (3L, 4L, 2L), (4L, 2L, 1L)).toDF("src", "dst", "w"),
      "duplicates" -> Seq((1L, 2L, 1L), (1L, 2L, 1L), (2L, 1L, 2L), (2L, 3L, 1L), (2L, 3L, 1L),
        (3L, 1L, 1L), (3L, 2L, 4L), (3L, 4L, 1L), (4L, 1L, 1L), (4L, 1L, 1L)).toDF("src", "dst", "w"),
      "sinks" -> Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L), (2L, 4L, 2L), (3L, 5L, 1L),
        (6L, 1L, 1L), (3L, 6L, 3L), (6L, 2L, 1L)).toDF("src", "dst", "w"),
      "empty" -> Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"),
      "ids >= 2^31" -> random.map { case (a, b, w) => (a + 3000000000L, b + 3000000000L, w) }
        .toDF("src", "dst", "w"),
      "parquet" -> spark.read.parquet(parquetDir))
    def ops(e: org.apache.spark.sql.DataFrame): Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pagerank" -> (() => Graph.pagerank(e, iters = 4)),
      "ppr" -> (() => Graph.personalizedPagerank(e, v => pmod(v, lit(3)) === 0, iters = 4)),
      "lpa" -> (() => Graph.labelPropagation(e, iters = 3)),
      "harmonic" -> (() => Graph.harmonicCentrality(e, radius = 2)),
      "neighborhood" -> (() => Graph.neighborhoodFunction(e, radius = 2, k = 8)),
      "cheapest" -> (() => Graph.cheapestPaths(
        e.withColumn("cost", expr("1000000 div greatest(w, 1)")),
        v => pmod(v, lit(3)) === 0, hops = 3)),
      "kcore" -> (() => Graph.kCore(e, k = 3, maxRounds = 20)),
      "triangles" -> (() => Graph.triangleCounts(e)),
      "linkpred" -> (() => Graph.linkPrediction(e, maxMiddleDegree = 1000L, topK = 50)),
      "modularity" -> (() => Graph.communityModularity(e, iters = 3)))
    for ((input, e) <- inputs; (op, f) <- ops(e)) {
      // caps at defaults: the driver path (an empty input never reaches
      // it); caps 0: the distributed loop
      val (driver, dist) = SparkTestSession.atBothVenues(SparkTestSession.outcome(f()))
      withClue(s"$op on $input, driver-vs-distributed:") { dist shouldBe driver }
    }
    // and each cap does pick the venue: a driver result is a local relation
    def local(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    SparkTestSession.atBothVenues(
      (local(Graph.pagerank(inputs.head._2)), local(Graph.triangleCounts(inputs.head._2)))
    ) shouldBe ((true, true), (false, false))
  }

  test("conversionFunnel finds strictly-ordered stage times and stops at the first gap") {
    import spark.implicits._
    def t(ms: Long) = new Timestamp(ms)
    val ev = Seq(
      // u1: full funnel, with decoys (click BEFORE view ignored;
      // purchase before click ignored; earliest qualifying wins)
      (1L, "click", t(50)), (1L, "view", t(100)), (1L, "purchase", t(150)),
      (1L, "click", t(200)), (1L, "click", t(300)), (1L, "purchase", t(250)),
      (1L, "purchase", t(400)),
      // u2: view then purchase but NO click -> funnel stops at view
      (2L, "view", t(10)), (2L, "purchase", t(20)),
      // u3: click only, never views -> not in output
      (3L, "click", t(5)),
      // u4: click at exactly the view time -> strict > excludes it
      (4L, "view", t(70)), (4L, "click", t(70)))
      .toDF("user_id", "event_type", "ts")
    val out = TemporalJoins.conversionFunnel(ev, Seq("view", "click", "purchase"))
      .orderBy("user_id").collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 4L)
    def ms(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getTimestamp(i).getTime)
    ms(out(0), 1) shouldBe Some(100L)
    ms(out(0), 2) shouldBe Some(200L) // first click AFTER the view, not t=50
    ms(out(0), 3) shouldBe Some(250L) // first purchase after THAT click, not t=150
    ms(out(1), 2) shouldBe None
    ms(out(1), 3) shouldBe None // gap propagates: no purchase without click
    ms(out(2), 2) shouldBe None // ts == prev stage is not strictly after
  }

  test("triangleCounts equals brute-force enumeration on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(8260814L)
    for (trial <- 1 to 4) {
      val nV = 12
      val undirected = (for {
        a <- 0 until nV; b <- a + 1 until nV
        if rnd.nextDouble() < 0.4
      } yield (a.toLong, b.toLong)).toSeq
      val brute = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      val es = undirected.toSet
      for {
        Seq(x, y, z) <- (0L until nV.toLong).combinations(3)
        if es((x, y)) && es((y, z)) && es((x, z))
        v <- Seq(x, y, z)
      } brute(v) += 1L
      // feed as symmetric directed pairs with weights, as supplierCooccurrence emits
      val sym = undirected.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
      val got = Graph.triangleCounts(sym.toDF("src", "dst", "w"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"trial $trial (${undirected.size} edges): ") {
        got shouldBe brute.toMap
      }
    }
  }

  test("prePartitionEdges: identical results; one step drops the edge-side exchange") {
    import spark.implicits._
    val g = Seq((1L, 2L, 5L), (2L, 1L, 1L), (2L, 3L, 4L), (3L, 2L, 2L),
      (3L, 1L, 7L), (1L, 3L, 1L))
    val df = g.toDF("src", "dst", "w")
    // results owe nothing to the physical layout
    Graph.pagerank(df, 7, prePartitionEdges = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      refPagerank(g, 7)
    val lpaPlain = Graph.labelPropagation(df, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Graph.labelPropagation(df, 4, prePartitionEdges = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe lpaPlain
    // plan: with the edge relation hash-partitioned on the join key
    // and persisted (InMemoryRelation keeps its partitioning; a
    // checkpoint's LogicalRDD does not under AQE), ONE step's join
    // shuffles only the rank side — broadcast disabled so the tiny
    // fixture plans like a big graph. The plan text truncates at the
    // cached subtree: exchanges INSIDE InMemoryRelation are the
    // one-time cache build, not per-iteration work.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ewPre = {
      val e0 = df.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      val outw = e0.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      e0.join(outw, Seq("src"))
        .select(col("src"), col("dst"), col("w"), col("ow"))
    }
    try {
      val ewCached = ewPre.repartition(4, col("src")).persist()
      ewCached.count()
      val ewPlain = ewPre.localCheckpoint()
      val rank = ewPlain.select(col("src").as("v")).distinct()
        .select(col("v"), lit(Graph.Scale / 3).as("rank")).localCheckpoint()
      def topExchanges(d: org.apache.spark.sql.DataFrame): Int = {
        val s = d.queryExecution.executedPlan.toString
        val cut = s.indexOf("InMemoryRelation")
        "Exchange".r.findAllIn(if (cut < 0) s else s.take(cut)).length
      }
      val pre = topExchanges(Graph.pagerankStep(ewCached, rank, 1L, None))
      val plain = topExchanges(Graph.pagerankStep(ewPlain, rank, 1L, None))
      withClue(s"pre=$pre plain=$plain: ") { pre should be < plain }
      ewCached.unpersist(false)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private val ckptGraph = Seq((1L, 2L, 5L), (2L, 1L, 1L), (2L, 3L, 4L), (3L, 2L, 2L),
    (3L, 1L, 7L), (1L, 3L, 1L))
  /** `ckptGraph`'s pagerank on the distributed venue (cap 0), with
    * `graft.checkpointDir` set to `dir` when given. */
  private def distributedRanks(dir: Option[String]): Map[Long, Long] = {
    import spark.implicits._
    spark.conf.set("graft.graph.maxDriverEdges", "0")
    dir.foreach(spark.conf.set("graft.checkpointDir", _))
    try Graph.pagerank(ckptGraph.toDF("src", "dst", "w"), 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally {
      spark.conf.unset("graft.checkpointDir")
      spark.conf.unset("graft.graph.maxDriverEdges")
    }
  }

  test("checkpointDir: reliable-checkpoint path is bit-identical and writes state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec").toString
    val reliable = distributedRanks(Some(dir))
    reliable shouldBe refPagerank(ckptGraph, 6)
    reliable shouldBe distributedRanks(None)
    // the distributed rounds wrote their rdd state under dir: the edge
    // relation, the out-weight edges, the vertex stats and the rank
    // vector at rounds 5 and 6
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .count(_.getFileName.toString.startsWith("rdd-")) shouldBe 5
  }

  test("checkpointDir: the dir gets one checkpoint subdirectory, not one per materialization") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec").toFile
    distributedRanks(Some(dir.toString))
    distributedRanks(Some(dir.toString))
    dir.listFiles().count(_.isDirectory) shouldBe 1
  }

  test("harmonicCentrality equals brute-force BFS on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(9260814L)
    for (trial <- 1 to 3) {
      val nV = 10
      val und = (for {
        a <- 0 until nV; b <- a + 1 until nV
        if rnd.nextDouble() < 0.3
      } yield (a.toLong, b.toLong)).toSeq
      if (und.nonEmpty) {
        val adj = (und ++ und.map(p => (p._2, p._1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        // brute-force BFS per source, radius 3
        def dists(s: Long): Map[Long, Int] = {
          var d = Map(s -> 0); var fr = Set(s)
          for (k <- 1 to 3) {
            val nx = fr.flatMap(adj.getOrElse(_, Set.empty)) -- d.keySet
            d ++= nx.map(_ -> k); fr = nx
          }
          d - s
        }
        val nodes = adj.keySet
        val want = nodes.map { v =>
          // symmetric graph: d(u,v) over sources u = dists from v
          val ds = dists(v).values.toSeq
          v -> ((ds.map(1000000L / _).sum, ds.size.toLong))
        }.toMap
        val sym = und.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
        val got = Graph.harmonicCentrality(sym.toDF("src", "dst", "w"), radius = 3)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        withClue(s"trial $trial (${und.size} edges): ") { got shouldBe want }
      }
    }
  }

  test("neighborhoodFunction: exact ball sizes when k exceeds the ball, sane estimates when it doesn't") {
    import spark.implicits._
    val rnd = new scala.util.Random(13370814L)
    val nV = 14
    val und = (for {
      a <- 0 until nV; b <- a + 1 until nV
      if rnd.nextDouble() < 0.3
    } yield (a.toLong, b.toLong)).toSeq
    val adj = (und ++ und.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(s: Long, radius: Int): Set[Long] = {
      var d = Set(s); var fr = Set(s)
      for (_ <- 1 to radius) { fr = fr.flatMap(adj.getOrElse(_, Set.empty)) -- d; d ++= fr }
      d
    }
    val sym = und.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
    // k = 64 dominates every ball (≤ 14 nodes): sketches are EXACT,
    // so nb_est == |ball_r(v)| including v, at every radius
    val got = Graph.neighborhoodFunction(sym.toDF("src", "dst", "w"),
        radius = 3, k = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    for (v <- adj.keySet; r <- 1 to 3) {
      withClue(s"v=$v r=$r: ") { got((v, r)) shouldBe ball(v, r).size.toLong }
    }
    // k = 4 on the same graph: the estimator kicks in — positive, and
    // never wildly off a 14-node universe (KMV σ ≈ 1/√2 here, so 5x
    // bounds are a smoke check of the arithmetic, not the theory)
    val est = Graph.neighborhoodFunction(sym.toDF("src", "dst", "w"),
        radius = 3, k = 4)
      .filter(col("r") === 3)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    for (v <- adj.keySet) {
      val exact = ball(v, 3).size.toLong
      withClue(s"v=$v exact=$exact est=${est(v)}: ") {
        est(v) should be >= (exact / 5)
        est(v) should be <= (exact * 5 + 5)
      }
    }
  }

  test("cheapestPaths equals brute-force Bellman-Ford on seeded random weighted graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4440814L)
    for (trial <- 1 to 3) {
      val nV = 10
      val dir = (for {
        a <- 0 until nV; b <- 0 until nV
        if a != b && rnd.nextDouble() < 0.25
      } yield (a.toLong, b.toLong, (rnd.nextInt(9) + 1).toLong)).toSeq
      if (dir.nonEmpty) {
        val seeds = dir.map(_._1).distinct.filter(_ % 3 == 0).toSet
        if (seeds.nonEmpty) {
          // brute force: hops rounds of relaxation from the seed set
          var d = seeds.map(_ -> 0L).toMap
          for (_ <- 1 to 4) {
            val relaxed = dir.flatMap { case (u, v, c) => d.get(u).map(du => v -> (du + c)) }
            d = (d.toSeq ++ relaxed).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
          }
          val got = Graph.cheapestPaths(
              dir.toDF("src", "dst", "cost"), v => pmod(v, lit(3)) === 0, hops = 4)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          withClue(s"trial $trial: ") { got shouldBe d }
        }
      }
    }
  }

  test("kCore equals brute-force peeling on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(5550814L)
    for (trial <- 1 to 3; k <- Seq(2, 3)) {
      val nV = 12
      var und = (for {
        a <- 0 until nV; b <- a + 1 until nV
        if rnd.nextDouble() < 0.35
      } yield (a.toLong, b.toLong)).toSet
      if (und.nonEmpty) {
        // brute force: peel to fixpoint
        var stable = false
        while (!stable) {
          val deg = (und.toSeq.map(_._1) ++ und.toSeq.map(_._2))
            .groupBy(identity).view.mapValues(_.size).toMap
          val keep = deg.filter(_._2 >= k).keySet
          val pruned = und.filter(e => keep(e._1) && keep(e._2))
          stable = pruned == und
          und = pruned
        }
        val want = (und.toSeq.map(_._1) ++ und.toSeq.map(_._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val sym = und.toSeq.flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
        if (sym.nonEmpty) {
          val got = Graph.kCore(sym.toDF("src", "dst", "w"), k, maxRounds = 15)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          withClue(s"trial $trial k=$k: ") { got shouldBe want }
        } else {
          // fully peeled: the operator must return an empty core
          val base = (for {
            a <- 0 until nV; b <- a + 1 until nV if rnd.nextBoolean()
          } yield (a.toLong, b.toLong, 1L)).take(3)
          if (base.nonEmpty)
            Graph.kCore(base.toDF("src", "dst", "w"), 5, 15).count() shouldBe 0L
        }
      }
    }
  }

  test("degree orientation bounds wedge volume on a skewed hub graph") {
    import spark.implicits._
    // one hub of degree 200 over a 200-ring: id-order pivots C(200,2)
    // wedges at the hub; degree-order points every hub edge INTO the
    // hub (leaves have degree 3 < 200), so the hub pivots none
    val hub = (1 to 200).map(i => (0L, i.toLong, 1L))
    val ring = (1 to 200).map(i => (i.toLong, (i % 200 + 1).toLong, 1L))
    val skew = (hub ++ ring).toDF("src", "dst", "w")
    val naive = Graph.wedgeVolume(skew, degreeOrdered = false)
    val ordered = Graph.wedgeVolume(skew, degreeOrdered = true)
    naive should be >= (200L * 199L / 2)
    ordered should be <= 3L * 400L // m·ā territory, hub contributes 0
    // and the oriented count is still exact: each ring edge closes a
    // triangle with the hub -> every leaf is in 2 triangles (its two
    // ring neighbors), the hub in all 200
    val tc = Graph.triangleCounts(skew).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    tc(0L) shouldBe 200L
    (1L to 200L).foreach(v => tc(v) shouldBe 2L)
  }

  test("labelPropagation matches the reference recurrence; communities split at weak bridges") {
    import spark.implicits._
    // independent reference: same sync weighted-argmax/min-tie recurrence on Maps
    def ref(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
      val nodes = edges.map(_._1).distinct
      var lab = nodes.map(v => v -> v).toMap
      for (_ <- 1 to iters) {
        lab = nodes.map { v =>
          val wt = edges.filter(_._1 == v)
            .groupBy(e => lab(e._2)).view.mapValues(_.map(_._3).sum)
          v -> wt.toSeq.minBy { case (l, w) => (-w, l) }._1
        }.toMap
      }
      lab
    }
    // two heavy triangles {1,2,3} and {4,5,6} joined by a weak bridge
    def sym(pairs: (Long, Long, Long)*): Seq[(Long, Long, Long)] =
      pairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val bridged = sym((1L, 2L, 9L), (2L, 3L, 9L), (1L, 3L, 9L),
      (4L, 5L, 9L), (5L, 6L, 9L), (4L, 6L, 9L), (3L, 4L, 1L))
    val rnd = new scala.util.Random(127127L)
    val random = sym((for {
      a <- 0L until 10L; b <- a + 1 until 10L
      if rnd.nextDouble() < 0.5
    } yield (a, b, rnd.nextInt(5).toLong + 1L)): _*)
    for ((g, iters) <- Seq((bridged, 5), (random, 1), (random, 3), (random, 5))) {
      val got = graft.pipeline.Graph.labelPropagation(g.toDF("src", "dst", "w"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"iters=$iters: ") { got shouldBe ref(g, iters) }
    }
    // the bridged graph resolves to one community per triangle
    val comm = graft.pipeline.Graph.labelPropagation(bridged.toDF("src", "dst", "w"), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    comm.filter(_._1 <= 3L).values.toSet.size shouldBe 1
    comm.filter(_._1 >= 4L).values.toSet.size shouldBe 1
    comm(1L) should not be comm(4L)
  }

  test("clusteringCoefficient: exact rational values on a hand-computed graph") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant edge 3-4
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b, 1L), (b, a, 1L)) }
    val got = graft.pipeline.Graph.clusteringCoefficient(edges.toDF("src", "dst", "w"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    got shouldBe Map(
      1L -> ((2L, 1L, 1000000L)),            // deg 2, 1 triangle -> cc 1.0
      2L -> ((2L, 1L, 1000000L)),
      3L -> ((3L, 1L, 333333L)),             // 2*1e6/(3*2) floor
      4L -> ((1L, 0L, 0L)))                  // pendant: deg < 2
  }

  test("graph family is partition-invariant (integer arithmetic owes nothing to layout)") {
    import spark.implicits._
    val rnd = new scala.util.Random(777L)
    val edges = (for {
      a <- 0L until 15L; b <- a + 1 until 15L
      if rnd.nextDouble() < 0.45
    } yield (a, b, rnd.nextInt(9).toLong + 1L))
      .flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val base = edges.toDF("src", "dst", "w")
    val shuffled = edges.reverse.toDF("src", "dst", "w").repartition(7)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    rows(Graph.pagerank(shuffled, 10)) shouldBe rows(Graph.pagerank(base, 10))
    rows(Graph.triangleCounts(shuffled)) shouldBe rows(Graph.triangleCounts(base))
    rows(Graph.labelPropagation(shuffled, 5)) shouldBe rows(Graph.labelPropagation(base, 5))
    rows(Graph.clusteringCoefficient(shuffled)) shouldBe rows(Graph.clusteringCoefficient(base))
  }

  test("skyline equals brute-force dominance on seeded random point sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 5) {
      val pts = (1 to 120).map(i =>
        (i.toLong, rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      val brute = pts.filter { case (_, x, y) =>
        !pts.exists { case (_, bx, by) =>
          bx >= x && by >= y && (bx > x || by > y)
        }
      }.map(_._1).toSet
      val got = Sampling.skyline(pts.toDF("id", "x", "y"), "id", "x", "y")
        .collect().map(_.getLong(0)).toSet
      withClue(s"trial $trial: ") { got shouldBe brute }
    }
  }

  test("communityModularity: hand-computed audit on the bridged-triangles graph; global invariants") {
    import spark.implicits._
    def sym(pairs: (Long, Long, Long)*): Seq[(Long, Long, Long)] =
      pairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    // two heavy triangles {1,2,3} / {4,5,6} + a weak 3-4 bridge: LPA
    // resolves one community per triangle (asserted in the LPA spec);
    // m = 7 undirected edges. Community {1,2,3}: 3 internal edges,
    // degree sum 2+2+3 = 7 -> q_num = 4·7·3 − 49 = 35. Community
    // {4,5,6}: symmetric -> 35.
    val bridged = sym((1L, 2L, 9L), (2L, 3L, 9L), (1L, 3L, 9L),
      (4L, 5L, 9L), (5L, 6L, 9L), (4L, 6L, 9L), (3L, 4L, 1L))
    val out = graft.pipeline.Graph.communityModularity(
        bridged.toDF("src", "dst", "w"), iters = 5)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    out.map(r => (r._2, r._3, r._4, r._5)) shouldBe List(
      (3L, 3L, 7L, 35L), (3L, 3L, 7L, 35L))
    // global invariants: Σ n_nodes = |V|, Σ degree_sum = 2m, and the
    // internal edges never exceed m
    out.map(_._2).sum shouldBe 6L
    out.map(_._4).sum shouldBe 14L
    out.map(_._3).sum should be <= 7L
    // partition invariance
    graft.pipeline.Graph.communityModularity(
        bridged.toDF("src", "dst", "w").repartition(7), iters = 5)
      .as[(Long, Long, Long, Long, Long)].collect().toList shouldBe out
  }

  test("linkPrediction equals brute-force index computation; cap drops hub middles") {
    import spark.implicits._
    val rnd = new scala.util.Random(1450814L)
    for (trial <- 1 to 3) {
      val nV = 12
      val edges = (for {
        a <- 0 until nV; b <- a + 1 until nV
        if rnd.nextDouble() < 0.3
      } yield (a.toLong, b.toLong)).toSeq
      if (edges.nonEmpty) {
        val nbr = (edges ++ edges.map(e => (e._2, e._1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val deg = nbr.view.mapValues(_.size.toLong).toMap
        val eset = edges.toSet
        val want = (for {
          a <- nbr.keys; b <- nbr.keys
          if a < b && !eset((a, b))
          common = nbr(a) intersect nbr(b)
          if common.nonEmpty
        } yield {
          val cn = common.size.toLong
          val ra = common.toSeq.map(z => 1000000L / deg(z)).sum
          val jac = 1000000L * cn / (deg(a) + deg(b) - cn)
          (a, b, cn, jac, ra)
        }).toSet
        val got = Graph.linkPrediction(edges.toDF("src", "dst"),
            maxMiddleDegree = 1000L, topK = 1000)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        withClue(s"trial $trial: ") { got shouldBe want }
      }
    }
    // hub star: every 2-hop pair only via the hub; capping below the
    // hub degree leaves NO candidates, capping above keeps them all
    val star = (1L to 8L).map(i => (0L, i))
    Graph.linkPrediction(star.toDF("src", "dst"),
      maxMiddleDegree = 7L, topK = 100).count() shouldBe 0L
    Graph.linkPrediction(star.toDF("src", "dst"),
      maxMiddleDegree = 8L, topK = 100).count() shouldBe 28L // C(8,2)
    Graph.linkWedgeVolume(star.toDF("src", "dst"), 7L) shouldBe 0L
    Graph.linkWedgeVolume(star.toDF("src", "dst"), 0L) shouldBe 28L
  }
}
