package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType.fromDDL

/** Link-graph analytics for corpus quality weighting.
  *
  * Web-scale training-data pipelines weight documents by the link
  * structure of their origin (Common-Crawl-style host-graph PageRank,
  * harmonic centrality); this module provides the iterative-graph
  * machinery on Spark. The demonstration graph is derived from TPC-H:
  * suppliers co-occurring in an order are linked (weight = number of
  * co-occurrences), mirroring a host co-citation graph.
  *
  * **Cross-engine exactness**: ranks are fixed-point BIGINTs (scale
  * [[Graph.Scale]]) and every step uses integral arithmetic only —
  * `(rank * w) div ow` per edge, exact integer SUM per node, damping
  * as `(17 * s) div 20` — so the result is bit-identical regardless of
  * summation order or engine, unlike a floating-point PageRank whose
  * per-node sums depend on reduction order. The DuckDB oracle unrolls
  * the same recurrence with `//` floor division (identical to `div`
  * for the non-negative values here).
  *
  * **Scale shape** (100 TB posture): the edge relation joins rank on
  * `src` and aggregates contributions on `dst` — one shuffle per side
  * per iteration, volume O(|E|); the rank vector is O(|V|). Edges are
  * materialized once (out-weights attached before the loop) and every
  * iteration localCheckpoints its rank vector, so the logical plan
  * stays constant-depth across iterations (at production scale prefer
  * reliable `checkpoint(dir)` for executor-loss tolerance, and
  * pre-partition `edges` by `src` so the per-iteration join reuses one
  * exchange). Per-order supplier sets are bounded (≤ 7 lineitems per
  * order in TPC-H), so edge construction is a bounded per-key
  * self-join, linear in lineitem.
  */
object Graph {

  /** Fixed-point scale: rank 1.0 == 1e9. Headroom: rank ≤ Scale, so
    * `rank * w` stays under Long.MaxValue while w ≤ ~9.2e9 — guarded
    * in [[pagerank]]. */
  val Scale: Long = 1000000000L

  // ---- driver fast path for small graphs -------------------------------
  //
  // A distributed round costs ~0.2 s of Spark stage machinery at sf0.1,
  // while its integer arithmetic on a graph that size is
  // sub-millisecond. So every iterative operator below runs its loop on
  // the driver, over the collected edges, exactly when its
  // already-materialized edge relation has 0 < rows <= cap; otherwise
  // (cap 0 always, and any empty input) the distributed loop runs. Both
  // venues return the operator's one declared schema, and Long sums are
  // order-free, so they return the same rows. The gate is
  // [[PartitionUtil.venue]]; GraphSpec pins driver == distributed, rows
  // and schema, for every operator on adversarial inputs. Two caps,
  // because per-round work differs in shape: `Linear` for the
  // O(|E|)-per-round loops (2M edges, about 64 MB collected),
  // `Quadratic` for the ball/wedge operators whose work is super-linear
  // in |E| (bounded BFS, HyperBall sketches, triangles, link prediction).
  private val Linear = PartitionUtil.DriverCap("graft.graph.maxDriverEdges", 2000000L)
  private val Quadratic =
    PartitionUtil.DriverCap("graft.graph.maxDriverEdgesQuadratic", 262144L)

  /** Partitions for a distributed loop over `m` rows of `df`: about 2M
    * rows each (a narrow coalesce, no shuffle), capped at the inherited
    * partitioning so a genuinely large graph keeps its parallelism. A
    * small graph otherwise pays every round in full-width task
    * launches (measured 4x slower at |E| ~ 10^4). */
  private def loopParts(df: DataFrame, m: Long): Int =
    math.max(1L, math.min(df.rdd.getNumPartitions.toLong, m / 2000000L + 1L)).toInt

  /** The output of [[pagerank]] and [[personalizedPagerank]]. */
  private val RankOut = fromDDL("v BIGINT, rank BIGINT")

  /** Driver kernel: the exact [[pagerank]] / [[personalizedPagerank]]
    * recurrence over collected (src, dst, w) edges with the
    * out-weights derived in place. `baseOf` gives each node's restart
    * term (constant for pagerank, seed-conditional for trustrank);
    * `rank0` the initial rank. Long sums are order-free, so this is
    * bit-identical to the distributed rounds. */
  private[graft] def driverRankLoop(ew: Array[(Long, Long, Long)],
                                    iters: Int,
                                    rank0: Long => Long,
                                    baseOf: Long => Long): Seq[(Long, Long)] = {
    val ow = new java.util.HashMap[Long, Long]()
    ew.foreach { case (src, _, w) => ow.merge(src, w, (a, b) => a + b) }
    val nodes = ew.map(_._1).distinct
    val nodeSet = nodes.toSet
    var rank = new java.util.HashMap[Long, Long](nodes.length * 2)
    nodes.foreach(v => rank.put(v, rank0(v)))
    for (_ <- 1 to iters) {
      val contrib = new java.util.HashMap[Long, Long](nodes.length * 2)
      ew.foreach { case (src, dst, w) =>
        val r = rank.get(src) // every src is a node by construction
        val o = ow.get(src)
        // a source whose out-weights sum to 0 contributes nothing: the
        // distributed step's `div nullif(ow, 0)` is null and SUM skips it
        if (o != 0L && nodeSet.contains(dst))
          contrib.merge(dst, (r * w) / o, (a, b) => a + b)
      }
      val next = new java.util.HashMap[Long, Long](nodes.length * 2)
      nodes.foreach { v =>
        val sc = contrib.getOrDefault(v, 0L)
        next.put(v, baseOf(v) + (17L * sc) / 20L)
      }
      rank = next
    }
    nodes.toSeq.map(v => (v, rank.get(v)))
  }

  /** Supplier co-occurrence edges from lineitem: (src, dst, w) with
    * w = number of orders where both suppliers appear; symmetric by
    * construction, no self-loops. Distinct (order, supplier) first so
    * multi-lineitem orders don't inflate weights quadratically. */
  def supplierCooccurrence(lineitem: DataFrame): DataFrame = {
    // group each order's supplier SET (collect_set dedups multi-line
    // suppliers and is map-side combined), then expand ordered pairs
    // with a codegen'd higher-order transform — two shuffles total
    // (order group, pair count) and no join; the per-order set is
    // bounded (≤ 7 lineitems/order in TPC-H), so the expansion is a
    // bounded constant factor, never a hot-key blowup. The pair rides
    // the count exchange PACKED into one BIGINT (src·2³² + dst):
    // half the key bytes and a single-word grouping key instead of a
    // two-field struct (guide §2.3 — narrower types on the exchange;
    // measured 15% off the build, which every graph query pays).
    // Ids outside [0, 2³¹) would break the packing's injectivity, so
    // under the default they fail loudly instead of mis-counting —
    // and `graft.graph.packPairKey=false` selects the two-column
    // struct-key grouping instead (same rows, wider exchange), the
    // documented escape hatch for id domains the pack cannot carry
    // (synthetic/hashed 64-bit ids at 100 TB). The branch is a conf,
    // not a data probe: auto-detecting the bound would cost an extra
    // full aggregation pass per query on the common path.
    val packed = lineitem.sparkSession.conf
      .get("graft.graph.packPairKey", "true").toBoolean
    val grouped = lineitem.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_suppkey").cast("long")).as("ss"))
    if (packed) {
      val pack = "IF(x >= 0 AND x < 2147483648 AND y >= 0 AND y < 2147483648, " +
        "x * 4294967296L + y, " +
        "CAST(raise_error('supplierCooccurrence: supplier id exceeds 31 bits " +
        "- packed pair key would overflow; set graft.graph.packPairKey=false' " +
        ") AS BIGINT))"
      grouped
        .select(explode(expr(
          s"flatten(transform(ss, x -> transform(filter(ss, y -> y != x), " +
            s"y -> $pack)))")).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("w"))
        .select(shiftrightunsigned(col("k"), 32).as("src"),
          col("k").bitwiseAND(lit(4294967295L)).as("dst"), col("w"))
    } else {
      grouped
        .select(explode(expr(
          "flatten(transform(ss, x -> transform(filter(ss, y -> y != x), " +
            "y -> struct(x AS src, y AS dst))))")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
    }
  }

  /** Weighted PageRank over (src, dst, w) edges, damping 0.85, a fixed
    * number of synchronous iterations, all in Scale-fixed-point integer
    * arithmetic. Nodes are the DISTINCT EDGE SOURCES — a node must
    * have out-edges to hold rank, matching the oracle's outw-keyed
    * recurrence; a pure sink (in-edges only) absorbs contributions
    * but emits no rank row. On a symmetric graph (e.g. co-occurrence)
    * sources and destinations coincide and there is no dangling-mass
    * term. Returns (v, rank) with rank BIGINT.
    *
    * Iteration state materializes through [[PartitionUtil.materialize]]
    * (reliable checkpoints under the session conf `graft.checkpointDir`
    * when set). `prePartitionEdges`: hash-partition the edge
    * relation by `src` ONCE before the loop — each iteration's rank
    * join then shuffles only the (small) rank vector, never the edge
    * relation; the one-time exchange pays for itself after the first
    * iteration at any real |E| (asserted exchange-free in GraphSpec;
    * measured delta in docs/SCALE.md). */
  def pagerank(edges: DataFrame, iters: Int = 10,
               prePartitionEdges: Boolean = false): DataFrame = {
    // ONE materialization of the (possibly expensive) edge
    // construction — the narrow (src, dst, w) relation everything else
    // derives from. Its row count gates the driver fast path; on the
    // distributed path the out-weight join then reads materialized
    // blocks, so the edge build is guaranteed to run exactly once.
    val e0m = PartitionUtil.materialize(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    // driver fast path (see the header note): the 10 integer rounds —
    // and the whole preamble (out-weights, |V|, max-w guard) — run on
    // the collected edges; no vertex-stats pass, no out-weight join
    PartitionUtil.venue[(Long, Long, Long)](e0m, e0m.count(), Linear, RankOut) { ew =>
      val n = ew.iterator.map(_._1).toSet.size.toLong
      val maxW = ew.iterator.map(_._3).max
      require(maxW <= Long.MaxValue / Scale,
        s"pagerank: edge weight $maxW would overflow rank*w at scale $Scale")
      val base0 = (3L * Scale) / (20L * n)
      driverRankLoop(ew, iters, _ => Scale / n, _ => base0)
    } {
      val outw = e0m.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      // loop-invariant edge relation with out-weights attached once;
      // eagerly materialized so no iteration re-runs edge construction
      val ew0 = PartitionUtil.materialize(
        e0m.join(outw, Seq("src"))
          .select(col("src"), col("dst"), col("w"), col("ow")))
      // ONE materialized |V|-sized vertex-stats relation + ONE tiny
      // aggregate over it replace the preamble's three separate
      // edge-scan jobs (stats agg, node materialization, src/dst
      // mismatch probe) — guide §1.2, fewer passes; every preamble fact
      // (|V|, |E|, max w, zero-indegree / sink flags, the node set
      // itself) reads off the same pass
      val vstats = vertexStats(ew0)
      val g = vstats.agg(max(col("mw")).as("mw"), count(col("src")).as("n"),
        sum(col("cnt")).as("m"),
        max(when(col("dst").isNull, 1).otherwise(0)).as("zi"),
        max(when(col("src").isNull, 1).otherwise(0)).as("sk")).head()
      val maxW = Option(g.get(0)).fold(0L)(_.asInstanceOf[Long])
      val n = g.getLong(1)
      val m = Option(g.get(2)).fold(0L)(_.asInstanceOf[Long])
      require(n > 0, "pagerank: empty edge set")
      require(maxW <= Long.MaxValue / Scale,
        s"pagerank: edge weight $maxW would overflow rank*w at scale $Scale")
      val parts = loopParts(ew0, m)
      // pre-partitioned: ONE hash exchange on src, cached via persist()
      // — an InMemoryRelation KEEPS its output partitioning (a
      // checkpoint's LogicalRDD does not under AQE), so every
      // iteration's rank join sees an already-partitioned edge side and
      // shuffles only the rank vector (asserted in GraphSpec). Lost
      // cached blocks recompute from the materialized ew0 — one shuffle,
      // bounded lineage. Default: narrow coalesce, no shuffle at all —
      // right when iters is small or the graph fits a few partitions.
      val ew =
        if (prePartitionEdges) {
          val p = ew0.repartition(parts, col("src")).persist()
          p.count()
          p
        } else ew0.coalesce(parts)
      val base = (3L * Scale) / (20L * n) // 0.15/N in fixed point
      // node set = the non-null-src rows of the already-materialized
      // vertex stats — no separate distinct+materialize job
      val nodes = vstats.filter(col("src").isNotNull).select(col("src").as("v"))
      // Both iteration paths must return the SAME row set: `nodes`
      // (distinct src). The fast path keys each step's rank vector off
      // the contribution aggregate (grouped by dst), which equals
      // `nodes` only when src-set == dst-set — so it is taken only when
      // (a) no node has out-edges without in-edges (such a node gets no
      // contribution row yet must keep contributing its constant `base`
      // rank), and (b) no pure sink exists (a dst-only node would gain
      // a spurious rank row). Both hold for any symmetric graph, e.g.
      // co-occurrence. The node left-join then drops out — one less
      // shuffle per iteration, and the remaining join+agg chain is
      // reference-free so lineage can accumulate safely between the
      // every-5th-iteration checkpoints (measured 2.6x faster at
      // |E| ~ 10^4; at large |E| the join+agg dominates either way).
      val needNodeJoin = g.getInt(3) == 1 || g.getInt(4) == 1
      var rank = nodes.select(col("v"), lit(Scale / n).as("rank"))
      for (k <- 1 to iters) {
        val stepped = pagerankStep(ew, rank, base,
          if (needNodeJoin) Some(nodes) else None)
        // slow path: checkpoint every round (nodes + contrib both derive
        // from ew — chaining would self-join ambiguous lineage); fast
        // path: bound plan depth without a per-iteration job
        rank =
          if (needNodeJoin || k % 5 == 0 || k == iters)
            PartitionUtil.materialize(stepped)
          else stepped
      }
      if (prePartitionEdges) ew.unpersist(false) // rank is materialized
      rank
    }
  }

  /** Personalized PageRank (TrustRank-style) from a SEED SET: the
    * random walk teleports only to seeds, so rank measures proximity
    * to the trusted set — the standard quality-propagation signal for
    * weighting crawl hosts by distance from curated seed domains
    * (Gyöngyi et al. 2004). Same fixed-point integer recurrence as
    * [[pagerank]] with a seed-conditional base term:
    * `rank₀ = Scale/|S|` on seeds (0 elsewhere);
    * `rankₜ₊₁(v) = [v∈S]·(3·Scale)/(20·|S|) + (17·contrib)/20`.
    * Every node of the graph appears in the output (non-seeds far
    * from any seed simply converge to 0) — the row set is the
    * distinct-src node set, like pagerank.
    *
    * Scale shape: identical to [[pagerank]] — one rank join on src +
    * one contribution agg on dst per iteration, O(|E|); the seed flag
    * rides on the materialized node relation, so the per-iteration
    * node join (needed anyway: the base term is per-node) adds no
    * extra pass. Same `prePartitionEdges` knob. */
  def personalizedPagerank(edges: DataFrame, isSeed: Column => Column,
                           iters: Int = 10,
                           prePartitionEdges: Boolean = false): DataFrame = {
    // same single-materialization preamble as [[pagerank]]
    val e0m = PartitionUtil.materialize(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    // driver fast path (see the header note). The seed predicate is a
    // Column, so it evaluates over a LOCAL relation of the node ids —
    // one LocalTableScan job, no cluster pass.
    PartitionUtil.venue[(Long, Long, Long)](e0m, e0m.count(), Linear, RankOut) { ew =>
      val maxWd = ew.iterator.map(_._3).max
      require(maxWd <= Long.MaxValue / Scale,
        s"personalizedPagerank: edge weight $maxWd would overflow rank*w at scale $Scale")
      val seedSet = edges.sparkSession
        .createDataset(ew.map(_._1).distinct.toSeq)(Encoders.scalaLong).toDF("v")
        .filter(isSeed(col("v")).cast("boolean")).as(Encoders.scalaLong).collect().toSet
      require(seedSet.nonEmpty,
        "personalizedPagerank: seed predicate matched no node")
      val baseD = (3L * Scale) / (20L * seedSet.size)
      driverRankLoop(ew, iters,
        v => if (seedSet.contains(v)) Scale / seedSet.size else 0L,
        v => if (seedSet.contains(v)) baseD else 0L)
    } {
      val outw = e0m.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      val ew0 = PartitionUtil.materialize(
        e0m.join(outw, Seq("src"))
          .select(col("src"), col("dst"), col("w"), col("ow")))
      // the same fused preamble as [[pagerank]]: one materialized
      // vertex-stats pass + one tiny aggregate replace the separate
      // stats scan, seeded-node materialization, seed count and
      // src/dst-mismatch probe (4 sequential jobs -> 2); the seed flag
      // is a pure function of the node id, so |seeds| rides the same
      // aggregate
      val vstats = vertexStats(ew0)
      val g = vstats.agg(max(col("mw")).as("mw"), sum(col("cnt")).as("m"),
        max(when(col("dst").isNull, 1).otherwise(0)).as("zi"),
        max(when(col("src").isNull, 1).otherwise(0)).as("sk"),
        sum(when(col("src").isNotNull && isSeed(col("src")).cast("boolean"), 1L)
          .otherwise(0L)).as("nseeds")).head()
      val maxW = Option(g.get(0)).fold(0L)(_.asInstanceOf[Long])
      val m = Option(g.get(1)).fold(0L)(_.asInstanceOf[Long])
      require(m > 0, "personalizedPagerank: empty edge set")
      require(maxW <= Long.MaxValue / Scale,
        s"personalizedPagerank: edge weight $maxW would overflow rank*w at scale $Scale")
      val parts = loopParts(ew0, m)
      val ew =
        if (prePartitionEdges) {
          val p = ew0.repartition(parts, col("src")).persist()
          p.count()
          p
        } else ew0.coalesce(parts)
      // seed flag rides on the node relation — ONE boolean column
      // projected off the materialized vertex stats, no separate seed
      // join anywhere in the loop and no extra materialization job
      val seeded = vstats.filter(col("src").isNotNull)
        .select(col("src").as("v"), isSeed(col("src")).cast("boolean").as("s"))
      val nSeeds = Option(g.get(4)).fold(0L)(_.asInstanceOf[Long])
      require(nSeeds > 0, "personalizedPagerank: seed predicate matched no node")
      val base = (3L * Scale) / (20L * nSeeds)
      // fast path (the pagerank pattern, measured on the q130 graph):
      // when src and dst sets coincide the per-round seeded left join
      // drops out — the seed flag is a pure function of the node id, so
      // it evaluates dst-side ON the edge relation with no join and no
      // extra shuffle (preserving a prePartitionEdges layout), and each
      // round is ONE join + ONE agg ([[pprFastStep]]). One fused probe
      // job decides ([[srcDstMismatch]]); asymmetric graphs keep the
      // seeded-join path.
      val fast = !(g.getInt(2) == 1 || g.getInt(3) == 1)
      val ewS = if (fast)
        ew.withColumn("sd", isSeed(col("dst")).cast("boolean")) else ew
      var rank = seeded.select(col("v"),
        when(col("s"), lit(Scale / nSeeds)).otherwise(lit(0L)).as("rank"))
      for (k <- 1 to iters) {
        val stepped =
          if (fast) pprFastStep(ewS, rank, base)
          else pprStep(ew, seeded, rank, base)
        // seeded and the contrib chain both bottom out in materialized
        // relations, so lineage accumulates safely between every-5th
        // checkpoints — the pagerank fast-path pattern
        rank =
          if (k % 5 == 0 || k == iters)
            PartitionUtil.materialize(stepped)
          else stepped
      }
      if (prePartitionEdges) ew.unpersist(false)
      rank
    }
  }

  /** DuckDB oracle for [[personalizedPagerank]] over the supplier
    * co-occurrence graph with seeds `s_suppkey % seedMod == 0`: the
    * identical seed-conditional integer recurrence unrolled. */
  private[graft] def personalizedPagerankOracleSql(seedMod: Int, iters: Int): String = {
    val ns = "(SELECT c FROM ns)"
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
         |seeds AS (SELECT src AS v, (src % $seedMod = 0) AS s FROM outw),
         |ns AS (SELECT COUNT(*) AS c FROM seeds WHERE s),
         |r0 AS (SELECT v, CASE WHEN s THEN CAST($Scale AS BIGINT) // $ns
         |  ELSE 0 END AS rank FROM seeds)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (SELECT sd.v,
         |  CASE WHEN sd.s THEN (3 * CAST($Scale AS BIGINT)) // (20 * $ns) ELSE 0 END
         |  + (17 * COALESCE(CAST(c.sc AS BIGINT), 0)) // 20 AS rank
         |  FROM seeds sd LEFT JOIN (
         |    SELECT e.dst, SUM((r.rank * e.w) // eo.ow) AS sc
         |    FROM edges e JOIN r${k - 1} r ON r.v = e.src JOIN outw eo ON eo.src = e.src
         |    GROUP BY e.dst) c ON c.dst = sd.v)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + iterCtes +
      s"\nSELECT v AS s_suppkey, CAST(rank AS BIGINT) AS trust_scaled FROM r$iters" +
      " ORDER BY trust_scaled DESC, s_suppkey"
  }

  /** ONE personalized-PageRank round, un-materialized (exposed for
    * plan audits, same as [[pagerankStep]]): the contribution
    * join+agg, then the seed-conditional restart riding the `seeded`
    * node relation's boolean — still exactly two joins, no extra
    * seed join anywhere. */
  /** Does the node (distinct-src) set differ from the dst set — i.e.
    * does some source have no in-edges, or some destination no
    * out-edges? ONE fused job for what used to be two limit(1)
    * anti-join probes (guide §1.2: fewer passes): a full outer join
    * of the two distinct sets, a null on either side flagging its
    * mismatch class. Both distincts are map-side-combined O(|V|)
    * aggregations; the join is |V|-sized. */
  /** ONE materialized |V|-sized per-vertex stats relation for the
    * pagerank-family preambles: the distinct-src rows carry their
    * per-src edge count and max weight, full-outer-joined against the
    * distinct dst set — so the node set (src non-null), |E| (sum of
    * counts), max w, the zero-indegree flag (dst-side null) and the
    * sink flag (src-side null) all read off the SAME single pass over
    * the edge relation instead of three separate preamble jobs
    * (guide §1.2: fewer passes). Cost: two map-side-combined O(|E|)
    * aggregations + one |V|-sized join, the same volume the old
    * mismatch probe alone paid. */
  private[graft] def vertexStats(ew0: DataFrame): DataFrame =
    PartitionUtil.materialize(
      ew0.groupBy(col("src"))
        .agg(count(lit(1)).as("cnt"), max(col("w")).as("mw"))
        .join(ew0.select(col("dst")).distinct(), col("src") === col("dst"), "full")
        .select(col("src"), col("cnt"), col("mw"), col("dst")))

  private[graft] def srcDstMismatch(nodes: DataFrame, ew: DataFrame): Boolean = {
    val r = nodes
      .join(ew.select(col("dst")).distinct(), col("v") === col("dst"), "full")
      .agg(max(when(col("dst").isNull, 1).otherwise(0)).as("zero_indeg"),
           max(when(col("v").isNull, 1).otherwise(0)).as("sink")).head()
    r.getInt(0) == 1 || r.getInt(1) == 1
  }

  /** ONE personalized-PageRank round on the FAST path — valid exactly
    * when the node (src) set equals the dst set (no zero-indegree
    * source, no pure sink; any symmetric graph qualifies), so the
    * contribution aggregate's key set IS the node set and the
    * seed-conditional restart can ride a dst-side seed flag evaluated
    * on the edge relation itself: ONE join + ONE agg per round, the
    * [[pagerankStep]] fast shape, with the per-round seeded left join
    * gone. The flag is constant per dst, so max() over the group
    * recovers it exactly. sc is null only when every in-edge comes
    * from a source whose out-weights sum to 0; it counts as 0 there,
    * as in the slow path. */
  private[graft] def pprFastStep(ewS: DataFrame, rank: DataFrame,
                                 base: Long): DataFrame =
    ewS.join(rank.select(col("v").as("src"), col("rank")), Seq("src"))
      .select(col("dst").as("v"), col("sd"), expr("(rank * w) div nullif(ow, 0)").as("c"))
      .groupBy(col("v"))
      .agg(max(col("sd")).as("s"), sum(col("c")).as("sc"))
      .select(col("v"),
        (when(col("s"), lit(base)).otherwise(lit(0L))
          + expr("(17 * coalesce(sc, 0L)) div 20")).as("rank"))

  private[graft] def pprStep(ew: DataFrame, seeded: DataFrame,
                             rank: DataFrame, base: Long): DataFrame = {
    val contrib = ew
      .join(rank.select(col("v").as("src"), col("rank")), Seq("src"))
      .select(col("dst").as("v"), expr("(rank * w) div nullif(ow, 0)").as("c"))
      .groupBy(col("v")).agg(sum(col("c")).as("sc"))
    seeded.join(contrib, Seq("v"), "left")
      .select(col("v"),
        (when(col("s"), lit(base)).otherwise(lit(0L))
          + expr("(17 * coalesce(sc, 0L)) div 20")).as("rank"))
  }

  /** ONE synchronous PageRank round, un-materialized — the join+agg
    * chain the loop repeats, exposed so its physical plan can be
    * audited directly (the loop's materialization hides it behind a
    * LogicalRDD scan): join rank onto the edge relation by src,
    * aggregate contributions by dst, re-attach `nodes` when the
    * graph is asymmetric. */
  private[graft] def pagerankStep(ew: DataFrame, rank: DataFrame, base: Long,
                                  nodes: Option[DataFrame]): DataFrame = {
    val contrib = ew
      .join(rank.select(col("v").as("src"), col("rank")), Seq("src"))
      .select(col("dst").as("v"), expr("(rank * w) div nullif(ow, 0)").as("c"))
      .groupBy(col("v")).agg(sum(col("c")).as("sc"))
    nodes match {
      case Some(ns) =>
        ns.join(contrib, Seq("v"), "left")
          .select(col("v"),
            (lit(base) + expr("(17 * coalesce(sc, 0L)) div 20")).as("rank"))
      case None =>
        contrib.select(col("v"),
          (lit(base) + expr("(17 * coalesce(sc, 0L)) div 20")).as("rank"))
    }
  }

  /** Per-node triangle counts over an undirected edge set (the
    * clustering-coefficient numerator — community density signal for
    * link-graph quality weighting). Each undirected edge is oriented
    * from its (degree, id)-lexicographically smaller endpoint; wedges
    * u→v, u→w (v before w in the same order) form by ONE self-join on
    * the pivot u and close into triangles by a semi-join on the
    * directed v→w edge — every triangle is found exactly once at its
    * (degree, id)-minimal corner, then fans out to its three corners.
    * The triangle multiset is orientation-invariant, so the output is
    * identical to the naive id-ordered formulation.
    *
    * Scale shape: the wedge join is the whole cost — Σ_v outdeg(v)²
    * under the orientation. Degree-ordering caps every out-degree at
    * O(√m) (more precisely the join volume is bounded by m times the
    * graph arboricity), so a high-degree hub contributes m·ā wedges,
    * not deg(hub)² — the difference between linear and quadratic on a
    * skewed real link graph (verified by the skew probe in
    * ScaleProbe). The two degree-attach joins are plain O(|E|)
    * equi-joins; the closing semi-join short-circuits per wedge and
    * no triple materializes beyond the wedge set. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    // driver fast path (see the header note; quadratic cap — wedge
    // work): per edge, every common neighbour is one triangle corner
    // credit, so each corner collects exactly one credit per triangle
    PartitionUtil.venue[(Long, Long)](e, e.count(), Quadratic,
        fromDDL("v BIGINT, n_triangles BIGINT NOT NULL")) { ewArr =>
      val nbr = new java.util.HashMap[Long, java.util.HashSet[java.lang.Long]]()
      def ns(v: Long) = {
        var s = nbr.get(v)
        if (s == null) { s = new java.util.HashSet[java.lang.Long](); nbr.put(v, s) }
        s
      }
      ewArr.foreach { case (a, b) => ns(a).add(b); ns(b).add(a) }
      val tri = new java.util.HashMap[Long, Long]()
      ewArr.foreach { case (a, b) =>
        val (small, large) =
          if (ns(a).size <= ns(b).size) (ns(a), ns(b)) else (ns(b), ns(a))
        small.forEach { c => if (large.contains(c))
          tri.merge(c.longValue(), 1L, (x, y) => x + y) }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      tri.forEach { (v, n) => out += ((v, n)) }
      out
    } {
      val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      // orient each edge low→high by (degree, id); keep the head's
      // (degree, id) key so the wedge join can order its two spokes
      // without a third degree lookup
      val dir = e
        .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
        .select(
          when(col("da") < col("db") ||
               (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("x"), col("db").as("dx")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("x"), col("da").as("dx")))
          .as("s"))
        .select(col("s.u").as("u"), col("s.x").as("x"), col("s.dx").as("dx"))
        .localCheckpoint()
      // wedges u→v, u→w with v strictly before w in (degree, id) order:
      // each unordered spoke pair counted once, and the closing edge
      // {v, w} — if present — is oriented v→w by construction
      val wedges = dir.select(col("u"), col("x").as("v"), col("dx").as("dv"))
        .join(dir.select(col("u"), col("x").as("w"), col("dx").as("dw")), Seq("u"))
        .filter(col("dv") < col("dw") ||
                (col("dv") === col("dw") && col("v") < col("w")))
      val tris = wedges
        .join(dir.select(col("x").as("w"), col("u").as("v")),
          Seq("v", "w"), "left_semi")
      tris.select(explode(array(col("u"), col("v"), col("w"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
    }
  }

  /** Diagnostic: the wedge-join volume Σ_v C(outdeg(v), 2) the
    * triangle count would generate under either orientation — the
    * number the skew probe reports. `degreeOrdered = true` is the
    * orientation [[triangleCounts]] actually uses (arboricity-bounded:
    * a degree-d hub's edges all point INTO it, so it pivots no
    * wedges); `false` is the naive id-order, where the same hub
    * pivots C(d, 2) wedges. */
  def wedgeVolume(edges: DataFrame, degreeOrdered: Boolean): Long = {
    val e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val pivots =
      if (!degreeOrdered) e.select(col("a").as("u"))
      else {
        val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("d"))
        e.join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
          .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
          .select(when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("u"))
      }
    val r = pivots.groupBy(col("u")).agg(count(lit(1)).as("od"))
      .agg(sum(expr("od * (od - 1) div 2")).as("wedges")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Bounded-radius harmonic centrality: H(v) = Σ_{0<d(u,v)≤R} 1/d —
    * the closeness-family centrality that handles disconnected graphs
    * gracefully (unreachable nodes contribute 0, not ∞), used as a
    * link-graph quality signal alongside PageRank (Boldi & Vigna
    * 2014). Computed by multi-source BFS: the frontier relation
    * (source s, node v, distance d) expands one hop per round, anti-
    * joined against everything already reached so each (s, v) pair
    * keeps its FIRST (= shortest) distance. 1/d lands on the 1e6
    * integer grid (`1e6 div d`) so the sum is engine-exact.
    *
    * Scale shape: round k's relation is Σ_v |ball_k(v)| pairs — the
    * radius bound R is the knob that keeps this from becoming
    * all-pairs on a 100 TB graph (R=3 is the standard local-centrality
    * choice; the unbounded production variant is HyperBall, which
    * replaces the exact pair set with per-node HLL counters — the
    * KMV/HLL sketch family this engine already carries). Each round:
    * one |frontier|·avg-degree equi-join + one anti join + distinct,
    * all hash-shuffled on (s, v); state materializes per round. */
  def harmonicCentrality(edges: DataFrame, radius: Int = 3): DataFrame = {
    require(radius >= 1, s"harmonicCentrality: radius must be >= 1, got $radius")
    val e0 = PartitionUtil.materialize(
      edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    val m = e0.count()
    // driver fast path (see the header note; the quadratic cap — this
    // is Σ|ball| work): multi-source BFS, first distance wins
    PartitionUtil.venue[(Long, Long)](e0, m, Quadratic,
        fromDDL("v BIGINT, harmonic_q6 BIGINT, n_reached BIGINT NOT NULL")) { ewArr =>
      val adj = ewArr.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val hsum = new java.util.HashMap[Long, Long]()
      val nreach = new java.util.HashMap[Long, Long]()
      adj.keys.foreach { s =>
        val seen = scala.collection.mutable.Set[Long](s)
        var frontier: Seq[Long] = Seq(s)
        for (d <- 1 to radius; if frontier.nonEmpty) {
          val next = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
            .distinct.filterNot(seen)
          next.foreach { v =>
            seen += v
            hsum.merge(v, 1000000L / d, (a, b) => a + b)
            nreach.merge(v, 1L, (a, b) => a + b)
          }
          frontier = next
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      hsum.forEach { (v, h) => out += ((v, h, nreach.get(v))) }
      out
    } {
      val e = e0.coalesce(loopParts(e0, m))
      // d(v, v) = 0 seeds; excluded from the sum but needed so round 1
      // doesn't re-reach the source itself. Only each round's FRONTIER
      // materializes — the accumulated reached set stays a lazy union of
      // the already-materialized per-round relations (each round's new
      // pairs are the only new state, so checkpoint I/O is O(Σ|ball|)
      // total, not O(R·Σ|ball|); the anti join probes the union, which
      // scans R materialized block sets — R = radius, a small constant).
      val frontiers = scala.collection.mutable.ArrayBuffer(
        PartitionUtil.materialize(
          e.select(col("src").as("s")).distinct()
            .select(col("s"), col("s").as("v"), lit(0L).as("d"))))
      for (k <- 1 to radius) {
        val all = frontiers.reduce(_ union _)
        val next = PartitionUtil.materialize(
          harmonicHop(e, frontiers.last, all, k))
        frontiers += next
      }
      frontiers.reduce(_ union _).filter(col("d") > 0)
        .groupBy(col("v"))
        .agg(sum(expr("1000000 div d")).as("harmonic_q6"),
             count(lit(1)).as("n_reached"))
    }
  }

  /** ONE BFS hop of [[harmonicCentrality]], un-materialized (exposed
    * for plan audits): expand the frontier across the edge relation
    * (one equi-join), dedup, and keep first-distance-wins via ONE
    * anti join against the already-reached union — no other join, no
    * window, everything bounded by |frontier|·deg. */
  private[graft] def harmonicHop(e: DataFrame, frontier: DataFrame,
                                 reached: DataFrame, k: Int): DataFrame =
    frontier.join(e.select(col("src").as("v"), col("dst")), Seq("v"))
      .select(col("s"), col("dst").as("v")).distinct()
      .join(reached, Seq("s", "v"), "left_anti")
      .select(col("s"), col("v"), lit(k.toLong).as("d"))

  /** DuckDB oracle for [[harmonicCentrality]] on the strong-tie
    * graph, radius unrolled to 3 hop CTEs with the same
    * first-distance-wins anti-join semantics. */
  private[graft] def harmonicCentralityOracleSql(minW: Long, radius: Int): String = {
    require(radius >= 1)
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |e AS (SELECT DISTINCT src, dst FROM edges0 WHERE w >= $minW AND src <> dst),
         |p0 AS (SELECT DISTINCT src AS s, src AS v, 0 AS d FROM e)""".stripMargin
    val hops = (1 to radius).map { k =>
      val prev = (0 until k).map(i => s"SELECT s, v FROM p$i").mkString(" UNION ALL ")
      s"""p$k AS (SELECT DISTINCT f.s, e.dst AS v, $k AS d
         |  FROM p${k - 1} f JOIN e ON e.src = f.v
         |  WHERE NOT EXISTS (SELECT 1 FROM ($prev) r
         |                    WHERE r.s = f.s AND r.v = e.dst))""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to radius).map(i => s"SELECT s, v, d FROM p$i").mkString(" UNION ALL ")
    head + ",\n" + hops +
      s"""\nSELECT v AS s_suppkey,
         |  CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_q6,
         |  COUNT(*) AS n_reached
         |FROM ($unionAll) GROUP BY v ORDER BY s_suppkey""".stripMargin
  }

  /** Approximate neighborhood function — the HyperBall construction
    * (Boldi & Vigna 2013) with a KMV bottom-k sketch in place of the
    * HLL counter: per node, a sketch of the hashes of every node
    * within radius r, advanced one hop per round by MERGING each
    * node's neighbors' sketches (bottom-k unions are distributively
    * mergeable — one groupBy per round), with |ball_r(v)| estimated
    * by the KMV estimator. Unlike HyperBall's HLL registers, every
    * step here is exact integer arithmetic on a deterministic hash,
    * so the whole iteration — sketches AND estimates — replays
    * bit-for-bit in DuckDB.
    *
    * This is the scale path [[harmonicCentrality]] names: the exact
    * pair set Σ|ball| becomes O(|V|·k) sketch state per round, so
    * ball sizes (and radii) that would melt the exact BFS cost a
    * constant k longs per node. Emits one row per (node, radius ≤ R):
    * (v, r, k_used, kth, nb_est) where nb_est counts the ball
    * INCLUDING v itself.
    *
    * Scale shape: per round one |E|-bounded join + one
    * map-side-combined sketch-merge aggregation; self-loops carry
    * each node's own sketch through the same merge (no separate
    * union-with-previous pass); state materializes per round. */
  def neighborhoodFunction(edges: DataFrame, radius: Int = 3, k: Int = 32): DataFrame = {
    require(radius >= 1, s"neighborhoodFunction: radius must be >= 1")
    require(k >= 1, s"neighborhoodFunction: k must be >= 1")
    val spark = edges.sparkSession
    graft.functions.ContentHashExpression.register(spark)
    val h62 = shiftrightunsigned(
      graft.functions.ContentHashExpression.contentHash64(col("v").cast("string")), 2)
    val merge = udaf(new graft.functions.KmvMergeAggregator(k))
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val nodes = e0.select(col("src").as("v")).distinct()
    val eM = PartitionUtil.materialize(
      e0.union(nodes.select(col("v").as("src"), col("v").as("dst"))))
    val m = eM.count()
    // driver fast path (see the header note; quadratic cap — per-round
    // work is O(|E|·k) sketch merges): the identical bottom-k sketch
    // recurrence over the edges and self-loops, with the identical
    // content hash and integer estimator
    val out = fromDDL("v BIGINT, r BIGINT NOT NULL, k_used BIGINT, kth BIGINT, nb_est BIGINT")
    PartitionUtil.venue[(Long, Long)](eM, m, Quadratic, out) { ewArr =>
      val adj = ewArr.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var hb = adj.keysIterator.map { v =>
        v -> Array(graft.functions.ContentHashUtil.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)) >>> 2)
      }.toMap
      def bottomK(xs: Array[Long]): Array[Long] = {
        val d = xs.distinct
        java.util.Arrays.sort(d)
        d.take(k)
      }
      def est(sk: Array[Long]): Long =
        if (sk.length < k) sk.length.toLong
        else (BigInt(k - 1) * BigInt(4611686018427387904L) / BigInt(sk.last)).toLong
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
      for (r <- 1 to radius) {
        hb = adj.map { case (v, ds) =>
          v -> bottomK(ds.flatMap(d => hb.getOrElse(d, Array.empty[Long])))
        }
        hb.foreach { case (v, sk) =>
          out += ((v, r.toLong, sk.length.toLong, sk.last, est(sk)))
        }
      }
      out
    } {
      val e = eM.coalesce(loopParts(eM, m))
      var hb = PartitionUtil.materialize(
        nodes.select(col("v"), array(h62).as("sk")))
      val est =
        when(size(col("sk")) < k, size(col("sk")).cast("long"))
          .otherwise(expr(
            s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) * CAST(4611686018427387904 AS DECIMAL(38,0)))" +
              " div CAST(element_at(sk, -1) AS DECIMAL(38,0)) AS BIGINT)"))
      val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (r <- 1 to radius) {
        hb = PartitionUtil.materialize(
          hyperballRound(e, hb, merge))
        rounds += hb.select(col("v"), lit(r.toLong).as("r"),
          size(col("sk")).cast("long").as("k_used"),
          element_at(col("sk"), -1).as("kth"),
          est.as("nb_est"))
      }
      rounds.reduce(_ unionByName _)
    }
  }

  /** ONE HyperBall round, un-materialized (exposed for plan audits):
    * join each node's sketch onto its in-edges (the self-loop row
    * carries the node's own sketch), then ONE map-side-combinable
    * bottom-k merge aggregation per destination — one join + one agg,
    * O(|E|·k) shuffle, no window, no second pass. */
  private[graft] def hyperballRound(e: DataFrame, hb: DataFrame,
      merge: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame =
    e.join(hb.select(col("v").as("dst"), col("sk")), Seq("dst"))
      .groupBy(col("src")).agg(merge(col("sk")).as("sk"))
      .select(col("src").as("v"), col("sk"))

  /** DuckDB oracle for [[neighborhoodFunction]] on the strong-tie
    * graph: the identical sketch recurrence with list operations —
    * `list_sort(list_distinct(flatten(list(sk))))[1:k]` IS the
    * bottom-k union — and the same integer estimator. */
  private[graft] def neighborhoodFunctionOracleSql(minW: Long, radius: Int,
                                                   k: Int): String = {
    import HashSql._
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |e AS (SELECT DISTINCT src, dst FROM edges0 WHERE w >= $minW AND src <> dst),
         |n AS (SELECT DISTINCT src AS v FROM e),
         |es AS (SELECT src, dst FROM e UNION SELECT v, v FROM n),
         |f AS (SELECT v, ${fnv64("CAST(v AS VARCHAR)")} AS h FROM n),
         |m1 AS (SELECT v, ${mixStage1("h")} AS h FROM f),
         |m2 AS (SELECT v, ${mixStage2("h")} AS h FROM m1),
         |m3 AS (SELECT v, ${mixStage3("h")} AS h FROM m2),
         |hm AS (SELECT v, CAST(${mixStage4("h")} // 4 AS BIGINT) AS h FROM m3),
         |hb0 AS (SELECT v, [h] AS sk FROM hm)""".stripMargin
    val hops = (1 to radius).map { r =>
      s"""hb$r AS (SELECT es.src AS v,
         |    list_sort(list_distinct(flatten(list(sk))))[1:$k] AS sk
         |  FROM es JOIN hb${r - 1} p ON p.v = es.dst GROUP BY es.src)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to radius).map { r =>
      s"""SELECT v, CAST($r AS BIGINT) AS r, CAST(len(sk) AS BIGINT) AS k_used,
         |  sk[len(sk)] AS kth,
         |  CAST(CASE WHEN len(sk) < $k THEN len(sk)
         |       ELSE (${k - 1} * CAST(4611686018427387904 AS HUGEINT))
         |            // CAST(sk[len(sk)] AS HUGEINT) END AS BIGINT) AS nb_est
         |FROM hb$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    head + ",\n" + hops +
      s"\nSELECT v AS s_suppkey, r, k_used, kth, nb_est FROM ($unions)" +
      " ORDER BY r, s_suppkey"
  }

  /** Bounded-hop cheapest paths from a seed set — Bellman-Ford rounds
    * in the MIN-PLUS semiring (where pagerank/LPA iterate sum/argmax):
    * dist₀ = 0 on seeds; distₜ₊₁(v) = min(distₜ(v), min over in-edges
    * (distₜ(u) + cost(u,v))). Integer edge costs, so min-plus is
    * reduction-order-free and the result hash-exact. The pipeline
    * reading: cost = distance from trusted/curated seeds along a
    * weighted link graph (cheap edge = strong tie), the path-cost
    * sibling of [[personalizedPagerank]]'s walk-mass signal. Nodes
    * unreached within `hops` emit no row.
    *
    * Scale shape: per round one |E| join + one min aggregation over
    * (reached ∪ relaxed) — both bounded by |E|; the distance vector
    * references itself twice per round (keep + relax), so every
    * round materializes (the dedupGroups discipline, not pagerank's
    * every-5th: chaining here would square the plan per round). */
  def cheapestPaths(edges: DataFrame, isSeed: Column => Column,
                    hops: Int = 4): DataFrame = {
    require(hops >= 1, s"cheapestPaths: hops must be >= 1, got $hops")
    val e0 = PartitionUtil.materialize(
      edges.select(col("src"), col("dst"), col("cost").cast("long").as("cost"))
        .filter(col("src") =!= col("dst")))
    val m = e0.count()
    // driver fast path (see the header note): min-plus relaxation over
    // the collected edges — integer min is reduction-order-free
    PartitionUtil.venue[(Long, Long, Long)](e0, m, Linear, fromDDL("v BIGINT, cost BIGINT")) { ew =>
      val seeds = e0.select(col("src")).distinct()
        .filter(isSeed(col("src"))).as(Encoders.scalaLong).collect()
      require(seeds.nonEmpty, "cheapestPaths: seed predicate matched no node")
      var dist = new java.util.HashMap[Long, Long](seeds.length * 2)
      seeds.foreach(v => dist.put(v, 0L))
      for (_ <- 1 to hops) {
        val next = new java.util.HashMap[Long, Long](dist.size() * 2)
        dist.forEach { (v, c) => next.put(v, c) }
        ew.foreach { case (src, dst, cost) =>
          if (dist.containsKey(src))
            next.merge(dst, dist.get(src) + cost, (a, b) => math.min(a, b))
        }
        dist = next
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      dist.forEach { (v, c) => out += ((v, c)) }
      out
    } {
      val e = e0.coalesce(loopParts(e0, m))
      val seeds = e.select(col("src").as("v")).distinct().filter(isSeed(col("v")))
      var dist = PartitionUtil.materialize(
        seeds.select(col("v"), lit(0L).as("cost")))
      require(dist.limit(1).count() > 0,
        "cheapestPaths: seed predicate matched no node")
      for (_ <- 1 to hops) {
        dist = PartitionUtil.materialize(relaxRound(e, dist))
      }
      dist
    }
  }

  /** ONE Bellman-Ford relax round, un-materialized (exposed for plan
    * audits): relax every edge from the current distance vector (one
    * equi-join), union with the kept distances, take the min per node
    * (one aggregation) — integer min-plus is reduction-order-free, so
    * the round is deterministic under any physical grouping. */
  private[graft] def relaxRound(e: DataFrame, dist: DataFrame): DataFrame = {
    val relaxed = e
      .join(dist.select(col("v").as("src"), col("cost").as("dc")), Seq("src"))
      .select(col("dst").as("v"), (col("dc") + col("cost")).as("cost"))
    dist.union(relaxed).groupBy(col("v")).agg(min(col("cost")).as("cost"))
  }

  /** DuckDB oracle for [[cheapestPaths]] on the strong-tie graph with
    * cost = 1e6 div w and seeds `src % seedMod == 0`, hops unrolled. */
  private[graft] def cheapestPathsOracleSql(minW: Long, seedMod: Int,
                                            hops: Int): String = {
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |e AS (SELECT src, dst, CAST(1000000 // w AS BIGINT) AS cost
         |  FROM edges0 WHERE w >= $minW AND src <> dst),
         |d0 AS (SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS c
         |  FROM e WHERE src % $seedMod = 0)""".stripMargin
    val rounds = (1 to hops).map { k =>
      s"""d$k AS (SELECT v, MIN(c) AS c FROM (
         |    SELECT v, c FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, d.c + e.cost AS c
         |    FROM d${k - 1} d JOIN e ON e.src = d.v) GROUP BY v)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + rounds +
      s"\nSELECT v AS s_suppkey, CAST(c AS BIGINT) AS path_cost FROM d$hops" +
      " ORDER BY path_cost, s_suppkey"
  }

  /** k-core extraction by iterative peeling: repeatedly remove nodes
    * of degree < k (with their edges) until no such node remains —
    * the densest-substructure filter link-graph pipelines use to
    * separate organically-linked cores from sparsely-attached spam
    * tendrils (a PageRank-orthogonal structure signal). Peeling is
    * CONFLUENT — the final core is independent of removal order — so
    * a fixed round count R ≥ the peel depth gives a deterministic,
    * engine-exact result: extra rounds are no-ops on both sides, and
    * convergence within R is asserted loudly (the dedupGroups
    * discipline — a silent partial peel would hand downstream keep
    * decisions a wrong core).
    *
    * Scale shape: per round one degree aggregation over the surviving
    * edges + one semi-join filter, both O(|E_t|) and SHRINKING
    * monotonically; edges materialize per round (each round
    * references the survivors twice). Returns (v, core_deg) for the
    * surviving nodes, core_deg = the node's degree inside the core. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    var e = PartitionUtil.materialize(
      edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    // carry the surviving-edge count across rounds: the materialize is
    // eager (its job already counts nothing), so ONE count() action per
    // peel round suffices — the previous round's count is a variable,
    // not a second job
    var mPrev = e.count()
    // driver fast path (see the header note): iterative peeling over
    // the collected canonical edge set — peeling is confluent and the
    // round/convergence accounting mirrors the distributed loop exactly
    PartitionUtil.venue[(Long, Long)](e, mPrev, Linear,
        fromDDL("v BIGINT, core_deg BIGINT NOT NULL")) { ewArr =>
      var es = ewArr.toSeq
      var prev = es.length
      var conv = false
      var rounds = 0
      while (!conv && rounds < maxRounds) {
        val deg = (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
          .view.mapValues(_.length.toLong).toMap
        val keep = deg.collect { case (v, d) if d >= k => v }.toSet
        es = es.filter { case (a, b) => keep(a) && keep(b) }
        conv = es.length == prev
        prev = es.length
        rounds += 1
      }
      require(conv,
        s"kCore: did not converge within $maxRounds peel rounds — raise maxRounds")
      (es.map(_._1) ++ es.map(_._2)).groupBy(identity).view.mapValues(_.length.toLong).toSeq
    } {
      var converged = false
      var r = 0
      while (!converged && r < maxRounds) {
        val pruned = PartitionUtil.materialize(peelRound(e, k))
        val m = pruned.count()
        converged = m == mPrev
        mPrev = m
        e = pruned
        r += 1
      }
      require(converged,
        s"kCore: did not converge within $maxRounds peel rounds — raise maxRounds")
      e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("core_deg"))
    }
  }

  /** ONE k-core peel round, un-materialized (exposed for plan
    * audits): one degree aggregation over the surviving edges, then
    * BOTH endpoints filtered through the ≥k survivor set by two semi
    * joins — O(|E_t|), shrinking monotonically, no window, no
    * cartesian anywhere. */
  private[graft] def peelRound(e: DataFrame, k: Int): DataFrame = {
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val keep = deg.filter(col("d") >= k).select(col("v"))
    e.join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
      .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
  }

  /** DuckDB oracle for [[kCore]] on the strong-tie graph: the same
    * peel unrolled to `rounds` CTEs (peeling is confluent, so extra
    * rounds are no-ops — the Spark side asserts convergence). */
  private[graft] def kCoreOracleSql(minW: Long, k: Int, rounds: Int): String = {
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM edges0 WHERE w >= $minW AND src <> dst)""".stripMargin
    // each round references the previous edge set three times, so the
    // CTEs must be MATERIALIZED — inlined, the plan (and the open
    // parquet handles) would grow 3^rounds
    val peels = (1 to rounds).map { t =>
      s"""k$t AS MATERIALIZED (SELECT v FROM (
         |    SELECT v, COUNT(*) AS d FROM (
         |      SELECT a AS v FROM e${t - 1} UNION ALL SELECT b FROM e${t - 1})
         |    GROUP BY v) WHERE d >= $k),
         |e$t AS MATERIALIZED (SELECT a, b FROM e${t - 1}
         |  WHERE a IN (SELECT v FROM k$t) AND b IN (SELECT v FROM k$t))""".stripMargin
    }.mkString(",\n")
    head + ",\n" + peels +
      s"""\nSELECT v AS s_suppkey, COUNT(*) AS core_deg FROM (
         |  SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds)
         |GROUP BY v ORDER BY core_deg DESC, s_suppkey""".stripMargin
  }

  /** DuckDB oracle for [[triangleCounts]] over the supplier
    * co-occurrence graph: the same canonicalization and wedge-close
    * joins, spelled as an independent triple join. */
  private[graft] def triangleCountsOracleSql(minW: Long): String =
    s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |edges AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
       |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
       |  GROUP BY 1, 2),
       |e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM edges WHERE w >= $minW),
       |tri AS (SELECT e1.a, e1.b AS m, e2.b AS c
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b
       |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
       |corners AS (SELECT a AS v FROM tri UNION ALL SELECT m FROM tri UNION ALL SELECT c FROM tri)
       |SELECT v AS s_suppkey, COUNT(*) AS n_triangles FROM corners
       |GROUP BY v ORDER BY n_triangles DESC, s_suppkey""".stripMargin

  /** Synchronous weighted label propagation (community detection —
    * the topical-grouping signal over a link/co-occurrence graph):
    * labels start as node ids; each round every node adopts the label
    * with the greatest incident edge weight among its neighbors, ties
    * to the SMALLEST label — fully deterministic, no RNG, no
    * order-dependence (weighted sums are exact integer adds).
    * Synchronous LPA can oscillate on bipartite structures, so the
    * round count is FIXED (no convergence claim) — the standard
    * deterministic variant.
    *
    * Scale shape: per round, one equi-join of the label vector on
    * `dst` and one (v, label) weight aggregation + argmax, all
    * bounded by |E|. Like pagerank's fast path, the round chain is
    * reference-free (the edge relation and the seed labels are both
    * materialized), so the label vector checkpoints every 5th round
    * and at the end — bounded plan depth without a per-round job.
    * `prePartitionEdges` hash-partitions the edges by
    * `dst` once so each round's label join shuffles only the label
    * vector. */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
                       prePartitionEdges: Boolean = false): DataFrame = {
    val e0 = PartitionUtil.materialize(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    val m = e0.count()
    // driver fast path (see the header note): synchronous LPA rounds
    // over the collected edges — argmax by (weight desc, label asc),
    // the same total order as the distributed struct-min
    PartitionUtil.venue[(Long, Long, Long)](e0, m, Linear, fromDDL("v BIGINT, label BIGINT")) { ewArr =>
      // nodes and labels are positions in the sorted node array (< 2^31,
      // as |V| <= |E| <= cap), so one packed Long keys a (src, label)
      // pair and position order is label order for the tie-break
      val nodes = ewArr.map(_._1).distinct.sorted
      def pos(v: Long) = java.util.Arrays.binarySearch(nodes, v)
      val srcPos = ewArr.map(e => pos(e._1))
      val dstPos = ewArr.map(e => pos(e._2)) // negative: not a node
      var labels = Array.range(0, nodes.length) // -1: dropped out
      for (_ <- 1 to iters) {
        // wt(src, label) = Σ w over edges whose dst currently holds label
        val wt = new java.util.HashMap[Long, Long](ewArr.length / 2)
        var i = 0
        while (i < ewArr.length) {
          val d = dstPos(i)
          if (d >= 0 && labels(d) >= 0)
            wt.merge(srcPos(i).toLong << 32 | labels(d), ewArr(i)._3, (a, b) => a + b)
          i += 1
        }
        val next = Array.fill(nodes.length)(-1)
        val best = new Array[Long](nodes.length)
        wt.forEach { (key, sum) =>
          val src = (key >>> 32).toInt
          val label = key.toInt
          if (next(src) < 0 || sum > best(src) || (sum == best(src) && label < next(src))) {
            next(src) = label
            best(src) = sum
          }
        }
        labels = next
      }
      // the distributed round is an INNER join on dst, so a node whose
      // neighbors all lost their labels drops out — emit exactly the
      // final relation's keys, not the initial node set
      nodes.indices.filter(labels(_) >= 0).map(i => (nodes(i), nodes(labels(i))))
    } {
      val parts = loopParts(e0, m)
      // persist (not checkpoint): InMemoryRelation keeps the hash
      // partitioning on dst, so each round's label join shuffles only
      // the label vector — see the pagerank note
      val e =
        if (prePartitionEdges) {
          val p = e0.repartition(parts, col("dst")).persist()
          p.count()
          p
        } else e0.coalesce(parts)
      var labels = PartitionUtil.materialize(
        e.select(col("src").as("v")).distinct()
          .select(col("v"), col("v").as("label")))
      for (k <- 1 to iters) {
        val stepped = lpaRound(e, labels)
        labels =
          if (k % 5 == 0 || k == iters)
            PartitionUtil.materialize(stepped)
          else stepped
      }
      if (prePartitionEdges) e.unpersist(false) // labels are materialized
      labels
    }
  }

  /** ONE synchronous LPA round, un-materialized — join the label
    * vector onto the edges by dst, sum incident weight per (src,
    * label), argmax with min-label ties — exposed so the one-join-
    * two-agg plan shape can be audited directly. */
  private[graft] def lpaRound(e: DataFrame, labels: DataFrame): DataFrame =
    e.join(labels.select(col("v").as("dst"), col("label")), Seq("dst"))
      .groupBy(col("src"), col("label"))
      .agg(sum(col("w")).as("wt"))
      .groupBy(col("src"))
      .agg(min(struct((-col("wt")).as("nw"), col("label"))).as("m"))
      .select(col("src").as("v"), col("m.label").as("label"))

  /** DuckDB oracle for [[labelPropagation]] on the strong-tie supplier
    * graph: the same recurrence unrolled, argmax as ROW_NUMBER over
    * (wt DESC, label ASC) — the independent spelling of the
    * struct-min. */
  private def lpaCtes(minW: Long, iters: Int): String = {
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |edges AS (SELECT src, dst, CAST(w AS BIGINT) AS w FROM edges0 WHERE w >= $minW),
         |l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s"""l$k AS MATERIALIZED (SELECT src AS v, label FROM (
         |    SELECT e.src, l.label, SUM(e.w) AS wt,
         |      ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY SUM(e.w) DESC, l.label ASC) AS rn
         |    FROM edges e JOIN l${k - 1} l ON l.v = e.dst
         |    GROUP BY e.src, l.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + iterCtes
  }

  private[graft] def labelPropagationOracleSql(minW: Long, iters: Int): String =
    lpaCtes(minW, iters) +
      s"\nSELECT v AS s_suppkey, CAST(label AS BIGINT) AS community FROM l$iters ORDER BY community, s_suppkey"

  /** Community quality audit over [[labelPropagation]]'s partition —
    * per community: node count, internal (within-community) edges of
    * the undirected simple graph, degree sum, and the EXACT integer
    * modularity numerator `4·m·internal − degree_sum²` (the community
    * contribution to Newman modularity is that value over the shared
    * denominator 4m², left implicit so every emitted number is an
    * exact BIGINT — no float, no signed integer-division divergence
    * between engines). At extreme edge counts (m ≳ 2^31) the square
    * needs DECIMAL headroom; the TPC-H co-occurrence graphs sit far
    * below that.
    *
    * Scale shape: one LPA run (the q127 machinery, same knobs), then
    * two |E|-bounded joins label the undirected edge list's endpoints
    * and two map-side-combined per-community aggregations. The m
    * scalar is a single driver pull. */
  def communityModularity(edges: DataFrame, iters: Int): DataFrame = {
    val ec = PartitionUtil.materialize(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    val labels = labelPropagation(ec, iters)
    val und = ec.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist()
    val m = und.count()
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val comm = labels.join(deg, Seq("v"))
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    val la = labels.select(col("v").as("a"), col("label").as("la"))
    val lb = labels.select(col("v").as("b"), col("label").as("lb"))
    val intra = und.join(la, Seq("a")).join(lb, Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    // und stays cached: the caller's action re-reads it through three
    // branches (deg, intra); it is |E|-bounded and LRU-reclaimable
    comm.join(intra, Seq("community"), "left")
      .select(col("community").cast("long").as("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        (lit(4L * m) * coalesce(col("internal_edges"), lit(0L)) -
          col("degree_sum") * col("degree_sum")).as("q_num"))
      .orderBy(col("community"))
  }

  /** DuckDB oracle for [[communityModularity]]: the LPA chain plus the
    * same undirected edge set, degree sums, and integer numerator. */
  private[graft] def communityModularityOracleSql(minW: Long, iters: Int): String =
    lpaCtes(minW, iters) +
      s""",
         |und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |mm AS (SELECT COUNT(*) AS m FROM und),
         |deg AS (SELECT v, COUNT(*) AS deg FROM
         |  (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
         |comm AS (SELECT l.label AS community, COUNT(*) AS n_nodes,
         |    CAST(SUM(d.deg) AS BIGINT) AS degree_sum
         |  FROM l$iters l JOIN deg d USING (v) GROUP BY l.label),
         |intra AS (SELECT la.label AS community, COUNT(*) AS internal_edges
         |  FROM und u JOIN l$iters la ON la.v = u.a JOIN l$iters lb ON lb.v = u.b
         |  WHERE la.label = lb.label GROUP BY la.label)
         |SELECT CAST(c.community AS BIGINT) AS community, c.n_nodes,
         |  COALESCE(i.internal_edges, 0) AS internal_edges, c.degree_sum,
         |  4 * (SELECT m FROM mm) * COALESCE(i.internal_edges, 0)
         |    - c.degree_sum * c.degree_sum AS q_num
         |FROM comm c LEFT JOIN intra i USING (community)
         |ORDER BY community""".stripMargin

  /** Local clustering coefficient, exact rational: per node, triangle
    * count T and degree d over the undirected edge set; the
    * coefficient 2T / (d·(d−1)) is emitted as an integer-div
    * quantization (1e6 grid) plus its exact (T, d) numerator inputs —
    * no floating point anywhere. Nodes with d < 2 report 0. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    // materialize the (possibly expensive) edge construction ONCE —
    // both the degree aggregation and the triangle count read it
    val ec = edges.localCheckpoint()
    val e = ec.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    deg.join(triangleCounts(ec), Seq("v"), "left")
      .select(col("v"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc_q6",
        when(col("deg") < 2, lit(0L)).otherwise(
          expr("(2000000 * n_triangles) div (deg * (deg - 1))")))
  }

  /** DuckDB oracle for [[clusteringCoefficient]] on the strong-tie
    * graph (same `//` integer grid division). */
  private[graft] def clusteringCoefficientOracleSql(minW: Long): String =
    s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |edges AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
       |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
       |  GROUP BY 1, 2),
       |e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM edges WHERE w >= $minW),
       |deg AS (SELECT v, COUNT(*) AS deg FROM (
       |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
       |tri AS (SELECT e1.a, e1.b AS m, e2.b AS c
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b
       |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
       |tc AS (SELECT v, COUNT(*) AS n_triangles FROM (
       |  SELECT a AS v FROM tri UNION ALL SELECT m FROM tri UNION ALL SELECT c FROM tri)
       |  GROUP BY v)
       |SELECT d.v AS s_suppkey, CAST(d.deg AS BIGINT) AS deg,
       |  CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
       |  CAST(CASE WHEN d.deg < 2 THEN 0
       |       ELSE (2000000 * CAST(COALESCE(tc.n_triangles, 0) AS BIGINT)) // (d.deg * (d.deg - 1))
       |  END AS BIGINT) AS cc_q6
       |FROM deg d LEFT JOIN tc ON tc.v = d.v
       |ORDER BY s_suppkey""".stripMargin

  /** DuckDB oracle: the identical integer recurrence, unrolled to
    * `iters` CTEs (standard SQL forbids aggregation in a recursive
    * term, so a fixed unroll is the portable formulation). `//` is
    * floor division — identical to Spark's `div` truncation for the
    * non-negative operands here. */
  private[graft] def pagerankOracleSql(iters: Int): String = {
    val n = "(SELECT cnt FROM nn)"
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS cnt FROM outw),
         |r0 AS (SELECT src AS v, CAST($Scale AS BIGINT) // $n AS rank FROM outw)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (SELECT o.src AS v,
         |  (3 * CAST($Scale AS BIGINT)) // (20 * $n)
         |  + (17 * COALESCE(CAST(c.sc AS BIGINT), 0)) // 20 AS rank
         |  FROM outw o LEFT JOIN (
         |    SELECT e.dst, SUM((r.rank * e.w) // eo.ow) AS sc
         |    FROM edges e JOIN r${k - 1} r ON r.v = e.src JOIN outw eo ON eo.src = e.src
         |    GROUP BY e.dst) c ON c.dst = o.src)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + iterCtes +
      s"\nSELECT v AS s_suppkey, CAST(rank AS BIGINT) AS rank_scaled FROM r$iters ORDER BY rank_scaled DESC, v"
  }

  /** Link prediction over an undirected graph: for every NON-adjacent
    * pair with at least one common neighbour, the three classic
    * integer-exact indices — common-neighbour count, Jaccard
    * (|N(a)∩N(b)| / |N(a)∪N(b)|, 1e6 grid) and resource allocation
    * (Σ_z 1/deg(z) over common neighbours z, 1e6 grid; Zhou, Lü &
    * Zhang 2009 — the RA index is Adamic-Adar with 1/d in place of
    * 1/log d, which keeps it on the integer grid). Top `topK` pairs
    * by (cn, ra, pair id), a total order.
    *
    * Scale shape: candidate pairs come from wedges through a common
    * MIDDLE, so the join volume is Σ_m C(deg(m), 2) — inherently
    * quadratic in hub degree, the one graph pattern degree-ordering
    * cannot fix (both spokes are needed). The standard production
    * guard is `maxMiddleDegree`: middles above the cap are dropped
    * from candidate GENERATION (their RA contribution 1/deg is
    * negligible by construction; full degrees still drive the Jaccard
    * denominator). The wedge shuffle is then ≤ cap·|E|, map-side
    * combined on (a, b); everything else is |V|-sized joins. The cap
    * is part of the operator's CONTRACT (the oracle applies the same
    * cap), not a silent truncation — [[linkWedgeVolume]] measures
    * what a cap admits and ScaleProbe reports it on a hub graph. */
  def linkPrediction(edges: DataFrame, maxMiddleDegree: Long, topK: Int): DataFrame = {
    require(maxMiddleDegree >= 2 && topK >= 1, "cap >= 2 and topK >= 1")
    val e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    // driver fast path (see the header note; quadratic cap — wedge
    // work): same capped wedge generation, integer indices, and
    // (cn desc, ra desc, a, b) total order
    val out = fromDDL("a BIGINT, b BIGINT, cn BIGINT NOT NULL, jaccard_q6 BIGINT, ra_q6 BIGINT")
    PartitionUtil.venue[(Long, Long)](e, e.count(), Quadratic, out) { ewArr =>
      val edgeSet = ewArr.toSet
      val adjM = (ewArr ++ ewArr.map { case (a, b) => (b, a) })
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val deg = adjM.view.mapValues(_.length.toLong).toMap
      val cn = new java.util.HashMap[(Long, Long), Long]()
      val ra = new java.util.HashMap[(Long, Long), Long]()
      adjM.foreach { case (mid, ns) =>
        val dm = deg(mid)
        if (dm <= maxMiddleDegree) {
          val contrib = 1000000L / dm
          val sorted = ns.sorted
          var i = 0
          while (i < sorted.length) {
            var j = i + 1
            while (j < sorted.length) {
              val key = (sorted(i), sorted(j))
              cn.merge(key, 1L, (x, y) => x + y)
              ra.merge(key, contrib, (x, y) => x + y)
              j += 1
            }
            i += 1
          }
        }
      }
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
      cn.forEach { (key, c) =>
        val (a, b) = key
        if (!edgeSet.contains(key))
          rows += ((a, b, c, 1000000L * c / (deg(a) + deg(b) - c), ra.get(key)))
      }
      rows.sortBy(r => (-r._3, -r._5, r._1, r._2)).take(topK)
    } {
      val adj = e.select(col("a").as("u"), col("b").as("z"))
        .union(e.select(col("b").as("u"), col("a").as("z")))
      val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
      // neighbours grouped by middle, hubs above the cap dropped loudly
      // at generation time (contract knob, mirrored in the oracle)
      val nbm = adj.select(col("u").as("m"), col("z").as("n"))
        .join(deg.select(col("u").as("m"), col("d").as("dm")), Seq("m"))
        .filter(col("dm") <= maxMiddleDegree)
      val wedges = nbm.select(col("m"), col("n").as("a"), col("dm"))
        .join(nbm.select(col("m"), col("n").as("b")), Seq("m"))
        .filter(col("a") < col("b"))
      val cand = wedges.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cn"), sum(expr("1000000 div dm")).as("ra_q6"))
        .join(e, Seq("a", "b"), "left_anti") // score only MISSING links
      cand
        .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
        .select(col("a"), col("b"), col("cn"),
          expr("1000000 * cn div (da + db - cn)").as("jaccard_q6"), col("ra_q6"))
        .orderBy(col("cn").desc, col("ra_q6").desc, col("a"), col("b"))
        .limit(topK)
    }
  }

  /** Diagnostic for [[linkPrediction]]'s cap: the wedge volume
    * Σ_m C(deg(m), 2) over middles with deg ≤ cap (cap ≤ 0 → no
    * cap). The ScaleProbe hub row reports capped vs uncapped. */
  def linkWedgeVolume(edges: DataFrame, cap: Long): Long = {
    val e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val kept = if (cap <= 0) deg else deg.filter(col("d") <= cap)
    val r = kept.agg(sum(expr("d * (d - 1) div 2")).as("wedges")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** DuckDB oracle for [[linkPrediction]] on the strong-tie supplier
    * graph — same canonical edges, same cap, same integer grids. */
  private[graft] def linkPredictionOracleSql(minW: Long, cap: Long, topK: Int): String =
    s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |edges AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
       |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
       |  GROUP BY 1, 2),
       |e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM edges WHERE w >= $minW),
       |adj AS (SELECT a AS u, b AS z FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT u, COUNT(*) AS d FROM adj GROUP BY 1),
       |nbm AS (SELECT adj.u AS m, adj.z AS n, deg.d AS dm
       |  FROM adj JOIN deg ON deg.u = adj.u WHERE deg.d <= $cap),
       |wedges AS (SELECT x.n AS a, y.n AS b, x.dm
       |  FROM nbm x JOIN nbm y ON x.m = y.m AND x.n < y.n),
       |cand AS (SELECT a, b, COUNT(*) AS cn, SUM(1000000 // dm) AS ra_q6
       |  FROM wedges GROUP BY 1, 2),
       |missing AS (SELECT c.* FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = c.a AND e.b = c.b))
       |SELECT m.a, m.b, CAST(m.cn AS BIGINT) AS cn,
       |  CAST(1000000 * m.cn // (da.d + db.d - m.cn) AS BIGINT) AS jaccard_q6,
       |  CAST(m.ra_q6 AS BIGINT) AS ra_q6
       |FROM missing m JOIN deg da ON da.u = m.a JOIN deg db ON db.u = m.b
       |ORDER BY cn DESC, ra_q6 DESC, a, b LIMIT $topK""".stripMargin
}
