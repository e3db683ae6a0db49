package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`).
  *
  * All math runs through codegen'd higher-order functions
  * (`transform`/`aggregate`/`zip_with`) on `array<double>` — no Scala
  * UDF in the hot path, so whole-stage codegen spans the score
  * computation. Accumulation is a sequential left fold, matching a
  * straightforward loop (and DuckDB's list functions) bit-for-bit.
  */
object Similarity {

  /** Cast an embedding column to array<double> for stable math. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Render a double as a DuckDB literal that parses as DOUBLE. Java's
    * shortest-repr string round-trips exactly — but ONLY if the parser
    * treats it as a double: a plain decimal literal in DuckDB is a
    * DECIMAL, and when many such literals of different scales unify
    * into one VALUES column the widened decimal→double conversion can
    * lose the last ulp. An explicit exponent forces DOUBLE parsing
    * (correctly rounded), so we append E0 when toString didn't emit
    * one. */
  private[graft] def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }

  /** A DuckDB DOUBLE[] literal from an array, via [[dlit]]. */
  private[graft] def dlitArr(a: Array[Double]): String =
    a.map(dlit).mkString("[", ",", "]")

  /** Sequential-fold sum of an array<double> column. */
  def arraySum(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x)

  /** L2 norm: sqrt(sum(x^2)) — sqrt is IEEE-exact. */
  def l2Norm(v: Column): Column =
    sqrt(arraySum(transform(asDouble(v), x => x * x)))

  /** Dot product of two array<double> columns (sequential fold). */
  def dot(a: Column, b: Column): Column =
    arraySum(zip_with(a, b, (x, y) => x * y))

  /** Cosine similarity = dot / (||a|| * ||b||). */
  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    dot(ad, bd) / (l2Norm(ad) * l2Norm(bd))
  }

  // Hot-path scalar kernels. Spark's array higher-order functions
  // (ArrayAggregate/ZipWith) are CodegenFallback — every lambda step is
  // interpreted — so all-pairs scoring pays ~10× over a primitive
  // loop. These UDFs receive unboxed Array[Double] (fast path for
  // array<double>) and run a tight while loop; at 100 TB the same
  // kernels apply unchanged since they're per-row.
  /** Pure zero-guarded x/‖v‖ core — shared by [[normalizeUdf]] and
    * row-at-a-time call sites (the streaming online-serve probe
    * flatMap), so streaming and batch normalization are the same
    * bits structurally. */
  private[graft] def normalize(v: Array[Double]): Array[Double] = {
    var i = 0; var ss = 0.0
    while (i < v.length) { ss += v(i) * v(i); i += 1 }
    val n = math.sqrt(ss)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = if (n == 0) 0.0 else v(i) / n; i += 1 }
    out
  }

  private[graft] val normalizeUdf = udf { v: Array[Double] => normalize(v) }

  private[graft] val dotUdf = udf { (a: Array[Double], b: Array[Double]) =>
    var i = 0; var s = 0.0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Native-expression dot product: same sequential loop as [[dotUdf]]
    * (bit-identical results) but reads ArrayData in place inside
    * whole-stage codegen — no per-pair Array copies, which dominate the
    * all-pairs joins' allocation churn. */
  private[graft] def nativeDot(spark: org.apache.spark.sql.SparkSession)(a: Column, b: Column): Column = {
    graft.functions.VectorExpressions.register(spark)
    call_function("vec_dot", a, b)
  }

  /** Native-expression L2 norm: the identical sqrt(Σx²) ascending fold
    * as [[l2Norm]] (bit-identical results) inside whole-stage codegen. */
  private[graft] def nativeNorm(spark: org.apache.spark.sql.SparkSession)(a: Column): Column = {
    graft.functions.VectorExpressions.register(spark)
    call_function("vec_norm", a)
  }

  /** Brute-force exact cosine top-k: every query row (matching
    * `queryFilter`) against the whole corpus.
    *
    * Scale shape: the filtered query side is broadcast, so the corpus —
    * the 100 TB side — is scanned exactly once with no shuffle of the
    * raw vectors; only (qid, nid, sim) tuples (|Q|·N rows, but only
    * 3 narrow columns) reach the top-k window. Norms are precomputed
    * per side so each pair costs one zip_with fold, not three.
    * Output is (qid, rank, nid) — ranks, not raw floats, so the result
    * is robust to last-ulp accumulation differences across engines.
    */
  def bruteForceTopK(embeddings: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val corpus = PartitionUtil.spread(embeddings)
      .select(col("vec_id").as("nid"), normalizeUdf(asDouble(col("embedding"))).as("nv"))
    val queries = embeddings.filter(queryFilter)
      .select(col("vec_id").as("qid"), normalizeUdf(asDouble(col("embedding"))).as("qv"))
    val sims = corpus.join(broadcast(queries), col("nid") =!= col("qid"))
      .withColumn("sim", nativeDot(embeddings.sparkSession)(col("qv"), col("nv")))
      .select(col("qid"), col("nid"), col("sim"))
    topKPerKey(sims, "qid", k)
  }

  /** Rank the top k (sim, nid) per key via [[graft.functions.TopKAggregator]]
    * — partial top-k buffers combine map-side, so the shuffle carries at
    * most k rows per group per partition instead of every candidate
    * (the window-function formulation sorts the full candidate set). */
  def topKPerKey(sims: DataFrame, keyCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    val topk = udaf(new graft.functions.TopKAggregator(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
    sims.groupBy(col(keyCol))
      .agg(topk(col("sim"), col("nid")).as("top"))
      .select(col(keyCol), posexplode(col("top")))
      .select(col(keyCol), (col("pos") + 1).cast("long").as("rank"),
              col("col._2").as("nid"))
      .orderBy(col(keyCol), col("rank"))
  }

  /** Attribute-filtered exact ANN: cosine top-k restricted to the
    * corpus rows matching `corpusFilter` (the "filtered vector search"
    * shape — e.g. "nearest lore pages in language X"). Query rows need
    * not satisfy the attribute predicate.
    *
    * Scale shape: the attribute predicate sits directly on the corpus
    * scan, so it reaches the parquet reader as a pushed filter /
    * row-group prune (PlanShapeSpec asserts `PushedFilters` carries it) —
    * at 100 TB a selective attribute cuts the scanned bytes BEFORE any
    * vector math runs, which is why pre-filtering beats post-filtering
    * an unfiltered ANN result (post-filtering also breaks the top-k
    * contract: k survivors are not the k nearest survivors). The
    * filtered corpus then streams through the same broadcast-query
    * one-scan plan as [[bruteForceTopK]].
    */
  def filteredTopK(embeddings: DataFrame, corpusFilter: Column,
                   queryFilter: Column, k: Int): DataFrame = {
    val corpus = PartitionUtil.spread(embeddings.filter(corpusFilter))
      .select(col("vec_id").as("nid"), normalizeUdf(asDouble(col("embedding"))).as("nv"))
    val queries = embeddings.filter(queryFilter)
      .select(col("vec_id").as("qid"), normalizeUdf(asDouble(col("embedding"))).as("qv"))
    val sims = corpus.join(broadcast(queries), col("nid") =!= col("qid"))
      .withColumn("sim", nativeDot(embeddings.sparkSession)(col("qv"), col("nv")))
      .select(col("qid"), col("nid"), col("sim"))
    topKPerKey(sims, "qid", k)
  }

  /** Diversity-capped top-k: at most `perLabelCap` neighbors from any
    * one corpus `label` in each query's final k (the round-robin
    * diversification used to keep a retrieval slate from collapsing
    * onto one cluster/domain/near-dup group).
    *
    * Scale shape: the cap is enforced FIRST, per (query, label), by the
    * map-side-combining [[graft.functions.TopKAggregator]] — so the
    * shuffle carries at most `perLabelCap` rows per (query, label)
    * per map partition, never the |Q|·N candidate set. The final rank
    * is a window over ≤ cap·|labels| survivors per query — a
    * constant-bounded set, so the window's sort is O(1) per query
    * regardless of corpus size.
    */
  def diverseTopK(embeddings: DataFrame, queryFilter: Column, k: Int,
                  perLabelCap: Int = 2): DataFrame = {
    import org.apache.spark.sql.Encoders
    val corpus = PartitionUtil.spread(embeddings)
      .select(col("vec_id").as("nid"), col("label").as("lbl"),
              normalizeUdf(asDouble(col("embedding"))).as("nv"))
    val queries = embeddings.filter(queryFilter)
      .select(col("vec_id").as("qid"), normalizeUdf(asDouble(col("embedding"))).as("qv"))
    val sims = corpus.join(broadcast(queries), col("nid") =!= col("qid"))
      .withColumn("sim", nativeDot(embeddings.sparkSession)(col("qv"), col("nv")))
      .select(col("qid"), col("lbl"), col("nid"), col("sim"))
    val topc = udaf(new graft.functions.TopKAggregator(perLabelCap),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
    val capped = sims.groupBy(col("qid"), col("lbl"))
      .agg(topc(col("sim"), col("nid")).as("top"))
      .select(col("qid"), explode(col("top")).as("c"))
      .select(col("qid"), col("c._1").as("sim"), col("c._2").as("nid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    capped.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"))
      .orderBy(col("qid"), col("rank"))
  }

  /** LSH-bucketed approximate NN: random-hyperplane signatures restrict
    * candidate pairs to equal buckets. The hyperplanes are seeded and
    * generated deterministically, so results are reproducible.
    *
    * Scale shape: bucketing replaces the |Q|·N cross product with a
    * per-bucket join; `numPlanes` tunes bucket count (2^numPlanes) vs
    * recall, and `numTables` is the OR-amplification knob — L
    * independent hyperplane tables, a pair is a candidate if it
    * collides in ANY table, so miss probability falls exponentially
    * in L ((1 - p^b)^L) at the cost of an L× candidate volume and L
    * bucket ids per vector. Measured recall@10 per (planes, tables)
    * is in docs/SCALE.md (ScaleProbe `ann_recall`). This is the
    * 100 TB path; `bruteForceTopK` is the oracle.
    */
  def lshTopK(embeddings: DataFrame, queryFilter: Column, k: Int,
              numPlanes: Int = 8, dim: Int = 64, seed: Long = 42L,
              numTables: Int = 1): DataFrame = {
    require(numTables >= 1, "numTables must be >= 1")
    val spark = embeddings.sparkSession
    // table t's planes use a seed offset so tables are independent;
    // t = 0 reproduces the single-table (q54 gate) signature exactly.
    // ALL tables' signatures come from ONE broadcast tight-loop kernel
    // (the hot-path pattern this file documents at the top): the
    // per-plane Column formulation built numTables·numPlanes
    // interpreted ArrayAggregate/ZipWith trees per row — the
    // production recipe (32 tables × 4 planes) paid 128 CodegenFallback
    // folds per vector. The kernel runs the identical left-to-right
    // projection sums (bit-equal sign bits), one array pass per plane.
    val allPlanes: Array[Array[Array[Double]]] = (0 until numTables)
      .map(t => deterministicPlanes(numPlanes, dim, seed + t * 7919L).toArray)
      .toArray
    val bcPlanes = spark.sparkContext.broadcast(allPlanes)
    val bucketsUdf = udf { v: Array[Double] =>
      // null or off-dimension embeddings fail LOUDLY: the replaced
      // Column formulation silently folded them to bucket 0 in every
      // table (all malformed vectors colliding into one hot bucket),
      // and the DuckDB oracle's fold assumes exactly `dim` components
      require(v != null && v.length == dim,
        s"lshTopK: embedding must be a non-null $dim-dim vector, got " +
          (if (v == null) "null" else s"length ${v.length}"))
      val tables = bcPlanes.value
      val out = new Array[Int](tables.length)
      var t = 0
      while (t < tables.length) {
        val planes = tables(t)
        var bucket = 0
        var p = 0
        while (p < planes.length) {
          val w = planes(p)
          var s = 0.0; var i = 0
          while (i < dim) { s += v(i) * w(i); i += 1 }
          if (s >= 0) bucket |= 1 << p
          p += 1
        }
        out(t) = bucket
        t += 1
      }
      out
    }
    val base = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("norm", nativeNorm(spark)(col("v")))
    // ONE corpus scan computes every table's bucket (an array of L
    // ints per vector — the inverted index a production multi-table
    // LSH stores), then posexplode emits the (table, bucket) pairs; a
    // union of L per-table scans would multiply corpus I/O and the
    // norm computation by the knob
    val tabled = base.select(col("vec_id"), col("v"), col("norm"),
      posexplode(bucketsUdf(col("v"))).as(Seq("tbl", "bucket")))
    val queries = tabled.filter(queryFilter)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("tbl").as("qtbl"),
              col("bucket").as("qbucket"), col("norm").as("qnorm"))
    val sims0 = tabled.join(broadcast(queries),
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("qid"))
      .withColumn("sim", nativeDot(spark)(col("qv"), col("v")) / (col("qnorm") * col("norm")))
      .select(col("qid"), col("vec_id").as("nid"), col("sim"))
    // a pair colliding in several tables yields the same similarity
    // (same fold order today) — but dedup on the PAIR KEY, not the
    // full row, so correctness never depends on the double being
    // bit-identical across tables (any future per-table perturbation
    // of v/norm would otherwise silently duplicate a neighbor and
    // displace a true top-k entry)
    val sims = if (numTables == 1) sims0
      else sims0.groupBy(col("qid"), col("nid")).agg(max(col("sim")).as("sim"))
    topKPerKey(sims, "qid", k)
  }

  /** DuckDB oracle for [[lshTopK]]: the seeded hyperplanes are inlined
    * as full-precision double literals (shortest-repr strings
    * round-trip to the identical binary doubles in both engines), and
    * the bucket / projection / norm math mirrors the Spark-side
    * left-to-right folds, so the candidate sets and rankings agree
    * bit-for-bit. Output is ranks, never raw scores. */
  private[graft] def lshTopKOracleSql(queryCond: String, k: Int,
                                      numPlanes: Int = 8, dim: Int = 64,
                                      seed: Long = 42L): String = {
    val planes = deterministicPlanes(numPlanes, dim, seed)
    def fold(prod: String) =
      s"list_reduce(list_transform(range(1, ${dim + 1}), k -> $prod), (x, y) -> x + y)"
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val w = dlitArr(p)
      s"(CASE WHEN ${fold(s"v[k] * ($w)[k]")} >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v,
      $bucketExpr AS bucket,
      sqrt(${fold("v[k] * v[k]")}) AS norm
      FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket, norm AS qnorm
      FROM b WHERE $queryCond),
    sims AS (SELECT q.qid, b.vec_id AS nid,
      ${fold("q.qv[k] * b.v[k]")} / (q.qnorm * b.norm) AS sim
      FROM b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.qid)
    SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
      SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
      FROM sims)
    WHERE rnk <= $k ORDER BY qid, rank"""
  }

  /** DuckDB oracle for multi-table [[lshTopK]] (numTables > 1 — the
    * production OR-amplified recipe): every table's plane set is
    * inlined (seed + t·7919, the impl's offsets), each vector gets one
    * bucket column per table, and a pair is a candidate when it
    * collides in ANY table (the OR join), deduplicated on the pair key
    * exactly like the impl's groupBy(qid, nid) — the similarity is
    * then computed once per distinct pair from the same raw-dot /
    * norm-product folds. Output is ranks. */
  private[graft] def lshTopKMultiOracleSql(queryCond: String, k: Int,
                                           numPlanes: Int, dim: Int,
                                           seed: Long, numTables: Int): String = {
    require(numTables >= 2, "use lshTopKOracleSql for a single table")
    def fold(prod: String) =
      s"list_reduce(list_transform(range(1, ${dim + 1}), k -> $prod), (x, y) -> x + y)"
    def bucketExpr(planes: Seq[Array[Double]]): String =
      planes.zipWithIndex.map { case (p, i) =>
        val w = dlitArr(p)
        s"(CASE WHEN ${fold(s"v[k] * ($w)[k]")} >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
    val bucketCols = (0 until numTables).map { t =>
      val planes = deterministicPlanes(numPlanes, dim, seed + t * 7919L)
      s"${bucketExpr(planes)} AS b$t"
    }.mkString(",\n      ")
    val qBucketCols = (0 until numTables).map(t => s"b$t AS qb$t").mkString(", ")
    val orJoin = (0 until numTables).map(t => s"b.b$t = q.qb$t").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, sqrt(${fold("v[k] * v[k]")}) AS norm,
      $bucketCols
      FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, norm AS qnorm, $qBucketCols
      FROM b WHERE $queryCond),
    cand AS (SELECT DISTINCT q.qid, b.vec_id AS nid
      FROM b JOIN q ON b.vec_id <> q.qid AND ($orJoin)),
    sims AS (SELECT c.qid, c.nid,
      ${fold("q.qv[k] * b.v[k]")} / (q.qnorm * b.norm) AS sim
      FROM cand c JOIN q ON q.qid = c.qid JOIN b ON b.vec_id = c.nid)
    SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
      SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
      FROM sims)
    WHERE rnk <= $k ORDER BY qid, rank"""
  }

  /** Nearest-centroid label assignment — the mislabel-detection /
    * label-quality pass over an embedding table: per-label mean
    * centroids, then each vector takes the label of its nearest
    * centroid (squared L2 via the ‖v‖²+‖c‖²−2v·c identity). Distances
    * land on the 1e-4 grid before the argmin so the ranking — and
    * therefore the output — is engine-exact; ties break on label.
    *
    * Scale shape: centroids come from one posexplode + hash
    * aggregation (map-side combining into |labels|·dim cells,
    * independent of corpus size); assignment is a broadcast cross join
    * against the |labels| centroid rows scored by the codegen'd
    * vec_dot kernel, then a hash-aggregated struct-min argmin — one
    * corpus scan, no vector shuffle, no sort. */
  def nearestCentroidAssign(embeddings: DataFrame): DataFrame =
    gridCentroidAssignment(embeddings)
      .select(col("vec_id"), col("label"), col("cluster").as("assigned"),
        (col("label") === col("cluster")).cast("long").as("is_match"))
      .orderBy(col("vec_id"))

  /** Shared grid-exact nearest-centroid machinery (the body of
    * [[nearestCentroidAssign]], also the cluster prefilter for
    * [[Dedup.semDedup]]): per-label grid-mean centroids, broadcast
    * argmin via struct-min. Returns one row per vector:
    * (vec_id, label, cluster, v) — `v` rides along (all copies of a
    * vector carry the identical array, so `first` is deterministic)
    * to spare consumers a second join against the corpus. */
  private[graft] def gridCentroidAssignment(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    def ndot(a: Column, b: Column): Column = nativeDot(spark)(a, b)
    val e = PartitionUtil.spread(embeddings).select(col("vec_id"),
      col("label").cast("long").as("label"), asDouble(col("embedding")).as("v"))
    val dims = e.select(col("label"), posexplode(col("v")).as(Seq("k", "x")))
    // per-(label, dim) mean on the deterministic 1e-4 grid: exact
    // integer sum, then identical double divisions in both engines
    val cent = dims.groupBy(col("label"), col("k"))
      .agg((sum(floor(col("x") * lit(10000.0)).cast("long")).cast("double")
        / lit(10000.0) / count(col("x"))).as("c"))
    val carr = cent.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("k"), col("c")))).as("kc"))
      .select(col("label").as("clabel"), expr("transform(kc, p -> p.c)").as("cv"))
    val cself = carr.withColumn("cc", ndot(col("cv"), col("cv")))
    val vself = e.withColumn("vv", ndot(col("v"), col("v")))
    val scored = vself.crossJoin(broadcast(cself))
      .withColumn("dg", floor((col("vv") + col("cc")
        - lit(2.0) * ndot(col("v"), col("cv"))) * lit(10000.0)).cast("long"))
    scored.groupBy(col("vec_id"), col("label"))
      .agg(min(struct(col("dg"), col("clabel"))).as("best"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("label"), col("best.clabel").as("cluster"), col("v"))
  }

  /** Shared oracle CTE chain for [[gridCentroidAssignment]]: identical
    * grid math with list folds; the argmin is a ROW_NUMBER over
    * (dg, clabel), the same total order as the Spark-side struct-min.
    * Ends with `r` — filter `rn = 1` for one (vec_id, label, clabel, v)
    * row per vector. */
  private[graft] def centroidAssignCtes(dim: Int): String =
    s"""e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ks AS (SELECT unnest(range(0, $dim)) AS k),
      dims AS (SELECT label, k, v[k + 1] AS x FROM e CROSS JOIN ks),
      cent AS (SELECT label, k,
          (CAST(SUM(CAST(FLOOR(x * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0) / COUNT(x) AS c
        FROM dims GROUP BY label, k),
      carr AS (SELECT label AS clabel, list(c ORDER BY k) AS cv FROM cent GROUP BY label),
      cself AS (SELECT clabel, cv,
          list_reduce(list_transform(range(1, ${dim + 1}), k -> cv[k] * cv[k]), (x, y) -> x + y) AS cc
        FROM carr),
      vself AS (SELECT vec_id, label, v,
          list_reduce(list_transform(range(1, ${dim + 1}), k -> v[k] * v[k]), (x, y) -> x + y) AS vv
        FROM e),
      scored AS (SELECT vec_id, label, v, clabel,
          CAST(FLOOR((vv + cc - 2.0 * list_reduce(list_transform(range(1, ${dim + 1}),
            k -> v[k] * cv[k]), (x, y) -> x + y)) * 10000.0) AS BIGINT) AS dg
        FROM vself CROSS JOIN cself),
      r AS (SELECT vec_id, label, v, clabel,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dg, clabel) AS rn FROM scored)"""

  /** DuckDB oracle for [[nearestCentroidAssign]]. */
  private[graft] def centroidAssignOracleSql(dim: Int = 64): String =
    s"""WITH ${centroidAssignCtes(dim)}
      SELECT vec_id, label, clabel AS assigned, CAST(label = clabel AS BIGINT) AS is_match
      FROM r WHERE rn = 1 ORDER BY vec_id"""

  /** Per-vector int8 scalar quantization — the storage-compression
    * pass an embedding corpus runs before ANN serving (4× smaller than
    * float32): symmetric max-abs scaling, code_k = ⌊v_k·127/maxabs⌋,
    * plus the reconstruction error ‖v − deq(code)‖² that quantifies
    * the quality loss. `floor` (not round-half-*) and sequential
    * left-fold sums keep every value bit-reproducible across engines.
    * Output per vector: maxabs, an order-weighted BIGINT checksum of
    * the code vector, and the reconstruction error.
    *
    * Scale shape: purely per-row map work inside one projection — no
    * shuffle, no join; at 100 TB this pipelines with the scan. */
  def int8Quantize(embeddings: DataFrame): DataFrame =
    PartitionUtil.spread(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("sc", when(col("maxabs") > 0, col("maxabs")).otherwise(lit(1.0)))
      .withColumn("q", expr("transform(v, x -> CAST(floor(x * 127.0 / sc) AS BIGINT))"))
      .withColumn("code_sum", expr(
        "aggregate(zip_with(q, sequence(1L, CAST(size(q) AS BIGINT)), (qq, k) -> qq * k), 0L, (acc, x) -> acc + x)"))
      .withColumn("recon_err", expr(
        "aggregate(zip_with(v, q, (x, qq) -> (x - qq * sc / 127.0) * (x - qq * sc / 127.0)), " +
          "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"))
      .select(col("vec_id"), col("maxabs"), col("code_sum"), col("recon_err"))
      .orderBy(col("vec_id"))

  /** DuckDB oracle for [[int8Quantize]] — identical IEEE ops in
    * identical order (list_reduce is a left fold, like `aggregate`). */
  private[graft] def int8QuantizeOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
      s AS (SELECT vec_id, v, maxabs,
          CASE WHEN maxabs > 0 THEN maxabs ELSE 1.0 END AS sc FROM m),
      q AS (SELECT vec_id, v, maxabs, sc,
          list_transform(v, x -> CAST(floor(x * 127.0 / sc) AS BIGINT)) AS q FROM s)
      SELECT vec_id, maxabs,
        list_reduce(list_transform(range(1, len(q) + 1), k -> q[k] * k),
          (acc, x) -> acc + x) AS code_sum,
        list_reduce(list_transform(range(1, len(v) + 1),
            k -> (v[k] - q[k] * sc / 127.0) * (v[k] - q[k] * sc / 127.0)),
          (acc, t) -> acc + t) AS recon_err
      FROM q ORDER BY vec_id"""

  /** Product quantization (PQ) encode — the ANN memory-compression
    * step between int8 scalar quantization ([[int8Quantize]], 4×) and
    * binary hashing: split each d-dim vector into `m` subvectors and
    * replace every subvector with the id of its nearest codebook entry
    * (Jégou et al. 2011), storing m small codes per vector (here
    * m·log₂|labels| bits vs 32·d). Codebooks are trained
    * DETERMINISTICALLY, like q79's quantizer: codebook j = the
    * per-label grid-mean centroids restricted to subspace j. Distances
    * use the ‖v‖²+‖c‖²−2v·c identity on the 1e-4 grid before each
    * per-subspace argmin (ties → lowest label), so codes — and the
    * summed grid reconstruction error — are engine-exact.
    *
    * Scale shape: the codebook aggregation is one posexplode + hash
    * agg into |labels|·d cells (map-side combined, corpus-size-free);
    * encoding is a broadcast cross join against |labels| centroid rows
    * scored by the codegen'd vec_dot kernel on array slices, then one
    * hash-aggregated struct-min per subspace — one corpus scan, no
    * vector shuffle. At 100 TB the codes (a few bytes/vector) are what
    * an ANN index materializes instead of the raw embeddings. */
  def pqEncode(embeddings: DataFrame, m: Int = 4, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val spark = embeddings.sparkSession
    def ndot(a: Column, b: Column): Column = nativeDot(spark)(a, b)
    val e = PartitionUtil.spread(embeddings).select(col("vec_id"),
      col("label").cast("long").as("label"), asDouble(col("embedding")).as("v"))
    val dims = e.select(col("label"), posexplode(col("v")).as(Seq("k", "x")))
    val cent = dims.groupBy(col("label"), col("k"))
      .agg((sum(floor(col("x") * lit(10000.0)).cast("long")).cast("double")
        / lit(10000.0) / count(col("x"))).as("c"))
    val carr = cent.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("k"), col("c")))).as("kc"))
      .select(col("label").as("clabel"), expr("transform(kc, p -> p.c)").as("cv"))
    def vs(c: Column, j: Int): Column = slice(c, j * sub + 1, sub)
    // slice each side ONCE and carry per-subspace self-dots, so the
    // broadcast join computes only the m cross dots per (vector, code)
    // pair — not 3m slices + 3m dots
    val vsliced = e.select(Seq(col("vec_id"), col("label")) ++
      (0 until m).map(j => vs(col("v"), j).as(s"v_$j")) ++
      (0 until m).map(j =>
        ndot(vs(col("v"), j), vs(col("v"), j)).as(s"vv_$j")): _*)
    val csliced = carr.select(Seq(col("clabel")) ++
      (0 until m).map(j => vs(col("cv"), j).as(s"c_$j")) ++
      (0 until m).map(j =>
        ndot(vs(col("cv"), j), vs(col("cv"), j)).as(s"cc_$j")): _*)
    val scored = vsliced.crossJoin(broadcast(csliced))
      .select(Seq(col("vec_id"), col("label"), col("clabel")) ++
        (0 until m).map { j =>
          floor((col(s"vv_$j") + col(s"cc_$j")
            - lit(2.0) * ndot(col(s"v_$j"), col(s"c_$j")))
            * lit(10000.0)).cast("long").as(s"dg_$j")
        }: _*)
    scored.groupBy(col("vec_id"), col("label"))
      .agg(min(struct(col("dg_0"), col("clabel"))).as("b_0"),
        (1 until m).map(j =>
          min(struct(col(s"dg_$j"), col("clabel"))).as(s"b_$j")): _*)
      .select(Seq(col("vec_id"), col("label")) ++
        (0 until m).map(j => col(s"b_$j.clabel").as(s"code_$j")) :+
        (0 until m).map(j => col(s"b_$j.dg_$j")).reduce(_ + _).as("recon_g"): _*)
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[pqEncode]] — same grid centroids, same
    * slice-fold distance identity, argmin as ROW_NUMBER over
    * (dg, clabel). */
  private[graft] def pqEncodeOracleSql(m: Int = 4, dim: Int = 64): String = {
    val sub = dim / m
    val codeCols = (0 until m)
      .map(j => s"MAX(CASE WHEN j = $j THEN clabel END) AS code_$j").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ks AS (SELECT unnest(range(0, $dim)) AS k),
      dims AS (SELECT label, k, v[k + 1] AS x FROM e CROSS JOIN ks),
      cent AS (SELECT label, k,
          (CAST(SUM(CAST(FLOOR(x * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0) / COUNT(x) AS c
        FROM dims GROUP BY label, k),
      carr AS (SELECT label AS clabel, list(c ORDER BY k) AS cv FROM cent GROUP BY label),
      js AS (SELECT unnest(range(0, $m)) AS j),
      scored AS (SELECT e.vec_id, e.label, c.clabel, js.j,
          CAST(FLOOR((
            list_reduce(list_transform(range(js.j * $sub + 1, js.j * $sub + ${sub + 1}),
              k -> v[k] * v[k]), (x, y) -> x + y)
            + list_reduce(list_transform(range(js.j * $sub + 1, js.j * $sub + ${sub + 1}),
              k -> cv[k] * cv[k]), (x, y) -> x + y)
            - 2.0 * list_reduce(list_transform(range(js.j * $sub + 1, js.j * $sub + ${sub + 1}),
              k -> v[k] * cv[k]), (x, y) -> x + y)) * 10000.0) AS BIGINT) AS dg
        FROM e CROSS JOIN carr c CROSS JOIN js),
      r AS (SELECT vec_id, label, clabel, j, dg,
          ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dg, clabel) AS rn
        FROM scored)
      SELECT vec_id, label, $codeCols, CAST(SUM(dg) AS BIGINT) AS recon_g
      FROM r WHERE rn = 1 GROUP BY vec_id, label ORDER BY vec_id"""
  }

  /** PQ encode with per-subspace K-MEANS codebooks — the Jégou et al.
    * 2011 construction proper ([[pqEncode]]'s per-label grid-mean
    * codebooks are a deterministic stand-in with only |labels| codes):
    * split each d-dim vector into `m` subvectors; codebook j holds
    * `codes` centroids from a seeded Lloyd fit on the content-hash
    * sample's j-th slices ([[pqFitCodebooks]]); each subvector takes
    * the id of its nearest centroid by squared L2 (strict-< scan, so
    * ties keep the lowest code). Output per vector: the m codes plus
    * the exact summed squared reconstruction error (the distortion an
    * IVF-PQ index would see).
    *
    * Scale shape: the fit is corpus-size-free (≤ maxFitSample vectors
    * collected once — the q46 quantizer pattern — then m driver-side
    * Lloyd runs on sub-dim slices); encoding is ONE corpus scan of
    * pure per-row map work against the broadcast m·codes·(d/m)-double
    * codebooks — no join, no shuffle, pipelines with the scan. At
    * 100 TB the m log₂(codes)-bit codes (4 bytes/vector here) replace
    * the 256-byte raw embeddings in the serving index. */
  def pqEncodeKmeans(embeddings: DataFrame, m: Int = 4, dim: Int = 64,
                     codes: Int = 256, seed: Long = 42L,
                     maxFitSample: Int = 65536): DataFrame = {
    val spark = embeddings.sparkSession
    val books = pqFitCodebooks(embeddings, m, dim, codes, seed, maxFitSample)
    val bc = spark.sparkContext.broadcast(books)
    val encode = udf { v: Array[Double] =>
      val bks = bc.value
      val cs = new Array[Long](bks.length)
      var recon = 0.0
      var j = 0
      while (j < bks.length) {
        val book = bks(j)
        val sub = book(0).length
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < book.length) {
          val cv = book(c)
          var dsum = 0.0; var k = 0
          while (k < sub) { val t = v(j * sub + k) - cv(k); dsum += t * t; k += 1 }
          if (dsum < bestD) { bestD = dsum; best = c }
          c += 1
        }
        cs(j) = best.toLong; recon += bestD
        j += 1
      }
      (cs.toSeq, recon)
    }
    PartitionUtil.spread(embeddings)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        encode(asDouble(col("embedding"))).as("enc"))
      .select(Seq(col("vec_id"), col("label")) ++
        (0 until m).map(j => element_at(col("enc._1"), j + 1).as(s"code_$j")) :+
        col("enc._2").as("recon"): _*)
      .orderBy(col("vec_id"))
  }

  /** The PQ codebook fit, shared between [[pqEncodeKmeans]] and its
    * oracle builder: the q46 content-hash fit sample (lowest
    * md5("pq-fit-seed", vec_id) rows — partition-order-free), sliced
    * per subspace, each slice set through the seeded deterministic
    * Lloyd ([[lloydKMeans]], seed offset by the subspace index so the
    * m codebooks draw distinct initializations). Returns
    * books(j)(code) = centroid. */
  private[graft] def pqFitCodebooks(embeddings: DataFrame, m: Int = 4, dim: Int = 64,
                                    codes: Int = 256, seed: Long = 42L,
                                    maxFitSample: Int = 65536): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sub = dim / m
    val fit = PartitionUtil.spread(embeddings)
      .select(asDouble(col("embedding")).as("v"),
        md5(concat_ws("-", lit(s"pq-fit-$seed"), col("vec_id"))).as("fk"))
      .orderBy(col("fk"))
      .limit(maxFitSample)
      .select(col("v")).as[Array[Double]].collect()
    Array.tabulate(m) { j =>
      val pts = fit.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      lloydKMeans(pts, codes, iters = 10, seed = seed + j)
    }
  }

  /** DuckDB oracle for [[pqEncodeKmeans]]: the fitted codebooks are
    * inlined as (j, code, centroid) VALUES rows — the data-dependent
    * literal-inlining pattern of q46/q93 — and the per-subspace
    * distance replays the encode UDF's sequential (v−c)² fold; the
    * argmin is ROW_NUMBER over (dist, code), recon re-adds the m
    * chosen distances in explicit j order so the double sum matches
    * the UDF's j-ascending accumulation bit-for-bit. */
  private[graft] def pqEncodeKmeansOracleSql(books: Array[Array[Array[Double]]],
                                             dim: Int = 64): String = {
    val m = books.length
    val sub = dim / m
    val rows = for { j <- books.indices; c <- books(j).indices } yield
      s"($j, $c, ${dlitArr(books(j)(c))})"
    val codeCols = (0 until m).map(j =>
      s"CAST(MAX(CASE WHEN j = $j THEN code END) AS BIGINT) AS code_$j").mkString(", ")
    val reconExpr = (0 until m).map(j =>
      s"MAX(CASE WHEN j = $j THEN dist END)").mkString(" + ")
    s"""WITH cb AS (SELECT * FROM (VALUES ${rows.mkString(",\n      ")}) t(j, code, cv)),
    e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (SELECT e.vec_id, e.label, cb.j, cb.code,
        list_reduce(list_transform(range(1, ${sub + 1}),
          k -> (v[cb.j * $sub + k] - cv[k]) * (v[cb.j * $sub + k] - cv[k])),
          (x, y) -> x + y) AS dist
      FROM e CROSS JOIN cb),
    r AS (SELECT vec_id, label, j, code, dist,
        ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
      FROM scored)
    SELECT vec_id, label, $codeCols, ($reconExpr) AS recon
    FROM r WHERE rn = 1 GROUP BY vec_id, label ORDER BY vec_id"""
  }

  /** Hybrid retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    * of the BM25 lexical ranking ([[TextFunctions.bm25Search]]) and
    * the dense ANN cosine ranking ([[bruteForceTopK]]) for one query:
    * score(d) = Σ_lists 1/(C + rank_d), absent list → 0. Ranks are
    * integers, so each term is ONE exact division and the two-term sum
    * is engine-exact — no grid needed; ties break on doc_id. Missing
    * ranks surface as -1, never NULL (q111 lesson: NULL ints decay to
    * float64 in pandas readers and would soften the gate).
    *
    * Scale shape: the fusion itself touches only the two k-row top-k
    * lists (a constant-size join, trivially broadcast); the corpus
    * work lives in the two retrieval legs, each with its own
    * documented plan (q109 postings pruning, q29 broadcast-query
    * scoring with map-side partial top-k). */
  def hybridRetrieve(docs: DataFrame, embeddings: DataFrame,
                     queryId: Long, terms: Seq[String],
                     kEach: Int = 20, kOut: Int = 10,
                     c: Int = 60): DataFrame = {
    val bm = TextFunctions.bm25Search(docs, terms, kEach)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long").as("bm25_rank"))
    val ann = bruteForceTopK(embeddings, col("vec_id") === queryId, kEach)
      .select(col("nid"), col("rank").as("ann_rank"))
    def contrib(r: Column): Column =
      when(r > 0, lit(1.0) / (lit(c.toDouble) + r.cast("double"))).otherwise(lit(0.0))
    bm.join(ann, bm("doc_id") === ann("nid"), "full_outer")
      .select(coalesce(col("doc_id"), col("nid")).as("doc_id"),
        coalesce(col("bm25_rank"), lit(-1L)).as("bm25_rank"),
        coalesce(col("ann_rank"), lit(-1L)).as("ann_rank"))
      .withColumn("rrf_score",
        contrib(col("bm25_rank")) + contrib(col("ann_rank")))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(kOut)
  }

  /** DuckDB oracle for [[hybridRetrieve]]: the BM25 oracle as a CTE,
    * the q29-style cosine ranking restricted to the query id, the same
    * CASE/COALESCE fusion arithmetic in the same order. */
  private[graft] def hybridRetrieveOracleSql(queryId: Long, terms: Seq[String],
                                             kEach: Int = 20, kOut: Int = 10,
                                             c: Int = 60): String =
    s"""WITH bmq AS (${TextFunctions.bm25SearchOracleSql(terms, kEach)}),
      bm AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
        FROM bmq),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sims AS (SELECT b.vec_id AS nid, list_cosine_similarity(a.v, b.v) AS sim
        FROM e a JOIN e b ON b.vec_id <> a.vec_id
        WHERE a.vec_id = $queryId),
      ann AS (SELECT nid, rnk AS ann_rank FROM (
          SELECT nid, ROW_NUMBER() OVER (ORDER BY sim DESC, nid) AS rnk
          FROM sims) WHERE rnk <= $kEach),
      fused AS (SELECT COALESCE(bm.doc_id, ann.nid) AS doc_id,
          COALESCE(bm.bm25_rank, -1) AS bm25_rank,
          COALESCE(ann.ann_rank, -1) AS ann_rank
        FROM bm FULL OUTER JOIN ann ON ann.nid = bm.doc_id)
      SELECT doc_id, CAST(bm25_rank AS BIGINT) AS bm25_rank,
        CAST(ann_rank AS BIGINT) AS ann_rank,
        (CASE WHEN bm25_rank > 0 THEN 1.0 / ($c.0 + CAST(bm25_rank AS DOUBLE)) ELSE 0.0 END
         + CASE WHEN ann_rank > 0 THEN 1.0 / ($c.0 + CAST(ann_rank AS DOUBLE)) ELSE 0.0 END)
          AS rrf_score
      FROM fused ORDER BY rrf_score DESC, doc_id LIMIT $kOut"""

  /** IVF-style approximate NN: a k-means coarse quantizer (MLlib,
    * seeded) partitions the corpus into `nClusters` inverted lists;
    * each query probes its `nProbe` nearest centroids and scores only
    * those lists.
    *
    * Scale shape: the quantizer fits on a sample-sized problem
    * (centroids ≪ corpus); corpus assignment is one scan; the search
    * join is an equi-join on cluster id, so per-query work drops from
    * N to ~N·nProbe/nClusters. Centroids are driver-side (nClusters·dim
    * doubles) and broadcast with the probe table. Compared to
    * [[lshTopK]], IVF adapts buckets to the data distribution at the
    * cost of the clustering pass.
    */
  def ivfTopK(embeddings: DataFrame, queryFilter: Column, k: Int,
              nClusters: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              maxFitSample: Int = 65536): DataFrame = {
    val centers = ivfFitCenters(embeddings, nClusters, seed, maxFitSample)
    ivfServe(ivfEncode(embeddings, centers), centers,
      embeddings.filter(queryFilter), k, nProbe)
  }

  /** The IVF serving INDEX: (nid, cluster, nv) — coarse assignment +
    * the normalized vector, built in ONE corpus scan against broadcast
    * centroids. Persist via [[clusterLayout]] + `partitionBy("cluster")`
    * so each write task holds whole clusters (doubles round-trip
    * exactly — q167 gates this; the cluster layout is what lets
    * [[ivfServe]]'s probed-cluster filter skip non-probed posting
    * lists at the FILE level) and serve later with [[ivfServe]]
    * without refitting; append new vectors by calling this again with
    * the SAME (frozen) centroids — assignment depends only on
    * (v, centers), never on the rest of the corpus, so incremental
    * extension is exact (asserted in PipelineSpec).
    *
    * NOT cached: the corpus branch scans once for assignment — pinning
    * a full-corpus projection in executor memory is exactly what a
    * 100 TB deployment cannot do, and repeated calls in one session
    * (q152's audit, the ScaleProbe recall sweep) would each leak
    * another never-unpersisted copy. */
  def ivfEncode(embeddings: DataFrame, centers: Array[Array[Double]]): DataFrame = {
    val spark = embeddings.sparkSession
    val bcCenters = spark.sparkContext.broadcast(centers)
    val assignUdf = udf { v: Array[Double] => Similarity.nearestCenter(bcCenters.value, v) }
    PartitionUtil.spread(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id").as("nid"),
        assignUdf(col("v")).as("cluster"), normalizeUdf(col("v")).as("nv"))
  }

  /** Cluster-align an encoded index before a `partitionBy("cluster")`
    * write: ONE exchange keyed on the partition column so each write
    * task holds whole clusters and emits ONE file per cluster it owns
    * — without it every input task writes a sliver of every cluster
    * it sees (tasks x clusters files: measured 505 files vs 16 at
    * sf0.1, 2.8x slower to write and 2.2x slower to list+read back).
    * This is the standard cluster-by-partition-key-before-write move
    * (file sizing, optimization guide §6): small files hurt twice, at
    * listing/planning and at per-file open.
    *
    * `filesPerCluster` is the 100 TB knob: when one posting list
    * outgrows a good parquet file (~1 GB), a second deterministic
    * split key (hash of the row id, NEVER rand() — retried tasks must
    * reproduce their assignment) fans each cluster over that many
    * write tasks/files. Local default 1: at bench scale a cluster is
    * KBs. Results are layout-invariant either way — only file
    * boundaries move, never rows. */
  def clusterLayout(index: DataFrame, filesPerCluster: Int = 1): DataFrame = {
    require(filesPerCluster >= 1,
      s"clusterLayout: filesPerCluster must be >= 1, got $filesPerCluster")
    if (filesPerCluster == 1) index.repartition(col("cluster"))
    else index.repartition(col("cluster"),
      pmod(xxhash64(col("nid")), lit(filesPerCluster.toLong)))
  }

  /** Collect the query vectors and assign their probes DRIVER-side —
    * one scan of the (|Q|-sized) query relation, nearestClusters
    * against the already-driver-side centroids. The result feeds BOTH
    * halves of the pruned serve from a single pass: the probe table
    * (a local relation the join broadcasts — the same rows a
    * distributed probe build would have materialized on the driver
    * for the broadcast anyway) and the probed-cluster set for the
    * static `IN` filter. That filter is the storage-layer lever: when
    * the index was persisted `partitionBy("cluster")` (the q167
    * layout) it lands in the scan's PartitionFilters and Spark skips
    * the non-probed posting lists' FILES (PlanShapeSpec asserts it) —
    * without it the cluster equi-join still discards those rows, but
    * only AFTER reading them, and at 100 TB the nProbe/nClusters scan
    * reduction is the whole point of IVF. Note the serve DataFrame is
    * therefore EAGER at construction (the query-side collect runs
    * immediately) — inherent to static pruning, and bounded by |Q|. */
  private def collectProbes(queries: DataFrame, centers: Array[Array[Double]],
                            nProbe: Int): Array[(Long, Int, Array[Double])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
      .collect()
      .flatMap { case (qid, v) =>
        Similarity.nearestClusters(centers, v, nProbe).map(c => (qid, c, v)) }
  }

  /** The static probed-cluster filter half of [[collectProbes]]. */
  private def pruneToProbed(index: DataFrame, probed: Iterable[Int]): DataFrame =
    index.filter(col("cluster")
      .isin(probed.toArray.distinct.sorted.toIndexedSeq: _*))

  /** Serve cosine top-k from a (nid, cluster, nv) index built by
    * [[ivfEncode]] — fresh or reloaded from parquet: each query
    * (embeddings-shaped rows) probes its `nProbe` nearest centroids
    * and scores only those inverted lists through the cluster
    * equi-join, with the KB-sized probe table broadcast and the index
    * scan pre-pruned to the probed clusters ([[collectProbes]] — file
    * skipping when the store is `partitionBy("cluster")`, the q167
    * layout). The query normalization stays the SAME column
    * expression as ever, evaluated over the local probe relation, so
    * serving from a persisted index is bit-identical to serving fresh
    * by construction ([[ivfTopK]] shares this path). */
  def ivfServe(index: DataFrame, centers: Array[Array[Double]],
               queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val probeRows = collectProbes(queries, centers, nProbe)
    val probes = probeRows.toIndexedSeq.toDF("qid", "cluster", "v")
      .select(col("qid"), col("cluster"), normalizeUdf(col("v")).as("qv"))
    val sims = pruneToProbed(index, probeRows.map(_._2).toSeq)
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim", nativeDot(spark)(col("qv"), col("nv")))
      .select(col("qid"), col("nid"), col("sim"))
    topKPerKey(sims, "qid", k)
  }

  /** Persist driver-side fitted centroids as a tiny (cid, cv) parquet
    * — the index-metadata half of the q167/q168 persistence lifecycle
    * (the corpus-sized half is the [[ivfEncode]]/[[ivfPqEncode]]
    * output). Doubles round-trip parquet exactly. */
  def writeCenters(spark: SparkSession, centers: Array[Array[Double]],
                   path: String): Unit = {
    import spark.implicits._
    centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "cv").coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload [[writeCenters]] output, cid-ordered. The pull is
    * nClusters·dim doubles — KB-sized index metadata, never corpus. */
  def readCenters(spark: SparkSession, path: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(path).orderBy(col("cid"))
      .select(col("cv")).as[Seq[Double]].collect().map(_.toArray)
  }

  /** Persist PQ codebooks as a tiny (j, code, cv) parquet. */
  def writeCodebooks(spark: SparkSession, books: Array[Array[Array[Double]]],
                     path: String): Unit = {
    import spark.implicits._
    (for { j <- books.indices; c <- books(j).indices }
      yield (j, c, books(j)(c).toSeq)).toDF("j", "code", "cv")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload [[writeCodebooks]] output; the client-side regroup
    * establishes the (j, code) order, so no Spark-side sort. */
  def readCodebooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("j"), col("code"), col("cv"))
      .as[(Int, Int, Seq[Double])].collect()
    rows.groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toArray))
  }

  /** The IVF coarse-quantizer fit, shared between [[ivfTopK]] and its
    * oracle builder ([[ivfTopKOracleSql]]) so both see the identical
    * centroids. Fit on a CONTENT-HASH sample collected to the driver
    * (standard IVF practice — the quantizer problem is tiny:
    * ≤ maxFitSample vectors, nClusters·dim centroid doubles), so
    * k-means iterations cost zero cluster scans and the full corpus
    * is scanned exactly once, for assignment. The fit set is the
    * maxFitSample rows with the LOWEST md5(seed, vec_id) — a pure
    * function of row content, so centroids (hence results) are
    * identical across partition counts and environments, unlike
    * sample()+take() whose outcome depends on partition order.
    * orderBy+limit compiles to TakeOrderedAndProject: per-partition
    * top-k then a driver merge, no shuffle of the corpus. */
  private[graft] def ivfFitCenters(embeddings: DataFrame, nClusters: Int = 16,
                                   seed: Long = 42L,
                                   maxFitSample: Int = 65536): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val fitData = PartitionUtil.spread(embeddings)
      .select(asDouble(col("embedding")).as("v"),
        md5(concat_ws("-", lit(s"ivf-fit-$seed"), col("vec_id"))).as("fk"))
      .orderBy(col("fk"))
      .limit(maxFitSample)
      .select(col("v")).as[Array[Double]].collect()
    lloydKMeans(fitData, nClusters, iters = 10, seed = seed)
  }

  /** DuckDB oracle for [[ivfTopK]]: the deterministic fitted centroids
    * are inlined as full-precision double literals (the q54 pattern
    * extended to a data-dependent fit — [[ivfFitCenters]] is rerun at
    * oracle-build time on the same table, so the literals equal the
    * impl's centroids bit-for-bit), and every fold mirrors the
    * Spark-side sequential loops: sqDist's (a−b)² left fold for
    * assignment and probe selection (ties → lowest centroid id, the
    * strict-< scan order of `nearestCenter`), normalizeUdf's
    * zero-guarded x/‖v‖, and the normalized dot. Output is ranks. */
  private[graft] def ivfTopKOracleSql(centers: Array[Array[Double]], queryCond: String,
                                      k: Int, nProbe: Int = 4, dim: Int = 64): String = {
    val fold = sqlFold(dim) _
    val centRows = centers.zipWithIndex.map { case (c, i) =>
      s"($i, ${dlitArr(c)})"
    }.mkString(",\n      ")
    s"""WITH cent AS (SELECT * FROM (VALUES $centRows) t(cid, cv)),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    nv AS (SELECT vec_id, list_transform(v, x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS nv
      FROM (SELECT vec_id, v, sqrt(${fold("v[k] * v[k]")}) AS nrm FROM e)),
    ${ivfAssignProbeCtes(dim, nProbe, queryCond)},
    sims AS (SELECT p.qid, a.vec_id AS nid, ${fold("q.nv[k] * b.nv[k]")} AS sim
      FROM probes p JOIN asg a ON a.cluster = p.cluster
      JOIN nv q ON q.vec_id = p.qid
      JOIN nv b ON b.vec_id = a.vec_id
      WHERE a.vec_id <> p.qid)
    SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
      SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
      FROM sims)
    WHERE rnk <= $k ORDER BY qid, rank"""
  }

  /** IVF-PQ approximate NN — the production-scale ANN composition
    * (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011; the FAISS `IVFPQ` index): the q46 coarse
    * quantizer partitions the corpus into inverted lists, each
    * vector's RESIDUAL from its centroid is product-quantized with
    * the q114b machinery, and queries score candidates by asymmetric
    * distance (exact query residual vs the code's reconstruction).
    *
    * Scale shape: both fits are corpus-size-free (ONE shared
    * content-hash sample collected once, driver-side Lloyd); the corpus pass is ONE scan of
    * per-row map work against broadcast centroids+codebooks (no
    * join); the search join is the q46 cluster equi-join with the
    * probe table broadcast — per-query work ~N·nProbe/nClusters, and
    * at 100 TB the serving index stores m·log₂(codes) BITS per vector
    * (2 bytes here) instead of the 512-byte raw embedding: the memory
    * math that makes billion-vector ANN fit a cluster at all.
    * `rerank > 0` adds the exact-refine stage (shortlist of `rerank`
    * ADC candidates re-scored with true cosine) — measured recall@10
    * per knob is recorded in docs/SCALE.md (ScaleProbe `ann_recall`). */
  /** IVF-SQ8 approximate NN — the FAISS `IVFScalarQuantizer`
    * composition: the q46 coarse quantizer bounds per-query work
    * (score only nProbe inverted lists, ~N·nProbe/nClusters
    * candidates) while SQ8 codes bound MEMORY (1 byte/dim in the
    * serving index, near-exact recall — see docs/SCALE.md). The two
    * knobs are orthogonal: nProbe trades recall for latency exactly
    * as in q46 (the SQ8 leg costs ≈ nothing in recall), which is why
    * this — not IVF-PQ — is the first composition a production tier
    * deploys when vectors still fit at 1 byte/dim.
    *
    * Scale shape: both fits are corpus-size-free (the q46 content-hash
    * centroid sample; one dim-bounded range aggregation); the corpus
    * pass is ONE scan (assign + encode+dequantize per row against
    * broadcast centroids/ranges); the search join is the q46 cluster
    * equi-join with the KB-sized probe table broadcast. */
  def ivfSq8TopK(embeddings: DataFrame, queryFilter: Column, k: Int,
                 nClusters: Int = 16, nProbe: Int = 4, seed: Long = 42L,
                 maxFitSample: Int = 65536): DataFrame = {
    val (mns, mxs) = sq8FitRanges(embeddings)
    val centers = ivfFitCenters(embeddings, nClusters, seed, maxFitSample)
    ivfSq8Serve(ivfSq8Encode(embeddings, centers, mns, mxs), centers, mns, mxs,
      embeddings.filter(queryFilter), k, nProbe)
  }

  /** The IVF-SQ8 serving INDEX: (nid, cluster, codes) — coarse
    * assignment on the RAW vector (the coarse quantizer sees full
    * precision, like FAISS) plus the 1-byte/dim SQ8 codes, built in
    * ONE corpus scan. Persist with plain `write.parquet` (q169 gates
    * the round trip) and serve with [[ivfSq8Serve]] without
    * refitting; append new vectors with the SAME frozen
    * (centers, ranges) — both the assignment and the codes depend
    * only on the vector and the frozen artifacts (asserted in
    * PipelineSpec). */
  def ivfSq8Encode(embeddings: DataFrame, centers: Array[Array[Double]],
                   mns: Array[Double], mxs: Array[Double]): DataFrame = {
    val spark = embeddings.sparkSession
    val bcCenters = spark.sparkContext.broadcast(centers)
    val bMn = spark.sparkContext.broadcast(mns)
    val bMx = spark.sparkContext.broadcast(mxs)
    val assignEncodeUdf = udf { v: Array[Double] =>
      val mn = bMn.value; val mx = bMx.value
      val out = new Array[Byte](v.length)
      var i = 0
      while (i < v.length) { out(i) = sq8CodeElem(v(i), mn(i), mx(i)).toByte; i += 1 }
      (Similarity.nearestCenter(bcCenters.value, v), out)
    }
    PartitionUtil.spread(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id").as("nid"), assignEncodeUdf(col("v")).as("ae"))
      .select(col("nid"), col("ae._1").as("cluster"), col("ae._2").as("codes"))
  }

  /** Serve cosine top-k from a (nid, cluster, codes) index built by
    * [[ivfSq8Encode]] — fresh or reloaded from parquet: dequantize
    * each byte to its cell center ([[sq8ReconFromCode]] — exactly the
    * arithmetic the direct recon ran, so serving from codes is
    * bit-identical by construction) and run the q46 cluster equi-join
    * with the broadcast probe table. Queries stay full-precision. */
  def ivfSq8Serve(index: DataFrame, centers: Array[Array[Double]],
                  mns: Array[Double], mxs: Array[Double],
                  queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val bMn = spark.sparkContext.broadcast(mns)
    val bMx = spark.sparkContext.broadcast(mxs)
    val reconUdf = udf { codes: Array[Byte] =>
      val mn = bMn.value; val mx = bMx.value
      val out = new Array[Double](codes.length)
      var i = 0
      while (i < codes.length) {
        out(i) = sq8ReconFromCode(codes(i) & 0xFF, mn(i), mx(i))
        i += 1
      }
      out
    }
    val corpus = index
      .select(col("nid"), col("cluster"), reconUdf(col("codes")).as("rv"))
      .withColumn("rnorm", nativeNorm(spark)(col("rv")))
    val probeRows = collectProbes(queries, centers, nProbe)
    val probes = probeRows.toIndexedSeq.toDF("qid", "cluster", "qv")
      .withColumn("qnorm", nativeNorm(spark)(col("qv")))
    val sims = pruneToProbed(corpus, probeRows.map(_._2).toSeq)
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim",
        nativeDot(spark)(col("qv"), col("rv")) / (col("qnorm") * col("rnorm")))
      .select(col("qid"), col("nid"), col("sim"))
    topKPerKey(sims, "qid", k)
  }

  /** Persist SQ8 per-dimension [min, max] ranges as a tiny
    * (d, mn, mx) parquet — the third index-metadata artifact next to
    * centroids and codebooks. */
  def writeRanges(spark: SparkSession, mns: Array[Double], mxs: Array[Double],
                  path: String): Unit = {
    import spark.implicits._
    mns.indices.map(d => (d, mns(d), mxs(d))).toDF("d", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload [[writeRanges]] output, dimension-ordered. */
  def readRanges(spark: SparkSession, path: String): (Array[Double], Array[Double]) = {
    import spark.implicits._
    val rows = spark.read.parquet(path).orderBy(col("d"))
      .select(col("mn"), col("mx")).as[(Double, Double)].collect()
    (rows.map(_._1), rows.map(_._2))
  }

  /** DuckDB oracle for [[ivfSq8TopK]]: the fitted centroids inline as
    * literals (the q46 pattern); the SQ8 ranges recompute statically
    * (exact min/max, order-free); assignment/probe selection replay
    * the (dist, cid) tie-break and the scoring fold divides by both
    * norms exactly like the impl. */
  private[graft] def ivfSq8TopKOracleSql(centers: Array[Array[Double]],
                                         queryCond: String, k: Int,
                                         nProbe: Int = 4, dim: Int = 64): String = {
    val fold = sqlFold(dim) _
    val centRows = centers.zipWithIndex.map { case (c, i) =>
      s"($i, ${dlitArr(c)})"
    }.mkString(",\n      ")
    s"""WITH cent AS (SELECT * FROM (VALUES $centRows) t(cid, cv)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${sq8ReconCtes(dim)},
      q AS (SELECT vec_id AS qid, v AS qv, sqrt(${fold("v[k] * v[k]")}) AS qnorm
        FROM e WHERE $queryCond),
      ${ivfAssignProbeCtes(dim, nProbe, queryCond)},
      sims AS (SELECT p.qid, a.vec_id AS nid,
          ${fold("q.qv[k] * b.rv[k]")} / (q.qnorm * b.rnorm) AS sim
        FROM probes p JOIN asg a ON a.cluster = p.cluster
        JOIN q ON q.qid = p.qid
        JOIN b ON b.vec_id = a.vec_id
        WHERE a.vec_id <> p.qid)
      SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
        SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM sims)
      WHERE rnk <= $k ORDER BY qid, rank"""
  }

  /** SQ8 scalar-quantized ANN — the third member of the quantization
    * family next to PQ (q114b) and IVF-PQ (q151), and the one
    * production serving tiers reach for first (FAISS SQ8 / Lucene
    * int8 HNSW): each dimension is uniformly quantized to an 8-bit
    * code over the corpus's exact per-dimension [min, max] range
    * (1 byte/dim = 8× smaller than float64, 4× smaller than float32,
    * with near-exact recall — unlike PQ there is no codebook to fit).
    * Queries stay full-precision; corpus vectors are scored through
    * their DEQUANTIZED form (code cell centers), cosine ranked.
    *
    * The "fit" is exact per-dimension min/max — ONE posexplode
    * aggregation (map-side combined into dim cells, corpus-size-free
    * output) pulled to the driver (dim-bounded, the |groups| pull
    * pattern). Encoding+dequantizing is per-row map work in one
    * corpus scan; scoring is the q29 broadcast-query single-scan
    * plan. Every arithmetic step (floor-clamp code, cell-center
    * dequantize, ascending-fold dot/norm) is a fixed chain of
    * correctly-rounded IEEE ops, so the static DuckDB oracle replays
    * ranks bit-for-bit — no Verify-time literal inlining needed.
    * Output is (qid, rank, nid) ranks like q29. */
  def sq8TopK(embeddings: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val (mns, mxs) = sq8FitRanges(embeddings)
    sq8Serve(sq8Encode(embeddings, mns, mxs), mns, mxs,
      embeddings.filter(queryFilter), k)
  }

  /** Exact per-dimension [min, max] ranges — the SQ8 "fit": ONE
    * map-side-combined posexplode aggregation, driver pull bounded by
    * dim. Order-free exact statistics, so any engine recomputes the
    * identical doubles. */
  def sq8FitRanges(embeddings: DataFrame): (Array[Double], Array[Double]) = {
    val rng = embeddings
      .select(posexplode(asDouble(col("embedding"))).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("d")).collect()
    (rng.map(_.getDouble(1)), rng.map(_.getDouble(2)))
  }

  /** The SERVING INDEX: one byte per dimension per vector (stored as
    * a binary column — 8× smaller than the float64 embedding), built
    * in one corpus scan. Persist with plain `write.parquet` and the
    * byte codes round-trip exactly (q162 gates this); append new
    * vectors later by calling this again with the SAME ranges — codes
    * depend only on (x, range), never on the rest of the corpus, so
    * incremental extension is exact (asserted in PipelineSpec). */
  def sq8Encode(embeddings: DataFrame, mns: Array[Double],
                mxs: Array[Double]): DataFrame = {
    val spark = embeddings.sparkSession
    val bMn = spark.sparkContext.broadcast(mns)
    val bMx = spark.sparkContext.broadcast(mxs)
    val encodeUdf = udf { v: Array[Double] =>
      val mn = bMn.value; val mx = bMx.value
      val out = new Array[Byte](v.length)
      var i = 0
      while (i < v.length) {
        out(i) = sq8CodeElem(v(i), mn(i), mx(i)).toByte
        i += 1
      }
      out
    }
    embeddings.select(col("vec_id"),
      encodeUdf(asDouble(col("embedding"))).as("codes"))
  }

  /** Serve cosine top-k from a (vec_id, codes binary) index built by
    * [[sq8Encode]]: dequantize each byte to its cell center and run
    * the q29 broadcast-query single-scan plan. Queries stay
    * full-precision. */
  def sq8Serve(index: DataFrame, mns: Array[Double], mxs: Array[Double],
               queries: DataFrame, k: Int): DataFrame = {
    val spark = index.sparkSession
    val bMn = spark.sparkContext.broadcast(mns)
    val bMx = spark.sparkContext.broadcast(mxs)
    val reconUdf = udf { codes: Array[Byte] =>
      val mn = bMn.value; val mx = bMx.value
      val out = new Array[Double](codes.length)
      var i = 0
      while (i < codes.length) {
        out(i) = sq8ReconFromCode(codes(i) & 0xFF, mn(i), mx(i))
        i += 1
      }
      out
    }
    val corpus = PartitionUtil.spread(index)
      .select(col("vec_id").as("nid"), reconUdf(col("codes")).as("rv"))
      .withColumn("rnorm", nativeNorm(spark)(col("rv")))
    val q = queries
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
      .withColumn("qnorm", nativeNorm(spark)(col("qv")))
    val sims = corpus.join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("sim",
        nativeDot(spark)(col("qv"), col("rv")) / (col("qnorm") * col("rnorm")))
      .select(col("qid"), col("nid"), col("sim"))
    topKPerKey(sims, "qid", k)
  }

  /** Pure SQ8 code kernel: floor-clamp 8-bit code over [lo, hi]. */
  private[graft] def sq8CodeElem(x: Double, lo: Double, hi: Double): Int =
    if (hi > lo) {
      val c = math.floor((x - lo) / (hi - lo) * 256.0)
      if (c > 255.0) 255 else if (c < 0.0) 0 else c.toInt
    } else 0

  /** Cell CENTER of an 8-bit code over [lo, hi]. */
  private[graft] def sq8ReconFromCode(code: Int, lo: Double, hi: Double): Double =
    lo + ((code + 0.5) * (hi - lo)) / 256.0

  /** Encode then dequantize: |recon − x| ≤ (hi−lo)/512 for in-range x
    * (asserted in PipelineSpec). Exactly the arithmetic the oracle
    * replays, one expression per step. */
  private[graft] def sq8ReconElem(x: Double, lo: Double, hi: Double): Double =
    sq8ReconFromCode(sq8CodeElem(x, lo, hi), lo, hi)

  /** Ascending left-fold over dims — the shared DuckDB fragment every
    * vector oracle mirrors (same order as the Scala while-loops). */
  private def sqlFold(dim: Int)(prod: String): String =
    s"list_reduce(list_transform(range(1, ${dim + 1}), k -> $prod), (x, y) -> x + y)"

  /** The SQ8 dequantize CTE block (rngrows/rng/r/b over a CTE `e` of
    * (vec_id, v)) — ONE copy of the floor-clamp/cell-center
    * arithmetic shared by the q161 and q166 oracles, so a change to
    * [[sq8CodeElem]]/[[sq8ReconFromCode]] has exactly one SQL mirror
    * to update. */
  private def sq8ReconCtes(dim: Int): String = {
    val fold = sqlFold(dim) _
    s"""rngrows AS (SELECT d, MIN(v[d]) AS mn, MAX(v[d]) AS mx
        FROM e CROSS JOIN range(1, ${dim + 1}) t(d) GROUP BY d),
      rng AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
        FROM rngrows),
      r AS (SELECT vec_id, list_transform(range(1, ${dim + 1}), d ->
          CASE WHEN mxs[d] > mns[d] THEN
            mns[d] + ((LEAST(255.0, GREATEST(0.0,
              FLOOR((v[d] - mns[d]) / (mxs[d] - mns[d]) * 256.0))) + 0.5)
              * (mxs[d] - mns[d])) / 256.0
          ELSE mns[d] + ((0.0 + 0.5) * (mxs[d] - mns[d])) / 256.0 END) AS rv
        FROM e CROSS JOIN rng),
      b AS (SELECT vec_id, rv, sqrt(${fold("rv[k] * rv[k]")}) AS rnorm FROM r)"""
  }

  /** The IVF assignment + probe-selection CTE block (d/asg/probes
    * over CTEs `e` and `cent`) — ONE copy of the (dist, cid)
    * tie-break shared by the q46 and q166 oracles, mirroring
    * [[nearestCenter]]/[[nearestClusters]]. */
  private def ivfAssignProbeCtes(dim: Int, nProbe: Int, queryCond: String): String = {
    val fold = sqlFold(dim) _
    s"""d AS (SELECT vec_id, cid, ${fold("(v[k] - cv[k]) * (v[k] - cv[k])")} AS dist
        FROM e CROSS JOIN cent),
      asg AS (SELECT vec_id, cid AS cluster FROM (
          SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d) WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid AS cluster FROM (
          SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d WHERE $queryCond) WHERE rn <= $nProbe)"""
  }

  /** Static DuckDB oracle for [[sq8TopK]]: exact per-dimension ranges
    * recomputed in SQL (min/max are order-free — no float-sum
    * hazard), the identical floor-clamp/cell-center arithmetic, the
    * identical ascending folds. */
  private[graft] def sq8TopKOracleSql(queryCond: String, k: Int,
                                      dim: Int = 64): String = {
    val fold = sqlFold(dim) _
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${sq8ReconCtes(dim)},
      q AS (SELECT vec_id AS qid, v AS qv, sqrt(${fold("v[k] * v[k]")}) AS qnorm
        FROM e WHERE $queryCond),
      sims AS (SELECT q.qid, b.vec_id AS nid,
          ${fold("q.qv[k] * b.rv[k]")} / (q.qnorm * b.rnorm) AS sim
        FROM b JOIN q ON b.vec_id <> q.qid)
      SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
        SELECT qid, nid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM sims)
      WHERE rnk <= $k ORDER BY qid, rank"""
  }

  /** BINARY (sign-bit) quantization — the fifth quantization-family
    * member and the most aggressive memory lever a serving tier runs
    * (FAISS `IndexBinaryFlat` / the "binary embedding" deployments):
    * each dimension keeps ONE bit (x > 0), packed 32 per BIGINT word,
    * so a 64-dim float64 vector serves from 8 payload bytes — 64×
    * smaller — and similarity is HAMMING distance, pure integer ops
    * (xor + popcount) with no float math at all. PARAMETER-FREE by
    * design: the threshold is 0, not a fitted mean — a float mean is
    * an order-dependent sum that would break bit-determinism across
    * partitionings, while the sign predicate is exact, so the oracle
    * is fully static and appends need no frozen artifact (encoding
    * depends only on the vector).
    *
    * 32 bits per word, not 64: bit 63 would force signed-overflow
    * shift semantics both engines would have to agree on; bits 0..31
    * keep every word positive and the packing arithmetic
    * (shift-or-add) identical in Spark and DuckDB.
    *
    * Scale shape: encoding is one corpus scan of codegen'd built-ins
    * (transform/aggregate/shiftleft — no UDF); serving is the q29
    * broadcast-query single-scan plan over the 8-byte words with the
    * map-side-combining TopK aggregator. Ranking: Hamming ascending,
    * nid ascending on ties (sim = −hamming through the shared
    * [[topKPerKey]] rule). */
  def binTopK(embeddings: DataFrame, queryFilter: Column, k: Int,
              dim: Int = 64): DataFrame =
    binServe(binEncode(embeddings, dim), embeddings.filter(queryFilter), k, dim)

  /** The binary serving INDEX: (nid, bw array<bigint>) — dim/32 words
    * of packed sign bits per vector, built in ONE corpus scan of pure
    * codegen'd expression work. Persist with plain `write.parquet`
    * (longs round-trip exactly — q175 gates this) and serve with
    * [[binServe]]; append new vectors by calling this again — there
    * is NO fitted state, so incremental extension is trivially exact. */
  def binEncode(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    require(dim % 32 == 0, s"binEncode packs 32 sign bits per word; dim $dim must be a multiple of 32")
    PartitionUtil.spread(embeddings)
      .select(col("vec_id").as("nid"), asDouble(col("embedding")).as("v"))
      .select(col("nid"), packGuarded(dim, "binEncode", col("nid")).as("bw"))
  }

  /** [[binPackSql]] behind a LOUD dim guard: a vector shorter than
    * `dim` would make `element_at` return NULL, which the packing
    * CASE maps to a 0 bit — i.e. a wrong-dim call would silently pack
    * zero words (and the static oracle replays the same NULL→0, so
    * the hash gate could never catch the misconfiguration). Instead
    * any row whose embedding size ≠ dim raises with the offending id. */
  private def packGuarded(dim: Int, who: String, id: Column): Column =
    when(size(col("v")) === dim, expr(binPackSql(dim / 32)))
      .otherwise(raise_error(concat(
        lit(s"$who: embedding size <> dim $dim for id "), id.cast("string"),
        lit(" (size "), size(col("v")).cast("string"), lit(")"))))

  /** The sign-bit packing expression over a column `v` (array<double>):
    * word w holds bits i=0..31 for dims w*32+i, bit set iff x > 0 —
    * the ONE arithmetic the DuckDB oracle mirrors token for token. */
  private def binPackSql(m: Int): String =
    s"""transform(sequence(0, ${m - 1}), w ->
        aggregate(sequence(0, 31), 0L, (acc, i) ->
          acc + (CASE WHEN element_at(v, w * 32 + i + 1) > 0D
                 THEN shiftleft(1L, i) ELSE 0L END)))"""

  /** Serve Hamming top-k from a (nid, bw) index built by [[binEncode]]
    * — fresh or reloaded from parquet: queries pack through the same
    * expression, candidates score by summed per-word popcount of the
    * xor, ranked ascending with nid tie-break. The corpus side scans
    * 8 bytes/vector (dim 64) — the scan-bytes win that makes
    * billion-vector candidate generation cheap enough to rerank. */
  def binServe(index: DataFrame, queries: DataFrame, k: Int,
               dim: Int = 64): DataFrame = {
    val q = queries
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("v"))
      .select(col("qid"), packGuarded(dim, "binServe", col("qid")).as("qw"))
    // spread like sq8Serve: the packed index is ~8 bytes/vector, so a
    // reloaded parquet store lands in a handful of splits — without a
    // repartition the |Q|*N scoring would run on that few tasks
    val sims = PartitionUtil.spread(index).join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("ham",
        when(size(col("bw")) === dim / 32,
          expr("aggregate(zip_with(qw, bw, (x, y) -> bit_count(x ^ y)), 0, (a, b) -> a + b)"))
          .otherwise(raise_error(concat(
            lit(s"binServe: index word count <> ${dim / 32} for nid "),
            col("nid").cast("string")))))
      .select(col("qid"), col("nid"), (-col("ham").cast("double")).as("sim"))
    topKPerKey(sims, "qid", k)
  }

  /** ASYMMETRIC binary scoring — the recall upgrade the same 8-byte
    * index buys when queries keep full precision (the asymmetric-
    * distance idea of Jégou et al.'s quantization search, applied to
    * sign codes): score = Σ_d ±qv[d], sign chosen by the corpus bit,
    * i.e. the exact dot of the normalized query against the
    * {−1,+1}^dim reconstruction. Per-query magnitudes survive (unlike
    * symmetric Hamming, which counts disagreements unweighted), so
    * recall rises at IDENTICAL index memory; the corpus side still
    * never stores floats. Deterministic: the fold is the ascending-d
    * sequential add both engines replay bit-for-bit. */
  def binAsymTopK(embeddings: DataFrame, queryFilter: Column, k: Int,
                  dim: Int = 64): DataFrame =
    binAsymServe(binEncode(embeddings, dim), embeddings.filter(queryFilter), k, dim)

  /** Serve asymmetric top-k from a [[binEncode]] index: full-precision
    * normalized queries against packed sign words, ranked sim desc /
    * nid asc through the shared [[topKPerKey]] rule. */
  def binAsymServe(index: DataFrame, queries: DataFrame, k: Int,
                   dim: Int = 64): DataFrame = {
    val q = queries
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("v"))
      .select(col("qid"),
        when(size(col("v")) === dim, normalizeUdf(col("v")))
          .otherwise(raise_error(concat(
            lit(s"binAsymServe: embedding size <> dim $dim for qid "),
            col("qid").cast("string")))).as("qv"))
    val sims = PartitionUtil.spread(index).join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("sim",
        when(size(col("bw")) === dim / 32, expr(binAsymSql(dim)))
          .otherwise(raise_error(concat(
            lit(s"binAsymServe: index word count <> ${dim / 32} for nid "),
            col("nid").cast("string")))))
      .select(col("qid"), col("nid"), col("sim"))
    topKPerKey(sims, "qid", k)
  }

  /** The asymmetric scoring expression over columns `bw` (packed
    * words) and `qv` (normalized query): ±qv[d] by corpus bit d,
    * ascending-d left fold — the ONE arithmetic the oracle mirrors. */
  private def binAsymSql(dim: Int): String =
    s"""aggregate(sequence(0, ${dim - 1}), 0D, (acc, d) ->
        acc + (CASE WHEN (shiftright(element_at(bw, CAST(d div 32 AS INT) + 1), d % 32) & 1L) = 1L
               THEN element_at(qv, d + 1) ELSE -element_at(qv, d + 1) END))"""

  /** Binary candidate generation + EXACT cosine rerank — the two-stage
    * retrieval a production tier actually serves (cheap integer
    * shortlist over the 8-byte index, float math only on the
    * `shortlist` survivors per query): stage 1 is [[binServe]]'s
    * Hamming top-`shortlist`, stage 2 fetches the survivors' full
    * vectors through a broadcast equi-join on nid (the corpus scans
    * once; only candidate rows survive the join probe) and re-ranks
    * by the exact normalized dot. Both stages are deterministic
    * (Hamming asc/nid asc, then sim desc/nid asc), so the static
    * oracle replays the composition bit-for-bit. */
  def binRerankTopK(embeddings: DataFrame, queryFilter: Column, k: Int,
                    shortlist: Int = 32, dim: Int = 64,
                    asymmetric: Boolean = false): DataFrame =
    binRerankServe(binEncode(embeddings, dim), embeddings,
      embeddings.filter(queryFilter), k, shortlist, dim, asymmetric)

  /** The two-stage serve from PERSISTED state — [[binRerankTopK]]'s
    * production face and the family's flagship path (q177): stage 1
    * takes the Hamming (or asymmetric) shortlist from `index` — a
    * [[binEncode]] store, fresh or RELOADED from parquet — and
    * stage 2 re-ranks the survivors' exact vectors from `corpus` (the
    * raw-embedding relation; at scale a separate fat store fetched
    * only for the |Q|·shortlist candidate rows through the broadcast
    * nid equi-join). [[binRerankTopK]] delegates here with a fresh
    * encode, so store-vs-fresh serving is bit-identical by
    * construction — q177 gates it against q174's oracle. */
  def binRerankServe(index: DataFrame, corpus: DataFrame, queries: DataFrame,
                     k: Int, shortlist: Int = 32, dim: Int = 64,
                     asymmetric: Boolean = false): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val spark = corpus.sparkSession
    val cand = (if (asymmetric) binAsymServe(index, queries, shortlist, dim)
                else binServe(index, queries, shortlist, dim))
      .select(col("qid"), col("nid"))
    val nvecs = PartitionUtil.spread(corpus)
      .select(col("vec_id").as("nid"), normalizeUdf(asDouble(col("embedding"))).as("nv"))
    val qv = queries
      .select(col("vec_id").as("qid"), normalizeUdf(asDouble(col("embedding"))).as("qv"))
    val sims = nvecs.join(broadcast(cand), Seq("nid"))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("sim", nativeDot(spark)(col("qv"), col("nv")))
      .select(col("qid"), col("nid"), col("sim"))
    topKPerKey(sims, "qid", k)
  }

  /** Multi-index Hamming top-k over the binary sign-bit codes — the
    * stage-1 SCAN-REDUCTION lever for the binary family (the
    * multi-index hashing idea of Norouzi/Punjani/Fleet's Hamming-space
    * search; reference analog: the flat Hamming scan this replaces is
    * [[binTopK]]): split each dim-bit code into `subs` disjoint
    * sub-words; by pigeonhole any corpus code within Hamming distance
    * < subs of the query matches it EXACTLY in at least one sub-word,
    * so candidate generation becomes an equi-join on (slot, sub-word)
    * postings instead of the |Q|·N full scan, and only the colliding
    * pairs pay the exact xor+popcount. Expected candidates per query
    * drop to ~subs·N/2^(dim/subs) (dim 64 / subs 8 → N/32, measured
    * in ScaleProbe). Approximate as a TOP-K: a true neighbor at
    * distance ≥ subs sharing no sub-word is missed — raise `subs` for
    * recall, lower it for pruning (recall measured in ScaleProbe).
    * Parameter-free like the rest of the family (no fitted state,
    * integer-only), so results are DETERMINISTIC given the corpus and
    * the DuckDB oracle is fully static. */
  def binMihTopK(embeddings: DataFrame, queryFilter: Column, k: Int,
                 dim: Int = 64, subs: Int = 8): DataFrame =
    binMihServe(binEncode(embeddings, dim),
      embeddings.filter(queryFilter), k, dim, subs)

  /** Serve MIH top-k from a (nid, bw) index built by [[binEncode]] —
    * fresh or RELOADED from parquet (the q175 store serves both the
    * flat and the multi-index path; there is no separate artifact to
    * build or freeze). Postings explode corpus-side (subs narrow rows
    * per vector, generated — never persisted); the |Q|·subs query
    * sub-words broadcast into the (slot, sub) equi-join; duplicate
    * collisions collapse in a map-side-combined min aggregate (ham is
    * identical across a pair's colliding slots); ranking replays
    * [[binServe]]'s Hamming asc / nid asc rule. */
  def binMihServe(index: DataFrame, queries: DataFrame, k: Int,
                  dim: Int = 64, subs: Int = 8): DataFrame = {
    require(dim % subs == 0, s"subs $subs must divide dim $dim")
    val b = dim / subs
    require(32 % b == 0,
      s"sub-word width $b must pack whole 32-bit words (subs divides dim into 1/2/4/8/16/32-bit pieces)")
    // the same loud wrong-store guard binServe carries: a word count
    // <> dim/32 would otherwise null the zip_with fold (scoring every
    // candidate 0) or silently drop postings — raise instead
    val post = PartitionUtil.spread(index)
      .select(col("nid"),
        when(size(col("bw")) === dim / 32, col("bw"))
          .otherwise(raise_error(concat(
            lit(s"binMihServe: index word count <> ${dim / 32} for nid "),
            col("nid").cast("string")))).as("bw"))
      .select(col("nid"), col("bw"),
        posexplode(expr(mihSubsSql("bw", subs, b))).as(Seq("slot", "sub")))
    val q = queries
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("v"))
      .select(col("qid"), packGuarded(dim, "binMihServe", col("qid")).as("qw"))
      .select(col("qid"), col("qw"),
        posexplode(expr(mihSubsSql("qw", subs, b))).as(Seq("slot", "sub")))
    val sims = post.join(broadcast(q), Seq("slot", "sub"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("ham",
        expr("aggregate(zip_with(qw, bw, (x, y) -> bit_count(x ^ y)), 0, (a, b) -> a + b)"))
      .groupBy(col("qid"), col("nid")) // collapse multi-slot collisions
      .agg(min(col("ham")).as("ham"))
      .select(col("qid"), col("nid"), (-col("ham").cast("double")).as("sim"))
    topKPerKey(sims, "qid", k)
  }

  /** The sub-word extraction expression over a packed-words column:
    * sub-word j (ascending) = bits [j·b, (j+1)·b) of the code, read
    * from its 32-bit word by shift+mask — the ONE arithmetic the
    * oracle mirrors. */
  private def mihSubsSql(wordsCol: String, subs: Int, b: Int): String =
    s"""transform(sequence(0, ${subs - 1}), j ->
        shiftright(element_at($wordsCol, CAST((j * $b) div 32 AS INT) + 1),
          CAST((j * $b) % 32 AS INT)) & ${(1L << b) - 1}L)"""

  /** Static DuckDB oracle for [[binMihTopK]]: the same packing CTE,
    * the same shift+mask sub-word extraction, the same (slot, sub)
    * collision join and distinct-pair collapse, the same xor-popcount
    * fold and Hamming asc / nid asc ranking. */
  private[graft] def binMihOracleSql(queryCond: String, k: Int,
                                     dim: Int = 64, subs: Int = 8): String = {
    val m = dim / 32
    val b = dim / subs
    val mask = (1L << b) - 1
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${binPackCte(m)},
      posts AS (SELECT vec_id, w,
          CAST(j AS BIGINT) AS slot,
          (w[CAST((j * $b) // 32 AS INT) + 1] >> CAST((j * $b) % 32 AS INT)) & $mask AS sub
        FROM bw CROSS JOIN range(0, $subs) t(j)),
      qp AS (SELECT vec_id AS qid, w AS qw, slot, sub FROM posts WHERE $queryCond),
      cand AS (SELECT DISTINCT q.qid, p.vec_id AS nid FROM posts p
        JOIN qp q ON q.slot = p.slot AND q.sub = p.sub AND p.vec_id <> q.qid),
      ham AS (SELECT c.qid, c.nid,
          list_reduce(list_transform(range(1, ${m + 1}), t ->
            bit_count(xor(qb.w[t], nb.w[t]))), (x, y) -> x + y) AS hd
        FROM cand c
        JOIN bw qb ON qb.vec_id = c.qid
        JOIN bw nb ON nb.vec_id = c.nid)
      SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hd, nid) AS rnk
        FROM ham)
      WHERE rnk <= $k ORDER BY qid, rank"""
  }

  /** The sign-bit packing CTE (`bw` over a CTE `e` of (vec_id, v)) —
    * ONE SQL copy of [[binPackSql]]'s shift-or-add arithmetic. */
  private def binPackCte(m: Int): String =
    s"""bw AS (SELECT vec_id, list_transform(range(0, $m), w ->
        list_reduce(list_transform(range(0, 32), i ->
          CASE WHEN v[w * 32 + i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END),
          (x, y) -> x + y)) AS w FROM e)"""

  /** The binary packing + Hamming CTE block (bw/q/ham over a CTE `e`
    * of (vec_id, v)) — ONE copy of the shift-or-add packing and the
    * xor-popcount fold shared by the q173 and q174 oracles. */
  private def binHamCtes(m: Int, queryCond: String): String =
    s"""${binPackCte(m)},
      q AS (SELECT vec_id AS qid, w AS qw FROM bw WHERE $queryCond),
      ham AS (SELECT q.qid, b.vec_id AS nid,
          list_reduce(list_transform(range(1, ${m + 1}), t ->
            bit_count(xor(q.qw[t], b.w[t]))), (x, y) -> x + y) AS hd
        FROM bw b JOIN q ON b.vec_id <> q.qid)"""

  /** Static DuckDB oracle for [[binAsymTopK]]: the same packing CTE,
    * the zero-guarded query normalization, and the ±qv[d]-by-bit
    * ascending-d fold replayed token for token. */
  private[graft] def binAsymOracleSql(queryCond: String, k: Int,
                                      dim: Int = 64): String = {
    val fold = sqlFold(dim) _
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${binPackCte(dim / 32)},
      nq AS (SELECT vec_id AS qid, list_transform(v, x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS nv
        FROM (SELECT vec_id, v, sqrt(${fold("v[k] * v[k]")}) AS nrm FROM e WHERE $queryCond)),
      asym AS (SELECT q.qid, b.vec_id AS nid,
          list_reduce(list_transform(range(0, $dim), d ->
            CASE WHEN ((b.w[(d // 32) + 1] >> (d % 32)) & 1) = 1
            THEN q.nv[d + 1] ELSE -q.nv[d + 1] END), (x, y) -> x + y) AS sim
        FROM bw b JOIN nq q ON b.vec_id <> q.qid)
      SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM asym)
      WHERE rnk <= $k ORDER BY qid, rank"""
  }

  /** Static DuckDB oracle for [[binTopK]]: the identical sign
    * predicate, shift-or-add packing, and xor-popcount fold — all
    * exact integer arithmetic, so no Verify-time inlining is needed. */
  private[graft] def binTopKOracleSql(queryCond: String, k: Int,
                                      dim: Int = 64): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${binHamCtes(dim / 32, queryCond)}
      SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hd, nid) AS rnk
        FROM ham)
      WHERE rnk <= $k ORDER BY qid, rank"""

  /** Static DuckDB oracle for [[binRerankTopK]]: the q173 Hamming
    * shortlist feeds the q29-style zero-guarded normalized dot,
    * re-ranked sim desc / nid asc. */
  private[graft] def binRerankOracleSql(queryCond: String, k: Int,
                                        shortlist: Int = 32, dim: Int = 64): String = {
    val fold = sqlFold(dim) _
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${binHamCtes(dim / 32, queryCond)},
      cand AS (SELECT qid, nid FROM (
          SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hd, nid) AS rnk
          FROM ham) WHERE rnk <= $shortlist),
      nrmv AS (SELECT vec_id, list_transform(v, x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS nv
        FROM (SELECT vec_id, v, sqrt(${fold("v[k] * v[k]")}) AS nrm FROM e)),
      rer AS (SELECT c.qid, c.nid, ${fold("qn.nv[k] * nn.nv[k]")} AS sim
        FROM cand c
        JOIN nrmv qn ON qn.vec_id = c.qid
        JOIN nrmv nn ON nn.vec_id = c.nid)
      SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM rer)
      WHERE rnk <= $k ORDER BY qid, rank"""
  }

  def ivfPqTopK(embeddings: DataFrame, queryFilter: Column, k: Int,
                nClusters: Int = 8, nProbe: Int = 2, m: Int = 4,
                dim: Int = 64, codes: Int = 16, seed: Long = 42L,
                maxFitSample: Int = 65536, rerank: Int = 0): DataFrame = {
    val (centers, books) = ivfPqFit(embeddings, nClusters, m, dim, codes, seed, maxFitSample)
    ivfPqServe(ivfPqEncode(embeddings, centers, books, dim), centers, books,
      embeddings.filter(queryFilter), k, nProbe, dim, rerank,
      if (rerank > 0) Some(embeddings) else None)
  }

  /** The IVF-PQ serving INDEX: (nid, cluster, code) — coarse
    * assignment + the m-subspace residual PQ code (m·log₂(codes) bits
    * of payload per vector — the memory math that makes
    * billion-vector ANN fit a cluster), built in ONE corpus scan of
    * pure map work against broadcast centroids+codebooks. Persist
    * with plain `write.parquet` (q168 gates the round trip) and serve
    * with [[ivfPqServe]] without refitting; append new vectors with
    * the SAME frozen (centers, books) — the code depends only on
    * (v, centers, books), so incremental extension is exact
    * (asserted in PipelineSpec). */
  def ivfPqEncode(embeddings: DataFrame, centers: Array[Array[Double]],
                  books: Array[Array[Array[Double]]], dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    val bcC = spark.sparkContext.broadcast(centers)
    val bcB = spark.sparkContext.broadcast(books)
    val sub = dim / books.length
    // corpus pass: coarse-assign, residual-encode — pure map work
    val encodeUdf = udf { v: Array[Double] =>
      val cs = bcC.value; val bks = bcB.value
      val c = nearestCenter(cs, v)
      val cv = cs(c)
      val code = new Array[Long](bks.length)
      var j = 0
      while (j < bks.length) {
        val book = bks(j)
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < book.length) {
          val bv = book(ci)
          var d = 0.0; var kk = 0
          while (kk < sub) {
            val t = (v(j * sub + kk) - cv(j * sub + kk)) - bv(kk)
            d += t * t; kk += 1
          }
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        code(j) = best.toLong
        j += 1
      }
      (c, code.toSeq)
    }
    PartitionUtil.spread(embeddings)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id").as("nid"), encodeUdf(col("v")).as("e"))
      .select(col("nid"), col("e._1").as("cluster"), col("e._2").as("code"))
  }

  /** Serve top-k from a (nid, cluster, code) index built by
    * [[ivfPqEncode]] — fresh or reloaded from parquet: each query
    * probes `nProbe` inverted lists with one exact residual per
    * probed list, candidates score by asymmetric distance (exact
    * query residual vs code reconstruction, summed j-ascending — the
    * oracle replays the same order) through the cluster equi-join
    * with the probe table broadcast. `rerank > 0` adds the exact
    * refine stage and needs `exactCorpus` (the raw embeddings) for
    * the shortlist's true vectors. Shared code path with
    * [[ivfPqTopK]], so serving from a persisted index is
    * bit-identical to serving fresh by construction. */
  def ivfPqServe(index: DataFrame, centers: Array[Array[Double]],
                 books: Array[Array[Array[Double]]], queries: DataFrame,
                 k: Int, nProbe: Int = 2, dim: Int = 64, rerank: Int = 0,
                 exactCorpus: Option[DataFrame] = None): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val bcB = spark.sparkContext.broadcast(books)
    val sub = dim / books.length
    // query side: nProbe nearest lists, one residual per probed list —
    // probes assigned driver-side ([[collectProbes]]), residuals the
    // same per-element subtraction as ever (no fold, order-free)
    val probeRows = collectProbes(queries, centers, nProbe)
      .map { case (qid, c, v) =>
        (qid, c, Array.tabulate(dim)(kk => v(kk) - centers(c)(kk)).toSeq) }
    val probes = probeRows.toIndexedSeq.toDF("qid", "cluster", "qres")
    val adcUdf = udf { (qres: Seq[Double], code: Seq[Long]) =>
      val bks = bcB.value
      var tot = 0.0
      var j = 0
      while (j < bks.length) {
        val bv = bks(j)(code(j).toInt)
        var d = 0.0; var kk = 0
        while (kk < sub) { val t = qres(j * sub + kk) - bv(kk); d += t * t; kk += 1 }
        tot += d
        j += 1
      }
      tot
    }
    val sims = pruneToProbed(index, probeRows.map(_._2).toSeq)
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim", -adcUdf(col("qres"), col("code"))) // negate: top-k keeps LARGEST
      .select(col("qid"), col("nid"), col("sim"))
    if (rerank <= 0) topKPerKey(sims, "qid", k)
    else {
      // exact re-rank stage (the FAISS "refine" pattern — the knob that
      // recovers recall lost to 2-byte quantization): take a shortlist
      // of `rerank` ≥ k candidates per query by ADC, then re-score ONLY
      // those with the exact cosine and keep the true top k. Scale
      // shape: the shortlist is |Q|·rerank rows — KB-sized — so it
      // broadcasts; the exact vectors come from one more corpus scan
      // through a broadcast hash join (no shuffle of the corpus), and
      // the final ranking runs over ≤ rerank rows per query.
      val corpus = exactCorpus.getOrElse(throw new IllegalArgumentException(
        "rerank > 0 needs exactCorpus (raw embeddings) for the refine stage"))
      val shortlist = topKPerKey(sims, "qid", math.max(rerank, k))
        .select(col("qid"), col("nid"))
      val nvecs = PartitionUtil.spread(corpus)
        .select(col("vec_id").as("nid"),
          normalizeUdf(asDouble(col("embedding"))).as("nv"))
      val qvecs = queries.select(col("vec_id").as("qid"),
        normalizeUdf(asDouble(col("embedding"))).as("qv"))
      val exact = nvecs.join(broadcast(shortlist), Seq("nid"))
        .join(broadcast(qvecs), Seq("qid"))
        .withColumn("sim", nativeDot(spark)(col("qv"), col("nv")))
        .select(col("qid"), col("nid"), col("sim"))
      topKPerKey(exact, "qid", k)
    }
  }

  /** GATE-CHECKED retrieval-quality audit (q152): per query, how many
    * of the exact top-k the IVF and LSH indexes each recovered —
    * recall@k numerators as plain BIGINTs, next to the k denominator
    * every row shares. This puts measured QUALITY inside the hash
    * gate: q46/q54 prove the indexes are deterministic, this row
    * proves the oracle agrees on how many of the TRUE neighbors they
    * find (the DuckDB side replays brute force, IVF and LSH
    * independently and intersects). The continuous recall curve per
    * knob lives in docs/SCALE.md (ScaleProbe `ann_recall`).
    *
    * Scale shape: three broadcast-query corpus scans (one per
    * retrieval method — each already individually bounded) followed
    * by joins over |Q|·k-row rank relations. */
  def annRecallAudit(embeddings: DataFrame, queryFilter: Column, k: Int,
                     nClusters: Int = 16, nProbe: Int = 4,
                     numPlanes: Int = 8, seed: Long = 42L,
                     anchorFraction: Double = 1.0,
                     anchorSeed: Long = 7L): DataFrame = {
    // anchorFraction < 1: audit only a deterministic content-hash
    // sample of the queries ([[Dedup.anchorPred]] on qid) — the truth
    // cost drops from |Q|·N to s·|Q|·N while staying exact per anchor,
    // and the estimate is unbiased (anchor membership is independent
    // of hit status). The 100 TB audit shape; oracle replays the same
    // sample via the same md5-prefix predicate.
    Dedup.validateAnchorFraction(anchorFraction)
    val qf = if (anchorFraction < 1.0)
      queryFilter && Dedup.anchorPred(col("vec_id"), anchorSeed, anchorFraction)
    else queryFilter
    val truth = bruteForceTopK(embeddings, qf, k)
    val ivf = ivfTopK(embeddings, qf, k, nClusters, nProbe, seed)
    val lsh = lshTopK(embeddings, qf, k, numPlanes, seed = seed)
    val im = ivf.select(col("qid"), col("nid"), lit(1L).as("im"))
    val lm = lsh.select(col("qid"), col("nid"), lit(1L).as("lm"))
    truth.select(col("qid"), col("nid"))
      .join(broadcast(im), Seq("qid", "nid"), "left")
      .join(broadcast(lm), Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("im"), lit(0L))).as("ivf_hits"),
           sum(coalesce(col("lm"), lit(0L))).as("lsh_hits"),
           count(lit(1)).as("k_total"))
      .orderBy(col("qid"))
  }

  /** DuckDB oracle for [[annRecallAudit]]: replays brute force (the
    * q29 normalized-dot folds), IVF (inlined centroids) and LSH
    * (inlined planes) independently, then intersects each against the
    * exact top-k — the full quality measurement recomputed from
    * scratch in another engine. */
  private[graft] def annRecallAuditOracleSql(centers: Array[Array[Double]],
      queryCond: String, k: Int, nProbe: Int = 4,
      numPlanes: Int = 8, dim: Int = 64, seed: Long = 42L): String = {
    def fold(prod: String) =
      s"list_reduce(list_transform(range(1, ${dim + 1}), k -> $prod), (x, y) -> x + y)"
    s"""WITH ivfr AS (${ivfTopKOracleSql(centers, queryCond, k, nProbe, dim)}),
    lshr AS (${lshTopKOracleSql(queryCond, k, numPlanes, dim, seed)}),
    e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    nv2 AS (SELECT vec_id, list_transform(v, x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS nv
      FROM (SELECT vec_id, v, sqrt(${fold("v[k] * v[k]")}) AS nrm FROM e2)),
    q2 AS (SELECT vec_id AS qid, nv AS qnv FROM nv2 WHERE $queryCond),
    tsims AS (SELECT q2.qid, b.vec_id AS nid, ${fold("q2.qnv[k] * b.nv[k]")} AS sim
      FROM q2 JOIN nv2 b ON b.vec_id <> q2.qid),
    truth AS (SELECT qid, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM tsims) WHERE rnk <= $k)
    SELECT t.qid,
      CAST(SUM(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ivf_hits,
      CAST(SUM(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lsh_hits,
      CAST(COUNT(*) AS BIGINT) AS k_total
    FROM truth t
    LEFT JOIN ivfr i ON i.qid = t.qid AND i.nid = t.nid
    LEFT JOIN lshr l ON l.qid = t.qid AND l.nid = t.nid
    GROUP BY t.qid ORDER BY t.qid"""
  }

  /** GATE-CHECKED production-recipe retrieval-quality audit (q155):
    * the [[annRecallAudit]] measurement re-run at the knob settings a
    * deployment would actually use (docs/SCALE.md §ANN recall@10 —
    * IVF nProbe=16 → 1.000, LSH 4 planes × 32 tables → 0.993, IVF-PQ
    * m=16 rerank=200 → 0.948 on sf0.1), not the cheap gate defaults
    * q152 pins (LSH 0.021, IVF-PQ 0.097). Per query: how many of the
    * exact top-k each production index recovers, as BIGINTs — so the
    * DEPLOYABLE config is hash-pinned for determinism AND its recall
    * floor is spec-asserted (PipelineSpec: ≥ 0.9·k·|Q| per family).
    *
    * Scale shape: four broadcast-query corpus scans (truth + three
    * indexes, each individually bounded — the multi-table LSH computes
    * all 32 buckets in its ONE scan, the PQ rerank adds one
    * broadcast-join lookup) feeding joins over |Q|·k-row relations. */
  def annRecallAuditProd(embeddings: DataFrame, queryFilter: Column, k: Int,
                         nClusters: Int = 16, ivfProbe: Int = 16,
                         lshPlanes: Int = 4, lshTables: Int = 32,
                         pqClusters: Int = 8, pqProbe: Int = 8,
                         pqM: Int = 16, pqCodes: Int = 16, pqRerank: Int = 200,
                         dim: Int = 64, seed: Long = 42L,
                         anchorFraction: Double = 1.0,
                         anchorSeed: Long = 7L): DataFrame = {
    // same anchor-sampling law as [[annRecallAudit]]: truth cost
    // scales with the sampled query set, per-anchor rows stay exact
    Dedup.validateAnchorFraction(anchorFraction)
    val qf = if (anchorFraction < 1.0)
      queryFilter && Dedup.anchorPred(col("vec_id"), anchorSeed, anchorFraction)
    else queryFilter
    val truth = bruteForceTopK(embeddings, qf, k)
    val ivf = ivfTopK(embeddings, qf, k, nClusters, ivfProbe, seed)
    val lsh = lshTopK(embeddings, qf, k, lshPlanes, dim, seed, lshTables)
    val pq = ivfPqTopK(embeddings, qf, k, pqClusters, pqProbe, pqM,
      dim, pqCodes, seed, rerank = pqRerank)
    val im = ivf.select(col("qid"), col("nid"), lit(1L).as("im"))
    val lm = lsh.select(col("qid"), col("nid"), lit(1L).as("lm"))
    val pm = pq.select(col("qid"), col("nid"), lit(1L).as("pm"))
    truth.select(col("qid"), col("nid"))
      .join(broadcast(im), Seq("qid", "nid"), "left")
      .join(broadcast(lm), Seq("qid", "nid"), "left")
      .join(broadcast(pm), Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("im"), lit(0L))).as("ivf_hits"),
           sum(coalesce(col("lm"), lit(0L))).as("lsh_hits"),
           sum(coalesce(col("pm"), lit(0L))).as("pq_hits"),
           count(lit(1)).as("k_total"))
      .orderBy(col("qid"))
  }

  /** DuckDB oracle for [[annRecallAuditProd]]: brute force, IVF at the
    * production probe count, the 32-table OR-amplified LSH and the
    * rerank-refined IVF-PQ all replayed from scratch (fitted centroids
    * and codebooks inlined), then each intersected with the exact
    * top-k — the full production-recipe quality measurement recomputed
    * in another engine. */
  private[graft] def annRecallAuditProdOracleSql(
      ivfCenters: Array[Array[Double]],
      pqCenters: Array[Array[Double]], pqBooks: Array[Array[Array[Double]]],
      queryCond: String, k: Int,
      ivfProbe: Int = 16, lshPlanes: Int = 4, lshTables: Int = 32,
      pqProbe: Int = 8, pqRerank: Int = 200,
      dim: Int = 64, seed: Long = 42L): String = {
    def fold(prod: String) =
      s"list_reduce(list_transform(range(1, ${dim + 1}), k -> $prod), (x, y) -> x + y)"
    s"""WITH ivfr AS (${ivfTopKOracleSql(ivfCenters, queryCond, k, ivfProbe, dim)}),
    lshr AS (${lshTopKMultiOracleSql(queryCond, k, lshPlanes, dim, seed, lshTables)}),
    pqr AS (${ivfPqTopKOracleSql(pqCenters, pqBooks, queryCond, k, pqProbe, dim, pqRerank)}),
    e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    nv2 AS (SELECT vec_id, list_transform(v, x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS nv
      FROM (SELECT vec_id, v, sqrt(${fold("v[k] * v[k]")}) AS nrm FROM e2)),
    q2 AS (SELECT vec_id AS qid, nv AS qnv FROM nv2 WHERE $queryCond),
    tsims AS (SELECT q2.qid, b.vec_id AS nid, ${fold("q2.qnv[k] * b.nv[k]")} AS sim
      FROM q2 JOIN nv2 b ON b.vec_id <> q2.qid),
    truth AS (SELECT qid, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        FROM tsims) WHERE rnk <= $k)
    SELECT t.qid,
      CAST(SUM(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ivf_hits,
      CAST(SUM(CASE WHEN l.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lsh_hits,
      CAST(SUM(CASE WHEN p.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS pq_hits,
      CAST(COUNT(*) AS BIGINT) AS k_total
    FROM truth t
    LEFT JOIN ivfr i ON i.qid = t.qid AND i.nid = t.nid
    LEFT JOIN lshr l ON l.qid = t.qid AND l.nid = t.nid
    LEFT JOIN pqr p ON p.qid = t.qid AND p.nid = t.nid
    GROUP BY t.qid ORDER BY t.qid"""
  }

  /** recall@k of an approximate ANN result against exact ground truth
    * — both in the (qid, rank, nid) shape every retrieval operator
    * here emits. recall = |approx ∩ truth| / |truth| over (qid, nid)
    * pairs; with both sides cut at the same k this is the standard
    * recall@k. The intersection is a broadcast semi join on two
    * |Q|·k-row relations — the corpus is never touched. */
  def recallAtK(truth: DataFrame, approx: DataFrame): Double = {
    val t = truth.select(col("qid"), col("nid"))
    val hits = t.join(broadcast(approx.select(col("qid"), col("nid"))),
      Seq("qid", "nid"), "left_semi").count()
    val total = t.count()
    require(total > 0, "recallAtK: empty ground truth")
    hits.toDouble / total
  }

  /** Both IVF-PQ fits from ONE content-hash sample (lowest
    * md5("ivfpq-fit-seed", vec_id) rows, collected once): the coarse
    * centroids via the seeded driver-side Lloyd, then each sample's
    * residual from its assigned centroid sliced per subspace for the
    * m residual-codebook Lloyd runs (seed offset per subspace). One
    * corpus-scale TakeOrdered pass pays for both fits — shared with
    * the oracle builder so centroids AND codebooks match it
    * bit-for-bit. */
  private[graft] def ivfPqFit(embeddings: DataFrame, nClusters: Int,
                              m: Int, dim: Int, codes: Int, seed: Long,
                              maxFitSample: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sub = dim / m
    val fit = PartitionUtil.spread(embeddings)
      .select(asDouble(col("embedding")).as("v"),
        md5(concat_ws("-", lit(s"ivfpq-fit-$seed"), col("vec_id"))).as("fk"))
      .orderBy(col("fk"))
      .limit(maxFitSample)
      .select(col("v")).as[Array[Double]].collect()
    val centers = lloydKMeans(fit, nClusters, iters = 10, seed = seed)
    val residuals = fit.map { v =>
      val cv = centers(nearestCenter(centers, v))
      Array.tabulate(dim)(kk => v(kk) - cv(kk))
    }
    val books = Array.tabulate(m) { j =>
      val pts = residuals.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      lloydKMeans(pts, codes, iters = 10, seed = seed + 1000 + j)
    }
    (centers, books)
  }

  /** DuckDB oracle for [[ivfPqTopK]]: coarse centroids AND residual
    * codebooks inlined as literals (both fits rerun at oracle-build
    * time — the q46/q114b pattern composed); assignment, probe
    * selection, residual encode, and the j-ascending ADC sum all
    * replay the impl's sequential folds; ranking is (distance ASC,
    * nid), the mirror of the negated-sim top-k. `rerank > 0` replays
    * the exact-refine stage: the ADC shortlist cut at the same
    * (dist ASC, nid) order the TopKAggregator uses, then the true
    * normalized-dot re-score with the zero-guarded normalize fold. */
  private[graft] def ivfPqTopKOracleSql(centers: Array[Array[Double]],
                                        books: Array[Array[Array[Double]]],
                                        queryCond: String, k: Int,
                                        nProbe: Int = 2, dim: Int = 64,
                                        rerank: Int = 0): String = {
    val m = books.length
    val sub = dim / m
    def fold(prod: String, n: Int) =
      s"list_reduce(list_transform(range(1, ${n + 1}), k -> $prod), (x, y) -> x + y)"
    val centRows = centers.zipWithIndex.map { case (c, i) =>
      s"($i, ${dlitArr(c)})"
    }.mkString(",\n      ")
    val bookRows = (for { j <- books.indices; c <- books(j).indices } yield
      s"($j, $c, ${dlitArr(books(j)(c))})").mkString(",\n      ")
    val adcSum = (0 until m).map(j => s"MAX(CASE WHEN j = $j THEN d END)").mkString(" + ")
    val finalSelect = ivfPqFinalSelect(k, dim, rerank)
    s"""WITH cent AS (SELECT * FROM (VALUES $centRows) t(cid, cv)),
    cb AS (SELECT * FROM (VALUES $bookRows) t(j, code, bv)),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cd AS (SELECT vec_id, cid, ${fold("(v[k] - cv[k]) * (v[k] - cv[k])", dim)} AS dist
      FROM e CROSS JOIN cent),
    asg AS (SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM cd) WHERE rn = 1),
    res AS (SELECT e.vec_id, a.cluster,
        list_transform(range(1, ${dim + 1}), k -> e.v[k] - c.cv[k]) AS rv
      FROM e JOIN asg a ON a.vec_id = e.vec_id JOIN cent c ON c.cid = a.cluster),
    encd AS (SELECT vec_id, cluster, j, code FROM (
        SELECT r.vec_id, r.cluster, cb.j, cb.code,
          ROW_NUMBER() OVER (PARTITION BY r.vec_id, cb.j ORDER BY
            ${fold(s"(rv[cb.j * $sub + k] - bv[k]) * (rv[cb.j * $sub + k] - bv[k])", sub)}, cb.code) AS rn
        FROM res r CROSS JOIN cb) WHERE rn = 1),
    probes AS (SELECT vec_id AS qid, cid AS cluster FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM cd WHERE $queryCond) WHERE rn <= $nProbe),
    qres AS (SELECT p.qid, p.cluster,
        list_transform(range(1, ${dim + 1}), k -> e.v[k] - c.cv[k]) AS qv
      FROM probes p JOIN e ON e.vec_id = p.qid JOIN cent c ON c.cid = p.cluster),
    terms AS (SELECT q.qid, a.vec_id AS nid, en.j,
        ${fold(s"(q.qv[en.j * $sub + k] - bv.bv[k]) * (q.qv[en.j * $sub + k] - bv.bv[k])", sub)} AS d
      FROM qres q
      JOIN asg a ON a.cluster = q.cluster
      JOIN encd en ON en.vec_id = a.vec_id
      JOIN cb bv ON bv.j = en.j AND bv.code = en.code
      WHERE a.vec_id <> q.qid),
    dists AS (SELECT qid, nid, ($adcSum) AS dist FROM terms GROUP BY qid, nid)
    $finalSelect"""
  }

  /** The final SELECT of [[ivfPqTopKOracleSql]]: plain ADC ranking, or
    * the rerank refine when the knob is set (shortlist by ADC at the
    * impl's (dist ASC, nid) order, exact normalized-dot re-score). */
  private def ivfPqFinalSelect(k: Int, dim: Int, rerank: Int): String = {
    def fold(prod: String, n: Int) =
      s"list_reduce(list_transform(range(1, ${n + 1}), k -> $prod), (x, y) -> x + y)"
    if (rerank <= 0)
      s"""SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
      SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS rnk
      FROM dists)
    WHERE rnk <= $k ORDER BY qid, rank"""
    else {
      val short = math.max(rerank, k)
      s""", short AS (SELECT qid, nid FROM (
        SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, nid) AS rnk
        FROM dists) WHERE rnk <= $short),
    nvx AS (SELECT vec_id, list_transform(v, x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS nv
      FROM (SELECT vec_id, v, sqrt(${fold("v[k] * v[k]", dim)}) AS nrm FROM e)),
    ex AS (SELECT s.qid, s.nid, ${fold("q.nv[k] * b2.nv[k]", dim)} AS sim
      FROM short s JOIN nvx q ON q.vec_id = s.qid JOIN nvx b2 ON b2.vec_id = s.nid)
    SELECT qid, CAST(rnk AS BIGINT) AS rank, nid FROM (
      SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
      FROM ex)
    WHERE rnk <= $k ORDER BY qid, rank"""
    }
  }

  private[graft] def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var j = 0
    val n = math.min(a.length, b.length)
    while (j < n) { val t = a(j) - b(j); d += t * t; j += 1 }
    d
  }

  private[graft] def nearestCenter(centers: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue; var i = 0
    while (i < centers.length) {
      val d = sqDist(centers(i), v)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** The nProbe nearest centroids by (sqDist, index) — the ONE probe
    * selector every IVF variant shares (ivfTopK / ivfPqTopK /
    * ivfSq8TopK); the tie-break must stay bit-identical to the
    * oracles' `ROW_NUMBER ... ORDER BY dist, cid`, so it lives in one
    * place. */
  private[graft] def nearestClusters(centers: Array[Array[Double]],
                                     v: Array[Double], nProbe: Int): Seq[Int] =
    centers.zipWithIndex.map { case (c, i) => (sqDist(c, v), i) }
      .sortBy(x => (x._1, x._2)).take(nProbe).map(_._2).toSeq

  /** Plain seeded Lloyd's k-means on a driver-side sample — all the
    * IVF coarse quantizer needs (deterministic: splitmix64 picks the
    * initial centers, ties break by index). Returns ≤ k centroids. */
  private[graft] def lloydKMeans(points: Array[Array[Double]], k: Int,
                                 iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs at least one point")
    val dim = points.head.length
    var state = seed
    def next(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val init = scala.collection.mutable.LinkedHashSet.empty[Int]
    val target = math.min(k, points.length)
    while (init.size < target) init += ((next() >>> 1) % points.length).toInt
    var centers = init.toArray.map(points(_).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val counts = new Array[Long](centers.length)
      points.foreach { p =>
        val c = nearestCenter(centers, p)
        var j = 0
        while (j < dim) { sums(c)(j) += p(j); j += 1 }
        counts(c) += 1
      }
      centers = Array.tabulate(centers.length) { i =>
        if (counts(i) > 0) sums(i).map(_ / counts(i)) else centers(i)
      }
      it += 1
    }
    centers
  }

  /** Quantized Gram / second-moment matrix Σ v·vᵀ (upper triangle) as
    * (i, j, s) rows — the covariance / PCA-whitening / drift-check
    * building block. ONE typed aggregation with a d(d+1)/2 buffer
    * combined map-side ([[graft.functions.GramAggregator]]): shuffle
    * volume is O(partitions·d²) regardless of corpus size — the naive
    * posexplode² + groupBy formulation shuffles N·d² triples. Products
    * quantize to the 1e-4 grid before the exact integer sum, so the
    * result is bit-identical under any partitioning or engine. */
  def gramMatrix(embeddings: DataFrame, d: Int = 64): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val spark = embeddings.sparkSession
    val gram = udaf(new graft.functions.GramAggregator(d), ExpressionEncoder[Seq[Float]]())
    // flat upper-triangle index -> (i, j): a d(d+1)/2-row broadcast map
    // in the same (i, then j >= i) order the aggregator's buffer uses
    val idx = spark.createDataFrame(
      (for { i <- 0 until d; j <- i until d } yield (i.toLong, j.toLong))
        .zipWithIndex.map { case ((i, j), k) => (k, i, j) })
      .toDF("pos", "i", "j")
    PartitionUtil.spread(embeddings)
      .agg(gram(col("embedding")).as("g"))
      .select(posexplode(col("g")).as(Seq("pos", "s")))
      .join(broadcast(idx), Seq("pos"))
      .select(col("i"), col("j"), col("s"))
      .orderBy(col("i"), col("j"))
  }

  /** PCA whitening on top of [[gramMatrix]]: covariance from the
    * quantized second moment + quantized mean (both exact integer
    * aggregations, so the fitted transform is bit-deterministic under
    * any partitioning), eigendecomposed ON THE DRIVER (a d×d
    * symmetric problem — 64×64 here — is microscopic; distributing it
    * would be pure overhead), and applied corpus-wide as a broadcast
    * W·(v−μ) projection. The corpus is scanned twice (moments, then
    * projection) — the minimum for any fit-then-transform — and the
    * projection is a pure per-row map: no shuffle at all.
    *
    * `eps` regularizes small eigenvalues (λ ← λ + eps) so the inverse
    * square root is stable when the corpus is rank-deficient. */
  def pcaWhiten(embeddings: DataFrame, d: Int = 64, eps: Double = 1e-6): DataFrame = {
    val spark = embeddings.sparkSession
    val base = PartitionUtil.spread(embeddings)
      .select(col("vec_id"), col("embedding"), asDouble(col("embedding")).as("v"))
    val (meanQ, w) = pcaFitParams(embeddings, d, eps)
    val bcW = spark.sparkContext.broadcast(w)
    val bcMean = spark.sparkContext.broadcast(meanQ)

    val whiten = udf { v: Seq[Double] =>
      val mu = bcMean.value; val m = bcW.value
      val centered = Array.tabulate(v.length)(k => v(k) - mu(k))
      Array.tabulate(m.length) { r =>
        var acc = 0.0; var k = 0
        while (k < centered.length) { acc += m(r)(k) * centered(k); k += 1 }
        acc
      }
    }
    base.select(col("vec_id"), whiten(col("v")).as("whitened"))
      .orderBy(col("vec_id"))
  }

  /** The PCA-whitening fit (μ, W), shared between [[pcaWhiten]] and its
    * oracle builder so both see identical parameters: quantized second
    * moment + quantized mean (both exact integer aggregations, so the
    * fit is bit-deterministic under any partitioning), then a
    * driver-side Jacobi eigendecomposition of the d×d covariance. */
  private[graft] def pcaFitParams(embeddings: DataFrame, d: Int = 64,
                                  eps: Double = 1e-6): (Array[Double], Array[Array[Double]]) = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val base = PartitionUtil.spread(embeddings).select(col("embedding"))

    // scan 1: second moment, first moment, and count in ONE
    // aggregation (two udafs side by side — Spark evaluates both over
    // the same pass; the result is a single bounded row)
    val gramU = udaf(new graft.functions.GramAggregator(d), ExpressionEncoder[Seq[Float]]())
    val momU = udaf(new graft.functions.VecMomentAggregator(d), ExpressionEncoder[Seq[Float]]())
    val row = base.agg(gramU(col("embedding")).as("g"), momU(col("embedding")).as("m")).head()
    val g = row.getSeq[Long](0)
    val m = row.getSeq[Long](1)
    val n = m(d).toDouble
    val meanQ = Array.tabulate(d)(k => m(k) / 10000.0 / n)

    // covariance C = E[vvT] - mu muT from the quantized moments (g is
    // the flat upper triangle in the aggregator's (i, j >= i) order)
    val c = Array.ofDim[Double](d, d)
    var idx = 0
    var gi = 0
    while (gi < d) {
      var gj = gi
      while (gj < d) {
        val e = g(idx) / 10000.0 / n - meanQ(gi) * meanQ(gj)
        c(gi)(gj) = e; c(gj)(gi) = e
        idx += 1; gj += 1
      }
      gi += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(c)
    // W = diag(1/sqrt(lambda + eps)) * V^T: row r = eigenvector r
    // scaled by its inverse-sqrt eigenvalue
    val w = Array.tabulate(d, d) { (r, k) =>
      eigVecs(r)(k) / math.sqrt(eigVals(r) + eps)
    }
    (meanQ, w)
  }

  /** DuckDB oracle for the q93 gate shape of [[pcaWhiten]] (the
    * posexploded (vec_id, i, x) rows with x floored to the 1e-4 grid):
    * μ and the 64 rows of W are inlined as full-precision double
    * literals — both engines round-trip shortest-repr strings to the
    * identical binary doubles — and the projection replays the whiten
    * UDF's exact arithmetic: w_r[k]·(v[k]−μ[k]) accumulated in a
    * k-ascending left fold. Inputs being bit-identical, the grid floor
    * lands every cell on the same value. */
  private[graft] def pcaWhitenOracleSql(mu: Array[Double], w: Array[Array[Double]],
                                        dim: Int = 64): String = {
    val wRows = w.zipWithIndex.map { case (row, r) =>
      s"($r, ${dlitArr(row)})"
    }.mkString(",\n      ")
    val muLit = dlitArr(mu)
    s"""WITH wt AS (SELECT * FROM (VALUES $wRows) t(r, wr)),
    m AS (SELECT $muLit AS mu),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    comp AS (SELECT vec_id, r,
        list_reduce(list_transform(range(1, ${dim + 1}), k -> wr[k] * (v[k] - mu[k])),
          (x, y) -> x + y) AS x
      FROM e CROSS JOIN m CROSS JOIN wt)
    SELECT vec_id, CAST(r AS BIGINT) AS i, FLOOR(x * 10000.0) / 10000.0 AS x
    FROM comp ORDER BY vec_id, i"""
  }

  /** Per-dimension embedding drift between two corpus slices (the
    * monitoring face of the moments machinery): quantized per-dim
    * means for the reference and candidate slices and their absolute
    * difference — the signal that catches an embedding-model change,
    * a re-normalization bug, or a corpus composition shift before it
    * poisons dedup thresholds downstream.
    *
    * Scale shape: one explode + ONE map-side-combining hash
    * aggregation with conditional sums — a single shuffle of d rows
    * per partition, output d rows. Means quantize on the 1e-4 grid
    * (exact integer sums), so both slices' means — and the drift —
    * are bit-identical across engines and partitionings. */
  def embeddingDrift(embeddings: DataFrame, refFilter: Column, d: Int = 64): DataFrame = {
    val q = floor(col("x") * 10000.0).cast("long")
    PartitionUtil.spread(embeddings)
      .select(refFilter.as("is_ref"), posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(
        sum(when(col("is_ref"), q).otherwise(0L)).as("s_ref"),
        count(when(col("is_ref"), 1)).as("n_ref"),
        sum(when(!col("is_ref"), q).otherwise(0L)).as("s_new"),
        count(when(!col("is_ref"), 1)).as("n_new"))
      .select(col("i").cast("long").as("i"),
        (col("s_ref").cast("double") / 10000.0 / col("n_ref")).as("mean_ref"),
        (col("s_new").cast("double") / 10000.0 / col("n_new")).as("mean_new"))
      .withColumn("drift", abs(col("mean_ref") - col("mean_new")))
      .orderBy(col("i"))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (public
    * textbook algorithm — Golub & Van Loan §8.5): returns
    * (eigenvalues, eigenvectors as rows of V^T... here V's columns as
    * `vecs(col)(row)`), deterministic sweep order. Driver-side only —
    * O(d³) per sweep on a d×d matrix. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
                                 sweeps: Int = 32): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-18) {
            off = math.max(off, math.abs(a(p)(q)))
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val cos = 1.0 / math.sqrt(t * t + 1.0)
            val sin = t * cos
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = cos * akp - sin * akq
              a(k)(q) = sin * akp + cos * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = cos * apk - sin * aqk
              a(q)(k) = sin * apk + cos * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = cos * vkp - sin * vkq
              v(k)(q) = sin * vkp + cos * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), Array.tabulate(d, d)((col, row) => v(row)(col)))
  }

  /** Fully-DISTRIBUTED Lloyd k-means over the whole corpus — the
    * scale-out counterpart of the driver-side sample fit used by IVF
    * (`ivfFitCenters`): here no sample cap exists because every step
    * is a DataFrame op — assignment is one broadcast-centroid join +
    * aggregation per iteration, the update one more aggregation —
    * exactly MLlib's plan shape, but in engine-exact arithmetic.
    *
    * Determinism: components land on the 1e-4 grid as BIGINTs, so
    * squared distances are exact integers (summation-order-free);
    * argmin ties break to the lowest centroid id; centroid updates are
    * floor(Σg / n) — an exact-integer double division under 2⁵³, so
    * floor is engine-exact. Seeds are the vectors with `vec_id < k`
    * — this ASSUMES 0-based contiguous vec_ids (the corpus contract
    * here); offset or sparse ids would yield fewer seeds, so the
    * seed count is asserted non-zero up front. Clusters that empty
    * out drop from the centroid set (and can never win an argmin
    * again) — the same contract on both engines.
    *
    * Scale shape: the grid explode is d× rows but shuffles only
    * (vec, dim, BIGINT) triples; per iteration, the assignment join
    * broadcasts k·d centroid rows against one corpus scan and both
    * aggregations are map-side combined. State between iterations is
    * the k·d centroid relation (localCheckpointed — microscopic). */
  def distributedKMeans(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"distributedKMeans: iters must be >= 1, got $iters")
    require(k >= 1, s"distributedKMeans: k must be >= 1, got $k")
    val gdim0 = PartitionUtil.materialize(
      PartitionUtil.spread(embeddings)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
        .select(col("vec_id"), col("d").cast("long").as("d"),
          floor(col("x").cast("double") * lit(10000.0)).cast("long").as("g")))
    // size the per-iteration jobs to the data (the pagerank pattern),
    // but CPU-denser than the edge relation: the assignment join
    // multiplies each grid triple by k, so ~250k triples per partition
    // keeps cores busy at 10× while a tiny corpus still runs 1 task
    val rows = gdim0.count()
    val parts = math.max(1L,
      math.min(gdim0.rdd.getNumPartitions.toLong, rows / 250000L + 1L)).toInt
    val gdim = gdim0.coalesce(parts)
    var cent = PartitionUtil.materialize(
      gdim.filter(col("vec_id") < k)
        .select(col("vec_id").as("j"), col("d"), col("g").as("c")))
    require(!cent.isEmpty,
      s"distributedKMeans: no seeds with vec_id < $k — ids must be 0-based contiguous")
    var assign: DataFrame = null
    for (_ <- 1 to iters) {
      val dd = gdim.join(broadcast(cent), Seq("d"))
        .groupBy(col("vec_id"), col("j"))
        .agg(sum((col("g") - col("c")) * (col("g") - col("c"))).as("dd"))
      assign = dd.groupBy(col("vec_id"))
        .agg(min(struct(col("dd"), col("j"))).as("m"))
        .select(col("vec_id"), col("m.j").as("cluster"))
      cent = PartitionUtil.materialize(
        gdim.join(assign, Seq("vec_id"))
          .groupBy(col("cluster"), col("d"))
          .agg(floor(sum(col("g")).cast("double") / count(lit(1))).cast("long").as("c"))
          .select(col("cluster").as("j"), col("d"), col("c")))
    }
    // the total sort exists ONLY for gate hash stability (every gate
    // query ends in total ORDER BY); a production pipeline would
    // consume the unsorted assignment — don't copy the orderBy into a
    // hot path
    assign.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[distributedKMeans]]: the same grid /
    * seed / argmin / floor-mean recurrence unrolled to `iters`
    * assignment+update CTE pairs (argmin as ROW_NUMBER over (dd, j) —
    * the independent spelling of the struct-min). */
  private[graft] def distributedKMeansOracleSql(k: Int = 8, iters: Int = 3,
                                                dim: Int = 64): String = {
    val head =
      s"""WITH g0 AS (SELECT vec_id, unnest(range(1, ${dim + 1})) AS d, embedding AS e
         |  FROM embeddings),
         |g AS (SELECT vec_id, CAST(d - 1 AS BIGINT) AS d,
         |    CAST(FLOOR(e[CAST(d AS INT)] * 10000.0) AS BIGINT) AS gg FROM g0),
         |c0 AS (SELECT vec_id AS j, d, gg AS c FROM g WHERE vec_id < $k)""".stripMargin
    val iterCtes = (1 to iters).map { t =>
      s"""d$t AS (SELECT g.vec_id, c.j,
         |    SUM((g.gg - c.c) * (g.gg - c.c)) AS dd
         |  FROM g JOIN c${t - 1} c ON c.d = g.d GROUP BY 1, 2),
         |a$t AS (SELECT vec_id, j AS cluster FROM (
         |    SELECT vec_id, j, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, j) AS rn
         |    FROM d$t) WHERE rn = 1),
         |c$t AS (SELECT a.cluster AS j, g.d,
         |    CAST(FLOOR(CAST(SUM(g.gg) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
         |  FROM g JOIN a$t a ON a.vec_id = g.vec_id GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + iterCtes +
      s"\nSELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a$iters ORDER BY vec_id"
  }

  /** Deterministic pseudo-random unit-free hyperplanes (splitmix64). */
  private[graft] def deterministicPlanes(n: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    var state = seed
    def next(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Seq.fill(n)(Array.fill(dim)(next().toDouble / Long.MaxValue))
  }
}
