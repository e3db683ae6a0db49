package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

object PartitionUtil {
  /** The session conf key and default of one driver fast path's row cap. */
  final case class DriverCap(key: String, default: Long)

  /** The one venue gate for the iterative operators' driver fast
    * paths. `input` is already materialized and `rows` is its row
    * count. When `0 < rows <= cap` the rows are collected and `driver`
    * computes the result on the driver; otherwise (cap 0 always, and
    * any empty input) `distributed` runs. Both venues return the
    * operator's one declared `out` schema: the driver rows are built
    * into it, and a distributed result of any other schema is
    * projected onto it with `Dataset.to`. `to` keeps a non-null column
    * non-null, so a column `out` declares nullable is widened by a
    * union with an empty relation of `out`, which the optimizer
    * removes. A column whose distributed nullability depends on the
    * input must be declared nullable: `to` rejects narrowing it. A
    * distributed result already in `out` is returned as it is, so
    * unpersisting it still reaches its cache entry. */
  def venue[T <: Product : TypeTag](input: DataFrame, rows: Long, cap: DriverCap,
                                   out: StructType)
                                  (driver: Array[T] => Iterable[Product])
                                  (distributed: => DataFrame): DataFrame = {
    val spark = input.sparkSession
    def local(rs: Iterable[Product]): DataFrame =
      spark.createDataFrame(rs.map(Row.fromTuple).toSeq.asJava, out)
    if (rows > 0 && rows <= spark.conf.get(cap.key, cap.default.toString).toLong)
      local(driver(input.as[T](Encoders.product[T]).collect()))
    else {
      val d = distributed
      if (d.schema == out) d else local(Nil).union(d.to(out))
    }
  }

  /** Ensure a DataFrame has at least the cluster's default parallelism
    * in partitions before CPU-heavy per-row / all-pairs work.
    *
    * At 100 TB inputs arrive in thousands of file splits and this is a
    * no-op (no shuffle inserted); the repartition only fires for inputs
    * small enough to land in fewer splits than there are cores — the
    * case where an all-pairs join would otherwise run on 2 of 32
    * threads. The decision reads the optimizer's size estimate (file
    * sizes for a parquet scan) instead of materializing an RDD just to
    * count partitions: anything under ~4 MB/core would land in fewer
    * splits than cores. */
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val sizeEstimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sizeEstimate < BigInt(par.toLong * 4L * 1024 * 1024)) df.repartition(par)
    else df
  }

  /** One aggregate of a [[saltedAggregate]]: `partials` run per
    * (key, salt); `merged` recombines the partial columns into the
    * final value (aliased to the aggregate's output name). Constructors
    * below cover the re-aggregatable aggregates; anything else must be
    * expressed via [[SaltedAgg.of]] with an explicit merge — there is
    * deliberately no inference from the Column (toString-matching
    * silently mis-reaggregated e.g. countDistinct and avg). */
  final case class SaltedAgg(name: String, partials: Seq[Column], merged: Column)

  object SaltedAgg {
    def count(name: String): SaltedAgg =
      of(name, Seq(F.count(lit(1))), ps => F.sum(ps.head))
    def sum(name: String, c: Column): SaltedAgg =
      of(name, Seq(F.sum(c)), ps => F.sum(ps.head))
    def min(name: String, c: Column): SaltedAgg =
      of(name, Seq(F.min(c)), ps => F.min(ps.head))
    def max(name: String, c: Column): SaltedAgg =
      of(name, Seq(F.max(c)), ps => F.max(ps.head))
    /** avg = sum of partial sums / sum of partial counts. */
    def avg(name: String, c: Column): SaltedAgg =
      of(name, Seq(F.sum(c), F.count(c)),
        ps => F.sum(ps.head) / F.sum(ps(1)))

    /** Explicit partial/merge pair: `partials` are the map-side
      * aggregates; `merge` sees one column reference per partial, in
      * order, and must return the combining aggregate. */
    def of(name: String, partials: Seq[Column], merge: Seq[Column] => Column): SaltedAgg = {
      val aliased = partials.zipWithIndex.map { case (p, i) => p.as(s"${name}_p$i") }
      val refs = partials.indices.map(i => col(s"${name}_p$i"))
      SaltedAgg(name, aliased, merge(refs).as(name))
    }
  }

  /** Skew-resistant aggregation: pre-aggregate on (key, salt) so one
    * hot key spreads over `buckets` reducers, then combine the
    * partials. The salt never affects the result — each [[SaltedAgg]]
    * carries its own exact re-aggregation — so any cheap per-row value
    * works as salt. This is the manual form of what AQE's skew
    * handling can't do for aggregations. */
  def saltedAggregate(df: DataFrame, key: String, buckets: Int,
                      aggs: SaltedAgg*): DataFrame = {
    require(aggs.nonEmpty)
    val salted = df.withColumn("_salt", pmod(monotonically_increasing_id(), lit(buckets.toLong)))
    val partialCols = aggs.flatMap(_.partials)
    val partials = salted.groupBy(col(key), col("_salt"))
      .agg(partialCols.head, partialCols.tail: _*)
    val finalCols = aggs.map(_.merged)
    partials.groupBy(col(key)).agg(finalCols.head, finalCols.tail: _*)
  }

  /** Skew-resistant equi-join: the big (possibly skewed) side gets a
    * salt column; the small side is replicated once per salt value.
    * A hot key's rows land on `buckets` tasks instead of one. Input
    * row multiplication is |small|·buckets — keep the replicated side
    * small (it usually rides along with a broadcast anyway; this path
    * is for when the small side exceeds the broadcast threshold but a
    * hot key still melts a sort-merge task). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, buckets: Int): DataFrame = {
    val bigS = big.withColumn("_salt", pmod(monotonically_increasing_id(), lit(buckets.toLong)))
    val smallS = small.withColumn("_salt", explode(typedLit((0L until buckets.toLong).toSeq)))
    bigS.join(smallS, Seq(key, "_salt")).drop("_salt")
  }

  /** Materialize one iteration's state (or a stage shared by several
    * consumers). The session conf `graft.checkpointDir` of `df`'s
    * session decides where: unset or empty means `localCheckpoint` —
    * executor-local blocks, fast, but an executor loss replays the
    * FULL lineage chain; a path means a RELIABLE `checkpoint` under
    * it, written through the Hadoop FS API (HDFS/S3A/...), so at
    * production scale a lost executor re-reads one round's state
    * instead of recomputing every round since the source scan.
    * `SparkContext.setCheckpointDir(d)` stores a fresh `d/<uuid>`, so
    * the context's dir is set again only when its parent is not `d`.
    * NOTE: under AQE neither form preserves the plan's output
    * partitioning (the LogicalRDD reports unknown partitioning) — to
    * materialize AND keep a hash partitioning across joins,
    * `persist()` the repartitioned plan instead (see Graph's
    * prePartitionEdges). */
  def materialize(df: DataFrame, eager: Boolean = true): DataFrame =
    df.sparkSession.conf.get("graft.checkpointDir", "") match {
      case "" => df.localCheckpoint(eager)
      case d =>
        val sc = df.sparkSession.sparkContext
        val dir = new Path(d)
        val want = dir.getFileSystem(sc.hadoopConfiguration).makeQualified(dir)
        if (!sc.getCheckpointDir.exists(c => new Path(c).getParent == want))
          sc.setCheckpointDir(d)
        df.checkpoint(eager)
    }

  /** Skew-resistant ORDER-SENSITIVE top-k per key — the rank case
    * [[saltedWindow]] deliberately excludes: row-for-row equivalent to
    * `ROW_NUMBER() OVER (PARTITION BY key ORDER BY ord, id) <= k`, but
    * no task ever sorts or buffers a whole key. Two phases, both
    * bounded: (1) per (key, salt) the map-side-combining
    * [[graft.functions.KSmallestAggregator]] keeps a k-element buffer
    * — a 90%-one-key stream spreads over `buckets` reducers instead of
    * melting one; (2) the ≤ buckets·k survivors per key merge through
    * the same aggregator and the final buffer's index is the exact
    * rank. Selecting the k smallest is invariant to how rows are
    * bucketed (the union of per-bucket k-smallest contains the global
    * k-smallest), so any cheap salt works and the result is
    * partition-invariant. Returns (key, ordCol, idCol, pos) with pos
    * in [1, k] — rows beyond rank k are dropped, which is the point:
    * shuffle volume is O(k · buckets) per key, never O(|key's rows|).
    */
  def saltedTopK(df: DataFrame, key: String, k: Int,
                 ordCol: String, idCol: String, buckets: Int = 32): DataFrame = {
    require(k > 0, s"saltedTopK: k must be positive, got $k")
    require(buckets > 0, s"saltedTopK: buckets must be positive, got $buckets")
    import org.apache.spark.sql.Encoders
    val ks = F.udaf(new graft.functions.KSmallestAggregator(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val partials = df
      .withColumn("_salt", pmod(monotonically_increasing_id(), lit(buckets.toLong)))
      .groupBy(col(key), col("_salt"))
      .agg(ks(col(ordCol), col(idCol)).as("_top"))
    partials.select(col(key), explode(col("_top")).as("_p"))
      .groupBy(col(key))
      .agg(ks(col("_p._1"), col("_p._2")).as("_top"))
      .select(col(key), posexplode(col("_top")))
      .select(col(key), col("col._1").as(ordCol), col("col._2").as(idCol),
        (col("pos") + 1).cast("long").as("pos"))
  }

  /** Skew-resistant whole-partition window aggregate: the salted
    * two-phase aggregation computes each per-key value, then an
    * equi-join attaches it back to every row — row-for-row equivalent
    * to `agg OVER (PARTITION BY key)` with an unbounded frame, but no
    * task ever SORTS or BUFFERS a whole partition: a 90%-one-key
    * stream melts a window task (one reducer sorts and holds 90% of
    * the data), while here the hot key's rows pre-aggregate across
    * `buckets` reducers and the final join is a streamed probe that
    * AQE's skew-join handling can further split at runtime. Use for
    * unbounded-frame window aggregates on keys whose cardinality or
    * skew is unknown; ordered frames (running sums, rank) instead
    * want the map-side TopK/reservoir aggregators. */
  def saltedWindow(df: DataFrame, key: String, buckets: Int,
                   aggs: SaltedAgg*): DataFrame =
    df.join(saltedAggregate(df, key, buckets, aggs: _*), Seq(key))

  /** Build a Bloom filter over `dim`'s `key` column as a ONE-row
    * (bf: array<bigint>) relation — `bits` filter bits packed 64 per
    * word, `k` probe hashes (xxhash64 seeded 0..k-1, codegen'd).
    *
    * The 100 TB case this serves: a semi/inner join whose build side
    * is too large to broadcast RAW (say 100 M keys ≈ GBs hashed) but
    * whose BLOOM fits in KBs–MBs — the classic shuffle-reduction
    * move (runtime filters in Spark/Trino do exactly this when they
    * can; this is the explicit, optimizer-independent form for the
    * plans they won't touch, e.g. pre-shuffle reduction ahead of an
    * aggregate or an anti join's probe side). Probe rows failing
    * [[bloomMightContain]] are dropped BEFORE the exchange; false
    * positives (rate ≈ (1-e^{-kn/m})^k) survive to the exact join,
    * so results are identical to the unfiltered plan.
    *
    * Built entirely from codegen'd built-ins: per-key positions via
    * posexplode of the k hashes, one map-side-combined bit_or agg
    * into ≤ bits/64 words, densified against a word spine and packed
    * with sort_array+collect_list (the q121 edge-array pattern). */
  def bloomFilterArray(dim: DataFrame, key: String,
                       bits: Int = 1 << 16, k: Int = 3): DataFrame = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      s"bits must be a power of two >= 64 (one packed word), got $bits")
    require(k >= 1 && k <= 8, s"k must be in [1, 8], got $k")
    val nWords = bits / 64
    val pos = dim.select(explode(array(
      (0 until k).map(i => pmod(xxhash64(col(key), lit(i)), lit(bits.toLong))): _*)).as("pos"))
    val words = pos
      .groupBy((col("pos") / 64).cast("int").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").as("m"))
    val spine = dim.sparkSession.range(nWords).select(col("id").cast("int").as("w"))
    spine.join(words, Seq("w"), "left")
      .na.fill(0L, Seq("m"))
      .agg(sort_array(collect_list(struct(col("w"), col("m")))).as("wm"))
      .select(transform(col("wm"), x => x.getField("m")).as("bf"))
  }

  /** The probe predicate for [[bloomFilterArray]]'s packed words:
    * true iff all `k` hash positions of `key` are set in `bf`. */
  def bloomMightContain(bf: Column, key: Column, bits: Int, k: Int): Column =
    (0 until k).map { i =>
      val p = pmod(xxhash64(key, lit(i)), lit(bits.toLong))
      (element_at(bf, (p / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int"))) =!= 0L)
    }.reduce(_ && _)

  /** Semi join `fact` ⋉ `dim` with a Bloom pre-filter on the probe
    * side: rows that cannot match are dropped before the exchange,
    * the exact semi join afterwards removes the false positives —
    * bit-identical output to `fact.join(dim, keys, "left_semi")`. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    bits: Int = 1 << 16, k: Int = 3): DataFrame = {
    // xxhash64 is TYPE-sensitive where the equi-join would coerce: an
    // INT probe against a BIGINT build hashes differently, and a
    // matching row would silently fail the Bloom and vanish before
    // the exact join could save it — so demand identical key types
    val ft = fact.schema(factKey).dataType
    val dt = dim.schema(dimKey).dataType
    require(ft == dt,
      s"bloomSemiJoin: key types must match exactly ($factKey: $ft vs $dimKey: $dt) — " +
        "hash equality is stricter than join equality; cast one side first")
    // internal names kept collision-free with any fact column; the
    // exact join resolves BY NAME against a renamed projection of dim
    // (never via fact(..)/dim(..) attribute references) so fact and
    // dim may share lineage — e.g. semi-joining a table against a
    // filtered view of itself — without tripping Spark's
    // ambiguous-self-join detection
    val bf = bloomFilterArray(dim.select(col(dimKey).as("k")), "k", bits, k)
      .select(col("bf").as("__graft_bf"))
    val dimKeys = dim.select(col(dimKey).as("__graft_bk"))
    fact.crossJoin(broadcast(bf))
      .filter(bloomMightContain(col("__graft_bf"), col(factKey), bits, k))
      .drop("__graft_bf")
      .join(dimKeys, col(factKey) === col("__graft_bk"), "left_semi")
  }
}
