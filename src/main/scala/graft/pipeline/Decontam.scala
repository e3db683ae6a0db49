package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Benchmark decontamination — the eval-leak check a training corpus
  * runs before training: which training documents share word n-grams
  * with any benchmark document (and how many)?
  *
  * Scale design: the benchmark side is tiny by definition (eval suites
  * are megabytes); the training corpus is the 100 TB side. The direct
  * formulation broadcasts the distinct benchmark shingle set into a
  * hash join — already scan-once over the corpus. [[bloomDecontam]]
  * goes one step further for the common case where contamination is
  * RARE: benchmark shingles fold into a compact Bloom bit array on the
  * driver, the array broadcasts to every executor, and ~all clean
  * train shingles die at the scan — before the aggregation, before any
  * join input materializes. Only Bloom hits (true matches plus the
  * configured false-positive mass) proceed to an exact semi-join
  * against the real benchmark set, which removes the false positives,
  * so the final answer is EXACT — bit-identical to the unfiltered
  * join — while the per-executor memory cost is a few bits per
  * benchmark shingle and the join input shrinks by ~(1 - fpp).
  */
object Decontam {

  /** Per-training-doc count of distinct word `n`-grams shared with the
    * benchmark partition (`isBench` selects benchmark rows). Only
    * contaminated docs appear. Deterministic, ordered by doc_id. */
  def bloomDecontam(docs: DataFrame, isBench: Column, n: Int = 4,
                    fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    val sh = PartitionUtil.spread(docs)
      .select(col("doc_id"), isBench.as("is_bench"),
        explode(Dedup.shingles(docs, col("text"), n)).as("shingle"))
    // distinct benchmark shingles feed three consumers (count, Bloom
    // build, verification join) — materialize once
    val bench = sh.filter(col("is_bench")).select(col("shingle")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nBench = bench.count()
    val bloom = bench.stat.bloomFilter("shingle", math.max(nBench, 1L), fpp)
    val bcBloom = spark.sparkContext.broadcast(bloom)
    val mightContain = udf { s: String => bcBloom.value.mightContainString(s) }
    // the prefilter: clean shingles (the overwhelming majority of the
    // corpus) are dropped at the scan with zero shuffle
    val hits = sh.filter(!col("is_bench")).filter(mightContain(col("shingle")))
    // exact verification: the surviving trickle semi-joins the true
    // benchmark set (broadcast — it is small), killing false positives
    hits.join(bench, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle: the Bloom stage is a pure prefilter with exact
    * re-verification, so the reference answer is the plain
    * shingle-join decontamination. */
  private[graft] def oracleSql(benchMaxDocId: Long, n: Int): String = {
    require(n >= 2)
    s"""WITH toks AS (SELECT doc_id,
        list_filter(string_split(text,' '), x -> x <> '') AS t FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - ${n - 2}),
          i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' ')))) AS shingle FROM toks),
      bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < $benchMaxDocId),
      train AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= $benchMaxDocId)
      SELECT train.doc_id, COUNT(*) AS n_shared
      FROM train JOIN bench USING (shingle)
      GROUP BY train.doc_id ORDER BY train.doc_id"""
  }
}
