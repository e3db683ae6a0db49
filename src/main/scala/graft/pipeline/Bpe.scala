package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed byte-pair-encoding vocabulary training — the tokenizer-
  * construction step of an LLM data pipeline (Sennrich et al. 2016's
  * subword-nmt algorithm, re-expressed as the classic two-table Spark
  * formulation): tokenize the corpus ONCE into a (word, freq) table,
  * then run every merge round against that vocab-sized table, never
  * the corpus.
  *
  * Segmentations travel as a single string with every symbol wrapped
  * in U+001F sentinels (`␟s1␟␟s2␟…`): the pair (a, b) is adjacent
  * exactly when the substring `␟a␟␟b␟` occurs, so applying a merge is
  * one literal `replace` — and both the JVM and DuckDB scan
  * left-to-right non-overlapping, which reproduces subword-nmt's
  * greedy-left merge of runs (`[a a a]` + merge (a,a) → `[aa a]`,
  * verified in PipelineSpec). U+001F never occurs in corpus tokens, so
  * a merged symbol can never be confused with a symbol boundary (the
  * naive space-joined encoding breaks exactly there: pattern `a b`
  * matches inside `xa b`).
  *
  * Each round is: (1) adjacent-pair counts weighted by word freq — an
  * in-array zip exploded then map-side combined, vocab-bounded output;
  * (2) argmax pair by (count DESC, left, right) — a ONE-row driver
  * pull (bounded by construction, the same |groups|-scalar discipline
  * as the k-means fits); (3) the merge applied as a narrow per-row
  * `replace` over the word table. The word table is persisted per
  * round and the previous round unpersisted — R actions over a
  * bounded-lineage relation, the [[Graph]] iterative discipline. At
  * 100 TB the corpus-scale work is exactly one tokenize+count pass;
  * every round after touches only the ~10^8-row word table.
  */
object Bpe {

  private[graft] val Sep = "\u001f"

  /** One merge round's pair-count body: adjacent symbol pairs derive
    * INSIDE each word's symbol array (slice + zip, codegen'd — no
    * per-word window), weighted by word frequency and reduced through
    * a map-side-combined (l, r) hash aggregation whose output is
    * bounded by the live pair vocabulary. Exposed for the plan assert
    * in ScaleTechniquesSpec. */
  private[graft] def pairCounts(words: DataFrame): DataFrame = {
    val syms = split(regexp_replace(col("seg"), s"^$Sep|$Sep$$", ""), s"$Sep$Sep")
    words
      .select(col("freq"), syms.as("s"))
      .filter(size(col("s")) >= 2)
      .select(col("freq"), explode(arrays_zip(
        slice(col("s"), lit(1), size(col("s")) - 1),
        slice(col("s"), lit(2), size(col("s")) - 1))).as("p"))
      .groupBy(col("p.0").as("l"), col("p.1").as("r"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** `rounds` BPE merges learned from the corpus's whitespace words.
    * Output: one row per round — (round, left_sym, right_sym, cnt,
    * sym_count), where cnt is the merged pair's weighted frequency at
    * selection time and sym_count the MEASURED total corpus symbol
    * count after the merge (equal to the pre-merge count minus cnt
    * only when no merged pairs overlap in runs — PipelineSpec pins the
    * [a a a] case where they do). */
  def bpeTrain(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    val (merges, wordsFinal) = trainLoop(docs, rounds)
    wordsFinal.unpersist()
    val schema = StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("left_sym", StringType, nullable = false),
      StructField("right_sym", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false),
      StructField("sym_count", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.map(Row.fromTuple), 1), schema)
      .orderBy(col("round"))
  }

  /** Train `rounds` merges, then APPLY the learned vocabulary back to
    * the corpus — the production tokenizer-application pass: per
    * document, how many whitespace words and how many BPE subword
    * tokens they segment into (the number a sequence-packing or
    * token-budget stage actually consumes). The word table already
    * holds each word's final segmentation when training ends, so
    * application is ONE equi-join of the corpus token stream against
    * the vocab-sized (word → |symbols|) relation (hash-partitioned by
    * word at scale; Spark may broadcast it when small) followed by a
    * map-side-combined per-doc count — the corpus is never segmented
    * character-by-character a second time. */
  def bpeSegment(docs: DataFrame, rounds: Int): DataFrame = {
    val (_, wordsFinal) = trainLoop(docs, rounds)
    val nSyms = wordsFinal.select(col("word"),
      size(split(regexp_replace(col("seg"), s"^$Sep|$Sep$$", ""), s"$Sep$Sep"))
        .cast("long").as("n_syms"))
    val tok = PartitionUtil.spread(docs)
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("word"))
    val out = tok.join(nSyms, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_subwords"))
      .orderBy(col("doc_id"))
    // the join above materializes before unpersist only when the
    // caller acts; keep the cache — it is vocab-sized — and let the
    // executor LRU reclaim it (matches the fit-table discipline)
    out
  }

  /** Vocabulary-size ceiling for the DRIVER-side merge loop (below:
    * collect the (word, freq) table once and run every round in
    * memory; above: the distributed per-round aggregation). BPE merge
    * state is VOCAB-bounded, never corpus-bounded — the same
    * |groups|-scalar discipline that already justifies the k-means
    * fit collects — so at 1M words (≈ 100 MB of strings) the rounds
    * cost zero cluster jobs while the corpus-scale work (tokenize +
    * count, and the final per-doc application join) stays
    * distributed. Override with `graft.bpe.maxDriverVocab`. */
  private val MaxDriverVocab = PartitionUtil.DriverCap("graft.bpe.maxDriverVocab", 1000000L)

  /** Symbols of a sentinel-wrapped segmentation — the driver-side
    * mirror of the `split(regexp_replace(seg, ...), SepSep)` column
    * expression (strip ONE leading/trailing sentinel, split on the
    * double sentinel). */
  private def segSymbols(seg: String): Array[String] =
    seg.stripPrefix(Sep).stripSuffix(Sep).split(s"$Sep$Sep", -1)

  /** Spark's string ordering is UTF8String's unsigned BYTE-wise
    * comparison, which differs from java.lang.String's UTF-16
    * code-unit order outside ASCII — the argmax tie-break must
    * reproduce it exactly. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The driver-side merge loop over the COLLECTED vocab: per round,
    * adjacent-pair counts weighted by freq, argmax by (cnt DESC, l, r)
    * under UTF-8 byte order, then the merge applied with
    * java.lang.String.replace — literal and left-to-right
    * non-overlapping on the original, the exact semantics of Spark's
    * `replace` (and of the oracle's), so greedy-left run merging
    * ([a a a] → [aa a]) reproduces bit-for-bit. Returns the merge
    * rows (census measured after each merge: Σ freq·|symbols|) and
    * the final segmentations. */
  private def driverRounds(words: Array[String], freqs: Array[Long],
                           rounds: Int): (Seq[(Long, String, String, Long, Long)], Array[String]) = {
    var segs = words.map(_.replaceAll("(?s)(.)", s"$Sep$$1$Sep"))
    val merges = Seq.newBuilder[(Long, String, String, Long, Long)]
    for (r <- 1 to rounds) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      var i = 0
      while (i < segs.length) {
        val syms = segSymbols(segs(i))
        var j = 0
        while (j < syms.length - 1) {
          counts.merge((syms(j), syms(j + 1)), freqs(i), (u, v) => u + v)
          j += 1
        }
        i += 1
      }
      require(!counts.isEmpty,
        s"BPE corpus exhausted: every word is a single symbol before $rounds rounds")
      var bestL: String = null; var bestR: String = null; var bestC = 0L
      counts.forEach { (k, v) =>
        val better = bestL == null || v > bestC ||
          (v == bestC && {
            val cl = utf8Compare(k._1, bestL)
            cl < 0 || (cl == 0 && utf8Compare(k._2, bestR) < 0)
          })
        if (better) { bestL = k._1; bestR = k._2; bestC = v }
      }
      val pat = s"$Sep$bestL$Sep$Sep$bestR$Sep"
      val rep = s"$Sep$bestL$bestR$Sep"
      var census = 0L
      i = 0
      while (i < segs.length) {
        segs(i) = segs(i).replace(pat, rep)
        census += freqs(i) * segSymbols(segs(i)).length
        i += 1
      }
      merges += ((r.toLong, bestL, bestR, bestC, census))
    }
    (merges.result(), segs)
  }

  /** The shared merge-training loop: returns the merge rows and the
    * final (word, freq, seg) relation (persisted on the distributed
    * path; a vocab-sized local relation on the driver path).
    *
    * Path choice (measured in round 16): the merge recurrence is
    * inherently sequential and VOCAB-bounded, so when the vocab fits
    * [[MaxDriverVocab]] the rounds run on the collected word table —
    * zero cluster jobs per round instead of one aggregation each
    * (3.1 s → ~1.2 s for q140 at sf0.1), with identical results
    * (hash-gated; the [a a a] greedy-left case pinned in
    * PipelineSpec). Beyond the cap, the distributed path below runs:
    * ONE Spark action per round — a single global aggregation over
    * the pair counts yields BOTH the argmax merge (min_by over the
    * (-cnt, l, r) ordering struct — count desc, then lexicographic)
    * AND Σcnt, which is the PREVIOUS round's symbol census for free:
    * every word contributes |symbols|-1 adjacent pairs, so
    * Σ freq·|symbols| = Σ pair counts + Σ freq (the total word
    * instances, computed once up front). Only the LAST round's census
    * needs one extra Σcnt pass over the final segmentations. (Note
    * sym_count is a MEASURED census, not `prev - cnt`: greedy-left run
    * merging makes those differ — [a a a] counts the (a,a) pair twice
    * but one merge removes one symbol.) */
  private def trainLoop(docs: DataFrame,
                        rounds: Int): (Seq[(Long, String, String, Long, Long)], DataFrame) = {
    require(rounds > 0, "bpeTrain: rounds must be positive")
    val words0 = PartitionUtil.spread(docs)
      .select(explode(Dedup.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seg", regexp_replace(col("word"), "(?s)(.)", s"$Sep$$1$Sep"))
      // (?s): tokens are whitespace-SPACE-split, so they can contain \n/\r;
      // without DOTALL those chars would escape the sentinel wrapping and
      // embed U+001F inside a symbol, silently diverging from the oracle's
      // per-char string_split
      .persist()
    val stats0 = words0.agg(sum(col("freq")), count(lit(1))).head()
    val totalFreq = Option(stats0.get(0)).fold(0L)(_.asInstanceOf[Long])
    val vocabSize = stats0.getLong(1)

    var merges = Seq.empty[(Long, String, String, Long, Long)]
    val out = StructType.fromDDL("word STRING NOT NULL, freq BIGINT NOT NULL, seg STRING NOT NULL")
    val words = PartitionUtil.venue[(String, Long)](words0.select(col("word"), col("freq")),
        vocabSize, MaxDriverVocab, out) { wf =>
      words0.unpersist()
      val (m, segs) = driverRounds(wf.map(_._1), wf.map(_._2), rounds)
      merges = m
      wf.indices.map(i => (wf(i)._1, wf(i)._2, segs(i)))
    } {
      // round r's aggregation reports (argmax merge of s_{r-1}, census of
      // s_{r-1}); the census of round r-1's OUTPUT lands one iteration
      // later, so merge metadata is completed with a 1-round lag
      def roundAgg(w: DataFrame): (Long, String, String, Long) = {
        val row = pairCounts(w).agg(
          sum(col("cnt")),
          min_by(struct(col("l"), col("r"), col("cnt")),
            struct((-col("cnt")).as("nc"), col("l"), col("r")))).head()
        require(!row.isNullAt(0),
          s"BPE corpus exhausted: every word is a single symbol before $rounds rounds")
        val best = row.getStruct(1)
        (row.getLong(0), best.getString(0), best.getString(1), best.getLong(2))
      }

      val done = Seq.newBuilder[(Long, String, String, Long, Long)]
      var words = words0
      var prev: DataFrame = null // unpersisted ONE ROUND LATE: round r's
      // aggregation is what first materializes round r-1's persist, so
      // r-2's cache must stay alive until that action has run — an eager
      // unpersist would silently re-derive the whole chain every round
      var pending: (Long, String, String, Long) = null // (round, l, r, cnt) awaiting census
      var r = 1
      while (r <= rounds) {
        val (sumCnt, l, rt, cnt) = roundAgg(words)
        if (prev != null) prev.unpersist()
        prev = words
        if (pending != null)
          done += ((pending._1, pending._2, pending._3, pending._4, sumCnt + totalFreq))
        pending = (r.toLong, l, rt, cnt)
        words = words.withColumn("seg",
            replace(col("seg"), lit(s"$Sep$l$Sep$Sep$rt$Sep"), lit(s"$Sep$l$rt$Sep")))
          .persist()
        r += 1
      }
      // the last round's census: one Σ(|symbols|-1) pass over the final table
      val lastPairs = Option(pairCounts(words).agg(sum(col("cnt"))).head().get(0))
        .fold(0L)(_.asInstanceOf[Long])
      if (prev != null) prev.unpersist()
      done += ((pending._1, pending._2, pending._3, pending._4, lastPairs + totalFreq))
      merges = done.result()
      words
    }
    (merges, words)
  }

  /** DuckDB oracle for [[bpeTrain]] over `documents` — the `rounds`
    * merge rounds UNROLLED as materialized CTE stages (the same
    * inlining discipline as the k-core oracle: without MATERIALIZED
    * each round's relation would be re-expanded 3^rounds times). The
    * segmentation encoding is built with list functions rather than
    * the engine's regexp — an independent formulation of the same
    * wrapping. */
  private val OracleSep = "chr(31)"

  private def oracleSymsOf(seg: String) =
    s"string_split(trim($seg, $OracleSep), $OracleSep || $OracleSep)"

  /** The shared merge-round CTE chain: w (word freqs), s0 (initial
    * segmentations), then per round pair counts p_r, argmax b_r,
    * merged segmentations s_r, symbol census c_r. `word` rides every
    * s_r stage so the segment oracle can join the corpus back. */
  private def oracleStagesSql(rounds: Int): String = {
    val S = OracleSep
    val stages = new StringBuilder
    stages.append(s"""WITH w AS MATERIALIZED (SELECT word, COUNT(*) AS freq FROM
        (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
         FROM documents) GROUP BY word),
      s0 AS MATERIALIZED (SELECT word, freq,
        array_to_string(list_transform(string_split(word, ''), c -> $S || c || $S), '') AS seg
        FROM w)""")
    for (r <- 1 to rounds) {
      val prev = s"s${r - 1}"
      stages.append(s""",
      p$r AS MATERIALIZED (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM
        (SELECT freq, syms[p] AS l, syms[p + 1] AS r FROM
          (SELECT freq, syms, unnest(range(1, len(syms))) AS p FROM
            (SELECT freq, ${oracleSymsOf("seg")} AS syms FROM $prev)
           WHERE len(syms) >= 2))
        GROUP BY l, r),
      b$r AS MATERIALIZED (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
      s$r AS MATERIALIZED (SELECT word, freq,
        replace(seg, $S || b.l || $S || $S || b.r || $S, $S || b.l || b.r || $S) AS seg
        FROM $prev, b$r b),
      c$r AS (SELECT CAST(SUM(freq * len(${oracleSymsOf("seg")})) AS BIGINT) AS sym_count
        FROM s$r)""")
    }
    stages.toString
  }

  private[graft] def bpeTrainOracleSql(rounds: Int): String = {
    val union = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, l AS left_sym, r AS right_sym, cnt,
        (SELECT sym_count FROM c$r) AS sym_count FROM b$r"""
    }.mkString("\n      UNION ALL\n      ")
    s"""${oracleStagesSql(rounds)}
      $union
      ORDER BY round"""
  }

  /** DuckDB oracle for [[bpeSegment]]: the same merge-round chain,
    * then the corpus token stream joins the FINAL segmentation
    * relation on word and aggregates per document. */
  private[graft] def bpeSegmentOracleSql(rounds: Int): String =
    s"""${oracleStagesSql(rounds)}
      SELECT t.doc_id, COUNT(*) AS n_words,
        CAST(SUM(len(${oracleSymsOf("seg")})) AS BIGINT) AS n_subwords
      FROM (SELECT doc_id,
          unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        FROM documents) t
      JOIN s$rounds USING (word)
      GROUP BY t.doc_id ORDER BY t.doc_id"""
}
