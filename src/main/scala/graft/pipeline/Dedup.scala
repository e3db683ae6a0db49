package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design: every variant is built around an inverted index
  * (explode feature → equi-join on feature → group by pair) instead of
  * a document cross join, so the shuffle volume is O(total features),
  * not O(N²). Hash functions are pure Scala (splitmix64 / FNV) —
  * deterministic across JVMs, partitionings and cluster sizes.
  */
object Dedup {

  // ---- tokenize / shingle helpers ------------------------------------

  /** Whitespace tokens with empties removed (matches the oracle side). */
  def tokens(text: Column): Column =
    filter(split(text, " "), x => x =!= "")

  /** The retired Scala-closure shingle UDF, kept ONLY as the reference
    * implementation PropertySpec pins the native expression against. */
  private[graft] def shingleUdf(n: Int) = udf { toks: Seq[String] =>
    if (toks == null || toks.length < n) Seq.empty[String]
    else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
  }

  /** Distinct word n-gram shingles per document — a NATIVE codegen'd
    * expression ([[graft.functions.WordShingles]]): no catalyst→Seq
    * deserialization, no closure call per document (optimization
    * guide §1.2 per-task work / "functions, not UDFs"). Bit-identical
    * to the retired [[shingleUdf]], pinned in PropertySpec. The
    * function is registered on `docs`' own session, which resolves it
    * when the column is used on `docs`. */
  def shingles(docs: DataFrame, text: Column, n: Int): Column = {
    graft.functions.MinhashExpressions.register(docs.sparkSession)
    graft.functions.MinhashExpressions.wordShingles(tokens(text), n)
  }

  // ---- anchor sampling (shared by the quality audits) -----------------

  /** Deterministic content-hash anchor sample: a row is an anchor iff
    * the first 4 hex chars of md5("anchor-<seed>-<id>") fall below
    * fraction·0x10000. A pure function of row content — the same rows
    * are anchors across partition counts, engines and reruns — and the
    * hash is independent of WHETHER a pair is a hit, so recall
    * estimated on anchored pairs is unbiased. Used by the audit
    * functions' `anchorFraction` knob: truth restricted to pairs whose
    * id_a (resp. queries whose qid) is an anchor costs s·(full cost)
    * instead of the quadratic full audit — the 100 TB audit shape. */
  private[graft] def anchorThresholdHex(fraction: Double): String = {
    require(fraction > 0.0 && fraction < 1.0,
      s"anchorFraction must be in (0,1), got $fraction (1.0 = don't sample)")
    val t = math.round(fraction * 65536).toInt
    // a threshold of 0 would silently sample NOTHING; 65536 would
    // format as the 5-char '10000' and corrupt the 4-char compare —
    // both ends stay loud/clamped at the 16-bit hash granularity
    require(t >= 1,
      s"anchorFraction $fraction samples nothing at the 16-bit hash granularity")
    f"${math.min(t, 65535)}%04x"
  }

  /** Audit-entry guard: 1.0 means "don't sample" exactly; anything
    * else must be a real (0,1) fraction — a typo'd 1.5 silently
    * running the full quadratic audit would defeat the knob. */
  private[graft] def validateAnchorFraction(fraction: Double): Unit =
    require(fraction == 1.0 || (fraction > 0.0 && fraction < 1.0),
      s"anchorFraction must be 1.0 (no sampling) or in (0,1), got $fraction")

  private[graft] def anchorPred(idCol: Column, seed: Long, fraction: Double): Column =
    substring(md5(concat_ws("-", lit(s"anchor-$seed"), idCol)), 1, 4) <
      lit(anchorThresholdHex(fraction))

  /** The DuckDB replay of [[anchorPred]] — byte-identical input string
    * and the same lowercase-hex md5 prefix compare. */
  private[graft] def anchorCondSql(idExpr: String, seed: Long, fraction: Double): String =
    s"substring(md5('anchor-$seed-' || CAST($idExpr AS VARCHAR)), 1, 4) < '${anchorThresholdHex(fraction)}'"

  // ---- exact ---------------------------------------------------------

  /** Exact dedup: keep the lowest doc_id per identical text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))

  // ---- n-gram Jaccard ------------------------------------------------

  /** EXACT near-dup pairs with n-gram Jaccard similarity ≥ threshold,
    * via prefix filtering (AllPairs / PPJoin family — Bayardo et al.
    * WWW'07, Xiao et al. WWW'08; public algorithms).
    *
    * Candidate generation indexes only each document's PREFIX: its
    * p = sz − ⌈t·sz⌉ + 1 globally-rarest shingles (global order =
    * ascending doc-frequency, ties on the shingle string). If
    * J(A,B) ≥ t then |A∩B| ≥ t·|A|, so A's non-prefix suffix
    * (⌈t·|A|⌉ − 1 shingles) cannot contain all of A∩B — the smallest
    * shared shingle in the global order sits in BOTH prefixes, and the
    * equi-join on prefix shingles finds the pair. No false negatives;
    * false positives are removed by the exact re-score. ⌈t·sz⌉ uses
    * integer arithmetic (t as a rational num/10000) — a float ceil
    * could round the prefix one short and silently break exactness.
    *
    * Scale shape: the inverted index holds only prefixes — the ~20%
    * RAREST shingles per doc at t=0.8 — so posting lists are short by
    * construction (a shingle common enough to blow up f² is almost
    * never in a prefix; when it is, the pairs it generates are
    * near-certain true dups, so the output itself is that large). A
    * size filter (min/max ≥ t) prunes candidates before the distinct;
    * the re-score joins full shingle arrays only for surviving pairs.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    ngramJaccardPairsImpl(docs, n, threshold, anchorA = None)

  /** [[ngramJaccardPairs]] with the id_a side of the candidate join
    * optionally restricted to an anchor sample (a predicate on
    * `doc_id`): only pairs whose SMALLER id is an anchor are emitted,
    * and the restriction is pushed into the a-side posting relation —
    * so the join work (and the re-score) scales with the sample, not
    * the corpus. The prefix filter's no-false-negative property is
    * untouched: an anchored pair's shared rarest shingle still sits in
    * both prefixes; dropping non-anchored a-rows only drops pairs
    * outside the sample. */
  private[graft] def ngramJaccardPairsImpl(docs: DataFrame, n: Int,
      threshold: Double, anchorA: Option[Column]): DataFrame = {
    val den = 10000L
    // floor, not round: num/den ≤ threshold must hold or the prefix
    // comes out one short and the size filter over-prunes (false
    // negatives). Floor is always conservative — a longer prefix and
    // looser size filter only admit extra candidates, and the exact
    // double-threshold re-score still decides membership.
    val num = math.floor(threshold * den).toLong
    // The shingle table feeds three plan branches (posting lists +
    // both re-score joins); without persistence the tokenize+shingle
    // scan re-executes per branch. Measured at sf0.1 (3 alternating
    // A/B rounds): dropping the persist is ~10% FASTER locally (cache
    // write+read loses to recompute at this size), but at corpus
    // scale the tradeoff inverts — three full corpus scans vs one
    // materialization that MEMORY_AND_DISK spills — so the persist
    // stays as the 100 TB default.
    val sh = PartitionUtil.spread(docs)
      .select(col("doc_id"), shingles(docs, col("text"), n).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posting = sh.select(col("doc_id"), col("sz"), explode(col("sh")).as("s"))
    val dfreq = posting.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // rank each doc's shingles rarest-first; keep the safe prefix
    val prefix = posting.join(dfreq, Seq("s"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .filter(col("rn") <= expr(s"sz - (sz * $num + ${den - 1}) DIV $den + 1"))
      .select(xxhash64(col("s")).as("h"), col("doc_id"), col("sz"))
    val prefixA = anchorA.map(p => prefix.filter(p)).getOrElse(prefix)
    val cand = prefixA.select(col("h"), col("doc_id").as("id_a"), col("sz").as("sz_a"))
      .join(prefix.select(col("h"), col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      // size filter: J ≥ t ⟹ min(szA,szB)/max(szA,szB) ≥ t
      .filter(least(col("sz_a"), col("sz_b")) * den >=
        greatest(col("sz_a"), col("sz_b")) * num)
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b")).distinct()
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB oracle for [[ngramJaccardPairs]] — an INDEPENDENT exact
    * formulation: the FULL (unprefixed) inverted index counts every
    * pair's true intersection directly, then thresholds. Because the
    * Spark side generates candidates from prefixes only, agreement
    * here also verifies the prefix filter's no-false-negative claim on
    * real data. */
  private[graft] def ngramJaccardOracleSql(n: Int, threshold: Double): String = {
    require(n >= 2)
    s"""WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
        list_distinct(list_transform(range(1, len(t) - ${n - 2}),
          i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' '))) AS sh
      FROM toks),
    sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM sh),
    posting AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM posting a JOIN posting b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
      CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
    FROM pairs
    JOIN sz sa ON sa.doc_id = pairs.id_a
    JOIN sz sb ON sb.doc_id = pairs.id_b
    WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= $threshold
    ORDER BY id_a, id_b"""
  }

  /** GATE-CHECKED dedup-quality audit (q153): how many of the exact
    * Jaccard-≥-t pairs (q31's ground truth) the MinHash-LSH banding
    * (q32's candidate generator) actually surfaces, plus the
    * candidate-set size — recall numerator/denominator and the
    * precision denominator as one BIGINT row. q31/q32 prove each side
    * is deterministic; this row proves the oracle agrees on the
    * banding's MEASURED recall (the (1-(1-s^r)^b curve made concrete
    * on this corpus), so a wrong-but-deterministic banding cannot
    * ride the gate. Scale shape: both inputs are the pair relations
    * (output-bounded, never corpus²); the intersection joins on the
    * pair key. */
  def dedupRecallAudit(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                       numHashes: Int = 64, bands: Int = 16,
                       anchorFraction: Double = 1.0,
                       anchorSeed: Long = 7L): DataFrame = {
    // anchorFraction < 1: both sides restricted to pairs whose id_a is
    // a content-hash anchor ([[anchorPred]]) — the exact side's join
    // work scales with the sample (the restriction is pushed into the
    // a-side posting relation), the recall estimate stays unbiased,
    // and the gate oracle replays the identical sample (q157)
    validateAnchorFraction(anchorFraction)
    val anchored = anchorFraction < 1.0
    val exact =
      ngramJaccardPairsImpl(docs, n, threshold,
        anchorA = if (anchored)
          Some(anchorPred(col("doc_id"), anchorSeed, anchorFraction)) else None)
        .select(col("id_a"), col("id_b"))
    val cand0 = minhashLshPairs(docs, n, numHashes, bands)
      .select(col("id_a"), col("id_b"))
    val cand = if (anchored)
      cand0.filter(anchorPred(col("id_a"), anchorSeed, anchorFraction)) else cand0
    recallCounts(exact, cand)
  }

  /** Shared (exact, candidate) pair-set intersection for the recall
    * audits: ONE full outer join feeds all three counts, so each
    * side's pipeline evaluates exactly once under the single action.
    * Both inputs must be distinct (id_a, id_b) relations. The outer
    * coalesce keeps the row well-defined BIGINT zeros on a clean
    * corpus (sum over the empty join is NULL otherwise). */
  private def recallCounts(exactPairs: DataFrame, candPairs: DataFrame): DataFrame = {
    val exact = exactPairs.withColumn("e", lit(1L))
    val cand = candPairs.withColumn("c", lit(1L))
    exact.join(cand, Seq("id_a", "id_b"), "full_outer")
      .agg(coalesce(sum(coalesce(col("e"), lit(0L))), lit(0L)).as("exact_pairs"),
           coalesce(sum(when(col("e").isNotNull && col("c").isNotNull, 1L)
             .otherwise(0L)), lit(0L)).as("pairs_found"),
           coalesce(sum(coalesce(col("c"), lit(0L))), lit(0L)).as("candidate_pairs"))
  }

  /** DuckDB oracle for [[dedupRecallAudit]]: the exact inverted-index
    * formulation and the full HashSql MinHash+banding replay composed
    * as CTEs, then intersected with the SAME full-outer shape as the
    * impl (a LEFT join would diverge when the banding emits a
    * false-positive candidate outside the exact set, or on an empty
    * exact set — pairs_found must count matches from BOTH sides'
    * perspective). */
  private[graft] def dedupRecallAuditOracleSql(n: Int, threshold: Double,
      numHashes: Int, bands: Int,
      anchorFraction: Double = 1.0, anchorSeed: Long = 7L): String = {
    // the oracle replays the SAME anchor sample by filtering each full
    // formulation's output on the identical content-hash predicate —
    // semantics, not the impl's pushed-down cost optimization
    val aw = if (anchorFraction < 1.0)
      s" WHERE ${anchorCondSql("id_a", anchorSeed, anchorFraction)}" else ""
    s"""WITH exactp AS (SELECT id_a, id_b FROM (${ngramJaccardOracleSql(n, threshold)}) x$aw),
    candp AS (SELECT id_a, id_b FROM (${minhashLshOracleSqlBody(n, numHashes, bands)}) y$aw)
    SELECT CAST(COALESCE(SUM(CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS exact_pairs,
      CAST(COALESCE(SUM(CASE WHEN e.id_a IS NOT NULL AND c.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS pairs_found,
      CAST(COALESCE(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS candidate_pairs
    FROM exactp e FULL OUTER JOIN candp c ON c.id_a = e.id_a AND c.id_b = e.id_b"""
  }

  /** GATE-CHECKED embedding near-dup quality audit (q154): how many of
    * the exact cosine-> t pairs the banded random-hyperplane LSH (q36's
    * generator) surfaces. The LSH re-scores its candidates exactly
    * with the same threshold, so its output is a SUBSET of the exact
    * pair set by construction — candidate_pairs = pairs_found and the
    * measurement is pure recall (bucket misses). One BIGINT row.
    *
    * Scale note: the exact side is the deliberate N² ground truth —
    * the same role q29's brute force plays for the ANN audits. At
    * corpus scale set `anchorFraction`: the truth is then computed
    * exactly but only for pairs whose id_a is a deterministic
    * content-hash anchor ([[anchorPred]]) — the exact join's a-side
    * shrinks to s·N rows (cost s·N², the 1/s reduction that makes the
    * audit itself deployable), candidates are filtered to the same
    * anchors on both sides, and the recall estimate is unbiased
    * because anchor membership is independent of hit status. The LSH
    * itself (q36) stays the production path. */
  def neardupRecallAudit(embeddings: DataFrame, threshold: Double = 0.25,
                         bands: Int = 8, rowsPerBand: Int = 4,
                         dim: Int = 64, seed: Long = 42L,
                         anchorFraction: Double = 1.0,
                         anchorSeed: Long = 7L): DataFrame = {
    val spark = embeddings.sparkSession
    validateAnchorFraction(anchorFraction)
    val anchored = anchorFraction < 1.0
    // normalize feeds both sides of the exact a<b join — once, not
    // twice (same reused-intermediate materialization as the LSH side)
    val nv = PartitionUtil.materialize(embeddings.select(col("vec_id"),
      Similarity.normalizeUdf(Similarity.asDouble(col("embedding"))).as("nv")))
    val aAll = nv.select(col("vec_id").as("id_a"), col("nv").as("va"))
    val a = if (anchored)
      aAll.filter(anchorPred(col("id_a"), anchorSeed, anchorFraction)) else aAll
    val b = nv.select(col("vec_id").as("id_b"), col("nv").as("vb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .filter(Similarity.nativeDot(spark)(col("va"), col("vb")) > threshold)
      .select(col("id_a"), col("id_b"))
    val cand0 = embeddingNearDupLsh(embeddings, threshold, bands, rowsPerBand, dim, seed)
      .select(col("id_a"), col("id_b"))
    val cand = if (anchored)
      cand0.filter(anchorPred(col("id_a"), anchorSeed, anchorFraction)) else cand0
    recallCounts(exact, cand)
  }

  /** DuckDB oracle for [[neardupRecallAudit]]: the exact side replays
    * the Spark normalize + sequential-dot folds (the q29/q152
    * pattern — structural agreement, not float luck); the candidate
    * side is the full [[embeddingLshOracleSqlBody]] replay. */
  private[graft] def neardupRecallAuditOracleSql(threshold: Double,
      bands: Int, rowsPerBand: Int, dim: Int, seed: Long,
      anchorFraction: Double = 1.0, anchorSeed: Long = 7L): String = {
    def fold(prod: String) =
      s"list_reduce(list_transform(range(1, ${dim + 1}), k -> $prod), (x, y) -> x + y)"
    val exAnchor = if (anchorFraction < 1.0)
      s" AND ${anchorCondSql("a.vec_id", anchorSeed, anchorFraction)}" else ""
    val candAnchor = if (anchorFraction < 1.0)
      s" WHERE ${anchorCondSql("id_a", anchorSeed, anchorFraction)}" else ""
    s"""WITH candp0 AS (${embeddingLshOracleSqlBody(threshold, bands, rowsPerBand, dim, seed)}),
    candp AS (SELECT id_a, id_b FROM candp0$candAnchor),
    e3 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    nv3 AS (SELECT vec_id, list_transform(v, x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS nv
      FROM (SELECT vec_id, v, sqrt(${fold("v[k] * v[k]")}) AS nrm FROM e3)),
    exactp AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b
      FROM nv3 a JOIN nv3 c ON a.vec_id < c.vec_id
      WHERE ${fold("a.nv[k] * c.nv[k]")} > $threshold$exAnchor)
    SELECT CAST(COALESCE(SUM(CASE WHEN x.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS exact_pairs,
      CAST(COALESCE(SUM(CASE WHEN x.id_a IS NOT NULL AND y.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS pairs_found,
      CAST(COALESCE(SUM(CASE WHEN y.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS candidate_pairs
    FROM exactp x FULL OUTER JOIN candp y
      ON y.id_a = x.id_a AND y.id_b = x.id_b"""
  }

  // ---- MinHash + LSH -------------------------------------------------

  /** splitmix64 finalizer — the per-shingle base hash. */
  private[graft] def mix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private[graft] def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** MinHash signature of a shingle set: numHashes independent
    * permutations approximated by mix64(shingleHash + i * GOLDEN). */
  private[graft] def minhashSignature(sh: Seq[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    sh.foreach { s =>
      val base = fnv64(s)
      var i = 0
      while (i < numHashes) {
        val h = mix64(base + i * 0x9e3779b97f4a7c15L)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** MinHash+LSH candidate near-dup pairs.
    *
    * Banding: `numHashes` signature slots split into `bands` bands of
    * r = numHashes/bands rows; documents colliding on any full band
    * become a candidate pair. Output: (id_a, id_b, n_bands) with the
    * number of colliding bands — deterministic content, unordered
    * (presentation ORDER BY belongs to the consuming query).
    *
    * Scale shape: explode to (bandIndex, bandHash) keys and self-join
    * per bucket — shuffle is O(N · bands) narrow rows; no cross join.
    */
  /** The ONE band-fold definition: signature slices of r slots, each
    * folded `h = mix64(h ^ v)` from the FNV offset basis. Shared by
    * [[minhashLshPairs]] and the streaming twin
    * ([[graft.streaming.EventStreams.streamingNearDup]]) so their
    * claimed bit-identity is structural, not a copy-paste invariant;
    * the DuckDB oracle unrolls the same fold. */
  private[graft] def bandHashes(sig: Seq[Long], r: Int): Seq[(Int, Long)] =
    sig.grouped(r).zipWithIndex.map { case (slice, i) =>
      (i, slice.foldLeft(0xcbf29ce484222325L)((h, v) => mix64(h ^ v)))
    }.toSeq

  def minhashLshPairs(docs: DataFrame, shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    graft.functions.MinhashExpressions.register(docs.sparkSession)
    // the banding (native tokenize + shingle + MinHash + band fold)
    // feeds BOTH sides of the self-join and is left unmaterialized: a
    // broadcast self-join evaluates it per side, which measured faster
    // than a checkpoint write + read on every consumer
    // (OPTIMIZATION_r17.md), and at corpus scale the sort-merge
    // join's two identical exchanges collapse via ReuseExchange. A
    // nondeterministic input would band different documents on each
    // side, so it is materialized once.
    val banded0 = PartitionUtil.spread(docs)
      .select(col("doc_id"), shingles(docs, col("text"), shingleN).as("sh"))
      .select(col("doc_id"), posexplode(
        graft.functions.MinhashExpressions.minhashBands(col("sh"), numHashes, r)))
      .select(col("doc_id"), col("pos").as("band_idx"), col("col").as("band_hash"))
    val banded =
      if (docs.queryExecution.analyzed.deterministic) banded0
      else PartitionUtil.materialize(banded0)
    val a = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_a"))
    val b = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_b"))
    a.join(b, Seq("band_idx", "band_hash")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** DuckDB oracle for [[minhashLshPairs]]: the full MinHash+banding
    * pipeline recomputed in SQL via [[HashSql]]'s wraparound emulation.
    * Per (shingle, slot) rows explode and the mix stages run as
    * successive columns; slot mins use SIGNED Long order; empty
    * shingle sets keep the Long.MaxValue signature (they band-collide
    * with each other, exactly like the Scala side); the band fold
    * `h = mix64(h ^ v)` unrolls `r` steps × 4 stages as chained CTEs. */
  private[graft] def minhashLshOracleSql(shingleN: Int, numHashes: Int, bands: Int): String =
    minhashLshOracleSqlBody(shingleN, numHashes, bands) + "\n      ORDER BY id_a, id_b"

  /** ORDER-BY-free variant of [[minhashLshOracleSql]], embeddable as a
    * `pairs AS (...)` CTE (the nested-WITH trick
    * [[dedupGroupsOracleSql]] already uses). */
  private[graft] def minhashLshOracleSqlBody(shingleN: Int, numHashes: Int, bands: Int): String = {
    import HashSql._
    require(numHashes % bands == 0)
    val r = numHashes / bands
    val golden = java.lang.Long.toUnsignedString(0x9e3779b97f4a7c15L)
    val n = shingleN
    // band fold: r steps of h = mix64(h ^ bits(vs[step])), staged
    val foldCtes = (1 to r).flatMap { step =>
      val in = if (step == 1) "f0" else s"s${step - 1}d"
      Seq(
        s"s${step}a AS (SELECT doc_id, j, vs, ${mixStage1(s"xor(h, ${fromSigned(s"vs[$step]")})")} AS h FROM $in)",
        s"s${step}b AS (SELECT doc_id, j, vs, ${mixStage2("h")} AS h FROM s${step}a)",
        s"s${step}c AS (SELECT doc_id, j, vs, ${mixStage3("h")} AS h FROM s${step}b)",
        s"s${step}d AS (SELECT doc_id, j, vs, ${mixStage4("h")} AS h FROM s${step}c)")
    }.mkString(",\n      ")
    s"""WITH toks AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      sh AS (SELECT doc_id, CASE WHEN len(t) >= $n
          THEN list_distinct(list_transform(range(1, len(t) - ${n - 2}),
            i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' ')))
          ELSE CAST([] AS VARCHAR[]) END AS sh FROM toks),
      bse AS (SELECT doc_id, list_transform(sh, s -> ${HashSql.fnv64("s")}) AS b FROM sh),
      rows0 AS (SELECT doc_id, i,
          CAST((CAST(x AS HUGEINT) + (CAST(i + 1 AS HUGEINT) * $golden) % 18446744073709551616)
            % 18446744073709551616 AS UBIGINT) AS h
        FROM (SELECT doc_id, unnest(b) AS x FROM bse)
        CROSS JOIN (SELECT unnest(range(0, $numHashes)) AS i) ii),
      r2 AS (SELECT doc_id, i, ${mixStage2("h")} AS h FROM rows0),
      r3 AS (SELECT doc_id, i, ${mixStage3("h")} AS h FROM r2),
      r4 AS (SELECT doc_id, i, ${toSigned(mixStage4("h"))} AS h FROM r3),
      slots0 AS (SELECT doc_id, i, MIN(h) AS slot FROM r4 GROUP BY doc_id, i),
      grid AS (SELECT doc_id, i FROM (SELECT DISTINCT doc_id FROM documents)
        CROSS JOIN (SELECT unnest(range(0, $numHashes)) AS i) ii),
      slots AS (SELECT grid.doc_id, grid.i, COALESCE(slot, 9223372036854775807) AS slot
        FROM grid LEFT JOIN slots0 ON grid.doc_id = slots0.doc_id AND grid.i = slots0.i),
      bnd AS (SELECT doc_id, i // $r AS j, list(slot ORDER BY i) AS vs
        FROM slots GROUP BY 1, 2),
      f0 AS (SELECT doc_id, j, vs,
        CAST(${java.lang.Long.toUnsignedString(0xcbf29ce484222325L)} AS UBIGINT) AS h FROM bnd),
      $foldCtes,
      bandtbl AS (SELECT doc_id, j, h FROM s${r}d)
      SELECT a.doc_id AS id_a, c.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_bands
      FROM bandtbl a JOIN bandtbl c
        ON a.j = c.j AND a.h = c.h AND a.doc_id < c.doc_id
      GROUP BY 1, 2"""
  }

  /** First-seen-wins near-dup verdict per document — the BATCH twin
    * of [[graft.streaming.EventStreams.streamingNearDup]] (same
    * signatures, same band folds): a document is a near-dup iff an
    * EARLIER document (smaller doc_id = earlier arrival) shares at
    * least one MinHash band bucket, and its representative is the
    * earliest such document. One row per input doc: (doc_id, dup_of
    * = earliest collider or -1, is_dup).
    *
    * Scale shape: inherits [[minhashLshPairs]]' bucketed self-join
    * (shuffle O(N·bands), no cross join); the verdict adds one
    * |pairs|-sized min-aggregation and a left join back to the doc
    * ids — nothing corpus-quadratic. */
  def firstSeenNearDup(docs: DataFrame, shingleN: Int = 3,
                       numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val rep = minhashLshPairs(docs, shingleN, numHashes, bands)
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("rep"))
    docs.select(col("doc_id")).join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), lit(-1L)).as("dup_of"),
        when(col("rep").isNotNull, 1L).otherwise(0L).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[firstSeenNearDup]] — the q32 banding replay
    * reduced to the per-doc first-seen verdict. */
  private[graft] def firstSeenNearDupOracleSql(shingleN: Int, numHashes: Int,
                                               bands: Int): String =
    s"""SELECT d.doc_id,
        COALESCE(r.rep, -1) AS dup_of,
        CAST(CASE WHEN r.rep IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
      FROM documents d LEFT JOIN (
        SELECT id_b AS doc_id, MIN(id_a) AS rep
        FROM (${minhashLshOracleSqlBody(shingleN, numHashes, bands)}) cand
        GROUP BY id_b) r USING (doc_id)
      ORDER BY d.doc_id"""

  // ---- SimHash -------------------------------------------------------

  /** 64-bit SimHash over token features (token hash weighted +1/-1 per
    * bit, sign-summed). Near-dups differ in few bits. */
  private[graft] def simhash64(toks: Seq[String]): Long = {
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = mix64(fnv64(t))
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** SimHash per doc plus a 16-bit prefix bucket for candidate
    * generation; deterministic ordered output (doc_id, simhash, bucket). */
  def simhashBuckets(docs: DataFrame): DataFrame = {
    // null text -> empty token list (split(NULL) is NULL): matches the
    // oracle's no-vote rows -> all-zero word, instead of an executor NPE
    val shUdf = udf { toks: Seq[String] =>
      simhash64(if (toks == null) Seq.empty else toks) }
    docs.select(col("doc_id"), shUdf(tokens(col("text"))).as("simhash"))
      .withColumn("bucket", shiftrightunsigned(col("simhash"), 48))
      .orderBy(col("doc_id"))
  }

  /** The simhash word CTE chain (… → `w` of (doc_id, u UBIGINT)):
    * per-(token, bit) sign votes recomputed with the [[HashSql]] mix
    * pipeline, the 64 majority bits reassembled via `1::UBIGINT << i`
    * — ONE SQL copy of [[simhash64]] shared by the q33 and q179
    * oracles. */
  private def simhashWordCtes: String = {
    import HashSql._
    s"""toks AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      tok AS (SELECT doc_id, unnest(t) AS s FROM toks),
      f AS (SELECT doc_id, ${HashSql.fnv64("s")} AS h FROM tok),
      m1 AS (SELECT doc_id, ${mixStage1("h")} AS h FROM f),
      m2 AS (SELECT doc_id, ${mixStage2("h")} AS h FROM m1),
      m3 AS (SELECT doc_id, ${mixStage3("h")} AS h FROM m2),
      m4 AS (SELECT doc_id, ${mixStage4("h")} AS h FROM m3),
      bits AS (SELECT doc_id, i,
          CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END AS d
        FROM m4 CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ii),
      acc AS (SELECT doc_id, i, SUM(d) AS a FROM bits GROUP BY doc_id, i),
      grid AS (SELECT doc_id, i FROM (SELECT DISTINCT doc_id FROM documents)
        CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ii),
      accf AS (SELECT grid.doc_id, grid.i, COALESCE(a, 0) AS a
        FROM grid LEFT JOIN acc ON grid.doc_id = acc.doc_id AND grid.i = acc.i),
      w AS (SELECT doc_id,
          CAST(SUM(CASE WHEN a > 0 THEN CAST(CAST(1 AS UBIGINT) << i AS HUGEINT)
                        ELSE 0 END) AS UBIGINT) AS u
        FROM accf GROUP BY doc_id)"""
  }

  /** DuckDB oracle for [[simhashBuckets]]: the shared word CTEs plus
    * the signed-word/prefix-bucket projection. */
  private[graft] def simhashOracleSql: String = {
    import HashSql._
    s"""WITH $simhashWordCtes
      SELECT doc_id, ${toSigned("u")} AS simhash, CAST(u >> 48 AS BIGINT) AS bucket
      FROM w ORDER BY doc_id"""
  }

  /** SimHash near-duplicate PAIRS, EXACT within `radius` bit flips —
    * the pair-finding stage the q33 prefix bucket only hints at (a
    * single 16-bit prefix misses any pair whose flipped bits land in
    * the prefix), built as the multi-piece pigeonhole of Manku/Jain/
    * Sarma's simhash dedup (WWW'07; the same structure as
    * [[graft.pipeline.Similarity.binMihTopK]]'s multi-index Hamming,
    * here with the radius < pieces guarantee doing the whole job):
    * split the 64-bit simhash into `pieces` equal sub-words — a pair
    * differing in fewer than `pieces` bits matches EXACTLY on at
    * least one sub-word — so candidates come from a (slot, piece)
    * self-equi-join over N·pieces narrow rows (the q32 banded-join
    * class, never N²), duplicate collisions collapse in a map-side-
    * combined min aggregate, and only colliding pairs pay the exact
    * popcount that keeps dist ≤ radius. Integer arithmetic end to
    * end: recall within the radius is EXACT (pigeonhole, not
    * probability) and the oracle is fully static.
    *
    * Scale shape: candidate volume is Σ_bucket |bucket|² over
    * 2^(64/pieces) buckets per slot — for near-uniform simhash words
    * ~pieces·N²/2^(64/pieces), i.e. vanishing for pieces=4 (2^16
    * buckets/slot); a pathological corpus (millions of IDENTICAL
    * texts) degenerates to the true duplicate-pair volume, which is
    * the answer's own size, not an artifact. */
  def simhashNearDup(docs: DataFrame, radius: Int = 3, pieces: Int = 4): DataFrame = {
    require(pieces > 0 && 64 % pieces == 0, s"pieces $pieces must divide 64")
    require(radius < pieces,
      s"pigeonhole needs radius < pieces (got radius=$radius, pieces=$pieces)")
    val b = 64 / pieces
    val mask = if (b == 64) -1L else (1L << b) - 1
    val shUdf = udf { toks: Seq[String] =>
      simhash64(if (toks == null) Seq.empty else toks) } // null text = empty, the streaming face's rule
    val pp = PartitionUtil.spread(docs)
      .select(col("doc_id"), shUdf(tokens(col("text"))).as("simhash"))
      .select(col("doc_id"), col("simhash"),
        // arithmetic shift + mask reads the same bit window a logical
        // shift would: the mask keeps only bits below the sign fill
        posexplode(expr(s"""transform(sequence(0, ${pieces - 1}), j ->
          shiftright(simhash, CAST(j * $b AS INT)) & ${mask}L)"""))
          .as(Seq("slot", "piece")))
    val aSide = pp.select(col("slot"), col("piece"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val bSide = pp.select(col("slot"), col("piece"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    aSide.join(bSide, Seq("slot", "piece"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("dist", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .groupBy(col("doc_a"), col("doc_b")) // collapse multi-piece collisions
      .agg(min(col("dist")).as("dist"))
      .filter(col("dist") <= radius)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("long").as("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Static DuckDB oracle for [[simhashNearDup]]: the shared simhash
    * word CTEs, the same unsigned shift+mask piece extraction, the
    * same (slot, piece) collision self-join, min-collapse, popcount
    * threshold, and (doc_a, doc_b) ordering. */
  private[graft] def simhashNearDupOracleSql(radius: Int = 3,
                                             pieces: Int = 4): String = {
    val b = 64 / pieces
    val mask = (1L << b) - 1
    s"""WITH $simhashWordCtes,
      pp AS (SELECT doc_id, u, CAST(j AS BIGINT) AS slot,
          CAST((u >> CAST(j * $b AS INT)) & $mask::UBIGINT AS BIGINT) AS piece
        FROM w CROSS JOIN range(0, $pieces) t(j)),
      cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          bit_count(xor(a.u, b.u)) AS dist
        FROM pp a JOIN pp b
        ON a.slot = b.slot AND a.piece = b.piece AND a.doc_id < b.doc_id),
      pairs AS (SELECT doc_a, doc_b, MIN(dist) AS dist
        FROM cand GROUP BY doc_a, doc_b)
      SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist FROM pairs
      WHERE dist <= $radius ORDER BY doc_a, doc_b"""
  }

  /** First-seen simhash near-dup VERDICT — [[firstSeenNearDup]]'s twin
    * on the simhash metric: one row per doc, `dup_of` = the SMALLEST
    * earlier doc within `radius` bit flips (-1 if clean),
    * `is_dup` 0/1. Because [[simhashNearDup]]'s pigeonhole recall is
    * EXACT within the radius, the verdict is exact too — no
    * probabilistic miss to audit. Scale shape: the q179 banded
    * self-join plus one map-side-combined min per flagged doc and a
    * left join back to the doc ids. */
  def firstSeenSimhashDup(docs: DataFrame, radius: Int = 3,
                          pieces: Int = 4): DataFrame = {
    val rep = simhashNearDup(docs, radius, pieces)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("rep"))
    docs.select(col("doc_id")).join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), lit(-1L)).as("dup_of"),
        when(col("rep").isNotNull, 1L).otherwise(0L).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle for [[firstSeenSimhashDup]] — the q179 pair replay
    * reduced to the per-doc first-seen verdict (the
    * [[firstSeenNearDupOracleSql]] shape on the simhash metric). */
  private[graft] def firstSeenSimhashDupOracleSql(radius: Int = 3,
                                                  pieces: Int = 4): String =
    s"""SELECT d.doc_id,
        COALESCE(r.rep, -1) AS dup_of,
        CAST(CASE WHEN r.rep IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
      FROM documents d LEFT JOIN (
        SELECT doc_b AS doc_id, MIN(doc_a) AS rep
        FROM (${simhashNearDupOracleSql(radius, pieces)}) cand
        GROUP BY doc_b) r USING (doc_id)
      ORDER BY d.doc_id"""

  // ---- embedding cosine ----------------------------------------------

  /** Seeded ±1 (Rademacher) hyperplanes: plane j's component k is bit
    * (k mod 64) of mix64 words derived from (seed, j, k/64). Random
    * sign projections are the classic random-hyperplane LSH family
    * (Charikar, STOC'02); ±1 weights make the projection a pure
    * sign-flipped sequential sum, reproducible bit-for-bit in any
    * engine that folds left-to-right. */
  private[graft] def rademacherPlanes(n: Int, dim: Int, seed: Long): Seq[Array[Double]] =
    (0 until n).map { j =>
      Array.tabulate(dim) { k =>
        val word = mix64(seed + j * 0x100000001b3L + (k >> 6))
        if (((word >>> (k & 63)) & 1L) == 1L) 1.0 else -1.0
      }
    }

  /** Approximate embedding near-dup pairs, scale-safe: a banded
    * random-hyperplane bucket prefilter generates candidates, then the
    * EXACT cosine is computed for each candidate and thresholded.
    *
    * Plan shape: each vector computes `bands` band hashes
    * (`rowsPerBand` sign bits each) and explodes to (band_idx,
    * band_hash) keys; candidates come from an equi-join on those keys
    * — per-bucket work, no cross join, no broadcast of the corpus. The
    * re-score joins candidates back to the vectors by id (shuffle
    * hash/sort-merge on ids). Shuffle volume is O(N·bands) narrow rows
    * plus the candidate set — the same inverted-index shape as
    * [[minhashLshPairs]]. Recall is tunable via bands×rowsPerBand
    * (OR-of-ANDs); the planes are seeded, so results are deterministic
    * and reproducible across engines.
    */
  def embeddingNearDupLsh(embeddings: DataFrame, threshold: Double,
                          bands: Int = 8, rowsPerBand: Int = 4,
                          dim: Int = 64, seed: Long = 42L): DataFrame = {
    val spark = embeddings.sparkSession
    // both stages feed TWO consumers each (banded: the candidate
    // self-join's sides; nv: both re-score joins) — materialize each
    // ONCE instead of re-running the 32-plane banding and the
    // normalize per consumer (measured 1.25s -> 0.71s warm at sf0.1;
    // the reused-intermediate move, optimization guide §3.3/§5).
    // O(N·bands) / O(N) narrow rows.
    val (banded0, nv0) = bandedSignatures(embeddings, bands, rowsPerBand, dim, seed)
    val banded = PartitionUtil.materialize(banded0)
    val nv = PartitionUtil.materialize(nv0)
    val a = banded.select(col("band_idx"), col("band_hash"), col("vec_id").as("id_a"))
    val b = banded.select(col("band_idx"), col("band_hash"), col("vec_id").as("id_b"))
    val cand = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(nv.select(col("vec_id").as("id_a"), col("nv").as("va")), Seq("id_a"))
      .join(nv.select(col("vec_id").as("id_b"), col("nv").as("vb")), Seq("id_b"))
      .filter(Similarity.nativeDot(spark)(col("va"), col("vb")) > threshold)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shared banding stage: per vector, `bands` (band_idx, band_hash)
    * keys from seeded ±1 hyperplane sign bits, plus the normalized
    * vector table for exact re-scoring. */
  private[graft] def bandedSignatures(embeddings: DataFrame, bands: Int, rowsPerBand: Int,
                                      dim: Int, seed: Long): (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    def dot(a: Column, b: Column): Column = Similarity.nativeDot(spark)(a, b)
    val planes = rademacherPlanes(bands * rowsPerBand, dim, seed)
    val e = PartitionUtil.spread(embeddings)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val bandStructs = (0 until bands).map { j =>
      val bandHash = (0 until rowsPerBand).map { i =>
        val proj = dot(col("v"), typedLit(planes(j * rowsPerBand + i).toSeq))
        when(proj >= 0, lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(j).as("band_idx"), bandHash.as("band_hash"))
    }
    val banded = e.select(col("vec_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("vec_id"), col("band.band_idx").as("band_idx"),
              col("band.band_hash").as("band_hash"))
    val nv = e.select(col("vec_id"), Similarity.normalizeUdf(col("v")).as("nv"))
    (banded, nv)
  }

  /** Incremental (new-vs-historical) near-dup check — the shape a
    * continuously ingesting corpus needs: does each NEW document
    * near-duplicate anything already accepted? Vectors with
    * `vec_id < splitId` are the historical corpus, the rest are the
    * new batch.
    *
    * Scale shape: signatures are computed in one scan over both sides;
    * the candidate join pairs OLD buckets with NEW buckets only — the
    * (huge) old×old quadrant never forms, and at production scale the
    * historical side's signatures are precomputed once and reused per
    * batch, so each increment costs O(batch + collisions), not
    * O(corpus). Output per contaminated new doc: the number of
    * historical near-dups and the earliest matching id. */
  def incrementalNearDups(embeddings: DataFrame, splitId: Long, threshold: Double,
                          bands: Int = 8, rowsPerBand: Int = 4,
                          dim: Int = 64, seed: Long = 42L): DataFrame = {
    val spark = embeddings.sparkSession
    // same reused-intermediate materialization as
    // [[embeddingNearDupLsh]]: banded feeds the old AND new sides,
    // nv both re-score joins — compute each once
    val (banded0, nv0) = bandedSignatures(embeddings, bands, rowsPerBand, dim, seed)
    val banded = PartitionUtil.materialize(banded0)
    val nv = PartitionUtil.materialize(nv0)
    val old = banded.filter(col("vec_id") < splitId)
      .select(col("band_idx"), col("band_hash"), col("vec_id").as("id_old"))
    val fresh = banded.filter(col("vec_id") >= splitId)
      .select(col("band_idx"), col("band_hash"), col("vec_id").as("id_new"))
    val cand = old.join(fresh, Seq("band_idx", "band_hash"))
      .select(col("id_old"), col("id_new")).distinct()
    cand
      .join(nv.select(col("vec_id").as("id_old"), col("nv").as("vo")), Seq("id_old"))
      .join(nv.select(col("vec_id").as("id_new"), col("nv").as("vn")), Seq("id_new"))
      .filter(Similarity.nativeDot(spark)(col("vo"), col("vn")) > threshold)
      .groupBy(col("id_new"))
      .agg(count(lit(1)).as("n_dups"), min(col("id_old")).as("first_dup"))
      .orderBy(col("id_new"))
  }

  /** DuckDB oracle for [[embeddingNearDupLsh]]: the identical seeded
    * planes are inlined as ±1 literals, band hashes are recomputed with
    * a left-fold projection (same order as the codegen'd vec_dot loop),
    * candidates are pairs agreeing on any band, and the final filter is
    * the same exact-cosine threshold. */
  private[graft] def embeddingLshOracleSqlBody(threshold: Double, bands: Int,
                                               rowsPerBand: Int, dim: Int,
                                               seed: Long,
                                               pairCond: String = "a.vec_id < c.vec_id"): String = {
    val planes = rademacherPlanes(bands * rowsPerBand, dim, seed)
    val bandExprs = (0 until bands).map { j =>
      (0 until rowsPerBand).map { i =>
        val w = planes(j * rowsPerBand + i)
          .map(x => if (x > 0) "1" else "-1").mkString("[", ",", "]")
        val proj = s"list_reduce(list_transform(range(1, ${dim + 1}), " +
          s"k -> v[k] * ($w)[k]), (x, y) -> x + y)"
        s"(CASE WHEN $proj >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ") + s" AS b$j"
    }.mkString(",\n      ")
    val orCond = (0 until bands).map(j => s"a.b$j = c.b$j").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v,
      $bandExprs
      FROM e)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b
    FROM b a JOIN b c ON ($pairCond) AND ($orCond)
    WHERE list_cosine_similarity(a.v, c.v) > $threshold"""
  }

  /** Semantic dedup — the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into clusters,
    * then prune near-duplicates WITHIN clusters only. A vector is
    * dropped when ANY lower-id vector in the same cluster (kept or
    * itself dropped) has quantized cosine ≥ threshold — note this is
    * the id-ordered drop rule, not a greedy kept-representative rule:
    * on a similarity chain a~b, b~c, a≁c it keeps only `a` (c's only
    * near neighbor b is dropped, and c still drops because b precedes
    * it). A pipeline that needs every pruned vector to retain a KEPT
    * near-duplicate should use the greedy keep-set variant instead;
    * the oracle mirrors this exact rule. Clusters here are the
    * deterministic grid-mean centroids of
    * [[Similarity.gridCentroidAssignment]] (a production run would fit
    * them like the IVF quantizer — the pruning contract is identical).
    *
    * Scale shape: this is the point of SemDeDup — candidate pairs form
    * only inside a cluster (equi-join on cluster id), so the quadratic
    * term is Σ|cluster|², bounded by growing the cluster count with
    * the corpus, never N². One corpus scan for assignment (broadcast
    * centroids), one self-join on cluster id over normalized vectors,
    * one anti-join to flag survivors. Cosines land on the 1e-4 grid
    * before thresholding, so the keep set is bit-identical across
    * engines and partitionings.
    *
    * Output per vector: (vec_id, cluster, keep). */
  def semDedup(embeddings: DataFrame, threshold: Double, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    val tq = math.floor(threshold * 10000.0).toLong
    // the assignment subtree (grid-centroid fit + broadcast-NL score +
    // normalize) feeds THREE consumers (both pair sides + the final
    // keep join); materialize it ONCE instead of per consumer — the
    // round-16 before-plan showed 3 copies of the fit/score pipeline
    // (3 BroadcastNestedLoopJoins), and the checkpointed shape
    // measured 1.91s -> 1.12s warm at sf0.1. O(N) narrow rows
    // (vec_id, cluster, nv), the standard reused-intermediate
    // materialization (optimization guide §3.3/§5).
    val av = PartitionUtil.materialize(
      Similarity.gridCentroidAssignment(embeddings)
        .select(col("vec_id"), col("cluster"),
          Similarity.normalizeUdf(col("v")).as("nv")))
    val a = av.select(col("cluster"), col("vec_id").as("id_a"), col("nv").as("va"))
    val b = av.select(col("cluster"), col("vec_id").as("id_b"), col("nv").as("vb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_b") < col("id_a"))
      .filter(floor(Similarity.nativeDot(spark)(col("va"), col("vb"))
        * lit(10000.0)).cast("long") >= lit(tq))
      .select(col("id_a").as("vec_id")).distinct()
      .withColumn("is_dup", lit(1L))
    av.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("is_dup").isNull, 1L).otherwise(0L).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[semDedup]]: the assignment CTEs come from the
    * same builder as the q79 oracle, normalization and the dot are the
    * identical left folds, and the drop rule is an independent
    * EXISTS-style LEFT JOIN formulation. */
  private[graft] def semDedupOracleSql(threshold: Double, dim: Int = 64): String = {
    val tq = math.floor(threshold * 10000.0).toLong
    def fold(prod: String) =
      s"list_reduce(list_transform(range(1, ${dim + 1}), k -> $prod), (x, y) -> x + y)"
    s"""WITH ${Similarity.centroidAssignCtes(dim)},
      nrm AS (SELECT vec_id, clabel AS cluster, v,
          sqrt(${fold("v[k] * v[k]")}) AS nm
        FROM r WHERE rn = 1),
      av AS (SELECT vec_id, cluster,
          list_transform(v, x -> CASE WHEN nm = 0 THEN 0.0 ELSE x / nm END) AS nv
        FROM nrm),
      dup AS (SELECT DISTINCT a.vec_id
        FROM av a JOIN av b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
        WHERE CAST(FLOOR(${fold("a.nv[k] * b.nv[k]")} * 10000.0) AS BIGINT) >= $tq)
      SELECT av.vec_id, av.cluster,
        CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM av LEFT JOIN dup ON av.vec_id = dup.vec_id
      ORDER BY av.vec_id"""
  }

  /** DuckDB oracle for [[incrementalNearDups]]: the same seeded-plane
    * pair SQL restricted to old×new pairs, grouped per new id. */
  private[graft] def incrementalNearDupOracleSql(splitId: Long, threshold: Double,
                                                 bands: Int, rowsPerBand: Int,
                                                 dim: Int, seed: Long): String = {
    val body = embeddingLshOracleSqlBody(threshold, bands, rowsPerBand, dim, seed,
      pairCond = s"a.vec_id < $splitId AND c.vec_id >= $splitId")
    s"""WITH pairs AS ($body)
    SELECT id_b AS id_new, CAST(COUNT(*) AS BIGINT) AS n_dups, MIN(id_a) AS first_dup
    FROM pairs GROUP BY 1 ORDER BY id_new"""
  }

  private[graft] def embeddingLshOracleSql(threshold: Double, bands: Int,
                                           rowsPerBand: Int, dim: Int,
                                           seed: Long): String =
    embeddingLshOracleSqlBody(threshold, bands, rowsPerBand, dim, seed) +
      "\n    ORDER BY id_a, id_b"

  /** DuckDB oracle for [[dedupGroups]] over [[embeddingNearDupLsh]]
    * pairs: a recursive CTE computes each node's min reachable id —
    * the same fixpoint the iterative min-label propagation converges
    * to — then groups into (rep, n_docs). */
  private[graft] def dedupGroupsOracleSql(threshold: Double, bands: Int,
                                          rowsPerBand: Int, dim: Int,
                                          seed: Long): String = {
    val pairsBody = embeddingLshOracleSqlBody(threshold, bands, rowsPerBand, dim, seed)
    s"""WITH RECURSIVE
    pairs AS ($pairsBody),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
    reps AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
    SELECT rep, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM reps GROUP BY rep ORDER BY rep"""
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise matches into DEDUP GROUPS (keep one canonical document
    * per cluster). Every node gets the smallest doc id reachable
    * through the pair graph as its representative, via iterative
    * min-label propagation to fixpoint.
    *
    * Scale notes: each iteration is one equi-join + min-aggregation
    * (all shuffles on ids); iterations needed = graph diameter, and
    * near-dup components are shallow (dup clusters, not social
    * graphs). For adversarially long chains the classic
    * large-star/small-star refinement halves diameter per round — the
    * per-iteration plan here is the same building block. Input pairs
    * must satisfy id_a < id_b; output is (id, rep).
    */
  def dedupGroups(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // Iterative algorithms MUST truncate lineage every round: each round
    // references the previous labels three times, so without
    // checkpointing the logical plan grows 3^rounds. The default
    // localCheckpoint materializes the round's result and replaces its
    // plan with the stored partitions; the session conf
    // `graft.checkpointDir` swaps in reliable checkpoints there, so an
    // executor loss at production scale re-reads one round's state
    // instead of replaying the chain.
    // materialize the pair plan BEFORE symmetrizing: the union's two
    // branches otherwise each re-execute the (possibly expensive)
    // upstream near-dup computation
    val p0 = PartitionUtil.materialize(pairs.select(col("id_a"), col("id_b")))
    // driver fast path — the graph-family bounded-collect pattern
    // (Graph.scala header note): near-dup pair sets are output-bounded
    // and tiny next to the corpus, while each distributed CC round
    // costs 2 joins + 1 agg + a convergence count of pure stage
    // latency. Below the cap the SAME min-label + pointer-jumping
    // iteration (same rounds, same maxIters accounting, same loud
    // non-convergence failure) runs on the collected pairs. The
    // distributed loop is the fallback for pair sets that outgrow the
    // cap (a pathological corpus where near-everything collides).
    PartitionUtil.venue[(Long, Long)](p0, p0.count(),
        PartitionUtil.DriverCap("graft.dedup.maxDriverPairs", 2000000L),
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, rep BIGINT")) { pArr =>
      val nbrs = (pArr.map { case (a, b) => (a, b) } ++
        pArr.map { case (a, b) => (b, a) })
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      // fused round 0, as distributed: rep = min(id, min neighbor id)
      var labels = nbrs.map { case (v, ns) => v -> math.min(v, ns.min) }
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIters) {
        val stepped = labels.map { case (id, rep) =>
          val nbrMin = nbrs(id).iterator.map(labels).min
          id -> math.min(rep, nbrMin)
        }
        // pointer jump reads the PREVIOUS round's labels, exactly like
        // the distributed `jumped` join
        val prev = labels
        val jumped = stepped.map { case (id, mid) =>
          id -> math.min(mid, prev.getOrElse(mid, mid))
        }
        changed = jumped.count { case (id, rep) => rep != labels(id) }
        labels = jumped
        iter += 1
      }
      require(changed == 0L,
        s"dedupGroups did not converge after $maxIters rounds ($changed labels still moving)")
      labels
    } {
      // lazy checkpoint: materialized by the first round's convergence
      // count — p0 above is eager so the union's two branches read the
      // stored pair partitions instead of re-running the upstream plan
      val sym = PartitionUtil.materialize(
        p0.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(p0.select(col("id_b").as("src"), col("id_a").as("dst"))),
        eager = false)
      // fused round 0: from identity labels, one propagation step is just
      // rep = min(id, min neighbor id) — no distinct, no join
      var labels = PartitionUtil.materialize(
        sym.groupBy(col("src")).agg(min(col("dst")).as("m"))
          .select(col("src").as("id"), least(col("src"), col("m")).as("rep")),
        eager = false)
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIters) {
        // one propagation step: rep := min(rep, min of neighbors' reps)
        val nbrMin = sym.join(labels.select(col("id").as("dst"), col("rep").as("nbr_rep")), Seq("dst"))
          .groupBy(col("src")).agg(min(col("nbr_rep")).as("nbr_min"))
        val stepped = labels
          .join(nbrMin.select(col("src").as("id"), col("nbr_min")), Seq("id"), "left")
          .select(col("id"), col("rep").as("old_rep"),
            least(col("rep"), coalesce(col("nbr_min"), col("rep"))).as("mid"))
        // pointer jumping: rep := min(rep, rep(rep)) — labels double-hop
        // per round, so rounds grow as log(diameter), not diameter
        val jumped = stepped
          .join(labels.select(col("id").as("mid"), col("rep").as("jump")), Seq("mid"), "left")
          .select(col("id"), col("old_rep"),
            least(col("mid"), coalesce(col("jump"), col("mid"))).as("rep"))
        // the convergence count materializes it
        val jumpedM = PartitionUtil.materialize(jumped, eager = false)
        changed = jumpedM.filter(col("rep") =!= col("old_rep")).count()
        labels = jumpedM
        iter += 1
      }
      // fail LOUDLY on non-convergence: a silent exit here would hand
      // downstream keep/drop decisions labels that still point into the
      // middle of a chain. With pointer jumping rounds grow as
      // log2(diameter), so 50 rounds covers any graph that fits on
      // earth; hitting this is a bug or an adversarial input worth
      // knowing about, not something to paper over.
      require(changed == 0L,
        s"dedupGroups did not converge after $maxIters rounds ($changed labels still moving)")
      labels.select(col("id"), col("rep"))
    }
  }

  /** Canonical representative selection — the final keep/drop decision
    * of a dedup pipeline: near-dup pairs become connected-component
    * groups ([[dedupGroups]]), and each multi-member group keeps its
    * highest-quality document (max `score`, ties to the LOWEST id so
    * the choice is deterministic). Docs with no near-dup pair never
    * enter the pair graph, so every output group has >= 2 members —
    * the output is exactly the set of groups where documents will be
    * dropped (keep `keep_id`, drop the other n_docs-1).
    *
    * Scale shape: the CC labels join to the (id, score) table on id
    * (shuffle hash join), then ONE aggregation per group computes the
    * count and the argmax via a struct-max. Struct-typed buffers are
    * not hash-aggregable, so Spark plans partial+final SortAggregate —
    * still map-side combined with a single exchange on rep, and no
    * per-group Window sort. Output: (rep, n_docs, keep_id, keep_score),
    * unordered.
    */
  def canonicalKeep(pairs: DataFrame, scored: DataFrame,
                    idCol: String = "doc_id", scoreCol: String = "n_chars"): DataFrame = {
    val labels = dedupGroups(pairs) // (id, rep)
    labels
      .join(scored.select(col(idCol).as("id"), col(scoreCol).as("score")), Seq("id"))
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("n_docs"),
           // argmax by (score, -id): higher score wins, ties pick the
           // smaller id — one aggregation, no window/sort per group
           max(struct(col("score").as("s"), (-col("id")).as("negid"))).as("best"))
      .select(col("rep"), col("n_docs"),
              (-col("best.negid")).as("keep_id"),
              col("best.s").as("keep_score"))
  }

  /** DuckDB oracle for [[canonicalKeep]] over [[minhashLshPairs]]
    * candidates: the mirrored MinHash pair SQL feeds the same
    * recursive-CTE fixpoint as [[dedupGroupsOracleSql]]; the keep
    * choice is re-derived INDEPENDENTLY via a ROW_NUMBER window
    * (score DESC, id ASC) rather than the struct-max formulation. */
  private[graft] def canonicalKeepOracleSql(shingleN: Int, numHashes: Int,
                                            bands: Int): String = {
    val pairsBody = minhashLshOracleSqlBody(shingleN, numHashes, bands)
    s"""WITH RECURSIVE
    pairs AS ($pairsBody),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
    reps AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
    scored AS (SELECT reps.rep, reps.id, d.n_chars AS score
      FROM reps JOIN documents d ON d.doc_id = reps.id),
    ranked AS (SELECT rep, id, score,
        ROW_NUMBER() OVER (PARTITION BY rep ORDER BY score DESC, id ASC) AS rn,
        COUNT(*) OVER (PARTITION BY rep) AS n_docs
      FROM scored)
    SELECT rep, CAST(n_docs AS BIGINT) AS n_docs, id AS keep_id,
      score AS keep_score
    FROM ranked WHERE rn = 1 ORDER BY rep"""
  }

  /** Exact all-pairs embedding near-dups above a cosine threshold.
    * Brute force — O(N²) pairs, for small corpora and as the recall
    * oracle for [[embeddingNearDupLsh]]; the corpus-scale path is the
    * bucketed prefilter above. */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val e = PartitionUtil.spread(embeddings).select(col("vec_id"),
      Similarity.normalizeUdf(Similarity.asDouble(col("embedding"))).as("v"))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(Similarity.nativeDot(embeddings.sparkSession)(col("va"), col("vb")) > threshold)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
