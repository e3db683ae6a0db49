package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{array, col, expr, greatest, least, lit, shiftrightunsigned, sum, udaf, when}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.{ContentHashExpression, KmvMergeAggregator}
import graft.pipeline.Graph
import graft.queries.QueryDsl

/** Physical plan shapes: the properties that matter at 100 TB
  * (filter/column pushdown to parquet, broadcast of dimension tables,
  * no cartesian stage, one join per loop round) asserted as required
  * and forbidden substrings of each plan. One test per audit; a failure
  * names the query, and its clue carries why the shape matters and the
  * head of the formatted plan. `ExplainDump` writes whole plans on
  * demand. */
class PlanShapeSpec extends AnyFunSuite with Matchers {
  private val sf = "/root/testdata/sf0.001"

  // the audits assert the AT-SCALE (distributed) shapes, so the
  // small-graph driver fast path is off: every graph operator would
  // otherwise return a LocalTableScan of the driver kernel's result
  // and there would be no plan to audit. GraphSpec pins the driver
  // path against the distributed one. A session of its own keeps the
  // caps from every other suite.
  private def auditSession(confs: (String, String)*): SparkSession = {
    val s = SparkTestSession.spark.newSession()
    (Seq("graft.graph.maxDriverEdges" -> "0", "graft.graph.maxDriverEdgesQuadratic" -> "0") ++
      confs).foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
  private lazy val spark = auditSession()

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def assertShape(why: String, shown: String, plan: String,
                          required: Seq[String], forbidden: Seq[String]): Unit =
    withClue(s"$why\n$shown\n") {
      required.filterNot(plan.contains) shouldBe empty
      forbidden.filter(plan.contains) shouldBe empty
    }

  // (query, why the shape survives a 100 TB scale-up, required
  // substrings, forbidden substrings) of the formatted plan
  private val audits: Seq[(String, String, Seq[String], Seq[String])] = Seq(
    ("q02_filter_project",
      "predicate + column pushdown reach the parquet scan: only 4 of 11 " +
        "lineitem columns are read and both filters prune row groups",
      Seq("PushedFilters", "GreaterThanOrEqual(l_quantity,45.0)", "EqualTo(l_returnflag,R)"),
      Seq.empty),
    ("q01_pricing_summary",
      "scan → partial agg → shuffle on group keys → final agg, all inside " +
        "WholeStageCodegen; map-side partial aggregation bounds the shuffle " +
        "to |groups|·partitions rows regardless of input size",
      // (formatted mode under AQE doesn't print codegen stage markers;
      // partial+final HashAggregate pairs and scan pushdown are the
      // asserted shape)
      Seq("HashAggregate", "PushedFilters"),
      Seq.empty),
    ("q03_top_orders",
      "the BUILDING customer dim is broadcast (no shuffle of the fact " +
        "side for that join); TakeOrderedAndProject caps the sort at k",
      Seq("BroadcastHashJoin", "TakeOrderedAndProject"),
      Seq.empty),
    ("q05_region_revenue",
      "star join: every dimension (customer/supplier/nation/region) is " +
        "broadcast; the 100 TB lineitem side shuffles once, for the " +
        "orders equi-join",
      Seq("BroadcastHashJoin"),
      Seq.empty),
    ("q04_order_priority",
      "EXISTS compiles to a left-semi hash join — the probe side short-" +
        "circuits on first match, no row multiplication",
      Seq("LeftSemi"),
      Seq.empty),
    ("q12_window_running",
      "running sum: single shuffle on l_suppkey, sort within partitions, " +
        "streaming window frame (no materialized cross product)",
      Seq("Window", "Sort"),
      Seq.empty),
    ("q29_ann_topk",
      "brute-force ANN: query vectors broadcast, corpus scanned once; " +
        "top-k via the map-side-combining TopKAggregator (partial " +
        "k-element buffers per map partition — no full sort of the " +
        "candidate set, which a window row_number would require)",
      Seq("BroadcastNestedLoopJoin", "TopKAggregator"),
      Seq.empty),
    ("q116_filtered_ann",
      "filtered vector search: the corpus attribute predicate reaches " +
        "the parquet reader as a pushed In filter — at 100 TB the " +
        "selective attribute prunes row groups BEFORE any vector math; " +
        "then the same broadcast-query single-scan ANN plan as q29",
      Seq("PushedFilters", "In(label", "BroadcastNestedLoopJoin",
        "TopKAggregator"),
      Seq.empty),
    ("q117_diverse_topk",
      "diversity-capped retrieval: the per-(query,label) cap is a " +
        "map-side-combining TopKAggregator, so the shuffle carries at " +
        "most cap rows per (query,label) per partition; the final rank " +
        "window runs on the ≤ cap·|labels| survivors per query, never " +
        "the |Q|·N candidate set",
      Seq("BroadcastNestedLoopJoin", "TopKAggregator", "Window"),
      Seq.empty),
    ("q31_ngram_jaccard",
      "EXACT prefix-filtered similarity join: only each doc's " +
        "sz−⌈t·sz⌉+1 rarest shingles are indexed (no false negatives " +
        "by the AllPairs prefix theorem), so hot stop-shingles never " +
        "enter the inverted index; candidates equi-join on 8-byte " +
        "xxhash64 prefix keys and re-score exactly on the full " +
        "shingle sets — no cross join anywhere in the plan",
      Seq("xxhash64"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    ("q36_embedding_neardup",
      "embedding near-dup is a banded hyperplane-bucket prefilter — an " +
        "EQUI-join on (band_idx, band_hash) — plus an exact cosine " +
        "re-score of the candidates joined back by id. The corpus is " +
        "never crossed with itself: shuffle volume is O(N·bands) narrow " +
        "rows plus the candidate set. The banding and normalize " +
        "stages are materialized once (round-16: each fed two " +
        "consumers and re-ran per consumer; 1.25s -> 0.71s warm)",
      Seq.empty,
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    ("img11_ddl_source",
      "DSv2 image catalog: pixel generation happens in the scan only " +
        "because stats(image) needs it — see next audit for pruning",
      Seq("BatchScan imagedebug"),
      Seq.empty),
    ("q58_doc_freq",
      "global top-k terms compiles to TakeOrderedAndProject — partial " +
        "top-50 per partition rides the shuffle, never a full sort of " +
        "the vocabulary; the rank window then runs on 50 rows only",
      Seq("TakeOrderedAndProject"),
      Seq.empty),
    ("q57_train_split",
      "content-hash split: one hash-aggregate pipeline (partial + " +
        "final) over a single corpus scan — no joins, no window",
      Seq("HashAggregate"),
      Seq("Join")),
    ("q60_asof_join",
      "as-of join compiles to union + ONE hash-partition exchange on " +
        "the key + a running-window last(): there is NO join node of " +
        "any kind in the plan — the inequality-join formulation " +
        "Catalyst would pick for the same semantics is a per-key " +
        "cartesian",
      Seq("Window"),
      Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct")),
    ("q61_window_join",
      "time-window join: the user_id equi-key carries the shuffle; the " +
        "30-minute range predicate filters inside key groups — never a " +
        "nested-loop over unrelated users",
      Seq.empty,
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    ("q62_range_join",
      "pure range join (no equi-key) runs as the bucketized EQUI-join: " +
        "intervals explode (Generate) to covered 10-min buckets, points " +
        "compute one bucket, candidates equi-join on it and the exact " +
        "range predicate filters — Catalyst's native plan for the raw " +
        "inequality is a BroadcastNestedLoopJoin, quadratic at scale",
      Seq("Generate"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    ("q73_range_join_auto",
      "the RAW inequality-join formulation of q62, rewritten by the " +
        "RangeJoinRewrite optimizer rule (extraOptimizations / " +
        "GraftExtensions) into the bucketized equi-join: Generate " +
        "explodes intervals to covered buckets and the nested-loop " +
        "fallback Catalyst would otherwise emit never appears",
      Seq("Generate"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    ("q92_gram_matrix",
      "Gram matrix: the corpus reduces through ONE typed aggregation " +
        "with a d(d+1)/2 buffer (map-side partials; shuffle is " +
        "O(partitions*d^2)); the posexplode and index join run on " +
        "the single 2080-element result row, never the corpus — no " +
        "N*d^2 triple explosion",
      Seq("ObjectHashAggregate", "Generate", "BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    ("q90_mixture_alloc",
      "mixture allocation: the corpus reduces through ONE map-side-" +
        "combining hash aggregation to |sources| rows; the global-" +
        "total window runs on that constant-size result — the " +
        "single-partition window the plan shows is |sources| rows, " +
        "never the corpus",
      Seq("HashAggregate", "Window"),
      Seq("Join", "CartesianProduct")),
    ("q91_corpus_shards",
      "corpus sharding: one hash-partition exchange on shard + a " +
        "within-shard sort for position — position assignment never " +
        "global-sorts by hash (no rangepartitioning on h; the final " +
        "doc_id orderBy is the oracle's presentation contract, " +
        "dropped in production use), no join",
      Seq("Window", "hashpartitioning"),
      Seq("rangepartitioning(h#", "Join", "CartesianProduct")),
    ("q89_boilerplate_removal",
      "boilerplate removal: chunk document-frequency reduces through " +
        "a map-side-combining hash aggregation; the flag join is keyed " +
        "on xxhash64(ctext) — 8 bytes per boilerplate entry, never the " +
        "chunk text, and no forced driver-side broadcast (on a web " +
        "crawl the >= minDocs chunk set is the nav bars/footers of the " +
        "whole crawl — enormous at 100 TB). AQE remains free to pick a " +
        "broadcast of the hashes when the set is genuinely small, as " +
        "at bench scale",
      Seq("xxhash64", "HashAggregate"),
      Seq("CartesianProduct")),
    ("q95_snapshot_diff",
      "snapshot diff: each side reduces to (doc_id, md5) BEFORE the " +
        "shuffle — the 32-byte digest crosses the exchange, never the " +
        "text payload — then one full-outer sort-merge join on doc_id " +
        "and a per-row CASE; cost O(|old|+|new|), no re-read of " +
        "unchanged payloads",
      Seq("SortMergeJoin", "FullOuter", "md5"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q96_canonical_keep",
      "canonical keep: CC labels (iterations already materialized via " +
        "localCheckpoint) join the score table on id, then ONE " +
        "aggregation computes count + struct-max argmax per group. " +
        "Struct-typed buffers aren't hash-aggregable, so Spark plans " +
        "partial+final SortAggregate — still map-side combined with a " +
        "single exchange on rep, and no per-group Window sort",
      Seq("SortAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q88_range_join_ts",
      "q73's raw inequality join on NATIVE TimestampType columns " +
        "(interval arithmetic, no manual unix_micros prep): " +
        "RangeJoinRewrite bucketizes through UnixMicros — exact on " +
        "the internal µs longs — so the Generate equi-join plan " +
        "replaces the nested-loop fallback here too",
      Seq("Generate"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    ("q68_skew_join",
      "salted skew join: both sides join on (user_id, _salt) so a hot " +
        "user spreads over 8 tasks; the salt never reaches the output " +
        "(proved by the plain-join oracle)",
      Seq("_salt"),
      Seq.empty),
    ("q106_zorder_scan",
      "Z-order clustered scan: both box predicates are pushed to the " +
        "parquet scan of the z-laid table, where footer min/max " +
        "stats prune files/row-groups in BOTH dimensions (the " +
        "file-count evidence is in ScaleTechniquesSpec)",
      Seq("PushedFilters", "GreaterThanOrEqual(o_custkey,100)",
        "GreaterThanOrEqual(o_day,100)"),
      Seq.empty),
    ("q105_partition_pruning",
      "hive-style partition pruning: the month filter resolves " +
        "against the file index — PartitionFilters in the scan, one " +
        "directory of a month-partitioned lake touched, no data file " +
        "from any other month opened",
      Seq("PartitionFilters", "1995-03"),
      Seq.empty),
    ("q102_bm25_index",
      "BM25 index: two linear token aggregations (per-doc tf, " +
        "per-token df) hash-join on their keys; the corpus totals " +
        "(N, T) arrive as a broadcast 1-row build side — the one " +
        "place BroadcastNestedLoopJoin is the right plan; scoring is " +
        "integer products + one division, all codegen'd",
      Seq("BroadcastNestedLoopJoin"),
      Seq("CartesianProduct")),
    ("q103_source_filter",
      "source-level curation: the per-source verdict (|sources| rows) " +
        "broadcasts back onto the corpus as a hash join — the " +
        "documents side never shuffles",
      Seq("BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q104_gopher_rules",
      "Gopher rules: two map-side-combined hash aggregations " +
        "((doc,token) tf, then per-doc rule stats) — no join node of " +
        "any kind in the plan; every ratio is an integer " +
        "cross-multiplication inside the aggregate projection",
      Seq("HashAggregate"),
      Seq("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
        "BroadcastNestedLoopJoin")),
    ("q101_bucketed_join",
      "bucketed co-located join: both sides written bucketBy(8, " +
        "orderkey) at ingest, so the SortMergeJoin AND the per-key " +
        "aggregate consume the scans' hashpartitioning directly — the " +
        "whole join+agg plan has NO Exchange node of any kind (the " +
        "scans show SelectedBucketsCount); at 100 TB the recurring " +
        "fact-fact shuffle becomes a one-time ingest cost",
      Seq("SortMergeJoin", "SelectedBucketsCount"),
      Seq("Exchange")),
    ("q46_ann_ivf",
      "IVF search: the quantizer fits driver-side on a sample, the " +
        "corpus is assigned in one scan via a broadcast-centroid " +
        "projection, and probing is an equi-join on cluster id with " +
        "the probe table broadcast — no corpus cross join",
      Seq("BroadcastHashJoin", "TopKAggregator"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    ("q77_decontam_bloom",
      "Bloom decontamination: the benchmark shingle set becomes a " +
        "broadcast Bloom bit array filtering the train shingle stream " +
        "AT THE SCAN (the UDF predicate sits in the scan-side Filter, " +
        "before any exchange); survivors verify through a broadcast " +
        "LEFT-SEMI join against the true set — the corpus never " +
        "shuffles its clean shingles anywhere",
      Seq("LeftSemi"),
      Seq("CartesianProduct")),
    ("q78_incremental_neardup",
      "incremental near-dup: candidates come from an EQUI-join of OLD " +
        "band buckets against NEW band buckets (vec_id-split filters " +
        "on each side of the join) — the old×old quadrant never " +
        "forms and no nested loop appears",
      Seq.empty,
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    ("q79_centroid_assign",
      "nearest-centroid assignment: centroids reduce through a " +
        "map-side-combining hash aggregation into |labels|·dim cells; " +
        "assignment is a broadcast nested loop against the |labels| " +
        "centroid ROWS (a constant-size build side — this is the one " +
        "place BNLJ is the right plan) and the argmin is a hash " +
        "aggregate struct-min, not a sort or window",
      Seq("HashAggregate", "vec_dot"),
      Seq("Window", "CartesianProduct")),
    ("q114_pq_encode",
      "PQ encode: codebooks reduce through the q79 map-side-combining " +
        "hash aggregation (|labels|·dim cells); encoding is a " +
        "broadcast nested loop against the |labels| codebook ROWS " +
        "(constant-size build side) with per-subspace vec_dot slices, " +
        "and all m argmins collapse into ONE hash-aggregate " +
        "struct-min pass — no sort, no window, one corpus scan",
      Seq("HashAggregate", "vec_dot"),
      Seq("Window", "CartesianProduct")),
    ("q97_semdedup",
      "semantic dedup: cluster assignment reuses the q79 broadcast-" +
        "centroid shape and is MATERIALIZED ONCE (round-16: it fed " +
        "three consumers and re-ran per consumer — 3 BNLJ copies in " +
        "the old plan; 1.91s -> 1.12s warm); the cosine-pruning " +
        "candidate join is an EQUI-join on cluster id (quadratic " +
        "work bounded per cluster by construction — SemDeDup's " +
        "contract), and the survivor flag is a left outer join " +
        "against the distinct dropped set — the corpus never " +
        "cross-joins itself",
      Seq("vec_dot"),
      Seq("CartesianProduct")),
    ("q108_bigram_lm",
      "bigram LM: bigrams derive INSIDE each row's token array " +
        "(slice+arrays_zip, codegen'd) so the corpus token stream is " +
        "scanned and aggregated ONCE; c(a.) is a window over the " +
        "already-aggregated |bigram types| table (vocab-sized sort, " +
        "never corpus-sized); top-k is TakeOrderedAndProject — no " +
        "join node anywhere",
      Seq("HashAggregate", "Window", "TakeOrderedAndProject"),
      Seq("Join", "CartesianProduct")),
    ("q113_bigram_surprise",
      "bigram surprise scoring: LM-build pass (aggregate + " +
        "vocab-sized window) and scoring pass equi-join on (a,b) — " +
        "the two passes a train-then-score pipeline has by " +
        "definition; surprise is BIGINT grid division inside the " +
        "projection and the per-doc re-agg is map-side combined; no " +
        "nested loop, no per-doc window",
      Seq("HashAggregate", "Window"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q112_leakage_safe_split",
      "leakage-safe split: CC labels (iterations materialized via " +
        "localCheckpoint) left-join the corpus on id, the rep's text " +
        "arrives by one more hash join, and the split is a per-row " +
        "md5-bucket projection — no window, no global sort, no " +
        "nested loop anywhere in the assignment",
      Seq.empty,
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q111_scd2_history",
      "SCD2 version history: ONE hash-partition exchange on user_id " +
        "feeds both the LEAD window and (via the same sort) the " +
        "version rows — no join, no self-join of the event log " +
        "against itself (the naive SCD2 formulation), no second " +
        "shuffle",
      Seq("Window", "hashpartitioning(user_id"),
      Seq("Join", "CartesianProduct")),
    ("q110_upsert",
      "corpus upsert/MERGE: the base snapshot never shuffles — " +
        "deletes and replaced rows drop out of ONE broadcast " +
        "left-anti join against the change-feed key set, upserts " +
        "union in behind it; no full-outer join of base against " +
        "feed, no sort of the base",
      Seq("BroadcastHashJoin", "LeftAnti"),
      Seq("SortMergeJoin", "FullOuter", "CartesianProduct")),
    ("q109_bm25_search",
      "BM25 retrieval: per-doc length AND per-term tf from ONE " +
        "conditional aggregation; the corpus-stats side re-reduces " +
        "the same per-doc aggregate, and ReuseExchange collapses the " +
        "two consumers onto one physical corpus scan; stats come " +
        "back as a broadcast 1-row build side (the acceptable BNLJ); " +
        "top-k is TakeOrderedAndProject, never a global sort",
      Seq("ReusedExchange", "TakeOrderedAndProject",
        "BroadcastNestedLoopJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    ("q98_length_quantiles",
      "length quantiles: ONE map-side-combining hash aggregation " +
        "reduces the corpus to (lang, len) counts; the rank windows " +
        "run over DISTINCT lengths per lang (bounded domain) — no " +
        "global sort of documents, no join",
      Seq("HashAggregate", "Window"),
      Seq("Join", "CartesianProduct")),
    ("q99_vocab_coverage",
      "vocab coverage: the top-V vocabulary cut is TakeOrdered over " +
        "the aggregated vocabulary domain (never the corpus); scoring " +
        "joins the token stream against the broadcast V-row vocab — " +
        "the stream itself never shuffles for the join",
      Seq("TakeOrderedAndProject", "BroadcastHashJoin"),
      Seq("SortMergeJoin", "CartesianProduct")),
    ("q100_dup_spans",
      "duplicated spans: positions carry 16-byte shingle digests " +
        "(never shingle text) into the doc-frequency aggregation; the " +
        "position semi-join is a LeftSemi hash join; island windows " +
        "partition BY DOC over in-doc positions — no global window, " +
        "no cross join",
      Seq("LeftSemi", "md5"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q80_seq_packing",
      "sequence packing: one window cumsum partitioned by lang — a " +
        "single hash-partition exchange of narrow (id, lang, count) " +
        "rows; no join",
      Seq("Window"),
      Seq("Join", "CartesianProduct")),
    ("q81_token_rarity",
      "token rarity: explode → vocabulary-sized frequency aggregate → " +
        "equi-join back on token → per-doc re-aggregation; both " +
        "aggregations are partial+final HashAggregates (map-side " +
        "combine bounds both shuffles); no cross join",
      Seq("HashAggregate"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
    ("q82_int8_quant",
      "int8 quantization: pure per-row projection work — the plan is " +
        "scan → project → sort for the output order, with NO join and " +
        "NO aggregation exchange; at 100 TB this pipelines with the scan",
      Seq.empty,
      Seq("Join", "HashAggregate")),
    ("q83_cdc_chunks",
      "CDC chunk dedup: chunk hashes explode from a per-row UDF and " +
        "reduce through one partial+final hash aggregation on the " +
        "8-byte chunk hash; no join",
      Seq("HashAggregate", "Generate"),
      Seq("Join", "CartesianProduct")),
    ("q86_heavy_hitters",
      "heavy hitters: ONE prior scan computes the bounded-memory " +
        "Misra–Gries sketch AND the stream total (a single 1-row " +
        "action, pulled to the driver as a broadcast threshold); the " +
        "plan here is the second and final scan — the exact recount " +
        "with the ≤ k candidates inlined as a codegen'd INSET filter " +
        "before the aggregation. No join anywhere; the full " +
        "vocabulary is never aggregated or shuffled",
      Seq("INSET", "HashAggregate"),
      Seq("Join", "CartesianProduct")),
    ("q114b_pq_kmeans",
      "PQ k-means encode: codebooks fit once on the bounded " +
        "content-hash sample (driver-side, corpus-size-free — the " +
        "q46 quantizer pattern) and ship as a broadcast; encoding is " +
        "pure per-row projection work against them — scan → project " +
        "→ output sort with NO join and NO aggregation exchange; at " +
        "100 TB this pipelines with the scan",
      Seq.empty,
      Seq("Join", "HashAggregate", "CartesianProduct")),
    ("q115_rrf_fusion",
      "hybrid RRF fusion: ALL corpus-sized work lives in the two " +
        "retrieval legs, each with its audited shape — the BM25 leg's " +
        "single corpus scan collapsed by ReuseExchange with " +
        "TakeOrderedAndProject top-k, the dense leg's broadcast-query " +
        "scoring with the map-side-combining TopKAggregator. The " +
        "fusion itself full-outer-joins only the two ≤k-row top-k " +
        "lists (a constant-size join at any corpus scale) — no " +
        "cartesian product anywhere",
      Seq("TopKAggregator", "TakeOrderedAndProject", "ReusedExchange"),
      Seq("CartesianProduct")),
    ("q120_funnel",
      "conversion funnel: three conditional-min aggregations and two " +
        "left joins ALL keyed on user_id — the aggregation outputs are " +
        "already hash-partitioned on the join key, so the joins add no " +
        "exchange of their own; no window over the raw event stream, " +
        "no cartesian stage",
      Seq("HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q121_psi_drift",
      "PSI drift: the 9 bin edges ride along as ONE broadcast array " +
        "row (BroadcastNestedLoopJoin with a 1-row build side — " +
        "constant at any corpus scale); bin assignment is a codegen'd " +
        "higher-order filter per row, NOT a 9-way explode, so each " +
        "period is one scan + one 10-group aggregate",
      Seq("BroadcastNestedLoopJoin", "HashAggregate"),
      Seq("Generate")),
    ("q122_pareto_frontier",
      "Pareto frontier: per-quality-level max/count aggregation first " +
        "(shuffle bounded by the 1001-level grid), the strict-prefix " +
        "running max window runs over those ≤1001 rows (the only " +
        "single-reducer step — grid-bounded, not corpus-bounded), and " +
        "the frontier levels broadcast back for the final semi-join " +
        "shaped filter; the quadratic NOT EXISTS dominance check " +
        "exists only in the DuckDB oracle",
      Seq("Window", "BroadcastHashJoin"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q123_cohort_retention",
      "cohort retention: after the (user, week) distinct each user is " +
        "ONE row per active week, so the per-(cohort, offset) user " +
        "count is a plain COUNT — no count-distinct Expand anywhere " +
        "in the plan; two aggregations + one user-keyed join",
      Seq("HashAggregate"),
      Seq("Expand", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q124_span_scrub",
      "span scrubbing: keep decisions aggregate 16-byte shingle " +
        "digests, span merge windows partition per doc, and the " +
        "token-level removal is one anti join keyed on doc_id with a " +
        "range residual — no cartesian stage, no broadcast of text",
      Seq("Window", "LeftAnti"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q125_triangles",
      "triangle counting: canonical-edge wedge join on the middle " +
        "vertex closed by a LEFT SEMI join on the (a, c) edge — the " +
        "probe short-circuits per wedge, no triple materializes " +
        "beyond the wedge set, no cartesian stage",
      Seq("LeftSemi"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q126_kmeans",
      "distributed k-means (final assignment iteration): the k·d " +
        "centroid relation broadcasts against one scan of the grid " +
        "triples (BroadcastHashJoin), both the distance and argmin " +
        "aggregations are map-side-combined HashAggregates — MLlib's " +
        "plan shape with engine-exact integer arithmetic",
      Seq("BroadcastHashJoin", "HashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin")),
    ("q128_clustering_coeff",
      "clustering coefficient: degree agg + the q125 wedge/semi-join " +
        "triangle count merged by one left join; the coefficient is " +
        "an integer-grid division (no floats) — no cartesian stage",
      Seq("LeftSemi", "HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q131_repetition",
      "repetition metrics: n-grams derive inside each row's token " +
        "array (slice+zip, codegen'd — no per-doc window) and reduce " +
        "through map-side-combined (doc, gram) hash aggregations; " +
        "the bigram and trigram summaries merge by doc-keyed joins — " +
        "no cartesian stage, no window",
      Seq("HashAggregate", "Generate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q132_temp_mixture",
      "temperature mixture: per-group selection is the map-side-" +
        "combining KSmallestAggregator (cap = max quota <= budget) " +
        "salted over (group, salt) buckets, so NO task ever sorts or " +
        "buffers a whole group — the rank-window formulation would " +
        "put every row of a language on ONE task at 100 TB; the " +
        "|groups|-bounded quota relation broadcasts back onto the " +
        "<= budget survivors (BroadcastHashJoin); the content hash " +
        "is the NATIVE content_hash64 expression",
      Seq("BroadcastHashJoin", "KSmallestAggregator"),
      Seq("Window", "ScalaUDF", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q138_source_caps",
      "domain caps: the blocklist RELATION anti-joins as a broadcast " +
        "LeftAnti (a 10M-host list is ~100 MB — ships to executors, " +
        "never shuffles the corpus); the per-domain cap is the salted " +
        "map-side-combining KSmallestAggregator, so a 90%-one-domain " +
        "crawl pre-selects its cap-sized survivor set across salt " +
        "buckets — no task ever sorts a whole domain",
      Seq("BroadcastHashJoin", "LeftAnti", "KSmallestAggregator"),
      Seq("Window", "ScalaUDF", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q139_dsir_select",
      "DSIR selection: ONE pass over the token stream builds both " +
        "unigram models as a conditional hash aggregation (map-side " +
        "combined, vocab-sized result); the weight table equi-joins " +
        "back to the token stream on token; per-doc score re-agg is " +
        "map-side combined; the global top-k is the salted " +
        "KSmallestAggregator under a constant key — bounded two-phase " +
        "selection, never a corpus-wide rank window",
      Seq("HashAggregate", "KSmallestAggregator"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q141_bpe_segment",
      "BPE application: the corpus token stream equi-joins the " +
        "vocab-sized final segmentation on word (hash join — Spark " +
        "may broadcast the build side when it is small; at a 10^8-" +
        "word production vocab it degrades gracefully to shuffled " +
        "hash) and the per-doc count is map-side combined; the " +
        "corpus is never re-segmented character-by-character",
      Seq("HashAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q142_countmin",
      "Count-Min audit: the sketch builds as ONE map-side-combined " +
        "hash aggregation over the token stream (cells are plain " +
        "sums — linear, mergeable in any split order) into a " +
        "depth×width-bounded relation; the probe-estimate join " +
        "BROADCASTS the KB-sized cell matrix; per-depth hashes are " +
        "the native codegen'd salted_hash64 (no ScalaUDF boundary)",
      Seq("HashAggregate", "BroadcastHashJoin", "salted_hash64"),
      Seq("Window", "ScalaUDF", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q143_modularity",
      "community modularity audit: after the LPA rounds (audited in " +
        "the iterative section), the audit itself is two |E|-bounded " +
        "label equi-joins on the undirected edge list plus map-side-" +
        "combined per-community aggregations — no cartesian stage, " +
        "no window, the m scalar is ONE bounded driver pull",
      Seq("HashAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q55_multimodal_features",
      "multimodal features: two partition-mapped stages " +
        "(decode+resize, decode+feature) compose as back-to-back " +
        "per-row map work — DeserializeToObject/MapPartitions/" +
        "SerializeFromObject with NO exchange between the stages; " +
        "only the output sort shuffles",
      Seq("MapPartitions"),
      Seq("Join", "HashAggregate")),
    ("q145_link_prediction",
      "link prediction: candidate pairs come from ONE wedge self-" +
        "join keyed on the middle vertex (volume ≤ cap·|E| by the " +
        "middle-degree cap — the contract knob for the inherently " +
        "hub-quadratic pattern), the (a,b) index aggregation is " +
        "map-side combined, the missing-link filter is a LEFT ANTI " +
        "hash join on the edge key, and the top-k is TakeOrdered " +
        "(per-partition partial top-k) — never a global sort, " +
        "never a cartesian stage",
      Seq("HashAggregate", "LeftAnti", "TakeOrderedAndProject"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin", "GlobalLimit")),
    ("q146_blocklist",
      "Aho–Corasick blocklist: the corpus is scanned ONCE by the " +
        "broadcast automaton (per-row map work, no text shuffle — " +
        "P patterns cost one pass, not P scans); the only exchange " +
        "is the |patterns|-row aggregation, map-side combined",
      Seq("HashAggregate", "Generate"),
      Seq("Window", "Join", "CartesianProduct", "SortMergeJoin")),
    ("q147_hdr_quantiles",
      "HDR quantile sketch: the corpus is reduced by ONE map-side-" +
        "combined (flag, bucket) aggregation into the log-spaced " +
        "histogram — ≤ 16·log2(max) buckets per group at ANY corpus " +
        "size; the cumulative window, the 3-row percentile probe " +
        "(BroadcastNestedLoopJoin against a literal array — bounded " +
        "by construction), and the final min/max agg all run over " +
        "that KB-sized sketch relation, never the data. The Window " +
        "here is the q132 hazard's safe dual: partitioned by group " +
        "over a bounded relation, not the corpus",
      Seq("HashAggregate", "Window", "BroadcastNestedLoopJoin"),
      Seq("CartesianProduct", "SortMergeJoin")),
    ("q148_mad_anomaly",
      "MAD anomaly detection: ONE map-side-combined (type, day) count " +
        "agg reduces the corpus to |types|·|days| rows; the median/MAD " +
        "rank windows and the med/mad joins (both BROADCAST — the " +
        "|types|-row relations) run over that bounded relation, never " +
        "the data — the q147-style safe dual of the corpus-window hazard",
      Seq("HashAggregate", "Window", "BroadcastHashJoin"),
      Seq("CartesianProduct", "SortMergeJoin")),
    ("q149_bloom_prejoin",
      "Bloom pre-join: the probe predicate (codegen'd xxhash64 + word " +
        "test against the ONE-row broadcast bit array) drops non-" +
        "matching lineitem rows BEFORE any exchange; the exact semi " +
        "join then removes false positives. At 100 TB the build side " +
        "outgrows raw broadcast long before its Bloom outgrows KBs — " +
        "this is the explicit runtime-filter shape",
      Seq("xxhash64", "LeftSemi", "BroadcastNestedLoopJoin"),
      Seq("CartesianProduct", "SortMergeJoin")),
    ("q151_ann_ivfpq",
      "IVF-PQ search: both fits are driver-side sample problems " +
        "(content-hash-bounded, corpus-size-free); the corpus pass " +
        "is ONE scan of per-row encode work against broadcast " +
        "centroids+codebooks; candidate generation is the cluster " +
        "equi-join with the KB-sized probe table BROADCAST; the " +
        "top-k is the map-side-combined TopK aggregator — no " +
        "window, no global sort, no cartesian stage",
      Seq("HashAggregate", "BroadcastHashJoin"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    ("q150_dq_audit",
      "data-quality audit: each table's constraint set folds into ONE " +
        "conditional-aggregation scan (5 checks = 1 pass, map-side " +
        "combined; uniqueness rides the same scan as count-distinct); " +
        "the FK check is the only join, a LEFT ANTI on the PK " +
        "(broadcast here; SMJ on a 100 TB orders side — either way " +
        "one exchange); the final union moves 9 scalar rows",
      Seq("HashAggregate", "LeftAnti"),
      Seq("CartesianProduct", "Window")),
    ("q152_ann_recall",
      "ANN recall audit: three broadcast-query corpus scans (exact " +
        "truth via the q29 BNLJ, IVF and LSH via their cluster/bucket " +
        "equi-joins with broadcast probe tables), each top-k'd by the " +
        "map-side-combining TopKAggregator; the intersection is then " +
        "broadcast joins over |Q|·k-row rank relations — the hit " +
        "counting never touches the corpus again",
      Seq("TopKAggregator", "BroadcastNestedLoopJoin", "BroadcastHashJoin"),
      Seq("CartesianProduct")),
    ("q155_ann_recall_prod",
      "production-recipe ANN audit: the same four-scan shape as q152 " +
        "plus IVF-PQ — the 32-table LSH computes all bucket ids in ONE " +
        "corpus scan (posexplode of the per-vector bucket array, then " +
        "the (table,bucket) equi-join), pair-key dedup is a hash " +
        "aggregation, and the PQ rerank stage re-scores its KB-sized " +
        "broadcast shortlist through one more broadcast hash join — " +
        "knobs multiply candidate volume, never corpus scans",
      Seq("TopKAggregator", "BroadcastHashJoin"),
      Seq("CartesianProduct")),
    ("q153_dedup_recall",
      "MinHash banding recall audit: runs BOTH the exact prefix-" +
        "filtered q31 join (xxhash64 posting keys, no cross join) and " +
        "the q32 banding by definition; the recall counts come from ONE " +
        "full-outer join on the pair key feeding a single aggregation, " +
        "so each side's pipeline evaluates exactly once",
      Seq("xxhash64", "FullOuter"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q154_neardup_recall",
      "embedding near-dup recall audit: the exact side is the " +
        "DELIBERATE N² ground truth (broadcast nested-loop cosine — the " +
        "measurement's definition, documented as sample-at-scale); the " +
        "candidate side stays the banded equi-join; ONE full-outer " +
        "join + aggregation produces the counts",
      Seq("BroadcastNestedLoopJoin", "FullOuter"),
      Seq("CartesianProduct")),
    ("q156_neardup_recall_sampled",
      "q154 at anchorFraction=0.25: the content-hash anchor predicate " +
        "lands on the exact join's a-side BEFORE the nested-loop " +
        "product (s·N² work, not a post-filter on N² rows) and on the " +
        "candidate relation — same one-full-outer-join shape",
      Seq("BroadcastNestedLoopJoin", "FullOuter", "md5"),
      Seq("CartesianProduct")),
    ("q157_dedup_recall_sampled",
      "q153 at anchorFraction=0.25: the anchor predicate restricts the " +
        "a-side POSTING relation inside the prefix join (the join work " +
        "scales with the sample) and filters the banding candidates — " +
        "the oracle replays the identical md5-prefix sample",
      Seq("xxhash64", "FullOuter", "md5"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    ("q158_ann_recall_sampled",
      "q152 with the query set itself anchor-sampled: the md5-prefix " +
        "predicate rides every branch's query filter, so truth cost is " +
        "s·|Q|·N while the per-anchor rows stay exactly the full " +
        "audit's (asserted in PipelineSpec)",
      Seq("TopKAggregator", "BroadcastNestedLoopJoin", "md5"),
      Seq("CartesianProduct")),
    ("q159_quality_classifier",
      "trained quality classifier scoring: the fit never appears in " +
        "this plan (a bounded driver-side sample problem, the q46 " +
        "quantizer pattern); scoring is ONE corpus scan — tokenize, " +
        "hash-bucket (codegen'd content_hash64 inside a transform " +
        "lambda), margin as an aggregate over the literal weight " +
        "array — with NO join, NO aggregation, NO window; the only " +
        "exchange is the presentation sort's range partitioning",
      Seq("content_hash64", "Sort"),
      Seq("HashAggregate", "Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    ("q171_classifier_model_roundtrip",
      "scoring from the SHIPPED model artifact: the fit and the " +
        "parquet write/reload happen before the plan exists (the " +
        "artifact is a one-row table of weights), so the plan IS " +
        "q159's — ONE shuffle-free corpus scan with the literal " +
        "weight array, no join, no aggregation, no window; nothing " +
        "in the scoring plan references the training corpus",
      Seq("content_hash64", "Sort"),
      Seq("HashAggregate", "Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    ("q161_ann_sq8",
      "SQ8 quantized ANN: the range fit is ONE map-side-combined " +
        "posexplode aggregation (dim-bounded output, driver pull of " +
        "64 rows); encode+dequantize is per-row map work in one " +
        "corpus scan; scoring is the q29 broadcast-query single-scan " +
        "plan with the map-side-combining TopKAggregator — no " +
        "window, no global sort, no corpus shuffle of raw vectors",
      Seq("BroadcastNestedLoopJoin", "TopKAggregator", "HashAggregate"),
      Seq("CartesianProduct", "Window", "SortMergeJoin")),
    ("q165_curation_pipeline",
      "end-to-end curation: the shuffle-free classifier scoring scan " +
        "feeds the kept set; the near-dup verdict contributes its " +
        "banded equi-join + min-agg; the composition is equi-joins on " +
        "doc_id plus ONE final per-source aggregation — no window, no " +
        "cross product, nothing corpus-quadratic",
      Seq("HashAggregate", "content_hash64"),
      Seq("CartesianProduct", "Window", "BroadcastNestedLoopJoin")),
    ("q164_rag_chunks",
      "RAG chunking: ONE corpus scan — sequence/transform/slice/" +
        "posexplode are per-row array work, no join, no aggregation, " +
        "no window; the only exchange is the presentation sort",
      Seq("Generate", "Sort"),
      Seq("HashAggregate", "Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    ("q166_ann_ivfsq8",
      "IVF-SQ8: both fits corpus-size-free (content-hash centroid " +
        "sample + one dim-bounded range agg); the corpus pass is ONE " +
        "scan of per-row assign+dequantize against broadcast state; " +
        "the search is the q46 cluster equi-join with the probe table " +
        "broadcast and the map-side-combining TopKAggregator — " +
        "per-query work ~N·nProbe/nClusters, no window, no cartesian",
      Seq("BroadcastHashJoin", "TopKAggregator"),
      Seq("CartesianProduct", "Window", "SortMergeJoin")),
    ("q162_sq8_index_roundtrip",
      "SQ8 serving from the PERSISTED index: the corpus side scans " +
        "the 1-byte/dim parquet codes (a relation 8× narrower than " +
        "the raw embeddings — the scan-bytes win is the point of the " +
        "index), dequantizes per row, and runs the same broadcast-" +
        "query TopKAggregator plan; no window, no corpus shuffle",
      Seq("BroadcastNestedLoopJoin", "TopKAggregator"),
      Seq("CartesianProduct", "Window", "SortMergeJoin")),
    ("q163_classifier_confusion",
      "classifier confusion audit: the q159 shuffle-free scoring scan " +
        "(tokenize, hash-bucket via codegen'd content_hash64, margin " +
        "over the literal weight array) feeds ONE map-side-combined " +
        "(pred, label) aggregation whose output is <= 4 rows — the " +
        "only exchange carries those partial cells; no join, no " +
        "window, nothing corpus-quadratic",
      Seq("content_hash64", "HashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    ("q168_ivfpq_index_roundtrip",
      "IVF-PQ serving from the PERSISTED partitionBy(cluster) index: " +
        "the corpus side scans only the probed posting lists' files " +
        "(static PartitionFilters) of the 2-byte-code (cluster, code) " +
        "parquet — a relation ~64x narrower than the raw embeddings, " +
        "the scan-bytes win that makes billion-vector serving fit — " +
        "with no encode UDF and no refit in the plan; candidates come " +
        "from the cluster equi-join with the broadcast probe " +
        "residuals, scored by ADC into the TopK aggregator; no " +
        "window, no cartesian",
      Seq("PartitionFilters: [cluster", "BroadcastHashJoin",
        "TopKAggregator"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window",
        "SortMergeJoin")),
    ("q170_ivf_index_append",
      "incremental IVF index append: two frozen-centroid encode " +
        "scans write disjoint file sets into ONE partitionBy(cluster) " +
        "parquet index dir (parquet append touches no existing file); " +
        "the serve plan is q167's — the partition-pruned combined " +
        "scan, the broadcast probe equi-join, the map-side-combined " +
        "TopK aggregator — with no refit and nothing distinguishing " +
        "appended files from original ones",
      Seq("PartitionFilters: [cluster", "BroadcastHashJoin",
        "TopKAggregator"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window",
        "SortMergeJoin")),
    ("q173_ann_binary",
      "binary (sign-bit) Hamming ANN: encoding is one corpus scan of " +
        "codegen'd built-ins (transform/aggregate/shiftleft — no " +
        "UDF); serving is the q29 broadcast-query single-scan plan " +
        "over dim/32 packed words with xor+popcount per pair and the " +
        "map-side-combining TopK aggregator — no float math, no " +
        "window, no corpus shuffle",
      Seq("BroadcastNestedLoopJoin", "TopKAggregator"),
      Seq("CartesianProduct", "Window", "SortMergeJoin")),
    ("q176_ann_binary_asym",
      "asymmetric binary scoring: q173's broadcast-query single-scan " +
        "plan over the same packed words, but the per-pair fold " +
        "reads the full-precision normalized query against the " +
        "corpus bits (a codegen'd aggregate over shiftright/mask on " +
        "the corpus-sized side; the one UDF is the |Q|-bounded " +
        "query-side normalize); same TopK aggregator, no window, " +
        "no corpus shuffle",
      Seq("BroadcastNestedLoopJoin", "TopKAggregator"),
      Seq("CartesianProduct", "Window", "SortMergeJoin")),
    ("q174_ann_binary_rerank",
      "binary shortlist + exact rerank: stage 1 is q173's integer " +
        "Hamming plan; stage 2 joins the |Q|*shortlist candidate " +
        "pairs BROADCAST against one corpus scan (only survivors " +
        "pass the hash probe) and re-ranks by the exact normalized " +
        "dot through the same TopK aggregator — float math touches " +
        "only the shortlist, never the corpus",
      Seq("BroadcastHashJoin", "TopKAggregator"),
      Seq("CartesianProduct", "Window", "SortMergeJoin")),
    ("q175_bin_index_roundtrip",
      "binary serving from the PERSISTED index: the corpus side " +
        "scans the packed-word parquet (8 bytes/vector at dim 64 — " +
        "64x narrower than the raw embeddings, the hardest " +
        "scan-bytes lever in the family) with no encode expression " +
        "and no fitted state anywhere in the serve plan; the " +
        "xor+popcount scoring and TopK aggregation are q173's",
      Seq("BroadcastNestedLoopJoin", "TopKAggregator"),
      Seq("CartesianProduct", "Window", "SortMergeJoin")),
    ("q178_ann_binary_mih",
      "multi-index Hamming: stage-1 candidates come from a " +
        "(slot, sub-word) EQUI-join of generated corpus postings " +
        "against the broadcast |Q|*subs query sub-words — the " +
        "pigeonhole bucket structure that replaces q173's " +
        "BroadcastNestedLoopJoin full scan — so only colliding " +
        "pairs pay the exact popcount, duplicate collisions " +
        "collapse in a map-side-combined min aggregate, and the " +
        "TopK aggregation is the family's shared rule",
      Seq("Generate", "BroadcastHashJoin", "HashAggregate",
        "TopKAggregator"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window",
        "SortMergeJoin")),
    ("q167_ivf_index_roundtrip",
      "IVF serving from the PERSISTED partitionBy(cluster) store: " +
        "the probed-cluster set (driver-computed, bounded by " +
        "nClusters) lands as a STATIC filter in the scan's " +
        "PartitionFilters, so the serve reads only the probed " +
        "posting lists' FILES — the nProbe/nClusters scan reduction " +
        "IVF exists to buy, enforced at the storage layer instead " +
        "of discarded rows at the join probe; the broadcast probe " +
        "equi-join and map-side-combined TopK aggregator are q46's",
      Seq("PartitionFilters: [cluster", "BroadcastHashJoin",
        "TopKAggregator"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window",
        "SortMergeJoin")),
    ("q172_ivf_half_fit_append",
      "half-fit incremental append: the coarse quantizer fits on " +
        "increment 1 only (a bounded driver-side sample problem), " +
        "increment 2 encodes against the RELOADED frozen centers " +
        "and parquet-appends disjoint files under the same " +
        "partitionBy(cluster) layout; the serve plan is q167's — " +
        "partition-pruned combined scan, broadcast probe equi-join, " +
        "map-side-combined TopK aggregator — with no refit and no " +
        "scan of increment 1 during the append",
      Seq("PartitionFilters: [cluster", "BroadcastHashJoin",
        "TopKAggregator"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window",
        "SortMergeJoin")),
    ("q169_ivfsq8_index_roundtrip",
      "IVF-SQ8 serving from the PERSISTED partitionBy(cluster) " +
        "index: the corpus side scans only the probed posting " +
        "lists' files (static PartitionFilters — the q167 layout) " +
        "of the 1-byte/dim codes parquet — 8x narrower than the raw " +
        "embeddings — dequantizes per row, and runs the q46 cluster " +
        "equi-join with the broadcast probe table into the " +
        "map-side-combined TopK aggregator; no refit, no window, " +
        "no cartesian",
      Seq("PartitionFilters: [cluster", "BroadcastHashJoin",
        "TopKAggregator"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window",
        "SortMergeJoin")),
    ("q179_simhash_neardup",
      "simhash near-dup pairs: candidates come from the (slot, " +
        "piece) self-EQUI-join over N*pieces narrow generated rows " +
        "(the q32 banded-join class — pigeonhole, never an N^2 " +
        "popcount scan), duplicate collisions collapse in a " +
        "map-side-combined min aggregate, and only colliding pairs " +
        "pay the exact popcount threshold",
      Seq("Generate", "HashAggregate"),
      Seq("CartesianProduct", "Window", "BroadcastNestedLoopJoin")),
    ("q180_simhash_firstseen",
      "first-seen simhash verdict: the q179 banded self-join " +
        "reduced by a map-side-combined min to one rep per flagged " +
        "doc, left-joined back to the doc ids — the q160 shape on " +
        "the simhash metric, exact by pigeonhole (no recall audit " +
        "needed); no window, no cartesian, no N^2 popcount",
      Seq("Generate", "HashAggregate"),
      Seq("CartesianProduct", "Window", "BroadcastNestedLoopJoin")),
    ("q160_firstseen_neardup",
      "first-seen near-dup verdict: the q32 banded self-join (shuffle " +
        "O(N·bands) narrow rows, equi-join on (band, bucket) — never a " +
        "cross product) reduced by a map-side-combined min aggregation " +
        "to one representative per later doc, then joined back to the " +
        "doc ids; no window, no corpus-quadratic stage",
      Seq("HashAggregate"),
      Seq("CartesianProduct", "Window", "BroadcastNestedLoopJoin")))

  audits.foreach { case (name, why, required, forbidden) =>
    test(name) {
      val df = SparkEntry.queries(name)(spark, sf)
      // AQE reuses exchanges at RUN time: materialize first so the
      // final adaptive plan is the one inspected
      if (required.exists(_.startsWith("ReusedExchange"))) df.collect()
      val plan = formatted(df)
      assertShape(why, plan.take(6000), plan, required, forbidden)
    }
  }

  // ---- iterative rounds: the loops materialize every round, so a
  // graph query's final plan shows only a LogicalRDD scan. Each loop
  // body is a private[graft] step function, audited here on ONE
  // un-materialized round, with broadcast joins off so the join count
  // does not depend on the toy graph's size.
  private lazy val roundSpark = auditSession("spark.sql.autoBroadcastJoinThreshold" -> "-1")
  private lazy val strong = Graph.supplierCooccurrence(QueryDsl.t(roundSpark, sf, "lineitem"))
    .filter(col("w") >= 8)
    .select(col("src"), col("dst"), col("w").cast("long").as("w"))
    .localCheckpoint()
  private lazy val strongE = strong.select(col("src"), col("dst"))
  private lazy val ew = strong.join(strong.groupBy(col("src")).agg(sum(col("w")).as("ow")), Seq("src"))
    .select(col("src"), col("dst"), col("w"), col("ow"))
  private lazy val ewPlain = ew.localCheckpoint()
  private lazy val seeded0 = ewPlain.select(col("src").as("v")).distinct()
    .select(col("v"), (col("v") % 5 === 0).as("s")).localCheckpoint()
  private lazy val rank0p = seeded0.select(col("v"),
    when(col("s"), lit(1000L)).otherwise(lit(0L)).as("rank")).localCheckpoint()

  // join OPERATORS in the plain tree (FormattedMode repeats each
  // operator name in its details section)
  private def joinCount(d: DataFrame): Int =
    "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(d.queryExecution.executedPlan.toString).length

  private def roundShape(round: DataFrame, joins: Int, required: Seq[String], why: String): Unit = {
    val shown = formatted(round).take(3500)
    withClue(s"$why\n$shown\n")(joinCount(round) shouldBe joins)
    assertShape(why, shown, round.queryExecution.executedPlan.toString, required,
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window"))
  }

  test("q127_communities: one LPA round") {
    val l0 = strong.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label")).localCheckpoint()
    val lpa = Graph.lpaRound(strong, l0)
    val why = "Per round: one equi-join of the label vector on dst, one (src, label) " +
      "weight aggregation, one per-src argmax, all bounded by |E|"
    val plan = formatted(lpa)
    withClue(s"$why\n${plan.take(4000)}\n")(joinCount(lpa) shouldBe 1)
    assertShape(why, plan.take(4000), plan, Nil, Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
  }

  test("q119_pagerank: a round over edges pre-partitioned on src plans fewer exchanges") {
    def nExchanges(d: DataFrame): Int = {
      val s = d.queryExecution.executedPlan.toString
      val cut = s.indexOf("InMemoryRelation")
      "Exchange".r.findAllIn(if (cut < 0) s else s.take(cut)).length
    }
    val rank0 = ewPlain.select(col("src").as("v")).distinct()
      .select(col("v"), lit(1L).as("rank")).localCheckpoint()
    val ewPre = ew.repartition(col("src")).persist()
    try {
      ewPre.count()
      val pre = Graph.pagerankStep(ewPre, rank0, 1L, None)
      val why = "With edges persisted under hash(src), the per-iteration join must NOT " +
        "re-exchange the edge side; only the O(|V|) rank vector shuffles"
      withClue(s"$why\n${formatted(pre).take(4000)}\n") {
        nExchanges(pre) should be < nExchanges(Graph.pagerankStep(ewPlain, rank0, 1L, None))
      }
    } finally ewPre.unpersist(false)
  }

  test("q130_trustrank: one fast-path round") {
    val ewSeeded = ewPlain.withColumn("sd", (col("dst") % 5 === 0).cast("boolean"))
    roundShape(Graph.pprFastStep(ewSeeded, rank0p, 7L), 1, Nil,
      "Per round (fast path — src and dst sets coincide on the\n" +
        "co-occurrence graph, probed once before the loop): ONE\n" +
        "contribution equi-join on src + its sum agg; the restart mass\n" +
        "rides a dst-side seed flag evaluated ON the edge relation, so\n" +
        "the per-round seeded left join of the guarded slow path\n" +
        "(pprStep, below) is gone and the round costs exactly what\n" +
        "plain pagerank costs.")
  }

  test("q130_trustrank_seeded_path: one round") {
    roundShape(Graph.pprStep(ewPlain, seeded0, rank0p, 7L), 2, Nil,
      "Per round: ONE contribution equi-join on src + its sum agg, then\n" +
        "ONE left join re-attaching the seeded node relation whose boolean\n" +
        "carries the restart mass — the seed set never joins separately.\n" +
        "Taken only when the src/dst sets differ (the one fused probe\n" +
        "job decides).")
  }

  test("q133_harmonic: one hop") {
    val frontier0 = strongE.select(col("src").as("s")).distinct()
      .select(col("s"), col("s").as("v"), lit(0L).as("d")).localCheckpoint()
    roundShape(Graph.harmonicHop(strongE, frontier0, frontier0, 1), 2, Seq("LeftAnti"),
      "Per hop: ONE equi-join expanding the frontier across the edge\n" +
        "relation, a distinct, and ONE anti join against the reached union\n" +
        "(first-distance-wins) — bounded by |frontier|·deg; only the new\n" +
        "frontier materializes (reached stays a lazy union of prior rounds).")
  }

  test("q134_neighborhood_sketch: one merge round") {
    ContentHashExpression.register(roundSpark)
    val h62 = shiftrightunsigned(ContentHashExpression.contentHash64(col("v").cast("string")), 2)
    val nodes = strongE.select(col("src").as("v")).distinct()
    val eSelf = strongE.union(nodes.select(col("v").as("src"), col("v").as("dst")))
      .localCheckpoint()
    val hb0 = nodes.select(col("v"), array(h62).as("sk")).localCheckpoint()
    roundShape(Graph.hyperballRound(eSelf, hb0, udaf(new KmvMergeAggregator(8))), 1, Nil,
      "Per round: ONE equi-join carrying each node's sketch to its\n" +
        "in-neighbors (self-loops carry the node's own sketch — no separate\n" +
        "union-with-previous pass) + ONE bottom-k merge aggregation that\n" +
        "combines map-side, so shuffle is O(|V|·k), not O(|E|·k).")
  }

  test("q135_cheapest_paths: one relax round") {
    val ec = strong.select(col("src"), col("dst"), expr("1000000 div w").as("cost"))
      .localCheckpoint()
    val dist0 = ec.select(col("src").as("v")).distinct()
      .filter(col("v") % 5 === 0)
      .select(col("v"), lit(0L).as("cost")).localCheckpoint()
    roundShape(Graph.relaxRound(ec, dist0), 1, Nil,
      "Per round: ONE equi-join relaxing every edge from the current\n" +
        "distance vector, then a union with the kept distances and ONE min\n" +
        "aggregation — O(|E|) per round, integer min-plus is\n" +
        "reduction-order-free so any physical grouping gives the same result.")
  }

  test("q136_kcore: one peel round") {
    val eu = strongE
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    roundShape(Graph.peelRound(eu, 3), 2, Seq("LeftSemi"),
      "Per peel round: ONE degree aggregation over the surviving edges +\n" +
        "TWO semi joins keeping edges whose endpoints both survive — all\n" +
        "O(|E_t|) on a monotonically shrinking edge set, one count action\n" +
        "per round (the prior round's count is carried in a variable).")
  }
}
