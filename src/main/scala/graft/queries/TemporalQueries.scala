package graft.queries

import org.apache.spark.sql.functions._

import QueryDsl._
import graft.ops.TemporalJoins

/** Temporal operators over the `events` table: as-of join, time-window
  * (equi-key + range) join, bucketized pure range join, and the
  * daily-pivot rollup. Each has a DuckDB oracle — the as-of oracle uses
  * DuckDB's native `ASOF JOIN`, so the union+window implementation is
  * checked against an independent engine's definition of the operator.
  */
object TemporalQueries {

  val entries: List[(String, Q, Option[String])] = List(

    // ---- as-of join: for each purchase, the most recent prior-or-equal
    // click by the same user (TemporalJoins.asofJoin: union + window,
    // ONE shuffle, no join node; DuckDB plans its native ASOF JOIN) ----
    ("q60_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        // unique per (user_id, ts): ties (same-µs clicks) pick max id
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
          .withColumn("click_ts", col("ts"))
        TemporalJoins.asofJoin(purchases, clicks, key = "user_id")
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("purchase_sec"),
            col("click_id"),
            (unix_timestamp(col("ts")) - unix_timestamp(col("click_ts"))).as("gap_sec"))
          .orderBy(col("event_id"))
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, ts, MAX(event_id) AS click_id
              FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        SELECT p.event_id, p.user_id,
          CAST(epoch(date_trunc('second', p.ts)) AS BIGINT) AS purchase_sec,
          c.click_id,
          CAST(epoch(date_trunc('second', p.ts))
             - epoch(date_trunc('second', c.ts)) AS BIGINT) AS gap_sec
        FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.event_id""")),

    // ---- time-window join: purchases within 30 min after a click by
    // the same user. The equi-key (user_id) carries the shuffle; the
    // range predicate only filters within key groups — the standard
    // funnel/attribution join shape (batch face of
    // EventStreams.clickPurchaseJoin) ----------------------------------
    ("q61_window_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"))
        clicks.join(purchases, Seq("user_id"))
          .filter(col("p_ts") > col("c_ts") &&
                  col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
            min(unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("min_gap_sec"))
          .orderBy(col("user_id"))
      },
      Some("""WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        SELECT c.user_id, COUNT(*) AS n_pairs,
          CAST(MIN(epoch(date_trunc('second', p.ts))
                 - epoch(date_trunc('second', c.ts))) AS BIGINT) AS min_gap_sec
        FROM c JOIN p ON c.user_id = p.user_id
          AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        GROUP BY c.user_id ORDER BY c.user_id""")),

    // ---- pure range join (NO equi-key): events inside each error's
    // 10-minute follow-up window, via the bucketized equi-join
    // (TemporalJoins.rangeBucketJoin). Catalyst's own plan for the raw
    // inequality would be a BroadcastNestedLoopJoin — quadratic.
    // DuckDB (range-join aware: IEJoin) runs the inequality directly --
    ("q62_range_join",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("ts_us", unix_micros(col("ts")))
        val windowUs = 10L * 60 * 1000 * 1000
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("ts_us").as("w_start"))
          .withColumn("w_end", col("w_start") + windowUs)
        val points = ev.select(col("event_id"), col("ts_us"))
        val pairs = TemporalJoins.rangeBucketJoin(errors, points,
          intervalId = "err_id", startCol = "w_start", endCol = "w_end",
          pointId = "event_id", pointCol = "ts_us", bucketWidth = windowUs)
          .filter(col("event_id") =!= col("err_id"))
        val counts = pairs.groupBy(col("err_id")).agg(count(lit(1)).as("n_following"))
        errors.select(col("err_id").as("event_id"))
          .join(counts.withColumnRenamed("err_id", "event_id"), Seq("event_id"), "left")
          .na.fill(0L, Seq("n_following"))
          .orderBy(col("event_id"))
      },
      Some("""WITH err AS (SELECT event_id, ts FROM events WHERE event_type = 'error')
        SELECT err.event_id, COUNT(e.event_id) AS n_following
        FROM err LEFT JOIN events e
          ON e.ts >= err.ts AND e.ts < err.ts + INTERVAL 10 MINUTE
          AND e.event_id <> err.event_id
        GROUP BY err.event_id ORDER BY err.event_id""")),

    // ---- the SAME range join written as a RAW inequality join: the
    // RangeJoinRewrite optimizer rule (installed here via
    // experimental.extraOptimizations; via GraftExtensions in
    // configured deployments) rewrites it to the bucketized equi-join
    // — PlanShapeSpec asserts no BroadcastNestedLoopJoin survives. Same
    // oracle as q62: the rewrite must not change a single row ---------
    ("q73_range_join_auto",
      (s, dir) => {
        import graft.plans.RangeJoinRewrite
        if (!s.experimental.extraOptimizations.exists(_ eq RangeJoinRewrite))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ RangeJoinRewrite
        val windowUs = 10L * 60 * 1000 * 1000
        s.conf.set(RangeJoinRewrite.WidthKey, windowUs.toString)
        val ev = t(s, dir, "events").withColumn("ts_us", unix_micros(col("ts")))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("ts_us").as("w_start"))
          .withColumn("w_end", col("w_start") + windowUs)
        val points = ev.select(col("event_id"), col("ts_us"))
        val pairs = errors.join(points,
            col("ts_us") >= col("w_start") && col("ts_us") < col("w_end") &&
            col("event_id") =!= col("err_id"))
        val counts = pairs.groupBy(col("err_id")).agg(count(lit(1)).as("n_following"))
        errors.select(col("err_id").as("event_id"))
          .join(counts.withColumnRenamed("err_id", "event_id"), Seq("event_id"), "left")
          .na.fill(0L, Seq("n_following"))
          .orderBy(col("event_id"))
      },
      Some("""WITH err AS (SELECT event_id, ts FROM events WHERE event_type = 'error')
        SELECT err.event_id, COUNT(e.event_id) AS n_following
        FROM err LEFT JOIN events e
          ON e.ts >= err.ts AND e.ts < err.ts + INTERVAL 10 MINUTE
          AND e.event_id <> err.event_id
        GROUP BY err.event_id ORDER BY err.event_id""")),

    // ---- the SAME range join on RAW TimestampType columns — the
    // natural user formulation (`ts >= w_start AND ts < w_end` with
    // interval arithmetic, no manual unix_micros prep). The rewrite
    // bucketizes through UnixMicros; same oracle as q62/q73 ----------
    ("q88_range_join_ts",
      (s, dir) => {
        import graft.plans.RangeJoinRewrite
        if (!s.experimental.extraOptimizations.exists(_ eq RangeJoinRewrite))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ RangeJoinRewrite
        val windowUs = 10L * 60 * 1000 * 1000
        s.conf.set(RangeJoinRewrite.WidthKey, windowUs.toString)
        val ev = t(s, dir, "events")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("ts").as("w_start"))
          .withColumn("w_end", col("w_start") + expr("INTERVAL 10 MINUTES"))
        val points = ev.select(col("event_id"), col("ts"))
        val pairs = errors.join(points,
            col("ts") >= col("w_start") && col("ts") < col("w_end") &&
            col("event_id") =!= col("err_id"))
        val counts = pairs.groupBy(col("err_id")).agg(count(lit(1)).as("n_following"))
        errors.select(col("err_id").as("event_id"))
          .join(counts.withColumnRenamed("err_id", "event_id"), Seq("event_id"), "left")
          .na.fill(0L, Seq("n_following"))
          .orderBy(col("event_id"))
      },
      Some("""WITH err AS (SELECT event_id, ts FROM events WHERE event_type = 'error')
        SELECT err.event_id, COUNT(e.event_id) AS n_following
        FROM err LEFT JOIN events e
          ON e.ts >= err.ts AND e.ts < err.ts + INTERVAL 10 MINUTE
          AND e.event_id <> err.event_id
        GROUP BY err.event_id ORDER BY err.event_id""")),

    // ---- pivot: daily event-type count matrix. The pivot value list
    // is FIXED (no driver-side distinct scan — .pivot(col) without
    // values collects the domain to the driver, a full extra scan at
    // 100 TB); absent cells coalesce to 0 -----------------------------
    ("q63_pivot_daily",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        t(s, dir, "events")
          .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day_ts"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .select(col("day_ts") +: types.map(tp =>
            coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
          .orderBy(col("day_ts"))
      },
      Some("""SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_ts,
        COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
        FROM events GROUP BY 1 ORDER BY day_ts""")),

    // ---- conversion funnel (view → click → purchase): per user, the
    // first view, the first click strictly after it, the first
    // purchase strictly after that. Three conditional-min aggregations
    // and two joins, ALL keyed on user_id, so Catalyst plans one
    // shuffle per aggregation on the same key and the joins reuse the
    // partitioning — no window over the raw event stream, no
    // per-user sort. MATCH_RECOGNIZE-shaped semantics from plain
    // relational ops (streaming face: EventStreams sessionization). ---
    ("q120_funnel",
      (s, dir) => {
        TemporalJoins.conversionFunnel(
            t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts")),
            stages = Seq("view", "click", "purchase"))
          .select(col("user_id"),
            unix_timestamp(col("t_view")).as("view_sec"),
            unix_timestamp(col("t_click")).as("click_sec"),
            unix_timestamp(col("t_purchase")).as("purchase_sec"),
            (lit(1L)
              + when(col("t_click").isNotNull, 1L).otherwise(0L)
              + when(col("t_purchase").isNotNull, 1L).otherwise(0L)
            ).as("funnel_depth"))
          .orderBy(col("user_id"))
      },
      Some("""WITH v AS (SELECT user_id, MIN(ts) AS t_view
          FROM events WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
        SELECT v.user_id,
          CAST(epoch(date_trunc('second', v.t_view)) AS BIGINT) AS view_sec,
          CAST(epoch(date_trunc('second', c.t_click)) AS BIGINT) AS click_sec,
          CAST(epoch(date_trunc('second', p.t_purchase)) AS BIGINT) AS purchase_sec,
          CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
                 + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS funnel_depth
        FROM v LEFT JOIN c ON v.user_id = c.user_id
               LEFT JOIN p ON v.user_id = p.user_id
        ORDER BY v.user_id""")),

    // ---- cohort retention: users grouped by the week of their FIRST
    // signup, counted once per (cohort, week-offset) they remain
    // active in. Week indices are integer day-diffs div 7 (no
    // timezone/locale week functions — engine-exact; NOTE this
    // assumes events at-or-after the 2024-01-01 anchor: on a NEGATIVE
    // day-diff Spark's `div` truncates toward zero while DuckDB's
    // `//` floors, so week indices would diverge); after the
    // (user, week) distinct, each user contributes exactly one row per
    // active week, so a plain COUNT per (cohort, offset) IS the
    // distinct-user count — no count-distinct shuffle. Two
    // aggregations + one user-keyed join; at 100 TB the (user, week)
    // distinct is the only corpus-sized shuffle. -----------------------
    ("q123_cohort_retention",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val wk = expr("datediff(cast(ts as date), date'2024-01-01') div 7")
        val cohort = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), wk.as("w"))
          .groupBy(col("user_id")).agg(min(col("w")).as("cohort_week"))
        val active = ev.select(col("user_id"), wk.as("aw")).distinct()
        cohort.join(active, Seq("user_id"))
          .filter(col("aw") >= col("cohort_week"))
          .groupBy(col("cohort_week"), (col("aw") - col("cohort_week")).as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH cohort AS (SELECT user_id,
          MIN(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7) AS cohort_week
        FROM events WHERE event_type = 'signup' GROUP BY user_id),
        active AS (SELECT DISTINCT user_id,
          date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS aw
        FROM events)
        SELECT CAST(c.cohort_week AS BIGINT) AS cohort_week,
          CAST(a.aw - c.cohort_week AS BIGINT) AS week_offset,
          COUNT(*) AS n_users
        FROM cohort c JOIN active a ON a.user_id = c.user_id
        WHERE a.aw >= c.cohort_week
        GROUP BY 1, 2 ORDER BY cohort_week, week_offset""")),

    // ---- recency-decayed activity score (freshness weighting for
    // curriculum/sampling): Σ 1e9 / 2^age_weeks per user with a
    // 1-week half-life. Power-of-two decay makes the weights EXACT
    // integers (1e9 div (1 << age)), so the score is hash-exact with
    // no float pow/exp anywhere; one scan, one map-side-combined
    // aggregation. The age CLAMPS to [0, 62] on both sides: events
    // after the anchor score full weight, events older than 62 weeks
    // score 0 — without the clamp, Java shift semantics (count wraps
    // mod 64, negative counts become 63) and DuckDB's unwrapped `<<`
    // silently diverge outside the anchor window. The clamp also
    // absorbs the div-vs-floor difference on negative day-diffs
    // (Spark `div` truncates toward zero, DuckDB `//` floors): any
    // negative age lands on 0 either way. ----------------------------
    ("q129_decayed_activity",
      (s, dir) => {
        t(s, dir, "events")
          .select(col("user_id"),
            expr("datediff(date'2024-01-31', cast(ts as date)) div 7").as("aw"))
          .select(col("user_id"),
            expr("1000000000L div shiftleft(1L, cast(greatest(least(aw, 62L), 0L) as int))")
              .as("wgt"))
          .groupBy(col("user_id"))
          .agg(sum(col("wgt")).as("activity_scaled"), count(lit(1)).as("n_events"))
          .orderBy(col("activity_scaled").desc, col("user_id"))
      },
      Some("""SELECT user_id,
          CAST(SUM(1000000000 // (CAST(1 AS BIGINT) <<
            GREATEST(LEAST(date_diff('day', CAST(ts AS DATE), DATE '2024-01-31') // 7,
                           62), 0))) AS BIGINT)
            AS activity_scaled,
          COUNT(*) AS n_events
        FROM events GROUP BY user_id
        ORDER BY activity_scaled DESC, user_id""")),

    // ---- distribution drift (PSI) between the first and second half
    // of the event stream: 10 bins from the deciles of a DETERMINISTIC
    // sample of period A (event_id % 7 — RNG-free, order-free; at
    // 100 TB the sample is additionally capped the way the IVF fit
    // is, keeping the single-reducer rank sort bounded), Laplace
    // (+1) smoothing so empty bins stay finite, per-bin PSI terms
    // floor-quantized to a 1e-6 grid (ln is the only non-rational
    // step; both engines are ≤1 ulp so the grid absorbs the
    // difference w.h.p. — same convention as the image oracles).
    // Bin counting is one scan per period: the 9 edges ride along as
    // ONE broadcast array row and bin = 1 + |{e : value > e}| via a
    // codegen'd higher-order filter, not a 9× explode. ---------------
    ("q121_psi_drift",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val split = lit("2024-01-16 00:00:00").cast("timestamp")
        val ev = t(s, dir, "events").select(col("event_id"), col("ts"), col("value"))
        val a = ev.filter(col("ts") < split)
        val b = ev.filter(col("ts") >= split)
        val samp = a.filter(col("event_id") % 7 === 0)
          .select(col("value"), col("event_id"))
        val ranked = samp
          .withColumn("rn", row_number().over(Window.orderBy(col("value"), col("event_id"))))
          .withColumn("ns", count(lit(1)).over(Window.partitionBy()))
        val spine9 = s.range(1, 10).select(col("id").as("i"))
        val edges = ranked.join(spine9, expr("rn = (i * ns) div 10"))
        val edgeArr = edges.agg(sort_array(collect_list(col("value"))).as("edges"))
        def binned(df: org.apache.spark.sql.DataFrame) = df
          .crossJoin(broadcast(edgeArr))
          .select((lit(1) + size(filter(col("edges"), e => col("value") > e))).cast("long").as("bin"))
        val na = binned(a).groupBy(col("bin")).agg(count(lit(1)).as("n_a"))
        val nb = binned(b).groupBy(col("bin")).agg(count(lit(1)).as("n_b"))
        val spine10 = s.range(1, 11).select(col("id").as("bin"))
        val j = spine10
          .join(na, Seq("bin"), "left").join(nb, Seq("bin"), "left")
          .na.fill(0L, Seq("n_a", "n_b"))
          .withColumn("ta", sum(col("n_a")).over(Window.partitionBy()))
          .withColumn("tb", sum(col("n_b")).over(Window.partitionBy()))
        val pa = (col("n_a") + lit(1L)) / (col("ta") + lit(10.0))
        val pb = (col("n_b") + lit(1L)) / (col("tb") + lit(10.0))
        j.select(col("bin"), col("n_a"), col("n_b"),
            floor(lit(1000000.0) * (pa - pb) * log(pa / pb)).cast("long").as("psi_term_q6"))
          .orderBy(col("bin"))
      },
      Some("""WITH a AS (SELECT event_id, value FROM events
          WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        b AS (SELECT event_id, value FROM events
          WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
        samp AS (SELECT value, event_id FROM a WHERE event_id % 7 = 0),
        ranked AS (SELECT value,
            ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
            COUNT(*) OVER () AS ns FROM samp),
        edge AS (SELECT r.value AS edge FROM ranked r
          JOIN generate_series(1, 9) i(i) ON r.rn = (i.i * r.ns) // 10),
        el AS (SELECT COALESCE(list_sort(list(edge)), []) AS edges FROM edge),
        abin AS (SELECT 1 + len(list_filter(el.edges, e -> a.value > e)) AS bin FROM a, el),
        bbin AS (SELECT 1 + len(list_filter(el.edges, e -> b.value > e)) AS bin FROM b, el),
        na AS (SELECT bin, COUNT(*) AS n_a FROM abin GROUP BY bin),
        nb AS (SELECT bin, COUNT(*) AS n_b FROM bbin GROUP BY bin),
        spine AS (SELECT i AS bin FROM generate_series(1, 10) t(i)),
        j AS (SELECT s.bin, COALESCE(na.n_a, 0) AS n_a, COALESCE(nb.n_b, 0) AS n_b
          FROM spine s LEFT JOIN na ON na.bin = s.bin LEFT JOIN nb ON nb.bin = s.bin),
        tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM j)
        SELECT CAST(j.bin AS BIGINT) AS bin,
          CAST(j.n_a AS BIGINT) AS n_a, CAST(j.n_b AS BIGINT) AS n_b,
          CAST(FLOOR(1000000.0
            * (((j.n_a + 1) / (tot.ta + 10.0)) - ((j.n_b + 1) / (tot.tb + 10.0)))
            * LN(((j.n_a + 1) / (tot.ta + 10.0)) / ((j.n_b + 1) / (tot.tb + 10.0)))) AS BIGINT) AS psi_term_q6
        FROM j, tot ORDER BY bin""")),

    // ---- MAD anomaly detection on daily volumes — the ingest-
    // monitoring op of a 100 TB pipeline: flag days whose event count
    // deviates from the per-type median by > 3× the median absolute
    // deviation (Hampel's robust z-score; mean/stddev would let the
    // anomaly inflate its own threshold). ONE map-side-combined
    // (type, day) count agg reduces the corpus to |types|·|days| rows;
    // both medians are rank-picked (lower median, day-tiebroken — the
    // disc definition both engines replay exactly, no interpolation)
    // over that BOUNDED relation, so the windows here are the q147-
    // style safe duals of the corpus-window hazard. All integer
    // arithmetic — no IEEE step anywhere. ---------------------------
    ("q148_mad_anomaly",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir, "events")
          .groupBy(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("c"))
        val wt = Window.partitionBy(col("event_type"))
        val med = d
          .withColumn("rn", row_number().over(wt.orderBy(col("c"), col("day"))))
          .withColumn("n", count(lit(1)).over(wt))
          .filter(expr("rn = (n + 1) div 2"))
          .select(col("event_type"), col("c").as("med"))
        val dev = d.join(broadcast(med), Seq("event_type"))
          .withColumn("dev", abs(col("c") - col("med")))
        val mad = dev
          .withColumn("rn2", row_number().over(wt.orderBy(col("dev"), col("day"))))
          .withColumn("n2", count(lit(1)).over(wt))
          .filter(expr("rn2 = (n2 + 1) div 2"))
          .select(col("event_type"), col("dev").as("mad"))
        dev.join(broadcast(mad), Seq("event_type"))
          .select(col("event_type"), col("day"), col("c"), col("med"), col("mad"),
            when(col("dev") > lit(3L) * col("mad"), lit(1L)).otherwise(lit(0L)).as("is_anom"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH d AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, day) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n FROM d),
        m AS (SELECT event_type, MAX(CASE WHEN rn = (n + 1) // 2 THEN c END) AS med
          FROM r GROUP BY 1),
        dev AS (SELECT d.event_type, d.day, d.c, m.med, ABS(d.c - m.med) AS dev
          FROM d JOIN m USING (event_type)),
        r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, day) AS rn2,
            COUNT(*) OVER (PARTITION BY event_type) AS n2 FROM dev),
        mad AS (SELECT event_type, MAX(CASE WHEN rn2 = (n2 + 1) // 2 THEN dev END) AS mad
          FROM r2 GROUP BY 1)
        SELECT dev.event_type, dev.day, dev.c, dev.med, mad.mad,
          CAST(CASE WHEN dev.dev > 3 * mad.mad THEN 1 ELSE 0 END AS BIGINT) AS is_anom
        FROM dev JOIN mad USING (event_type)
        ORDER BY event_type, day"""))
  )
}
