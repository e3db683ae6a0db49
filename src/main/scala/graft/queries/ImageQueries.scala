package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryDsl._
import graft.core.{ImageLog, ImageMeta, Kernels, PixelCodec, SparkImage}
import graft.functions.ImageFunctions

/** Image-engine queries (the reference's actual domain).
  *
  * All are built on the synthetic constant-fill corpus the reference
  * tests use (5 images, 100×50, fill = fact·(i−1)·1000 + 1000 —
  * SpijiTests.scala:14-16) scaled up so the work is measurable.
  *
  * Because the corpus is constant-fill and every kernel is
  * deterministic, most results are CLOSED-FORM: stats of a constant
  * image are (f, f, 0, f, w·h) exactly (IEEE: sum = f·n and f·n/n = f
  * for these magnitudes), a fixed-range histogram is a single spike in
  * bin ⌊f/binw⌋, a thresholded mask is all-255 or all-0, the
  * histogram distance of two spikes is exactly 0 or 1. Those queries
  * carry a DuckDB oracle that recomputes the closed form from
  * `range()` — an independent re-derivation of what the kernel path
  * (decode → ROI/calibration view → kernel → stats) must produce.
  * Only the genuinely non-SQL-expressible ones (seeded gaussian noise,
  * blob fixtures + connected components) stay rows-only checked, with
  * exact-value assertions in ScalaTest (kernels are seeded, so unlike
  * the reference we hash-assert, not statistics-assert — SURVEY §5).
  */
object ImageQueries {

  /** DuckDB fragment for the debug corpus: (i, fill) pairs. */
  private def imSql(count: Int): String =
    s"(SELECT i, CAST((i % 5) * 1000 + 1000 AS DOUBLE) AS f FROM range($count) t(i))"

  /** s_k = (A_k·s0 + C_k) mod 2^48 — `java.util.Random`'s LCG at step k
    * in closed form, so the img16 oracle derives every blob parameter
    * without sequential state. KernelSpec asserts this table (and the
    * no-rejection fast path of `nextInt`) against `java.util.Random`
    * for all fixture seeds. */
  private[graft] val lcgStepConstants: Seq[(Int, Long, Long)] = Seq(
    (1, 25214903917L, 11L), (2, 205749139540585L, 277363943098L),
    (3, 233752471717045L, 11718085204285L), (4, 55986898099985L, 49720483695876L),
    (5, 120950523281469L, 102626409374399L), (6, 76790647859193L, 25707281917278L),
    (7, 61282721086213L, 25979478236433L), (8, 128954768138017L, 137139456763464L),
    (9, 177269950146317L, 148267022728371L), (10, 19927021227657L, 127911637363266L),
    (11, 92070806603349L, 65633894156837L), (12, 28158748839985L, 233987836661708L),
    (13, 118637304785629L, 262259097190887L), (14, 127636996050457L, 159894566279526L),
    (15, 12659659028133L, 156526639281273L), (16, 120681609298497L, 14307911880080L),
    (17, 262331189124013L, 215905707320923L), (18, 31562171905705L, 5324043867850L),
    (19, 1172916755445L, 71032958119949L), (20, 193905135338833L, 83935042429844L),
    (21, 247073002637693L, 246566694182415L), (22, 112300943448121L, 149619956090478L),
    (23, 219938666776133L, 259030427177185L), (24, 58725872150881L, 145080971318744L),
    (25, 239969976468557L, 228115611557123L), (26, 94624061997769L, 53035585604690L),
    (27, 145453462783381L, 249475337448181L), (28, 38540591316593L, 160613567801436L),
    (29, 121251725909021L, 21610118862647L), (30, 132283442071129L, 229479197019254L),
    (31, 54592345319909L, 277222176248393L), (32, 275731715003521L, 33313044635424L))

  private def lcgSteps: String =
    lcgStepConstants.map { case (k, a2, c2) => s"($k,$a2,$c2)" }.mkString(",")

  /** DuckDB re-derivation of the FULL img16 pipeline: the 8 blob
    * fixtures (seeds 42+i) from `java.util.Random`'s LCG in closed form
    * ([[lcgSteps]]), gaussian blob accumulation, Float32 encode, 8-bit
    * conversion (rint + clamp — `roundbankers` is the half-even
    * mirror), gray→RGB replication, and the per-strategy means.
    * Post-8-bit everything is integer-valued, so the strategy sums are
    * exact in any order and the /16384 (2^14) division is exact — the
    * only cross-engine tolerance is `exp` (≤1 ulp, absorbed by the
    * Float32 encode and the rint step w.h.p.; deterministic for these
    * fixed fixtures, verified green — KernelSpec's "libm exp drift"
    * guard asserts the margin at ±1e-12 per term, so if a DuckDB/JDK
    * upgrade ever lands a fixture pixel on a mask-threshold or
    * half-even boundary, that test fails with the pixel identified
    * instead of the gate going flaky. Verified green on DuckDB 1.x /
    * Temurin 17; re-run that guard first when either is upgraded).
    * Blob draw order per blob b:
    * k = 4b+1..4b+4 → cx, cy, r = 2+d%6, amp = 100+d%155;
    * nextInt(128) = next31 >> 24 (power-of-two path). */
  /** Shared WITH-fragment: the 128×128 blob fixtures (seeds 42+i) from
    * the closed-form LCG — ends in a CTE `pxb(i, x, y, vf)` of exact
    * Float32 blob pixel values. */
  private def blobCtes(count: Int): String =
    s"""lcg(k, a2, c2) AS (VALUES $lcgSteps),
      seeds AS (SELECT i, xor(CAST(42 + i AS BIGINT), 25214903917) AS s0
        FROM range($count) t(i)),
      draws AS (SELECT i, k,
          CAST((CAST(a2 AS HUGEINT) * s0 + c2) % 281474976710656 AS BIGINT)
            // 131072 AS d
        FROM seeds, lcg),
      blobs AS (SELECT i, (k - 1) // 4 AS b,
          MAX(CASE WHEN (k - 1) % 4 = 0 THEN d // 16777216 END) AS cx,
          MAX(CASE WHEN (k - 1) % 4 = 1 THEN d // 16777216 END) AS cy,
          MAX(CASE WHEN (k - 1) % 4 = 2 THEN 2 + d % 6 END) AS r,
          MAX(CASE WHEN (k - 1) % 4 = 3 THEN 100 + d % 155 END) AS amp
        FROM draws GROUP BY i, (k - 1) // 4),
      grid AS (SELECT i, x, y
        FROM range($count) t(i), range(128) tx(x), range(128) ty(y)),
      pxb AS (SELECT g.i, g.x, g.y,
          CAST(COALESCE(SUM(b.amp * exp(
            -CAST((g.x - b.cx) * (g.x - b.cx) + (g.y - b.cy) * (g.y - b.cy) AS DOUBLE)
              / (2.0 * b.r * b.r))), 0) AS REAL) AS vf
        FROM grid g LEFT JOIN blobs b ON b.i = g.i
          AND g.x >= b.cx - 3 * b.r AND g.x <= b.cx + 3 * b.r - 1
          AND g.y >= b.cy - 3 * b.r AND g.y <= b.cy + 3 * b.r - 1
        GROUP BY g.i, g.x, g.y)"""

  private def img16OracleSql: String =
    s"""WITH ${blobCtes(8)},
      px8 AS (SELECT i, CAST(LEAST(255, GREATEST(0,
          roundbankers(CAST(vf AS DOUBLE), 0))) AS BIGINT) AS v8 FROM pxb),
      ag AS (SELECT i, SUM(v8) AS s1, SUM(v8 * 3) AS s3, SUM(v8 * 65793) AS si
        FROM px8 GROUP BY i)
      SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample,
        CAST(s1 AS DOUBLE) / 16384.0 AS m_mean,
        CAST(s3 AS DOUBLE) / 16384.0 AS m_sum,
        CAST(s1 AS DOUBLE) / 16384.0 AS m_max,
        CAST(si AS DOUBLE) / 16384.0 AS m_int,
        CAST(s1 AS DOUBLE) / 16384.0 AS m_red
      FROM ag ORDER BY sample"""

  /** DuckDB re-derivation of img05 particle analysis: the 20 blob
    * fixtures ([[blobCtes]]), the ≥50 threshold mask, 8-connected
    * component labeling, and per-particle areas.
    *
    * The labeling runs on HORIZONTAL RUNS (gaps-and-islands per row),
    * not pixels — ~50× fewer nodes, so the recursive-CTE min-label
    * fixpoint (the q59/q96 pattern) closes in ~1s instead of ~45s.
    * Two runs are 8-adjacent iff they sit in consecutive rows with
    * x-ranges overlapping after ±1 expansion; same-row runs are never
    * adjacent (a gap of ≥1 pixel separates them by construction). The
    * fixpoint propagates only labels ≤ the node: the component minimum
    * always survives (every path node exceeds it), and MIN per node is
    * unchanged. The engine renumbers components in raster order of
    * first appearance (Kernels.analyzeSlice), which equals ascending
    * minimum pixel index — ROW_NUMBER over the min run start
    * reproduces it. Areas are integer counts: no quantization. */
  private def img05OracleSql: String =
    s"""WITH RECURSIVE ${blobCtes(20)},
      mask AS (SELECT i, x, y FROM pxb
        WHERE CAST(vf AS DOUBLE) >= 50.0 AND CAST(vf AS DOUBLE) <= 99999.0),
      runs AS (SELECT i, y, MIN(x) AS x0, MAX(x) AS x1,
          COUNT(*) AS len, MIN(y * 128 + x) AS p0
        FROM (SELECT i, x, y,
            x - ROW_NUMBER() OVER (PARTITION BY i, y ORDER BY x) AS grp
          FROM mask) GROUP BY i, y, grp),
      adj AS (SELECT a.i, a.p0 AS src, b.p0 AS dst
        FROM runs a JOIN runs b ON b.i = a.i AND b.y = a.y + 1
          AND b.x0 <= a.x1 + 1 AND a.x0 <= b.x1 + 1),
      edges AS (SELECT i, p0 AS src, p0 AS dst FROM runs
        UNION ALL SELECT i, src, dst FROM adj
        UNION ALL SELECT i, dst AS src, src AS dst FROM adj),
      reach(i, id, r) AS (
        SELECT i, src, dst FROM edges WHERE dst <= src
        UNION
        SELECT e.i, e.src, reach.r FROM edges e
          JOIN reach ON reach.i = e.i AND reach.id = e.dst
        WHERE reach.r <= e.src),
      comp AS (SELECT i, id AS p0, MIN(r) AS root FROM reach GROUP BY i, id),
      parts AS (SELECT c.i, c.root, SUM(r.len) AS area
        FROM comp c JOIN runs r ON r.i = c.i AND r.p0 = c.p0
        GROUP BY c.i, c.root),
      ranked AS (SELECT i, root, area,
          ROW_NUMBER() OVER (PARTITION BY i ORDER BY root) - 1 AS particle
        FROM parts)
      SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample,
        CAST(particle AS INTEGER) AS particle, CAST(area AS DOUBLE) AS area
      FROM ranked ORDER BY sample, particle"""

  /** DuckDB re-derivation of the FULL img02 pipeline — seeded noise →
    * 5×5 clamped median → 3×3 smooth → stats — on the 20 constant-fill
    * 128×64 debug images. Every stage is engine-agnostic by
    * construction (see [[graft.core.Kernels]] `addNoise`): the noise is
    * integer-derived and dyadic (exact in Float32), the median is an
    * exact order statistic, the smooth rounds through REAL (float32),
    * and the only fp-order-sensitive step — the final mean/stdDev
    * reduction — is floor-quantized to the 1e-4 grid on both sides.
    * Constant-fill closed forms used: noiseSeed's content sum is
    * 32·f·n² (n = 8192), and dims ⊕ = (128<<32)^64 = 549755813952. */
  /** Shared WITH-fragment: the 128×64 constant-fill debug images with
    * the `Add Noise` stage re-derived in SQL — ends in a CTE
    * `noisy(i, x, y, v)` of exact post-noise Float32 pixel values.
    * (See [[graft.core.Kernels]] `addNoise` for why this is exact.) */
  private def noisyCtes(count: Int): String = {
    import graft.pipeline.HashSql._
    val gamma = 0x9e3779b97f4a7c15L
    // mix64 staged through CTE columns (HashSql convention)
    def mix(cte: String, in: String, out: String, carry: String) =
      s"""${cte}a AS (SELECT $carry, ${mixStage1(in)} AS z1 FROM ${cte}0),
         ${cte}b AS (SELECT $carry, ${mixStage2("z1")} AS z2 FROM ${cte}a),
         ${cte}c AS (SELECT $carry, ${mixStage3("z2")} AS z3 FROM ${cte}b),
         $cte AS (SELECT $carry, ${mixStage4("z3")} AS $out FROM ${cte}c)"""
    // Irwin–Hall: sum of twelve 5-bit chunks of the 64-bit draw
    val chunkSum = (0 to 11)
      .map(j => s"CAST(s // ${1L << (5 * j)} % 32 AS INTEGER)").mkString(" + ")
    s"""im0 AS (SELECT i, CAST((i % 5) * 1000 + 1000 AS DOUBLE) AS f,
           xor(CAST((i % 5) * 1000 + 1000 AS UBIGINT) * 2147483648,
               CAST(549755813952 AS UBIGINT)) AS sin
         FROM range($count) t(i)),
       ${mix("im", "sin", "seed0", "i, f")},
       px0 AS (SELECT i, f, x, y,
           ${addModExpr("seed0", mulMod("CAST(y * 128 + x + 1 AS UBIGINT)", gamma))} AS sin
         FROM im, range(128) tx(x), range(64) ty(y)),
       ${mix("px", "sin", "s", "i, f, x, y")},
       noisy AS (SELECT i, x, y,
           f + (($chunkSum) - 186) / 32.0 * 25.0 AS v FROM px)"""
  }

  private def img02OracleSql: String =
    s"""WITH ${noisyCtes(20)},
       d2 AS (SELECT CAST(a.d - 2 AS INTEGER) AS dx, CAST(b.d - 2 AS INTEGER) AS dy
         FROM range(5) a(d), range(5) b(d)),
       -- probe coordinates materialized FIRST so the neighbor lookup is
       -- a composite-key equi-join (hash join on (i,nx,ny)), not a
       -- per-image quadratic join on i alone
       probe2 AS (SELECT a.i, a.x, a.y,
           LEAST(127, GREATEST(0, a.x + d2.dx)) AS nx,
           LEAST(63, GREATEST(0, a.y + d2.dy)) AS ny
         FROM noisy a, d2),
       med AS (SELECT p.i, p.x, p.y, median(n.v) AS v
         FROM probe2 p JOIN noisy n
           ON n.i = p.i AND n.x = p.nx AND n.y = p.ny
         GROUP BY p.i, p.x, p.y),
       d1 AS (SELECT CAST(a.d - 1 AS INTEGER) AS dx, CAST(b.d - 1 AS INTEGER) AS dy
         FROM range(3) a(d), range(3) b(d)),
       probe1 AS (SELECT a.i, a.x, a.y,
           LEAST(127, GREATEST(0, a.x + d1.dx)) AS nx,
           LEAST(63, GREATEST(0, a.y + d1.dy)) AS ny
         FROM med a, d1),
       sm AS (SELECT p.i, p.x, p.y, CAST(SUM(n.v) / 9.0 AS REAL) AS v
         FROM probe1 p JOIN med n
           ON n.i = p.i AND n.x = p.nx AND n.y = p.ny
         GROUP BY p.i, p.x, p.y),
       ag1 AS (SELECT i, SUM(CAST(v AS DOUBLE)) / 8192.0 AS mean FROM sm GROUP BY i),
       ag2 AS (SELECT s.i, a.mean,
           sqrt(SUM((CAST(s.v AS DOUBLE) - a.mean) * (CAST(s.v AS DOUBLE) - a.mean)) / 8192.0) AS sd
         FROM sm s JOIN ag1 a ON a.i = s.i GROUP BY s.i, a.mean)
       SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample,
         floor(mean * 10000) / 10000.0 AS mean,
         floor(sd * 10000) / 10000.0 AS "stdDev"
       FROM ag2 ORDER BY sample"""

  /** DuckDB re-derivation of the img08 parameter sweep: the SAME noise
    * stage as img02 ([[noisyCtes]], 6 images), then one clamped median
    * per radius r ∈ {1,2,3} and the per-(image, radius) stdDev,
    * floor-quantized to the 1e-4 grid on both sides. */
  private def img08OracleSql: String =
    s"""WITH ${noisyCtes(6)},
       radii AS (SELECT CAST(r AS INTEGER) AS r FROM range(1, 4) t(r)),
       dd AS (SELECT radii.r, CAST(a.d - 3 AS INTEGER) AS dx,
           CAST(b.d - 3 AS INTEGER) AS dy
         FROM range(7) a(d), range(7) b(d), radii
         WHERE abs(a.d - 3) <= radii.r AND abs(b.d - 3) <= radii.r),
       probe AS (SELECT a.i, dd.r, a.x, a.y,
           LEAST(127, GREATEST(0, a.x + dd.dx)) AS nx,
           LEAST(63, GREATEST(0, a.y + dd.dy)) AS ny
         FROM noisy a, dd),
       med AS (SELECT p.i, p.r, p.x, p.y, median(n.v) AS v
         FROM probe p JOIN noisy n
           ON n.i = p.i AND n.x = p.nx AND n.y = p.ny
         GROUP BY p.i, p.r, p.x, p.y),
       ag1 AS (SELECT i, r, SUM(v) / 8192.0 AS mean FROM med GROUP BY i, r),
       ag2 AS (SELECT m.i, m.r,
           sqrt(SUM((m.v - a.mean) * (m.v - a.mean)) / 8192.0) AS sd
         FROM med m JOIN ag1 a ON a.i = m.i AND a.r = m.r GROUP BY m.i, m.r)
       SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample,
         'radius=' || CAST(r AS VARCHAR) AS args,
         floor(sd * 10000) / 10000.0 AS "stdDev"
       FROM ag2 ORDER BY sample, args"""

  /** The reference's workhorse fixture as a DataFrame
    * (createEmptyImages, scOps.scala:63-73). */
  def debugImages(s: SparkSession, count: Int = 20, width: Int = 128,
                  height: Int = 64): DataFrame = {
    import s.implicits._
    s.range(count.toLong)
      .map { i => (s"/imgs/$i", Kernels.constantImage(width, height, 1, (i % 5) * 1000.0 + 1000.0)) }
      .toDF("sample", "image")
  }

  def blobImages(s: SparkSession, count: Int = 20): DataFrame = {
    import s.implicits._
    s.range(count.toLong)
      .map { i => (s"/imgs/$i", Kernels.blobImage(128, 128, nBlobs = 8, seed = 42L + i)) }
      .toDF("sample", "image")
  }

  /** `dicomCensus` of the DICOM files in `dir`, with `sum_w`/`sum_h`
    * taken from the `imagedir` scan's decoded `image`, grouped by each
    * file's declared syntax: the census reads headers only, so this is
    * what keeps a syntax's decoder inside the oracle gate. A decode
    * that throws fails the query; one that returns the wrong geometry
    * flips a row. */
  private def decodedCensus(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ImageOps
    val glob = s"$dir/*.dcm"
    val syntax = udf { (path: String, content: Array[Byte]) =>
      graft.sources.ImageCodecIO.dicomTransferSyntax(path, content)
    }
    val decoded = ImageOps.imageFiles(s, glob)
      .select(syntax(col("path"), col("content")).as("ts"), col("image"))
      .groupBy(col("ts"))
      .agg(sum(col("image.width")).cast("long").as("sum_w"),
        sum(col("image.height")).cast("long").as("sum_h"))
    ImageOps.dicomCensus(s, glob).drop("sum_w", "sum_h").join(decoded, "ts")
      .orderBy(col("ts"))
  }

  val entries: List[(String, Q, Option[String])] = List(

    // SELECT sample, stats(image) FROM Images (IJSqlTest.scala:89)
    ("img01_stats",
      (s, _) => {
        val st = ImageFunctions.statsUdf(col("image"))
        debugImages(s)
          .select(col("sample"), st.getField("min").as("min"), st.getField("mean").as("mean"),
            st.getField("stdDev").as("stdDev"), st.getField("max").as("max"),
            st.getField("pts").as("pts"))
          .orderBy(col("sample"))
      },
      // stats of a constant-fill image are closed-form: all pixels = f,
      // so min=mean=max=f exactly and stdDev=0 (every deviation term is
      // literally 0.0); pts = 128·64
      Some(s"""SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample,
        f AS "min", f AS mean, 0.0 AS "stdDev", f AS "max",
        CAST(8192 AS BIGINT) AS pts
        FROM ${imSql(20)} ORDER BY sample""")),

    // the 3-stage SQL pipeline (IJSqlTest.scala:150-170): noise → median →
    // smooth → stats. The final mean/stdDev are floor-quantized to the
    // 1e-4 grid so the oracle's re-derivation (identical pixels, but a
    // different fp summation order in the final reduction) lands on the
    // same grid cell.
    ("img02_pipeline",
      (s, _) => {
        ImageFunctions.registerAll(s)
        debugImages(s).createOrReplaceTempView("Images")
        s.sql("""SELECT sample, run(image, 'Add Noise') AS nsImg FROM Images""")
          .createOrReplaceTempView("NoisyImages")
        s.sql("""SELECT sample, run2(nsImg, 'Median...', 'radius=2') AS fImg FROM NoisyImages""")
          .createOrReplaceTempView("FilteredImages")
        s.sql("""SELECT sample, run(fImg, 'Smooth') AS sImg FROM FilteredImages""")
          .createOrReplaceTempView("SmoothImages")
        s.sql("""SELECT sample, floor(stats(sImg)['mean'] * 10000) / 10000.0D AS mean,
                        floor(stats(sImg)['stdDev'] * 10000) / 10000.0D AS stdDev
                 FROM SmoothImages ORDER BY sample""")
      }, Some(img02OracleSql)),

    // threshold + mask (PortableImagePlus.scala:366-377 semantics)
    ("img03_threshold",
      (s, _) => {
        val masked = ImageFunctions.run2Udf(col("image"), lit("setThreshold"), lit("lower=1500 upper=99999"))
        debugImages(s)
          .select(col("sample"), ImageFunctions.statsUdf(masked).getField("mean").as("mask_mean"))
          .orderBy(col("sample"))
      },
      // threshold of a constant image: every pixel passes (mask all 255)
      // or none does (all 0) — mask mean is exactly 255.0 or 0.0
      Some(s"""SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample,
        CASE WHEN f >= 1500 THEN 255.0 ELSE 0.0 END AS mask_mean
        FROM ${imSql(20)} ORDER BY sample""")),

    // fixed-range histogram, exploded to (sample, bin, count) rows
    ("img04_histogram",
      (s, _) => {
        val h = ImageFunctions.hist3Udf(col("image"), lit(0.0), lit(6000.0), lit(12))
        debugImages(s)
          .select(col("sample"), posexplode(h.getField("counts")))
          .toDF("sample", "bin", "count")
          .filter(col("count") > 0)
          .orderBy(col("sample"), col("bin"))
      },
      // hist3(0, 6000, 12) of a constant image is a single spike of all
      // 8192 pixels in bin ⌊f/500⌋ = (i%5)·2 + 2
      Some(s"""SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample,
        CAST((i % 5) * 2 + 2 AS INTEGER) AS bin, CAST(8192 AS BIGINT) AS "count"
        FROM ${imSql(20)} ORDER BY sample, bin""")),

    // particle analysis: per-component measurements as rows (SURVEY A4)
    ("img05_particles",
      (s, _) => {
        ImageFunctions.registerAll(s)
        val masked = ImageFunctions.run2Udf(col("image"), lit("setThreshold"), lit("lower=50 upper=99999"))
        val table = ImageFunctions.runtableUdf(masked, lit("Analyze Particles..."), lit(""))
        blobImages(s)
          .select(col("sample"), posexplode(element_at(table, "Area")))
          .toDF("sample", "particle", "area")
          .orderBy(col("sample"), col("particle"))
      }, Some(img05OracleSql)),

    // image subtraction post-join (SURVEY J1: the reference's only
    // "join" shape, rebuilt as a real equi-join + 2-arg UDF)
    ("img06_subtract_join",
      (s, _) => {
        val a = debugImages(s).withColumnRenamed("image", "img_a")
        val b = debugImages(s)
          .select(col("sample"), ImageFunctions.run2Udf(col("image"), lit("Add..."), lit("value=100")).as("img_b"))
        val diff = ImageFunctions.subtractUdf(col("img_a"), col("img_b"))
        a.join(b, "sample")
          .select(col("sample"), ImageFunctions.statsUdf(diff).getField("mean").as("diff_mean"))
          .orderBy(col("sample"))
      },
      // a − (a + 100) = −100 at every pixel, exactly (f ≤ 5000 and
      // f+100 are exactly representable in Float32)
      Some(s"""SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample, -100.0 AS diff_mean
        FROM ${imSql(20)} ORDER BY sample""")),

    // histogram distance matrix (SURVEY J4: all-pairs crossJoin)
    ("img07_hist_compare",
      (s, _) => {
        val small = debugImages(s, count = 8)
        val a = small.select(col("sample").as("sa"), col("image").as("ia"))
        val b = small.select(col("sample").as("sb"), col("image").as("ib"))
        a.crossJoin(b).filter(col("sa") < col("sb"))
          .select(col("sa"), col("sb"),
            ImageFunctions.histCompareUdf(col("ia"), col("ib")).as("dist"))
          .orderBy(col("sa"), col("sb"))
      },
      // two constant images histogram as single spikes; re-binned to a
      // common 10000-bin axis the spikes either coincide (same fill →
      // L1/2 = 0) or land ≥1000 apart with bin width ≤ 0.4 (disjoint →
      // L1/2 = (1+1)/2 = 1) — exactly 0.0 or 1.0
      Some(s"""WITH im AS ${imSql(8)}
        SELECT '/imgs/' || CAST(a.i AS VARCHAR) AS sa,
               '/imgs/' || CAST(b.i AS VARCHAR) AS sb,
               CASE WHEN a.f = b.f THEN 0.0 ELSE 1.0 END AS dist
        FROM im a JOIN im b ON a.i < b.i ORDER BY sa, sb""")),

    // parameter sweep (runRange, scOps.scala:207-224): explode a param
    // grid, run the kernel per (image, param)
    ("img08_param_sweep",
      (s, _) => {
        val params = (1 to 3).map(r => s"radius=$r")
        val swept = debugImages(s, count = 6)
          .withColumn("args", explode(typedLit(params)))
        val noisy = ImageFunctions.runUdf(col("image"), lit("Add Noise"))
        val filtered = ImageFunctions.run2Udf(noisy, lit("Median..."), col("args"))
        // stdDev floor-quantized to the 1e-4 grid (same rationale as
        // img02: the oracle re-derives identical pixels but reduces in
        // a different fp order)
        swept.select(col("sample"), col("args"),
            (floor(ImageFunctions.statsUdf(filtered).getField("stdDev") * 10000) /
              10000.0).as("stdDev"))
          .orderBy(col("sample"), col("args"))
      }, Some(img08OracleSql)),

    // provenance log round-trip: every op appended, json-parseable
    ("img09_provenance",
      (s, _) => {
        val processed = ImageFunctions.run2Udf(
          ImageFunctions.runUdf(col("image"), lit("Invert")), lit("Multiply..."), lit("value=2"))
        debugImages(s, count = 5)
          .select(col("sample"),
            from_json(processed.getField("log"),
              org.apache.spark.sql.types.DataType.fromDDL(
                "array<struct<optype:string,optool:string,opval:string,opargs:string>>"))
              .as("log"))
          .select(col("sample"), explode(col("log")).as("entry"))
          .select(col("sample"), col("entry.optype"), col("entry.opval"))
          .orderBy(col("sample"), col("opval"))
      },
      // the provenance log is fully determined: CREATE(constantImage)
      // from the fixture, then one RUN entry per applied op
      Some("""WITH e(optype, opval) AS (VALUES
          ('CREATE', 'constantImage'), ('RUN', 'Invert'), ('RUN', 'Multiply...'))
        SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample, optype, opval
        FROM range(5) t(i) CROSS JOIN e ORDER BY sample, opval""")),

    // provenance-as-macro: replaying a processed image's log on the
    // original reproduces it exactly (macro record/replay analogue)
    ("img14_log_replay",
      (s, _) => {
        val processed = ImageFunctions.run2Udf(
          ImageFunctions.runUdf(col("image"), lit("Add Noise")),
          lit("Median..."), lit("radius=2"))
        debugImages(s, count = 6)
          .withColumn("p", processed)
          .withColumn("r", ImageFunctions.replayUdf(col("image"), col("p.log")))
          .select(col("sample"), (col("p.data") === col("r.data")).as("replay_match"))
          .orderBy(col("sample"))
      },
      // replay re-runs the RUN entries on the original; the noise seed
      // is a content hash, so the replayed pipeline is bit-identical
      Some("""SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample, TRUE AS replay_match
        FROM range(6) t(i) ORDER BY sample""")),

    // cross-image histogram via a typed Aggregator (SURVEY A6 corpus
    // path): partial count-array buffers merge map-side, pixels never
    // shuffle
    ("img13_hist_aggregate",
      (s, _) => {
        import org.apache.spark.sql.Encoders
        val histUdaf = udaf(new graft.functions.HistogramAggregator(0.0, 6000.0, 12),
          Encoders.product[graft.core.SparkImage])
        debugImages(s, count = 20)
          .withColumn("grp", regexp_extract(col("sample"), "(\\d+)$", 1).cast("int") % 2)
          .groupBy(col("grp"))
          // a udaf over a product encoder takes the case-class fields as
          // separate inputs, so the struct column is expanded
          .agg(histUdaf(col("image.meta"), col("image.log"), col("image.width"),
            col("image.height"), col("image.slices"), col("image.pixelType"),
            col("image.data")).as("h"))
          .select(col("grp"), posexplode(col("h.counts")))
          .toDF("grp", "bin", "count")
          .filter(col("count") > 0)
          .orderBy(col("grp"), col("bin"))
      },
      // each image spikes 8192 pixels into bin (i%5)·2+2 (as img04);
      // grouped by i%2, each (grp, bin) cell collects exactly 2 images
      Some("""SELECT CAST(i % 2 AS INTEGER) AS grp,
          CAST((i % 5) * 2 + 2 AS INTEGER) AS bin,
          CAST(SUM(8192) AS BIGINT) AS "count"
        FROM range(20) t(i) GROUP BY 1, 2 ORDER BY grp, bin""")),

    // DSv2 catalog source through pure SQL DDL (SURVEY §3.3 / S8-S10):
    // CREATE ... USING imagedebug, metadata pruned unless pixels asked
    ("img11_ddl_source",
      (s, _) => {
        ImageFunctions.registerAll(s)
        s.sql("DROP VIEW IF EXISTS GraftDebugImages")
        s.sql("""CREATE TEMPORARY VIEW GraftDebugImages
          USING imagedebug OPTIONS (path "/imgs", count "12", width "64", height "32")""")
        s.sql("""SELECT name, width, height, slices,
                 stats(image)['mean'] AS mean
                 FROM GraftDebugImages ORDER BY name""")
      },
      // the imagedebug catalog generates name=i, fixed dims, and the
      // same constant fill family; mean of a constant image = f
      Some(s"""SELECT CAST(i AS VARCHAR) AS name, CAST(64 AS INTEGER) AS width,
        CAST(32 AS INTEGER) AS height, CAST(1 AS INTEGER) AS slices, f AS mean
        FROM ${imSql(12)} ORDER BY name""")),

    // runRange sweep through the ops layer (scOps.scala:207-224)
    ("img12_ops_runrange",
      (s, _) => {
        import graft.ops.ImageOps, graft.ops.ImageOps.GraftImageOps
        debugImages(s, count = 4)
          .runRange("Mean...", ImageOps.linearRange("radius", 1, 2, 2))
          .getStatistics()
          .select(col("sample"), col("stats.mean").as("mean"))
          .orderBy(col("sample"))
      },
      // a mean filter (edge-clamped) leaves a constant image exactly
      // constant for any radius; the sweep fans each image out to the
      // two SweepToPath-suffixed samples
      Some(s"""WITH r(arg) AS (VALUES ('radius=1.0'), ('radius=2.0'))
        SELECT '/imgs/' || CAST(i AS VARCHAR) || '/' || arg AS sample, f AS mean
        FROM ${imSql(4)} CROSS JOIN r ORDER BY sample""")),

    // stack append via sort + aggregation (SURVEY §2.6's only ordering
    // contract: slices must assemble in key order, Spiji.java:765-792)
    ("img10_stack_build",
      (s, _) => {
        import s.implicits._
        val slices = s.range(11L)
          .map(i => ("stack", i, Kernels.constantImage(64, 32, 1, i.toDouble)))
          .toDF("sample", "idx", "image")
        // collect_list gives NO ordering guarantee across the aggregation
        // exchange — collect (idx, image) pairs and sort explicitly, so
        // slice order (the one ordering contract, Spiji.java:765-792)
        // holds under any partitioning
        val assembled = slices
          .groupBy(col("sample"))
          .agg(collect_list(struct(col("idx"), col("image"))).as("imgs"))
          .as[(String, Seq[(Long, SparkImage)])]
          .map { case (k, imgs) =>
            (k, imgs.sortBy(_._1).map(_._2).reduce(Kernels.appendStack)) }
          .toDF("sample", "image")
        assembled.select(col("sample"),
          ImageFunctions.nslicesUdf(col("image")).as("nslices"),
          ImageFunctions.statsUdf(col("image")).getField("mean").as("mean"))
      },
      // 11 appended constant slices 0..10 → mean = Σi/11 = 5 exactly
      Some("""SELECT 'stack' AS sample, CAST(11 AS INTEGER) AS nslices, 5.0 AS mean""")),

    // ROI + value calibration: stats of a selection in calibrated units
    // (ROI surface Spiji.java:515-613; calibration IJCalibration.java:
    // 98-121 — the CT Hounsfield use-case)
    ("img15_roi_calibrated",
      (s, _) => {
        val roid = ImageFunctions.run2Udf(
          ImageFunctions.run2Udf(col("image"), lit("setRoi"), lit("x=16 y=8 width=64 height=48")),
          lit("setCalibration"), lit("function=line coeffs=-1024,1 unit=HU"))
        val st = ImageFunctions.statsUdf(roid)
        debugImages(s)
          .select(col("sample"), st.getField("mean").as("hu_mean"),
            st.getField("pts").as("roi_pts"))
          .orderBy(col("sample"))
      },
      // the linear calibration maps the constant fill to f−1024 at
      // every ROI pixel; the 64×48 ROI restricts pts to 3072
      Some(s"""SELECT '/imgs/' || CAST(i AS VARCHAR) AS sample,
        f - 1024.0 AS hu_mean, CAST(3072 AS BIGINT) AS roi_pts
        FROM ${imSql(20)} ORDER BY sample""")),

    // RGB→scalar conversion strategies (TImgTools.java:311-366): gray →
    // RGB, then per-strategy channel extraction via the run2 rgb= arg
    ("img16_rgb_channels",
      (s, _) => {
        val rgb = ImageFunctions.run2Udf(
          ImageFunctions.run2Udf(col("image"), lit("8-bit"), lit("")),
          lit("RGB Color"), lit(""))
        def chan(strategy: String) = ImageFunctions.statsUdf(
          ImageFunctions.run2Udf(rgb, lit("32-bit"), lit(s"rgb=$strategy")))
          .getField("mean")
        blobImages(s, count = 8)
          .select(col("sample"), chan("mean").as("m_mean"), chan("sum").as("m_sum"),
            chan("max").as("m_max"), chan("int").as("m_int"), chan("red").as("m_red"))
          .orderBy(col("sample"))
      }, Some(img16OracleSql)),

    // distributed file sink → imagedir DSv2 source round trip (SURVEY
    // S2/K2): constant Float32 images save as 16-bit gray PNGs
    // (lossless for these magnitudes), the catalog scan decodes them
    // back, and the per-file stats recover the exact fill values
    ("img17_file_roundtrip",
      (s, _) => {
        import graft.ops.ImageOps
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_img_roundtrip"
        // saveImages only overwrites same-named files — clear the dir
        // first (mode("overwrite") semantics) so stale .png files from
        // an earlier run with different params can't match the pattern
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        // 16-bit first: PNG holds USHORT gray losslessly for these
        // fills; a Float32 save would clamp through the 8-bit writer
        val imgs16 = debugImages(s, count = 10, width = 64, height = 32)
          .withColumn("image", ImageFunctions.run2Udf(col("image"), lit("16-bit"), lit("")))
        ImageOps.saveImages(imgs16, dir, "png")
        s.read.format("imagedir")
          .option("path", dir).option("pattern", ".*\\.png").load()
          .select(col("name"),
            ImageFunctions.statsUdf(col("image")).getField("mean").as("mean"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"))
          .orderBy(col("name"))
      },
      // sample "/imgs/<i>" sanitizes to file name "imgs_<i>.png"; the
      // PNG round trip is exact, so mean = the constant fill
      Some(s"""SELECT 'imgs_' || CAST(i AS VARCHAR) || '.png' AS name,
        f AS mean, CAST(1 AS BIGINT) AS nslices
        FROM ${imSql(10)} ORDER BY name""")),

    // multi-slice STACK file IO (the reference's flagship IO shape: a
    // 68-slice DICOM stack, IjRDDTests.scala:30-99 — here the
    // JDK-supported multi-page TIFF container): 3-slice stacks with
    // DISTINCT per-slice fills save as one TIFF page per slice, decode
    // back in page order, and per-slice means recover each fill —
    // order-sensitive, so a permuted or truncated stack cannot pass
    ("img18_tiff_stack_roundtrip",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_tiff_roundtrip"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val stacks = s.range(10L).map { i =>
          val slices = (0 until 3).map(k =>
            Kernels.constantImage(64, 32, 1, i * 10.0 + k * 3.0 + 7.0, PixelCodec.Short16))
          (s"/imgs/$i", slices.reduce(Kernels.appendStack))
        }.toDF("sample", "image")
        ImageOps.saveImages(stacks, dir, "tif")
        val sm = ImageFunctions.sliceMeansUdf(col("image"))
        s.read.format("imagedir")
          .option("path", dir).option("pattern", ".*\\.tif").load()
          .select(col("name"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"),
            element_at(sm, 1).as("s0"), element_at(sm, 2).as("s1"),
            element_at(sm, 3).as("s2"))
          .orderBy(col("name"))
      },
      // 16-bit TIFF round-trips exactly: slice k mean = i*10 + 3k + 7
      Some("""SELECT 'imgs_' || CAST(i AS VARCHAR) || '.tif' AS name,
        CAST(3 AS BIGINT) AS nslices,
        CAST(i * 10 + 7 AS DOUBLE) AS s0,
        CAST(i * 10 + 10 AS DOUBLE) AS s1,
        CAST(i * 10 + 13 AS DOUBLE) AS s2
        FROM range(10) t(i) ORDER BY name""")),

    // the FULL RGB→scalar strategy family under the hash gate (SURVEY
    // F4 — img16 exercises it on blob fixtures rows-only; here
    // constant-channel RGB images make every strategy closed-form).
    // "32-bit" is ImageJ's float conversion, so the one fractional
    // strategy (MEAN) rounds through Float32 — the oracle mirrors that
    // with CAST(AS FLOAT); every other strategy's value is an integer
    // ≤ 2^24, exact in Float32
    ("img19_rgb_strategies",
      (s, _) => {
        import s.implicits._
        val imgs = s.range(12L).map { i =>
          val r = (i * 17 % 256).toInt; val g = (i * 29 % 256).toInt; val b = (i * 41 % 256).toInt
          val data = new Array[Byte](32 * 16 * 3)
          var p = 0
          while (p < 32 * 16) {
            data(p * 3) = r.toByte; data(p * 3 + 1) = g.toByte; data(p * 3 + 2) = b.toByte
            p += 1
          }
          (s"/rgb/$i", SparkImage(ImageMeta(),
            ImageLog.create("constantRgb", s"r=$r,g=$g,b=$b"), 32, 16, 1, PixelCodec.Rgb, data))
        }.toDF("sample", "image")
        def chan(strategy: String) = ImageFunctions.statsUdf(
          ImageFunctions.run2Udf(col("image"), lit("32-bit"), lit(s"rgb=$strategy")))
          .getField("mean")
        imgs.select(col("sample"), chan("mean").as("m_mean"), chan("sum").as("m_sum"),
            chan("min").as("m_min"), chan("max").as("m_max"), chan("int").as("m_int"),
            chan("red").as("m_red"), chan("green").as("m_green"), chan("blue").as("m_blue"))
          .orderBy(col("sample"))
      },
      Some("""WITH c AS (SELECT i,
          CAST(i * 17 % 256 AS BIGINT) AS r, CAST(i * 29 % 256 AS BIGINT) AS g,
          CAST(i * 41 % 256 AS BIGINT) AS b FROM range(12) t(i))
        SELECT '/rgb/' || CAST(i AS VARCHAR) AS sample,
          CAST(CAST(CAST(r + g + b AS DOUBLE) / 3 AS FLOAT) AS DOUBLE) AS m_mean,
          CAST(r + g + b AS DOUBLE) AS m_sum,
          CAST(LEAST(r, g, b) AS DOUBLE) AS m_min,
          CAST(GREATEST(r, g, b) AS DOUBLE) AS m_max,
          CAST(r * 65536 + g * 256 + b AS DOUBLE) AS m_int,
          CAST(r AS DOUBLE) AS m_red, CAST(g AS DOUBLE) AS m_green,
          CAST(b AS DOUBLE) AS m_blue
        FROM c ORDER BY sample""")),

    // DICOM series round trip (the reference's flagship IO shape VERBATIM:
    // a directory of single-frame CT files re-stacked into a volume,
    // IjRDDTests.scala:30-99 — here through the minimal DICOM codec
    // instead of spark-scifio): 12 slices per series save as 12 files
    // with InstanceNumber 1..12 ROTATING through all three
    // uncompressed transfer syntaxes (implicit-VR LE, explicit-VR LE,
    // explicit-VR BE — a mixed-vendor archive), the glob load
    // re-stacks in INSTANCE order (name order would interleave _10
    // before _2, so a name-sorted or permuted stack cannot pass), and
    // per-slice means recover each closed-form fill exactly (16-bit
    // round trip is lossless for these integral values)
    ("img20_dicom_series",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_series"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val stacks = s.range(2L).map { i =>
          val slices = (0 until 12).map(k =>
            Kernels.constantImage(32, 16, 1, i * 200.0 + k * 7.0 + 9.0, PixelCodec.Short16))
          (s"/dicom/$i", slices.reduce(Kernels.appendStack))
        }.toDF("sample", "image")
        ImageOps.saveDicomSeries(stacks, dir)
        val sm = ImageFunctions.sliceMeansUdf(col("image"))
        ImageOps.loadDicomSeries(s, s"$dir/*.dcm")
          .select(col("series"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"),
            element_at(sm, 1).as("s0"), element_at(sm, 2).as("s1"),
            element_at(sm, 10).as("s9"), element_at(sm, 12).as("s11"))
          .orderBy(col("series"))
      },
      // slice k (0-based) of series i fills i*200 + 7k + 9
      Some("""SELECT 'dicom_' || CAST(i AS VARCHAR) AS series,
        CAST(12 AS BIGINT) AS nslices,
        CAST(i * 200 + 9 AS DOUBLE) AS s0,
        CAST(i * 200 + 16 AS DOUBLE) AS s1,
        CAST(i * 200 + 72 AS DOUBLE) AS s9,
        CAST(i * 200 + 86 AS DOUBLE) AS s11
        FROM range(2) t(i) ORDER BY series""")),

    // ---- DICOM archive census: per-transfer-syntax inventory of a
    // mixed-vendor archive (the pre-ingest pass a PACS pipeline runs
    // before choosing a decode plan). The writer rotates 16 instances
    // per series through the EIGHT lossless syntaxes (s % 8), so syntax
    // index i holds instances {i+1, i+9} of both series — file counts,
    // series counts, instance range, and geometry sums are all closed
    // form. Any mis-sniffed TransferSyntaxUID, dropped file, or
    // mis-decoded header flips a row. ---------------------------------
    ("img21_dicom_census",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_census"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val stacks = s.range(2L).map { i =>
          val slices = (0 until 16).map(k =>
            Kernels.constantImage(32, 16, 1, i * 100.0 + k * 3.0 + 5.0, PixelCodec.Short16))
          (s"/census/$i", slices.reduce(Kernels.appendStack))
        }.toDF("sample", "image")
        ImageOps.saveDicomSeries(stacks, dir)
        ImageOps.dicomCensus(s, s"$dir/*.dcm").orderBy(col("ts"))
      },
      Some("""WITH m AS (SELECT * FROM (VALUES
          (0, '1.2.840.10008.1.2'),
          (1, '1.2.840.10008.1.2.1'),
          (2, '1.2.840.10008.1.2.2'),
          (3, '1.2.840.10008.1.2.5'),
          (4, '1.2.840.10008.1.2.4.70'),
          (5, '1.2.840.10008.1.2.4.57'),
          (6, '1.2.840.10008.1.2.4.80'),
          (7, '1.2.840.10008.1.2.4.90')) AS t(i, ts))
        SELECT ts, CAST(4 AS BIGINT) AS n_files, CAST(2 AS BIGINT) AS n_series,
          CAST(i + 1 AS BIGINT) AS min_inst, CAST(i + 9 AS BIGINT) AS max_inst,
          CAST(4 * 32 AS BIGINT) AS sum_w, CAST(4 * 16 AS BIGINT) AS sum_h
        FROM m ORDER BY ts""")),

    // ---- LOSSY-syntax archive census: the same pre-ingest inventory
    // over an archive written in the three lossy JPEG syntaxes (8-bit
    // Baseline .50, 12-bit Extended .51, JPEG-LS near-lossless .81).
    // Pixel values perturb under DCT quantization / NEAR binning —
    // which is exactly why the GATE rides the census METADATA
    // (file/series/instance/geometry), deterministic regardless of
    // pixel loss. The header-only census decodes nothing, so the
    // geometry sums come from each file's decoded image
    // (`decodedCensus`): all three lossy decode paths still run
    // end-to-end, and a broken SOF1 parse or a mis-sized frame throws
    // or flips a row even though no pixel is hashed. Pixel-error
    // bounds live in PropertySpec (|err| ≤ NEAR exactly for .81). ----
    ("img22_dicom_lossy_census",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_lossy"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val stacks = s.range(2L).map { i =>
          val slices = (0 until 6).map(k =>
            Kernels.constantImage(32, 16, 1, i * 50.0 + k * 11.0 + 40.0, PixelCodec.Short16))
          (s"/lossy/$i", slices.reduce(Kernels.appendStack))
        }.toDF("sample", "image")
        ImageOps.saveDicomSeriesWith(stacks, dir, Array(
          "1.2.840.10008.1.2.4.50", "1.2.840.10008.1.2.4.51",
          "1.2.840.10008.1.2.4.81"))
        decodedCensus(s, dir)
      },
      // 6 instances rotate through 3 syntaxes: syntax j holds
      // instances {j+1, j+4} of both series
      Some("""WITH m AS (SELECT * FROM (VALUES
          (0, '1.2.840.10008.1.2.4.50'),
          (1, '1.2.840.10008.1.2.4.51'),
          (2, '1.2.840.10008.1.2.4.81')) AS t(i, ts))
        SELECT ts, CAST(4 AS BIGINT) AS n_files, CAST(2 AS BIGINT) AS n_series,
          CAST(i + 1 AS BIGINT) AS min_inst, CAST(i + 4 AS BIGINT) AS max_inst,
          CAST(4 * 32 AS BIGINT) AS sum_w, CAST(4 * 16 AS BIGINT) AS sum_h
        FROM m ORDER BY ts""")),

    // ---- MULTI-FRAME DICOM round trip: the other real archive shape
    // (ultrasound / XA / secondary capture store a whole stack as
    // NumberOfFrames in ONE file — native syntaxes contiguous,
    // encapsulated ones fragment-per-frame with a populated Basic
    // Offset Table). 2 series × all 8 lossless syntaxes, 12 frames
    // each; frame k of (series i, syntax s) fills a closed form, so a
    // mis-ordered fragment, bad BOT offset, or dropped frame flips a
    // row. Unlike img20's file-per-slice series there is NO regroup
    // shuffle: each file IS the stack. -------------------------------
    ("img23_dicom_multiframe",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        import graft.sources.ImageCodecIO
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_multiframe"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val syntaxes = Array(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
          ImageCodecIO.TsExplicitBE, ImageCodecIO.TsRle,
          ImageCodecIO.TsJpegLossless, ImageCodecIO.TsJpegLossless14,
          ImageCodecIO.TsJpegLs, ImageCodecIO.TsJpeg2000Lossless)
        val stacks = s.range(2L).flatMap { i =>
          syntaxes.indices.map { sx =>
            val slices = (0 until 12).map(k =>
              Kernels.constantImage(32, 16, 1,
                i * 2000.0 + sx * 100.0 + k * 7.0 + 13.0, PixelCodec.Short16))
            (s"/mf/${i}_$sx", slices.reduce(Kernels.appendStack), syntaxes(sx), 0, 0)
          }
        }.toDF("sample", "image", "ts", "planar", "frag_bytes")
        // MULTI-FRAGMENT-PER-FRAME fixtures: the four JPEG-family
        // syntaxes with each frame's codec stream split into ≤64-byte
        // fragments and a populated BOT marking the frame starts —
        // the shape real encoders emit for large frames. RLE is
        // excluded by PS3.5 Annex G (one fragment per frame).
        val multiFragSx = Array(ImageCodecIO.TsJpegLossless,
          ImageCodecIO.TsJpegLossless14, ImageCodecIO.TsJpegLs,
          ImageCodecIO.TsJpeg2000Lossless)
        val mff = s.range(2L).flatMap { i =>
          multiFragSx.indices.map { sx =>
            val slices = (0 until 12).map(k =>
              Kernels.constantImage(32, 16, 1,
                i * 2000.0 + sx * 100.0 + k * 7.0 + 17.0, PixelCodec.Short16))
            (s"/mff/${i}_$sx", slices.reduce(Kernels.appendStack), multiFragSx(sx), 0, 64)
          }
        }.toDF("sample", "image", "ts", "planar", "frag_bytes")
        ImageOps.saveDicomMultiFrame(stacks.union(mff), dir)
        val sm = ImageFunctions.sliceMeansUdf(col("image"))
        ImageOps.loadDicomMultiFrame(s, s"$dir/*.dcm")
          .select(col("name"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"),
            element_at(sm, 1).as("s0"), element_at(sm, 6).as("s5"),
            element_at(sm, 12).as("s11"))
          .orderBy(col("name"))
      },
      // frame k of (series i, syntax sx) fills i*2000 + sx*100 + 7k + 13
      // (one fragment per frame) or + 17 (frames split into ≤64-byte
      // fragments, reassembled through the populated BOT)
      Some("""SELECT 'mf_' || CAST(i AS VARCHAR) || '_' || CAST(sx AS VARCHAR) AS name,
        CAST(12 AS BIGINT) AS nslices,
        CAST(i * 2000 + sx * 100 + 13 AS DOUBLE) AS s0,
        CAST(i * 2000 + sx * 100 + 48 AS DOUBLE) AS s5,
        CAST(i * 2000 + sx * 100 + 90 AS DOUBLE) AS s11
        FROM range(2) t(i) CROSS JOIN range(8) u(sx)
        UNION ALL
        SELECT 'mff_' || CAST(i AS VARCHAR) || '_' || CAST(sx AS VARCHAR) AS name,
        CAST(12 AS BIGINT), CAST(i * 2000 + sx * 100 + 17 AS DOUBLE),
        CAST(i * 2000 + sx * 100 + 52 AS DOUBLE),
        CAST(i * 2000 + sx * 100 + 94 AS DOUBLE)
        FROM range(2) t(i) CROSS JOIN range(4) u(sx) ORDER BY name""")),

    // ---- COLOR (RGB) DICOM round trip: 8-bit secondary capture with
    // SamplesPerPixel 3 in both PlanarConfigurations (0 interleaved /
    // 1 per-frame planes) across the 4 RGB-capable syntaxes (the three
    // native ones + RLE's 3 PackBits planes), 2 frames per file. Each
    // channel fills a distinct closed-form constant, read back through
    // the 8-strategy RGB→scalar kernels (img19's surface): a swapped
    // plane, mis-interleave, or signed-byte slip flips a channel mean. -
    ("img24_dicom_rgb",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        import graft.sources.ImageCodecIO
        import graft.core.{ImageMeta, SparkImage}
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_rgb"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val syntaxes = Array(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
          ImageCodecIO.TsExplicitBE, ImageCodecIO.TsRle)
        val rows = s.range(4L).flatMap { sxL =>
          val sx = sxL.toInt
          Seq(0, 1).map { p =>
            val data = Array.tabulate(2 * 16 * 8 * 3) { idx =>
              val f = idx / (16 * 8 * 3); val c = idx % 3
              (sx * 20 + p * 10 + f * 2 + 5 + c * 40).toByte
            }
            (s"/rgbsc/${sx}_$p",
              SparkImage(ImageMeta(), "[]", 16, 8, 2, PixelCodec.Rgb, data),
              syntaxes(sx), p)
          }
        }.toDF("sample", "image", "ts", "planar")
        ImageOps.saveDicomMultiFrame(rows, dir)
        def chan(st: String) = ImageFunctions.statsUdf(
          ImageFunctions.run2Udf(col("image"), lit("32-bit"), lit(s"rgb=$st")))
          .getField("mean")
        ImageOps.loadDicomMultiFrame(s, s"$dir/*.dcm")
          .select(col("name"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"),
            chan("red").as("m_red"), chan("green").as("m_green"),
            chan("blue").as("m_blue"))
          .orderBy(col("name"))
      },
      // frame f of (syntax sx, planar p): r = 20sx + 10p + 2f + 5,
      // g = r + 40, b = r + 80; the 2-frame mean adds 1 to the base
      Some("""SELECT 'rgbsc_' || CAST(sx AS VARCHAR) || '_' || CAST(p AS VARCHAR) AS name,
        CAST(2 AS BIGINT) AS nslices,
        CAST(sx * 20 + p * 10 + 6 AS DOUBLE) AS m_red,
        CAST(sx * 20 + p * 10 + 46 AS DOUBLE) AS m_green,
        CAST(sx * 20 + p * 10 + 86 AS DOUBLE) AS m_blue
        FROM range(4) t(sx) CROSS JOIN range(2) u(p) ORDER BY name""")),

    // ---- YBR COLOR DICOM: what real .50 ultrasound / endoscopy
    // archives actually contain — PhotometricInterpretation YBR_FULL
    // (full-range YCbCr, 4 syntaxes × both planar configs) and
    // YBR_FULL_422 (chroma subsampled 2:1 in Y1 Y2 Cb Cr pixel-pair
    // groups, native syntaxes). Channel-constant frames: the decoded
    // RGB is the PS3.3 C.7.6.3.1.2 round trip of the closed-form
    // constants, and the ORACLE replays that round trip term for term
    // in SQL (floor(x+0.5) + clamp, same association order), so a
    // wrong matrix coefficient, swapped chroma byte, or missed 422
    // upsample flips a channel mean. --------------------------------
    ("img25_dicom_ybr",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        import graft.sources.ImageCodecIO
        import graft.core.{ImageMeta, SparkImage}
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_ybr"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val syntaxes = Array(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
          ImageCodecIO.TsExplicitBE, ImageCodecIO.TsRle)
        val full = s.range(4L).flatMap { sxL =>
          val sx = sxL.toInt
          Seq(0, 1).map { p =>
            val data = Array.tabulate(2 * 16 * 8 * 3) { idx =>
              val f = idx / (16 * 8 * 3); val c = idx % 3
              (20 * sx + 10 * p + 2 * f + 30 + Array(0, 60, 110)(c)).toByte
            }
            (s"/ybrf/${sx}_$p",
              SparkImage(ImageMeta(), "[]", 16, 8, 2, PixelCodec.Rgb, data),
              syntaxes(sx), p, "YBR_FULL")
          }
        }
        val sub = s.range(3L).map { sxL =>
          val sx = sxL.toInt
          val data = Array.tabulate(2 * 16 * 8 * 3) { idx =>
            val f = idx / (16 * 8 * 3); val c = idx % 3
            (14 * sx + 3 * f + 33 + Array(0, 50, 95)(c)).toByte
          }
          (s"/ybr422/$sx",
            SparkImage(ImageMeta(), "[]", 16, 8, 2, PixelCodec.Rgb, data),
            syntaxes(sx), 0, "YBR_FULL_422")
        }
        // ODD Columns (15): each row ends in a half group whose Y2 is
        // padding. Values vary PER ROW (pairs still share chroma, so
        // the round trip stays exact), which makes any mis-paired
        // group indexing — e.g. pairing across a row boundary — flip
        // a channel mean
        val subOdd = s.range(3L).map { sxL =>
          val sx = sxL.toInt
          val data = Array.tabulate(2 * 15 * 8 * 3) { idx =>
            val f = idx / (15 * 8 * 3); val r = idx % (15 * 8 * 3) / (15 * 3)
            val c = idx % 3
            (14 * sx + 3 * f + 2 * r + 26 + Array(0, 50, 95)(c)).toByte
          }
          (s"/ybr422odd/$sx",
            SparkImage(ImageMeta(), "[]", 15, 8, 2, PixelCodec.Rgb, data),
            syntaxes(sx), 0, "YBR_FULL_422")
        }
        val rows = full.union(sub).union(subOdd)
          .toDF("sample", "image", "ts", "planar", "photometric")
        ImageOps.saveDicomMultiFrame(rows, dir)
        def chan(st: String) = ImageFunctions.statsUdf(
          ImageFunctions.run2Udf(col("image"), lit("32-bit"), lit(s"rgb=$st")))
          .getField("mean")
        ImageOps.loadDicomMultiFrame(s, s"$dir/*.dcm")
          .select(col("name"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"),
            chan("red").as("m_red"), chan("green").as("m_green"),
            chan("blue").as("m_blue"))
          .orderBy(col("name"))
      },
      // the full-range RGB→YCbCr→RGB round trip of the closed-form
      // constants, replayed with the impl's exact expression shape
      Some("""WITH base AS (
          SELECT 'ybrf_' || CAST(sx AS VARCHAR) || '_' || CAST(p AS VARCHAR) AS name, f,
            CAST(20 * sx + 10 * p + 2 * f + 30 AS DOUBLE) AS r,
            CAST(20 * sx + 10 * p + 2 * f + 90 AS DOUBLE) AS g,
            CAST(20 * sx + 10 * p + 2 * f + 140 AS DOUBLE) AS b
          FROM range(4) t(sx) CROSS JOIN range(2) u(p) CROSS JOIN range(2) v(f)
          UNION ALL
          SELECT 'ybr422_' || CAST(sx AS VARCHAR) AS name, f,
            CAST(14 * sx + 3 * f + 33 AS DOUBLE),
            CAST(14 * sx + 3 * f + 83 AS DOUBLE),
            CAST(14 * sx + 3 * f + 128 AS DOUBLE)
          FROM range(3) t(sx) CROSS JOIN range(2) v(f)
          UNION ALL
          SELECT 'ybr422odd_' || CAST(sx AS VARCHAR) AS name, f,
            CAST(14 * sx + 3 * f + 2 * rr + 26 AS DOUBLE),
            CAST(14 * sx + 3 * f + 2 * rr + 76 AS DOUBLE),
            CAST(14 * sx + 3 * f + 2 * rr + 121 AS DOUBLE)
          FROM range(3) t(sx) CROSS JOIN range(2) v(f) CROSS JOIN range(8) w(rr)),
        ybr AS (SELECT name, f,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(0.299E0 * r + 0.587E0 * g + 0.114E0 * b + 0.5E0))) AS y,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(-0.168736E0 * r - 0.331264E0 * g + 0.5E0 * b + 128 + 0.5E0))) AS cb,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(0.5E0 * r - 0.418688E0 * g - 0.081312E0 * b + 128 + 0.5E0))) AS cr
          FROM base),
        back AS (SELECT name,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(y + 1.402E0 * (cr - 128) + 0.5E0))) AS r2,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(y - 0.344136E0 * (cb - 128) - 0.714136E0 * (cr - 128) + 0.5E0))) AS g2,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(y + 1.772E0 * (cb - 128) + 0.5E0))) AS b2
          FROM ybr)
        SELECT name, CAST(2 AS BIGINT) AS nslices,
          AVG(r2) AS m_red, AVG(g2) AS m_green, AVG(b2) AS m_blue
        FROM back GROUP BY name ORDER BY name""")),

    // ---- PALETTE COLOR DICOM: grayscale pixel values are LUT
    // indices; Red/Green/Blue Palette Color Lookup Tables (16-bit
    // entries, firstMapped=4) expand to RGB at load. The pixel stream
    // is untouched index data, so palette rides EVERY grayscale
    // syntax — exercised here on the three native ones, RLE, and one
    // encapsulated JPEG-family syntax. Index-constant frames + a
    // closed-form LUT make every decoded channel a closed form: a
    // swapped LUT, off-by-one firstMapped, or missed expansion flips
    // a mean. ---------------------------------------------------------
    ("img26_dicom_palette",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        import graft.sources.ImageCodecIO
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_palette"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val syntaxes = Array(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
          ImageCodecIO.TsExplicitBE, ImageCodecIO.TsRle, ImageCodecIO.TsJpegLossless)
        val rows = s.range(5L).map { sxL =>
          val sx = sxL.toInt
          val slices = (0 until 2).map(f =>
            Kernels.constantImage(32, 16, 1, 20.0 * sx + 3.0 * f + 9.0, PixelCodec.Short16))
          (s"/pal/$sx", slices.reduce(Kernels.appendStack), syntaxes(sx))
        }.toDF("sample", "image", "ts")
        ImageOps.saveDicomPalette(rows, dir,
          lutR = Array.tabulate(256)(i => ((i * 5 + 11) % 256) << 8),
          lutG = Array.tabulate(256)(i => ((i * 7 + 23) % 256) << 8),
          lutB = Array.tabulate(256)(i => ((i * 11 + 37) % 256) << 8),
          firstMapped = 4)
        def chan(st: String) = ImageFunctions.statsUdf(
          ImageFunctions.run2Udf(col("image"), lit("32-bit"), lit(s"rgb=$st")))
          .getField("mean")
        ImageOps.loadDicomMultiFrame(s, s"$dir/*.dcm")
          .select(col("name"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"),
            chan("red").as("m_red"), chan("green").as("m_green"),
            chan("blue").as("m_blue"))
          .orderBy(col("name"))
      },
      // frame f of syntax sx holds index value 20sx + 3f + 9; the LUT
      // maps idx = value - 4 through (5i+11, 7i+23, 11i+37) mod 256
      Some("""WITH base AS (
          SELECT sx, f, 20 * sx + 3 * f + 9 - 4 AS idx
          FROM range(5) t(sx) CROSS JOIN range(2) v(f))
        SELECT 'pal_' || CAST(sx AS VARCHAR) AS name, CAST(2 AS BIGINT) AS nslices,
          AVG(CAST((idx * 5 + 11) % 256 AS DOUBLE)) AS m_red,
          AVG(CAST((idx * 7 + 23) % 256 AS DOUBLE)) AS m_green,
          AVG(CAST((idx * 11 + 37) % 256 AS DOUBLE)) AS m_blue
        FROM base GROUP BY sx ORDER BY name""")),

    // ---- MONOCHROME1 + signed CT DICOM: the remaining grayscale
    // real-archive shapes. MONOCHROME1 (lowest value = white, the
    // plain-film convention) round-trips through the decode-side
    // range-reflection into intensity semantics across all 8 lossless
    // syntaxes; signed PixelRepresentation=1 data with the modality
    // LUT (RescaleSlope/Intercept — Hounsfield units, including
    // NEGATIVE stored values that exercise two's-complement sign
    // extension) decodes to Float32 real values; and the COMPOSED
    // forms — MONOCHROME1+rescale (m1r) and MONOCHROME1+signed+
    // rescale (m1s, inverted CT) — reflect across the representable
    // stored range, which commutes with the affine LUT. Frame-constant
    // fills make every slice mean a closed form. ----------------------
    ("img27_dicom_mono1_signed",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        import graft.sources.ImageCodecIO
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_mono1"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val lossless = Array(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
          ImageCodecIO.TsExplicitBE, ImageCodecIO.TsRle,
          ImageCodecIO.TsJpegLossless, ImageCodecIO.TsJpegLossless14,
          ImageCodecIO.TsJpegLs, ImageCodecIO.TsJpeg2000Lossless)
        val native = lossless.take(3)
        val m1 = s.range(8L).map { sxL =>
          val sx = sxL.toInt
          val slices = (0 until 2).map(f =>
            Kernels.constantImage(32, 16, 1, 100.0 * sx + 17.0 * f + 500.0,
              PixelCodec.Short16))
          (s"/m1/$sx", slices.reduce(Kernels.appendStack), lossless(sx), 0,
            "MONOCHROME1", 0, Double.NaN, Double.NaN)
        }
        // cfg 0: the CT shape (slope 1, intercept -1024); cfg 1 has
        // NEGATIVE stored values ((v+50)/2 = 40sx+9f-60 < 0 at sx=0)
        val hu = s.range(2L).flatMap { cL =>
          val c = cL.toInt
          native.indices.map { sx =>
            def v(f: Int) = if (c == 0) 50.0 * sx + 31.0 * f - 800.0
                            else 80.0 * sx + 18.0 * f - 170.0
            val slices = (0 until 2).map(f =>
              Kernels.constantImage(32, 16, 1, v(f), PixelCodec.Float32))
            (s"/hu/${c}_$sx", slices.reduce(Kernels.appendStack), native(sx), 0,
              "MONOCHROME2", 1,
              if (c == 0) 1.0 else 2.0, if (c == 0) -1024.0 else -50.0)
          }
        }
        // m1r: MONOCHROME1 + modality LUT, unsigned (slope 0.5 exact
        // in binary; stored = 2·real − 50, inverted across [0, 65535])
        val m1r = s.range(3L).map { sxL =>
          val sx = sxL.toInt
          val slices = (0 until 2).map(f =>
            Kernels.constantImage(32, 16, 1, 100.0 * sx + 7.0 * f + 50.0,
              PixelCodec.Float32))
          (s"/m1r/$sx", slices.reduce(Kernels.appendStack), native(sx), 0,
            "MONOCHROME1", 0, 0.5, 25.0)
        }
        // m1s: inverted CT — MONOCHROME1 + signed + modality LUT;
        // stored = −1 − (real − i)/s goes NEGATIVE, exercising sign
        // extension under the reflection
        val m1s = s.range(3L).map { sxL =>
          val sx = sxL.toInt
          val slices = (0 until 2).map(f =>
            Kernels.constantImage(32, 16, 1, 60.0 * sx + 26.0 * f - 300.0,
              PixelCodec.Float32))
          (s"/m1s/$sx", slices.reduce(Kernels.appendStack), native(sx), 0,
            "MONOCHROME1", 1, 2.0, -100.0)
        }
        val rows = m1.union(hu).union(m1r).union(m1s)
          .toDF("sample", "image", "ts", "planar",
          "photometric", "pixel_rep", "slope", "intercept")
        ImageOps.saveDicomMultiFrame(rows, dir)
        val sm = ImageFunctions.sliceMeansUdf(col("image"))
        ImageOps.loadDicomMultiFrame(s, s"$dir/*.dcm")
          .select(col("name"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"),
            element_at(sm, 1).as("s0"), element_at(sm, 2).as("s1"))
          .orderBy(col("name"))
      },
      // MONOCHROME1 slice means round-trip to the original intensity;
      // signed frames read slope·stored + intercept = the closed form
      Some("""SELECT 'm1_' || CAST(sx AS VARCHAR) AS name,
          CAST(2 AS BIGINT) AS nslices,
          CAST(100 * sx + 500 AS DOUBLE) AS s0,
          CAST(100 * sx + 517 AS DOUBLE) AS s1
        FROM range(8) t(sx)
        UNION ALL
        SELECT 'hu_0_' || CAST(sx AS VARCHAR), CAST(2 AS BIGINT),
          CAST(50 * sx - 800 AS DOUBLE), CAST(50 * sx - 769 AS DOUBLE)
        FROM range(3) t(sx)
        UNION ALL
        SELECT 'hu_1_' || CAST(sx AS VARCHAR), CAST(2 AS BIGINT),
          CAST(80 * sx - 170 AS DOUBLE), CAST(80 * sx - 152 AS DOUBLE)
        FROM range(3) t(sx)
        UNION ALL
        SELECT 'm1r_' || CAST(sx AS VARCHAR), CAST(2 AS BIGINT),
          CAST(100 * sx + 50 AS DOUBLE), CAST(100 * sx + 57 AS DOUBLE)
        FROM range(3) t(sx)
        UNION ALL
        SELECT 'm1s_' || CAST(sx AS VARCHAR), CAST(2 AS BIGINT),
          CAST(60 * sx - 300 AS DOUBLE), CAST(60 * sx - 274 AS DOUBLE)
        FROM range(3) t(sx)
        ORDER BY name""")),

    // ---- LOSSY COLOR (.50 JPEG Baseline) DICOM: what a real color
    // ultrasound / endoscopy archive carries — YBR_FULL_422 JFIF
    // streams, decoded by the JDK codec (which owns the YCbCr→RGB
    // conversion and chroma upsampling). Pixels are lossy by design,
    // so the gate hash-checks the DETERMINISTIC surface (file, frame
    // count, geometry — a broken fragment parse, frame drop, or SOF
    // mismatch flips a row), and PropertySpec bounds the pixel error
    // on frame-constant fills. ----------------------------------------
    ("img28_dicom_color_lossy",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        import graft.sources.ImageCodecIO
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_color50"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val rows = s.range(4L).map { iL =>
          val i = iL.toInt
          val data = Array.tabulate(3 * 16 * 8 * 3) { idx =>
            val f = idx / (16 * 8 * 3); val c = idx % 3
            (25 * i + 6 * f + 40 + c * 45).toByte
          }
          (s"/c50/$i",
            graft.core.SparkImage(graft.core.ImageMeta(), "[]", 16, 8, 3,
              PixelCodec.Rgb, data),
            ImageCodecIO.TsJpegBaseline, 0, "YBR_FULL_422")
        }.toDF("sample", "image", "ts", "planar", "photometric")
        ImageOps.saveDicomMultiFrame(rows, dir)
        ImageOps.loadDicomMultiFrame(s, s"$dir/*.dcm")
          .select(col("name"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"),
            col("image.width").cast("long").as("w"),
            col("image.height").cast("long").as("h"))
          .orderBy(col("name"))
      },
      Some("""SELECT 'c50_' || CAST(i AS VARCHAR) AS name,
          CAST(3 AS BIGINT) AS nslices, CAST(16 AS BIGINT) AS w,
          CAST(8 AS BIGINT) AS h
        FROM range(4) t(i) ORDER BY name""")),

    // ---- JPEG 2000 Lossless COLOR (YBR_RCT in-stream reversible
    // color transform + plain RGB components) and TILE GRIDS: the
    // region-decodable multi-tile layout real encoders emit for large
    // frames, grayscale 16-bit and color, fragments included. Every
    // variant is LOSSLESS, so channel means replay closed-form — and
    // the gate adds a CROPPED mean (a rect spanning both tile
    // boundaries): whole-image means are permutation-invariant, so a
    // tile decoded into the wrong position would pass them; the
    // position-sensitive crop flips instead. ------------------------
    ("img29_dicom_j2k_color",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        import graft.sources.ImageCodecIO
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_j2k"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        // color: pixel (x,y) of frame f, channel c, variant v holds
        // x + y + 10 + 3v + 5f + 25c (max 252); v0/v1 untiled 2-frame
        // YBR_RCT/RGB, v2/v3 tiled-64 1-frame YBR_RCT/RGB (v3 also
        // splits fragments)
        val color = s.range(4L).map { vL =>
          val v = vL.toInt
          val nf = if (v < 2) 2 else 1
          val data = Array.tabulate(nf * 100 * 80 * 3) { idx =>
            val f = idx / (100 * 80 * 3); val p = idx % (100 * 80 * 3) / 3
            val c = idx % 3
            (p % 100 + p / 100 + 10 + 3 * v + 5 * f + 25 * c).toByte
          }
          (s"/j2k/c$v",
            graft.core.SparkImage(graft.core.ImageMeta(), "[]", 100, 80, nf,
              PixelCodec.Rgb, data),
            ImageCodecIO.TsJpeg2000Lossless, 0,
            if (v % 2 == 0) "YBR_RCT" else "RGB",
            if (v == 3) 512 else 0,
            if (v >= 2) 64 else 0)
        }.toDF("sample", "image", "ts", "planar", "photometric",
          "frag_bytes", "j2k_tile")
        // grayscale 16-bit: pixel (x,y) of variant g holds
        // 100(x+y) + 1000 + 500g over a 130x70 frame; g0 tiled 64
        // (3x2 grid with partial edge tiles) + fragments, g1 tiled 128
        val gray = s.range(2L).map { gL =>
          val g = gL.toInt
          val vals = Array.tabulate(130 * 70)(i =>
            (100 * (i % 130 + i / 130) + 1000 + 500 * g).toDouble)
          (s"/j2k/g$g",
            graft.core.SparkImage(graft.core.ImageMeta(), "[]", 130, 70, 1,
              PixelCodec.Short16, PixelCodec.encode(vals, PixelCodec.Short16)),
            ImageCodecIO.TsJpeg2000Lossless, 0, "MONOCHROME2",
            if (g == 0) 512 else 0,
            if (g == 0) 64 else 128)
        }.toDF("sample", "image", "ts", "planar", "photometric",
          "frag_bytes", "j2k_tile")
        ImageOps.saveDicomMultiFrame(color.union(gray), dir)
        def chan(st: String) = ImageFunctions.statsUdf(
          ImageFunctions.run2Udf(col("image"), lit("32-bit"), lit(s"rgb=$st")))
          .getField("mean")
        // crop [50,80) x [40,70): spans the x and y tile boundaries at
        // 64 in every tiled variant
        val cropRed = ImageFunctions.statsUdf(ImageFunctions.run2Udf(
          ImageFunctions.run2Udf(col("image"), lit("32-bit"), lit("rgb=red")),
          lit("Crop"), lit("x=50 y=40 width=30 height=30"))).getField("mean")
        ImageOps.loadDicomMultiFrame(s, s"$dir/*.dcm")
          .select(col("name"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"),
            chan("red").as("m_red"), chan("green").as("m_green"),
            chan("blue").as("m_blue"), cropRed.as("c_red"))
          .orderBy(col("name"))
      },
      // color variant v: whole mean = E[x]+E[y] + base = 49.5+39.5 +
      // 10+3v+25c (+2.5 two-frame mean of 5f); crop mean = 64.5+54.5
      // + base. gray g: 100*(64.5+34.5) + 1000 + 500g, crop
      // 100*(64.5+54.5) + 1000 + 500g; red=green=blue on grayscale
      Some("""SELECT 'j2k_c' || CAST(v AS VARCHAR) AS name,
          CAST(CASE WHEN v < 2 THEN 2 ELSE 1 END AS BIGINT) AS nslices,
          99 + 3 * v + CASE WHEN v < 2 THEN 2.5 ELSE 0 END AS m_red,
          124 + 3 * v + CASE WHEN v < 2 THEN 2.5 ELSE 0 END AS m_green,
          149 + 3 * v + CASE WHEN v < 2 THEN 2.5 ELSE 0 END AS m_blue,
          129 + 3 * v + CASE WHEN v < 2 THEN 2.5 ELSE 0 END AS c_red
        FROM range(4) t(v)
        UNION ALL
        SELECT 'j2k_g' || CAST(g AS VARCHAR), CAST(1 AS BIGINT),
          CAST(10900 + 500 * g AS DOUBLE), CAST(10900 + 500 * g AS DOUBLE),
          CAST(10900 + 500 * g AS DOUBLE), CAST(12900 + 500 * g AS DOUBLE)
        FROM range(2) u(g) ORDER BY name""")),

    // ---- JPEG-LS COLOR (.80): 3-component T.87 streams in BOTH scan
    // layouts — ILV=0 (one scan per component plane, fresh modeling
    // state per scan) and ILV=1 (line-interleaved through one SHARED
    // context set) — under PhotometricInterpretation RGB and YBR_FULL
    // (components pre-converted, so the oracle replays the PS3.3
    // round trip like img25). Per-row ramps drive both run and
    // regular coding modes; everything is lossless, so channel means
    // replay closed-form. A swapped component scan, a mis-ordered
    // interleave line, or shared-vs-fresh context confusion flips a
    // channel mean. ------------------------------------------------
    ("img30_dicom_jls_color",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        import graft.sources.ImageCodecIO
        import graft.core.{ImageMeta, SparkImage}
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_jls"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        // pixel (x,y) of frame f, channel c: 15*ilv + 5f + 2*row +
        // K + off(c) over 16x8, 2 frames (rows drive regular mode,
        // the flat in-row spans drive run mode)
        def img(ilv: Int, k: Int, offs: Array[Int]): SparkImage = {
          val data = Array.tabulate(2 * 16 * 8 * 3) { idx =>
            val f = idx / (16 * 8 * 3); val r = idx % (16 * 8 * 3) / (16 * 3)
            val c = idx % 3
            (15 * ilv + 5 * f + 2 * r + k + offs(c)).toByte
          }
          SparkImage(ImageMeta(), "[]", 16, 8, 2, PixelCodec.Rgb, data)
        }
        val rows = s.range(2L).flatMap { ilvL =>
          val ilv = ilvL.toInt
          Seq(
            (s"/jls/rgb$ilv", img(ilv, 40, Array(0, 55, 105)),
              ImageCodecIO.TsJpegLs, 0, "RGB", ilv),
            (s"/jls/ybr$ilv", img(ilv, 35, Array(0, 60, 115)),
              ImageCodecIO.TsJpegLs, 0, "YBR_FULL", ilv))
        }.toDF("sample", "image", "ts", "planar", "photometric", "jls_ilv")
        ImageOps.saveDicomMultiFrame(rows, dir)
        def chan(st: String) = ImageFunctions.statsUdf(
          ImageFunctions.run2Udf(col("image"), lit("32-bit"), lit(s"rgb=$st")))
          .getField("mean")
        ImageOps.loadDicomMultiFrame(s, s"$dir/*.dcm")
          .select(col("name"),
            ImageFunctions.nslicesUdf(col("image")).cast("long").as("nslices"),
            chan("red").as("m_red"), chan("green").as("m_green"),
            chan("blue").as("m_blue"))
          .orderBy(col("name"))
      },
      // RGB arm: E[5f] = 2.5, E[2*row] = 7 → mean = 15*ilv + 49.5 +
      // off; YBR arm replays the full-range round trip per (f, row)
      Some("""WITH base AS (
          SELECT 'jls_ybr' || CAST(ilv AS VARCHAR) AS name, f,
            CAST(15 * ilv + 5 * f + 2 * rr + 35 AS DOUBLE) AS r,
            CAST(15 * ilv + 5 * f + 2 * rr + 95 AS DOUBLE) AS g,
            CAST(15 * ilv + 5 * f + 2 * rr + 150 AS DOUBLE) AS b
          FROM range(2) t(ilv) CROSS JOIN range(2) v(f) CROSS JOIN range(8) w(rr)),
        ybr AS (SELECT name, f,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(0.299E0 * r + 0.587E0 * g + 0.114E0 * b + 0.5E0))) AS y,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(-0.168736E0 * r - 0.331264E0 * g + 0.5E0 * b + 128 + 0.5E0))) AS cb,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(0.5E0 * r - 0.418688E0 * g - 0.081312E0 * b + 128 + 0.5E0))) AS cr
          FROM base),
        back AS (SELECT name,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(y + 1.402E0 * (cr - 128) + 0.5E0))) AS r2,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(y - 0.344136E0 * (cb - 128) - 0.714136E0 * (cr - 128) + 0.5E0))) AS g2,
          GREATEST(0.0E0, LEAST(255.0E0, FLOOR(y + 1.772E0 * (cb - 128) + 0.5E0))) AS b2
          FROM ybr)
        SELECT name, CAST(2 AS BIGINT) AS nslices,
          AVG(r2) AS m_red, AVG(g2) AS m_green, AVG(b2) AS m_blue
        FROM back GROUP BY name
        UNION ALL
        SELECT 'jls_rgb' || CAST(ilv AS VARCHAR), CAST(2 AS BIGINT),
          15 * ilv + 49.5, 15 * ilv + 104.5, 15 * ilv + 154.5
        FROM range(2) t(ilv) ORDER BY name""")),

    // ---- LOSSY JPEG 2000 (.91, irreversible 9/7) census: like
    // img22's lossy-census family, the GATE rides the metadata
    // (syntax/series/instances/geometry — deterministic regardless of
    // quantization noise) while the geometry sums come from the
    // decoded images (`decodedCensus`), which runs the float-wavelet
    // path end to end: a bad QCD-style parse, a mis-scaled lifting
    // step, or a broken dequantization throws and flips a row.
    // Instances rotate .91 / .90 so the irreversible and reversible
    // decoders co-exist within one series. ---------------------------
    ("img31_dicom_j2k_lossy_census",
      (s, _) => {
        import s.implicits._
        import graft.ops.ImageOps
        import graft.sources.ImageCodecIO
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dicom_j97"
        val basePath = new org.apache.hadoop.fs.Path(dir)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(basePath, true)
        val stacks = s.range(2L).map { iL =>
          val i = iL.toInt
          val slices = (0 until 6).map(k =>
            Kernels.constantImage(32, 16, 1, i * 900.0 + k * 110.0 + 400.0,
              PixelCodec.Short16))
          (s"/j97/$i", slices.reduce(Kernels.appendStack))
        }.toDF("sample", "image")
        ImageOps.saveDicomSeriesWith(stacks, dir, Array(
          ImageCodecIO.TsJpeg2000, ImageCodecIO.TsJpeg2000Lossless))
        decodedCensus(s, dir)
      },
      // instance s+1 takes syntaxes[s % 2]: odd instances .91, even
      // .90 — 2 series × 3 files per syntax of 32x16 frames
      Some("""WITH m AS (SELECT * FROM (VALUES
          ('1.2.840.10008.1.2.4.90', 2, 6),
          ('1.2.840.10008.1.2.4.91', 1, 5)) AS t(ts, mn, mx))
        SELECT ts, CAST(6 AS BIGINT) AS n_files, CAST(2 AS BIGINT) AS n_series,
          CAST(mn AS BIGINT) AS min_inst, CAST(mx AS BIGINT) AS max_inst,
          CAST(192 AS BIGINT) AS sum_w, CAST(96 AS BIGINT) AS sum_h
        FROM m ORDER BY ts"""))
  )
}
