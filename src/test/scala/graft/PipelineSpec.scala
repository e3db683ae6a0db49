package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.pipeline._

/** Training-pipeline operator tests: dedup, similarity, text analysis,
  * multimodal. The invariant under test everywhere: results are
  * identical regardless of partitioning (the 100 TB correctness
  * property — no task-order or partition-count dependence). */
class PipelineSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (4L, "completely different text with no overlap at all"),
      (5L, "el rapido zorro marron salta sobre el perro de la ciudad")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min id") {
    import spark.implicits._
    val d = Dedup.exact(docs).select($"keep_id", $"n").as[(Long, Long)].collect().toSet
    d should contain ((1L, 2L)) // docs 1 and 3
    d.size shouldBe 4
  }

  test("ngram jaccard finds near-dup pair, is partition-invariant") {
    import spark.implicits._
    def run(parts: Int) =
      Dedup.ngramJaccardPairs(docs.repartition(parts), n = 3, threshold = 0.5)
        .as[(Long, Long, Double)].collect().toList
    val r1 = run(1)
    r1.map(p => (p._1, p._2)) should contain allOf ((1L, 2L), (1L, 3L))
    r1.find(p => p._1 == 1L && p._2 == 3L).get._3 shouldBe 1.0 // exact dup
    run(7) shouldBe r1
  }

  test("dedupGroups: min-label propagation finds connected components") {
    import spark.implicits._
    // components: {1,2,5} via chain, {7,9}, {10,11,12,13} via chain of 3
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("id_a", "id_b")
    val groups = Dedup.dedupGroups(pairs.repartition(5))
      .as[(Long, Long)].collect().toMap
    groups shouldBe Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L)
  }

  test("dedupGroups: pathological long chain converges (or fails LOUDLY, never silently)") {
    import spark.implicits._
    // a single 2000-node chain — diameter 1999. Pointer jumping makes
    // label spread superlinear per round, so convergence fits easily
    // inside maxIters = 50; the contract under test is stronger:
    // dedupGroups must either return fully-converged labels or throw
    // (the require guard), never hand back a silently-partial labeling.
    val chain = (0L until 1999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val groups = Dedup.dedupGroups(chain.repartition(8))
      .as[(Long, Long)].collect()
    groups.length shouldBe 2000
    all(groups.map(_._2)) shouldBe 0L // every node labeled by the chain head
    // and an artificially tiny budget fails loudly instead of returning
    val boom = intercept[IllegalArgumentException] {
      Dedup.dedupGroups(chain.repartition(8), maxIters = 2).collect()
    }
    boom.getMessage should include ("did not converge")
  }

  test("canonicalKeep: per-group argmax keeps longest doc, ties to lowest id") {
    import spark.implicits._
    // components: {1,2,5} and {7,9}; scores give 2 the win in the first
    // group; the second group ties so the lower id (7) wins
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("id_a", "id_b")
    val scored = Seq((1L, 10L), (2L, 30L), (5L, 20L), (7L, 15L), (9L, 15L),
      (42L, 99L) /* singleton: never in pairs, never in output */)
      .toDF("doc_id", "n_chars")
    def run(parts: Int) =
      Dedup.canonicalKeep(pairs.repartition(parts), scored)
        .as[(Long, Long, Long, Long)].collect().toList.sorted
    val r = run(1)
    r shouldBe List((1L, 3L, 2L, 30L), (7L, 2L, 7L, 15L))
    run(5) shouldBe r // partition invariance
  }

  test("snapshot diff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    def run(parts: Int) =
      Snapshot.diff(oldSnap.repartition(parts), newSnap.repartition(parts))
        .as[(Long, String)].collect().toList.sorted
    run(1) shouldBe List((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added"))
    run(4) shouldBe run(1)
  }

  test("minhash: identical docs collide on all bands; signature deterministic") {
    import spark.implicits._
    val pairs = Dedup.minhashLshPairs(docs, shingleN = 3, numHashes = 64, bands = 16)
      .as[(Long, Long, Long)].collect().toList.sorted
    pairs.find(p => p._1 == 1L && p._2 == 3L).get._3 shouldBe 16L // all bands
    // near-dup should collide on at least one band
    pairs.map(p => (p._1, p._2)) should contain ((1L, 2L))
    // partition invariance (output is unordered — compare sorted)
    Dedup.minhashLshPairs(docs.repartition(5), 3, 64, 16)
      .as[(Long, Long, Long)].collect().toList.sorted shouldBe pairs
    // pure-function signature sanity
    val sig = Dedup.minhashSignature(Seq("a b c", "b c d"), 8)
    sig.length shouldBe 8
    Dedup.minhashSignature(Seq("a b c", "b c d"), 8) shouldBe sig
  }

  test("simhash: identical texts share hash; hamming distance small for near-dups") {
    import spark.implicits._
    val m = Dedup.simhashBuckets(docs).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    m(1L) shouldBe m(3L)
    java.lang.Long.bitCount(m(1L) ^ m(2L)) should be < 12
    java.lang.Long.bitCount(m(1L) ^ m(4L)) should be > 12
  }

  test("simhashNearDup equals brute-force popcount pairs: pigeonhole recall is EXACT within the radius") {
    import spark.implicits._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = Dedup.simhashBuckets(real).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._2)
    for (radius <- Seq(3, 5)) {
      val pieces = if (radius < 4) 4 else 8
      val brute = (for {
        (a, ha) <- sh; (b, hb) <- sh if a < b
        d = java.lang.Long.bitCount(ha ^ hb) if d <= radius
      } yield (a, b, d.toLong)).sortBy(p => (p._1, p._2)).toList
      brute should not be empty // the corpus must exercise the operator
      Dedup.simhashNearDup(real, radius, pieces)
        .as[(Long, Long, Long)].collect().toList shouldBe brute
      // partition invariance of the banded self-join + min-collapse
      Dedup.simhashNearDup(real.repartition(13), radius, pieces)
        .as[(Long, Long, Long)].collect().toList shouldBe brute
    }
    // loud contracts: the pigeonhole guarantee requires radius < pieces
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashNearDup(real, radius = 4, pieces = 4)
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashNearDup(real, radius = 3, pieces = 5)
    // first-seen verdict: one row per doc, dup_of = min earlier
    // within-radius doc — checked against the brute pair list
    val bruteRep = (for {
      (a, ha) <- sh; (b, hb) <- sh
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (b, a)).groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).min }
    val verdicts = Dedup.firstSeenSimhashDup(real)
      .as[(Long, Long, Long)].collect().toList
    verdicts.map(_._1) shouldBe sh.map(_._1).sorted.toList // every doc, ordered
    verdicts.foreach { case (id, dupOf, isDup) =>
      dupOf shouldBe bruteRep.getOrElse(id, -1L)
      isDup shouldBe (if (bruteRep.contains(id)) 1L else 0L)
    }
  }

  test("brute-force ANN matches a naive local computation") {
    import spark.implicits._
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(df, col("vec_id") < 3, k = 4)
      .as[(Long, Long, Long)].collect().toList
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    for (q <- 0 until 3) {
      val expected = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q)._2, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(4).map(_._1)
      got.filter(_._1 == q).sortBy(_._2).map(_._3) shouldBe expected
    }
  }

  test("binary ANN: exact packing, Hamming ranking, append exactness, full-shortlist rerank == brute force") {
    import spark.implicits._
    val dim = 64
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(i * 0.7 + d * 1.3).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // packing: bit i of word w set iff v(w*32+i) > 0 — checked by hand
    val packed = Similarity.binEncode(df, dim)
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2).toMap
    vecs.foreach { case (id, v) =>
      val exp = (0 until dim / 32).map { w =>
        (0 until 32).foldLeft(0L)((acc, i) =>
          acc + (if (v(w * 32 + i).toDouble > 0.0) 1L << i else 0L))
      }
      packed(id) shouldBe exp
    }
    // Hamming ranking equals a local popcount computation
    def ham(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val got = Similarity.binTopK(df, col("vec_id") < 3, k = 5)
      .as[(Long, Long, Long)].collect().toList
    for (q <- 0 until 3) {
      val expected = vecs.filter(_._1 != q)
        .map { case (id, _) => (id, ham(packed(q.toLong), packed(id))) }
        .sortBy { case (id, h) => (h, id) }.take(5).map(_._1)
      got.filter(_._1 == q).sortBy(_._2).map(_._3) shouldBe expected
    }
    // partition invariance
    Similarity.binTopK(df.repartition(13), col("vec_id") < 3, k = 5)
      .as[(Long, Long, Long)].collect().toList shouldBe got
    // append exactness: NO fitted state, so split-encode == whole-encode
    val dir = java.nio.file.Files.createTempDirectory("graft_bin_append")
      .toString + "/ix"
    Similarity.binEncode(df.filter($"vec_id" % 2 === 0), dim).write.parquet(dir)
    Similarity.binEncode(df.filter($"vec_id" % 2 =!= 0), dim)
      .write.mode("append").parquet(dir)
    Similarity.binServe(spark.read.parquet(dir), df.filter($"vec_id" < 3),
        k = 5, dim = dim)
      .as[(Long, Long, Long)].collect().toList shouldBe got
    // a full-corpus shortlist makes the rerank EXACTLY brute force —
    // the composition's correctness argument in one assert
    val brute = Similarity.bruteForceTopK(df, col("vec_id") < 3, k = 5)
      .as[(Long, Long, Long)].collect().toList
    Similarity.binRerankTopK(df, col("vec_id") < 3, k = 5,
        shortlist = vecs.size, dim = dim)
      .as[(Long, Long, Long)].collect().toList shouldBe brute
    // asymmetric scoring equals a local ±qv[d]-by-bit fold over the
    // SAME packed words (full-precision query, 8-byte corpus)
    val asym = Similarity.binAsymTopK(df, col("vec_id") < 3, k = 5)
      .as[(Long, Long, Long)].collect().toList
    def nrm(v: Array[Float]): Array[Double] = {
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      if (n == 0) d.map(_ => 0.0) else d.map(_ / n)
    }
    def asymScore(qv: Array[Double], words: Seq[Long]): Double = {
      var s = 0.0
      for (d <- 0 until dim) {
        val bit = (words(d / 32) >> (d % 32)) & 1L
        s += (if (bit == 1L) qv(d) else -qv(d))
      }
      s
    }
    for (q <- 0 until 3) {
      val qv = nrm(vecs(q)._2)
      val expected = vecs.filter(_._1 != q)
        .map { case (id, _) => (id, asymScore(qv, packed(id))) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
      asym.filter(_._1 == q).sortBy(_._2).map(_._3) shouldBe expected
    }
    // asymmetric rerank with a full-corpus shortlist is ALSO exactly
    // brute force (any stage-1 ordering is, once nothing is cut)
    Similarity.binRerankTopK(df, col("vec_id") < 3, k = 5,
        shortlist = vecs.size, dim = dim, asymmetric = true)
      .as[(Long, Long, Long)].collect().toList shouldBe brute
    // the TWO-STAGE serve from the persisted store (q177): stage-1
    // shortlist from the reloaded packed index + stage-2 exact rerank
    // against the raw relation == the fresh-encode composition
    val fresh = Similarity.binRerankTopK(df, col("vec_id") < 3, k = 5,
        dim = dim).as[(Long, Long, Long)].collect().toList
    Similarity.binRerankServe(spark.read.parquet(dir), df,
        df.filter($"vec_id" < 3), k = 5, dim = dim)
      .as[(Long, Long, Long)].collect().toList shouldBe fresh
    // loud contract: dim must pack whole words
    an[IllegalArgumentException] should be thrownBy
      Similarity.binEncode(df, dim = 48)
    // loud contract: a wrong-dim vector RAISES instead of silently
    // packing zero bits (element_at's NULL would CASE to 0 otherwise
    // — and the oracle would replay it, blinding the hash gate)
    val short = df.withColumn("embedding",
      org.apache.spark.sql.functions.slice(col("embedding"), 1, 48))
    val ex = intercept[Exception] { Similarity.binEncode(short, dim).collect() }
    ex.getMessage should include("embedding size <> dim")

    // ---- multi-index Hamming: candidates are the (slot, sub-word)
    // collisions, ranking is exact Hamming over the collision set —
    // checked against a full local replay of the algorithm
    val subs = 8; val b = dim / subs
    def subwords(words: Seq[Long]): Seq[Long] =
      (0 until subs).map(j => (words((j * b) / 32) >> ((j * b) % 32)) & ((1L << b) - 1))
    val mih = Similarity.binMihTopK(df, col("vec_id") < 3, k = 5)
      .as[(Long, Long, Long)].collect().toList
    for (qv <- 0 until 3) {
      val qsubs = subwords(packed(qv.toLong))
      val cands = vecs.map(_._1).filter(_ != qv.toLong).filter { id =>
        subwords(packed(id)).zip(qsubs).exists { case (a, bb) => a == bb }
      }
      // pigeonhole: EVERY code within Hamming distance < subs collides
      vecs.map(_._1).filter(id => id != qv.toLong &&
          ham(packed(qv.toLong), packed(id)) < subs)
        .foreach(id => cands should contain(id))
      val expected = cands
        .map(id => (id, ham(packed(qv.toLong), packed(id))))
        .sortBy { case (id, h) => (h, id) }.take(5).map(_._1)
      mih.filter(_._1 == qv).sortBy(_._2).map(_._3) shouldBe expected
    }
    // serving MIH from the PERSISTED q175-style store == fresh encode
    Similarity.binMihServe(spark.read.parquet(dir), df.filter($"vec_id" < 3),
        k = 5, dim = dim)
      .as[(Long, Long, Long)].collect().toList shouldBe mih
    // partition invariance of the collision join + min-collapse
    Similarity.binMihTopK(df.repartition(13), col("vec_id") < 3, k = 5)
      .as[(Long, Long, Long)].collect().toList shouldBe mih
  }

  test("filtered ANN: top-k over the attribute-matching corpus only") {
    import spark.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat), i % 5)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val got = Similarity.filteredTopK(df, col("label").isin(0, 2),
        queryFilter = col("vec_id") < 3, k = 4)
      .as[(Long, Long, Long)].collect().toList
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    for (q <- 0 until 3) {
      val expected = vecs.filter(v => v._1 != q && Set(0, 2)(v._3))
        .map { case (id, v, _) => (id, cos(vecs(q)._2, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(4).map(_._1)
      got.filter(_._1 == q).sortBy(_._2).map(_._3) shouldBe expected
    }
    // queries need not satisfy the attribute predicate themselves
    got.map(_._1).distinct.sorted shouldBe List(0L, 1L, 2L)
  }

  test("diverse top-k: per-label cap holds and matches the naive greedy") {
    import spark.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 0.4 + d * 0.8).toFloat), i % 4)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
    val got = Similarity.diverseTopK(df, col("vec_id") < 3, k = 5, perLabelCap = 2)
      .as[(Long, Long, Long)].collect().toList
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val labelOf = vecs.map(v => v._1 -> v._3).toMap
    for (q <- 0 until 3) {
      val ranked = vecs.filter(_._1 != q)
        .map { case (id, v, lbl) => (id, lbl, cos(vecs(q)._2, v)) }
        .sortBy { case (id, _, s) => (-s, id) }
      val capped = ranked.groupBy(_._2).values.flatMap(_.take(2)).toSeq
        .sortBy { case (id, _, s) => (-s, id) }.take(5).map(_._1)
      val mine = got.filter(_._1 == q).sortBy(_._2).map(_._3)
      mine shouldBe capped
      // cap invariant: never more than 2 results per corpus label
      mine.groupBy(labelOf).values.foreach(_.size should be <= 2)
    }
    // partition invariance (map-side combine must not change results)
    Similarity.diverseTopK(df.repartition(7), col("vec_id") < 3, k = 5, perLabelCap = 2)
      .as[(Long, Long, Long)].collect().toList shouldBe got
  }

  test("vector expressions: extension wiring + eval + SQL registration") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // extension wiring applies without error (a fresh session can't be
    // built inside the shared-context test JVM — getOrCreate would
    // return the existing session and skip extensions)
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // interpreted eval path
    val a = Literal.create(Array(1.0, 2.0), ArrayType(DoubleType))
    val b = Literal.create(Array(3.0, 4.0), ArrayType(DoubleType))
    graft.functions.VectorDot(a, b).eval(null) shouldBe 11.0
    graft.functions.VectorNorm(b).eval(null) shouldBe 5.0
    // codegen path through SQL on the shared session
    graft.functions.VectorExpressions.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>),
        |               CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS d,
        |       vec_norm(CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS n
        |""".stripMargin).collect().head
    r.getDouble(0) shouldBe 11.0
    r.getDouble(1) shouldBe 5.0
  }

  test("LSH ANN returns plausible neighbors (bucketed subset of brute force)") {
    import spark.implicits._
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 0.3 + d * 1.1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val lsh = Similarity.lshTopK(df, col("vec_id") < 5, k = 3, numPlanes = 4, dim = 8)
      .as[(Long, Long, Long)].collect()
    lsh.foreach { case (q, _, n) => n should not be q }
    // deterministic
    Similarity.lshTopK(df.repartition(3), col("vec_id") < 5, k = 3, numPlanes = 4, dim = 8)
      .as[(Long, Long, Long)].collect() shouldBe lsh
  }

  test("IVF ANN recalls most brute-force neighbors") {
    import spark.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.37 + d * 0.9).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(df, col("vec_id") < 10, k = 5)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._3).toSet).toMap
    val ivf = Similarity.ivfTopK(df, col("vec_id") < 10, k = 5, nClusters = 8, nProbe = 3)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._3).toSet).toMap
    ivf.keySet shouldBe exact.keySet
    // probing 3 of 8 data-adapted clusters should recover most true neighbors
    val recall = exact.map { case (q, t) => ivf(q).intersect(t).size.toDouble / t.size }
    (recall.sum / recall.size) should be > 0.6
  }

  test("IVF output is identical across partition counts (content-hash fit set)") {
    import spark.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.37 + d * 0.9).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // small maxFitSample so the fit SELECTION (not just k-means) is
    // exercised: sample().take() would pick different rows at different
    // partition counts; the lowest-k content-hash set cannot
    def run(parts: Int) =
      Similarity.ivfTopK(df.repartition(parts), col("vec_id") < 10, k = 5,
          nClusters = 8, nProbe = 3, maxFitSample = 64)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    run(3) shouldBe run(17)
  }

  test("IVF-PQ ANN: decent recall vs brute force, identical across partition counts") {
    import spark.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.37 + d * 0.9).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(df, col("vec_id") < 10, k = 5)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._3).toSet).toMap
    def run(parts: Int) =
      Similarity.ivfPqTopK(df.repartition(parts), col("vec_id") < 10, k = 5,
        nClusters = 8, nProbe = 3, m = 4, dim = 8, codes = 8, maxFitSample = 64)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    val a = run(3)
    a shouldBe run(17) // content-hash fits: partition-order-free
    val got = a.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    got.keySet shouldBe exact.keySet
    // PQ quantizes distances (2-dim subcodes, 8 codes) so recall sits
    // below raw IVF's — but probing 3/8 lists must still recover a
    // meaningful share of true neighbors
    val recall = exact.map { case (q, t) => got(q).intersect(t).size.toDouble / t.size }
    (recall.sum / recall.size) should be > 0.4
  }

  test("recallAtK: exhaustive probes = 1.0, rerank and multi-table LSH recover recall") {
    import spark.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.37 + d * 0.9).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val qf = col("vec_id") < 10
    val truth = Similarity.bruteForceTopK(df, qf, k = 5)
    // the metric itself: self-recall 1.0, disjoint 0.0
    Similarity.recallAtK(truth, truth) shouldBe 1.0
    Similarity.recallAtK(truth,
      truth.withColumn("nid", col("nid") + 10000L)) shouldBe 0.0
    // IVF probing EVERY inverted list scores every candidate exactly
    // — it IS brute force, so recall must be exactly 1.0
    Similarity.recallAtK(truth,
      Similarity.ivfTopK(df, qf, k = 5, nClusters = 8, nProbe = 8)) shouldBe 1.0
    // IVF-PQ: the exact-refine shortlist can only add back true
    // neighbors the ADC ranking demoted — never lose them
    def pq(rr: Int) = Similarity.recallAtK(truth,
      Similarity.ivfPqTopK(df, qf, k = 5, nClusters = 8, nProbe = 8,
        m = 4, dim = 8, codes = 8, maxFitSample = 64, rerank = rr))
    pq(64) should be >= pq(0)
    // with all lists probed and a corpus-sized shortlist the refine
    // stage re-scores every candidate exactly = brute force
    pq(300) shouldBe 1.0
    // multi-table LSH: OR-amplification can only grow each query's
    // candidate set, so recall is monotone in numTables
    def lsh(l: Int) = Similarity.recallAtK(truth,
      Similarity.lshTopK(df, qf, k = 5, numPlanes = 6, dim = 8, numTables = l))
    val (l1, l4, l16) = (lsh(1), lsh(4), lsh(16))
    l4 should be >= l1
    l16 should be >= l4
    l16 should be > 0.5
    // rerank + multi-table paths stay partition-order-free
    def rr(parts: Int) =
      Similarity.ivfPqTopK(df.repartition(parts), qf, k = 5, nClusters = 8,
          nProbe = 3, m = 4, dim = 8, codes = 8, maxFitSample = 64, rerank = 20)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    rr(3) shouldBe rr(17)
    def mt(parts: Int) =
      Similarity.lshTopK(df.repartition(parts), qf, k = 5, numPlanes = 6,
          dim = 8, numTables = 4)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    mt(3) shouldBe mt(17)
  }

  test("q155 production-recipe ANN audit: every family clears the 0.9 recall floor") {
    import spark.implicits._
    // the gate (q155) hash-pins these counts; this spec pins the FLOOR
    // the production recipes were chosen for (docs/SCALE.md §ANN
    // recall@10) — a knob regression that stayed deterministic would
    // still fail here
    val emb = graft.queries.QueryDsl.t(spark, "/root/testdata/sf0.001", "embeddings")
    val rows = Similarity.annRecallAuditProd(emb, col("vec_id") < 20, k = 10)
      .as[(Long, Long, Long, Long, Long)].collect()
    rows.length shouldBe 20
    val kTotal = rows.map(_._5).sum
    kTotal shouldBe 200L
    // IVF at nProbe = nClusters probes every list = brute force exactly
    rows.map(_._2).sum shouldBe kTotal
    // LSH 4 planes x 32 tables and IVF-PQ m=16 rerank=200: >= 0.9·k·|Q|
    rows.map(_._3).sum.toDouble should be >= 0.9 * kTotal
    rows.map(_._4).sum.toDouble should be >= 0.9 * kTotal
    // anchor sampling: the sampled audit's rows EQUAL the full audit's
    // rows restricted to the anchored qids (indexes are
    // query-independent — sampling changes cost, never a result)
    val full = rows.map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val samp = Similarity.annRecallAuditProd(emb, col("vec_id") < 20, k = 10,
        anchorFraction = 0.5)
      .as[(Long, Long, Long, Long, Long)].collect()
    samp.nonEmpty shouldBe true
    samp.length should be < rows.length
    samp.foreach { case (qid, i, l, p, kt) => full(qid) shouldBe ((i, l, p, kt)) }
  }

  test("sampled-anchor audits: exact restriction of the full audit, partition-invariant") {
    import spark.implicits._
    val emb = graft.queries.QueryDsl.t(spark, "/root/testdata/sf0.001", "embeddings")
    // ann audit: the index structures are query-independent, so the
    // sampled audit's rows must EQUAL the full audit's rows restricted
    // to the anchored qids — sampling changes cost, never a result
    val full = Similarity.annRecallAudit(emb, col("vec_id") < 40, k = 10)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val samp = Similarity.annRecallAudit(emb, col("vec_id") < 40, k = 10,
        anchorFraction = 0.5)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    samp.nonEmpty shouldBe true
    samp.size should be < full.size
    samp.foreach { case (qid, hits) => full(qid) shouldBe hits }
    // neardup audit: anchored counts are a (strict, at this fraction)
    // subset of the full counts and the estimate stays in range
    val nfull = graft.pipeline.Dedup.neardupRecallAudit(emb)
      .as[(Long, Long, Long)].head()
    val nsamp = graft.pipeline.Dedup.neardupRecallAudit(emb, anchorFraction = 0.25)
      .as[(Long, Long, Long)].head()
    nsamp._1 should be > 0L
    nsamp._1 should be < nfull._1
    nsamp._2 should be <= nsamp._1
    nsamp._3 shouldBe nsamp._2 // LSH re-scores exactly: candidates ⊆ truth
    // partition-invariant (content-hash anchors, not row order)
    val nsamp2 = graft.pipeline.Dedup.neardupRecallAudit(emb.repartition(7),
        anchorFraction = 0.25)
      .as[(Long, Long, Long)].head()
    nsamp2 shouldBe nsamp
    // minhash audit: same subset law on the documents table
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dfull = graft.pipeline.Dedup.dedupRecallAudit(docs)
      .as[(Long, Long, Long)].head()
    val dsamp = graft.pipeline.Dedup.dedupRecallAudit(docs, anchorFraction = 0.25)
      .as[(Long, Long, Long)].head()
    dsamp._1 should be <= dfull._1
    dsamp._2 should be <= dsamp._1
    // fraction outside (0,1) is a loud error, not a silent no-op
    an[IllegalArgumentException] should be thrownBy
      graft.pipeline.Dedup.neardupRecallAudit(emb, anchorFraction = 0.0).head()
  }

  test("language ID picks the stopword-matching profile") {
    TextFunctions.detectLang("the quick fox and the dog".split(" ")) shouldBe "en"
    TextFunctions.detectLang("el zorro y el perro de la casa".split(" ")) shouldBe "es"
    TextFunctions.detectLang("xyzzy plugh".split(" ")) shouldBe "und"
    TextFunctions.detectLang(Seq.empty) shouldBe "und"
  }

  test("winnowing fingerprints: identical docs identical, shifted docs overlap") {
    val a = "one two three four five six seven eight nine ten".split(" ").toSeq
    val b = ("zero " + a.mkString(" ")).split(" ").toSeq
    val fa = TextFunctions.winnow(a)
    fa shouldBe TextFunctions.winnow(a)
    TextFunctions.winnow(b).toSet.intersect(fa.toSet) should not be empty
    TextFunctions.winnow(Seq("a")) shouldBe empty
  }

  test("bpe-ish token count: longer words cost more tokens") {
    TextFunctions.bpeishCountUdf // force init
    val f = (s: String) => "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]".r.findAllIn(s).toList
    f("hello, world 42") shouldBe List("hello", ",", "world", "4", "2")
  }

  test("bilinear resize: constants exact, dims correct, downscale averages") {
    import graft.core.Kernels
    val img = Kernels.constantImage(64, 32, 1, 77.0)
    val small = Kernels.resize(img, 16, 8)
    small.width shouldBe 16
    small.height shouldBe 8
    Kernels.stats(small).mean shouldBe 77.0
    // 2x2 checkerboard downscaled to 1x1 averages the quadrant centers
    val px = Array(0.0, 100.0, 100.0, 0.0)
    val board = graft.core.SparkImage(graft.core.ImageMeta(), "[]", 2, 2, 1,
      graft.core.PixelCodec.Double64,
      graft.core.PixelCodec.encode(px, graft.core.PixelCodec.Double64))
    Kernels.resize(board, 1, 1).toDoubles.head shouldBe 50.0
    // command-registry form
    val viaCmd = Kernels.run(img, "Scale...", "x=0.25")
    viaCmd.width shouldBe 16
    viaCmd.height shouldBe 8
  }

  test("multimodal resize stage normalizes payloads to the target shape") {
    import spark.implicits._
    val png = graft.sources.ImageCodecIO.encode(
      graft.core.Kernels.constantImage(32, 32, 1, 200.0), "png")
    val media = Multimodal.asMediaTable(Seq((1L, png)).toDF("id", "payload"),
      "id", "payload", "image", "png")
    val resized = Multimodal.resizeStage(media, 8, 8)
    val feats = Multimodal.extractFeatures(resized).collect().head
    feats.width shouldBe 8
    feats.height shouldBe 8
    feats.mean_intensity shouldBe 200.0
  }

  test("multimodal: features + frame sampling over binary payloads, partition-invariant") {
    import spark.implicits._
    val media = Multimodal.asMediaTable(
      Seq((1L, Array[Byte](1, 2, 3)), (2L, Array[Byte](9, 9))).toDF("id", "payload"),
      "id", "payload", mediaType = "video", format = "fake")
    media.schema.fieldNames.toSeq shouldBe Seq("media_id", "meta", "payload")
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    feats.map(_.media_id).toSeq shouldBe Seq(1L, 2L)
    feats.foreach { f => f.width shouldBe 16; f.n_bytes should be > 0L }
    Multimodal.extractFeatures(media.repartition(4)).collect().sortBy(_.media_id)
      .toSeq shouldBe feats.toSeq
    val frames = Multimodal.sampleFrames(media, nFrames = 3)
    frames.count() shouldBe 6
    // real image payload goes through the JDK codec
    val png = graft.sources.ImageCodecIO.encode(graft.core.Kernels.constantImage(4, 4, 1, 128.0), "png")
    val imgMedia = Multimodal.asMediaTable(Seq((7L, png)).toDF("id", "payload"),
      "id", "payload", "image", "png")
    val imgFeat = Multimodal.extractFeatures(imgMedia).collect().head
    imgFeat.width shouldBe 4
    imgFeat.mean_intensity shouldBe 128.0
  }

  test("bloom decontamination equals the plain-join answer and is partition-invariant") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // benchmark
      (2L, "eta theta iota kappa lambda mu"), // benchmark
      (10L, "alpha beta gamma delta epsilon other words here"), // shares 4-grams with 1
      (11L, "eta theta iota kappa something else entirely now"), // shares one 4-gram with 2
      (12L, "totally clean document with no benchmark overlap at all")
    ).toDF("doc_id", "text")
    def plain(n: Int) = { // the unfiltered reference join
      val sh = corpus.select($"doc_id", explode(Dedup.shingles(corpus, $"text", n)).as("s"))
      val bench = sh.filter($"doc_id" < 10).select($"s").distinct()
      sh.filter($"doc_id" >= 10).join(bench, Seq("s"), "left_semi")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        .as[(Long, Long)].collect().toMap
    }
    val got = Decontam.bloomDecontam(corpus, isBench = $"doc_id" < 10, n = 4)
      .as[(Long, Long)].collect().toMap
    got shouldBe plain(4)
    got(10L) shouldBe 2L // two distinct 4-grams inside "alpha..epsilon"
    got(11L) shouldBe 1L
    got.contains(12L) shouldBe false
    Decontam.bloomDecontam(corpus.repartition(7), isBench = $"doc_id" < 10, n = 4)
      .as[(Long, Long)].collect().toMap shouldBe got
  }

  test("incremental near-dup restricts the pair set to old x new") {
    import spark.implicits._
    val vecs = (0 until 60).map { i =>
      // 0 and 40 near-identical, 1 and 41 near-identical; others spread
      val base = if (i >= 40 && i < 42) (i - 40) else i
      (i.toLong, Array.tabulate(8)(d => math.sin(base * 0.7 + d).toFloat
        + (if (i >= 40 && i < 42) 1e-4f else 0f)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val inc = Dedup.incrementalNearDups(df, splitId = 40L, threshold = 0.99,
      bands = 4, rowsPerBand = 4, dim = 8, seed = 7L)
      .as[(Long, Long, Long)].collect().toList
    // every reported new id is >= split and its first_dup < split
    inc.foreach { case (idNew, _, firstDup) =>
      idNew should be >= 40L
      firstDup should be < 40L
    }
    inc.map(_._1) should contain allOf (40L, 41L)
    inc.find(_._1 == 40L).get._3 shouldBe 0L
    inc.find(_._1 == 41L).get._3 shouldBe 1L
    // partition-invariant
    Dedup.incrementalNearDups(df.repartition(5), splitId = 40L, threshold = 0.99,
      bands = 4, rowsPerBand = 4, dim = 8, seed = 7L)
      .as[(Long, Long, Long)].collect().toList shouldBe inc
  }

  test("nearest-centroid assignment recovers well-separated cluster labels") {
    import spark.implicits._
    // two tight clusters far apart; labels match the cluster => all
    // assignments must agree with the labels, except a deliberate
    // mislabeled point which must be flagged (is_match = 0)
    val rows = (0 until 20).map { i =>
      val cluster = i % 2
      val label = if (i == 6) 1L - (i % 2) else (i % 2).toLong // 6 mislabeled
      val v = Array.tabulate(4)(d =>
        (cluster * 10.0 + d + 0.01 * i).toFloat)
      (i.toLong, label, v)
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    val got = Similarity.nearestCentroidAssign(df)
      .as[(Long, Long, Long, Long)].collect().toList
    got.size shouldBe 20
    got.foreach { case (id, label, assigned, isMatch) =>
      assigned shouldBe (id % 2) // geometry wins
      isMatch shouldBe (if (id == 6L) 0L else 1L)
    }
    Similarity.nearestCentroidAssign(df.repartition(6))
      .as[(Long, Long, Long, Long)].collect().toList shouldBe got
  }

  test("PQ encode: hand-computed per-subspace codes, tie-break to lowest label, grid recon") {
    import spark.implicits._
    // dim=4, m=2 (sub=2). Centroids: c0=(1,0,2,2), c1=(0,1,0,2),
    // c2=(1,0,0,2). Hand-computed: vec 0 (1,0,2,0): sub0 ties c0/c2 at
    // 0 -> code 0; sub1 (2,0) vs c0 (2,2) dist 4 -> dg 40000. vec 5/6
    // (1,0,0,2): sub0 ties c0/c2 -> 0; sub1 ties c1/c2 -> 1 — both
    // tie-breaks to the LOWEST label, codes cross labels.
    val rows = Seq(
      (0L, 0L, Array(1f, 0f, 2f, 0f)),
      (1L, 0L, Array(1f, 0f, 2f, 2f)),
      (2L, 0L, Array(1f, 0f, 2f, 4f)),
      (3L, 1L, Array(0f, 1f, 0f, 2f)),
      (4L, 1L, Array(0f, 1f, 0f, 2f)),
      (5L, 2L, Array(1f, 0f, 0f, 2f)),
      (6L, 2L, Array(1f, 0f, 0f, 2f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val got = Similarity.pqEncode(df, m = 2, dim = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toList
    got shouldBe List(
      (0L, 0L, 0L, 0L, 40000L),
      (1L, 0L, 0L, 0L, 0L),
      (2L, 0L, 0L, 0L, 40000L),
      (3L, 1L, 1L, 1L, 0L),
      (4L, 1L, 1L, 1L, 0L),
      (5L, 2L, 0L, 1L, 0L),
      (6L, 2L, 0L, 1L, 0L))
    Similarity.pqEncode(df.repartition(5), m = 2, dim = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toList shouldBe got
  }

  test("PQ k-means codebooks: deterministic, partition-invariant, and lower distortion " +
       "than the per-label stand-in") {
    import spark.implicits._
    val emb = graft.queries.QueryDsl.t(spark, "/root/testdata/sf0.001", "embeddings")
    val got = Similarity.pqEncodeKmeans(emb)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toList
    got.nonEmpty shouldBe true
    // bit-identical under repartitioning (content-hash fit sample +
    // seeded Lloyd + per-row encode — nothing order-dependent)
    Similarity.pqEncodeKmeans(emb.repartition(7))
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toList shouldBe got
    // distortion: 256 learned codes per subspace must reconstruct (much)
    // better than q114's |labels| per-label grid-mean codebooks. The
    // per-label recon_g is the grid-floored distance ×1e4 — dividing
    // back underestimates each true distance by at most m·1e-4, covered
    // by the margin (kmeans wins by orders of magnitude here).
    val kmeansAvg = got.map(_._7).sum / got.size
    val labelRows = Similarity.pqEncode(emb)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val labelAvg = labelRows.map(_._7.toDouble / 10000.0).sum / labelRows.length
    assert(kmeansAvg < labelAvg * 0.5 + 4e-4,
      s"PQ k-means distortion $kmeansAvg not clearly below per-label $labelAvg")
  }

  test("hybrid RRF fusion: overlapping doc fuses both ranks; absent list contributes 0") {
    import spark.implicits._
    // doc 1 wins BOTH legs (both terms + identical direction to the
    // query vector) -> 1/61 + 1/61; doc 3 matches no term, so its bm25
    // rank is -1 and only the ann leg contributes
    val docs = Seq((1L, "hash join"), (2L, "hash zzz yyy xxx"), (3L, "qqq"))
      .toDF("doc_id", "text")
    val embs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(0f, 1f)), (3L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.hybridRetrieve(docs, embs, queryId = 0L,
        terms = Seq("hash", "join"))
      .as[(Long, Long, Long, Double)].collect().toList
    got shouldBe List(
      (1L, 1L, 1L, 1.0 / 61.0 + 1.0 / 61.0),
      (2L, 2L, 2L, 1.0 / 62.0 + 1.0 / 62.0),
      (3L, -1L, 3L, 0.0 + 1.0 / 63.0))
    Similarity.hybridRetrieve(docs.repartition(3), embs.repartition(2), 0L,
        terms = Seq("hash", "join"))
      .as[(Long, Long, Long, Double)].collect().toList shouldBe got
  }

  test("semantic dedup prunes high-cosine pairs within clusters, keeps lowest id") {
    import spark.implicits._
    // two well-separated clusters; ids 2 and 5 are scaled copies of ids
    // 0 and 3 (cosine 1 with their originals); the in-cluster distinct
    // directions sit at cosine ~0.22, far under the 0.9 threshold
    val rows = Seq(
      (0L, 0L, Array(9f, 1f, 0f, 0f)),
      (1L, 0L, Array(1f, 9f, 0f, 0f)),
      (2L, 0L, Array(13.5f, 1.5f, 0f, 0f)),
      (3L, 1L, Array(0f, 0f, 9f, 1f)),
      (4L, 1L, Array(0f, 0f, 1f, 9f)),
      (5L, 1L, Array(0f, 0f, 13.5f, 1.5f))
    ).toDF("vec_id", "label", "embedding")
    val got = Dedup.semDedup(rows, threshold = 0.9, dim = 4)
      .as[(Long, Long, Long)].collect().toList
    got shouldBe List((0L, 0L, 1L), (1L, 0L, 1L), (2L, 0L, 0L),
      (3L, 1L, 1L), (4L, 1L, 1L), (5L, 1L, 0L))
    // partition-invariant (grid-quantized cosines, deterministic argmin)
    Dedup.semDedup(rows.repartition(5), threshold = 0.9, dim = 4)
      .as[(Long, Long, Long)].collect().toList shouldBe got
  }

  test("length quantiles: integer percentile_disc ranks per lang") {
    import spark.implicits._
    // en: token counts 1..10 -> p50 = 5 (cum 5 >= 5), p90 = 9, p99 = 10
    val docs = (1 to 10).map(i => (i.toLong, "en", (1 to i).map(_ => "t").mkString(" "))) :+
      ((99L, "fr", "a b c"))
    val df = docs.toDF("doc_id", "lang", "text")
    val got = TextFunctions.lengthQuantiles(df)
      .as[(String, Long, Long, Long, Long)].collect().toList
    got shouldBe List(("en", 10L, 5L, 9L, 10L), ("fr", 1L, 3L, 3L, 3L))
    TextFunctions.lengthQuantiles(df.repartition(4))
      .as[(String, Long, Long, Long, Long)].collect().toList shouldBe got
  }

  test("vocab coverage: top-V cut is (count desc, token) with OOV counts per doc") {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // counts: a=3, b=1, c=1; V=2 keeps a and (tie on 1 -> token asc) b
    val got = TextFunctions.vocabCoverage(df, vocabSize = 2)
      .as[(Long, Long, Long, Long)].collect().toList
    got shouldBe List((1L, 3L, 3L, 0L), (2L, 2L, 1L, 1L))
    TextFunctions.vocabCoverage(df.repartition(3), vocabSize = 2)
      .as[(Long, Long, Long, Long)].collect().toList shouldBe got
  }

  test("duplicated spans: shared-shingle runs merge into maximal per-doc spans") {
    import spark.implicits._
    // shared 2-grams at positions {0,1} and {5,6} of both docs ->
    // two maximal spans each: [0,3) and [5,8) -> 2 spans, 6 dup tokens
    val df = Seq(
      (1L, "x y z G1 G2 u v w"),
      (2L, "x y z p q u v w"),
      (3L, "totally unique text here")
    ).toDF("doc_id", "text")
    val got = TextFunctions.duplicatedSpans(df, n = 2)
      .as[(Long, Long, Long)].collect().toList
    got shouldBe List((1L, 2L, 6L), (2L, 2L, 6L))
    TextFunctions.duplicatedSpans(df.repartition(3), n = 2)
      .as[(Long, Long, Long)].collect().toList shouldBe got
  }

  test("span scrubbing keeps exactly one copy: lowest doc_id holds, others lose the span") {
    import spark.implicits._
    val df = Seq(
      (1L, "x y z G1 G2 u v w"),        // keeper of both shared runs
      (2L, "x y z p q u v w"),          // loses [0,3) and [5,8) -> "p q"
      (3L, "totally unique text here"), // untouched
      (4L, "x y z")                     // fully duplicated vs doc 1 -> empty
    ).toDF("doc_id", "text")
    val got = TextFunctions.scrubDuplicatedSpans(df, n = 2)
      .as[(Long, Long, Long, String)].collect().toList
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    got shouldBe List(
      (1L, 8L, 8L, m("x y z G1 G2 u v w")),
      (2L, 8L, 2L, m("p q")),
      (3L, 4L, 4L, m("totally unique text here")),
      (4L, 3L, 0L, m("")))
    TextFunctions.scrubDuplicatedSpans(df.repartition(3), n = 2)
      .as[(Long, Long, Long, String)].collect().toList shouldBe got
  }

  test("distributed k-means matches an in-test integer reference and is partition-invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(126126L)
    val dim = 4
    val vecs = (0L until 20L).map(i => i -> Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val df = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val k = 3; val iters = 3
    // independent reference: same grid/seed/argmin/floor-mean recurrence on Maps
    val grid = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 10000.0).toLong)
    }.toMap
    var cent: Map[Long, Array[Long]] = (0L until k.toLong).map(j => j -> grid(j)).toMap
    var assign: Map[Long, Long] = Map.empty
    for (_ <- 1 to iters) {
      assign = grid.map { case (id, g) =>
        id -> cent.toSeq.map { case (j, c) =>
          (g.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, j)
        }.min._2
      }
      cent = assign.groupBy(_._2).map { case (j, members) =>
        val gs = members.keys.map(grid).toSeq
        j -> Array.tabulate(dim)(d =>
          math.floor(gs.map(_(d)).sum.toDouble / gs.size).toLong)
      }
    }
    val got = graft.pipeline.Similarity.distributedKMeans(df, k, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe assign
    graft.pipeline.Similarity.distributedKMeans(df.repartition(7), k, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe assign
  }

  test("README curation chain runs end-to-end on real testdata") {
    import spark.implicits._
    // the exact chain documented in README.md — kept runnable so the
    // example can never drift from the library's real signatures
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ok = TextFunctions.gopherRules(docs).filter($"keep" === 1).select("doc_id")
    val kept = docs.join(ok, Seq("doc_id"), "left_semi")
    val scrub = TextFunctions.scrubDuplicatedSpans(kept, n = 8)
    val pairs = Dedup.minhashLshPairs(kept, shingleN = 3, numHashes = 64, bands = 16)
    val keep = Dedup.canonicalKeep(pairs, kept)
    val bench = docs.filter($"doc_id" % 17 === 0)
      .select($"doc_id" + 1000000L as "doc_id", $"text", lit("benchmark").as("source"))
    val contaminated = graft.pipeline.Decontam.bloomDecontam(
      kept.select($"doc_id", $"text", $"source").unionByName(bench),
      isBench = $"source" === "benchmark", n = 8)
    val clean = kept.join(contaminated, Seq("doc_id"), "left_anti")
    val split = Sampling.leakageSafeSplit(clean, pairs)
    val shards = Sampling.corpusShards(clean, nShards = 16)
    kept.count() should be > 0L
    scrub.count() shouldBe kept.count()
    keep.count() should be >= 0L
    clean.count() should be > 0L
    split.select("split").distinct().count() should be <= 3L
    shards.select("shard").distinct().count() should be <= 16L
  }

  test("sequence packing: bins and offsets follow the per-lang running total") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a b c"), // 3 tokens -> bin 0 offset 0
      (2L, "en", "d e f g"), // cum 3 -> bin 0 offset 3
      (3L, "en", "h i"), // cum 7 -> bin 1 offset 2  (seqLen = 5)
      (4L, "fr", "x y z w") // separate lang stream: bin 0 offset 0
    ).toDF("doc_id", "lang", "text")
    val got = TextFunctions.sequencePacking(docs, seqLen = 5)
      .select($"doc_id", $"bin", $"offset").as[(Long, Long, Long)].collect().toList
    got shouldBe List((1L, 0L, 0L), (2L, 0L, 3L), (3L, 1L, 2L), (4L, 0L, 0L))
  }

  test("prefix-filtered jaccard: exact in the hot-stop-shingle regime") {
    import spark.implicits._
    // every doc shares an 8-token boilerplate tail (hot shingles with
    // doc-frequency = N — the f² regime); bodies are unique except one
    // planted near-dup pair. The prefix filter must (a) still find the
    // planted pair (no false negative) and (b) report only pairs whose
    // TRUE Jaccard clears the threshold — boilerplate-only overlap
    // never qualifies.
    val boiler = "this document is provided as is without any warranty"
    val corpus = (0 until 60).map { i =>
      val body = (0 until 30).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, s"$body $boiler")
    } :+ (100L, (0 until 30).map(j => s"u7_$j").mkString(" ") + " " + boiler + " extra")
    val docs = corpus.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    got shouldBe Set((7L, 100L)) // the planted pair, nothing boilerplate-only
    val rep = Dedup.ngramJaccardPairs(docs.repartition(9), n = 3, threshold = 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    rep shouldBe got
  }

  test("heavy hitters: exact above-threshold set at any partitioning; sketch never drops a qualifier") {
    import spark.implicits._
    // 40 docs of filler + one token ("hot") in every doc: hot freq =
    // 40 over N = 40*21 = 840 tokens; threshold with k=16 is N/17 ≈ 49
    // → NOT a heavy hitter. "ultra" appears 3x per doc = 120 > 49 → is.
    val docs = (0 until 40).map { i =>
      val filler = (0 until 17).map(j => s"f${i}_$j").mkString(" ")
      (i.toLong, s"$filler hot ultra ultra ultra")
    }.toDF("doc_id", "text")
    val got = TextFunctions.heavyHitters(docs, k = 16)
      .select($"tok", $"cnt").as[(String, Long)].collect().toSet
    got shouldBe Set(("ultra", 120L))
    val rep = TextFunctions.heavyHitters(docs.repartition(11), k = 16)
      .select($"tok", $"cnt").as[(String, Long)].collect().toSet
    rep shouldBe got
  }

  test("boilerplate removal: repeated chunks drop, unique text survives, partition-invariant") {
    import spark.implicits._
    // chunk size 4: "nav home about contact" is the shared header chunk
    // in docs 0/1/2 (>= minDocs=3); each doc then has 4 unique tokens
    val header = "nav home about contact"
    val docs = Seq(
      (0L, s"$header a0 b0 c0 d0"),
      (1L, s"$header a1 b1 c1 d1"),
      (2L, s"$header a2 b2 c2 d2"),
      (3L, s"solo x3 y3 z3 a3 b3 c3 d3") // no shared chunk
    ).toDF("doc_id", "text")
    val got = TextFunctions.removeBoilerplate(docs, n = 4, minDocs = 3)
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    got.map(r => (r._1, r._2, r._3)) shouldBe
      Seq((0L, 2L, 1L), (1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 0L))
    // cleaned doc 0 is exactly its unique chunk
    val md5a0 = java.security.MessageDigest.getInstance("MD5")
      .digest("a0 b0 c0 d0".getBytes("UTF-8")).map("%02x".format(_)).mkString
    got.head._4 shouldBe md5a0
    val rep = TextFunctions.removeBoilerplate(docs.repartition(7), n = 4, minDocs = 3)
      .as[(Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    rep shouldBe got
  }

  test("mixture allocation: proportional sqrt weights with availability cap, integer-exact") {
    import spark.implicits._
    // srcA: 400 tokens, srcB: 100, srcC: 4 → sqrt weights 20:10:2
    def doc(id: Long, src: String, n: Int) = (id, src, (0 until n).map(i => s"t$i").mkString(" "))
    val docs = Seq(doc(0, "srcA", 400), doc(1, "srcB", 100), doc(2, "srcC", 4))
      .toDF("doc_id", "source", "text")
    val got = Sampling.mixtureAllocation(docs, budget = 64L)
      .select($"source", $"n_tokens", $"alloc_tokens")
      .as[(String, Long, Long)].collect().toSeq
    // weights 20e6/10e6/2e6, total 32e6: alloc = 64*w div 32e6 → 40/20/4
    // srcC capped at its 4 available tokens (proportional share equals it)
    got shouldBe Seq(("srcA", 400L, 40L), ("srcB", 100L, 20L), ("srcC", 4L, 4L))
    // sub-proportional budget exercises the div rounding
    val small = Sampling.mixtureAllocation(docs, budget = 7L)
      .select($"source", $"alloc_tokens").as[(String, Long)].collect().toMap
    small shouldBe Map("srcA" -> 4L, "srcB" -> 2L, "srcC" -> 0L)
  }

  test("corpus shards: content-determined, partition-invariant, contiguous positions") {
    import spark.implicits._
    val docs = (0 until 120).map(i => (i.toLong, s"document body number $i with tokens")).toDF("doc_id", "text")
    val a = Sampling.corpusShards(docs, nShards = 4)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val b = Sampling.corpusShards(docs.repartition(13), nShards = 4)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    b shouldBe a
    a.map(_._2).distinct.sorted shouldBe a.map(_._2).distinct.sorted.filter(s => s >= 0 && s < 4)
    // positions within each shard are exactly 1..k
    a.groupBy(_._2).foreach { case (_, rows) =>
      rows.map(_._3).sorted shouldBe (1L to rows.size.toLong)
    }
  }

  test("gram matrix: exact quantized sums, partition-invariant") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, -3.0f, 0.5f)),
      (2L, Array(0.0f, -1.5f, 2.0f, 4.0f)),
      (3L, Array(2.5f, 0.1f, 0.0f, -1.0f))
    )
    val df = vecs.toDF("vec_id", "embedding")
    // independent reference: plain double loop over the same fixture
    val d = 4
    val expected = (for { i <- 0 until d; j <- i until d } yield {
      val s = vecs.map { case (_, v) =>
        math.floor(v(i).toDouble * v(j).toDouble * 10000.0).toLong }.sum
      (i.toLong, j.toLong, s)
    }).toSeq
    val got = Similarity.gramMatrix(df, d = 4)
      .as[(Long, Long, Long)].collect().toSeq
    got shouldBe expected
    Similarity.gramMatrix(df.repartition(5), d = 4)
      .as[(Long, Long, Long)].collect().toSeq shouldBe expected
  }

  test("jacobi eigendecomposition: A v = lambda v on a known symmetric matrix") {
    val a = Array(
      Array(4.0, 1.0, 0.5, 0.0),
      Array(1.0, 3.0, 0.0, 0.2),
      Array(0.5, 0.0, 2.0, 0.1),
      Array(0.0, 0.2, 0.1, 1.0))
    val (vals, vecs) = Similarity.jacobiEigen(a)
    (0 until 4).foreach { k =>
      val v = vecs(k)
      val av = Array.tabulate(4)(i => (0 until 4).map(j => a(i)(j) * v(j)).sum)
      (0 until 4).foreach(i => av(i) shouldBe (vals(k) * v(i)) +- 1e-10)
      math.sqrt(v.map(x => x * x).sum) shouldBe 1.0 +- 1e-10
    }
    vals.sum shouldBe (4.0 + 3.0 + 2.0 + 1.0) +- 1e-10 // trace preserved
  }

  test("pca whitening: whitened covariance is identity; fit is partition-deterministic") {
    import spark.implicits._
    // correlated 4-d data: x1 = x0 + noise, x2/x3 independent scales
    val rng = new scala.util.Random(7)
    val vecs = (0 until 300).map { i =>
      val x0 = rng.nextGaussian()
      (i.toLong, Array(
        (x0 * 2.0).toFloat, (x0 * 2.0 + rng.nextGaussian() * 0.3).toFloat,
        (rng.nextGaussian() * 0.5 + 1.0).toFloat, rng.nextGaussian().toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.pcaWhiten(df, d = 4)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val w = out.map(_._2)
    val n = w.length.toDouble
    val mean = Array.tabulate(4)(k => w.map(_(k)).sum / n)
    (0 until 4).foreach { i =>
      (i until 4).foreach { j =>
        val cov = w.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n
        if (i == j) cov shouldBe 1.0 +- 0.05 // eps + 1e-4 grid tolerance
        else cov shouldBe 0.0 +- 0.05
      }
    }
    // grid-exact moments -> identical transform at any partitioning
    val rep = Similarity.pcaWhiten(df.repartition(7), d = 4)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    rep.map(_._2.toSeq).toSeq shouldBe w.map(_.toSeq).toSeq
  }

  test("embedding drift: zero for identical slices, localized to the shifted dimension") {
    import spark.implicits._
    // even ids = reference; odd ids copy them except dim 2 shifted +0.5
    val vecs = (0 until 100).flatMap { i =>
      val base = Array.tabulate(4)(k => (math.sin(i * 0.7 + k) * 2).toFloat)
      val shifted = base.clone(); shifted(2) = shifted(2) + 0.5f
      Seq((i * 2L, base), (i * 2L + 1, shifted))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val drift = Similarity.embeddingDrift(df, pmod(col("vec_id"), lit(2L)) === 0L, d = 4)
      .select($"i", $"drift").as[(Long, Double)].collect().toMap
    drift(0L) shouldBe 0.0 +- 1e-4 // grid quantization only
    drift(1L) shouldBe 0.0 +- 1e-4
    drift(3L) shouldBe 0.0 +- 1e-4
    drift(2L) shouldBe 0.5 +- 1e-3
    // partition-invariant (grid-exact sums)
    val rep = Similarity.embeddingDrift(df.repartition(9), pmod(col("vec_id"), lit(2L)) === 0L, d = 4)
      .select($"i", $"drift").as[(Long, Double)].collect().toMap
    rep shouldBe drift
  }

  test("token rarity: common-token docs score higher; partition-invariant") {
    import spark.implicits._
    val r = TextFunctions.tokenRarity(docs)
      .select($"doc_id", $"mean_tok_freq").as[(Long, Double)].collect().toMap
    // docs 1 and 3 are identical and share every token with doc 2's prefix;
    // doc 4 is all-rare (each token appears once except none shared)
    r(1L) shouldBe r(3L)
    r(1L) should be > r(4L)
    // exact value for doc 4: every token unique to it → mean freq 1.0
    r(4L) shouldBe 1.0
    val rep = TextFunctions.tokenRarity(docs.repartition(7))
      .select($"doc_id", $"mean_tok_freq").as[(Long, Double)].collect().toMap
    rep shouldBe r
  }

  test("cdc chunking: boundaries are content positions — insertion shifts no downstream chunk") {
    val base = (1 to 200).map(i => s"tok$i")
    val baseChunks = TextFunctions.cdcChunkHashes(base, maskBits = 4)
    // prepending tokens re-chunks only the prefix up to the first
    // boundary; every chunk after it is unchanged (the CDC property
    // that fixed windows lack)
    val shifted = TextFunctions.cdcChunkHashes(Seq("inserted", "tokens") ++ base, maskBits = 4)
    baseChunks.size should be > 4
    // every chunk after the first base boundary is byte-identical:
    // boundary status is per-token content, so the insertion only
    // reshapes the head chunk
    shifted.takeRight(baseChunks.size - 1) shouldBe baseChunks.takeRight(baseChunks.size - 1)
    // determinism + coverage: chunks reassemble the original token stream
    val mask = (1L << 4) - 1
    val nBoundaries = base.count(t => (Dedup.mix64(Dedup.fnv64(t)) & mask) == 0L)
    baseChunks.size shouldBe (nBoundaries + (if ((Dedup.mix64(Dedup.fnv64(base.last)) & mask) == 0L) 0 else 1))
  }

  test("cdc chunk dedup finds repeated chunks across docs, partition-invariant") {
    import spark.implicits._
    val two = Seq(
      (1L, (1 to 120).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 120).map(i => s"w$i").mkString(" ")), // exact dup → every chunk duplicated
      (3L, "unrelated words only here")
    ).toDF("doc_id", "text")
    val got = TextFunctions.cdcChunkDedup(two)
      .select($"chash", $"n", $"n_docs", $"keep_id").as[(Long, Long, Long, Long)].collect().toList
    got.nonEmpty shouldBe true
    all(got.map(_._2)) shouldBe 2L   // each duplicated chunk appears twice
    all(got.map(_._4)) shouldBe 1L   // kept doc is the lower id
    val rep = TextFunctions.cdcChunkDedup(two.repartition(5))
      .select($"chash", $"n", $"n_docs", $"keep_id").as[(Long, Long, Long, Long)].collect().toList
    rep shouldBe got
  }

  test("int8 quantization: constant vectors quantize exactly; error bounded by step size") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array.fill(8)(0.5f), 0),
      (2L, Array.tabulate(8)(i => (i - 4).toFloat / 8f), 1),
      (3L, Array.fill(8)(0f), 2) // all-zero: guarded scale, zero error
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.int8Quantize(vecs)
      .select($"vec_id", $"maxabs", $"code_sum", $"recon_err")
      .as[(Long, Double, Long, Double)].collect().sortBy(_._1)
    // constant 0.5 vector: code_k = floor(0.5*127/0.5) = 127 each;
    // dequantized exactly 0.5 → zero reconstruction error
    got(0)._2 shouldBe 0.5
    got(0)._3 shouldBe (1 to 8).map(_ * 127L).sum
    got(0)._4 shouldBe 0.0
    // error bound: per-dim |v - deq| < maxabs/127 → err < dim*(maxabs/127)^2
    val step = got(1)._2 / 127.0
    got(1)._4 should be < 8.0 * step * step
    got(2)._3 shouldBe 0L
    got(2)._4 shouldBe 0.0
  }

  test("bm25: hand-computed rational scores; rank by (score desc, token)") {
    import spark.implicits._
    // N=2 docs, T=7 tokens; df: aa->2, bb->1, cc->1
    val df = Seq(
      (0L, "aa aa bb"),   // dl=3
      (1L, "aa cc cc cc") // dl=4
    ).toDF("doc_id", "text")
    val got = TextFunctions.bm25Index(df)
      .as[(Long, Long, String, Long, Long, Double)].collect().toList
    // score = 22·tf·T·(2N−2df+1) / [(10·tf·T + 3T + 9·dl·N)·(2df+1)]
    val exp = List(
      (0L, 1L, "bb", 1L, 1L, (22.0 * 1 * 7 * 3) / ((70 + 21 + 54) * 3.0)),
      (0L, 2L, "aa", 2L, 2L, (22.0 * 2 * 7 * 1) / ((140 + 21 + 54) * 5.0)),
      (1L, 1L, "cc", 3L, 1L, (22.0 * 3 * 7 * 3) / ((210 + 21 + 72) * 3.0)),
      (1L, 2L, "aa", 1L, 2L, (22.0 * 1 * 7 * 1) / ((70 + 21 + 72) * 5.0)))
    got shouldBe exp
    TextFunctions.bm25Index(df.repartition(3))
      .as[(Long, Long, String, Long, Long, Double)].collect().toList shouldBe exp
  }

  test("source filter: whole sources drop on doc count or mean length, integer-exact") {
    import spark.implicits._
    val docs = (0 until 5).map(i => (i.toLong, "srcA", 300L)) ++   // keep
      (5 until 10).map(i => (i.toLong, "srcB", 100L)) ++           // mean < 290
      (10 until 12).map(i => (i.toLong, "srcC", 1000L))            // < 5 docs
    val df = docs.toDF("doc_id", "source", "n_chars")
    val kept = df.groupBy(col("source"))
      .agg(count(lit(1)).as("src_docs"), sum(col("n_chars")).as("src_chars"))
      .filter(col("src_docs") >= 5 && col("src_chars") >= col("src_docs") * 290)
    val got = df.join(broadcast(kept), Seq("source"))
      .select(col("doc_id")).as[Long].collect().sorted.toList
    got shouldBe (0L until 5L).toList
  }

  test("pps sampling: picks are the multiples of step on the cumulative weight line") {
    import spark.implicits._
    // W=20, k=4 -> step=5; picks at units 0,5,10,15 -> docs 1,2,2,3;
    // doc 4's interval [16,20) contains no multiple
    val df = Seq((1L, "en", 5L), (2L, "en", 10L), (3L, "en", 1L), (4L, "en", 4L))
      .toDF("doc_id", "lang", "n_chars")
    val got = TextFunctions.ppsSample(df, k = 4)
      .as[(String, Long, Long, Long, Long, Long)].collect().toList
    got shouldBe List(
      ("en", 1L, 5L, 0L, 0L, 1L),
      ("en", 2L, 10L, 5L, 1L, 2L),
      ("en", 3L, 1L, 15L, 3L, 1L))
    got.map(_._6).sum shouldBe 4L // total multiplicity = k exactly
    TextFunctions.ppsSample(df.repartition(3), k = 4)
      .as[(String, Long, Long, Long, Long, Long)].collect().toList shouldBe got
  }

  test("gopher rules: each rule fires independently; integer cross-multiplied ratios") {
    import spark.implicits._
    val longDoc = "the the the " + (1 to 57).map(i => f"t$i%03d").mkString(" ")
    val df = Seq(
      (0L, longDoc),                  // all four rules pass
      (1L, "aaaa bbbb cccc the the")  // too short + top token 2/5 > 20%
    ).toDF("doc_id", "text")
    val got = TextFunctions.gopherRules(df)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    // doc0: 60 tokens, chars 3·3+57·4=237, 3 stop hits, max_tf 3
    // doc1: 5 tokens, chars 12+6=18, 2 stop hits, max_tf 2 (5·2 > 5)
    got shouldBe List(
      (0L, 60L, 237L, 3L, 3L, 1L, 1L, 1L, 1L, 1L),
      (1L, 5L, 18L, 2L, 2L, 0L, 1L, 1L, 0L, 0L))
    TextFunctions.gopherRules(df.repartition(2))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList shouldBe got
  }

  test("leakage-safe split: a connected near-dup component never straddles splits") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Sampling.leakageSafeSplit(docs, pairs)
    val bySplit = got.select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    // every component member shares its component's split
    bySplit(1L) shouldBe bySplit(2L)
    bySplit(2L) shouldBe bySplit(3L)
    bySplit(5L) shouldBe bySplit(6L)
    // reps are the component minimum (and self for unpaired docs)
    got.select(col("doc_id"), col("rep")).as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L)
    // no pair crosses splits, by construction
    val splits = got.select(col("doc_id"), col("split"))
    pairs.join(splits.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .withColumnRenamed("split", "sa")
      .join(splits.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
      .filter(col("sa") =!= col("split")).count() shouldBe 0L
    Sampling.leakageSafeSplit(docs.repartition(3), pairs.repartition(2))
      .select(col("doc_id"), col("split")).as[(Long, String)]
      .collect().toMap shouldBe bySplit
  }

  test("upsert: delete drops, replace wins over base, delete+upsert collision keeps the upsert") {
    import spark.implicits._
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four"))
      .toDF("doc_id", "text")
    val ups = Seq((2L, "two-v2"), (9L, "nine"), (4L, "four-v2"))
      .toDF("doc_id", "text")
    val dels = Seq(Tuple1(3L), Tuple1(4L)).toDF("doc_id") // 4 also upserted
    val got = Snapshot.upsert(base, ups, dels)
      .orderBy(col("doc_id")).as[(Long, String)].collect().toList
    got shouldBe List((1L, "one"), (2L, "two-v2"), (4L, "four-v2"), (9L, "nine"))
    Snapshot.upsert(base.repartition(3), ups.repartition(2), dels)
      .orderBy(col("doc_id")).as[(Long, String)].collect().toList shouldBe got
  }

  test("bm25 search: hand-computed grid score; zero-score docs are pruned") {
    import spark.implicits._
    // terms=[a] (single term — exercises the arity-1 pruning predicate):
    // doc0 "a a b" dl=3 tf=2; doc1 "b c" dl=2 tf=0 (pruned: no term hit)
    // stats over ALL docs: T=5 N=2 df_a=1
    // w(doc0) = floor(22*2*5*3 / ((10*2*5 + 3*5 + 9*3*2)*(2*1+1)) * 1e4)
    //         = floor(660/507 * 1e4) = 13017
    val df = Seq((0L, "a a b"), (1L, "b c")).toDF("doc_id", "text")
    val got = TextFunctions.bm25Search(df, terms = Seq("a"), k = 20)
      .as[(Long, Long, Long, Double)].collect().toList
    got shouldBe List((0L, 3L, 2L, 13017.0 / 10000.0))
    TextFunctions.bm25Search(df.repartition(2), terms = Seq("a"), k = 20)
      .as[(Long, Long, Long, Double)].collect().toList shouldBe got
  }

  test("bm25 search: fewer matches than k returns only the matches (no zero pad)") {
    import spark.implicits._
    // terms=[a,q]: only doc0 contains any term; k=5 but result has 1 row.
    // doc0 "a b" dl=2 tf_a=1 tf_q=0; doc1 "b c" dl=2; doc2 "c d" dl=2
    // stats over ALL docs: T=6 N=3 df_a=1 df_q=0
    // w_a(doc0) = floor(22*1*6*(2*3-2*1+1) / ((10*1*6 + 3*6 + 9*2*3)*(2*1+1)) * 1e4)
    //           = floor(660/396 * 1e4) = 16666;  w_q(doc0) = 0
    val df = Seq((0L, "a b"), (1L, "b c"), (2L, "c d")).toDF("doc_id", "text")
    val got = TextFunctions.bm25Search(df, terms = Seq("a", "q"), k = 5)
      .as[(Long, Long, Long, Long, Double)].collect().toList
    got shouldBe List((0L, 2L, 1L, 0L, 16666.0 / 10000.0))
    TextFunctions.bm25Search(df.repartition(3), terms = Seq("a", "q"), k = 5)
      .as[(Long, Long, Long, Long, Double)].collect().toList shouldBe got
  }

  test("bigram surprise: grid-exact inverse conditional probability per doc") {
    import spark.implicits._
    // LM: c(a,b)=3 c(b,a)=1 c(b,c)=1; c(a·)=3 c(b·)=2
    // s(a,b)=3*1e4 div 3=10000; s(b,a)=s(b,c)=2*1e4 div 1=20000
    val df = Seq((0L, "a b a b c"), (1L, "a b")).toDF("doc_id", "text")
    val got = TextFunctions.bigramSurprise(df)
      .as[(Long, Long, Long, Double)].collect().toList
    got shouldBe List((0L, 4L, 60000L, 15000.0), (1L, 1L, 10000L, 10000.0))
    TextFunctions.bigramSurprise(df.repartition(3))
      .as[(Long, Long, Long, Double)].collect().toList shouldBe got
  }

  test("bigram LM: p(b|a) from exact counts; single-token docs contribute nothing") {
    import spark.implicits._
    // "a b a b c" -> (a,b),(b,a),(a,b),(b,c); "a b" -> (a,b); "z" -> none
    val df = Seq((0L, "a b a b c"), (1L, "a b"), (2L, "z"))
      .toDF("doc_id", "text")
    val got = TextFunctions.bigramLm(df, k = 10)
      .as[(String, String, Long, Long, Double)].collect().toList
    got shouldBe List(
      ("a", "b", 3L, 3L, 1.0),
      ("b", "a", 1L, 2L, 0.5),
      ("b", "c", 1L, 2L, 0.5))
    TextFunctions.bigramLm(df.repartition(3), k = 10)
      .as[(String, String, Long, Long, Double)].collect().toList shouldBe got
  }

  test("repetition metrics: hand-computed fractions, thresholds, short-doc zeros") {
    import spark.implicits._
    val df = Seq(
      // "a b a b a b": bigrams {ab×3, ba×2} -> top2 = 3/5;
      // trigrams {aba×2, bab×2} -> dup3 = 4/4
      (1L, "a b a b a b"),
      // 11 distinct tokens: top2 = 1/10 = 100000 <= 20%, dup3 = 0 -> keep
      (2L, "q w e r t y u i o p z"),
      // one token: no bigrams/trigrams -> both fractions 0, keep
      (3L, "solo")).toDF("doc_id", "text")
    val got = TextFunctions.repetitionMetrics(df)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList
    got shouldBe List(
      (1L, 6L, 600000L, 1000000L, 0L, 0L, 0L),
      (2L, 11L, 100000L, 0L, 1L, 1L, 1L),
      (3L, 1L, 0L, 0L, 1L, 1L, 1L))
    // partition-invariant
    TextFunctions.repetitionMetrics(df.repartition(5))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toList shouldBe got
  }

  test("content_hash64: native expression equals the Scala fold, null-safe, codegen'd") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.ContentHashExpression.register(spark)
    val vals = Seq("", "a", "hello world", "κλμ unicode", "line sort table")
    val df = vals.toDF("s")
      .select(col("s"), graft.functions.ContentHashExpression.contentHash64(col("s")).as("h"))
    df.collect().foreach { r =>
      r.getLong(1) shouldBe Dedup.mix64(Dedup.fnv64(r.getString(0)))
    }
    // null in, null out (nullIntolerant)
    Seq(Option.empty[String]).toDF("s")
      .select(graft.functions.ContentHashExpression.contentHash64(col("s")))
      .collect().head.isNullAt(0) shouldBe true
    // SQL-registry path resolves too
    spark.sql("SELECT content_hash64('abc')").head().getLong(0) shouldBe
      Dedup.mix64(Dedup.fnv64("abc"))
    // the whole projection stays inside generated code — no closure UDF
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("ScalaUDF") shouldBe false
  }

  test("word_shingles + minhash_bands: native expressions equal the Scala-closure reference, codegen'd") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.MinhashExpressions.register(spark)
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox the quick brown fox"), // duplicate shingles
      (3L, "κλμ ünïcode tokens κλμ ünïcode tokens κλμ"), // non-ASCII
      (4L, "one two"), // fewer tokens than n
      (5L, ""), // empty text
      (6L, "   a   b   c   d   "), // extra whitespace (empty tokens filtered)
      (7L, null.asInstanceOf[String])) // null text
    val df = texts.toDF("doc_id", "text")
    val n = 3; val numHashes = 64; val bands = 16; val r = numHashes / bands
    val got = df.select(col("doc_id"), Dedup.shingles(df, col("text"), n).as("sh"))
      .withColumn("bh", graft.functions.MinhashExpressions
        .minhashBands(col("sh"), numHashes, r))
      .as[(Long, Seq[String], Seq[Long])].collect().sortBy(_._1).toList
    // reference: the retired Scala closures, computed driver-side
    got.foreach { case (id, sh, bh) =>
      val text = texts.find(_._1 == id).get._2
      val toks = Option(text).map(_.split(" ").filter(_.nonEmpty).toSeq).orNull
      val refSh =
        if (toks == null || toks.length < n) Seq.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
      withClue(s"doc $id shingles:") { sh shouldBe refSh }
      val refBands = Dedup.bandHashes(
        Dedup.minhashSignature(refSh, numHashes).toSeq, r).map(_._2)
      withClue(s"doc $id bands:") { bh shouldBe refBands }
    }
    // the whole projection stays inside generated code — no closure UDF
    val plan = df.select(graft.functions.MinhashExpressions.minhashBands(
      Dedup.shingles(df, col("text"), n), numHashes, r))
      .queryExecution.executedPlan.toString
    plan.contains("ScalaUDF") shouldBe false
    // the full pair operator agrees with itself across partitionings
    // (the partition-invariance contract the oracle gate relies on)
    val p1 = Dedup.minhashLshPairs(df, n, numHashes, bands)
      .as[(Long, Long, Long)].collect().sorted.toList
    val p2 = Dedup.minhashLshPairs(df.repartition(5), n, numHashes, bands)
      .as[(Long, Long, Long)].collect().sorted.toList
    p2 shouldBe p1
  }

  test("graft.checkpointDir: dedup shared-stage materializations take the reliable-checkpoint path bit-identically") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} tok${i % 3} tok${i % 7} tok${i % 5} common text tail"))
      .toDF("doc_id", "text").withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
    val emb = (1L to 60L).map(i =>
      (i, (0 until 8).map(k => ((i % 5) + k * 0.25 + (i % 3) * 0.5).toFloat), i % 4))
      .toDF("vec_id", "embedding", "label")
    def pairRows() = Dedup.minhashLshPairs(docs, 3, 16, 4)
      .as[(Long, Long, Long)].collect().sorted.toList
    def semRows() = Dedup.semDedup(emb, 0.3, 8)
      .as[(Long, Long, Long)].collect().toList
    // the connected-components rounds at the distributed venue
    def groupRows() = {
      spark.conf.set("graft.dedup.maxDriverPairs", "0")
      try Dedup.dedupGroups(pairRows().toDF("id_a", "id_b", "n_bands"))
        .as[(Long, Long)].collect().sorted.toList
      finally spark.conf.unset("graft.dedup.maxDriverPairs")
    }
    def kmeansRows() = graft.pipeline.Similarity.distributedKMeans(emb, 4, 3)
      .as[(Long, Long)].collect().toList
    val basePairs = pairRows(); val baseSem = semRows()
    val baseGroups = groupRows(); val baseKmeans = kmeansRows()
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec").toString
    // checkpointed rdds written under the dir so far
    def rdds(): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .count(_.getFileName.toString.startsWith("rdd-"))
    }
    spark.conf.set("graft.checkpointDir", dir)
    try {
      // a deterministic banding input is never materialized
      pairRows() shouldBe basePairs
      rdds() shouldBe 0
      for ((rows, base) <- Seq((() => semRows(), baseSem), (() => groupRows(), baseGroups),
          (() => kmeansRows(), baseKmeans))) {
        val before = rdds()
        rows() shouldBe base
        rdds() should be > before
      }
    } finally {
      spark.conf.unset("graft.checkpointDir")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("dedupGroups: driver fast path == distributed CC loop (cap forced to 0)") {
    import spark.implicits._
    // chains, stars, singleton pairs and a long path — the shapes where
    // min-label + pointer-jumping round counts actually differ
    val rng = new scala.util.Random(17L)
    val pairs = ((1 to 120).map { _ =>
      val a = rng.nextInt(60).toLong; val b = rng.nextInt(60).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2) ++ (100L to 140L).map(i => (i, i + 1))).distinct
    val driver = Dedup.dedupGroups(pairs.toDF("id_a", "id_b")).as[(Long, Long)].collect()
    // every rep must be its component's minimum (fixpoint property)
    driver.foreach { case (_, rep) =>
      driver.find(_._1 == rep).map(_._2) shouldBe Some(rep) }
    val parquetDir = java.nio.file.Files.createTempDirectory("cc-venues").toString + "/p"
    pairs.toDF("id_a", "id_b").write.parquet(parquetDir)
    val inputs = Seq(
      "random" -> pairs.toDF("id_a", "id_b").localCheckpoint(),
      "duplicates" -> (pairs ++ pairs.take(30)).toDF("id_a", "id_b"),
      "empty" -> Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      "ids >= 2^31" -> pairs.map { case (a, b) => (a + 3000000000L, b + 3000000000L) }
        .toDF("id_a", "id_b"),
      "parquet" -> spark.read.parquet(parquetDir))
    for ((input, p) <- inputs) {
      val (d, s) = SparkTestSession.atBothVenues(SparkTestSession.outcome(Dedup.dedupGroups(p)))
      withClue(s"dedupGroups on $input, driver-vs-distributed:") { s shouldBe d }
    }
  }

  test("BPE: distributed merge rounds == driver rounds (maxDriverVocab forced to 0), ties + non-ASCII") {
    import spark.implicits._
    // engineered count ties (ab/ba both appear equally often) and
    // multibyte symbols, where tie-break order divergence would show
    val rows = Seq(
      (1L, "abab abab κλκλ baba"),
      (2L, "baba abab κλκλ κλκλ"),
      (3L, "ab ba κλ ab ba"),
      (4L, "aaa aaa aaa bbb"),
      (5L, "😀😀 😀😀 ab"))
    val parquetDir = java.nio.file.Files.createTempDirectory("bpe-venues").toString + "/d"
    rows.toDF("doc_id", "text").write.parquet(parquetDir)
    val inputs = Seq(
      "ties" -> rows.toDF("doc_id", "text"),
      "duplicates" -> (rows ++ rows.take(2)).toDF("doc_id", "text"),
      // no word at all: the rounds have nothing to merge
      "empty" -> Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text"),
      "ids >= 2^31" -> rows.map { case (id, t) => (id + 3000000000L, t) }.toDF("doc_id", "text"),
      "parquet" -> spark.read.parquet(parquetDir))
    for ((input, docs) <- inputs; (op, f) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "bpeTrain" -> (() => graft.pipeline.Bpe.bpeTrain(docs, 6)),
        "bpeSegment" -> (() => graft.pipeline.Bpe.bpeSegment(docs, 6)))) {
      val (d, s) = SparkTestSession.atBothVenues(SparkTestSession.outcome(f()))
      withClue(s"$op on $input, driver-vs-distributed:") { s shouldBe d }
    }
  }

  test("shingles resolve on the session that owns the documents, not the active one") {
    import spark.implicits._
    val other = spark.newSession()
    val docs = other.createDataFrame(Seq((1L, "a b c d e f g"), (2L, "a b c d e f h")))
      .toDF("doc_id", "text")
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    docs.filter(col("doc_id") === 1L).select(Dedup.shingles(docs, col("text"), 5))
      .as[Seq[String]].head() shouldBe Seq("a b c d e", "b c d e f", "c d e f g")
    Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
  }

  test("minhashLshPairs materializes a nondeterministic input once, a deterministic one never") {
    val logicalRdds = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r }.size
    val docs = spark.range(20).select(col("id").as("doc_id"),
      concat_ws(" ", lit("w"), (col("id") % 3).cast("string"), lit("x y z")).as("text"))
    logicalRdds(Dedup.minhashLshPairs(docs, 2, 8, 4)) shouldBe 0
    val random = docs.withColumn("text",
      concat_ws(" ", col("text"), (rand(7) * 3).cast("int").cast("string")))
    // both join sides read the one checkpoint of the banded documents
    logicalRdds(Dedup.minhashLshPairs(random, 2, 8, 4)) shouldBe 2
  }

  test("temperature mixture: isqrt weights, integer quotas, deterministic lowest-hash fill") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // groups: big 100 docs, mid 25, tiny 4 -> weights 10, 5, 2 (Σ=17)
    // budget 34 -> quotas 20, 10, 4: the tiny group keeps EVERYTHING
    // while the big group downsamples 5x — the α=1/2 rebalancing
    val docs = ((1 to 100).map(i => (i.toLong, "big", s"text big $i")) ++
      (1 to 25).map(i => (200L + i, "mid", s"text mid $i")) ++
      (1 to 4).map(i => (300L + i, "tiny", s"text tiny $i")))
      .toDF("doc_id", "lang", "text")
    val out = Sampling.temperatureMixture(docs, "lang", budget = 34L)
    val perGroup = out.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    perGroup shouldBe Map("big" -> 20L, "mid" -> 10L, "tiny" -> 4L)
    out.filter(col("pos") > col("quota")).count() shouldBe 0L
    // deterministic: same rows regardless of partitioning
    val a = out.select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.temperatureMixture(docs.repartition(7), "lang", budget = 34L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    b shouldBe a
  }

  test("temperature mixture: bounded TopK path matches the window formulation row-for-row, no Window in the plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 90%-one-language skew — the case the window formulation handles
    // with ONE task for 'xx' and the bounded TopK must match exactly
    val docs = (1 to 600).map { i =>
      (i.toLong, if (i % 10 < 9) "xx" else s"l${i % 3}", s"doc number $i payload")
    }.toDF("doc_id", "lang", "text")
    val topk = Sampling.temperatureMixture(docs, "lang", budget = 40L)
    val window = Sampling.temperatureMixtureViaWindow(docs, "lang", budget = 40L)
    val ta = topk.as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val wa = window.as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    ta shouldBe wa
    ta.nonEmpty shouldBe true
    // the production path must not contain a Window operator: no task
    // may sort or buffer a whole language
    topk.queryExecution.executedPlan.toString.contains("Window") shouldBe false
  }

  test("CSV interchange options round-trip hostile strings byte-exactly (q137's options)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // every classic CSV corruption vector: commas, double quotes,
    // embedded LF and CRLF, backslashes, leading zeros (type
    // inference bait — defeated by the explicit schema), leading/
    // trailing spaces, genuinely empty strings, and nulls
    val rows: Seq[(Long, String)] = Seq(
      1L -> "plain text",
      2L -> "comma, separated, values",
      3L -> "say \"hi\" to \"them\"",
      4L -> "line one\nline two",
      5L -> "crlf\r\nline",
      6L -> "back\\slash and \\\" combo",
      7L -> "007",
      8L -> "  leading and trailing  ",
      9L -> "",
      10L -> null,
      11L -> "quote\"comma,\nnewline mix",
      12L -> "controlchars")
    val df = rows.toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_hostile").toString
    df.coalesce(1).write.mode("overwrite")
      .options(graft.queries.TextPipeline.csvWriteOpts).csv(dir)
    val back = spark.read.schema("id LONG, text STRING")
      .options(graft.queries.TextPipeline.csvReadOpts).csv(dir)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    back shouldBe rows.sortBy(_._1)
  }

  test("BPE: hand-checked merge sequence, tie-breaks, and measured sym_count per round") {
    import spark.implicits._
    val corpus = Seq((1L, "banana banana apple"), (2L, "banana apple apple"))
      .toDF("doc_id", "text")
    val m = Bpe.bpeTrain(corpus, rounds = 3)
      .as[(Long, String, String, Long, Long)].collect().toList
    // banana×3: pairs (a,n):6 (n,a):6 (b,a):3; apple×3: (a,p)(p,p)(p,l)(l,e) each 3.
    // r1: count-6 tie (a,n)/(n,a) → left asc picks (a,n). r2: count-3 tie
    // → smallest left "a" picks (a,p). r3: smallest left "an", then
    // right asc "a" < "an" picks (an,a) — banana = [b an an a] merges
    // its SECOND an (greedy-left finds no ␟an␟␟a␟ at the first).
    m.map(r => (r._1, r._2, r._3, r._4)) shouldBe List(
      (1L, "a", "n", 6L), (2L, "a", "p", 3L), (3L, "an", "a", 3L))
    // initial symbols: 6·3 + 5·3 = 33; with no overlapping pairs here
    // each merge removes exactly cnt symbols (the [aaa] test below
    // pins the overlap case where it removes FEWER)
    m.map(_._5) shouldBe List(27L, 24L, 21L)
  }

  test("BPE: greedy-left run merging ([a a a] + (a,a) -> [aa a]) and partition invariance") {
    import spark.implicits._
    val runs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val m = Bpe.bpeTrain(runs, rounds = 2)
      .as[(Long, String, String, Long, Long)].collect().toList
    m.map(r => (r._1, r._2, r._3, r._4, r._5)) shouldBe List(
      (1L, "a", "a", 2L, 2L),   // [a a a] -> [aa a], NOT [a aa]
      (2L, "aa", "a", 1L, 1L))  // -> [aaa]
    val corpus = Seq((1L, "banana banana apple"), (2L, "banana apple apple"))
      .toDF("doc_id", "text")
    val base = Bpe.bpeTrain(corpus, rounds = 3)
      .as[(Long, String, String, Long, Long)].collect().toList
    Bpe.bpeTrain(corpus.repartition(7), rounds = 3)
      .as[(Long, String, String, Long, Long)].collect().toList shouldBe base
  }

  test("sourceCaps: blocklist dropped, cap enforced, small domains kept whole, partition-invariant") {
    import spark.implicits._
    // skewed: hot has 50 docs, cold has 2, bad is blocklisted
    val rows = (1L to 50L).map(i => (i, s"hot doc number $i", "hot")) ++
      Seq((101L, "cold one", "cold"), (102L, "cold two", "cold"),
        (201L, "evil", "bad"), (202L, "evil twin", "bad"))
    val df = rows.toDF("doc_id", "text", "source")
    val bl = Seq("bad").toDF("source")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.sourceCaps(d, "source", bl, cap = 5)
        .as[(Long, String, Long)].collect().toList
    val kept = run(df)
    kept.map(_._2).toSet shouldBe Set("hot", "cold")
    kept.count(_._2 == "hot") shouldBe 5
    kept.filter(_._2 == "cold").map(_._1).toSet shouldBe Set(101L, 102L)
    kept.map(_._3).foreach(_ should be <= 5L)
    run(df.repartition(13)) shouldBe kept
  }

  test("countMin: estimates never undercount, collapse to exact at wide width, collide at width 2") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta beta gamma"), (2L, "alpha delta epsilon beta"),
      (3L, "zeta eta theta alpha alpha")).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame, w: Int) =
      TextFunctions.countMinEstimates(d, width = w, depth = 4, probes = 10)
        .as[(String, Long, Long, Long)].collect().toList
    val wide = run(df, 4096)
    // the guarantee: est >= exact always; at width 4096 with 8 distinct
    // tokens, collisions across ALL 4 depths are absent and est == exact
    wide.foreach { case (_, exact, est, over) =>
      est should be >= exact
      over shouldBe est - exact
    }
    wide.foreach { case (_, exact, est, _) => est shouldBe exact }
    wide.find(_._1 == "alpha").get._2 shouldBe 4L
    // width 2: every depth has 2 buckets over 8 tokens — collisions
    // certain, estimates still never BELOW exact
    run(df, 2).foreach { case (_, exact, est, _) => est should be >= exact }
    // partition invariance (the sketch is linear: cells are plain sums)
    run(df.repartition(5), 4096) shouldBe wide
  }

  test("collocations: hand-computed integer PMI odds, support cut, partition-invariant") {
    import spark.implicits._
    // "new york" appears 5x (the only pair clearing support 5);
    // "of the" appears 6x but its unigrams are everywhere -> low odds
    val rows = (1L to 5L).map(i => (i, "new york of the")) ++
      Seq((6L, "of the of coast the of")) // extra of/the bulk
    val df = rows.toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextFunctions.collocations(d, minSupport = 5L, k = 10)
        .as[(String, String, Long, Long, Long, Long)].collect().toList
    val got = run(df)
    // token stream: 5·4 + 6 = 26 tokens; new=5 york=5 of=8 the=7 coast=1
    // pairs with support >= 5: (new,york)=5, (york,of)=5, (of,the)=6
    val byPair = got.map(r => (r._1, r._2) -> r).toMap
    byPair(("new", "york"))._6 shouldBe (5L * 26L * 10000L) / (5L * 5L)   // 52000
    byPair(("york", "of"))._6 shouldBe (5L * 26L * 10000L) / (5L * 8L)    // 32500
    byPair(("of", "the"))._6 shouldBe (6L * 26L * 10000L) / (8L * 7L)     // 27857
    got.map(r => (r._1, r._2)) shouldBe List(("new", "york"), ("york", "of"), ("of", "the"))
    run(df.repartition(7)) shouldBe got
  }

  test("dsirSelect: target-vocabulary documents outrank off-target ones; partition-invariant") {
    import spark.implicits._
    // target = source 'tgt'; doc 10 reuses the target's vocabulary,
    // doc 11 shares none of it
    val rows = Seq(
      (1L, "alpha beta gamma alpha beta", "en", "tgt"),
      (2L, "alpha gamma gamma beta", "en", "tgt"),
      (10L, "alpha beta alpha gamma", "en", "raw"),
      (11L, "delta epsilon zeta eta theta", "en", "raw"))
    val df = rows.toDF("doc_id", "text", "lang", "source")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextFunctions.dsirSelect(d, targetCond = col("source") === "tgt", k = 4)
        .as[(Long, Long, String, String, Long)].collect().toList
    val sel = run(df)
    sel.map(_._2) should contain allOf (10L, 11L)
    val byDoc = sel.map(r => r._2 -> (r._1, r._5)).toMap
    byDoc(10L)._2 should be > byDoc(11L)._2   // score
    byDoc(10L)._1 should be < byDoc(11L)._1   // rank
    run(df.repartition(9)) shouldBe sel
  }

  test("RAG chunking: overlap window semantics, full coverage, partition invariance") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 65).map(i => s"t$i").mkString(" ")), // 65 toks -> 2 chunks at C=64,O=16
      (2L, (1 to 64).map(i => s"t$i").mkString(" ")), // exactly one chunk
      (3L, "a b c"),                                  // short -> one short chunk
      (4L, "")                                        // empty -> one empty chunk
    ).toDF("doc_id", "text")
    val out = TextFunctions.ragChunks(df, chunkToks = 64, overlap = 16)
      .as[(Long, Long, Long, String)].collect().toList
    out.count(_._1 == 1L) shouldBe 2
    out.count(_._1 == 2L) shouldBe 1
    val c1 = out.filter(_._1 == 1L).sortBy(_._2)
    c1(0)._4 shouldBe (1 to 64).map(i => s"t$i").mkString(" ")   // [0,64)
    c1(1)._4 shouldBe (49 to 65).map(i => s"t$i").mkString(" ")  // starts at stride=48
    c1(1)._3 shouldBe 17L
    out.filter(_._1 == 3L).head._4 shouldBe "a b c"
    out.filter(_._1 == 4L).head._3 shouldBe 0L
    // every token position lands in >= 1 chunk (coverage)
    val covered = c1.flatMap { case (_, cid, n, _) =>
      (cid * 48 until cid * 48 + n).map(_.toInt) }.toSet
    covered shouldBe (0 until 65).toSet
    TextFunctions.ragChunks(df.repartition(5), 64, 16)
      .as[(Long, Long, Long, String)].collect().toList shouldBe out
  }

  test("SQ8 quantization: cell-center error bound, near-exact recall, partition invariance") {
    import spark.implicits._
    // pure-kernel bound: |recon - x| <= (hi-lo)/512 for in-range x,
    // over a seeded sweep including the endpoints and a degenerate range
    val rnd = new scala.util.Random(7)
    (0 until 2000).foreach { _ =>
      val lo = rnd.nextDouble() * 10 - 5
      val hi = lo + rnd.nextDouble() * 10
      val x = lo + rnd.nextDouble() * (hi - lo)
      val r = Similarity.sq8ReconElem(x, lo, hi)
      math.abs(r - x) should be <= (hi - lo) / 512.0 + 1e-12
    }
    Similarity.sq8ReconElem(3.25, 3.25, 3.25) shouldBe 3.25 // degenerate range
    val emb = graft.queries.QueryDsl.t(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 10, 5)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._3).toSet).toMap
    val sq = Similarity.sq8TopK(emb, col("vec_id") < 10, 5)
      .as[(Long, Long, Long)].collect()
    val sqBy = sq.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // 8 bits/dim is near-exact: mean top-5 overlap vs brute force stays high
    val overlaps = exact.keys.toSeq.map(q => (sqBy(q) intersect exact(q)).size.toDouble / 5)
    (overlaps.sum / overlaps.size) should be >= 0.8
    // partition invariance
    Similarity.sq8TopK(emb.repartition(9), col("vec_id") < 10, 5)
      .as[(Long, Long, Long)].collect().toSeq shouldBe sq.toSeq
    // IVF-SQ8 with exhaustive probing scores every vector through the
    // same dequantized form — structurally identical to flat SQ8
    Similarity.ivfSq8TopK(emb, col("vec_id") < 10, 5,
        nClusters = 8, nProbe = 8)
      .as[(Long, Long, Long)].collect().toSeq shouldBe sq.toSeq
    // and is partition-invariant at a partial probe
    val ivfsq = Similarity.ivfSq8TopK(emb, col("vec_id") < 10, 5,
      nClusters = 8, nProbe = 2).as[(Long, Long, Long)].collect().toSeq
    Similarity.ivfSq8TopK(emb.repartition(7), col("vec_id") < 10, 5,
        nClusters = 8, nProbe = 2)
      .as[(Long, Long, Long)].collect().toSeq shouldBe ivfsq
    // incremental extension: codes depend only on (x, range), so
    // same-ranges append equals the whole-corpus encode slice-for-slice
    val (mns, mxs) = Similarity.sq8FitRanges(emb)
    def codes(df: org.apache.spark.sql.DataFrame) =
      Similarity.sq8Encode(df, mns, mxs).as[(Long, Array[Byte])]
        .collect().sortBy(_._1).map { case (id, c) => (id, c.toSeq) }.toSeq
    val whole = codes(emb)
    val pieced = codes(emb.filter($"vec_id" < 100)) ++
      codes(emb.filter($"vec_id" >= 100))
    pieced.sortBy(_._1) shouldBe whole
  }

  test("IVF/IVF-PQ index persistence: serve-from-store is bit-identical, frozen-artifact append is exact") {
    import spark.implicits._
    val emb = graft.queries.QueryDsl.t(spark, "/root/testdata/sf0.001", "embeddings")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    val queries = emb.filter($"vec_id" < 10)

    // --- IVF: build -> write (index + centroids) -> reload -> serve
    val centers = Similarity.ivfFitCenters(emb)
    val fresh = Similarity.ivfServe(
      Similarity.ivfEncode(emb, centers), centers, queries, k = 5)
      .as[(Long, Long, Long)].collect().toSeq
    Similarity.writeCenters(spark, centers, s"$tmp/ivf_centroids")
    Similarity.ivfEncode(emb, centers).write.parquet(s"$tmp/ivf_index")
    val loadedCenters = Similarity.readCenters(spark, s"$tmp/ivf_centroids")
    loadedCenters.map(_.toSeq).toSeq shouldBe centers.map(_.toSeq).toSeq // exact double round trip
    Similarity.ivfServe(spark.read.parquet(s"$tmp/ivf_index"),
        loadedCenters, queries, k = 5)
      .as[(Long, Long, Long)].collect().toSeq shouldBe fresh
    // frozen-centroid append: assignment depends only on (v, centers),
    // so encoding a later slice separately equals the whole-corpus
    // encode slice-for-slice
    def ivfRows(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfEncode(df, centers).as[(Long, Int, Array[Double])]
        .collect().map { case (id, c, nv) => (id, c, nv.toSeq) }.toSeq
    (ivfRows(emb.filter($"vec_id" < 100)) ++ ivfRows(emb.filter($"vec_id" >= 100)))
      .sortBy(_._1) shouldBe ivfRows(emb).sortBy(_._1)

    // --- IVF-PQ: build -> write (index + centroids + codebooks) -> reload -> serve
    val (pqCenters, books) = Similarity.ivfPqFit(emb, nClusters = 8,
      m = 4, dim = 64, codes = 16, seed = 42L, maxFitSample = 65536)
    val pqFresh = Similarity.ivfPqServe(
      Similarity.ivfPqEncode(emb, pqCenters, books), pqCenters, books,
      queries, k = 5).as[(Long, Long, Long)].collect().toSeq
    Similarity.writeCenters(spark, pqCenters, s"$tmp/pq_centroids")
    Similarity.writeCodebooks(spark, books, s"$tmp/pq_codebooks")
    Similarity.ivfPqEncode(emb, pqCenters, books).write.parquet(s"$tmp/pq_index")
    val loadedBooks = Similarity.readCodebooks(spark, s"$tmp/pq_codebooks")
    loadedBooks.map(_.map(_.toSeq).toSeq).toSeq shouldBe
      books.map(_.map(_.toSeq).toSeq).toSeq
    Similarity.ivfPqServe(spark.read.parquet(s"$tmp/pq_index"),
        Similarity.readCenters(spark, s"$tmp/pq_centroids"), loadedBooks,
        queries, k = 5)
      .as[(Long, Long, Long)].collect().toSeq shouldBe pqFresh
    // frozen-codebook append
    def pqRows(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqEncode(df, pqCenters, books).as[(Long, Int, Seq[Long])]
        .collect().toSeq
    (pqRows(emb.filter($"vec_id" < 100)) ++ pqRows(emb.filter($"vec_id" >= 100)))
      .sortBy(_._1) shouldBe pqRows(emb).sortBy(_._1)
    // the reloaded serve also still matches the one-call operator
    Similarity.ivfPqTopK(emb, $"vec_id" < 10, k = 5)
      .as[(Long, Long, Long)].collect().toSeq shouldBe pqFresh
    // the production rerank config (q155's recipe) also serves from
    // the store bit-identically — the exact-refine stage reads its
    // true vectors from the passed corpus, not the code index
    Similarity.ivfPqServe(spark.read.parquet(s"$tmp/pq_index"),
        Similarity.readCenters(spark, s"$tmp/pq_centroids"), loadedBooks,
        queries, k = 5, rerank = 50, exactCorpus = Some(emb))
      .as[(Long, Long, Long)].collect().toSeq shouldBe
      Similarity.ivfPqTopK(emb, $"vec_id" < 10, k = 5, rerank = 50)
        .as[(Long, Long, Long)].collect().toSeq

    // --- IVF-SQ8: build -> write (index + centroids + ranges) -> reload -> serve
    val (mns, mxs) = Similarity.sq8FitRanges(emb)
    val sqCenters = Similarity.ivfFitCenters(emb)
    val sqFresh = Similarity.ivfSq8Serve(
      Similarity.ivfSq8Encode(emb, sqCenters, mns, mxs), sqCenters, mns, mxs,
      queries, k = 5).as[(Long, Long, Long)].collect().toSeq
    Similarity.writeCenters(spark, sqCenters, s"$tmp/sq_centroids")
    Similarity.writeRanges(spark, mns, mxs, s"$tmp/sq_ranges")
    Similarity.ivfSq8Encode(emb, sqCenters, mns, mxs).write.parquet(s"$tmp/sq_index")
    val (lmns, lmxs) = Similarity.readRanges(spark, s"$tmp/sq_ranges")
    lmns.toSeq shouldBe mns.toSeq
    lmxs.toSeq shouldBe mxs.toSeq
    Similarity.ivfSq8Serve(spark.read.parquet(s"$tmp/sq_index"),
        Similarity.readCenters(spark, s"$tmp/sq_centroids"), lmns, lmxs,
        queries, k = 5)
      .as[(Long, Long, Long)].collect().toSeq shouldBe sqFresh
    // frozen centers+ranges append
    def sqRows(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSq8Encode(df, sqCenters, mns, mxs)
        .as[(Long, Int, Array[Byte])]
        .collect().map { case (id, c, b) => (id, c, b.toSeq) }.toSeq
    (sqRows(emb.filter($"vec_id" < 100)) ++ sqRows(emb.filter($"vec_id" >= 100)))
      .sortBy(_._1) shouldBe sqRows(emb).sortBy(_._1)
    // and the one-call operator is unchanged by the encode/serve split
    Similarity.ivfSq8TopK(emb, $"vec_id" < 10, k = 5)
      .as[(Long, Long, Long)].collect().toSeq shouldBe sqFresh
  }

  test("quality classifier: deterministic fit, monotone loss, learned rule, partition-invariant scoring") {
    import spark.implicits._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val m1 = QualityClassifier.fit(real)
    val m2 = QualityClassifier.fit(real.repartition(7))
    // bit-deterministic fit: the inlined-oracle property
    m1.wGrid.toSeq shouldBe m2.wGrid.toSeq
    m1.wLen shouldBe m2.wLen
    m1.wDist shouldBe m2.wDist
    m1.wRatio shouldBe m2.wRatio
    m1.bias shouldBe m2.bias
    m1.trace.toSeq shouldBe m2.trace.toSeq
    // full-batch adagrad descends: sampled trace non-increasing, real drop
    val sampled = m1.trace.indices.by(100).map(m1.trace)
    sampled.sliding(2).foreach { case Seq(a, b) => b should be <= a }
    m1.trace.last should be < m1.trace.head * 0.8
    // the distilled rule is actually learned (linear ceiling ~0.82 here)
    m1.accuracy should be >= 0.70
    // scoring matches a hand-computed grid margin for one doc
    val scored = QualityClassifier.score(real, m1)
    val r = scored.filter($"doc_id" === 0L)
      .select($"n_toks", $"n_dist", $"margin_grid", $"pred", $"label")
      .as[(Long, Long, Long, Long, Long)].head()
    val (nt, nd) = (r._1, r._2)
    val engineered = math.floor(m1.bias * 10000.0).toLong +
      math.floor(m1.wLen * (nt / 100.0) * 10000.0).toLong +
      math.floor(m1.wDist * (nd / 100.0) * 10000.0).toLong +
      math.floor(m1.wRatio * ((3 * nd - nt) / 100.0) * 10000.0).toLong
    // hashed part recomputed from the raw text through the same bucketer
    val text = real.filter($"doc_id" === 0L).select($"text").as[String].head()
    val buckets = text.split(" ").filter(_.nonEmpty)
      .map(t => java.lang.Math.floorMod(Dedup.mix64(Dedup.fnv64(t)), m1.nFeatures.toLong).toInt)
      .distinct
    val expected = engineered + buckets.map(m1.wGrid(_)).sum
    r._3 shouldBe expected
    (r._4 > 0L) shouldBe (r._3 > 0L)
    // scoring is partition-invariant
    QualityClassifier.score(real.repartition(13), m1).collect().toSeq shouldBe
      scored.collect().toSeq
    // loud contract: nFeatures must be a power of two
    an[IllegalArgumentException] should be thrownBy
      QualityClassifier.fit(real, nFeatures = 100)
    // model artifact lifecycle: write -> read round-trips every field
    // bit-for-bit, and scoring from the loaded artifact is identical
    val mDir = java.nio.file.Files.createTempDirectory("graft_qc_model")
      .toString + "/model"
    QualityClassifier.writeModel(spark, m1, mDir)
    val loaded = QualityClassifier.readModel(spark, mDir)
    loaded.wGrid.toSeq shouldBe m1.wGrid.toSeq
    loaded.wLen shouldBe m1.wLen
    loaded.wDist shouldBe m1.wDist
    loaded.wRatio shouldBe m1.wRatio
    loaded.bias shouldBe m1.bias
    loaded.nFeatures shouldBe m1.nFeatures
    loaded.minToks shouldBe m1.minToks
    loaded.trace.toSeq shouldBe m1.trace.toSeq
    loaded.accuracy shouldBe m1.accuracy
    QualityClassifier.score(real, loaded).collect().toSeq shouldBe
      scored.collect().toSeq
    // artifact validation: a stale/truncated/foreign parquet fails
    // loudly instead of scoring garbage
    val badBase = java.nio.file.Files.createTempDirectory("graft_qc_bad").toString
    // (a) missing column — some other table handed to the scorer
    real.limit(1).write.parquet(badBase + "/foreign")
    val eMissing = intercept[IllegalArgumentException] {
      QualityClassifier.readModel(spark, badBase + "/foreign")
    }
    eMissing.getMessage should include("missing column")
    // (b) weight vector shorter than n_features — truncated artifact
    Seq((m1.wGrid.take(10).toSeq, m1.wLen, m1.wDist, m1.wRatio, m1.bias,
        m1.nFeatures, m1.minToks, m1.trace.toSeq, m1.accuracy))
      .toDF("w_grid", "w_len", "w_dist", "w_ratio", "bias",
        "n_features", "min_toks", "trace", "accuracy")
      .write.parquet(badBase + "/truncated")
    val eTrunc = intercept[IllegalArgumentException] {
      QualityClassifier.readModel(spark, badBase + "/truncated")
    }
    eTrunc.getMessage should include("truncated")
    // (c) more than one row — concatenated/corrupt store
    QualityClassifier.writeModel(spark, m1, badBase + "/dup")
    Seq((m1.wGrid.toSeq, m1.wLen, m1.wDist, m1.wRatio, m1.bias,
        m1.nFeatures, m1.minToks, m1.trace.toSeq, m1.accuracy))
      .toDF("w_grid", "w_len", "w_dist", "w_ratio", "bias",
        "n_features", "min_toks", "trace", "accuracy")
      .write.mode("append").parquet(badBase + "/dup")
    val eDup = intercept[IllegalArgumentException] {
      QualityClassifier.readModel(spark, badBase + "/dup")
    }
    eDup.getMessage should include("expected exactly 1")
    // (d) non-power-of-two n_features — foreign/corrupt metadata
    Seq((Seq.fill(100)(0L), m1.wLen, m1.wDist, m1.wRatio, m1.bias,
        100, m1.minToks, m1.trace.toSeq, m1.accuracy))
      .toDF("w_grid", "w_len", "w_dist", "w_ratio", "bias",
        "n_features", "min_toks", "trace", "accuracy")
      .write.parquet(badBase + "/npow2")
    val ePow = intercept[IllegalArgumentException] {
      QualityClassifier.readModel(spark, badBase + "/npow2")
    }
    ePow.getMessage should include("power of two")
  }
}
