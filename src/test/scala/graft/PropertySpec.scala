package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.PixelCodec
import graft.streaming.EventStreams

/** Property-based checks for the pure deterministic cores — the
  * invariants the oracle gate relies on, exercised over generated
  * inputs instead of fixtures. Raw ScalaCheck (`Test.check`) rather
  * than the scalatest bridge, which is not a declared dependency.
  */
class PropertySpec extends AnyFunSuite with Matchers {

  private def check(name: String, p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), p)
    withClue(s"$name: $res\n") { res.passed shouldBe true }
  }

  test("pixel codecs round-trip every integral value in range") {
    val cases = Seq(
      PixelCodec.Bool -> Gen.choose(0, 1),
      PixelCodec.Byte8 -> Gen.choose(0, 255),
      PixelCodec.Short16 -> Gen.choose(0, 65535),
      PixelCodec.Int32 -> Gen.choose(Int.MinValue, Int.MaxValue),
      PixelCodec.Float32 -> Gen.choose(-(1 << 24), 1 << 24), // exact in f32
      PixelCodec.Double64 -> Gen.choose(Int.MinValue, Int.MaxValue),
      PixelCodec.Long64 -> Gen.choose(Int.MinValue, Int.MaxValue))
    cases.foreach { case (tpe, genV) =>
      check(s"codec $tpe", Prop.forAll(Gen.listOf(genV.map(_.toDouble))) { vs =>
        val px = vs.toArray
        PixelCodec.decode(PixelCodec.encode(px, tpe), tpe, px.length).sameElements(px)
      })
    }
  }

  test("native shingle/minhash kernels equal the Scala folds on generated token arrays") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.{LongType, StringType}
    val genTok = Gen.oneOf(
      Gen.choose(0, 6).map(i => s"w$i"),            // collisions across docs
      Gen.const("κλμ"), Gen.const("ünïcode"),        // non-ASCII (UTF-8 multibyte)
      Gen.const("😀"),                     // surrogate pair
      Gen.alphaNumStr.map(_.take(8)))
    val genToks = Gen.listOf(genTok)
    val genN = Gen.choose(1, 4)
    check("shingle-kernel", Prop.forAll(genToks, genN) { (toks, n) =>
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t): AnyRef).toArray)
      val got = graft.functions.MinhashUtil.shingles(arr, n)
        .toArray[UTF8String](StringType).map(_.toString).toSeq
      val ref =
        if (toks.length < n) Seq.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
      got == ref
    })
    check("minhash-band-kernel", Prop.forAll(genToks, Gen.oneOf(4, 16, 64),
        Gen.oneOf(1, 2, 4)) { (sh, numHashes, r) =>
      val arr = new GenericArrayData(
        sh.map(t => UTF8String.fromString(t): AnyRef).toArray)
      val got = graft.functions.MinhashUtil.minhashBands(arr, numHashes, r)
        .toArray[Long](LongType).toSeq
      val ref = graft.pipeline.Dedup.bandHashes(
        graft.pipeline.Dedup.minhashSignature(sh, numHashes).toSeq, r).map(_._2)
      got == ref
    })
    // null token array == empty shingle set (the UDF guard's contract)
    graft.functions.MinhashUtil.shingles(null, 3).numElements() shouldBe 0
    graft.functions.MinhashUtil.minhashBands(null, 16, 4)
      .toArray[Long](LongType).toSeq shouldBe
      graft.pipeline.Dedup.bandHashes(
        graft.pipeline.Dedup.minhashSignature(Seq.empty, 16).toSeq, 4).map(_._2)
  }

  test("Misra–Gries guarantee holds under any reduce/merge split tree") {
    val genStream = Gen.listOf(Gen.choose(0, 9).map(i => s"t$i"))
    val genK = Gen.choose(2, 8)
    val genSeed = Gen.choose(0L, Long.MaxValue)
    check("mg-guarantee", Prop.forAll(genStream, genK, genSeed) { (toks, k, seed) =>
      val agg = new graft.functions.MisraGriesAggregator(k)
      // random split tree: partition the stream into chunks, reduce
      // each, then merge left-to-right (what Spark's partial/final
      // aggregation does under arbitrary partitioning)
      val rng = new scala.util.Random(seed)
      val chunks = if (toks.isEmpty) Seq(Seq.empty[String])
        else toks.grouped(math.max(1, rng.nextInt(toks.length) + 1)).toSeq
      val merged = chunks.map(c => c.foldLeft(agg.zero)(agg.reduce))
        .reduce(agg.merge)
      val out = agg.finish(merged).toSet
      val n = toks.length
      val exact = toks.groupBy(identity).view.mapValues(_.length)
      exact.forall { case (t, c) => c * (k + 1) <= n || out.contains(t) }
    })
  }

  test("event-time session merge: order-invariant, gap-separated, counts preserved") {
    val genEvents = Gen.listOf(Gen.zip(Gen.choose(0L, 5000L), Gen.const(1.0)))
    val genGap = Gen.choose(1L, 1000L)
    val genSeed = Gen.choose(0L, Long.MaxValue)
    check("session-merge", Prop.forAll(genEvents, genGap, genSeed) { (evs, gap, seed) =>
      val rng = new scala.util.Random(seed)
      val oneShot = EventStreams.mergeSessions(Nil, 1L, evs, gap)
      // arbitrary batch split + per-batch shuffle must produce the
      // same open-session state
      val (b1, b2) = rng.shuffle(evs).splitAt(if (evs.isEmpty) 0 else rng.nextInt(evs.length))
      val twoStep = EventStreams.mergeSessions(
        EventStreams.mergeSessions(Nil, 1L, b1, gap), 1L, b2, gap)
      val sameState = twoStep == oneShot
      val gapSeparated = oneShot.sliding(2).forall {
        case Seq(a, b) => b.start_ms > a.last_ms + gap
        case _ => true
      }
      val countsOk = oneShot.map(_.n_events).sum == evs.length
      val boundsOk = oneShot.forall(s => s.start_ms <= s.last_ms)
      sameState && gapSeparated && countsOk && boundsOk
    })
  }

  test("funnel fold: batch-split invariant on ts-ordered streams, hits strictly ordered") {
    val genEvent = for {
      tp <- Gen.oneOf("view", "click", "purchase", "noise")
      ts <- Gen.choose(0L, 50L)
    } yield EventStreams.FunnelIn(1L, tp, ts)
    val genStream = Gen.listOf(genEvent).map(_.sortBy(_.ts_ms))
    // split points: how the ts-ordered stream is carved into batches
    val genCuts = Gen.listOf(Gen.choose(0, 40))
    val stages = Seq("view", "click", "purchase")
    check("funnel-split-invariance", Prop.forAll(genStream, genCuts) { (stream, cuts) =>
      val whole = EventStreams.funnelFold(
        EventStreams.FunnelProgress(0, Long.MinValue), stages, 1L, stream)
      val bounds = (cuts.map(c => math.min(c, stream.length)) :+ stream.length)
        .sorted.distinct
      val batches = (0 +: bounds).zip(bounds).map { case (a, b) => stream.slice(a, b) }
      var prog = EventStreams.FunnelProgress(0, Long.MinValue)
      val hits = batches.flatMap { b =>
        val (p2, h) = EventStreams.funnelFold(prog, stages, 1L, b)
        prog = p2
        h
      }
      val ordered = hits.sliding(2).forall {
        case Seq(a, b) => b.stage == a.stage + 1 && b.ts_ms > a.ts_ms
        case _ => true
      }
      hits == whole._2 && prog == whole._1 && ordered && hits.length <= stages.length
    })
  }

  test("top-k aggregator equals sorted take-k under any split tree") {
    val genXs = Gen.listOf(Gen.zip(Gen.choose(-100, 100).map(_ / 7.0), Gen.choose(0L, 50L)))
    val genK = Gen.choose(1, 8)
    val genSeed = Gen.choose(0L, Long.MaxValue)
    check("topk", Prop.forAll(genXs, genK, genSeed) { (xs, k, seed) =>
      val agg = new graft.functions.TopKAggregator(k)
      val rng = new scala.util.Random(seed)
      val chunks = if (xs.isEmpty) Seq(Seq.empty[(Double, Long)])
        else rng.shuffle(xs).grouped(math.max(1, rng.nextInt(xs.length) + 1)).toSeq
      val got = agg.finish(chunks.map(c => c.foldLeft(agg.zero)(agg.reduce)).reduce(agg.merge))
      // multiset-aware reference: duplicates of the same (score, id)
      // pair are kept by the aggregator too
      val expected = xs.sortBy { case (s, id) => (-s, id) }.take(k)
      got == expected
    })
  }

  test("noise kernel: dyadic offsets bounded by ±(186/32)·σ, deterministic, content-seeded") {
    import graft.core.Kernels
    val genFill = Gen.choose(0, 5000).map(_.toDouble)
    val genDims = for {
      w <- Gen.choose(1, 24); h <- Gen.choose(1, 24)
    } yield (w, h)
    check("noise-bounds", Prop.forAll(genFill, genDims) { case (f, (w, h)) =>
      val img = Kernels.constantImage(w, h, 1, f, PixelCodec.Float32)
      val noisy = Kernels.run(img, "Add Noise")
      val px = noisy.toDoubles
      val bound = 186.0 / 32.0 * 25.0 // max |Irwin–Hall sum − 186| / 32 · σ
      val bounded = px.zip(img.toDoubles).forall { case (v, o) =>
        math.abs(v - o) <= bound &&
          (v * 32.0) == math.rint(v * 32.0) // dyadic: 5 fractional bits survive Float32
      }
      // deterministic per content; different fill → different seed path
      val again = Kernels.run(img, "Add Noise")
      bounded && java.util.Arrays.equals(noisy.data, again.data)
    })
  }

  test("CC labeling equals brute-force flood fill on random bitmaps") {
    import graft.core.Kernels
    import scala.collection.mutable
    // 8-connected flood fill, components emitted in raster order of
    // their first pixel — the same deterministic numbering contract as
    // analyzeParticles' union-find renumbering
    def floodComponents(bits: Array[Boolean], w: Int, h: Int): Seq[Seq[Int]] = {
      val seen = new Array[Boolean](bits.length)
      val comps = Seq.newBuilder[Seq[Int]]
      var start = 0
      while (start < bits.length) {
        if (bits(start) && !seen(start)) {
          val stack = mutable.Stack(start); seen(start) = true
          val comp = mutable.ArrayBuffer[Int]()
          while (stack.nonEmpty) {
            val p = stack.pop(); comp += p
            val x = p % w; val y = p / w
            var dy = -1
            while (dy <= 1) {
              var dx = -1
              while (dx <= 1) {
                val nx = x + dx; val ny = y + dy
                if ((dx != 0 || dy != 0) && nx >= 0 && nx < w && ny >= 0 && ny < h) {
                  val q = ny * w + nx
                  if (bits(q) && !seen(q)) { seen(q) = true; stack.push(q) }
                }
                dx += 1
              }
              dy += 1
            }
          }
          comps += comp.toSeq.sorted // raster order, like the kernel's scan
        }
        start += 1
      }
      comps.result()
    }
    val genCase = for {
      w <- Gen.choose(1, 16); h <- Gen.choose(1, 16)
      density <- Gen.choose(5, 95); seed <- Gen.choose(0L, Long.MaxValue)
    } yield (w, h, density, seed)
    check("cc-floodfill", Prop.forAll(genCase) { case (w, h, density, seed) =>
      val rng = new scala.util.Random(seed)
      val bits = Array.fill(w * h)(rng.nextInt(100) < density)
      val img = graft.core.SparkImage(graft.core.ImageMeta(), "[]", w, h, 1,
        PixelCodec.Float32,
        PixelCodec.encode(bits.map(b => if (b) 1.0 else 0.0), PixelCodec.Float32))
      val got = Kernels.analyzeParticles(img).rows
      val expected = floodComponents(bits, w, h)
      got.length == expected.length && got.zip(expected).forall { case (row, comp) =>
        // header: Slice Area Mean Min Max X Y Perim. BX BY Width Height
        val xs = comp.map(_ % w); val ys = comp.map(_ / w)
        var sx = 0.0; var sy = 0.0
        comp.foreach { p => sx += p % w + 0.5; sy += p / w + 0.5 }
        var perim = 0.0
        comp.foreach { p =>
          val x = p % w; val y = p / w
          if (x == 0 || !bits(y * w + x - 1)) perim += 1
          if (x == w - 1 || !bits(y * w + x + 1)) perim += 1
          if (y == 0 || !bits((y - 1) * w + x)) perim += 1
          if (y == h - 1 || !bits((y + 1) * w + x)) perim += 1
        }
        row(0) == 1.0 && row(1) == comp.length.toDouble &&
          row(2) == 1.0 && row(3) == 1.0 && row(4) == 1.0 &&
          row(5) == sx / comp.length && row(6) == sy / comp.length &&
          row(7) == perim &&
          row(8) == xs.min.toDouble && row(9) == ys.min.toDouble &&
          row(10) == (xs.max - xs.min + 1).toDouble &&
          row(11) == (ys.max - ys.min + 1).toDouble
      }
    })
  }

  test("Z-order interleave: bit-exact round trip, joint monotonicity, range guard") {
    import graft.functions.ZOrderUtil
    def compact(v0: Long): Long = {
      var v = v0 & 0x5555555555555555L
      v = (v | (v >> 1)) & 0x3333333333333333L
      v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
      v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
      v = (v | (v >> 16)) & 0x00000000FFFFFFFFL
      v
    }
    val genCoord = Gen.choose(0L, 0x7FFFFFFFL)
    check("zorder-roundtrip", Prop.forAll(genCoord, genCoord) { (x, y) =>
      val z = ZOrderUtil.interleave(x, y)
      z >= 0 && compact(z) == x && compact(z >> 1) == y
    })
    check("zorder-monotone", Prop.forAll(genCoord, genCoord, genCoord, genCoord) {
      (x1, y1, dx, dy) =>
        val x2 = math.min(0x7FFFFFFFL, x1 + dx % 1024)
        val y2 = math.min(0x7FFFFFFFL, y1 + dy % 1024)
        ZOrderUtil.interleave(x1, y1) <= ZOrderUtil.interleave(x2, y2)
    })
    check("zorder-guard", Prop.forAll(genCoord) { x =>
      Prop.throws(classOf[IllegalArgumentException])(ZOrderUtil.interleave(-1L, x)) &&
      Prop.throws(classOf[IllegalArgumentException])(ZOrderUtil.interleave(x, 0x80000000L))
    })
  }

  test("gram aggregator: any split tree equals the direct double loop") {
    val genVecs = Gen.listOf(Gen.listOfN(4, Gen.choose(-64, 64).map(_ / 8.0f)))
    val genSeed = Gen.choose(0L, Long.MaxValue)
    check("gram", Prop.forAll(genVecs, genSeed) { (vs, seed) =>
      val agg = new graft.functions.GramAggregator(4)
      val rng = new scala.util.Random(seed)
      val chunks = if (vs.isEmpty) Seq(Seq.empty[List[Float]])
        else rng.shuffle(vs).grouped(math.max(1, rng.nextInt(vs.length) + 1)).toSeq
      val got = chunks.map(c => c.foldLeft(agg.zero)((b, v) => agg.reduce(b, v)))
        .reduce(agg.merge).toSeq
      val d = 4
      val expected = (for { i <- 0 until d; j <- i until d } yield
        vs.map(v => math.floor(v(i).toDouble * v(j).toDouble * 10000.0).toLong).sum).toSeq
      got == expected
    })
  }

  test("DICOM codec: encode/decode round-trips any 16-bit slice, instance, geometry, and transfer syntax") {
    import graft.core.{ImageLog, ImageMeta, SparkImage}
    import graft.sources.ImageCodecIO
    val genCase = for {
      w <- Gen.choose(1, 48)
      h <- Gen.choose(1, 32)
      slices <- Gen.choose(1, 4)
      s <- Gen.choose(0, slices - 1)
      inst <- Gen.choose(1, 999)
      ts <- Gen.oneOf(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
        ImageCodecIO.TsExplicitBE, ImageCodecIO.TsRle, ImageCodecIO.TsJpegLossless,
        ImageCodecIO.TsJpegLossless14, ImageCodecIO.TsJpegLs,
        ImageCodecIO.TsJpeg2000Lossless)
      px <- Gen.listOfN(w * h * slices, Gen.choose(0, 65535).map(_.toDouble))
    } yield (w, h, slices, s, inst, ts, px.toArray)
    check("dicom-roundtrip", Prop.forAll(genCase) { case (w, h, slices, s, inst, ts, px) =>
      val img = SparkImage(ImageMeta(), ImageLog.create("gen", ""), w, h, slices,
        PixelCodec.Short16, PixelCodec.encode(px, PixelCodec.Short16))
      val bytes = ImageCodecIO.encodeDicom(img, instance = inst, slice = s,
        transferSyntax = ts)
      val (dec, gotInst) = ImageCodecIO.decodeDicomWithInstance("gen.dcm", bytes)
      val want = px.slice(s * w * h, (s + 1) * w * h)
      gotInst == inst && dec.width == w && dec.height == h && dec.slices == 1 &&
        dec.pixelType == PixelCodec.Short16 && dec.toDoubles.sameElements(want)
    })
  }

  test("DICOM multi-fragment frames: BOT-grouped reassembly equals the one-fragment decode") {
    import graft.core.{ImageLog, ImageMeta, SparkImage}
    import graft.sources.ImageCodecIO
    val genCase = for {
      w <- Gen.choose(1, 24)
      h <- Gen.choose(1, 16)
      frames <- Gen.choose(2, 4)
      ts <- Gen.oneOf(ImageCodecIO.TsJpegLossless, ImageCodecIO.TsJpegLossless14,
        ImageCodecIO.TsJpegLs, ImageCodecIO.TsJpeg2000Lossless)
      fragBytes <- Gen.oneOf(16, 64, 202)
      px <- Gen.listOfN(w * h * frames, Gen.choose(0, 65535).map(_.toDouble))
    } yield (w, h, frames, ts, fragBytes, px.toArray)
    check("dicom-multifrag", Prop.forAll(genCase) { case (w, h, frames, ts, fragBytes, px) =>
      val img = SparkImage(ImageMeta(), ImageLog.create("gen", ""), w, h, frames,
        PixelCodec.Short16, PixelCodec.encode(px, PixelCodec.Short16))
      val whole = ImageCodecIO.encodeDicom(img, frames = frames, transferSyntax = ts)
      val split = ImageCodecIO.encodeDicom(img, frames = frames, transferSyntax = ts,
        fragmentBytes = fragBytes)
      val (d1, _) = ImageCodecIO.decodeDicomWithInstance("whole.dcm", whole)
      val (d2, _) = ImageCodecIO.decodeDicomWithInstance("split.dcm", split)
      d2.slices == frames && d2.toDoubles.sameElements(px) &&
        d2.toDoubles.sameElements(d1.toDoubles)
    })
    // RLE frames may not span fragments (PS3.5 Annex G) — both the
    // writer knob and a hand-built multi-fragment RLE file reject
    val img = SparkImage(ImageMeta(), ImageLog.create("gen", ""), 8, 4, 2,
      PixelCodec.Short16, PixelCodec.encode(Array.fill(64)(7.0), PixelCodec.Short16))
    an[IllegalArgumentException] should be thrownBy
      ImageCodecIO.encodeDicom(img, frames = 2, transferSyntax = ImageCodecIO.TsRle,
        fragmentBytes = 64)
  }

  test("DICOM YBR color: round-trip error <= 2 per channel; 422 exact on chroma-constant pairs") {
    import graft.core.{ImageLog, ImageMeta, SparkImage}
    import graft.sources.ImageCodecIO
    val genCase = for {
      w <- Gen.choose(1, 12).map(_ * 2) // even for the 422 variant
      h <- Gen.choose(1, 12)
      planar <- Gen.oneOf(0, 1)
      ts <- Gen.oneOf(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
        ImageCodecIO.TsExplicitBE, ImageCodecIO.TsRle)
      px <- Gen.listOfN(w * h * 3, Gen.choose(0, 255))
    } yield (w, h, planar, ts, px.map(_.toByte).toArray)
    check("dicom-ybr-full", Prop.forAll(genCase) { case (w, h, planar, ts, data) =>
      val img = SparkImage(ImageMeta(), ImageLog.create("gen", ""), w, h, 1,
        PixelCodec.Rgb, data)
      val bytes = ImageCodecIO.encodeDicom(img, transferSyntax = ts,
        planarConfig = if (ts == ImageCodecIO.TsRle) 0 else planar,
        photometric = "YBR_FULL")
      val (dec, _) = ImageCodecIO.decodeDicomWithInstance("ybr.dcm", bytes)
      dec.pixelType == PixelCodec.Rgb &&
        dec.data.zip(data).forall { case (a, b) =>
          math.abs((a & 0xff) - (b & 0xff)) <= 2
        }
    })
    // 422 drops the second pixel's chroma — with pair-constant pixels
    // the subsample is information-free, so the round trip hits the
    // same values as YBR_FULL on the equivalent image
    val genPair = for {
      w <- Gen.choose(1, 12).map(_ * 2)
      h <- Gen.choose(1, 12)
      ts <- Gen.oneOf(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
        ImageCodecIO.TsExplicitBE)
      base <- Gen.listOfN(w * h / 2 * 3, Gen.choose(0, 255))
    } yield (w, h, ts, base.map(_.toByte).toArray)
    check("dicom-ybr-422", Prop.forAll(genPair) { case (w, h, ts, base) =>
      val data = new Array[Byte](w * h * 3)
      var j = 0
      while (j < w * h) { // duplicate each pair's first pixel
        val src = (j / 2) * 3
        data(3 * j) = base(src); data(3 * j + 1) = base(src + 1)
        data(3 * j + 2) = base(src + 2)
        j += 1
      }
      val img = SparkImage(ImageMeta(), ImageLog.create("gen", ""), w, h, 1,
        PixelCodec.Rgb, data)
      val full = ImageCodecIO.decodeDicomWithInstance("f.dcm",
        ImageCodecIO.encodeDicom(img, transferSyntax = ts,
          photometric = "YBR_FULL"))._1
      val sub = ImageCodecIO.decodeDicomWithInstance("s.dcm",
        ImageCodecIO.encodeDicom(img, transferSyntax = ts,
          photometric = "YBR_FULL_422"))._1
      sub.data.sameElements(full.data)
    })
  }

  test("DICOM MONOCHROME1 and signed+rescale: exact round trips; lossy color bounded") {
    import graft.core.{ImageLog, ImageMeta, SparkImage}
    import graft.sources.ImageCodecIO
    // MONOCHROME1: inversion into intensity semantics is its own
    // inverse — any 16-bit content round-trips exactly on every
    // lossless syntax
    val genM1 = for {
      w <- Gen.choose(1, 24); h <- Gen.choose(1, 16)
      ts <- Gen.oneOf(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
        ImageCodecIO.TsExplicitBE, ImageCodecIO.TsRle, ImageCodecIO.TsJpegLossless,
        ImageCodecIO.TsJpegLossless14, ImageCodecIO.TsJpegLs,
        ImageCodecIO.TsJpeg2000Lossless)
      px <- Gen.listOfN(w * h, Gen.choose(0, 65535).map(_.toDouble))
    } yield (w, h, ts, px.toArray)
    check("dicom-mono1", Prop.forAll(genM1) { case (w, h, ts, px) =>
      val img = SparkImage(ImageMeta(), ImageLog.create("gen", ""), w, h, 1,
        PixelCodec.Short16, PixelCodec.encode(px, PixelCodec.Short16))
      val (dec, _) = ImageCodecIO.decodeDicomWithInstance("m1.dcm",
        ImageCodecIO.encodeDicom(img, transferSyntax = ts, photometric = "MONOCHROME1"))
      dec.pixelType == PixelCodec.Short16 && dec.toDoubles.sameElements(px)
    })
    // signed + modality LUT: stored values chosen on the grid (real =
    // slope·stored + intercept), so the round trip is EXACT including
    // negative stored values through every native byte order
    val genHu = for {
      w <- Gen.choose(1, 24); h <- Gen.choose(1, 16)
      ts <- Gen.oneOf(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
        ImageCodecIO.TsExplicitBE)
      slope <- Gen.oneOf(1.0, 2.0, 0.5)
      inter <- Gen.oneOf(0.0, -1024.0, 100.0)
      stored <- Gen.listOfN(w * h, Gen.choose(-32768, 32767))
    } yield (w, h, ts, slope, inter, stored.toArray)
    check("dicom-signed-rescale", Prop.forAll(genHu) { case (w, h, ts, slope, inter, stored) =>
      val real = stored.map(s => slope * s + inter)
      val img = SparkImage(ImageMeta(), ImageLog.create("gen", ""), w, h, 1,
        PixelCodec.Float32, PixelCodec.encode(real, PixelCodec.Float32))
      val (dec, _) = ImageCodecIO.decodeDicomWithInstance("hu.dcm",
        ImageCodecIO.encodeDicom(img, transferSyntax = ts, pixelRep = 1,
          rescale = Some((slope, inter))))
      dec.pixelType == PixelCodec.Float32 && dec.toDoubles.sameElements(real)
    })
    // color JPEG Baseline (.50): frame-constant fills survive the
    // JFIF encode/decode within a tight bound (DC-only blocks)
    val genC = for {
      w <- Gen.choose(1, 12).map(_ * 2); h <- Gen.choose(1, 12)
      r <- Gen.choose(20, 235); g <- Gen.choose(20, 235); b <- Gen.choose(20, 235)
    } yield (w, h, r, g, b)
    check("dicom-color50", Prop.forAll(genC) { case (w, h, r, g, b) =>
      val data = Array.tabulate(w * h * 3)(i =>
        (Seq(r, g, b)(i % 3)).toByte)
      val img = SparkImage(ImageMeta(), ImageLog.create("gen", ""), w, h, 1,
        PixelCodec.Rgb, data)
      val (dec, _) = ImageCodecIO.decodeDicomWithInstance("c50.dcm",
        ImageCodecIO.encodeDicom(img, transferSyntax = ImageCodecIO.TsJpegBaseline,
          photometric = "YBR_FULL_422"))
      dec.pixelType == PixelCodec.Rgb && dec.width == w && dec.height == h &&
        dec.data.zip(data).forall { case (a, e) =>
          math.abs((a & 0xff) - (e & 0xff)) <= 4
        }
    })
    // MONOCHROME1 composed with signed + modality LUT (inverted CT):
    // stored values on the grid, reflected across the SIGNED range
    // (endpoint sum −1) — reflection commutes with the affine LUT, so
    // the round trip is exact including negative stored values
    val genM1s = for {
      w <- Gen.choose(1, 24); h <- Gen.choose(1, 16)
      ts <- Gen.oneOf(ImageCodecIO.TsImplicitLE, ImageCodecIO.TsExplicitLE,
        ImageCodecIO.TsExplicitBE)
      slope <- Gen.oneOf(1.0, 2.0, 0.5)
      inter <- Gen.oneOf(0.0, -1024.0, 100.0)
      // reflected stored value −1−s must stay in the signed range
      stored <- Gen.listOfN(w * h, Gen.choose(-32767, 32767))
    } yield (w, h, ts, slope, inter, stored.toArray)
    check("dicom-mono1-signed-rescale", Prop.forAll(genM1s) {
      case (w, h, ts, slope, inter, stored) =>
        val real = stored.map(s => slope * s + inter)
        val img = SparkImage(ImageMeta(), ImageLog.create("gen", ""), w, h, 1,
          PixelCodec.Float32, PixelCodec.encode(real, PixelCodec.Float32))
        val (dec, _) = ImageCodecIO.decodeDicomWithInstance("m1s.dcm",
          ImageCodecIO.encodeDicom(img, transferSyntax = ts, pixelRep = 1,
            photometric = "MONOCHROME1", rescale = Some((slope, inter))))
        dec.pixelType == PixelCodec.Float32 && dec.toDoubles.sameElements(real)
    })
    // the ill-defined combinations reject loudly
    val img = SparkImage(ImageMeta(), ImageLog.create("gen", ""), 4, 4, 1,
      PixelCodec.Short16, PixelCodec.encode(Array.fill(16)(9.0), PixelCodec.Short16))
    an[IllegalArgumentException] should be thrownBy
      ImageCodecIO.encodeDicom(img, transferSyntax = ImageCodecIO.TsRle, pixelRep = 1)
    an[IllegalArgumentException] should be thrownBy
      ImageCodecIO.encodeDicom(img, transferSyntax = ImageCodecIO.TsJpegBaseline,
        photometric = "MONOCHROME1")
  }

  test("DICOM header walk: agrees with the full decode on every written shape, and rejects what it rejects") {
    import graft.core.{ImageLog, ImageMeta, SparkImage}
    import graft.sources.ImageCodecIO._
    def gray(w: Int, h: Int, frames: Int, px: Seq[Double], tpe: String = PixelCodec.Short16) =
      SparkImage(ImageMeta(), ImageLog.create("gen", ""), w, h, frames, tpe,
        PixelCodec.encode(px.toArray, tpe))
    def rgb(w: Int, h: Int, frames: Int, px: Seq[Int]) =
      SparkImage(ImageMeta(), ImageLog.create("gen", ""), w, h, frames, PixelCodec.Rgb,
        px.map(_.toByte).toArray)
    val allSyntaxes = Seq(TsImplicitLE, TsExplicitLE, TsExplicitBE, TsRle, TsJpegLossless,
      TsJpegLossless14, TsJpegBaseline, TsJpegExtended, TsJpegLs, TsJpegLsNear,
      TsJpeg2000Lossless, TsJpeg2000)
    val native = Seq(TsImplicitLE, TsExplicitLE, TsExplicitBE)
    val lossless = native ++ Seq(TsRle, TsJpegLossless, TsJpegLossless14, TsJpegLs,
      TsJpeg2000Lossless)
    val geometry = for {
      w <- Gen.choose(1, 12); h <- Gen.choose(1, 10); frames <- Gen.choose(1, 3)
      inst <- Gen.choose(1, 999)
    } yield (w, h, frames, inst)
    // (syntax written, bytes) per shape; every syntax, multi-frame files included
    val shapes: Seq[(String, Gen[(String, Array[Byte])])] = Seq(
      "grayscale" -> (for {
        (w, h, frames, inst) <- geometry; ts <- Gen.oneOf(allSyntaxes)
        px <- Gen.listOfN(w * h * frames, Gen.choose(0, 255).map(_.toDouble))
      } yield ts -> encodeDicom(gray(w, h, frames, px), instance = inst,
        transferSyntax = ts, frames = frames)),
      "multi-fragment" -> (for {
        (w, h, frames, inst) <- geometry
        ts <- Gen.oneOf(TsJpegLossless, TsJpegLossless14, TsJpegLs, TsJpeg2000Lossless)
        fragBytes <- Gen.oneOf(16, 64)
        px <- Gen.listOfN(w * h * frames, Gen.choose(0, 65535).map(_.toDouble))
      } yield ts -> encodeDicom(gray(w, h, frames, px), instance = inst,
        transferSyntax = ts, frames = frames, fragmentBytes = fragBytes)),
      "RGB and YBR_FULL, planar 0 and 1" -> (for {
        (w, h, frames, inst) <- geometry; ts <- Gen.oneOf(native :+ TsRle)
        pm <- Gen.oneOf("RGB", "YBR_FULL"); planar <- Gen.oneOf(0, 1)
        px <- Gen.listOfN(w * h * frames * 3, Gen.choose(0, 255))
      } yield ts -> encodeDicom(rgb(w, h, frames, px), instance = inst, transferSyntax = ts,
        frames = frames, planarConfig = planar, photometric = pm)),
      "encapsulated color" -> (for {
        (w, h, frames, inst) <- geometry
        (ts, pm) <- Gen.oneOf((TsJpegBaseline, "YBR_FULL_422"), (TsJpegLs, "RGB"),
          (TsJpegLsNear, "YBR_FULL"), (TsJpeg2000Lossless, "YBR_RCT"), (TsJpeg2000Lossless, "RGB"))
        px <- Gen.listOfN(w * h * frames * 3, Gen.choose(0, 255))
      } yield ts -> encodeDicom(rgb(w, h, frames, px), instance = inst, transferSyntax = ts,
        frames = frames, photometric = pm)),
      "YBR_FULL_422" -> (for {
        (w, h, frames, inst) <- geometry; ts <- Gen.oneOf(native)
        px <- Gen.listOfN(w * h * frames * 3, Gen.choose(0, 255))
      } yield ts -> encodeDicom(rgb(w, h, frames, px), instance = inst, transferSyntax = ts,
        frames = frames, photometric = "YBR_FULL_422")),
      "palette" -> (for {
        (w, h, frames, inst) <- geometry; ts <- Gen.oneOf(lossless)
        px <- Gen.listOfN(w * h * frames, Gen.choose(0, 300).map(_.toDouble))
      } yield ts -> encodeDicom(gray(w, h, frames, px), instance = inst, transferSyntax = ts,
        frames = frames, palette = Some((Array.tabulate(256)(_ * 257),
          Array.tabulate(256)(i => (255 - i) * 257), Array.fill(256)(7 << 8), 4)))),
      "MONOCHROME1" -> (for {
        (w, h, frames, inst) <- geometry; ts <- Gen.oneOf(lossless)
        px <- Gen.listOfN(w * h * frames, Gen.choose(0, 65535).map(_.toDouble))
      } yield ts -> encodeDicom(gray(w, h, frames, px), instance = inst, transferSyntax = ts,
        frames = frames, photometric = "MONOCHROME1")),
      "signed with rescale" -> (for {
        (w, h, frames, inst) <- geometry; ts <- Gen.oneOf(native)
        pm <- Gen.oneOf("MONOCHROME1", "MONOCHROME2")
        stored <- Gen.listOfN(w * h * frames, Gen.choose(-32767, 32767))
      } yield ts -> encodeDicom(gray(w, h, frames, stored.map(_ * 2.0 - 1024),
        PixelCodec.Float32), instance = inst, transferSyntax = ts, frames = frames,
        photometric = pm, pixelRep = 1, rescale = Some((2.0, -1024.0)))))
    shapes.foreach { case (shape, gen) =>
      check(s"dicom-header $shape", Prop.forAll(gen) { case (ts, bytes) =>
        val hdr = dicomHeader("h.dcm", bytes)
        val (img, inst) = decodeDicomWithInstance("h.dcm", bytes)
        hdr.ts == ts && (hdr.ts, hdr.cols, hdr.rows, hdr.frames, hdr.instance) ==
          ((dicomTransferSyntax("h.dcm", bytes), img.width, img.height, img.slices, inst))
      })
    }

    // rejects: valid explicit-VR little-endian files with one element
    // changed (null removes it), walked independently of the codec
    def withElement(bytes: Array[Byte], group: Int, elem: Int, value: Array[Byte]): Array[Byte] = {
      def u16(p: Int) = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
      var p = 132
      var out: Array[Byte] = null
      while (out == null) {
        val (g, e) = (u16(p), u16(p + 2))
        require(!(g == 0x7fe0 && e == 0x0010), f"no ($group%04x,$elem%04x) before PixelData")
        val vr = new String(bytes.slice(p + 4, p + 6), "US-ASCII")
        val long = Set("OB", "OW", "OF", "SQ", "UT", "UN")(vr)
        val (hdr, len) = if (long) (12, java.nio.ByteBuffer.wrap(bytes, p + 8, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt) else (8, u16(p + 6))
        if (g == group && e == elem) {
          val element =
            if (value == null) Array.emptyByteArray
            else if (long) bytes.slice(p, p + 8) ++ java.nio.ByteBuffer.allocate(4)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(value.length).array() ++ value
            else bytes.slice(p, p + 6) ++ Array(value.length.toByte, (value.length >> 8).toByte) ++ value
          out = bytes.take(p) ++ element ++ bytes.drop(p + hdr + len)
        }
        p += hdr + len
      }
      out
    }
    def us(v: Int*) = v.flatMap(x => Seq(x.toByte, (x >> 8).toByte)).toArray
    def text(s: String, pad: Char = ' ') =
      (if (s.length % 2 == 0) s else s + pad).getBytes("US-ASCII")
    def uid(s: String) = text(s, '\u0000')
    val g4 = gray(4, 4, 1, Seq.fill(16)(9.0))
    val mono = encodeDicom(g4)
    val multi = encodeDicom(gray(4, 4, 2, Seq.fill(32)(9.0)), frames = 2)
    val color = encodeDicom(rgb(4, 4, 1, Seq.fill(48)(9)))
    val ybr422 = encodeDicom(rgb(4, 4, 1, Seq.fill(48)(9)), photometric = "YBR_FULL_422")
    val palette = encodeDicom(g4, palette = Some((Array.fill(16)(1), Array.fill(16)(2),
      Array.fill(16)(3), 0)))
    val mono1 = encodeDicom(g4, photometric = "MONOCHROME1")
    val hu = encodeDicom(gray(4, 4, 1, Seq.fill(16)(-1000.0), PixelCodec.Float32),
      pixelRep = 1, rescale = Some((1.0, -1024.0)))
    val rle = encodeDicom(g4, transferSyntax = TsRle)
    val baseline = encodeDicom(g4, transferSyntax = TsJpegBaseline)
    val jpegLossless = encodeDicom(g4, transferSyntax = TsJpegLossless)
    def pixelTag(bytes: Array[Byte]) =
      bytes.indices.find(i => i >= 132 && bytes.slice(i, i + 4).sameElements(us(0x7fe0, 0x0010))).get
    val rejects: Seq[(String, Array[Byte])] = Seq(
      "not DICOM" -> Array.fill[Byte](200)(7),
      "no TransferSyntaxUID" -> withElement(mono, 0x0002, 0x0010, null),
      "unsupported syntax" -> withElement(mono, 0x0002, 0x0010, uid("1.2.840.10008.1.2.4.100")),
      "zero rows" -> withElement(mono, 0x0028, 0x0010, us(0)),
      "BitsAllocated 12" -> withElement(mono, 0x0028, 0x0100, us(12)),
      "NumberOfFrames 0" -> withElement(multi, 0x0028, 0x0008, text("0")),
      "PixelRepresentation 2" -> withElement(mono, 0x0028, 0x0103, us(2)),
      "signed color" -> withElement(color, 0x0028, 0x0103, us(1)),
      "signed RLE" -> withElement(rle, 0x0028, 0x0103, us(1)),
      "SamplesPerPixel 2" -> withElement(mono, 0x0028, 0x0002, us(2)),
      "grayscale photometric" -> withElement(mono, 0x0028, 0x0004, text("HSV")),
      "color photometric" -> withElement(color, 0x0028, 0x0004, text("HSV")),
      "16-bit color" -> withElement(color, 0x0028, 0x0100, us(16)),
      "rescaled color" -> Seq[Array[Byte] => Array[Byte]](
        withElement(_, 0x0028, 0x0103, us(0)), withElement(_, 0x0028, 0x0002, us(3)),
        withElement(_, 0x0028, 0x0004, text("RGB")), withElement(_, 0x0028, 0x0100, us(8)))
        .foldLeft(hu)((b, f) => f(b)),
      "color in JPEG Lossless" -> withElement(color, 0x0002, 0x0010, uid(TsJpegLossless)),
      "PlanarConfiguration 2" -> withElement(color, 0x0028, 0x0006, us(2)),
      "planar YBR_FULL_422" -> withElement(ybr422, 0x0028, 0x0006, us(1)),
      "RLE YBR_FULL_422" -> withElement(ybr422, 0x0002, 0x0010, uid(TsRle)),
      "signed palette" -> withElement(palette, 0x0028, 0x0103, us(1)),
      "palette without blue data" -> withElement(palette, 0x0028, 0x1203, null),
      "palette in lossy syntax" -> withElement(palette, 0x0002, 0x0010, uid(TsJpegBaseline)),
      "palette LUT bits 12" -> withElement(palette, 0x0028, 0x1101, us(16, 0, 12)),
      "short palette LUT" -> withElement(palette, 0x0028, 0x1202, us(0)),
      "palette descriptor of 2 values" -> withElement(palette, 0x0028, 0x1102, us(16, 0)),
      "MONOCHROME1 BitsStored 17" -> withElement(mono1, 0x0028, 0x0101, us(17)),
      "unparseable RescaleSlope" -> withElement(hu, 0x0028, 0x1053, text("abc")),
      "16-bit JPEG Baseline" -> withElement(baseline, 0x0028, 0x0100, us(16)),
      "8-bit JPEG Lossless" -> withElement(jpegLossless, 0x0028, 0x0100, us(8)),
      "element past the end" -> mono.take(pixelTag(mono) - 1),
      "no PixelData" -> mono.take(pixelTag(mono)))
    rejects.foreach { case (name, bytes) =>
      withClue(s"$name: ") {
        val byDecode = intercept[IllegalArgumentException](decodeDicomWithInstance("bad.dcm", bytes))
        val byHeader = intercept[IllegalArgumentException](dicomHeader("bad.dcm", bytes))
        byHeader.getMessage shouldBe byDecode.getMessage
        byHeader.getMessage should include("bad.dcm")
      }
    }
  }

  test("JPEG 2000 codec: lossless round trip across geometry, precision, levels, code-block size") {
    import graft.sources.Jpeg2000Codec
    val genCase = for {
      w <- Gen.choose(1, 70)
      h <- Gen.choose(1, 70)
      bits <- Gen.oneOf(1, 8, 12, 16)
      levels <- Gen.choose(0, 3)
      cbx <- Gen.choose(2, 6)
      cby <- Gen.choose(2, math.min(6, 12 - 2)) // keep cbx+cby <= 12
      px <- Gen.listOfN(w * h, Gen.choose(0, (1 << bits) - 1))
    } yield (w, h, bits, levels, math.min(cbx, 12 - cby), cby, px.toArray)
    check("jpeg2000-roundtrip", Prop.forAll(genCase) { case (w, h, bits, levels, cbx, cby, px) =>
      val bytes = Jpeg2000Codec.encode(px, w, h, bits, levels, cbx, cby)
      val (gw, gh, gbits, out) = Jpeg2000Codec.decode(bytes, "gen.j2k")
      gw == w && gh == h && gbits == bits && out.sameElements(px)
    })
  }

  test("Aho–Corasick counts equal naive leftmost non-overlapping scanning, bordered patterns included") {
    import graft.functions.AhoCorasick
    // mix of border-free and self-overlapping (bordered) patterns:
    // "aa" (border "a"), "abab" (border "ab"), "aba" (border "a")
    val patterns = Seq("ab", "abc", "bca", "cb", "aabb", "aa", "abab", "aba")
    val ac = AhoCorasick.build(patterns)
    // the replace()-equivalent greedy walk: take the leftmost match,
    // resume scanning after its end
    def naive(text: String): Array[Long] =
      patterns.map { p =>
        var n = 0L; var from = 0
        var i = text.indexOf(p, from)
        while (i >= 0) { n += 1; from = i + p.length; i = text.indexOf(p, from) }
        n
      }.toArray
    val genText = Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    check("aho-corasick", Prop.forAll(genText) { text =>
      ac.countMatches(text).sameElements(naive(text))
    })
    // pinned overlap cases: non-overlapping counting, not all-occurrence
    val pin = AhoCorasick.build(Seq("aa", "abab", "a a"))
    assert(pin.countMatches("aaaa").toSeq == Seq(2L, 0L, 0L))   // not 3
    assert(pin.countMatches("ababab").toSeq == Seq(0L, 1L, 0L)) // not 2
    assert(pin.countMatches("a a a").toSeq == Seq(0L, 0L, 1L))  // not 2
  }

  test("JPEG 2000 codec: multi-code-block subbands, flat and extreme images, degenerate shapes") {
    import graft.sources.Jpeg2000Codec
    val rnd = new scala.util.Random(7)
    // 160x96 at 2 levels: level-1 subbands are 80x48 -> 2x1 code-block
    // grids at 64x64, so inclusion/zbp tag trees are non-trivial
    for ((w, h, lv) <- Seq((160, 96, 2), (129, 65, 1), (256, 8, 3), (1, 64, 2), (64, 1, 2))) {
      val px = Array.fill(w * h)(rnd.nextInt(65536))
      val enc = Jpeg2000Codec.encode(px, w, h, 16, lv)
      val (gw, gh, gb, out) = Jpeg2000Codec.decode(enc, "big.j2k")
      assert(gw == w && gh == h && gb == 16)
      assert(out.sameElements(px))
    }
    for (const <- Seq(0, 65535, 32768)) { // all-zero blocks excluded from packets
      val px = Array.fill(48 * 48)(const)
      val (_, _, _, out) = Jpeg2000Codec.decode(Jpeg2000Codec.encode(px, 48, 48, 16, 2), "c.j2k")
      assert(out.sameElements(px))
    }
    val single = Array(40000)
    val (sw, sh, _, sout) = Jpeg2000Codec.decode(Jpeg2000Codec.encode(single, 1, 1, 16, 2), "s.j2k")
    assert(sw == 1 && sh == 1 && sout.sameElements(single))
  }

  test("JPEG 2000 codec: multi-tile grids round-trip bit-exactly; unaligned tiles reject") {
    import graft.sources.Jpeg2000Codec
    val rnd = new scala.util.Random(41)
    // tile 64x64 with 16x16 code blocks at 2 levels: alignment unit is
    // 16<<2 = 64, so interior tiles are legal; last row/column tiles
    // are partial (including 1-wide slivers)
    for ((w, h) <- Seq((150, 100), (256, 96), (64, 64), (65, 129), (200, 30))) {
      val px = Array.fill(w * h)(rnd.nextInt(65536))
      val enc = Jpeg2000Codec.encode(px, w, h, 16, 2, 4, 4, tileW = 64, tileH = 64)
      val (gw, gh, gb, out) = Jpeg2000Codec.decode(enc, s"tiled_${w}x$h.j2k")
      assert(gw == w && gh == h && gb == 16)
      assert(out.sameElements(px))
      // a tiled stream is NOT byte-identical to the single-tile stream,
      // but decodes to the same pixels as one
      if (w > 64 || h > 64) {
        val mono = Jpeg2000Codec.encode(px, w, h, 16, 2, 4, 4)
        assert(!enc.sameElements(mono))
        assert(Jpeg2000Codec.decode(mono, "mono.j2k")._4.sameElements(out))
      }
    }
    // encoder: interior tile dims must be multiples of cb<<levels
    an[IllegalArgumentException] should be thrownBy
      Jpeg2000Codec.encode(new Array[Int](200 * 50), 200, 50, 16, 2, 6, 6,
        tileW = 100, tileH = 0) // 100 % (64<<2) != 0
    // decoder: a surgically mis-aligned XTsiz rejects loudly (offset
    // 24 = SOC + SIZ marker/len/Rsiz + Xsiz..YOsiz)
    val good = Jpeg2000Codec.encode(Array.fill(128 * 64)(rnd.nextInt(65536)), 128, 64, 16, 2, 6, 6)
    val bad = good.clone()
    assert(((bad(24) & 0xff) << 24 | (bad(25) & 0xff) << 16 |
      (bad(26) & 0xff) << 8 | (bad(27) & 0xff)) == 128) // XTsiz
    bad(26) = 0; bad(27) = 96.toByte // XTsiz 96: 2 unaligned tiles
    an[IllegalArgumentException] should be thrownBy Jpeg2000Codec.decodeFull(bad, "bad.j2k")
  }

  test("JPEG 2000 irreversible 9/7: quantizer-bounded error, finer steps tighter, real compression") {
    import graft.sources.Jpeg2000Codec
    val rnd = new scala.util.Random(77)
    for ((w, h, bits) <- Seq((96, 64, 16), (50, 30, 8), (129, 65, 12))) {
      val maxV = (1 << bits) - 1
      // smooth ramps + mild texture: the shape wavelets compress well
      val px = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        math.min(maxV, (maxV / 4) + x * math.max(1, maxV / (4 * w)) +
          y * math.max(1, maxV / (8 * h)) + rnd.nextInt(3))
      }
      var prevRmse = Double.MaxValue
      for (step <- Seq(8.0, 2.0, 0.5)) {
        val enc = Jpeg2000Codec.encode97(px, w, h, bits, step)
        val (gw, gh, gb, out) = Jpeg2000Codec.decode(enc, s"q$step.j2k")
        assert(gw == w && gh == h && gb == bits)
        val errs = px.indices.map(i => (out(i) - px(i)).toDouble)
        val maxErr = errs.map(math.abs).max
        val rmse = math.sqrt(errs.map(e => e * e).sum / errs.length)
        // the error is governed by the signalled quantizer: a loose
        // but HARD envelope (midpoint recon ≤ Δ/2 per coefficient,
        // synthesis gains accumulate across 2 levels)
        assert(maxErr <= 6 * step + 1, s"${w}x$h b$bits step $step: max |err| $maxErr")
        assert(rmse <= 1.5 * step + 0.5, s"${w}x$h b$bits step $step: RMSE $rmse")
        assert(rmse <= prevRmse + 1e-9, "finer steps must not increase RMSE")
        prevRmse = rmse
      }
      // coarse quantization buys real compression vs the lossless path
      val lossless = Jpeg2000Codec.encode(px, w, h, bits)
      val lossy = Jpeg2000Codec.encode97(px, w, h, bits, 8.0)
      assert(lossy.length < lossless.length,
        s"9/7 at step 8 (${lossy.length}B) should beat lossless (${lossless.length}B)")
    }
    // constant image: every detail coefficient is exactly zero, LL is
    // the constant — the normalization check — so even lossy decode
    // returns the constant exactly when the step divides cleanly
    val const = Array.fill(40 * 24)(1000)
    val (_, _, _, cOut) = Jpeg2000Codec.decode(
      Jpeg2000Codec.encode97(const, 40, 24, 16, 2.0), "c97.j2k")
    val cErr = cOut.map(v => math.abs(v - 1000)).max
    assert(cErr <= 2, s"constant image error $cErr under 9/7")
  }

  test("JPEG 2000 codec: 3-component color round trip, with and without RCT, tiled and not") {
    import graft.sources.Jpeg2000Codec
    val genCase = for {
      w <- Gen.choose(1, 80)
      h <- Gen.choose(1, 80)
      rct <- Gen.oneOf(true, false)
      tiled <- Gen.oneOf(true, false)
      px <- Gen.listOfN(3 * w * h, Gen.choose(0, 255))
    } yield (w, h, rct, tiled, px.toArray)
    check("jpeg2000-rgb-roundtrip", Prop.forAll(genCase) { case (w, h, rct, tiled, px) =>
      val n = w * h
      val (rp, gp, bp) = (px.slice(0, n), px.slice(n, 2 * n), px.slice(2 * n, 3 * n))
      val enc =
        if (tiled) Jpeg2000Codec.encodeRgb(rp, gp, bp, w, h, 8, 2, 4, 4, 64, 64, rct)
        else Jpeg2000Codec.encodeRgb(rp, gp, bp, w, h, 8, rct = rct)
      val (gw, gh, gbits, planes) = Jpeg2000Codec.decodeFull(enc, "rgb.j2k")
      gw == w && gh == h && gbits == 8 && planes.length == 3 &&
        planes(0).sameElements(rp) && planes(1).sameElements(gp) &&
        planes(2).sameElements(bp)
    })
    // RCT actually decorrelates: a color stream is smaller with it on
    // a correlated image, and the single-component decode face rejects
    // any color stream rather than returning one plane of three
    val w = 48; val h = 40
    val base = Array.tabulate(w * h)(i => 40 + (i % w) + (i / w))
    val rp = base.map(v => math.min(255, v + 30))
    val gp = base.clone(); val bp = base.map(v => math.max(0, v - 25))
    val withRct = Jpeg2000Codec.encodeRgb(rp, gp, bp, w, h)
    val noRct = Jpeg2000Codec.encodeRgb(rp, gp, bp, w, h, rct = false)
    assert(withRct.length < noRct.length,
      s"RCT stream ${withRct.length}B should beat no-RCT ${noRct.length}B on correlated color")
    an[IllegalArgumentException] should be thrownBy Jpeg2000Codec.decode(withRct, "c.j2k")
  }

  test("JPEG 2000 codec: pinned codestream bytes for encode, encodeRgb and encode97, and their exact decode") {
    import graft.sources.Jpeg2000Codec
    // Round trips alone cannot catch a context-model change made in
    // both directions at once; these SHA-256 pins can. Noise drives
    // every zero-coding and sign context; blobs on a zero floor drive
    // run-length mode in every plane.
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    def samples(v: Array[Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * v.length); v.foreach(bb.putInt); bb.array()
    }
    val rnd = new scala.util.Random(20261018L)
    def image(w: Int, h: Int, bits: Int, blobs: Boolean): Array[Int] = {
      val maxV = (1 << bits) - 1
      if (!blobs) Array.fill(w * h)(rnd.nextInt(maxV + 1))
      else {
        val px = new Array[Int](w * h)
        for (_ <- 0 until 3; y0 = rnd.nextInt(h); x0 = rnd.nextInt(w); v = rnd.nextInt(maxV + 1);
             y <- y0 until math.min(h, y0 + 1 + rnd.nextInt(12));
             x <- x0 until math.min(w, x0 + 1 + rnd.nextInt(12)))
          px(y * w + x) = math.max(0, v - rnd.nextInt(4))
        px
      }
    }
    val got = Seq.newBuilder[(String, String)]
    // encode: (w, h, bits, levels, cbxExp, cbyExp, tile, blobs)
    for ((w, h, bits, lv, cbx, cby, tile, blobs) <- Seq(
           (256, 256, 16, 2, 6, 6, 0, true), (150, 97, 12, 3, 5, 4, 0, false),
           (64, 64, 8, 1, 6, 6, 0, false), (33, 17, 1, 0, 2, 2, 0, false),
           (1, 70, 16, 2, 4, 6, 0, true), (129, 65, 16, 2, 3, 3, 0, true),
           (70, 1, 10, 3, 6, 2, 0, false), (150, 100, 16, 2, 4, 4, 64, false),
           (200, 130, 16, 2, 4, 4, 64, true))) {
      val px = image(w, h, bits, blobs)
      val enc = Jpeg2000Codec.encode(px, w, h, bits, lv, cbx, cby, tile, tile)
      val label = s"encode ${w}x$h b$bits l$lv cb$cbx/$cby t$tile${if (blobs) " blobs" else ""}"
      withClue(label) { Jpeg2000Codec.decode(enc, "pin.j2k")._4 shouldBe px }
      got += label -> sha(enc)
    }
    // encodeRgb: with and without RCT, tiled and untiled
    for ((w, h, tile) <- Seq((48, 40, 0), (100, 70, 64)); rct <- Seq(true, false)) {
      val base = image(w, h, 8, blobs = false)
      val planes = Seq(0, 1, 2).map(c => base.map(v => (v + 37 * c + rnd.nextInt(5)) & 0xff).toArray)
      val enc = Jpeg2000Codec.encodeRgb(planes(0), planes(1), planes(2), w, h, 8, 2, 4, 4,
        tile, tile, rct)
      val label = s"encodeRgb ${w}x$h t$tile rct=$rct"
      withClue(label) { Jpeg2000Codec.decodeFull(enc, "pin.j2k")._4.toSeq.map(_.toSeq) shouldBe
        planes.map(_.toSeq) }
      got += label -> sha(enc)
    }
    // encode97: the lossy decode is pinned by the hash of its samples
    for ((w, h, bits, step, lv, blobs) <- Seq((96, 64, 16, 2.0, 2, false),
           (50, 30, 8, 0.5, 3, false), (80, 80, 12, 4.0, 1, true))) {
      val px = image(w, h, bits, blobs)
      val enc = Jpeg2000Codec.encode97(px, w, h, bits, step, lv)
      val label = s"encode97 ${w}x$h b$bits step$step l$lv"
      got += label -> sha(enc)
      got += s"$label decoded" -> sha(samples(Jpeg2000Codec.decode(enc, "pin.j2k")._4))
    }
    val pinned = Seq(
      "encode 256x256 b16 l2 cb6/6 t0 blobs" ->
        "2c3bd1273be3d755c3ec570a5ef14508d51fe5ab9b016e663f9121703d3b675f",
      "encode 150x97 b12 l3 cb5/4 t0" ->
        "0766224a27c82b9b34e18f48d4f041441ecc513159fe804bbcbccca09371ad2c",
      "encode 64x64 b8 l1 cb6/6 t0" ->
        "6d9f17882c50e47ad64b2f9e347ebde88db1f19f8e75c09f750890c9afcd9753",
      "encode 33x17 b1 l0 cb2/2 t0" ->
        "99fca9fa7603b578acc63263570146caeab74a1a943ed79c29bc5043a89c5039",
      "encode 1x70 b16 l2 cb4/6 t0 blobs" ->
        "6e2f4094287c451a8dd0e45cfec59db4eeaa4fc0c437ed866d63be0471c5b62f",
      "encode 129x65 b16 l2 cb3/3 t0 blobs" ->
        "b8cb1dad4fbe6fa0c3c042841d5bbe88ae3f27f4a3549e7348ab43c7f537fa5a",
      "encode 70x1 b10 l3 cb6/2 t0" ->
        "afff0d0009fb037ff91839c5da9c22b55fd95fd6d8d3bdf0340848e7b2dfe466",
      "encode 150x100 b16 l2 cb4/4 t64" ->
        "29719dc1eb1eff180300ba4de4a4008b86bea7f65dcd3a1fa5ecef7774bc03df",
      "encode 200x130 b16 l2 cb4/4 t64 blobs" ->
        "808de7f67c479a0b6c50072df89e316094e91c5c031ed8f515690cf54feb38a6",
      "encodeRgb 48x40 t0 rct=true" ->
        "f5c69f1b6a4b4163c468d7b3eb7bbc8b25c76ce1a69f5e14787cdf9f863a77d3",
      "encodeRgb 48x40 t0 rct=false" ->
        "bb436c1900c683871f31f48a2f47566fe7c30b25f09c24b898b9c8cd484adcd3",
      "encodeRgb 100x70 t64 rct=true" ->
        "375a57ffd8751200ce43079289505980821fc9b1cbc87e10bca739c2d2adbcbc",
      "encodeRgb 100x70 t64 rct=false" ->
        "b9e803c5179482f28ce873c5d767e7214ee45f2868ca08262555600240de3379",
      "encode97 96x64 b16 step2.0 l2" ->
        "df21dbcc105ced09cdebcd2ab2b4058cbc61b25bb0e1d5729d2ba6adbd78cb3e",
      "encode97 96x64 b16 step2.0 l2 decoded" ->
        "7384e35f26da18417fd3bd02952cfb4b38c985994646d0b1a6dd121ce7450cb0",
      "encode97 50x30 b8 step0.5 l3" ->
        "bcaa9e6d34661b617c238974913310a7ab96da9c289aa9072c9db9ad085a2918",
      "encode97 50x30 b8 step0.5 l3 decoded" ->
        "cd82f600b50b111cb18285d338b585a4f5adbe32bc6ae4b4c4a5747326ad4c88",
      "encode97 80x80 b12 step4.0 l1" ->
        "e5405d54c7559a3bfc6262e3bdb45437aae58380787b897ca9a826f7986882b6",
      "encode97 80x80 b12 step4.0 l1 decoded" ->
        "5af511a61247e86011c1c9ad790e8c23ed99fbb304a07ec8980386b3949a296b")
    got.result() shouldBe pinned
  }

  test("JPEG-LS near-lossless: |decoded - original| <= NEAR exactly, for every sample") {
    import graft.sources.JpegLsCodec
    val rnd = new scala.util.Random(23)
    // T.87 NEAR > 0 is not "approximately close" — the residual
    // quantization gives a HARD per-sample bound, so assert equality
    // of the bound, not a tolerance on an average
    for ((w, h, prec, near) <- Seq((48, 32, 16, 2), (31, 17, 12, 1),
        (24, 24, 8, 3), (1, 9, 16, 5), (40, 1, 10, 2))) {
      val maxV = (1 << prec) - 1
      // mix of smooth rows (run mode) and noise (regular mode)
      val px = Array.tabulate(w * h) { i =>
        if ((i / w) % 2 == 0) (i % w) * (maxV / math.max(1, w))
        else rnd.nextInt(maxV + 1)
      }
      val enc = JpegLsCodec.encode(px, w, h, prec, near)
      val (gw, gh, gp, out) = JpegLsCodec.decode(enc, s"n$near.jls")
      assert(gw == w && gh == h && gp == prec)
      val maxErr = px.zip(out).map { case (a, b) => math.abs(a - b) }.max
      assert(maxErr <= near, s"${w}x$h p$prec NEAR=$near: max error $maxErr > $near")
      // NEAR buys real compression: the stream must be smaller than
      // the lossless encoding of the same data
      assert(enc.length <= JpegLsCodec.encode(px, w, h, prec).length)
    }
    // NEAR = 0 remains bit-exact (the lossless contract is untouched)
    val px0 = Array.tabulate(64)(i => (i * 997) % 4096)
    val (_, _, _, out0) = JpegLsCodec.decode(JpegLsCodec.encode(px0, 8, 8, 12), "l.jls")
    assert(out0.sameElements(px0))
  }

  test("JPEG-LS multi-component: plane and line-interleaved scans round-trip; ILV=2 rejects") {
    import graft.sources.JpegLsCodec
    val genCase = for {
      w <- Gen.choose(1, 60)
      h <- Gen.choose(1, 40)
      ilv <- Gen.oneOf(0, 1)
      bits <- Gen.oneOf(8, 12)
      px <- Gen.listOfN(3 * w * h, Gen.choose(0, (1 << 8) - 1)) // 8-bit values fit both precisions
    } yield (w, h, ilv, bits, px.toArray)
    check("jpegls-color-roundtrip", Prop.forAll(genCase) { case (w, h, ilv, bits, px) =>
      val n = w * h
      val comps = Array(px.slice(0, n), px.slice(n, 2 * n), px.slice(2 * n, 3 * n))
      val enc = JpegLsCodec.encodeMulti(comps, w, h, bits, ilv = ilv)
      val (gw, gh, gp, planes) = JpegLsCodec.decodeFull(enc, s"c$ilv.jls")
      gw == w && gh == h && gp == bits && planes.length == 3 &&
        (0 to 2).forall(c => planes(c).sameElements(comps(c)))
    })
    // the two layouts produce different streams of the same pixels,
    // and near-lossless color keeps the per-sample bound per component
    val rnd = new scala.util.Random(59)
    val w = 40; val h = 25; val n = w * h
    val comps = Array.fill(3)(Array.tabulate(n)(i =>
      if ((i / w) % 2 == 0) (i % w) * 6 else rnd.nextInt(256)))
    val plane0 = JpegLsCodec.encodeMulti(comps, w, h, 8, ilv = 0)
    val line1 = JpegLsCodec.encodeMulti(comps, w, h, 8, ilv = 1)
    assert(!plane0.sameElements(line1))
    assert(JpegLsCodec.decodeFull(plane0, "p.jls")._4.flatMap(_.toSeq)
      .sameElements(JpegLsCodec.decodeFull(line1, "l.jls")._4.flatMap(_.toSeq)))
    for (ilv <- Seq(0, 1)) {
      val nearEnc = JpegLsCodec.encodeMulti(comps, w, h, 8, near = 2, ilv = ilv)
      val (_, _, _, np) = JpegLsCodec.decodeFull(nearEnc, "nc.jls")
      val maxErr = (0 to 2).map(c =>
        comps(c).zip(np(c)).map { case (a, b) => math.abs(a - b) }.max).max
      assert(maxErr <= 2, s"ilv=$ilv color NEAR=2: max error $maxErr")
    }
    // sample interleave (ILV=2): patch the SOS interleave byte of a
    // line-interleaved stream — the decoder must reject, not misread
    val bad = line1.clone()
    val sos = (0 until bad.length - 1).find(i =>
      (bad(i) & 0xff) == 0xff && (bad(i + 1) & 0xff) == 0xda).get
    val ns = bad(sos + 4) & 0xff
    val ilvOff = sos + 5 + 2 * ns + 1
    assert((bad(ilvOff) & 0xff) == 1)
    bad(ilvOff) = 2
    an[IllegalArgumentException] should be thrownBy JpegLsCodec.decodeFull(bad, "bad.jls")
    // single-component decode face rejects color streams loudly
    an[IllegalArgumentException] should be thrownBy JpegLsCodec.decode(line1, "c.jls")
  }

  test("JPEG DCT codec: bounded-error round trips at 8/12-bit, any geometry") {
    import graft.sources.JpegDctCodec
    val rnd = new scala.util.Random(11)
    // this codec class is LOSSY by construction (coefficient
    // rounding); with the all-ones quant table the error bound is a
    // few grays — assert it, don't demand bit equality
    for ((w, h, prec) <- Seq((32, 24, 12), (17, 9, 12), (8, 8, 12), (40, 40, 8), (1, 1, 12), (9, 1, 8))) {
      val maxV = (1 << prec) - 1
      // mid-band random: keeps worst-case AC magnitudes clear of the
      // T.81 category caps, so the only loss is rounding
      val px = Array.fill(w * h)(maxV / 4 + rnd.nextInt(maxV / 2 + 1))
      val (gw, gh, gp, out) = JpegDctCodec.decode(JpegDctCodec.encode(px, w, h, prec), "t.jpg")
      assert(gw == w && gh == h && gp == prec)
      val maxErr = px.zip(out).map { case (a, b) => math.abs(a - b) }.max
      assert(maxErr <= 4, s"${w}x$h p$prec: max error $maxErr > 4")
    }
    // smooth gradient: tighter bound
    val gpx = Array.tabulate(48 * 32)(i => 500 + (i % 48) * 40 + (i / 48) * 20)
    val (_, _, _, gout) = JpegDctCodec.decode(JpegDctCodec.encode(gpx, 48, 32, 12), "g.jpg")
    assert(gpx.zip(gout).map { case (a, b) => math.abs(a - b) }.max <= 2)
  }

  test("JPEG DCT codec: cross-decoder agreement with the JDK on baseline streams, both directions") {
    import graft.sources.JpegDctCodec
    val w = 40; val h = 24
    val rnd = new scala.util.Random(3)
    val px = Array.tabulate(w * h)(i => math.min(255, (i % w) * 5 + rnd.nextInt(20)))
    // direction 1: MY encoder's SOF0 stream decodes in the JDK —
    // independent conformance check of marker layout, DHT, entropy data
    val mine = JpegDctCodec.encode(px, w, h, 8)
    val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(mine))
    assert(bi != null, "JDK could not parse the native encoder's stream")
    assert(bi.getWidth == w && bi.getHeight == h)
    val jdkOfMine = Array.tabulate(w * h)(i => bi.getRaster.getSample(i % w, i / w, 0))
    val (_, _, _, mineOfMine) = JpegDctCodec.decode(mine, "m.jpg")
    // T.81 mandates no exact IDCT: independent decoders may differ ±1-2
    assert(jdkOfMine.zip(mineOfMine).map { case (a, b) => math.abs(a - b) }.max <= 2)
    // direction 2: a JDK-encoded grayscale stream (its own optimized
    // tables, its own quant) decodes in MY decoder to the JDK's values
    val page = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until w * h).foreach(i => page.getRaster.setSample(i % w, i / w, 0, px(i)))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.97f)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(page, null, null), p)
    writer.dispose(); ios.close()
    val theirs = bos.toByteArray
    val jdkDec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(theirs))
    val jdkVals = Array.tabulate(w * h)(i => jdkDec.getRaster.getSample(i % w, i / w, 0))
    val (dw, dh, dp, mineOfTheirs) = JpegDctCodec.decode(theirs, "jdk.jpg")
    assert(dw == w && dh == h && dp == 8)
    assert(jdkVals.zip(mineOfTheirs).map { case (a, b) => math.abs(a - b) }.max <= 2)
  }

  test("DICOM JPEG Extended (.51): 12-bit end-to-end with bounded error; progressive rejects") {
    import graft.core.{ImageLog, ImageMeta, SparkImage}
    import graft.sources.{ImageCodecIO, JpegDctCodec}
    val w = 24; val h = 16
    val rnd = new scala.util.Random(5)
    val vals = Array.fill(w * h)((1024 + rnd.nextInt(2048)).toDouble)
    val img = SparkImage(ImageMeta(), ImageLog.create("x", ""), w, h, 1,
      PixelCodec.Short16, PixelCodec.encode(vals, PixelCodec.Short16))
    val bytes = ImageCodecIO.encodeDicom(img, instance = 3,
      transferSyntax = "1.2.840.10008.1.2.4.51")
    val (dec, inst) = ImageCodecIO.decodeDicomWithInstance("e.dcm", bytes)
    inst shouldBe 3
    dec.width shouldBe w
    dec.height shouldBe h
    val err = dec.toDoubles.zip(vals).map { case (a, b) => math.abs(a - b) }.max
    assert(err <= 4, s".51 end-to-end error $err > 4")
    // the census syntax sniffer reads the declared UID
    graft.sources.ImageCodecIO.dicomTransferSyntax("e.dcm", bytes) shouldBe
      "1.2.840.10008.1.2.4.51"
    // hierarchical (SOF5) rejects loudly, never mis-decodes
    val sof5 = Array[Int](0xff, 0xd8, 0xff, 0xc5, 0x00, 0x0b,
      8, 0, 16, 0, 16, 1, 1, 0x11, 0).map(_.toByte)
    val e = intercept[IllegalArgumentException](JpegDctCodec.decode(sof5, "p.jpg"))
    assert(e.getMessage.contains("SOF0/SOF1/SOF2"))
  }

  test("JPEG DCT codec: PROGRESSIVE streams (JDK scan script) decode to the JDK's own values") {
    import graft.sources.JpegDctCodec
    // the JDK writer emits a real multi-scan SOF2 script (DC first +
    // refinements, AC bands with EOB runs + correction-bit scans) —
    // a third-party progressive stream our decoder must accumulate
    // across scans exactly as T.81 G.2 prescribes
    val w = 72; val h = 40
    val rnd = new scala.util.Random(17)
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      math.min(255, math.max(0, 40 + x * 2 + ((y * 7) % 60) + rnd.nextInt(25)))
    }
    val page = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until w * h).foreach(i => page.getRaster.setSample(i % w, i / w, 0, px(i)))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.95f)
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(page, null, null), p)
    writer.dispose(); ios.close()
    val stream = bos.toByteArray
    // prove the stream really is progressive (SOF2 present)
    assert(stream.sliding(2).exists(a => (a(0) & 0xff) == 0xff && (a(1) & 0xff) == 0xc2),
      "JDK did not emit a progressive stream")
    val jdk = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(stream))
    val jdkVals = Array.tabulate(w * h)(i => jdk.getRaster.getSample(i % w, i / w, 0))
    val (dw, dh, dp, mine) = JpegDctCodec.decode(stream, "prog.jpg")
    assert(dw == w && dh == h && dp == 8)
    val maxDiff = jdkVals.zip(mine).map { case (a, b) => math.abs(a - b) }.max
    assert(maxDiff <= 2, s"progressive cross-decode max diff $maxDiff > 2")
  }

  test("JPEG marker loops tolerate T.81 B.1.1.2 fill bytes (0xFF padding before markers)") {
    import graft.sources.JpegDctCodec
    // splice fill bytes before every marker of a valid stream — a
    // conformant encoder MAY pad this way; the decode must be unchanged
    def padMarkers(stream: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      var entropy = false
      while (i < stream.length) {
        val b = stream(i) & 0xff
        if (!entropy && i > 0 && b == 0xff && i + 1 < stream.length &&
            (stream(i + 1) & 0xff) != 0x00) { // (SOI itself stays unpadded)
          out.write(0xff); out.write(0xff) // two fill bytes
          out.write(0xff); out.write(stream(i + 1) & 0xff)
          if ((stream(i + 1) & 0xff) == 0xda) entropy = true // stop before scan data
          i += 2
        } else { out.write(b); i += 1 }
      }
      out.toByteArray
    }
    val px = Array.tabulate(16 * 16)(i => 100 + (i % 16) * 8)
    val clean = JpegDctCodec.encode(px, 16, 16, 12)
    val (w1, h1, _, out1) = JpegDctCodec.decode(clean, "c.jpg")
    val (w2, h2, _, out2) = JpegDctCodec.decode(padMarkers(clean), "f.jpg")
    assert(w1 == w2 && h1 == h2 && out1.sameElements(out2))
    // a sequential stream truncated after its entropy data (EOI cut
    // off — a tolerated real-world shape) still decodes identically
    val (w3, h3, _, out3) = JpegDctCodec.decode(clean.dropRight(2), "trunc.jpg")
    assert(w3 == w1 && h3 == h1 && out3.sameElements(out1))
    // a crafted giant SOF header rejects before allocating anything
    val bomb = Array[Int](0xff, 0xd8, 0xff, 0xc0, 0x00, 0x0b,
      8, 0xff, 0xff, 0xff, 0xff, 1, 1, 0x11, 0).map(_.toByte)
    val eb = intercept[IllegalArgumentException](JpegDctCodec.decode(bomb, "b.jpg"))
    assert(eb.getMessage.contains("64M-pixel cap"))
  }
}
