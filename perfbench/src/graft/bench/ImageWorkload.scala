package graft.bench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.core.{ImageLog, ImageMeta, Kernels, PixelCodec, SparkImage}
import graft.functions.ImageFunctions
import graft.ops.ImageOps
import graft.sources.ImageCodecIO

/** One file of the generated corpus: its codec, the pixel values it was
  * encoded from (slice-major) and whether its codec is lossless. */
final case class CorpusFile(name: String, codec: String, w: Int, h: Int,
                            slices: Int, px: Array[Int], lossless: Boolean,
                            series: String = "", instance: Int = 0)

/** Image workload: a corpus of PNG, multi-page TIFF and DICOM files in
  * six transfer syntaxes, generated from the seed and written by the
  * engine's own encoders; operations decode, run kernels, take a DICOM
  * census, aggregate histograms and write images back. Every check is
  * computed from the generated pixels: exact for lossless codecs,
  * within [[LossyTolerance]] for JPEG baseline. */
final class ImageWorkload(seed: Long, dir: Path, side: Int, perSyntax: Int,
                          nPng: Int, nTiff: Int, pages: Int, parts: Int) extends Workload {

  /** |decoded − source| bound for JPEG baseline statistics, in 8-bit levels. */
  val LossyTolerance = 4.0
  val Threshold = 1000
  val Bins = 32
  val HistMax = 4096.0

  private val corpusDir = dir.resolve("corpus")
  private val outDir = dir.resolve("written")
  private val dicomSyntaxes = Seq(
    "dicom_raw" -> ImageCodecIO.TsExplicitLE, "dicom_rle" -> ImageCodecIO.TsRle,
    "dicom_jpegll" -> ImageCodecIO.TsJpegLossless, "dicom_jpegls" -> ImageCodecIO.TsJpegLs,
    "dicom_j2k" -> ImageCodecIO.TsJpeg2000Lossless, "dicom_jpeg" -> ImageCodecIO.TsJpegBaseline)
  require(ImageWorkload.codecs == Seq("png", "tiff") ++ dicomSyntaxes.map(_._1))

  /** Blobs of value 1500–2999 on a 200–299 noise floor; JPEG baseline
    * files hold the same shapes at 1/16 the value (8-bit). */
  private def synth(rng: java.util.Random, scale: Int): Array[Int] = {
    val px = Array.fill(side * side)(200 + rng.nextInt(100))
    (0 until 6 + rng.nextInt(7)).foreach { _ =>
      val cx = rng.nextInt(side); val cy = rng.nextInt(side)
      val r = 3 + rng.nextInt(side / 16 + 1); val v = 1500 + rng.nextInt(1200)
      for (y <- math.max(0, cy - r) until math.min(side, cy + r + 1);
           x <- math.max(0, cx - r) until math.min(side, cx + r + 1)
           if (x - cx) * (x - cx) + (y - cy) * (y - cy) <= r * r)
        px(y * side + x) = v + rng.nextInt(300)
    }
    if (scale == 1) px else px.map(_ / scale)
  }

  val corpus: Seq[CorpusFile] = {
    val rng = new java.util.Random(seed * 7919L + 17L)
    val png = (0 until nPng).map(i =>
      CorpusFile(f"png_$i%03d.png", "png", side, side, 1, synth(rng, 1), lossless = true))
    val tif = (0 until nTiff).map(i =>
      CorpusFile(f"tiff_$i%03d.tif", "tiff", side, side, pages,
        (0 until pages).flatMap(_ => synth(rng, 1)).toArray, lossless = true))
    val dcm = for ((codec, _) <- dicomSyntaxes; s <- 0 until 2; k <- 1 to perSyntax / 2) yield {
      val lossy = codec == "dicom_jpeg"
      val series = s"${if (lossy) "lossy_" else ""}${codec}_s$s"
      CorpusFile(s"${series}_$k.dcm", codec, side, side, 1, synth(rng, if (lossy) 16 else 1),
        lossless = !lossy, series, k)
    }
    png ++ tif ++ dcm
  }
  private val lossless = corpus.filter(_.lossless)
  private val sentinel = "sentinel.bin"

  private def image(f: CorpusFile): SparkImage =
    SparkImage(ImageMeta(), ImageLog.empty, f.w, f.h, f.slices, PixelCodec.Short16,
      PixelCodec.encode(f.px.map(_.toDouble), PixelCodec.Short16))

  private def encode(f: CorpusFile): Array[Byte] = f.codec match {
    case "png" => ImageCodecIO.encode(image(f), "png")
    case "tiff" => ImageCodecIO.encode(image(f), "tiff")
    case c => ImageCodecIO.encodeDicom(image(f), instance = f.instance,
      transferSyntax = dicomSyntaxes.toMap.apply(c))
  }

  /** Seconds spent in each codec's encoder during the last set-up. */
  val encodeSeconds: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  private var sizes: Map[String, Long] = Map.empty

  private def wipe(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  override def setup(spark: SparkSession): Unit = {
    wipe(corpusDir); Files.createDirectories(corpusDir)
    encodeSeconds.clear()
    corpus.foreach { f =>
      val t0 = System.nanoTime()
      val bytes = encode(f)
      encodeSeconds(f.codec) = encodeSeconds.getOrElse(f.codec, 0.0) + (System.nanoTime() - t0) / 1e9
      Files.write(corpusDir.resolve(f.name), bytes)
    }
    // an undecodable file that only the metadata-only scan lists: if that
    // scan ever decoded pixels it would fail on this file
    Files.write(corpusDir.resolve(sentinel), Array.fill[Byte](64)(7))
    sizes = (corpus.map(_.name) :+ sentinel).map(n => n -> Files.size(corpusDir.resolve(n))).toMap
  }

  override def cleanup(): Unit = wipe(outDir)

  private val AllImages = ".*\\.(png|tif|dcm)"
  private val Lossless = "(?!lossy_).*\\.(png|tif|dcm)"

  private def scan(s: SparkSession, pattern: String, path: Path = corpusDir): DataFrame =
    s.read.format("imagedir").option("path", path.toString).option("pattern", pattern)
      .option("partitions", parts.toString).load()

  private def statsCols(img: org.apache.spark.sql.Column) = {
    val st = ImageFunctions.statsUdf(img)
    Seq(st.getField("min").as("min"), st.getField("mean").as("mean"),
      st.getField("stdDev").as("stdDev"), st.getField("max").as("max"),
      st.getField("pts").as("pts"))
  }

  // ---- expected values, computed from the generated pixels ----------

  private final case class Stats(min: Double, mean: Double, sd: Double, max: Double, n: Long)

  private def stats(px: Array[Int]): Stats = {
    val mean = px.map(_.toLong).sum.toDouble / px.length
    val ss = px.foldLeft(0.0) { (a, v) => val d = v - mean; a + d * d }
    Stats(px.min, mean, math.sqrt(ss / px.length), px.max, px.length)
  }

  /** 8-connected components of pixels >= [[Threshold]], per slice. */
  private def particles(f: CorpusFile): (Long, Long) = {
    var n = 0L; var area = 0L
    val seen = new Array[Boolean](f.w * f.h)
    val stack = new Array[Int](f.w * f.h)
    for (s <- 0 until f.slices) {
      java.util.Arrays.fill(seen, false)
      val off = s * f.w * f.h
      for (start <- 0 until f.w * f.h if !seen(start) && f.px(off + start) >= Threshold) {
        n += 1; seen(start) = true; var top = 0; stack(0) = start
        while (top >= 0) {
          val p = stack(top); top -= 1; area += 1
          val x = p % f.w; val y = p / f.w
          for (dy <- -1 to 1; dx <- -1 to 1) {
            val nx = x + dx; val ny = y + dy
            if (nx >= 0 && ny >= 0 && nx < f.w && ny < f.h) {
              val q = ny * f.w + nx
              if (!seen(q) && f.px(off + q) >= Threshold) { seen(q) = true; top += 1; stack(top) = q }
            }
          }
        }
      }
    }
    (n, area)
  }

  private def checkStats(rows: Array[Row], files: Seq[CorpusFile],
                         nameOf: CorpusFile => String): Option[String] = {
    val got = rows.map(r => r.getString(0) -> r).toMap
    if (got.size != files.size) return Some(s"${got.size} rows, expected ${files.size}")
    files.iterator.map { f =>
      val e = stats(f.px)
      got.get(nameOf(f)) match {
        case None => Some(s"missing ${nameOf(f)}")
        case Some(r) =>
          // lossy files: mean and stdDev within the tolerance; their
          // extremes move with ringing and are not checked
          val fields = Seq(("min", r.getDouble(1), e.min), ("mean", r.getDouble(2), e.mean),
            ("stdDev", r.getDouble(3), e.sd), ("max", r.getDouble(4), e.max))
          val bad = if (f.lossless) fields.collect {
            case (k, g, x) if math.abs(g - x) > 1e-9 * math.max(1.0, math.abs(x)) => s"$k=$g expected $x"
          } else fields.slice(1, 3).collect {
            case (k, g, x) if math.abs(g - x) > LossyTolerance => s"$k=$g expected $x"
          }
          if (r.getLong(5) != e.n) Some(s"${f.name}: pts=${r.getLong(5)} expected ${e.n}")
          else if (bad.nonEmpty) Some(s"${f.name}: ${bad.mkString(", ")}")
          else None
      }
    }.collectFirst { case Some(m) => m }
  }

  private def checkEqual(label: String, got: Map[String, Seq[Any]],
                         expected: Map[String, Seq[Any]]): Option[String] =
    (got.keySet ++ expected.keySet).toSeq.sorted.collectFirst {
      case k if got.get(k) != expected.get(k) => s"$label[$k]: got ${got.get(k)} expected ${expected.get(k)}"
    }

  // ---- operations -----------------------------------------------------

  val ops: Seq[Op] = Seq(
    Op("img_meta", "-", s => scan(s, ".*").select(col("name"), col("size")),
      expect = Some(rows => checkEqual("img_meta",
        rows.map(r => r.getString(0) -> Seq[Any](r.getLong(1))).toMap,
        sizes.map { case (k, v) => k -> Seq[Any](v) }))),
    Op("img_stats", "-", s => scan(s, AllImages).select(col("name") +: statsCols(col("image")): _*),
      expect = Some(rows => checkStats(rows, corpus, _.name))),
    Op("img_particles", "-", s => {
      val mask = ImageFunctions.run2Udf(col("image"), lit("setThreshold"),
        lit(s"lower=$Threshold upper=99999"))
      val area = element_at(ImageFunctions.runtableUdf(mask, lit("Analyze Particles..."), lit("")), "Area")
      scan(s, Lossless).select(col("name"), area.as("area"))
        .select(col("name"), size(col("area")).cast("long").as("n"),
          aggregate(col("area"), lit(0.0), (a, b) => a + b).cast("long").as("area"))
    }, expect = Some(rows => checkEqual("img_particles",
      rows.map(r => r.getString(0) -> Seq[Any](r.getLong(1), r.getLong(2))).toMap,
      lossless.map { f => val (n, a) = particles(f); f.name -> Seq[Any](n, a) }.toMap))),
    Op("img_census", "-", s => ImageOps.dicomCensus(s, s"$corpusDir/*.dcm"),
      expect = Some(rows => checkEqual("img_census",
        rows.map(r => r.getString(0) -> Seq[Any](r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).toMap,
        corpus.filter(_.series.nonEmpty).groupBy(f => dicomSyntaxes.toMap.apply(f.codec)).map {
          case (ts, fs) => ts -> Seq[Any](fs.size.toLong, fs.map(_.series).distinct.size.toLong,
            fs.map(_.instance).min.toLong, fs.map(_.instance).max.toLong,
            fs.map(_.w.toLong).sum, fs.map(_.h.toLong).sum)
        }))),
    Op("img_histogram", "-", s => {
      val h = ImageFunctions.hist3Udf(col("image"), lit(0.0), lit(HistMax), lit(Bins))
      scan(s, Lossless).select(posexplode(h.getField("counts")).as(Seq("bin", "count")))
        .groupBy(col("bin")).agg(sum(col("count")).cast("long").as("count"))
    }, expect = Some(rows => checkEqual("img_histogram",
      rows.map(r => r.getInt(0).toString -> Seq[Any](r.getLong(1))).toMap,
      {
        val counts = new Array[Long](Bins)
        lossless.foreach(_.px.foreach(v => counts(math.min(Bins - 1, (v / (HistMax / Bins)).toInt)) += 1))
        counts.indices.map(b => b.toString -> Seq[Any](counts(b))).toMap
      }))),
    Op("img_write", "-",
      s => scan(s, "(png|tiff)_.*").select(
        regexp_replace(col("name"), "\\.(png|tif)$", "").as("sample"), col("image")),
      action = df => {
        ImageOps.saveImages(df, outDir.toString, "tif")
        scan(df.sparkSession, ".*\\.tif", outDir)
          .select(col("name") +: statsCols(col("image")): _*).collect()
      },
      expect = Some(rows => checkStats(rows, corpus.filter(f => f.codec == "png" || f.codec == "tiff"),
        f => f.name.replaceAll("\\.(png|tif)$", "") + ".tif"))))

  /** A scan decodes frames only when its pruned read schema keeps `image`. */
  override def framesDecoded(op: Op, df: DataFrame): Long = {
    def scans(p: LogicalPlan): Seq[DataSourceV2ScanRelation] =
      p.collect { case r: DataSourceV2ScanRelation => r }
    val decoding = scans(df.queryExecution.optimizedPlan)
      .exists(_.scan.readSchema().fieldNames.contains("image"))
    val census = op.name == "img_census"
    if (!decoding && !census) 0L
    else op.name match {
      case "img_stats" => corpus.map(_.slices.toLong).sum
      case "img_particles" | "img_histogram" => lossless.map(_.slices.toLong).sum
      case "img_census" => corpus.count(_.series.nonEmpty).toLong
      case "img_write" => 2 * corpus.filter(f => f.codec == "png" || f.codec == "tiff").map(_.slices.toLong).sum
      case _ => corpus.map(_.slices.toLong).sum
    }
  }

  /** Single-threaded decode of every corpus file and the kernel chain on
    * every lossless image, timed per codec and per kernel. */
  override def directLayers(): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    var frames = 0L; var bytes = 0L; var pixels = 0L
    corpus.foreach { f =>
      val raw = Files.readAllBytes(corpusDir.resolve(f.name))
      val t0 = System.nanoTime()
      val img = ImageCodecIO.decode(f.name, raw)
      add(s"sources.decode_s.${f.codec}", (System.nanoTime() - t0) / 1e9)
      frames += img.slices; bytes += img.data.length
      if (f.lossless) {
        def timed[T](k: String)(body: => T): T = {
          val t = System.nanoTime(); val r = body
          add(s"core.kernel_s.$k", (System.nanoTime() - t) / 1e9); r
        }
        timed("stats")(Kernels.stats(img))
        timed("histogram")(Kernels.histogram(img, 0.0, HistMax, Bins))
        val mask = timed("threshold")(Kernels.run(img, "setThreshold", s"lower=$Threshold upper=99999"))
        timed("particles")(Kernels.analyzeParticles(mask))
        pixels += img.width.toLong * img.height * img.slices
      }
    }
    encodeSeconds.foreach { case (c, s) => out(s"sources.encode_s.$c") = s }
    out("sources.frames_decoded") = frames.toDouble
    out("sources.decoded_mb") = bytes / 1e6
    out("core.pixels") = pixels.toDouble
    out.toMap
  }
}

object ImageWorkload {
  val codecs: Seq[String] = Seq("png", "tiff", "dicom_raw", "dicom_rle", "dicom_jpegll",
    "dicom_jpegls", "dicom_j2k", "dicom_jpeg")
  val kernels: Seq[String] = Seq("stats", "histogram", "threshold", "particles")
  val layerNames: Seq[(String, String)] =
    codecs.flatMap(c => Seq(s"sources.decode_s.$c" -> "s", s"sources.encode_s.$c" -> "s")) ++
      kernels.map(k => s"core.kernel_s.$k" -> "s")
}
