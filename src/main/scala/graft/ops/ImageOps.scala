package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Kernels, SparkImage}
import graft.functions.ImageFunctions
import graft.sources.{HadoopConfBroadcast, ImageCodecIO}

/** DataFrame-level batch operators mirroring the reference's RDD layer
  * (scOps.scala:184-301), re-expressed as single-plan Catalyst
  * transformations: no eager driver round-trips (the reference's
  * `loadImages` collects all names eagerly, scOps.scala:78), no
  * per-partition env init (kernels are pure), no temp files.
  */
object ImageOps {

  /** The `imagedir` scan of the files `pathGlob` names: a directory,
    * then a file-name glob (`dir/s_*.dcm`). The directory is
    * listed on the driver while the plan is built, with no job, and
    * only its direct children are read. */
  private[graft] def imageFiles(spark: SparkSession, pathGlob: String): DataFrame = {
    val glob = new org.apache.hadoop.fs.Path(pathGlob)
    val dir = glob.getParent.toString
    require(!new org.apache.hadoop.fs.GlobPattern(dir).hasWildcard,
      s"wildcards are supported in the file name only: $pathGlob")
    spark.read.format("imagedir").option("path", dir)
      .option("pattern", org.apache.hadoop.fs.GlobPattern.compile(glob.getName).pattern())
      .load()
  }

  /** Distributed image load through the `imagedir` scan (rebuild of
    * `loadImages`/`ijFile`, scOps.scala:75-97, 309-316): files decode
    * inside the scan, and only when a query needs `image`. */
  def loadImages(spark: SparkSession, pathGlob: String): DataFrame =
    imageFiles(spark, pathGlob).select(col("path").as("sample"), col("image"))

  /** Driver-side load (rebuild of `loadImagesDriver`, scOps.scala:134-151)
    * — only for small path lists. */
  def loadImagesDriver(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    paths.map { p =>
      (p, ImageCodecIO.decode(p, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))))
    }.toDF("sample", "image")
  }

  /** Distributed save: one file per row under `dir` through the
    * Hadoop FileSystem API (rebuild of saveImagesLocal,
    * scOps.scala:262-271, plus the reference's Hadoop byte-save,
    * SQLFunctions.scala/scOps saveAsBinaryFile path): `dir` may be any
    * registered scheme — local path, `hdfs://`, `s3a://` — and the
    * session's Hadoop configuration (credentials, endpoints) reaches
    * the tasks through the session's one configuration broadcast. */
  def saveImages(df: DataFrame, dir: String, format: String = "png"): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    writeFiles(df.select(col("sample"), col("image")).as[(String, SparkImage)], dir) {
      case (sample, img) => Iterator.single(s"${safeName(sample)}.$format" -> ImageCodecIO.encode(img, format))
    }
  }

  /** The file writer of every sink: each row of `ds` becomes the
    * (file name, bytes) pairs `files` makes of it, each created or
    * overwritten under `dir` as [[saveImages]] describes. */
  private def writeFiles[T](ds: Dataset[T], dir: String)(
      files: T => Iterator[(String, Array[Byte])]): Unit = {
    val conf = HadoopConfBroadcast(ds.sparkSession.sparkContext)
    ds.foreachPartition { it: Iterator[T] =>
      val base = new org.apache.hadoop.fs.Path(dir)
      val fs = base.getFileSystem(conf.value.value)
      it.flatMap(files).foreach { case (name, bytes) =>
        val os = fs.create(new org.apache.hadoop.fs.Path(base, name), true)
        try os.write(bytes) finally os.close()
      }
    }
  }

  // never emit a leading "_" or "." — Spark's file index treats those
  // as hidden/metadata files and silently skips them
  private[graft] def safeName(sample: String): String =
    sample.replaceAll("[^A-Za-z0-9._-]", "_").replaceAll("^[_.]+", "") match {
      case "" => "img"
      case s => s
    }

  /** Loud reject when two samples sanitize to the same file name —
    * one-file-per-row sinks would silently overwrite a whole stack per
    * collision. One distributed count over the name column (at most
    * one example row reaches the driver, never a sample-list collect);
    * the column-pruned plan avoids materializing images where the
    * lineage allows it. */
  private def requireUniqueSafeNames(df: DataFrame, sink: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val safeUdf = udf { s: String => safeName(s) }
    val dup = df.select(safeUdf(col("sample")).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"$sink: ${dup.headOption.map(_.getString(0)).getOrElse("")} — two samples " +
        "sanitize to the same file name; disambiguate samples before writing " +
        "(each collision silently drops a whole stack)")
  }

  /** Distributed DICOM series sink: each row's stack writes as one
    * single-frame file PER SLICE, named `<sample>_<instance>.dcm`
    * with InstanceNumber = slice index + 1 — the on-disk layout of
    * the reference's flagship IO case (a CT series directory,
    * IjRDDTests.scala:30-99). Slices ROTATE through all eight
    * LOSSLESS transfer syntaxes (implicit-VR LE, explicit-VR LE,
    * explicit-VR BE, RLE Lossless, JPEG Lossless SV1/.57, JPEG-LS,
    * JPEG 2000 Lossless) the way a mixed-vendor archive does — the
    * series loader re-stacks them transparently because each file
    * declares its own syntax in the Part 10 meta group. (Lossy JPEG
    * Baseline stays out: rotation slices must reconstruct
    * bit-exactly.) */
  def saveDicomSeries(df: DataFrame, dir: String): Unit =
    saveDicomSeriesWith(df, dir, Array(ImageCodecIO.TsImplicitLE,
      ImageCodecIO.TsExplicitLE, ImageCodecIO.TsExplicitBE, ImageCodecIO.TsRle,
      ImageCodecIO.TsJpegLossless, ImageCodecIO.TsJpegLossless14,
      ImageCodecIO.TsJpegLs, ImageCodecIO.TsJpeg2000Lossless))

  /** [[saveDicomSeries]] with an explicit syntax rotation — the lossy
    * JPEG syntaxes (.50/.51) are legal here (img22 exercises them:
    * census METADATA is deterministic even where pixels are not), but
    * must stay out of the default lossless rotation that img20's
    * per-slice value oracle depends on. */
  def saveDicomSeriesWith(df: DataFrame, dir: String,
                          syntaxes: Array[String]): Unit = {
    require(syntaxes.nonEmpty, "at least one transfer syntax")
    val spark = df.sparkSession
    import spark.implicits._
    writeFiles(df.select(col("sample"), col("image")).as[(String, SparkImage)], dir) {
      case (sample, img) => Iterator.range(0, img.slices).map { s =>
        s"${safeName(sample)}_${s + 1}.dcm" -> ImageCodecIO.encodeDicom(img, instance = s + 1,
          slice = s, transferSyntax = syntaxes(s % syntaxes.length))
      }
    }
  }

  /** Series-glob DICOM load: decode every matching single-frame file,
    * group by series (the file name minus its `_<instance>.dcm`
    * suffix), and stack slices in InstanceNumber order — file-NAME
    * order would put `_10` before `_2`, so ordering comes from the
    * decoded header, like a scanner series demands (the reference
    * reads a 68-slice series the same way, IjRDDTests.scala:30-99).
    *
    * Scale shape: decode is per-file map work on the distributed
    * `imagedir` scan's `content`; the stack regroup shuffles each series' slices
    * to one task — bounded by slices-per-series (hundreds), never by
    * corpus size — so a 100 TB archive of series parallelizes across
    * series. */
  def loadDicomSeries(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val decode = udf { (path: String, content: Array[Byte]) =>
      ImageCodecIO.decodeDicomWithInstance(path, content)
    }
    imageFiles(spark, pathGlob)
      .select(col("name"), decode(col("path"), col("content")).as("d"))
      .select(regexp_replace(col("name"), "_\\d+\\.dcm$", "").as("series"),
        col("d._2").as("inst"), col("d._1").as("image"))
      .as[(String, Int, SparkImage)]
      .groupByKey(_._1)
      .mapGroups { (series, it) =>
        val slices = it.toSeq.sortBy(_._2)
        (series, slices.map(_._3).reduce(Kernels.appendStack))
      }
      .toDF("series", "image")
  }

  /** Multi-frame DICOM sink: each (sample, image, ts, planar) row
    * writes ONE file `<safeName(sample)>.dcm` holding the whole stack
    * as frames (NumberOfFrames = slices; native syntaxes store frames
    * contiguously, encapsulated ones one fragment per frame with a
    * populated Basic Offset Table) — the other real archive shape
    * (ultrasound / XA / secondary capture) next to
    * [[saveDicomSeries]]' file-per-slice CT shape. `planar` picks the
    * RGB byte layout (0 interleaved / 1 planes) and is ignored for
    * grayscale. Executor-side Hadoop FS writes like every sink here.
    *
    * Samples whose SANITIZED names collide (e.g. "a b" and "a_b")
    * would silently overwrite each other's file — and here a collision
    * loses a whole stack, not one slice — so the sink fails loudly
    * first. The check is one distributed count over the name column
    * (bounded output: at most one example row reaches the driver),
    * never a collect of the sample list. */
  def saveDicomMultiFrame(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    requireUniqueSafeNames(df, "saveDicomMultiFrame")
    // optional columns, all defaulted when absent:
    //   photometric  — RGB / YBR_FULL / YBR_FULL_422 / MONOCHROME1
    //   frag_bytes   — split each encapsulated frame's codec stream
    //                  into even fragments of at most that many bytes
    //   pixel_rep    — 1 writes signed (two's-complement) grayscale
    //   slope, intercept — modality-LUT Rescale tags (NaN = absent)
    //   j2k_tile     — JPEG 2000 frames write a tile grid of that edge
    //   jls_ilv      — JPEG-LS color scan layout (1 line-interleaved,
    //                  0 one scan per component plane)
    // coalesce covers BOTH an absent column and SQL nulls inside a
    // present one (a bare null would fail the primitive-tuple encoder)
    def opt(name: String, default: Column): Column =
      if (df.columns.contains(name)) coalesce(col(name), default) else default
    val rows = df.select(col("sample"), col("image"), col("ts"), col("planar"),
        opt("photometric", lit("RGB")).as("photometric"),
        opt("frag_bytes", lit(0)).cast("int").as("frag_bytes"),
        opt("pixel_rep", lit(0)).cast("int").as("pixel_rep"),
        opt("slope", lit(Double.NaN)).cast("double").as("slope"),
        opt("intercept", lit(Double.NaN)).cast("double").as("intercept"),
        opt("j2k_tile", lit(0)).cast("int").as("j2k_tile"),
        opt("jls_ilv", lit(1)).cast("int").as("jls_ilv"))
      .as[(String, SparkImage, String, Int, String, Int, Int, Double, Double, Int, Int)]
    writeFiles(rows, dir) { case (sample, img, ts, planar, pm, fb, pr, sl, ic, jt, jlsIlv) =>
      // the modality LUT is a PAIR: exactly one of slope/intercept
      // set would silently drop the LUT (or write a NaN tag) —
      // reject loudly instead
      require(sl.isNaN == ic.isNaN,
        s"saveDicomMultiFrame($sample): slope and intercept must be " +
          "set together (one without the other has no defined LUT)")
      val rescale = if (sl.isNaN) None else Some((sl, ic))
      Iterator.single(s"${safeName(sample)}.dcm" -> ImageCodecIO.encodeDicom(img, instance = 1,
        slice = 0, transferSyntax = ts, frames = img.slices, planarConfig = planar,
        photometric = pm, fragmentBytes = fb, pixelRep = pr,
        rescale = rescale, j2kTile = jt, jlsIlv = jlsIlv))
    }
  }

  /** PALETTE COLOR DICOM sink: each (sample, image, ts) row writes one
    * multi-frame file whose grayscale pixel values are LUT INDICES —
    * the Red/Green/Blue Palette Color Lookup Tables (16-bit entries,
    * shared `firstMapped`) ride in the header, the pixel stream stays
    * the raw index data, so any grayscale-capable transfer syntax
    * works. The loader expands indices through the LUTs to RGB.
    * Same name-collision guard rationale as [[saveDicomMultiFrame]]. */
  def saveDicomPalette(df: DataFrame, dir: String,
                       lutR: Array[Int], lutG: Array[Int], lutB: Array[Int],
                       firstMapped: Int = 0): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    requireUniqueSafeNames(df, "saveDicomPalette")
    writeFiles(df.select(col("sample"), col("image"), col("ts")).as[(String, SparkImage, String)], dir) {
      case (sample, img, ts) =>
        Iterator.single(s"${safeName(sample)}.dcm" -> ImageCodecIO.encodeDicom(img, instance = 1,
          slice = 0, transferSyntax = ts, frames = img.slices,
          palette = Some((lutR, lutG, lutB, firstMapped))))
    }
  }

  /** Multi-frame DICOM load: each FILE is a whole stack (frames →
    * slices in frame order), so — unlike [[loadDicomSeries]] — there
    * is NO regroup shuffle at all: decode is pure per-file map work in
    * the distributed `imagedir` scan, and a 100 TB archive of
    * multi-frame objects parallelizes file-per-task end to end. A query
    * that drops `image` (`select("name")`) reads no file bytes. */
  def loadDicomMultiFrame(spark: SparkSession, pathGlob: String): DataFrame =
    imageFiles(spark, pathGlob)
      .select(regexp_replace(col("name"), "\\.dcm$", "").as("name"), col("image"))

  /** Archive inventory over a DICOM file glob — the cheap first pass
    * a PACS ingest runs before committing to a decode plan: per
    * transfer syntax, how many files / series / instances and what
    * geometry. Reads ONLY each file's header, up to the PixelData tag
    * ([[ImageCodecIO.dicomHeader]]), and refuses what a decode would
    * refuse on the header alone (unsupported syntax, missing dims,
    * bad bit depth, frame count, photometric, sample, sign or palette
    * rules); no pixel is decoded. Per-file map work on the distributed
    * `imagedir` scan's `content`, no shuffle beyond the final
    * syntax-count agg, which is bounded by the handful of registered
    * syntaxes. */
  def dicomCensus(spark: SparkSession, pathGlob: String): DataFrame = {
    val header = udf { (path: String, content: Array[Byte]) =>
      val h = ImageCodecIO.dicomHeader(path, content)
      (h.ts, h.instance, h.cols, h.rows)
    }
    imageFiles(spark, pathGlob)
      .select(col("name"), header(col("path"), col("content")).as("d"))
      .select(col("d._1").as("ts"), regexp_replace(col("name"), "_\\d+\\.dcm$", "").as("series"),
        col("d._2").as("inst"), col("d._3").as("w"), col("d._4").as("h"))
      .groupBy(col("ts"))
      .agg(count(lit(1)).as("n_files"),
        countDistinct(col("series")).as("n_series"),
        min(col("inst")).cast("long").as("min_inst"),
        max(col("inst")).cast("long").as("max_inst"),
        sum(col("w")).cast("long").as("sum_w"),
        sum(col("h")).cast("long").as("sum_h"))
  }

  /** `k=v` args strings for parameter sweeps (the reference's
    * ParameterSweep generators, ParameterSweep.scala:22-37; arg format
    * parseArgsWithDelim, 86-92). */
  def linearRange(name: String, lo: Double, hi: Double, steps: Int): Seq[String] = {
    require(steps > 1, "steps must be > 1")
    (0 until steps).map(i => s"$name=${lo + (hi - lo) * i / (steps - 1)}")
  }

  /** Logarithmically spaced sweep (the reference declares Log as a
    * StepType but never implements it, ParameterSweep.scala:41-71). */
  def logRange(name: String, lo: Double, hi: Double, steps: Int): Seq[String] = {
    require(steps > 1 && lo > 0 && hi > 0, "steps > 1 and positive bounds")
    (0 until steps).map { i =>
      s"$name=${math.exp(math.log(lo) + (math.log(hi) - math.log(lo)) * i / (steps - 1))}"
    }
  }

  /** Fixed value list (ParameterSweep.fixedRange, ParameterSweep.scala:35-37). */
  def fixedRange(name: String, values: Seq[Double]): Seq[String] =
    values.map(v => s"$name=$v")

  /** Cartesian combination of two sweeps into combined arg strings
    * (ImageJMacroStepsToSweep cartesian mode, ParameterSweep.scala:126-135). */
  def cartesian(a: Seq[String], b: Seq[String]): Seq[String] =
    for (x <- a; y <- b) yield s"$x $y"

  /** Positional zip of two sweeps (zipped mode, ParameterSweep.scala:228-317). */
  def zipped(a: Seq[String], b: Seq[String]): Seq[String] =
    a.zip(b).map { case (x, y) => s"$x $y" }

  /** Interpolate between full macro arg-strings, integer-aware — the
    * reference's `ImageJMacroStepsToSweep` (ParameterSweep.scala:
    * 126-135, sweepArgs 228-317): each key seen across the endpoint
    * strings becomes a range; a key whose two endpoint values are both
    * numeric interpolates over `steps` (integral endpoints produce
    * distinct ints, floats produce floats); non-numeric or constant
    * keys stay fixed. `cartesian=true` crosses the per-key ranges,
    * otherwise ranges zip positionally (constant keys riding along).
    */
  def macroStepsToSweep(endpoints: Seq[String], steps: Int = 5,
                        cartesian: Boolean = true): Seq[String] = {
    require(steps > 1, "steps must be > 1")
    require(endpoints.nonEmpty, "need at least one endpoint arg-string")
    val parsed = endpoints.map(Kernels.parseArgs)
    val keys = parsed.flatMap(_.keys).distinct // stable first-seen order
    def isLongNum(s: String) = s.nonEmpty && s.matches("-?\\d+")
    def isNum(s: String) = scala.util.Try(s.toDouble).isSuccess
    val grid = (0 until steps).map(_ / (steps - 1.0))
    val ranges: Seq[(String, Seq[String])] = keys.map { k =>
      val vals = parsed.flatMap(_.get(k)).distinct
      val range = vals match {
        case Seq(single) => Seq(single)
        case Seq(lo, hi) if isLongNum(lo) && isLongNum(hi) =>
          grid.map(t => (lo.toDouble + t * (hi.toDouble - lo.toDouble)).toInt)
            .distinct.map(_.toString)
        case Seq(lo, hi) if isNum(lo) && isNum(hi) =>
          grid.map(t => (lo.toDouble + t * (hi.toDouble - lo.toDouble)).toString)
        case other => other // non-numeric / 3+ endpoints: enumerate as-is
      }
      k -> range
    }
    if (cartesian)
      ranges.foldLeft(Seq("")) { case (acc, (k, range)) =>
        for (prefix <- acc; v <- range)
          yield if (prefix.isEmpty) s"$k=$v" else s"$prefix $k=$v"
      }
    else {
      val n = ranges.map(_._2.length).max
      (0 until n).map { i =>
        ranges.map { case (k, range) =>
          s"$k=${range(math.min(i, range.length - 1))}"
        }.mkString(" ")
      }
    }
  }

  implicit class GraftImageOps(df: DataFrame) {

    /** Run a kernel over every image (rebuild of runAll,
      * scOps.scala:192-198): one `withColumn`, stays in a single
      * codegen stage — no mapPartitions, no per-partition init. */
    def runAll(cmd: String, args: String = "", imageCol: String = "image"): DataFrame =
      df.withColumn(imageCol,
        ImageFunctions.run2Udf(col(imageCol), lit(cmd), lit(args)))

    /** Parameter sweep (rebuild of runRange, scOps.scala:207-224):
      * explode the args grid — each image row fans out to one row per
      * parameter value, tagged with a path suffix like the reference's
      * SweepToPath (ParameterSweep.scala:137-176). */
    def runRange(cmd: String, argsList: Seq[String],
                 sampleCol: String = "sample", imageCol: String = "image"): DataFrame =
      df.withColumn("sweep_args", explode(typedLit(argsList)))
        .withColumn(sampleCol,
          concat(col(sampleCol), lit("/"), regexp_replace(col("sweep_args"), "[^A-Za-z0-9=.]", "_")))
        .withColumn(imageCol,
          ImageFunctions.run2Udf(col(imageCol), lit(cmd), col("sweep_args")))
        .drop("sweep_args")

    /** Per-image statistics (rebuild of getStatistics, scOps.scala:227-229). */
    def getStatistics(imageCol: String = "image"): DataFrame =
      df.withColumn("stats", ImageFunctions.statsUdf(col(imageCol)))
  }
}
