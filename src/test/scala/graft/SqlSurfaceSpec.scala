package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.Kernels
import graft.functions.ImageFunctions
import graft.ops.ImageOps
import graft.ops.ImageOps.GraftImageOps
import graft.queries.ImageQueries

/** SQL end-to-end tests: the reference's IJSqlTest + DDLTests shapes. */
class SqlSurfaceSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark

  test("3-stage SQL pipeline: noise → median → stats (IJSqlTest.scala:150-170)") {
    ImageFunctions.registerAll(spark)
    ImageQueries.debugImages(spark, count = 5).createOrReplaceTempView("Images")
    spark.sql("SELECT sample, run(image, 'Add Noise') AS nsImg FROM Images")
      .createOrReplaceTempView("NoisyImages")
    spark.sql("SELECT sample, run2(nsImg, 'Median...', 'radius=2') AS fImg FROM NoisyImages")
      .createOrReplaceTempView("FilteredImages")
    val rows = spark.sql("SELECT sample, stats(fImg) AS st FROM FilteredImages").collect()
    rows.length shouldBe 5
    // distinct sample count like IJSqlTest.scala:52-56
    spark.table("Images").select(col("sample")).distinct.count() shouldBe 5
  }

  test("distributed-vs-local oracle: runAll stats equal local kernel stats (SpijiTests.scala:312-343)") {
    import spark.implicits._
    val df = ImageQueries.debugImages(spark, count = 8).repartition(3)
    val distributed = df.runAll("Add Specified Noise...", "standard=10")
      .getStatistics()
      .select(col("sample"), col("stats.mean"), col("stats.stdDev"))
      .as[(String, Double, Double)].collect()
      .map { case (s, m, sd) => s -> (m, sd) }.toMap
    val local = ImageQueries.debugImages(spark, count = 8)
      .as[(String, graft.core.SparkImage)].collect()
      .map { case (s, img) =>
        val st = Kernels.stats(Kernels.run(img, "Add Specified Noise...", "standard=10"))
        s -> (st.mean, st.stdDev)
      }.toMap
    distributed shouldBe local // hash-exact, not tolerance: kernels are seeded
  }

  test("explode over int arrays: 66 rows, 11 samples (IJSqlTest.scala:40-74)") {
    import spark.implicits._
    val df = (0 to 10).map(i => (s"SQ:$i", (0 to i).toArray)).toDF("sample", "intArray")
    df.createOrReplaceTempView("test_table")
    val exploded = spark.sql("SELECT sample, explode(intArray) AS nums FROM test_table")
    exploded.count() shouldBe 66
    exploded.select("sample").distinct.count() shouldBe 11
    // HiveQL LATERAL VIEW form (IJSqlTest.scala:65-69)
    spark.sql("SELECT sample, nums FROM test_table LATERAL VIEW explode(intArray) splod AS nums")
      .count() shouldBe 66
  }

  test("DDL: CREATE TEMPORARY VIEW USING imagedebug (DDLTests.scala:38-63)") {
    spark.sql("DROP VIEW IF EXISTS DebugImages")
    spark.sql("""CREATE TEMPORARY VIEW DebugImages
      USING imagedebug OPTIONS (path "/debug/imgs", count "7", width "100", height "50")""")
    val df = spark.table("DebugImages")
    df.schema.fieldNames.toSeq shouldBe Seq("path", "name", "parent", "fullpath",
      "width", "height", "slices", "image")
    df.count() shouldBe 7
    // metadata-only projection must not fail and must prune (schema check)
    val meta = df.select("name", "width", "height", "slices")
    meta.count() shouldBe 7
    meta.queryExecution.executedPlan.toString should not include "image#"
    // pixel read through SQL
    val means = spark.sql("SELECT stats(image)['mean'] AS m FROM DebugImages ORDER BY path")
      .collect().map(_.getDouble(0))
    means should contain (1000.0)
  }

  test("DDL: imagedir reads a directory of files, prunes decode for metadata") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dirsrc").toString
    val df = ImageQueries.debugImages(spark, count = 5)
      .withColumn("image", ImageFunctions.run2Udf(col("image"), lit("8-bit"), lit("")))
    graft.ops.ImageOps.saveImages(df, dir)
    spark.sql("DROP VIEW IF EXISTS DirImages")
    spark.sql(s"""CREATE TEMPORARY VIEW DirImages
      USING imagedir OPTIONS (path "$dir")""")
    spark.table("DirImages").count() shouldBe 5
    // metadata-only: plan prunes the image column (no decode)
    val meta = spark.table("DirImages").select("name", "size")
    meta.queryExecution.executedPlan.toString should not include "image#"
    meta.collect().foreach(_.getLong(1) should be > 0L)
    // pixel read through the source
    ImageFunctions.registerAll(spark)
    val means = spark.sql("SELECT stats(image)['mean'] AS m FROM DirImages")
      .collect().map(_.getDouble(0))
    means.foreach(_ shouldBe 255.0) // 8-bit clamps the kilofills to 255
  }

  test("imagedir scan deals sorted files round-robin: files that sort together spread out") {
    import graft.sources.{ImageDirPartition, ImageDirScan, ImageDirSource}
    spark // the scan lists through the active session's Hadoop FS
    val dir = java.nio.file.Files.createTempDirectory("graft_dirplan")
    // six files sharing a prefix sort together, as one codec's files do
    val names = (0 until 6).map(i => s"a_j2k_$i.dcm") ++ (0 until 6).map(i => s"b_$i.png")
    names.foreach(n => java.nio.file.Files.write(dir.resolve(n), Array[Byte](1)))
    def plan(): Seq[Seq[String]] =
      new ImageDirScan(Map("path" -> dir.toString, "pattern" -> ".*", "partitions" -> "4"),
        ImageDirSource.schema).planInputPartitions().toSeq
        .map(_.asInstanceOf[ImageDirPartition].files.toSeq)
    val parts = plan()
    parts.length shouldBe 4
    parts.indices.filter(p => parts(p).exists(_.contains("a_j2k_"))).size shouldBe 4
    parts.flatten.sorted shouldBe names.map(n => s"file:${dir.resolve(n)}").sorted
    parts.head shouldBe Seq(0, 4, 8).map(i => names.map(n => s"file:${dir.resolve(n)}").sorted.apply(i))
    plan() shouldBe parts
  }

  test("imageFiles reads a file-name glob's directory, no job before the action") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_glob")
    (0 until 40).foreach(i => Files.write(dir.resolve(f"s_$i%02d.dcm"), Array.fill[Byte](i + 1)(i.toByte)))
    Files.write(dir.resolve("notes.txt"), Array[Byte](1, 2))
    Files.write(dir.resolve("_hidden.dcm"), Array[Byte](3))
    Files.write(Files.createDirectory(dir.resolve("sub")).resolve("s_99.dcm"), Array[Byte](9))
    val glob = s"$dir/*.dcm"
    // jobs by group, read after a marker job: the listener bus delivers
    // events in order, so once the marker is seen every earlier job is
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    def jobsWhileBuilding(group: String)(build: => org.apache.spark.sql.DataFrame) = {
      sc.setJobGroup(group, "construction only")
      val df = try build finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains(s"$group-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      started.contains(s"$group-marker") shouldBe true
      (df, started.toArray.count(_ == group))
    }
    try {
      val (df, jobs) = jobsWhileBuilding("graft-dir")(ImageOps.imageFiles(spark, glob))
      jobs shouldBe 0
      // notes.txt fails the glob, _hidden.dcm is hidden, sub/ is not a direct child
      df.select("name", "size", "content").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSeq
        .sortBy(_._1) shouldBe
        (0 until 40).map(i => (f"s_$i%02d.dcm", i + 1L, Seq.fill[Byte](i + 1)(i.toByte)))
    } finally sc.removeSparkListener(listener)
  }

  test("loadDicomMultiFrame: a name-only projection decodes no file") {
    import spark.implicits._
    import graft.core.PixelCodec
    val dir = java.nio.file.Files.createTempDirectory("graft_mf_names").toString
    val stacks = spark.range(3L).map { i =>
      (s"mf_$i", Kernels.constantImage(8, 4, 1, i * 10.0 + 5.0, PixelCodec.Short16),
        graft.sources.ImageCodecIO.TsExplicitLE, 0)
    }.toDF("sample", "image", "ts", "planar")
    ImageOps.saveDicomMultiFrame(stacks, dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bad.dcm"), Array.fill[Byte](64)(7))
    val df = ImageOps.loadDicomMultiFrame(spark, s"$dir/*.dcm")
    df.select("name").as[String].collect().sorted shouldBe Array("bad", "mf_0", "mf_1", "mf_2")
    val e = intercept[Exception](df.select("image").collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("bad.dcm")) shouldBe true
  }

  test("dicomCensus reads headers only: garbage after PixelData changes no row; bad headers still throw") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import graft.core.PixelCodec
    val dir = Files.createTempDirectory("graft_census_hdr")
    val intact = dir.resolve("intact"); val garbled = Files.createDirectory(dir.resolve("garbled"))
    val stacks = spark.range(2L).map { i =>
      val slices = (0 until 8).map(k =>
        Kernels.constantImage(12, 6, 1, i * 100.0 + k * 3.0 + 5.0, PixelCodec.Short16))
      (s"/census/$i", slices.reduce(Kernels.appendStack))
    }.toDF("sample", "image")
    ImageOps.saveDicomSeries(stacks, intact.toString)
    // every byte after the PixelData tag (little- or big-endian) overwritten
    val rnd = new scala.util.Random(7)
    val tags = Seq(Array(0xe0, 0x7f, 0x10, 0x00), Array(0x7f, 0xe0, 0x00, 0x10)).map(_.map(_.toByte))
    val files = Files.list(intact).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".dcm"))
    files.length shouldBe 16
    files.foreach { f =>
      val bytes = Files.readAllBytes(f)
      val at = (132 until bytes.length - 4).find(i => tags.exists(bytes.slice(i, i + 4).sameElements(_))).get
      (at + 4 until bytes.length).foreach(i => bytes(i) = rnd.nextInt(256).toByte)
      Files.write(garbled.resolve(f.getFileName), bytes)
    }
    def census(d: java.nio.file.Path) =
      ImageOps.dicomCensus(spark, s"$d/*.dcm").orderBy("ts").collect().toSeq
    val rows = census(intact)
    rows.length shouldBe 8
    rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(5), r.getLong(6))).distinct shouldBe
      Seq((2L, 2L, 24L, 12L))
    census(garbled) shouldBe rows
    // a decode of the same files does not survive the garbage
    intercept[Exception](ImageOps.loadDicomSeries(spark, s"$garbled/*.dcm").collect())
    def thrownNames(d: java.nio.file.Path, name: String) = {
      val e = intercept[Exception](census(d))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(name))
    }
    val junk = Files.createDirectory(dir.resolve("junk"))
    Files.copy(files.head, junk.resolve("ok.dcm"))
    Files.write(junk.resolve("junk.dcm"), Array.fill[Byte](300)(7))
    thrownNames(junk, "junk.dcm") shouldBe true
    // the explicit little-endian syntax UID, padded, rewritten to one no decoder speaks
    val mpeg = Files.createDirectory(dir.resolve("mpeg"))
    val explicitLe = "1.2.840.10008.1.2.1\u0000".getBytes("US-ASCII")
    val src = files.map(Files.readAllBytes).find(b => b.indices.exists(i =>
      b.slice(i, i + explicitLe.length).sameElements(explicitLe))).get
    val at = src.indices.find(i => src.slice(i, i + explicitLe.length).sameElements(explicitLe)).get
    "1.2.840.10008.1.2.9\u0000".getBytes("US-ASCII").copyToArray(src, at)
    Files.write(mpeg.resolve("mpeg.dcm"), src)
    thrownNames(mpeg, "mpeg.dcm") shouldBe true
  }

  test("imagedir: a query on a field of `image` reads the whole struct") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_img_field").toString
    ImageOps.saveImages(ImageQueries.debugImages(spark, count = 3, width = 20, height = 10)
      .withColumn("image", ImageFunctions.run2Udf(col("image"), lit("8-bit"), lit(""))), dir)
    ImageOps.loadImages(spark, s"$dir/*.png")
      .select(col("image.width"), col("image.height"), col("image.slices"))
      .as[(Int, Int, Int)].collect().toSeq shouldBe Seq.fill(3)((20, 10, 1))
  }

  test("the Hadoop configuration ships once per session, not once per scan") {
    import org.apache.spark.broadcast.Broadcast
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.util.SerializableConfiguration
    import graft.sources.ImageDirReaderFactory
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_conf_ship").toString
    val out = java.nio.file.Files.createTempDirectory("graft_conf_ship_out").toString
    ImageOps.saveImages(ImageQueries.debugImages(spark, count = 2)
      .withColumn("image", ImageFunctions.run2Udf(col("image"), lit("8-bit"), lit(""))), dir)
    val glob = s"$dir/*.png"
    // the configuration broadcast the scan's reader factory holds, after running it
    def shipped(df: DataFrame): Option[Broadcast[SerializableConfiguration]] = {
      df.collect().length shouldBe 2
      val factories = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b.readerFactory.asInstanceOf[ImageDirReaderFactory]
      }
      factories.length shouldBe 1
      factories.head.conf
    }
    // the sink ships no broadcast of its own: one stage, one task binary
    def broadcastsBy(f: => Unit): Long = {
      val before = sc.broadcast(0).id
      f
      sc.broadcast(0).id - before - 1
    }
    val first = shipped(ImageOps.loadImages(spark, glob).select("image")).get
    val second = shipped(ImageOps.imageFiles(spark, glob).select("content")).get
    broadcastsBy(ImageOps.saveImages(ImageOps.loadImages(spark, glob), out)) shouldBe 1
    second.id shouldBe first.id
    shipped(ImageOps.loadImages(spark, glob).select("image")).get.id shouldBe first.id
    shipped(ImageOps.imageFiles(spark, glob).select("name")) shouldBe None
    sc.hadoopConfiguration.set("graft.test.shipMarker", "42")
    try {
      val fresh = shipped(ImageOps.loadImages(spark, glob).select("image")).get
      fresh.id should not be first.id
      fresh.value.value.get("graft.test.shipMarker") shouldBe "42"
    } finally sc.hadoopConfiguration.unset("graft.test.shipMarker")
  }

  test("runRange parameter sweep fans out rows (scOps.scala:207-224)") {
    val swept = ImageQueries.debugImages(spark, count = 3)
      .runRange("Median...", ImageOps.linearRange("radius", 1, 3, 3))
    swept.count() shouldBe 9
    swept.select("sample").distinct.count() shouldBe 9
  }

  test("imagedir DSv2 write path: df.write round-trips through the directory source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dirwrite").toString
    val df = ImageQueries.debugImages(spark, count = 4)
      .withColumn("image", ImageFunctions.run2Udf(col("image"), lit("8-bit"), lit("")))
      .select(lit("").as("path"), concat(col("sample"), lit(".png")).as("name"),
              lit(0L).as("size"), col("image"))
    df.write.format("imagedir").option("path", dir).mode("append").save()
    val back = spark.read.format("imagedir").option("path", dir).load()
    back.count() shouldBe 4
    ImageFunctions.registerAll(spark)
    back.createOrReplaceTempView("DirWritten")
    spark.sql("SELECT stats(image)['mean'] AS m FROM DirWritten")
      .as[Double].collect().foreach(_ shouldBe 255.0)
    // overwrite mode (TRUNCATE capability) replaces files name-by-name
    df.write.format("imagedir").option("path", dir).mode("overwrite").save()
    spark.read.format("imagedir").option("path", dir).load().count() shouldBe 4
  }

  test("imagedir DSv2 write path carries multi-slice stacks as multi-page TIFF") {
    import spark.implicits._
    import graft.core.{ImageLog, ImageMeta, PixelCodec, SparkImage}
    val dir = java.nio.file.Files.createTempDirectory("graft_dirwrite_tif").toString
    val stacks = spark.range(3L).map { i =>
      val slices = (0 until 2).map(k =>
        graft.core.Kernels.constantImage(8, 4, 1, i * 100.0 + k * 7.0, PixelCodec.Short16))
      ("", s"stack_$i.tif", 0L, slices.reduce(graft.core.Kernels.appendStack))
    }.toDF("path", "name", "size", "image")
    stacks.write.format("imagedir").option("path", dir)
      .option("format", "tif").mode("append").save()
    val back = spark.read.format("imagedir").option("path", dir)
      .option("pattern", ".*\\.tif").load()
      .select(col("name"),
        ImageFunctions.nslicesUdf(col("image")).as("ns"),
        ImageFunctions.sliceMeansUdf(col("image")).as("sm"))
      .as[(String, Int, Seq[Double])].collect().sortBy(_._1)
    back.map(_._2).toSeq shouldBe Seq(2, 2, 2)
    back.zipWithIndex.foreach { case ((_, _, sm), i) =>
      sm shouldBe Seq(i * 100.0, i * 100.0 + 7.0)
    }
  }

  test("macro-string sweep interpolation is integer-aware (ParameterSweep.scala:228-317)") {
    // integral endpoints interpolate as distinct ints; float endpoints
    // as floats; constant keys ride along; cartesian crosses keys
    ImageOps.macroStepsToSweep(Seq("radius=1 pad=7", "radius=5 pad=7"), steps = 5) shouldBe
      Seq("radius=1 pad=7", "radius=2 pad=7", "radius=3 pad=7", "radius=4 pad=7", "radius=5 pad=7")
    ImageOps.macroStepsToSweep(Seq("sigma=1.0", "sigma=2.0"), steps = 3) shouldBe
      Seq("sigma=1.0", "sigma=1.5", "sigma=2.0")
    // integer rounding collapses duplicate steps (reference .distinct)
    ImageOps.macroStepsToSweep(Seq("radius=1", "radius=2"), steps = 5) shouldBe
      Seq("radius=1", "radius=2")
    // cartesian across two varying keys: 3 x 3 combinations
    ImageOps.macroStepsToSweep(
      Seq("radius=1 sigma=0.0", "radius=3 sigma=1.0"), steps = 3).length shouldBe 9
    // zipped mode pairs ranges positionally
    ImageOps.macroStepsToSweep(
      Seq("radius=1 sigma=0.0", "radius=3 sigma=1.0"), steps = 3, cartesian = false) shouldBe
      Seq("radius=1 sigma=0.0", "radius=2 sigma=0.5", "radius=3 sigma=1.0")
    // a swept run fans out rows like runRange
    val swept = ImageQueries.debugImages(spark, count = 2)
      .runRange("Mean...", ImageOps.macroStepsToSweep(Seq("radius=1", "radius=3"), steps = 3))
    swept.count() shouldBe 6
  }

  test("save + load round trip via PNG (scOps.scala:262-271)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_imgs").toString
    val df = ImageQueries.debugImages(spark, count = 3)
      .withColumn("image", ImageFunctions.run2Udf(col("image"), lit("8-bit"), lit("")))
    ImageOps.saveImages(df, dir)
    val loaded = ImageOps.loadImages(spark, s"$dir/*.png")
    loaded.count() shouldBe 3
    // 8-bit clamps the 1000/2000/3000 fills to 255 — loaded stats confirm decode
    val sts = loaded.getStatistics().select($"stats.mean").as[Double].collect()
    sts.foreach(_ shouldBe 255.0)
  }

  test("saveDicomSeries + loadDicomSeries round-trips a 3-slice 16-bit stack") {
    import spark.implicits._
    import graft.core.{PixelCodec, SparkImage}
    val dir = java.nio.file.Files.createTempDirectory("graft_series_rt").toString
    // every slice spans the full unsigned 16-bit range, both byte orders matter
    val px = Array.tabulate(3 * 12 * 8)(i => ((i * 40503L + 17) % 65536).toDouble)
    val stack = Kernels.constantImage(12, 8, 3, 0.0, PixelCodec.Short16).withPixels(px)
    ImageOps.saveDicomSeries(Seq(("ct/a", stack)).toDF("sample", "image"), dir)
    val back = ImageOps.loadDicomSeries(spark, s"$dir/*.dcm").as[(String, SparkImage)].collect()
    back.map(_._1) shouldBe Array("ct_a")
    val img = back.head._2
    (img.width, img.height, img.slices, img.pixelType) shouldBe (12, 8, 3, PixelCodec.Short16)
    img.toDoubles shouldBe px
  }

  test("saveDicomPalette + loadDicomMultiFrame returns the LUT-expanded RGB") {
    import spark.implicits._
    import graft.core.{PixelCodec, SparkImage}
    import graft.sources.ImageCodecIO
    val dir = java.nio.file.Files.createTempDirectory("graft_palette_rt").toString
    // two frames of indices, some below firstMapped and past the LUT's end (both clamp)
    val idx = Array.tabulate(2 * 6 * 4)(i => ((i * 37) % 270).toDouble)
    val img = Kernels.constantImage(6, 4, 2, 0.0, PixelCodec.Short16).withPixels(idx)
    val luts = Seq((5, 11), (7, 23), (11, 37)).map { case (a, b) =>
      Array.tabulate(256)(i => ((i * a + b) % 256) << 8)
    }
    ImageOps.saveDicomPalette(Seq(("pal", img, ImageCodecIO.TsExplicitLE)).toDF("sample", "image", "ts"),
      dir, luts(0), luts(1), luts(2), firstMapped = 4)
    val back = ImageOps.loadDicomMultiFrame(spark, s"$dir/*.dcm").as[(String, SparkImage)].collect()
    back.map(_._1) shouldBe Array("pal")
    val rgb = back.head._2
    (rgb.width, rgb.height, rgb.slices, rgb.pixelType) shouldBe (6, 4, 2, PixelCodec.Rgb)
    rgb.data.toSeq shouldBe idx.toSeq.flatMap { v =>
      val i = math.min(math.max(v.toInt - 4, 0), 255)
      luts.map(lut => (lut(i) >> 8).toByte)
    }
  }

  test("CTAS materializes a derived image table; INSERT INTO appends (IJSqlTest.scala:187-242)") {
    ImageFunctions.registerAll(spark)
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    ImageQueries.debugImages(spark, count = 4).createOrReplaceTempView("CtasSrc")
    spark.sql("DROP TABLE IF EXISTS MaskedImages")
    spark.sql(s"""CREATE TABLE MaskedImages USING parquet LOCATION '$wh/masked'
      AS SELECT sample, run2(image, 'setThreshold', 'lower=1500 upper=99999') AS image
      FROM CtasSrc""")
    spark.table("MaskedImages").count() shouldBe 4
    spark.sql("""INSERT INTO MaskedImages
      SELECT concat(sample, '_b') AS sample,
             run2(image, 'setThreshold', 'lower=2500 upper=99999') AS image
      FROM CtasSrc""")
    spark.table("MaskedImages").count() shouldBe 8
    // the materialized structs stay runnable: stats over re-read images
    val means = spark.sql("SELECT stats(image)['mean'] AS m FROM MaskedImages")
      .collect().map(_.getDouble(0))
    means.foreach(m => (m == 0.0 || m == 255.0) shouldBe true)
    spark.sql("DROP TABLE MaskedImages")
  }

  test("average and runrow surface (PortableImagePlus.scala:217-232; SQLFunctions.scala:75-77)") {
    import spark.implicits._
    val a = graft.core.Kernels.constantImage(10, 10, 1, 300.0)
    val b = graft.core.Kernels.constantImage(10, 10, 1, 100.0)
    val df = Seq(("s1", a, b)).toDF("sample", "img_a", "img_b")
    val avg = df.select(ImageFunctions.averageUdf(col("img_a"), col("img_b"), lit(2.0)).as("img"))
      .select(ImageFunctions.statsUdf(col("img")).getField("mean")).as[Double].collect()
    avg.head shouldBe 200.0
    // runrow: first particle row as map<string,double>
    val blob = graft.core.Kernels.blobImage(64, 64, nBlobs = 3, seed = 7L)
    val row = graft.core.Kernels.runTable(
      graft.core.Kernels.run(blob, "setThreshold", "lower=50 upper=99999"),
      "Analyze Particles...", "").firstRow
    row("Area") should be > 0.0
  }

  test("registered scalar surface answers (SQLFunctions.scala:196-223)") {
    ImageFunctions.registerAll(spark)
    ImageQueries.debugImages(spark, count = 2).createOrReplaceTempView("ImgsFn")
    spark.sql("SELECT nslices(image) FROM ImgsFn").collect().map(_.getInt(0)) shouldBe Array(1, 1)
    spark.sql("SELECT mean(image) FROM ImgsFn ORDER BY sample").collect()
      .map(_.getDouble(0)) shouldBe Array(1000.0, 2000.0)
    spark.sql("SELECT size(listcommands())").collect().head.getInt(0) should be > 5
    val arr = spark.sql("SELECT toarray(image) FROM ImgsFn").collect()
    arr.length shouldBe 2
    val hist = spark.sql("SELECT hist3(image, 0, 6000, 6) AS h FROM ImgsFn ORDER BY sample")
      .selectExpr("h.counts[1]").collect().head.getLong(0)
    hist shouldBe 128L * 64L // fill 1000 lands in bin 1 of [0,6000)/6; 128x64 image
    spark.sql("SELECT hist_compare(image, image) FROM ImgsFn").collect()
      .head.getDouble(0) shouldBe 0.0 +- 1e-12
  }
}
