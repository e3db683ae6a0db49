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
    parts.flatten.sorted shouldBe names.map(n => dir.resolve(n).toString).sorted
    parts.head shouldBe Seq(0, 4, 8).map(i => names.map(n => dir.resolve(n).toString).sorted.apply(i))
    plan() shouldBe parts
  }

  test("binaryFiles reads a last-component glob as its directory: glob's rows, no job before the action") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_glob")
    (0 until 40).foreach(i => Files.write(dir.resolve(f"s_$i%02d.dcm"), Array.fill[Byte](i + 1)(i.toByte)))
    Files.write(dir.resolve("notes.txt"), Array[Byte](1, 2))
    Files.write(dir.resolve("_hidden.dcm"), Array[Byte](3))
    Files.write(Files.createDirectory(dir.resolve("sub")).resolve("s_99.dcm"), Array[Byte](9))
    val glob = s"$dir/*.dcm"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Seq[Byte])] =
      df.select("path", "length", "content").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSeq.sortBy(_._1)
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
      val (globDf, globJobs) = jobsWhileBuilding("graft-glob")(spark.read.format("binaryFile").load(glob))
      globJobs should be > 0 // above 32 root paths Spark lists with a job
      val (dirDf, dirJobs) = jobsWhileBuilding("graft-dir")(ImageOps.binaryFiles(spark, glob))
      dirJobs shouldBe 0
      val expected = rows(globDf)
      expected.length shouldBe 40
      rows(dirDf) shouldBe expected
    } finally sc.removeSparkListener(listener)
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
