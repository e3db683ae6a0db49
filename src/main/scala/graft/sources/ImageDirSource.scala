package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.core.SparkImage
import graft.ops.ImageOps

/** DSv2 file-directory image source — the DDL face of `loadImages`
  * (reference `loadImages`/`ijFile`, scOps.scala:75-97, 309-316), and
  * the one reader every `ImageOps` loader scans through:
  *
  * {{{
  * CREATE TEMPORARY VIEW MyImages
  * USING imagedir OPTIONS (path "/data/imgs", pattern ".*\\.png")
  * }}}
  *
  * Options: `path` (a directory on any Hadoop FS scheme, read with the
  * session's Hadoop configuration), `pattern` (a regex the file name
  * must match), `partitions` (default: the session's default
  * parallelism, capped by the file count) and, on write, `format`.
  *
  * The directory is listed once, on the driver, at planning time: its
  * direct children that are files, whose names match `pattern` and do
  * not start with `_` or `.` (Spark's file index hides those too, which
  * keeps out `.crc` side files). Schema: path (qualified Hadoop path),
  * name, size (from the listing), content (the file's bytes), image.
  * Column pruning means a catalog query (`SELECT name, size`) opens no
  * file: only `content` and `image` read bytes, and only `image`
  * decodes; the reference's source decoded everything always.
  * Files are dealt round-robin over the input partitions in sorted path
  * order (file i to partition i mod n), so placement is deterministic.
  * Contiguous slices would put files that sort together (one series, or
  * one codec's files named alike) into one task, and that task would
  * set the scan's wall time whenever their decode costs more than the
  * rest.
  */
class ImageDirSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "imagedir"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ImageDirSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ImageDirTable(properties.asScala.toMap.map { case (k, v) => k.toLowerCase -> v })
}

object ImageDirSource {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("image", ImageDebugSource.imageSchema, nullable = true)))

  /** Sorted (qualified path, size) of the files under `dir` to scan. */
  private[sources] def listFiles(spark: SparkSession, dir: String,
                                 pattern: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val rx = pattern.r
    val statuses =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    statuses.filter { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith("_") && !name.startsWith(".") && rx.matches(name)
    }.map(s => (s.getPath.toString, s.getLen)).sortBy(_._1)
  }
}

class ImageDirTable(options: Map[String, String]) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"imagedir(${options.getOrElse("path", ".")})"
  override def schema(): StructType = ImageDirSource.schema
  // a write needs only `name` and `image`: the read-only columns need
  // not be supplied
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ImageDirScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema()
    def has(col: String, t: DataType) = in.fieldNames.contains(col) &&
      DataType.equalsStructurally(in(col).dataType, t, ignoreNullability = true)
    require(has("name", StringType) && has("image", ImageDebugSource.imageSchema),
      s"imagedir write needs a string `name` and an image `image` column: ${in.simpleString}")
    new ImageDirWriteBuilder(options, in)
  }
}

/** Write path — the capability the reference only stubbed
  * (`CreatableRelationProvider` with an unimplemented createRelation,
  * AbstractImageSource.scala:47-54): each input row encodes one file
  * `<name>` under the table's `path` (format from the `format` option
  * or the name's extension; default png), through the Hadoop FS and
  * named as [[graft.ops.ImageOps.saveImages]] names its files. Other
  * input columns are ignored on write — the next scan recomputes them.
  * Overwrite mode truncates by accepting the same directory (files are
  * replaced name-by-name; stale names are NOT deleted — shared-FS
  * semantics, same contract as [[graft.ops.ImageOps.saveImages]]). */
class ImageDirWriteBuilder(options: Map[String, String], inputSchema: StructType)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = this
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new ImageDirBatchWrite(options, inputSchema)
  }
}

class ImageDirBatchWrite(options: Map[String, String], inputSchema: StructType)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    ImageDirWriterFactory(options.getOrElse("path", "."), options.get("format"),
      inputSchema.fieldIndex("name"), inputSchema.fieldIndex("image"),
      HadoopConfBroadcast(SparkSession.active.sparkContext))
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

case class ImageDirWriterFactory(dir: String, format: Option[String], nameIdx: Int,
                                 imageIdx: Int, conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val imageFields = ImageDebugSource.imageSchema.length
    val toImage = ExpressionEncoder[SparkImage]().resolveAndBind().createDeserializer()
    val base = new Path(dir)
    val fs = base.getFileSystem(conf.value.value)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = {
        if (row.isNullAt(imageIdx)) return
        val name = row.getUTF8String(nameIdx).toString
        val fmt = format.getOrElse {
          val dot = name.lastIndexOf('.')
          if (dot > 0) name.substring(dot + 1) else "png"
        }
        val safe = ImageOps.safeName(name)
        val os = fs.create(new Path(base, if (safe.contains('.')) safe else s"$safe.$fmt"), true)
        try os.write(ImageCodecIO.encode(toImage(row.getStruct(imageIdx, imageFields)), fmt))
        finally os.close()
      }
      override def commit(): WriterCommitMessage = new WriterCommitMessage {}
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
  }
}

class ImageDirScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = ImageDirSource.schema
  // nested schema pruning can ask for part of `image` (`image.width`),
  // but the reader builds the whole struct: keep each column whole
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fieldNames.map(ImageDirSource.schema(_)))
  override def build(): Scan = new ImageDirScan(options, required)
}

class ImageDirScan(options: Map[String, String], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // planning copies the scan's exec node several times, and each copy
  // asks for the partitions and the reader factory: list the directory
  // and build the factory once per scan
  private lazy val partitions: Array[InputPartition] = {
    val spark = SparkSession.active
    val files = ImageDirSource.listFiles(spark,
      options.getOrElse("path", "."),
      options.getOrElse("pattern", ".*\\.(png|gif|bmp)")).toArray
    val parts = math.max(1, math.min(
      options.get("partitions").map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism),
      files.length))
    Array.tabulate[InputPartition](parts) { p =>
      val mine = (p until files.length by parts).map(files)
      ImageDirPartition(mine.map(_._1).toArray, mine.map(_._2).toArray)
    }
  }

  // only `content` and `image` open files; a metadata scan ships no
  // configuration
  private lazy val readerFactory: PartitionReaderFactory =
    new ImageDirReaderFactory(required,
      if (!required.fieldNames.exists(Set("content", "image"))) None
      else Some(HadoopConfBroadcast(SparkSession.active.sparkContext)))

  override def planInputPartitions(): Array[InputPartition] = partitions
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

case class ImageDirPartition(files: Array[String], sizes: Array[Long]) extends InputPartition

class ImageDirReaderFactory(required: StructType,
                            val conf: Option[Broadcast[SerializableConfiguration]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[ImageDirPartition]
    new PartitionReader[InternalRow] {
      private var i = -1
      private val fieldNames = required.fieldNames
      private val converter = CatalystTypeConverters.createToCatalystConverter(required)

      override def next(): Boolean = { i += 1; i < part.files.length }

      override def get(): InternalRow = {
        val path = part.files(i)
        val size = part.sizes(i)
        // bytes are read only when `content` or `image` is required
        lazy val content: Array[Byte] = {
          require(size <= Int.MaxValue - 8, s"image file too large ($size bytes): $path")
          val p = new Path(path)
          val in = p.getFileSystem(conf.get.value.value).open(p)
          val bytes = new Array[Byte](size.toInt)
          try in.readFully(0L, bytes) finally in.close()
          bytes
        }
        val values: Seq[Any] = fieldNames.toSeq.map {
          case "path" => path
          case "name" => path.substring(path.lastIndexOf('/') + 1)
          case "size" => size
          case "content" => content
          case "image" => ImageCodecIO.decode(path, content)
          case other => throw new IllegalArgumentException(s"unknown column $other")
        }
        converter(org.apache.spark.sql.Row.fromSeq(values)).asInstanceOf[InternalRow]
      }

      override def close(): Unit = ()
    }
  }
}
