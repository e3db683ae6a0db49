package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 file-directory image source — the DDL face of `loadImages`
  * (reference `loadImages`/`ijFile`, scOps.scala:75-97, 309-316):
  *
  * {{{
  * CREATE TEMPORARY VIEW MyImages
  * USING imagedir OPTIONS (path "/data/imgs", pattern ".*\\.png")
  * }}}
  *
  * Schema: path, name, size, image. Column pruning means a catalog
  * query (`SELECT path, size`) reads directory entries only — no file
  * bytes, no decode; the reference's source decoded everything always.
  * Files are dealt round-robin over `partitions` input partitions in
  * sorted path order (file i to partition i mod n), so placement is
  * deterministic. Contiguous slices would put files that sort together
  * (one series, or one codec's files named alike) into one task, and
  * that task would set the scan's wall time whenever their decode
  * costs more than the rest.
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
    StructField("image", ImageDebugSource.imageSchema, nullable = true)))

  private[sources] def listFiles(dir: String, pattern: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) return Seq.empty
    val rx = pattern.r
    val s = java.nio.file.Files.list(p)
    try s.iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f))
      .map(_.toString)
      .filter(f => rx.matches(f.substring(f.lastIndexOf('/') + 1)))
      .toSeq.sorted
    finally s.close()
  }
}

class ImageDirTable(options: Map[String, String]) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"imagedir(${options.getOrElse("path", ".")})"
  override def schema(): StructType = ImageDirSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ImageDirScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ImageDirWriteBuilder(options, info.schema())
}

/** Write path — the capability the reference only stubbed
  * (`CreatableRelationProvider` with an unimplemented createRelation,
  * AbstractImageSource.scala:47-54): each input row encodes one file
  * `<name>` under the table's `path` (format from the `format` option
  * or the name's extension; default png). `path`/`size` input columns
  * are ignored on write — they're recomputed by the next scan.
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
    ImageDirWriterFactory(options.getOrElse("path", "."),
      options.get("format"), inputSchema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

case class ImageDirWriterFactory(dir: String, format: Option[String],
                                 inputSchema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val nameIdx = inputSchema.fieldIndex("name")
    val imageIdx = inputSchema.fieldIndex("image")
    val imageFields = ImageDebugSource.imageSchema.length
    val toImage = CatalystTypeConverters.createToScalaConverter(ImageDebugSource.imageSchema)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = {
        if (row.isNullAt(imageIdx)) return
        val name = row.getUTF8String(nameIdx).toString
        val r = toImage(row.getStruct(imageIdx, imageFields))
          .asInstanceOf[org.apache.spark.sql.Row]
        val meta = r.getStruct(0)
        val img = graft.core.SparkImage(
          graft.core.ImageMeta(meta.getDouble(0), meta.getDouble(1), meta.getDouble(2),
            meta.getDouble(3), meta.getDouble(4), meta.getDouble(5), meta.getDouble(6),
            meta.getDouble(7), meta.getString(8), meta.getString(9), meta.getString(10),
            meta.getString(11), meta.getString(12), meta.getString(13),
            meta.getSeq[Double](14), meta.getSeq[Double](15)),
          r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5),
          r.getAs[Array[Byte]](6))
        val fmt = format.getOrElse {
          val dot = name.lastIndexOf('.')
          if (dot > 0) name.substring(dot + 1) else "png"
        }
        // same sanitization as ImageOps.saveImages: flat files only, and
        // never a leading "_"/"." (Spark's file index hides those)
        val safe = name.replaceAll("[^A-Za-z0-9._-]", "_")
          .replaceAll("^[_.]+", "") match {
            case "" => "img"
            case s => s
          }
        val file = if (safe.contains('.')) safe else s"$safe.$fmt"
        val out = java.nio.file.Paths.get(dir, file)
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out, ImageCodecIO.encode(img, fmt))
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
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new ImageDirScan(options, required)
}

class ImageDirScan(options: Map[String, String], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val files = ImageDirSource.listFiles(
      options.getOrElse("path", "."),
      options.getOrElse("pattern", ".*\\.(png|gif|bmp)")).toArray
    val parts = math.max(1, math.min(options.getOrElse("partitions", "8").toInt,
      math.max(1, files.length)))
    Array.tabulate[InputPartition](parts) { p =>
      ImageDirPartition((p until files.length by parts).map(files).toArray)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ImageDirReaderFactory(required)
}

case class ImageDirPartition(files: Array[String]) extends InputPartition

class ImageDirReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[ImageDirPartition].files
    new PartitionReader[InternalRow] {
      private var i = -1
      private val fieldNames = required.fieldNames
      private val converter = CatalystTypeConverters.createToCatalystConverter(required)

      override def next(): Boolean = { i += 1; i < files.length }

      override def get(): InternalRow = {
        val path = files(i)
        val nio = java.nio.file.Paths.get(path)
        val values: Seq[Any] = fieldNames.toSeq.map {
          case "path" => path
          case "name" => nio.getFileName.toString
          case "size" => java.nio.file.Files.size(nio)
          case "image" => // only decoded when the column is required
            ImageCodecIO.decode(path, java.nio.file.Files.readAllBytes(nio))
          case other => throw new IllegalArgumentException(s"unknown column $other")
        }
        converter(org.apache.spark.sql.Row.fromSeq(values)).asInstanceOf[InternalRow]
      }

      override def close(): Unit = ()
    }
  }
}
