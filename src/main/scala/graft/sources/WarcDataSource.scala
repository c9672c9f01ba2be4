package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 WARC reader — `spark.read.format("warc").load(path)`.
  *
  * The WARC record table: files are listed by [[Warc.isWarcFile]] and
  * opened by [[Warc.openRecords]] (the same never-throw streaming
  * [[Warc.RecordIterator]] as [[Warc.readPages]]), and the engine sees a
  * real `Table` with
  *
  *  - one `InputPartition` per FILE (Common-Crawl's unit of work — a
  *    gzip member stream has no random access, so a file is the natural
  *    split; 64k files/crawl saturate any executor count),
  *  - COLUMN PRUNING pushed into the reader
  *    (`SupportsPushDownRequiredColumns`): a query that never touches
  *    `payload` still streams bytes to find record boundaries, but the
  *    multi-MB payload array is never copied into the row — metadata
  *    scans (`count`, url frontiers, type histograms) stop paying for
  *    body bytes in Tungsten rows, shuffles, and caches,
  *  - the usual V2 integration: the scan appears as `BatchScan warc` in
  *    `explain`, AQE sees its statistics interface, and `format("warc")`
  *    resolves via `DataSourceRegister` (META-INF/services).
  *
  * Schema: file, rec_idx, warc_type, url, warc_date, n_bytes,
  * payload. `n_bytes` stays available when
  * `payload` is pruned — the iterator knows the length without keeping
  * the bytes. Unreadable files contribute zero rows (first-mile
  * never-throw contract, as everywhere in [[Warc]]). */
class WarcDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "warc"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WarcTable(properties.asScala.toMap)
}

object WarcDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("rec_idx", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("url", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))

  /** Recursive listing of the non-empty WARC files ([[Warc.isWarcFile]])
    * under `path` (a file, a directory, or a comma-less glob), sorted —
    * driver-side metadata only, content untouched. Below the roots, hidden
    * names are skipped at every level ([[Warc.isVisibleName]]), as the
    * `binaryFile` listing of `readPages` skips them. The scan plans its
    * partitions from it, so a sidecar is never a partition. */
  private[sources] def listFiles(path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    val roots: Seq[FileStatus] =
      Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil) match {
        case Nil => if (fs.exists(p)) Seq(fs.getFileStatus(p)) else Nil
        case gs  => gs
      }
    def walk(st: FileStatus): Seq[String] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(c => Warc.isVisibleName(c.getPath.getName)).flatMap(walk)
      else if (st.getLen > 0 && Warc.isWarcFile(st.getPath.getName)) Seq(st.getPath.toString)
      else Nil
    roots.flatMap(walk).sorted
  }
}

private[sources] class WarcTable(properties: Map[String, String])
    extends Table with SupportsRead {

  private val path: String = properties.getOrElse("path",
    throw new IllegalArgumentException("warc source requires a path: " +
      "spark.read.format(\"warc\").load(<path>)"))

  override def name(): String = s"warc:$path"
  override def schema(): StructType = WarcDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(path)
}

private[graft] class WarcScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = WarcDataSource.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new WarcScan(path, required)
}

private[sources] class WarcScan(path: String, required: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"warc path=$path, columns=${required.fieldNames.mkString(",")}"

  /** Size estimate for the planner (AQE/join sizing): compressed
    * on-disk bytes × a 4× Common-Crawl inflate factor when payload is
    * read, or a flat per-record metadata estimate when pruned — rough
    * by nature, but it keeps a pruned metadata scan from being treated
    * as a multi-GB relation. Driver-side FILE METADATA only. */
  override def estimateStatistics(): Statistics = {
    val spark = SparkSession.active
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = WarcDataSource.listFiles(path)
      .map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val carriesPayload = required.fieldNames.contains("payload")
    val size = if (carriesPayload) bytes * 4 else math.max(bytes / 64, 1L)
    new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.of(size)
      override def numRows() = java.util.OptionalLong.empty()
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    WarcDataSource.listFiles(path).map(f => WarcFilePartition(f): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    new WarcReaderFactory(conf, required.fieldNames)
  }
}

private[sources] case class WarcFilePartition(file: String) extends InputPartition

private[sources] class WarcReaderFactory(conf: SerializableConfiguration,
    fieldNames: Array[String]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(
      partition.asInstanceOf[WarcFilePartition].file, conf, fieldNames)
}

/** Streams one file's records; memory is bounded by one record (the
  * [[Warc.RecordIterator]] contract). The task ending mid-scan (limit,
  * task kill) closes the underlying FS stream. */
private[sources] class WarcPartitionReader(file: String,
    conf: SerializableConfiguration, fieldNames: Array[String])
    extends PartitionReader[InternalRow] {

  private val fileUtf8 = UTF8String.fromString(file)
  private val it = Warc.openRecords(file, conf.value)
  private var idx = -1L
  private var current: Warc.Record = _

  override def next(): Boolean =
    it.hasNext && { current = it.next(); idx += 1; true }

  override def get(): InternalRow = {
    val r = current
    InternalRow.fromSeq(fieldNames.toSeq.map {
      case "file"      => fileUtf8
      case "rec_idx"   => idx
      case "warc_type" => if (r.warcType == null) null else UTF8String.fromString(r.warcType)
      case "url"       => if (r.targetUri == null) null else UTF8String.fromString(r.targetUri)
      case "warc_date" => if (r.date == null) null else UTF8String.fromString(r.date)
      case "n_bytes"   => r.payload.length.toLong
      case "payload"   => r.payload
    })
  }

  // the stream is closed by the task-completion listener openRecords registers
  override def close(): Unit = ()
}
