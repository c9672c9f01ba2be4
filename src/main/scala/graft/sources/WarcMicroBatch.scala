package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Offset for the WARC micro-batch stream: the SET of files already
  * delivered, as a sorted SINGLE-LINE JSON array. Set semantics (not a
  * sorted-prefix count) because crawl files land with arbitrary names —
  * a later-arriving file may sort before already-processed ones, and a
  * prefix offset would either re-deliver or skip it. Offsets are
  * file-COUNT-scale (one path string per file), the same order of
  * driver state Spark's own FileStreamSource keeps in its metadata
  * log. The serialization MUST be one line: Spark's OffsetSeqLog is a
  * line-based file (version line, metadata line, then one line per
  * source offset), so a raw newline — between files, or inside a path —
  * would split the offset. Jackson escapes every control character. */
private[graft] case class WarcFilesOffset(files: Set[String]) extends Offset {
  override def json(): String = WarcFilesOffset.Json.writeValueAsString(files.toArray.sorted)
}

private[graft] object WarcFilesOffset {
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  def fromJson(j: String): WarcFilesOffset =
    if (j.isEmpty) WarcFilesOffset(Set.empty)
    else WarcFilesOffset(Json.readValue(j, classOf[Array[String]]).toSet)
}

/** Micro-batch stream over a growing directory of WARC files — the
  * first mile of a CONTINUOUS crawl: each trigger delivers exactly the
  * files that appeared since the last committed batch, each file read
  * through the same bounded-memory [[Warc.RecordIterator]] as the batch
  * path (one InputPartition per new file). Exactly-once at FILE
  * granularity: a file is in at most one batch interval, and restart
  * from a checkpoint replans only intervals after the committed offset.
  * Files must be immutable once visible (the WARC layout's contract —
  * crawlers write elsewhere and rename in). */
private[sources] class WarcMicroBatchStream(path: String,
    fieldNames: Array[String]) extends MicroBatchStream {

  private val conf = new SerializableConfiguration(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def initialOffset(): Offset = WarcFilesOffset(Set.empty)

  override def latestOffset(): Offset =
    WarcFilesOffset(WarcDataSource.listFiles(path).toSet)

  override def deserializeOffset(json: String): Offset =
    WarcFilesOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[WarcFilesOffset].files
    val now = end.asInstanceOf[WarcFilesOffset].files
    (now -- seen).toSeq.sorted.map(f => WarcFilePartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(conf, fieldNames)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
