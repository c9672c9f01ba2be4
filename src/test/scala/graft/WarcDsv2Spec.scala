package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.Warc

/** The DataSource V2 packaging of the WARC scanner: format("warc") must
  * return exactly what the in-memory Warc.scanRecords returns, prune
  * columns into the reader, and keep the never-throw first-mile contract. */
class WarcDsv2Spec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rec(i: Int): Warc.Record =
    Warc.responseRecord(s"https://h${i % 3}.example.com/p$i",
      f"2024-01-0${i % 9 + 1}T00:00:00Z",
      s"<html><body>page $i</body></html>".getBytes("UTF-8"))

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-warc-dsv2")
    Files.write(d.resolve("a.warc.gz"), Warc.writeWarcGz((0 until 7).map(rec)))
    Files.write(d.resolve("b.warc.gz"),
      Warc.writeWarcGz((7 until 12).map(rec), perRecordMembers = false))
    Files.write(d.resolve("junk.warc.gz"),
      "this is not a warc nor gzip".getBytes("UTF-8"))
    d
  }

  test("format(\"warc\") rows = Warc.scanRecords rows, byte-for-byte") {
    import spark.implicits._
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select(regexp_extract(col("file"), "([ab])\\.warc\\.gz", 1).as("f"),
        col("rec_idx"), col("warc_type"), col("url"), col("warc_date"),
        col("n_bytes"), xxhash64(col("payload")).as("ph"))
      .collect().map(_.toSeq).toSet
    val v2 = key(spark.read.format("warc").load(dir.toString))
    val inMemory = Seq("a", "b", "junk").flatMap { f =>
      Warc.scanRecords(Files.readAllBytes(dir.resolve(s"$f.warc.gz"))).zipWithIndex
        .map { case (r, i) => (s"$f.warc.gz", i.toLong, r.warcType, r.targetUri, r.date,
          r.payload.length.toLong, r.payload) }
    }.toDF("file", "rec_idx", "warc_type", "url", "warc_date", "n_bytes", "payload")
    assert(v2.size == 12 && v2 === key(inMemory))
  }

  test("sidecars are never input: readPages and format read a.warc.gz once") {
    // every sidecar holds a full copy of the WARC bytes, so reading any of
    // them would return each url twice
    val d = Files.createTempDirectory("graft-warc-sidecars")
    val bytes = Warc.writeWarcGz((0 until 5).map(rec))
    Seq("a.warc.gz", "a.warc.gz.bak", "_SUCCESS", ".a.warc.gz.crc")
      .foreach(n => Files.write(d.resolve(n), bytes))
    val want = (0 until 5).map(i => s"https://h${i % 3}.example.com/p$i").sorted
    def urls(df: org.apache.spark.sql.DataFrame) =
      df.select("url").collect().map(_.getString(0)).toSeq.sorted
    assert(urls(Warc.readPages(spark, d.toString)) === want, "readPages")
    assert(urls(spark.read.format("warc").load(d.toString)) === want, "format(\"warc\")")
  }

  test("hidden names are skipped at every level: readPages and format(\"warc\") agree") {
    // each file holds the same 3 records: a reader of any hidden copy
    // returns them more than once
    val d = Files.createTempDirectory("graft-warc-hidden")
    val bytes = Warc.writeWarcGz((0 until 3).map(rec))
    Seq("a.warc.gz", "_b.warc.gz", ".c.warc.gz").foreach(n => Files.write(d.resolve(n), bytes))
    Seq("_tmp", ".staging").foreach { sub =>
      Files.createDirectories(d.resolve(sub))
      Files.write(d.resolve(sub).resolve("d.warc.gz"), bytes)
    }
    assert(Warc.readPages(spark, d.toString).count() === 3L, "readPages")
    assert(spark.read.format("warc").load(d.toString)
      .filter(col("warc_type") === "response").count() === 3L, "format(\"warc\")")
    assert(Seq("_SUCCESS", ".x.crc", "_b.warc.gz", "d._COPYING_").forall(!Warc.isVisibleName(_)))
    assert(Seq("a.warc.gz", "_metadata", "_k=v", "b_.warc").forall(Warc.isVisibleName))
  }

  test("column pruning reaches the reader: scan output drops payload") {
    val df = spark.read.format("warc").load(dir.toString)
      .select(col("url"), col("n_bytes"))
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .find(_.nodeName.contains("BatchScan"))
      .getOrElse(fail(df.queryExecution.executedPlan.toString))
    assert(scan.output.map(_.name).toSet === Set("url", "n_bytes"),
      scan.output.mkString(","))
    // n_bytes survives pruning with the right values (length known
    // without carrying the bytes)
    val n = df.collect().map(_.getLong(1)).sum
    val full = spark.read.format("warc").load(dir.toString)
      .agg(sum(length(col("payload")))).head().getLong(0)
    assert(n === full)
  }

  test("unreadable and hostile files contribute zero rows, not errors") {
    val d = Files.createTempDirectory("graft-warc-dsv2-junk")
    Files.write(d.resolve("x.warc.gz"), Array[Byte](1, 2, 3))
    assert(spark.read.format("warc").load(d.toString).count() === 0L)
  }

  test("reported statistics shrink when payload is pruned") {
    def sizeOf(cols: Seq[String]): Long = {
      val b = new graft.sources.WarcScanBuilder(dir.toString)
      b.pruneColumns(org.apache.spark.sql.types.StructType(
        graft.sources.WarcDataSource.Schema.filter(f => cols.contains(f.name))))
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().sizeInBytes().getAsLong
    }
    val full = sizeOf(Seq("url", "payload"))
    val pruned = sizeOf(Seq("url", "n_bytes"))
    assert(pruned < full, s"pruned=$pruned full=$full")
    assert(full > 0 && pruned > 0)
  }

  test("count() without touching payload returns the record count") {
    val c = spark.read.format("warc").load(dir.toString).count()
    assert(c === 12L)
  }

  test("readStream.format(\"warc\") is refused: the source reads batches only") {
    val e = intercept[UnsupportedOperationException](
      spark.readStream.format("warc").load(dir.toString))
    assert(e.getMessage.contains("does not support streamed reading"), e.getMessage)
  }
}
