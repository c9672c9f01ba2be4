package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.sources.Warc

/** Child-JVM probe: stream-scan one WARC file and report record count +
  * payload bytes. Run with a SMALL heap by WarcStreamSpec — completing a
  * multi-GiB inflate under -Xmx512m is the bounded-per-record-memory
  * evidence (the old whole-file inflate needed the full inflated size
  * resident and silently truncated past ~2.1 GB). */
object WarcStreamProbe {
  def main(args: Array[String]): Unit = {
    val in = Files.newInputStream(java.nio.file.Paths.get(args(0)))
    val it = new Warc.RecordIterator(new java.io.BufferedInputStream(in, 1 << 16))
    var n = 0L
    var bytes = 0L
    while (it.hasNext) { val r = it.next(); n += 1; bytes += r.payload.length }
    println(s"GRAFT_WARC_PROBE n=$n bytes=$bytes heapMax=${Runtime.getRuntime.maxMemory()}")
  }
}

/** VERDICT r7 #1: the streaming WARC scanner — full-file ingestion past
  * the old 2 GiB whole-file-inflate cap at bounded per-record memory,
  * per-record payload cap semantics, and stream/byte path parity. */
class WarcStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a file inflating past the old 2 GiB cap yields ALL records, in a 512 MB-heap child JVM") {
    // one highly-compressible 64 MiB record, its gzip member repeated 40×
    // (concatenated members = the Common-Crawl layout): 2.56 GiB of
    // payload through a ~2.6 MB file — the old scanner provably dropped
    // everything past ~2.1 GiB inflated (Int-bounded whole-file buffer)
    val payload = new Array[Byte](64 << 20)
    java.util.Arrays.fill(payload, 'a'.toByte)
    val member = Warc.writeWarcGz(Seq(
      Warc.responseRecord("https://big.example/x", "2024-01-01T00:00:00Z", payload)))
    val reps = 40
    val dir = Files.createTempDirectory("graft-warc-big")
    val f = dir.resolve("big.warc.gz")
    val out = Files.newOutputStream(f)
    (0 until reps).foreach(_ => out.write(member))
    out.close()

    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cmd = java.util.Arrays.asList(javaBin, "-Xmx512m", "-Xms128m",
      "-cp", System.getProperty("java.class.path"),
      "graft.WarcStreamProbe", f.toString)
    val proc = new ProcessBuilder(cmd).redirectErrorStream(true).start()
    val outStr = new String(proc.getInputStream.readAllBytes(), UTF_8)
    val rc = proc.waitFor()
    assert(rc == 0, s"probe rc=$rc: ${outStr.take(2000)}")
    val line = outStr.linesIterator.find(_.startsWith("GRAFT_WARC_PROBE"))
      .getOrElse(fail(s"no probe line: ${outStr.take(2000)}"))
    val kv = line.split(" ").collect { case s if s.contains("=") =>
      val Array(k, v) = s.split("="); (k, v.toLong) }.toMap
    val expectBytes = reps.toLong * (payload.length + 95L) // + HTTP header bytes
    assert(kv("n") == reps.toLong, line)
    assert(kv("bytes") > (Int.MaxValue.toLong + (1L << 29)) &&
      math.abs(kv("bytes") - expectBytes) < 16L * reps, line)
    assert(kv("heapMax") < (1L << 30), s"probe heap was not actually bounded: $line")
    Files.delete(f)
  }

  test("per-record payload cap: an oversized record is dropped, the stream resyncs to the next") {
    val small = Warc.conversionRecord("https://s.example/", "2024-01-01T00:00:00Z", "tiny")
    val big = Warc.conversionRecord("https://b.example/", "2024-01-01T00:00:00Z",
      "this payload is far beyond the tiny cap used in this test")
    val bytes = Warc.writeWarcGz(Seq(big, small))
    val it = new Warc.RecordIterator(
      new java.io.ByteArrayInputStream(bytes), payloadCap = 16L)
    val got = it.toVector
    assert(got.map(_.targetUri) == Vector("https://s.example/"), got.map(_.targetUri))
    assert(new String(got.head.payload, UTF_8) == "tiny")
  }

  test("stream path (format(\"warc\") over FS) = in-memory byte path, per record") {
    val recs = (0 until 9).map(i => Warc.responseRecord(s"https://p.example/$i",
      "2024-02-02T00:00:00Z", s"<p>page $i</p>".getBytes(UTF_8))) :+
      Warc.conversionRecord("https://p.example/wet", "2024-02-02T00:00:00Z", "wet text")
    val dir = Files.createTempDirectory("graft-warc-parity")
    val bytes = Warc.writeWarcGz(recs)
    Files.write(dir.resolve("a.warc.gz"), bytes)
    Files.write(dir.resolve("b.warc"),
      recs.iterator.flatMap(r => Warc.recordBytes(r).iterator).toArray)
    val viaStream = spark.read.format("warc").load(dir.toString + "/*")
      .select("url", "n_bytes").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    val viaBytes = (Warc.scanRecords(bytes) ++ Warc.scanRecords(
        recs.iterator.flatMap(r => Warc.recordBytes(r).iterator).toArray))
      .map(r => (r.targetUri, r.payload.length.toLong)).sorted
    assert(viaStream.toSeq == viaBytes.toSeq)
  }
}
