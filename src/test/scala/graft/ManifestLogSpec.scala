package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.gen.PagesTable
import graft.ops.{IndexStore, ManifestLog, NearDupStore, ShardStore, VectorStore}
import graft.spark.SnapshotStore

/** The shared commit protocol: one crash-injection case per commit
  * point, written once against [[ManifestLog]], plus the byte-exact
  * on-disk format of all five stores driven through their public APIs
  * (stores written by earlier builds must keep reading back). */
class ManifestLogSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newRoot(tag: String) = Files.createTempDirectory(s"graft-mlog-$tag").toString

  private def text(root: String, name: String) =
    new String(Files.readAllBytes(Paths.get(root, name)), StandardCharsets.UTF_8)

  private def listing(root: String): Set[String] =
    Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString).toSet

  private def ids(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("id")
  }

  private def writeIds(xs: Seq[Long])(dir: String): Unit =
    ids(xs).write.parquet(s"$dir/rows")

  private def readIds(log: ManifestLog.Increments): Seq[Long] =
    log.read(spark, "rows").collect().map(_.getLong(0)).sorted.toSeq

  test("stale <dir>.tmp from a killed write is cleared before the publish") {
    val root = newRoot("tmp")
    val log = ManifestLog.Increments(root, "TestStore", "id")
    Files.createDirectories(Paths.get(root, "inc-1.tmp", "rows"))
    Files.write(Paths.get(root, "inc-1.tmp", "rows", "garbage"), Array[Byte](1, 2, 3))
    assert(log.append(writeIds(1L to 3L)) == 1L)
    assert(readIds(log) == (1L to 3L))
    assert(listing(root) == Set("inc-1", "manifest-1.tsv"))
    assert(text(root, "manifest-1.tsv") == "inc\t1\n")
  }

  test("published-but-unlisted inc-<K> / del-<K> is invisible and overwritten under the same id") {
    val root = newRoot("unlisted")
    val log = ManifestLog.Increments(root, "TestStore", "id")
    assert(log.append(writeIds(1L to 3L)) == 1L)
    // killed after the data rename, before the manifest flip
    ManifestLog(root).publish("inc-2")(writeIds(100L to 110L))
    assert(readIds(log) == (1L to 3L))
    assert(log.append(writeIds(4L to 6L)) == 2L)
    assert(readIds(log) == (1L to 6L))
    // the same for a tombstone increment
    ManifestLog(root).publish("del-3") { dir =>
      ids(1L to 6L).write.parquet(s"$dir/ids")
    }
    assert(readIds(log) == (1L to 6L))
    import spark.implicits._
    assert(log.delete(Seq(5L).toDF("x"), "x") == 3L)
    assert(readIds(log) == Seq(1L, 2L, 3L, 4L, 6L))
    // a compact killed before its flip leaves the old view in force
    ManifestLog(root).publish("inc-4")(writeIds(Seq(99L)))
    assert(readIds(log) == Seq(1L, 2L, 3L, 4L, 6L))
    assert(log.compact(dir =>
      log.read(spark, "rows").write.parquet(s"$dir/rows")) == 4L)
    assert(readIds(log) == Seq(1L, 2L, 3L, 4L, 6L))
    assert(listing(root) == Set("inc-4") ++ (1 to 4).map(k => s"manifest-$k.tsv"))
    assert(text(root, "manifest-3.tsv") == "inc\t1\ninc\t2\ndel\t3\n")
    assert(text(root, "manifest-4.tsv") == "inc\t4\n")
  }

  test("leftover <prefix>-<K>.tsv.tmp is invisible to the listing and overwritten by the commit") {
    val root = newRoot("mtmp")
    Files.write(Paths.get(root, "manifest-1.tsv.tmp"), "inc\t9\n".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(root, "snapshot-1.tsv"), "snapshot\t1\n".getBytes(StandardCharsets.UTF_8))
    assert(ManifestLog(root).latest.isEmpty,
      "a tmp or other-prefix manifest is never committed state")
    assert(ManifestLog(root, "snapshot").ids == Vector(1L))
    val log = ManifestLog.Increments(root, "TestStore", "id")
    assert(log.append(writeIds(Seq(7L))) == 1L)
    assert(text(root, "manifest-1.tsv") == "inc\t1\n")
    assert(!Files.exists(Paths.get(root, "manifest-1.tsv.tmp")))
    assert(ManifestLog(root).latest == Some(1L -> Vector("inc\t1")))
    assert(ManifestLog(root).read(2L).isEmpty)
  }

  test("params without data: reads fail loudly, the same params retry, others are refused") {
    val root = newRoot("params")
    ManifestLog(root).pinParams("TestStore", Seq("k" -> 1, "v" -> "a"), "why")
    assert(text(root, "params.tsv") == "k\t1\nv\ta\n")
    val e = intercept[IllegalArgumentException] {
      ManifestLog.Increments(root, "TestStore", "id").read(spark, "rows")
    }
    assert(e.getMessage.contains("no committed increments"), e.getMessage)
    ManifestLog(root).pinParams("TestStore", Seq("k" -> 1, "v" -> "a"), "why")
    val e2 = intercept[IllegalArgumentException] {
      ManifestLog(root).pinParams("TestStore", Seq("k" -> 2, "v" -> "a"), "why")
    }
    assert(e2.getMessage.contains("refusing"), e2.getMessage)
    // through a store: an index root holding only its params.tsv appends
    val idx = newRoot("params-idx")
    Files.write(Paths.get(idx, "params.tsv"), s"tokenizer\t${IndexStore.Tokenizer}\n"
      .getBytes(StandardCharsets.UTF_8))
    import spark.implicits._
    assert(IndexStore.append(idx, Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")) == 1L)
    assert(IndexStore.storedDocLens(spark, idx).count() == 2L)
  }

  /** Drive append, append, delete, compact; return the root. */
  private def incrementFormat(tag: String)(append: (String, Seq[Long]) => Long,
      delete: (String, Seq[Long]) => Long, compact: String => Long): String = {
    val root = newRoot(tag)
    assert(append(root, 0L until 20L) == 1L)
    assert(append(root, 20L until 40L) == 2L)
    assert(delete(root, Seq(3L, 25L)) == 3L)
    assert(compact(root) == 4L)
    Seq("inc\t1\n", "inc\t1\ninc\t2\n", "inc\t1\ninc\t2\ndel\t3\n", "inc\t4\n")
      .zipWithIndex.foreach { case (want, i) =>
        assert(text(root, s"manifest-${i + 1}.tsv") == want, s"$tag manifest-${i + 1}.tsv")
      }
    root
  }

  private def docs(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.map(i => (i, s"shared words here doc$i token${i % 7}")).toDF("doc_id", "text")
  }

  private def vecs(xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.map { i =>
      val v = Array.fill(8)(0.05f)
      v((i % 4).toInt) = 1.0f
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("on-disk format: increment stores' manifests and params.tsv are byte-exact") {
    import spark.implicits._
    def dead(xs: Seq[Long]) = xs.toDF("doc_id")
    val nds = incrementFormat("nds")((r, xs) => NearDupStore.append(r, docs(xs)),
      (r, xs) => NearDupStore.delete(r, dead(xs)), NearDupStore.compact(spark, _))
    assert(text(nds, "params.tsv") == "numHashes\t64\nbands\t16\nshingleK\t3\n")
    assert(listing(nds) == Set("params.tsv", "inc-4") ++ (1 to 4).map(k => s"manifest-$k.tsv"))
    assert(listing(s"$nds/inc-4") == Set("keys", "sigs"))
    assert(NearDupStore.seenSigs(spark, nds).count() == 38L)

    val idx = incrementFormat("idx")((r, xs) => IndexStore.append(r, docs(xs)),
      (r, xs) => IndexStore.delete(r, dead(xs)), IndexStore.compact(spark, _))
    assert(text(idx, "params.tsv") == "tokenizer\tws-v1\n")
    assert(listing(idx) == Set("params.tsv", "inc-4") ++ (1 to 4).map(k => s"manifest-$k.tsv"))
    assert(listing(s"$idx/inc-4") == Set("postings", "doclen"))
    assert(IndexStore.storedDocLens(spark, idx).count() == 38L)

    val vs = incrementFormat("vs")(
      (r, xs) => if (xs.head == 0L) VectorStore.create(r, vecs(xs), 8, nCells = 4, sampleSize = 16)
        else VectorStore.append(r, vecs(xs)),
      (r, xs) => VectorStore.delete(r, xs.toDF("vec_id")), VectorStore.compact(spark, _))
    assert(text(vs, "params.tsv") == "dim\t8\nnCells\t4\nsampleSize\t16\n")
    assert(listing(vs) ==
      Set("params.tsv", "centroids", "inc-4") ++ (1 to 4).map(k => s"manifest-$k.tsv"))
    assert(listing(s"$vs/inc-4") == Set("vectors"))
    assert(VectorStore.storedVectors(spark, vs).count() == 38L)
  }

  test("on-disk format: ShardStore manifests and assignment params, two commit units") {
    val root = newRoot("shards")
    ShardStore.exportAll(docs(0L until 50L), root, maxPerShard = 10, maxShardsPerCommit = 3)
    def shard(sid: Int) = {
      val unit = if (sid < 3) "unit-0-2" else "unit-3-4"
      s"shard\t$sid\t10\t${sid * 10}\t${sid * 10 + 9}\t<root>/data/$unit/shard_id=$sid\n"
    }
    def masked(name: String) = text(root, name).replace(root, "<root>")
    assert(masked("manifest-1.tsv") == "manifest\t1\n" + (0 to 2).map(shard).mkString)
    assert(masked("manifest-2.tsv") == "manifest\t2\n" + (0 to 4).map(shard).mkString)
    val idHash = docs(0L until 50L).agg(bit_xor(xxhash64(col("doc_id")))).head().getLong(0)
    assert(text(root, "params.tsv") ==
      s"salt\tepoch0\nmaxPerShard\t10\nidCol\tdoc_id\nn\t50\nidHash\t$idHash\n")
    assert(listing(root) ==
      Set("params.tsv", "assignment", "data", "manifest-1.tsv", "manifest-2.tsv"))
    assert(listing(s"$root/data") == Set("unit-0-2", "unit-3-4"))
  }

  private lazy val snapshotRoot: String = {
    val root = newRoot("snap")
    SnapshotStore.run(spark, PagesTable.pagesDF(spark, 150), root, runId = "r1", nBuckets = 16)
    root
  }

  test("on-disk format: SnapshotStore manifest lines, root and parquet names masked") {
    val root = snapshotRoot
    val part = "part-\\d{5}-[0-9a-f-]{36}-c000(\\.snappy)?\\.parquet"
    val lines = text(root, "snapshot-1.tsv").replace(root, "<root>")
      .replaceAll(part, "<part>").split("\n", -1).toVector
    assert(lines.last == "", "every manifest line ends in a newline")
    val (head, files) = lines.init.splitAt(18)
    assert(head == Vector("snapshot\t1") ++ (0 until 16).map(b => s"bucket\t$b") ++
      Vector("dir\t<root>/data/run-r1"))
    val stats = SnapshotStore.collectFileStats(spark, s"$root/data/run-r1")
    assert(files.nonEmpty && files.length == stats.length)
    files.zip(stats).foreach { case (l, f) =>
      assert(l == s"file\tfile://<root>/data/run-r1/<part>\t" +
        s"${f.tsMin}\t${f.tsMax}\t${f.hostMin}\t${f.hostMax}", l)
    }
    assert(listing(root) == Set("data", "lineage", "snapshot-1.tsv"))
  }

  test("expireSnapshots refuses keepLast < 1: the current snapshot never expires") {
    val root = snapshotRoot
    for (keep <- Seq(0, -1))
      intercept[IllegalArgumentException](SnapshotStore.expireSnapshots(root, keepLast = keep))
    assert(SnapshotStore.readCommitted(spark, root).get.count() == 150L)
    SnapshotStore.expireSnapshots(root, keepLast = 1)
    assert(SnapshotStore.readCommitted(spark, root).get.count() == 150L)
  }
}
