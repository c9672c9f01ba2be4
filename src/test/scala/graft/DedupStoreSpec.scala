package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths}

import graft.ops.{Dedup, NearDupStore}

/** VERDICT r7 #2: the persisted band-key store — store-vs-recompute
  * parity, multi-increment appends, crash/resume exactly-once, and
  * parameter-mismatch fail-fast. */
class DedupStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def corpus(ids: Range, salt: String = "") = {
    import spark.implicits._
    ids.map(i => (i.toLong,
      s"alpha beta gamma delta epsilon zeta$salt token$i shared common tail words here"))
      .toDF("doc_id", "text")
  }

  test("store path is row-identical to the recompute path") {
    import spark.implicits._
    val seen = corpus(0 until 120)
    // batch: 30 near-copies of seen docs (suffix drift) + 20 fresh
    val batch = corpus(0 until 30).select(col("doc_id") + 1000L as "doc_id",
        concat(col("text"), lit(" drifted suffix")).as("text"))
      .unionByName((2000 until 2020).map(i =>
        (i.toLong, s"fresh unrelated content block $i qq ww ee rr tt yy uu ii")).toDF("doc_id", "text"))
    val root = Files.createTempDirectory("graft-nds-parity").toString
    NearDupStore.append(root, seen)
    val viaStore = NearDupStore.incrementalNearDup(root, batch, 0.5)
      .collect().map(_.getLong(0)).sorted
    val viaRecompute = Dedup.incrementalNearDup(seen, batch, 0.5)
      .collect().map(_.getLong(0)).sorted
    assert(viaStore.toSeq == viaRecompute.toSeq)
    assert(viaStore.nonEmpty && viaStore.forall(_ >= 2000L),
      "near-copies must drop, fresh docs survive")
  }

  test("incremental appends: two crawls committed separately equal one recompute over their union") {
    import spark.implicits._
    val crawl1 = corpus(0 until 60)
    val crawl2 = corpus(200 until 260)
    val batch = corpus(10 until 20).select(col("doc_id") + 5000L as "doc_id",
        concat(col("text"), lit(" drift")).as("text"))
      .unionByName(corpus(210 until 220).select(col("doc_id") + 6000L as "doc_id",
        concat(col("text"), lit(" drift")).as("text")))
      .unionByName(Seq((9000L, "totally novel standalone page content")).toDF("doc_id", "text"))
    val root = Files.createTempDirectory("graft-nds-inc").toString
    assert(NearDupStore.append(root, crawl1) == 1L)
    assert(NearDupStore.append(root, crawl2) == 2L)
    val viaStore = NearDupStore.incrementalNearDup(root, batch, 0.5)
      .collect().map(_.getLong(0)).sorted
    val viaRecompute = Dedup.incrementalNearDup(
        crawl1.unionByName(crawl2), batch, 0.5)
      .collect().map(_.getLong(0)).sorted
    assert(viaStore.toSeq == viaRecompute.toSeq)
    assert(viaStore.toSeq == Seq(9000L), viaStore.toSeq)
    // compacting the two crawls into one increment changes nothing the
    // query can observe
    assert(NearDupStore.compact(spark, root) == 3L)
    val afterCompact = NearDupStore.incrementalNearDup(root, batch, 0.5)
      .collect().map(_.getLong(0)).sorted
    assert(afterCompact.toSeq == viaStore.toSeq)
  }

  test("delete: a tombstoned seen doc stops suppressing its near-dups") {
    import spark.implicits._
    // seen doc 500 is the ONLY doc resembling the batch doc (the corpus
    // fixture docs all share their tail shingles, so a corpus near-copy
    // would near-dup many of them — the takedown signal must be isolated)
    val unique = "quartz vermilion obelisk pangolin zephyr cascade " +
      "mariner glacier thimble orchard lantern citadel"
    val seen = corpus(0 until 60)
      .unionByName(Seq((500L, unique)).toDF("doc_id", "text"))
    val batch = Seq((7010L, unique + " drift")).toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-nds-del").toString
    NearDupStore.append(root, seen)
    assert(NearDupStore.incrementalNearDup(root, batch, 0.5).count() == 0L)
    // takedown of doc 500: its signature must stop culling new crawls —
    // parity with a recompute over the surviving seen corpus
    assert(NearDupStore.delete(root, Seq(500L).toDF("doc_id")) == 2L)
    val viaStore = NearDupStore.incrementalNearDup(root, batch, 0.5)
      .collect().map(_.getLong(0)).toSeq
    val viaRecompute = Dedup.incrementalNearDup(
        seen.filter(col("doc_id") =!= 500L), batch, 0.5)
      .collect().map(_.getLong(0)).toSeq
    assert(viaStore == viaRecompute && viaStore == Seq(7010L))
    // compact scrubs the tombstoned signature bytes
    assert(NearDupStore.compact(spark, root) == 3L)
    assert(spark.read.parquet(s"$root/inc-3/sigs")
      .filter(col("id") === 500L).count() == 0L)
    assert(NearDupStore.incrementalNearDup(root, batch, 0.5)
      .collect().map(_.getLong(0)).toSeq == Seq(7010L))
  }

  test("crash states resume exactly-once: stale tmp, committed-but-unlisted increment") {
    val crawl = corpus(0 until 40)
    val root = Files.createTempDirectory("graft-nds-crash").toString
    // crash A: leftover tmp dir from a killed first append
    Files.createDirectories(Paths.get(root, "inc-1.tmp", "keys"))
    Files.write(Paths.get(root, "inc-1.tmp", "keys", "garbage"), Array[Byte](1, 2, 3))
    NearDupStore.append(root, crawl)
    // crash B: data dirs renamed but manifest never flipped — simulate by
    // deleting the manifest; the retry must recompute the SAME increment
    // id and overwrite, not append a duplicate
    Files.delete(Paths.get(root, "manifest-1.tsv"))
    NearDupStore.append(root, crawl)
    val keys = NearDupStore.seenKeys(spark, root)
    // exactly one increment visible: per-doc band keys appear once
    val dupKeyed = keys.groupBy("id", "band_key").count().filter(col("count") > 1).count()
    assert(dupKeyed == 0L, "band keys duplicated across retried increments")
    assert(keys.count() == 40L * 16) // 16 band keys per doc, once each
  }

  test("parameter mismatch fails fast instead of mixing signatures") {
    val root = Files.createTempDirectory("graft-nds-params").toString
    NearDupStore.append(root, corpus(0 until 10), numHashes = 64, bands = 16)
    val e = intercept[IllegalArgumentException] {
      NearDupStore.append(root, corpus(10 until 20), numHashes = 64, bands = 8)
    }
    assert(e.getMessage.contains("refusing"), e.getMessage)
  }

  test("shard-export assignment: changed salt on an existing store fails fast (ADVICE r7)") {
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-shard-params").toString
    graft.ops.ShardStore.exportAll(docs, dir, maxPerShard = 10)
    val e = intercept[IllegalArgumentException] {
      graft.ops.ShardStore.exportAll(docs, dir, maxPerShard = 10, salt = "epoch1")
    }
    assert(e.getMessage.contains("does not match"), e.getMessage)
    // changed input rows likewise
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.ShardStore.exportAll(
        docs.unionByName(Seq((99L, "new doc")).toDF("doc_id", "text")),
        dir, maxPerShard = 11)
    }
    assert(e2.getMessage.contains("does not match"), e2.getMessage)
    // new ids under the params of the commit, in the JVM that made it
    val moved = (100 until 150).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.ShardStore.exportAll(moved, dir, maxPerShard = 10)
    }
    assert(e3.getMessage.contains("does not match"), e3.getMessage)
  }
}
