package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths}

import graft.ops.{Similarity, VectorStore}

/** The persisted IVF vector store: pinned-centroid parity with the
  * recompute path, two-increment composition, crash/resume exactly-once,
  * create-once discipline. */
class VectorStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Dim = 8

  /** Deterministic embeddings: 4 well-separated direction groups with
    * per-id jitter (the kmeansCorpus recipe at dim 8). */
  private def vectors(ids: Range) = {
    import spark.implicits._
    ids.map { i =>
      val g = i % 4
      val v = Array.fill(Dim)(0.05f)
      v(g) = 1.0f
      v((g + 1) % Dim) += (i / 4 % 7) * 0.1f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(r => (r._1, r._4)).toSeq

  test("single-increment store returns exactly the recompute path's neighbors") {
    val e = vectors(0 until 64)
    val root = Files.createTempDirectory("graft-vs-parity").toString
    VectorStore.create(root, e, Dim, nCells = 4, sampleSize = 32)
    val queries = e.filter(col("vec_id") < 6)
    val viaStore = rows(VectorStore.topK(spark, root, queries, k = 3))
    val recompute = rows(Similarity.ivfTopK(e, queries, k = 3, Dim,
      nCells = 4, nProbe = 2, sampleSize = 32))
    assert(viaStore == recompute && viaStore.nonEmpty)
  }

  test("two increments match recompute under the PINNED first-increment centroids") {
    val all = vectors(0 until 64)
    val inc1 = all.filter(col("vec_id") % 2 === 0)
    val inc2 = all.filter(col("vec_id") % 2 === 1)
    val root = Files.createTempDirectory("graft-vs-two").toString
    assert(VectorStore.create(root, inc1, Dim, nCells = 4, sampleSize = 32) == 1L)
    assert(VectorStore.append(root, inc2) == 2L)
    val queries = all.filter(col("vec_id") < 6)
    val viaStore = rows(VectorStore.topK(spark, root, queries, k = 3))
    val cents = Similarity.trainCentroids(inc1, Dim, 4, 32)
    val recompute = rows(Similarity.ivfTopKWith(cents,
      Similarity.ivfAssign(all, cents), queries, k = 3))
    assert(viaStore == recompute && viaStore.nonEmpty)
    // odd-id vectors (second increment) are reachable as neighbors
    assert(viaStore.exists(_._2 % 2 == 1), viaStore.toString)
    // compaction rewrites the two increments as one; probes are unchanged
    assert(VectorStore.compact(spark, root) == 3L)
    assert(rows(VectorStore.topK(spark, root, queries, k = 3)) == viaStore)
    assert(VectorStore.storedVectors(spark, root).count() == 64L)
  }

  test("delete: tombstoned vectors leave the neighbor set; compact scrubs them") {
    import spark.implicits._
    val e = vectors(0 until 64)
    val root = Files.createTempDirectory("graft-vs-del").toString
    VectorStore.create(root, e, Dim, nCells = 4, sampleSize = 32)
    val queries = e.filter(col("vec_id") < 6)
    val dead = (0 until 64 by 8).map(_.toLong).toDF("vec_id")
    assert(VectorStore.delete(root, dead) == 2L)
    // parity: probes over the store == recompute over the survivors,
    // under the SAME pinned centroids
    val viaStore = rows(VectorStore.topK(spark, root, queries, k = 3))
    val cents = Similarity.trainCentroids(e, Dim, 4, 32)
    val recompute = rows(Similarity.ivfTopKWith(cents,
      Similarity.ivfAssign(e.filter(col("vec_id") % 8 =!= 0), cents), queries, k = 3))
    assert(viaStore == recompute && viaStore.nonEmpty)
    assert(!viaStore.exists(_._2 % 8 == 0), viaStore.toString)
    // compact physically drops the tombstoned vectors
    assert(VectorStore.compact(spark, root) == 3L)
    assert(spark.read.parquet(s"$root/inc-3/vectors")
      .filter(col("vec_id") % 8 === 0).count() == 0L)
    assert(rows(VectorStore.topK(spark, root, queries, k = 3)) == viaStore)
  }

  test("crash states resume exactly-once; create-once and append-without-create fail fast") {
    val e = vectors(0 until 32)
    val root = Files.createTempDirectory("graft-vs-crash").toString
    VectorStore.create(root, e, Dim, nCells = 4, sampleSize = 16)
    // crash: manifest never flipped — the retry overwrites, not duplicates
    Files.delete(Paths.get(root, "manifest-1.tsv"))
    VectorStore.append(root, e)
    val stored = VectorStore.storedVectors(spark, root)
    assert(stored.count() == 32L)
    assert(stored.groupBy("vec_id").count().filter(col("count") > 1).count() == 0L)
    // centroids train once
    val e2 = intercept[IllegalArgumentException] {
      VectorStore.create(root, e, Dim, nCells = 4, sampleSize = 16)
    }
    assert(e2.getMessage.contains("train once"), e2.getMessage)
    // append before create is an error, not a silent empty-centroid store
    val root2 = Files.createTempDirectory("graft-vs-nocreate").toString
    val e3 = intercept[IllegalArgumentException] { VectorStore.append(root2, e) }
    assert(e3.getMessage.contains("no centroids"), e3.getMessage)
  }

  test("a create that failed before its centroids were published can be retried") {
    val e = vectors(0 until 64)
    val root = Files.createTempDirectory("graft-vs-retry").toString
    VectorStore.create(root, e, Dim, nCells = 4, sampleSize = 32)
    // roll back to what a crash between params.tsv and centroids/ leaves
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(root)).iterator().asScala.toVector.filter { p =>
      val n = p.getFileName.toString
      n == "centroids" || n.startsWith("inc-") || n.startsWith("manifest-")
    }.foreach(p => Files.walk(p).iterator().asScala.toVector.reverse.foreach(Files.delete))
    assert(Files.exists(Paths.get(root, "params.tsv")))
    assert(VectorStore.create(root, e, Dim, nCells = 4, sampleSize = 32) == 1L)
    val queries = e.filter(col("vec_id") < 6)
    val viaStore = rows(VectorStore.topK(spark, root, queries, k = 3))
    val recompute = rows(Similarity.ivfTopK(e, queries, k = 3, Dim,
      nCells = 4, nProbe = 2, sampleSize = 32))
    assert(viaStore == recompute && viaStore.nonEmpty)
  }
}
