package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

/** Persisted IVF VECTOR index — the embedding analogue of [[IndexStore]]
  * (postings) and [[NearDupStore]] (LSH keys), completing the store tier:
  * centroids are TRAINED ONCE on the first crawl increment and pinned;
  * every later increment's vectors are assigned to those cells and
  * committed, so ANN queries over the full corpus cost a cell-pruned scan
  * of stored (vec_id, cell, embedding) rows — the FAISS IVF discipline
  * (train the coarse quantizer once, add in batches), kept relational.
  *
  * Commit discipline = [[ManifestLog.Increments]]: tmp-dir + atomic
  * rename + manifest flip, idempotent retry. `params.tsv` records
  * (dim, nCells, sampleSize) and `centroids/` is published by atomic
  * rename; the published centroids are the commit point of [[create]],
  * so a create that failed before them retries from scratch.
  *
  * Layout under `root/`:
  *   params.tsv                 dim / nCells / sampleSize
  *   centroids/        parquet  (cell, centroid ARRAY<DOUBLE>) — written
  *                              once by [[create]], never rewritten
  *   inc-<K>/vectors/  parquet  (vec_id, embedding, cell)
  *   del-<K>/ids/      parquet  (vec_id) tombstones ([[delete]])
  *   manifest-<K>.tsv           committed inc/del increments so far
  *
  * 100-TB shape: the centroid table is nCells×dim doubles (driver-safe
  * by construction — the [[Similarity.trainCentroids]] bound); increments
  * hold one row per vector. Queries probe nProbe cells, so the join
  * reads |corpus|·nProbe/nCells candidate rows, and the plan is the SAME
  * [[Similarity.ivfTopKWith]] join the recompute path runs. */
object VectorStore {

  private def log(root: String) = ManifestLog.Increments(root, "VectorStore", "vec_id")

  private def hasCentroids(root: String) = ManifestLog(root).published("centroids")

  /** Train centroids on `firstIncrement` (the [[Similarity.trainCentroids]]
    * deterministic quantizer: first-nCells seeds by vec_id, one Lloyd
    * step over the first sampleSize vectors), persist them, and commit
    * the increment's assigned vectors. Fails if the store already has
    * centroids — the quantizer trains ONCE. */
  def create(root: String, firstIncrement: DataFrame, dim: Int,
      nCells: Int = 16, sampleSize: Int = 512): Long = {
    require(!hasCentroids(root),
      s"VectorStore at $root already exists — centroids train once; use append")
    // no centroids = nothing committed: (re)write the params of this create
    ManifestLog(root).writeParams(
      Seq("dim" -> dim, "nCells" -> nCells, "sampleSize" -> sampleSize))
    val centroids = Similarity.trainCentroids(firstIncrement, dim, nCells, sampleSize)
    val spark = firstIncrement.sparkSession
    val rows = centroids.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }
    val schema = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false)))
    ManifestLog(root).publish("centroids") { dir =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        .write.parquet(dir)
    }
    append(root, firstIncrement)
  }

  /** The pinned centroid table, cell-ordered, as the driver-side array
    * [[Similarity.ivfTopKWith]] consumes. */
  def centroids(spark: SparkSession, root: String): Array[Array[Double]] =
    spark.read.parquet(s"$root/centroids")
      .orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1).toArray)

  /** Commit one increment's vectors assigned under the PINNED centroids.
    * Idempotent on retry ([[NearDupStore.append]] semantics). */
  def append(root: String, embeddings: DataFrame): Long = {
    require(ManifestLog(root).params.isDefined && hasCentroids(root),
      s"VectorStore at $root has no centroids — call create first")
    val cents = centroids(embeddings.sparkSession, root)
    log(root).append { dir =>
      Similarity.ivfAssign(embeddings, cents)
        .write.parquet(s"$dir/vectors")
    }
  }

  /** Commit a TOMBSTONE increment: the given vec ids stop appearing as
    * neighbors (takedown semantics). Physical removal defers to
    * [[compact]]; reads anti-join the tombstone set until then.
    * Idempotent on retry like [[append]]. Returns the tombstone id. */
  def delete(root: String, ids: DataFrame, idCol: String = "vec_id"): Long =
    log(root).delete(ids, idCol)

  /** The committed assigned-vector union (vec_id, embedding, cell),
    * tombstoned vectors excluded. */
  def storedVectors(spark: SparkSession, root: String): DataFrame =
    log(root).read(spark, "vectors")

  /** COMPACT the committed increments into one (the small-files problem
    * — see [[IndexStore.compact]]): the assigned-vector union rewrites
    * as a NEW increment, the manifest flips to list only it, old dirs
    * are deleted after the flip. Centroids are untouched (pinned), so
    * probe results are unchanged by construction. */
  def compact(spark: SparkSession, root: String): Long =
    log(root).compact { dir =>
      // storedVectors already excludes tombstoned ids — compaction is the
      // physical removal point for deletes
      storedVectors(spark, root).write.parquet(s"$dir/vectors")
    }

  /** ANN top-k over the STORED corpus — identical neighbors and rounded
    * cosines to [[Similarity.ivfTopKWith]] under the store's pinned
    * centroids over the union of its increments. */
  def topK(spark: SparkSession, root: String, queries: DataFrame, k: Int,
      nProbe: Int = 2): DataFrame =
    Similarity.ivfTopKWith(centroids(spark, root),
      storedVectors(spark, root), queries, k, nProbe)
}
