package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted LSH band-key store for CROSS-CRAWL near-dup dedup
  * (VERDICT r7 #2): the seen corpus's signature frames — `(id, shs)`
  * hashed shingles and `(id, band_key)` MinHash band keys — committed
  * once per crawl increment, so each new dump pays batch-side signatures
  * only instead of re-shingling the entire seen corpus per micro-batch
  * (the cost [[Dedup.incrementalNearDup]]'s scaladoc documented and its
  * 2M probe measured).
  *
  * Commit discipline = [[ManifestLog.Increments]]: each increment's
  * parquet dirs land under a tmp name and flip via atomic rename, then
  * `manifest-<K>.tsv` (atomic rename) records the committed increment
  * list — a reader never sees a half-written increment, and a crashed
  * append retries idempotently (the increment id is derived from the
  * previous manifest, and its data dirs overwrite any uncommitted
  * leftovers). `params.tsv` pins (numHashes, bands, shingleK) at store
  * creation; a mismatched append or query FAILS FAST instead of silently
  * mixing incompatible signatures.
  *
  * Layout under `root/`:
  *   params.tsv                   numHashes / bands / shingleK
  *   inc-<K>/keys/  parquet       (id, band_key)
  *   inc-<K>/sigs/  parquet       (id, shs)
  *   del-<K>/ids/   parquet       (id) tombstones ([[delete]])
  *   manifest-<K>.tsv             committed inc/del increments so far
  *
  * 100-TB shape: the store holds 16-byte keys + ids (× bands) and 8-byte
  * shingle-hash arrays — both a small multiple of corpus CARDINALITY,
  * not corpus bytes; text never enters the store. Queries union the
  * committed increments (manifest-scale file listing) and run the same
  * band-key join plan as the recompute path, so the plan-shape gates
  * apply unchanged. */
object NearDupStore {

  private def log(root: String) = ManifestLog.Increments(root, "NearDupStore", "id")

  /** Commit one crawl increment's signature frames. Idempotent on retry:
    * a crash after data rename but before the manifest flip leaves the
    * `inc-<K>` dirs committed-but-unlisted; the retry recomputes the SAME
    * increment id (manifest unchanged), overwrites them, and flips the
    * manifest — increments are exactly-once from a reader's view. Returns
    * the increment id. */
  def append(root: String, docs: DataFrame,
      numHashes: Int = Dedup.LshNumHashes, bands: Int = Dedup.LshBands,
      shingleK: Int = Dedup.LshShingleK,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    ManifestLog(root).pinParams("NearDupStore",
      Seq("numHashes" -> numHashes, "bands" -> bands, "shingleK" -> shingleK),
      "mixed signature parameters would silently break recall")
    log(root).append { dir =>
      // ONE shingling pass feeds both frames (the incrementalNearDup
      // discipline): write sigs from the checkpointed base, keys off it
      val base = CheckpointScratch.ckpt(
        Dedup.shingleFrame(docs, shingleK, idCol, textCol))
      base.write.parquet(s"$dir/sigs")
      Dedup.bandKeyFrame(base, numHashes, bands)
        .write.parquet(s"$dir/keys")
    }
  }

  /** Commit a TOMBSTONE increment: the given doc ids stop suppressing
    * near-dups (takedown semantics — a removed doc must not keep culling
    * new crawls that resemble it). Physical removal defers to
    * [[compact]]; reads anti-join the tombstone set until then.
    * Idempotent on retry like [[append]]. Returns the tombstone id. */
  def delete(root: String, ids: DataFrame, idCol: String = "doc_id"): Long =
    log(root).delete(ids, idCol)

  /** COMPACT the committed increments into one (the small-files problem
    * — see [[IndexStore.compact]]): the keys/sigs unions rewrite as a
    * NEW increment, the manifest flips to list only it (old view or new
    * view, never a mix), old dirs are deleted after the flip. Dedup
    * results are unchanged: the store's query surface is exactly the
    * union the new increment now holds. */
  def compact(spark: SparkSession, root: String): Long =
    log(root).compact { dir =>
      // seenSigs/seenKeys already exclude tombstoned ids — compaction is
      // the physical removal point for deletes
      seenSigs(spark, root).write.parquet(s"$dir/sigs")
      seenKeys(spark, root).write.parquet(s"$dir/keys")
    }

  /** The committed seen-side band keys (id, band_key). */
  def seenKeys(spark: SparkSession, root: String): DataFrame =
    log(root).read(spark, "keys")

  /** The committed seen-side shingle-hash frames (id, shs). */
  def seenSigs(spark: SparkSession, root: String): DataFrame =
    log(root).read(spark, "sigs")

  /** Cross-crawl near-dup dedup of `batch` against the STORED corpus
    * signatures — identical output to [[Dedup.incrementalNearDup]] over
    * the store's source docs, but the seen side costs two parquet scans
    * (keys for the band join, sigs for the verify) instead of a corpus
    * re-shingle per batch. Parameters are read from the store. */
  def incrementalNearDup(root: String, batch: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val p = ManifestLog(root).params.getOrElse(
      throw new IllegalStateException(s"NearDupStore at $root has no params.tsv"))
    val spark = batch.sparkSession
    Dedup.incrementalNearDupAgainst(
      seenSigs(spark, root), seenKeys(spark, root), batch, threshold,
      p("numHashes").toInt, p("bands").toInt, p("shingleK").toInt, idCol, textCol)
  }
}
