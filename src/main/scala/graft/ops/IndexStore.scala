package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted INCREMENTAL inverted index — the [[Index]] postings table
  * committed once per crawl increment, so search over the full corpus
  * costs a parquet scan of stored (term, doc) rows instead of
  * re-tokenizing every document on every probe (the cross-crawl
  * persistence discipline [[NearDupStore]] established for LSH keys,
  * applied to the retrieval tier; Lucene's segment model, kept
  * relational).
  *
  * Commit discipline = [[ManifestLog.Increments]]: each increment's
  * parquet dirs land under a tmp name and flip via atomic rename, then
  * `manifest-<K>.tsv` flips to record the committed increment list — a
  * reader never sees a half-written increment; a crashed append retries
  * idempotently (the id derives from the previous manifest, the data
  * dirs overwrite uncommitted leftovers). `params.tsv` pins the
  * tokenizer identity at store creation: postings built under a
  * different tokenization are NOT mergeable (df/tf/positions all move),
  * so a mismatched append fails fast.
  *
  * Layout under `root/`:
  *   params.tsv                 tokenizer / version
  *   inc-<K>/postings/ parquet  (term, doc_id, tf, first_pos, last_pos)
  *   inc-<K>/doclen/   parquet  (doc_id, dl) — ALL docs, dl = 0 for empty
  *   del-<K>/ids/      parquet  (doc_id) tombstones ([[delete]])
  *   manifest-<K>.tsv           committed inc/del increments so far
  *
  * Contract: doc ids are unique ACROSS increments (each crawl dump
  * contributes new ids — the [[NearDupStore]] id contract), so the
  * union of increment postings is itself a valid postings table and
  * per-term stats aggregate by plain hash agg.
  *
  * 100-TB shape: the store holds (term, 8-byte id, 3 longs) rows —
  * corpus token CARDINALITY, not corpus bytes; text never enters the
  * store. Searches union the committed increments (manifest-scale file
  * listing) and run the SAME probe-pruned join plans as the recompute
  * path ([[Index.conjunctiveSearchOn]] / [[Index.rankedSearchOn]]), so
  * the plan-shape gates apply unchanged. Positions beyond first/last are
  * not stored — [[Index.phraseSearch]] stays a recompute-path op. */
object IndexStore {

  /** Tokenizer identity pinned at store creation — whitespace split,
    * empty tokens dropped, 1-based split positions ([[Index.termStream]]). */
  val Tokenizer = "ws-v1"

  private def log(root: String) = ManifestLog.Increments(root, "IndexStore", "doc_id")

  /** Commit one crawl increment's postings + doc lengths. Idempotent on
    * retry ([[NearDupStore.append]] semantics): a crash after the data
    * rename but before the manifest flip leaves `inc-<K>` unlisted; the
    * retry recomputes the SAME id, overwrites, and flips. Returns the
    * increment id. */
  def append(root: String, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    ManifestLog(root).pinParams("IndexStore", Seq("tokenizer" -> Tokenizer),
      "mixed tokenizations make df/tf/positions incomparable")
    log(root).append { dir =>
      Index.postings(docs, idCol, textCol)
        .write.parquet(s"$dir/postings")
      // dl for ALL docs (0 for empty) — corpus N and avgdl come from here
      val dls = Index.termStream(docs, idCol, textCol)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      docs.select(col(idCol).cast("long").as("doc_id"))
        .join(dls, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl"))
        .write.parquet(s"$dir/doclen")
    }
  }

  /** Commit a TOMBSTONE increment: the given doc ids disappear from every
    * store read (takedown / right-to-be-forgotten semantics). Physical
    * removal is deferred to [[compact]]; until then reads anti-join the
    * tombstone set — O(|deleted ids|) extra state, never a data rewrite.
    * A tombstone is TERMINAL for an id: ids are unique across increments
    * by contract, so a re-crawl of the same page commits under a fresh
    * id and is unaffected. Idempotent on retry like [[append]]. Returns
    * the tombstone increment id. */
  def delete(root: String, ids: DataFrame, idCol: String = "doc_id"): Long =
    log(root).delete(ids, idCol)

  /** The committed postings union (term, doc_id, tf, first_pos, last_pos),
    * tombstoned docs excluded (an 8-byte-key anti-join, broadcast-sized
    * in practice — the tombstone table is takedown-scale, not corpus-scale). */
  def storedPostings(spark: SparkSession, root: String): DataFrame =
    log(root).read(spark, "postings")

  /** COMPACT the committed increments into one (the small-files problem:
    * a year of daily crawls = hundreds of increment dirs, each a
    * manifest-listing + parquet-footer cost on every query). Writes the
    * union as a NEW increment, then flips the manifest to list ONLY it —
    * readers see the old view or the new view, never a mix (the
    * SnapshotStore compaction discipline); a crash before the flip
    * leaves the old manifest intact. Old increment dirs are deleted
    * AFTER the flip (best-effort — an unlisted dir is dead weight, not
    * corruption). Returns the new increment id. */
  def compact(spark: SparkSession, root: String): Long =
    log(root).compact { dir =>
      // storedPostings/storedDocLens already exclude tombstoned docs, so
      // compaction is also the PHYSICAL removal point for deletes (the
      // takedown contract: tombstone now, scrub bytes at the next compact)
      storedPostings(spark, root).write.parquet(s"$dir/postings")
      storedDocLens(spark, root).write.parquet(s"$dir/doclen")
    }

  /** The committed per-doc lengths union (doc_id, dl) — every indexed
    * doc, dl = 0 for token-free ones; tombstoned docs excluded (they no
    * longer count toward corpus N / avgdl). */
  def storedDocLens(spark: SparkSession, root: String): DataFrame =
    log(root).read(spark, "doclen")

  /** The dictionary over the stored corpus: (term, df, cf) — valid
    * because ids never repeat across increments. */
  def dictionary(spark: SparkSession, root: String): DataFrame =
    storedPostings(spark, root).groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))

  /** Conjunctive search over the STORED corpus — identical output to
    * [[Index.conjunctiveSearch]] over the store's source docs, at the
    * cost of a probe-pruned postings scan. */
  def conjunctiveSearch(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame =
    Index.conjunctiveSearchOn(storedPostings(spark, root), terms)

  /** BM25 top-k over the STORED corpus — identical scores to
    * [[Index.rankedSearch]] over the store's source docs (same rational
    * idf, same fixed-order folds; corpus stats come from the stored
    * doc-length table). */
  def rankedSearch(spark: SparkSession, root: String, terms: Seq[String],
      k: Int): DataFrame =
    Index.rankedSearchOn(storedPostings(spark, root),
      storedDocLens(spark, root), terms, k)
}
