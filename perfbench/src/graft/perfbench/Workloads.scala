package graft.perfbench

import java.nio.file.Path

import graft.ops.{Dedup, Scrub, ShardStore}
import graft.sources.Warc
import graft.spark.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `.warc.gz` → `Warc.readPages` → one `SnapshotStore.run` committing every
  * bucket (extract, range-clustered write, lineage, manifest). Parsing
  * dominates, so a `core` or `ExtractJob` change shows here first. */
final class WarcCommit(spark: SparkSession, glob: String, golden: Vector[Golden], work: Path) extends Work {
  private var root: Path = _
  def docs: Long = golden.length
  def prepare(rep: Int): Unit = root = work.resolve(s"store-$rep")
  def body(tr: Tracer): Unit = {
    val pages = tr.span("Warc.readPages", "sources.read_pages")(Warc.readPages(spark, glob))
    tr.span("SnapshotStore.run", "snapshot.run")(
      SnapshotStore.run(spark, pages, root.toString, "r0", nBuckets = Workload.NBuckets))
  }
  /** Checks the commit, then times and checks the two ranged reads over it. */
  def check(c: Checks): Map[String, Double] = {
    val counts = Workload.checkSnapshot(spark, root.toString, golden, c)
    val t0 = System.nanoTime()
    Workload.checkRangedReads(golden, Workload.rangedReads(spark, root.toString, golden), c)
    counts + ("snapshot.ranged_read_s" -> (System.nanoTime() - t0) / 1e9)
  }
  def cleanup(): Unit = Workload.deleteTree(root)
}

/** Reads the same seed's committed snapshot (built in setup, not timed),
  * then `Scrub.scrub` → `Dedup.dedupCorpus` → keep representatives →
  * `ShardStore.exportAll` into a fresh root. Bound by shuffle and the
  * scheduler with no parsing: a `core` gain predicts no change here.
  *
  * The snapshot at `snapRoot` is shared by every run of one seed; a run
  * over a larger stride curates the docs `doc_id % stride == 0`, which are
  * exactly the docs of its files. */
final class CurateShards(spark: SparkSession, glob: String, golden: Vector[Golden], stride: Int,
    nearShas: Set[String], snapRoot: Path, work: Path) extends Work {
  private var root: Path = _
  private val maxPerShard = math.max(1L, golden.length / 16L)
  private var snapCounts = Map.empty[String, Double]
  def docs: Long = golden.length
  override def counts: Map[String, Double] = snapCounts

  override def setup(c: Checks): Unit =
    if (SnapshotStore.lastSnapshot(snapRoot.toString).isEmpty) {
      Workload.deleteTree(snapRoot)
      SnapshotStore.run(spark, Warc.readPages(spark, glob), snapRoot.toString, "setup",
        nBuckets = Workload.NBuckets)
      snapCounts = Workload.checkSnapshot(spark, snapRoot.toString, golden, c)
    }

  def prepare(rep: Int): Unit = root = work.resolve(s"shards-$rep")

  private def committed(): DataFrame =
    SnapshotStore.readCommitted(spark, snapRoot.toString).get
      .select(regexp_extract(col("url"), "/docs/(\\d+)/", 1).cast("long").as("doc_id"),
        col("url"), col("text"))
      .filter(col("doc_id") % stride === 0)

  def body(tr: Tracer): Unit = {
    val docs = tr.span("SnapshotStore.readCommitted", "snapshot.read")(committed())
    val scrubbed = tr.span("Scrub.scrub", "ops.scrub")(Scrub.scrub(docs))
    val clusters = tr.span("Dedup.dedupCorpus", "ops.dedup")(
      Dedup.dedupCorpus(scrubbed, Workload.DedupThreshold, idCol = "doc_id", textCol = "clean_text"))
    val kept = scrubbed.join(clusters.filter(col("is_representative")).select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("url"), col("clean_text").as("text"))
    tr.span("ShardStore.exportAll", "ops.shards")(ShardStore.exportAll(kept, root.toString, maxPerShard))
  }
  /** Expected decisions from the golden alone: a doc whose text equals a
    * smaller id's text must be dropped; any other doc must be kept unless
    * its text belongs to a planted near-duplicate family (`nearShas`, the
    * texts of near copies and of their sources anywhere in the corpus),
    * which is left to MinHash and only checked for shard placement. */
  def check(c: Checks): Map[String, Double] = {
    val rows = ShardStore.readCommitted(spark, root.toString).get
      .select(col("doc_id").cast("long"), sha2(col("text"), 256)).collect()
    val kept = rows.groupBy(_.getLong(0))
    val byId = golden.map(g => g.docId -> g).toMap
    golden.groupBy(_.sha).values.foreach { group =>
      val sorted = group.sortBy(_.docId)
      val nearFamily = nearShas(sorted.head.sha)
      sorted.zipWithIndex.foreach { case (g, i) =>
        val n = kept.get(g.docId).map(_.length).getOrElse(0)
        if (i > 0) c.check(n == 0, s"doc ${g.docId}: exact duplicate of ${sorted.head.docId} kept")
        else if (!nearFamily) c.check(n == 1, s"doc ${g.docId}: non-duplicate in $n shards")
        if (n > 0) c.check(n == 1 && kept(g.docId).forall(_.getString(1) == g.sha),
          s"doc ${g.docId}: in $n shards or text differs")
      }
    }
    kept.keys.filterNot(byId.contains).foreach(id => c.check(ok = false, s"doc $id: not in the corpus"))
    val m = ShardStore.lastManifest(root.toString).get
    Map(
      "ops.docs_after_dedup" -> kept.size.toDouble,
      "ops.shards" -> m.shards.length.toDouble)
  }

  def cleanup(): Unit = Workload.deleteTree(root)

  /** `Scrub.scrub` is lazy and runs no job of its own, so its cost is taken
    * by materializing it alone over the committed docs, and its funnel
    * count by counting that output. */
  override def tracedExtras: Map[String, Double] = {
    val t0 = System.nanoTime()
    Scrub.scrub(committed()).write.format("noop").mode("overwrite").save()
    Map("ops.scrub_s" -> (System.nanoTime() - t0) / 1e9,
      "ops.docs_after_scrub" -> Scrub.scrub(committed()).count().toDouble)
  }
}
