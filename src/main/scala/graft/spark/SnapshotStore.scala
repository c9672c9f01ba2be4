package graft.spark

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ManifestLog

/** Iceberg-style snapshot layout + exactly-once resume (SURVEY §4.4).
  *
  * No Iceberg runtime jar exists offline, so the *semantics* are
  * implemented directly: Parquet data files + a manifest per snapshot,
  * committed via atomic rename — readers only ever see a fully-committed
  * manifest ([[ManifestLog]] with prefix `snapshot` owns the file
  * mechanics; this store owns the manifest lines). The reference
  * analogue is DVC's content-hash stage memoization
  * (/root/reference/dvc.lock) — re-running skips completed work.
  *
  * Layout under `root/`:
  *   data/run-<runId>/        parquet data for the buckets of one run
  *   lineage/run-<runId>/     per-partition lineage rows for that run
  *   snapshot-<N>.tsv         manifest: committed buckets + data dirs
  *
  * Resume unit = url bucket: `pmod(xxhash64(url), nBuckets)`. A bucket's
  * rows are written by exactly one committed run, so the union of all
  * committed data dirs is exactly-once per url.
  *
  * One [[run]] parses each selected page exactly once and never reads back
  * what it wrote:
  *   - the write is range-clustered on `(url host, warcTs)`, with bounds
  *     sampled from a key-only projection of the input pages (a WARC scan,
  *     no parse) — both keys are known before extraction;
  *   - lineage rows are folded inside the extraction tasks
  *     ([[ExtractJob.foldLineage]]);
  *   - per-file stats are folded inside the write tasks ([[writeWithStats]],
  *     shared with [[compact]]).
  * Both folds publish manifest-scale rows through [[PartitionReports]].
  * [[collectFileStats]] (a scan of written data) remains only for a
  * write task that writes several files.
  */
object SnapshotStore {

  /** Per-data-file column statistics (the Iceberg manifest-entry analogue):
    * min/max `warcTs` (epoch millis) and min/max url host per parquet
    * file, recorded at commit time so ranged reads prune FILES from the
    * manifest alone — no footer reads, no data scan. */
  final case class FileStats(path: String, tsMin: Long, tsMax: Long,
      hostMin: String, hostMax: String)

  final case class Snapshot(id: Long, buckets: Set[Int], dataDirs: Vector[String],
      files: Vector[FileStats] = Vector.empty)

  private def log(root: String) = ManifestLog(root, "snapshot")

  def lastSnapshot(root: String): Option[Snapshot] =
    log(root).latest.map { case (_, lines) => parse(lines) }

  /** Time travel (Iceberg's `VERSION AS OF`): the manifest committed as
    * snapshot `id`, when it still exists ([[expireSnapshots]] may have
    * dropped it). Data files are immutable once committed and survive
    * until NO retained manifest references them, so a historical
    * manifest reconstructs that snapshot's exact table state — including
    * its file stats, so ranged reads prune against the state AS OF then. */
  def snapshotAt(root: String, id: Long): Option[Snapshot] =
    log(root).read(id).map(parse)

  private def parse(lines: Seq[String]): Snapshot = {
    var id = 0L
    val buckets = Set.newBuilder[Int]
    val dirs = Vector.newBuilder[String]
    val files = Vector.newBuilder[FileStats]
    lines.foreach { line =>
      line.split('\t') match {
        case Array("snapshot", v) => id = v.toLong
        case Array("bucket", v)   => buckets += v.toInt
        case Array("dir", v)      => dirs += v
        case Array("file", path, tMin, tMax, hMin, hMax) =>
          files += FileStats(path, tMin.toLong, tMax.toLong, hMin, hMax)
        case _                    =>
      }
    }
    Snapshot(id, buckets.result(), dirs.result(), files.result())
  }

  /** Atomic manifest commit: write tmp in the same directory, then rename. */
  def commitManifest(root: String, s: Snapshot): Unit =
    log(root).commit(s.id, Vector(s"snapshot\t${s.id}") ++
      s.buckets.toVector.sorted.map(b => s"bucket\t$b") ++
      s.dataDirs.map(d => s"dir\t$d") ++
      s.files.map(f =>
        s"file\t${f.path}\t${f.tsMin}\t${f.tsMax}\t${f.hostMin}\t${f.hostMax}"))

  /** The url host the write layout and the host stats key on. */
  private def hostOf(url: Column): Column = coalesce(parse_url(url, lit("HOST")), lit(""))

  /** Per-file min/max stats of a committed data dir by scanning it: ONE
    * column-pruned scan of (warcTs, url) grouped by the physical file.
    * The collect is manifest-scale (one row per parquet file), the
    * bounded-collect pattern. Tab/newline are stripped from host bounds so
    * the TSV manifest stays line-parseable. Used only when a write task
    * wrote several files; otherwise the write tasks fold their stats
    * ([[writeWithStats]]). */
  def collectFileStats(spark: SparkSession, dataDir: String): Vector[FileStats] = {
    val clean = (c: Column) => regexp_replace(c, "[\\t\\n\\r]", " ")
    spark.read.parquet(dataDir)
      .select(input_file_name().as("f"), col("warcTs"), clean(hostOf(col("url"))).as("h"))
      .groupBy(col("f"))
      .agg(min(col("warcTs")).as("tsMin"), max(col("warcTs")).as("tsMax"),
        min(col("h")).as("hMin"), max(col("h")).as("hMax"))
      .collect()
      .map(r => FileStats(r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))
      .toVector.sortBy(_.path)
  }

  /** UTF-8 byte comparison — the hostMin/hostMax bounds were computed by
    * Spark's min/max, which orders strings by UTF8String BINARY order;
    * Java String `<=` is UTF-16 code-unit order and disagrees for
    * supplementary-plane characters (surrogates sort low), which could
    * wrongly prune a file whose bounds straddle the plane boundary. */
  private def utf8Lte(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) <= 0

  /** A range key `(url host as UTF-8, warcTs)` in Spark's sort order:
    * strings by unsigned bytes, then the timestamp. */
  private type Key = (Array[Byte], Long)
  private val KeyOrder: Ordering[Key] = (a, b) => {
    val c = java.util.Arrays.compareUnsigned(a._1, b._1)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }

  /** Range bounds on `(host, warcTs)` for at most `n` partitions, taken
    * from a key-only projection of the input `pages` — a WARC scan, no
    * parse: extraction keeps one row per page with `warcTs` = `warc_ts` in
    * epoch millis (null → 0). One job: each input partition keeps a
    * bounded reservoir sample of its keys (Spark's `RangePartitioner`
    * sample size: 20 keys per output partition, 3× oversampled), and the
    * driver picks bounds weighted by each partition's row count, skipping
    * duplicates — so fewer distinct keys give fewer bounds, never an
    * empty range. */
  private def rangeBounds(spark: SparkSession, pages: DataFrame, n: Int): Array[Key] = {
    import spark.implicits._
    val keys = pages.select(hostOf(col("url")), coalesce(unix_millis(col("warc_ts")), lit(0L)))
      .as[(String, Long)]
    val perPart = math.ceil(3.0 * math.min(20.0 * n, 1e6) /
      math.max(keys.rdd.getNumPartitions, 1)).toInt
    val samples = keys.mapPartitions { it =>
      val rnd = new java.util.Random(TaskContext.getPartitionId())
      val kept = new Array[(String, Long)](perPart)
      var seen = 0L
      it.foreach { k =>
        if (seen < perPart) kept(seen.toInt) = k
        else {
          val j = (rnd.nextDouble() * (seen + 1)).toLong
          if (j < perPart) kept(j.toInt) = k
        }
        seen += 1
      }
      Iterator((seen, kept.take(math.min(seen, perPart.toLong).toInt).toSeq))
    }.collect()
    val weighted = samples.filter(_._1 > 0).flatMap { case (seen, kept) =>
      kept.map { case (h, ts) => ((h.getBytes(UTF_8), ts), seen.toDouble / kept.length) }
    }.sortBy(_._1)(KeyOrder)
    val step = weighted.map(_._2).sum / n
    val bounds = ArrayBuffer.empty[Key]
    var cum = 0.0
    var target = step
    weighted.foreach { case (k, w) =>
      cum += w
      if (bounds.length < n - 1 && cum >= target &&
          (bounds.isEmpty || KeyOrder.gt(k, bounds.last))) {
        bounds += k
        target += step
      }
    }
    bounds.toArray
  }

  /** The range partition of each row: the first bound >= its key
    * (`RangePartitioner`'s rule), so `bounds.length + 1` partitions. */
  private def rangeId(bounds: Array[Key]): Column =
    udf((host: String, ts: Long) => bounds.search((host.getBytes(UTF_8), ts))(KeyOrder).insertionPoint)
      .apply(col("_host"), col("warcTs"))

  /** Min/max of the range key over the rows one write task wrote; hosts
    * cleaned as [[collectFileStats]] cleans them. */
  private final class KeyRange extends Serializable {
    private var hostMin, hostMax: Array[Byte] = _
    private var tsMin = Long.MaxValue
    private var tsMax = Long.MinValue

    def add(host: String, ts: java.lang.Long): Unit = {
      val h = host.replace('\t', ' ').replace('\n', ' ').replace('\r', ' ').getBytes(UTF_8)
      if (hostMin == null || java.util.Arrays.compareUnsigned(h, hostMin) < 0) hostMin = h
      if (hostMax == null || java.util.Arrays.compareUnsigned(h, hostMax) > 0) hostMax = h
      if (ts != null) {
        tsMin = math.min(tsMin, ts)
        tsMax = math.max(tsMax, ts)
      }
    }

    def stats(path: String): FileStats =
      FileStats(path, tsMin, tsMax, new String(hostMin, UTF_8), new String(hostMax, UTF_8))
  }

  private val PartFile = """/part-(\d+)-[^/]*$""".r

  /** Write `keyed` (the data rows plus a `_host` key column, which is not
    * written) to `dataDir` and return the [[FileStats]] of each non-empty
    * file written, folded by the write tasks themselves: a pass-through
    * filter folds min/max of `_host` and `warcTs` per task — the two key
    * columns, never the text — and each task's report is matched to the
    * `part-NNNNN` file its partition wrote. Exact per file; should a task
    * write several files (`maxRecordsPerFile`), the dir is scanned by
    * [[collectFileStats]] instead. */
  private def writeWithStats(spark: SparkSession, keyed: DataFrame,
      dataDir: String): Vector[FileStats] = {
    val reports = new PartitionReports[KeyRange]
    spark.sparkContext.register(reports)
    val fold = udf { (host: String, ts: java.lang.Long) =>
      reports.fold(TaskContext.getPartitionId(), new KeyRange).add(host, ts)
      true
    }.asNondeterministic()
    val out = keyed.filter(fold(col("_host"), col("warcTs"))).drop("_host")
    out.write.mode("overwrite").parquet(dataDir)
    val files = spark.read.schema(out.schema).parquet(dataDir).inputFiles.toVector
      .groupBy(f => PartFile.findFirstMatchIn(f).map(_.group(1).toInt))
    val folded = reports.value
    if (!folded.keys.forall(p => files.get(Some(p)).exists(_.size == 1)))
      collectFileStats(spark, dataDir)
    else folded.toVector.map { case (p, r) => r.stats(files(Some(p)).head) }.sortBy(_.path)
  }

  /** Committed data dirs with NO file-stats coverage: a run that wrote no
    * rows, or a manifest whose file lines are missing. Stats paths are
    * input_file_name() URIs (file:///...), dataDirs are plain paths —
    * normalize before the containment check; and the dir prefix carries a
    * trailing separator, or run-r10's files would mark sibling run-r1 as
    * covered and a ranged read would skip its rows. */
  def uncoveredDirs(s: Snapshot): Vector[String] = {
    def normFile(p: String) = p.stripPrefix("file:").replaceAll("^/+", "/")
    // dirs may be RELATIVE (a relative store root): resolve to absolute
    // normalized paths — input_file_name() URIs are always absolute, so a
    // relative prefix never matches and every dir would read as uncovered
    // (ADVICE r5)
    s.dataDirs.filterNot { d =>
      val prefix = ManifestLog.absolute(d).stripSuffix("/") + "/"
      s.files.exists(f => normFile(f.path).startsWith(prefix))
    }
  }

  /** Manifest-only file pruning for a ranged read: keep files whose
    * [tsMin,tsMax] overlaps the requested ts window and whose
    * [hostMin,hostMax] could contain `host`. Stats bound a SUPERSET —
    * callers re-apply the exact predicate after the pruned scan. */
  def pruneFiles(s: Snapshot, tsMin: Option[Long] = None,
      tsMax: Option[Long] = None, host: Option[String] = None): Vector[String] =
    s.files.filter { f =>
      tsMax.forall(f.tsMin <= _) && tsMin.forall(f.tsMax >= _) &&
        host.forall(h => utf8Lte(f.hostMin, h) && utf8Lte(h, f.hostMax))
    }.map(_.path)

  /** Ranged read over the committed state: prune data FILES from the
    * manifest stats, scan only the survivors, then apply the exact
    * predicate (the stats are a superset bound). Falls back to a full
    * scan + filter when the manifest carries no file stats at all; a
    * PARTIALLY-covered manifest (some dirs with no stats entries) scans
    * the uncovered dirs in full alongside the pruned files, so a ranged
    * read never silently loses the uncovered dirs' rows (ADVICE r5). */
  def readCommittedRange(spark: SparkSession, root: String,
      tsMin: Option[Long] = None, tsMax: Option[Long] = None,
      host: Option[String] = None, asOf: Option[Long] = None): Option[DataFrame] =
    asOf.fold(lastSnapshot(root))(snapshotAt(root, _))
      .filter(_.dataDirs.nonEmpty).map { s =>
      val base =
        if (s.files.isEmpty) spark.read.parquet(s.dataDirs: _*)
        else {
          val paths = pruneFiles(s, tsMin, tsMax, host) ++ uncoveredDirs(s)
          if (paths.isEmpty) spark.read.parquet(s.dataDirs: _*).limit(0)
          else spark.read.parquet(paths: _*)
        }
      Seq(
        tsMin.map(col("warcTs") >= _), tsMax.map(col("warcTs") <= _),
        host.map(hostOf(col("url")) === _)
      ).flatten.foldLeft(base)(_.filter(_))
    }

  /** One resumable run: extract only the buckets not yet committed, write
    * data + lineage, then commit the next snapshot. `maxBuckets` caps how
    * many pending buckets this run takes (the kill-mid-job test knob).
    * `clusterPartitions` > 0 caps the number of range-clustered files; 0
    * takes `spark.sql.shuffle.partitions`, and AQE does not coalesce the
    * `repartitionById` shuffle, so that count is not shrunk to a target
    * file size. Returns the committed snapshot; with nothing pending that
    * is the previous one, and no Spark job runs. */
  def run(spark: SparkSession, pages: DataFrame, root: String, runId: String,
      nBuckets: Int = 16, maxBuckets: Int = Int.MaxValue,
      clusterPartitions: Int = 0): Snapshot = {
    val prev = lastSnapshot(root).getOrElse(Snapshot(0L, Set.empty, Vector.empty))
    val pending = (0 until nBuckets).filterNot(prev.buckets).take(maxBuckets)
    if (pending.isEmpty) return prev

    val withBucket = pages.withColumn("_bucket",
      pmod(xxhash64(col("url")), lit(nBuckets)).cast("int"))
    val selected = withBucket.filter(col("_bucket").isin(pending: _*)).drop("_bucket")

    val lineage = new PartitionReports[ExtractJob.LineageFold]
    spark.sparkContext.register(lineage)
    val extracted = ExtractJob.foldLineage(ExtractJob.extractTexts(spark, selected), lineage)
      .withColumn("_host", hostOf(col("url")))
    // CLUSTER the write layout so the manifest's (host, warcTs) min/max
    // stats are TIGHT per file: the resume unit is a url-HASH bucket, so
    // an as-extracted write gives every data file near-domain-wide host
    // bounds and pruneFiles on a host range selects everything. Range
    // partitions give each file a contiguous (host, warcTs) range (a
    // skewed mega-host splits across files whose bounds stay the tight
    // [h, h]); the within-partition sort additionally clusters parquet
    // row groups for min/max skipping inside a file. The bounds come from
    // the page keys, not the parse (repartitionByRange would sample by
    // running the whole extraction once more). One partition needs no
    // bounds, and no key pass runs.
    val n =
      if (clusterPartitions > 0) clusterPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bounds = if (n == 1) Array.empty[Key] else rangeBounds(spark, selected, n)
    val keyed = extracted.repartitionById(bounds.length + 1, rangeId(bounds))
      .sortWithinPartitions(col("_host"), col("warcTs"))
    val dataDir = s"$root/data/run-$runId"
    val written = writeWithStats(spark, keyed, dataDir)

    // lineage rows come from the extraction tasks' own folds (one row per
    // extraction partition, manifest-scale) and are committed before the
    // manifest flips.
    val snapId = prev.id + 1
    ExtractJob.lineageRows(spark, lineage.value, runId, snapId).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/lineage/run-$runId")

    // manifest column stats: prior snapshots' entries carry over
    // untouched (files are immutable once committed), plus the new files
    val snap = Snapshot(snapId, prev.buckets ++ pending, prev.dataDirs :+ dataDir,
      prev.files ++ written)
    commitManifest(root, snap)
    snap
  }

  /** Read the committed table state (union of all committed data dirs);
    * `asOf` reads a PRIOR snapshot's state instead of the latest. */
  def readCommitted(spark: SparkSession, root: String,
      asOf: Option[Long] = None): Option[DataFrame] =
    asOf.fold(lastSnapshot(root))(snapshotAt(root, _))
      .filter(_.dataDirs.nonEmpty)
      .map(s => spark.read.parquet(s.dataDirs: _*))

  /** Compaction (Iceberg-style table maintenance): rewrite all committed
    * data dirs into one and commit a new snapshot referencing only it.
    * Readers of older snapshots are unaffected — their manifests still
    * point at the old files until [[expireSnapshots]]. */
  def compact(spark: SparkSession, root: String, runId: String): Snapshot = {
    val prev = lastSnapshot(root).getOrElse(return Snapshot(0L, Set.empty, Vector.empty))
    if (prev.dataDirs.length <= 1) return prev
    val dataDir = s"$root/data/compact-$runId"
    val files = writeWithStats(spark,
      spark.read.parquet(prev.dataDirs: _*).withColumn("_host", hostOf(col("url"))), dataDir)
    val snap = Snapshot(prev.id + 1, prev.buckets, Vector(dataDir), files)
    commitManifest(root, snap)
    snap
  }

  /** Snapshot expiry: drop all but the newest `keepLast` manifests and
    * delete data dirs no surviving manifest references. The current
    * snapshot never expires (Iceberg's rule), so `keepLast` must be >= 1. */
  def expireSnapshots(root: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1,
      s"keepLast must be >= 1 (the current snapshot never expires), got $keepLast")
    val ids = log(root).ids
    val (expire, keep) = ids.splitAt(ids.length - keepLast)
    def dirs(ids: Vector[Long]) = ids.flatMap(snapshotAt(root, _)).flatMap(_.dataDirs).toSet
    val dead = dirs(expire) -- dirs(keep)
    expire.foreach(log(root).remove)
    dead.foreach(ManifestLog.deleteRecursively)
  }
}
