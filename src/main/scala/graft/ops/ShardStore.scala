package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Committed, resumable training-shard export (VERDICT r6 #2): the last
  * sink in the loader tier gets the same manifest discipline
  * `spark.SnapshotStore` gives extraction — atomic manifest rename,
  * per-shard-range commit units, resume that skips committed shards, and
  * a loader-facing manifest row per shard.
  *
  * Why it matters at 100 TB: the epoch order (global sort +
  * zipWithIndex) and the full-text shuffle join are the expensive parts
  * of an export; a `mode("overwrite").json(dir)` one-shot restarts BOTH
  * from zero on any failure, and readers have no committed index to
  * trust. Here:
  *
  *   - the (id, epoch_pos, shard_id) ASSIGNMENT is computed once and
  *     committed via atomic directory rename (`assignment.tmp` →
  *     `assignment`); every resume reads it back — the epoch order is
  *     NEVER recomputed after its first commit;
  *   - data is written in commit units of up to `maxShards` consecutive
  *     pending shards (`data/unit-<lo>-<hi>/shard_id=N/` JSONL), and the
  *     manifest (`manifest-<K>.tsv`, atomic rename) flips only after the
  *     unit's files are fully on disk — a reader never sees a
  *     half-written shard;
  *   - a crash between data write and manifest commit re-runs only that
  *     unit (overwrite of an uncommitted dir), keeping shard rows
  *     exactly-once.
  *
  * Layout under `root/`:
  *   assignment/            parquet (idCol, epoch_pos, shard_id)
  *   data/unit-<lo>-<hi>/   JSONL, partitioned by shard_id
  *   manifest-<K>.tsv       shard rows committed so far
  *
  * The manifest is metadata-scale: one row per shard (= corpus rows /
  * maxPerShard), the same order of magnitude as an Iceberg manifest's
  * file entries.
  */
object ShardStore {

  final case class ShardEntry(shardId: Long, nDocs: Long, posMin: Long,
      posMax: Long, path: String)
  final case class Manifest(id: Long, shards: Vector[ShardEntry])

  def lastManifest(root: String): Option[Manifest] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return None
    val manifests = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.matches("manifest-\\d+\\.tsv")).toVector
    if (manifests.isEmpty) return None
    Some(readManifest(manifests.maxBy(p =>
      p.getFileName.toString.stripPrefix("manifest-").stripSuffix(".tsv").toLong)))
  }

  private def readManifest(p: Path): Manifest = {
    var id = 0L
    val shards = Vector.newBuilder[ShardEntry]
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.foreach { line =>
      line.split('\t') match {
        case Array("manifest", v) => id = v.toLong
        case Array("shard", sid, n, lo, hi, path) =>
          shards += ShardEntry(sid.toLong, n.toLong, lo.toLong, hi.toLong, path)
        case _ =>
      }
    }
    Manifest(id, shards.result())
  }

  /** Atomic commit: tmp file in the same directory, then rename. */
  def commitManifest(root: String, m: Manifest): Unit = {
    val dir = Paths.get(root)
    Files.createDirectories(dir)
    val body = new StringBuilder(s"manifest\t${m.id}\n")
    m.shards.sortBy(_.shardId).foreach { s =>
      body ++= s"shard\t${s.shardId}\t${s.nDocs}\t${s.posMin}\t${s.posMax}\t${s.path}\n"
    }
    val tmp = dir.resolve(s"manifest-${m.id}.tsv.tmp")
    Files.write(tmp, body.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"manifest-${m.id}.tsv"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toVector.reverseIterator
        .foreach(Files.deleteIfExists(_))

  /** Input fingerprint: row count + order-independent id-hash XOR fold
    * (bit_xor — a SUM of 64-bit hashes overflows under ANSI mode) — one
    * column-pruned aggregate over the ids. */
  private def inputFingerprint(docs: DataFrame, idCol: String): (Long, Long) = {
    val r = docs.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col(idCol))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** (root, salt, maxPerShard, idCol) combinations whose committed
    * assignment this JVM already fingerprint-verified — exportAll calls
    * export (→ ensureAssignment) once per commit unit, and re-hashing the
    * input ids per unit would rescan the corpus exactly the way the unit
    * loop already must not. A CHANGED parameter re-keys and re-verifies;
    * changed docs under identical params within one JVM ride the cache
    * (the stale-dir-from-a-prior-run case always verifies — fresh JVM). */
  private val verifiedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The committed epoch-order assignment: computed + committed exactly
    * once (atomic directory rename — a crash mid-write leaves only the
    * tmp dir, retried next run); every later call reads the parquet back,
    * so the global sort + zipWithIndex never re-run on resume.
    *
    * EVALUATION COUNT: the first commit evaluates `docs` ONCE — only its
    * id column is checkpointed (8 B per doc), and the fingerprint, the
    * range sampler and the range shuffle all read that checkpoint. A
    * resume in a fresh JVM evaluates `docs` once more for the fingerprint
    * check; within one JVM a verified store evaluates nothing. The read-
    * back uses the assignment's known schema, so it runs no job.
    *
    * `params.tsv` INSIDE the assignment dir pins (salt, maxPerShard,
    * idCol, input row count, input id-hash): a resume with different docs
    * or parameters FAILS FAST instead of silently reusing the stale
    * committed assignment (new ids would be dropped by the export's inner
    * join, changed params ignored — ADVICE r7). */
  def ensureAssignment(docs: DataFrame, root: String, maxPerShard: Long,
      salt: String = "epoch0", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    val aDir = Paths.get(root, "assignment")
    val vKey = s"$root\u0000$salt\u0000$maxPerShard\u0000$idCol"
    if (!Files.isDirectory(aDir)) {
      val tmp = Paths.get(root, "assignment.tmp")
      deleteRecursively(tmp) // stale tmp from a crashed first attempt
      val ids = CheckpointScratch.ckpt(docs.select(col(idCol)))
      val (n, idHash) = inputFingerprint(ids, idCol)
      Splits.trainingShards(ids, maxPerShard, salt, idCol)
        .write.mode("overwrite").parquet(tmp.toString)
      CheckpointScratch.drop(ids)
      Files.write(tmp.resolve("_params.tsv"),
        s"salt\t$salt\nmaxPerShard\t$maxPerShard\nidCol\t$idCol\nn\t$n\nidHash\t$idHash\n"
          .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, aDir, StandardCopyOption.ATOMIC_MOVE)
      verifiedRoots.add(vKey)
    } else if (!verifiedRoots.contains(vKey)) {
      val kv = storedParams(aDir)
      if (kv.nonEmpty) { // pre-fingerprint stores stay readable
        val (n, idHash) = inputFingerprint(docs, idCol)
        val want = Map("salt" -> salt, "maxPerShard" -> maxPerShard.toString,
          "idCol" -> idCol, "n" -> n.toString, "idHash" -> idHash.toString)
        val diffs = want.collect {
          case (k, v) if kv.getOrElse(k, v) != v => s"$k: stored=${kv(k)} now=$v"
        }
        require(diffs.isEmpty,
          s"committed assignment at $root does not match this export " +
            s"(${diffs.mkString("; ")}) — delete the store or use a new root; " +
            "silently reusing it would drop new ids / ignore changed params")
      }
      verifiedRoots.add(vKey) // only AFTER a pass — a failed verify must re-run
    }
    // every column is BIGINT: epochOrder casts the id to long
    val schema = StructType(Seq(idCol, "epoch_pos", "shard_id").map(StructField(_, LongType)))
    spark.read.schema(schema).parquet(aDir.toString)
  }

  /** The `_params.tsv` pairs of a committed assignment (empty when absent). */
  private def storedParams(aDir: Path): Map[String, String] = {
    val pf = aDir.resolve("_params.tsv")
    if (!Files.isRegularFile(pf)) Map.empty
    else Files.readAllLines(pf, StandardCharsets.UTF_8).asScala
      .flatMap(_.split('\t') match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
  }

  /** One resumable export step: take up to `maxShards` pending shards
    * (the kill-mid-export test knob — SnapshotStore.run's `maxBuckets`
    * pattern), write their JSONL unit, commit the next manifest. Returns
    * the committed manifest; a no-op (everything committed) returns the
    * previous one. Commits run in shard order, so the pending set is
    * always a contiguous suffix and one `between` filter selects a unit.
    *
    * COST NOTE: a fresh export evaluates `docs` twice — once for the id
    * checkpoint inside [[ensureAssignment]], once for the unit write. The
    * shard table is arithmetic (no job), so every further unit costs one
    * more evaluation of `docs` and nothing else: `exportAll` with a small
    * `maxShardsPerCommit` re-scans the corpus once per unit. Units exist
    * for RESUME granularity, not throughput; the default (one unit =
    * everything pending) scans once. For a deliberately small unit size
    * over an expensive upstream plan, localCheckpoint `docs` first so each
    * unit reads materialized partitions. */
  def export(docs: DataFrame, root: String, maxPerShard: Long,
      salt: String = "epoch0", idCol: String = "doc_id",
      maxShards: Int = Int.MaxValue): Manifest =
    exportStep(docs, root, maxPerShard, salt, idCol, maxShards)._1

  /** [[export]] plus whether the returned manifest holds every shard. */
  private def exportStep(docs: DataFrame, root: String, maxPerShard: Long,
      salt: String, idCol: String, maxShards: Int): (Manifest, Boolean) = {
    require(maxShards >= 1, s"maxShards must be >= 1, got $maxShards")
    val spark = docs.sparkSession
    Files.createDirectories(Paths.get(root))
    val assignment = ensureAssignment(docs, root, maxPerShard, salt, idCol)
    // a store written before _params.tsv existed pays one count job
    val n = storedParams(Paths.get(root, "assignment")).get("n").map(_.toLong)
      .getOrElse(assignment.count())
    val prev = lastManifest(root).getOrElse(Manifest(0L, Vector.empty))
    val done = prev.shards.map(_.shardId).toSet

    // epoch positions are exactly 0..n-1 (zipWithIndex), so shard k holds
    // positions [k*m, min(n, (k+1)*m) - 1] — Splits.shardManifest's rows
    // by arithmetic, with no job
    val open = (0L until (n + maxPerShard - 1) / maxPerShard).filterNot(done)
    val pending = open.take(maxShards)
    if (pending.isEmpty) return (prev, true)

    val (lo, hi) = (pending.head, pending.last)
    require(!done.exists(s => s >= lo && s <= hi),
      s"non-contiguous committed shards inside unit [$lo,$hi] — foreign manifest?")
    val unitDir = s"$root/data/unit-$lo-$hi"
    docs.join(assignment.filter(col("shard_id").between(lo, hi)), Seq(idCol))
      // explicit partition count: a bare repartition(cols) is
      // AQE-coalescible and would serialize the shard write
      .repartition(spark.sessionState.conf.numShufflePartitions, col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("epoch_pos"))
      .write.mode("overwrite").partitionBy("shard_id").json(unitDir)

    val entries = pending.map { sid =>
      val pMin = sid * maxPerShard
      val pMax = math.min(n, pMin + maxPerShard) - 1
      ShardEntry(sid, pMax - pMin + 1, pMin, pMax, s"$unitDir/shard_id=$sid")
    }
    val next = Manifest(prev.id + 1, prev.shards ++ entries)
    commitManifest(root, next)
    (next, pending.length == open.length)
  }

  /** Drive `export` until every shard is committed; stops on the step
    * that commits the last shard. */
  def exportAll(docs: DataFrame, root: String, maxPerShard: Long,
      salt: String = "epoch0", idCol: String = "doc_id",
      maxShardsPerCommit: Int = Int.MaxValue): Manifest = {
    var (m, complete) = exportStep(docs, root, maxPerShard, salt, idCol, maxShardsPerCommit)
    while (!complete) {
      val (next, c) = exportStep(docs, root, maxPerShard, salt, idCol, maxShardsPerCommit)
      m = next
      complete = c
    }
    m
  }

  /** Loader view: union of all COMMITTED unit dirs (uncommitted unit
    * writes are invisible — the manifest is the source of truth; units
    * commit atomically, so unit granularity equals shard granularity).
    * Each unit is read against its own root so the `shard_id=N`
    * partition column infers per unit (a shared basePath would make
    * Spark parse the non-kv `unit-<lo>-<hi>` segments as conflicting
    * partition structures); the union is manifest-scale (one read per
    * commit unit, not per shard). */
  def readCommitted(spark: SparkSession, root: String): Option[DataFrame] =
    lastManifest(root).filter(_.shards.nonEmpty).map { m =>
      val units = m.shards.map(_.path.replaceFirst("/shard_id=\\d+$", "")).distinct
      units.map(u => spark.read.json(u))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }

  /** The committed manifest as a DataFrame (the loader's index). */
  def manifestDF(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    lastManifest(root).getOrElse(Manifest(0L, Vector.empty))
      .shards.map(s => (s.shardId, s.nDocs, s.posMin, s.posMax, s.path))
      .toDF("shard_id", "n_docs", "pos_min", "pos_max", "path")
  }
}
