package graft.ops

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
  *   params.tsv             salt / maxPerShard / idCol / n / idHash
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

  def lastManifest(root: String): Option[Manifest] =
    ManifestLog(root).latest.map { case (_, lines) => parse(lines) }

  private def parse(lines: Seq[String]): Manifest = {
    var id = 0L
    val shards = Vector.newBuilder[ShardEntry]
    lines.foreach { line =>
      line.split('\t') match {
        case Array("manifest", v) => id = v.toLong
        case Array("shard", sid, n, lo, hi, path) =>
          shards += ShardEntry(sid.toLong, n.toLong, lo.toLong, hi.toLong, path)
        case _ =>
      }
    }
    Manifest(id, shards.result())
  }

  /** Atomic commit of `m` as `manifest-<m.id>.tsv`. */
  def commitManifest(root: String, m: Manifest): Unit =
    ManifestLog(root).commit(m.id, s"manifest\t${m.id}" +:
      m.shards.sortBy(_.shardId).map(s =>
        s"shard\t${s.shardId}\t${s.nDocs}\t${s.posMin}\t${s.posMax}\t${s.path}"))

  /** Input fingerprint: row count + order-independent id-hash XOR fold
    * (bit_xor — a SUM of 64-bit hashes overflows under ANSI mode) — one
    * column-pruned aggregate over the ids. */
  private def inputFingerprint(docs: DataFrame, idCol: String): (Long, Long) = {
    val r = docs.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col(idCol))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The committed epoch-order assignment: computed + committed exactly
    * once (atomic directory rename — a crash mid-write leaves only the
    * tmp dir, retried next run); every later call reads the parquet back,
    * so the global sort + zipWithIndex never re-run on resume.
    *
    * EVALUATION COUNT: the first commit evaluates `docs` ONCE — only its
    * id column is checkpointed (8 B per doc), and the fingerprint, the
    * range sampler and the range shuffle all read that checkpoint. Every
    * call on an already-committed store evaluates `docs` once for the
    * fingerprint check ([[exportAll]] calls this once, not per unit). The
    * read-back uses the assignment's known schema, so it runs no job.
    *
    * `params.tsv` pins (salt, maxPerShard, idCol, input row count, input
    * id-hash) before the assignment is published: a resume with different
    * docs or parameters FAILS FAST instead of silently reusing the stale
    * committed assignment (new ids would be dropped by the export's inner
    * join, changed params ignored — ADVICE r7). A published assignment
    * with no pin is refused, never re-pinned. */
  def ensureAssignment(docs: DataFrame, root: String, maxPerShard: Long,
      salt: String = "epoch0", idCol: String = "doc_id"): DataFrame = {
    val log = ManifestLog(root)
    def pin(fingerprint: (Long, Long)): Unit =
      log.pinParams("ShardStore", Seq("salt" -> salt, "maxPerShard" -> maxPerShard,
        "idCol" -> idCol, "n" -> fingerprint._1, "idHash" -> fingerprint._2),
        "the committed assignment does not match this export; delete the store or " +
          "use a new root (reusing it would drop new ids / ignore changed params)")
    if (!log.published("assignment")) {
      val ids = CheckpointScratch.ckpt(docs.select(col(idCol)))
      pin(inputFingerprint(ids, idCol))
      log.publish("assignment") { tmp =>
        Splits.trainingShards(ids, maxPerShard, salt, idCol).write.parquet(tmp)
      }
      CheckpointScratch.drop(ids)
    } else {
      require(log.params.isDefined,
        s"ShardStore at $root has a committed assignment but no pinned params.tsv; " +
          "refusing to re-pin it — delete the store or use a new root")
      pin(inputFingerprint(docs, idCol))
    }
    // every column is BIGINT: epochOrder casts the id to long
    val schema = StructType(Seq(idCol, "epoch_pos", "shard_id").map(StructField(_, LongType)))
    docs.sparkSession.read.schema(schema).parquet(s"$root/assignment")
  }

  /** One resumable export step: take up to `maxShards` pending shards
    * (the kill-mid-export test knob — SnapshotStore.run's `maxBuckets`
    * pattern), write their JSONL unit, commit the next manifest. Returns
    * the committed manifest; a no-op (everything committed) returns the
    * previous one. Commits run in shard order, so the pending set is
    * always a contiguous suffix and one `between` filter selects a unit.
    *
    * COST NOTE: a fresh export evaluates `docs` twice — once for the id
    * checkpoint inside [[ensureAssignment]], once for the unit write; an
    * export on a committed store likewise twice (fingerprint check, unit
    * write). The shard table is arithmetic (no job), so every further
    * unit costs one more evaluation of `docs` and nothing else:
    * `exportAll` with a small `maxShardsPerCommit` re-scans the corpus
    * once per unit. Units exist for RESUME granularity, not throughput;
    * the default (one unit = everything pending) scans once. For a
    * deliberately small unit size over an expensive upstream plan,
    * localCheckpoint `docs` first so each unit reads materialized
    * partitions. */
  def export(docs: DataFrame, root: String, maxPerShard: Long,
      salt: String = "epoch0", idCol: String = "doc_id",
      maxShards: Int = Int.MaxValue): Manifest =
    exportStep(docs, ensureAssignment(docs, root, maxPerShard, salt, idCol),
      root, maxPerShard, idCol, maxShards)._1

  /** [[export]] over an already-ensured assignment, plus whether the
    * returned manifest holds every shard. */
  private def exportStep(docs: DataFrame, assignment: DataFrame, root: String,
      maxPerShard: Long, idCol: String, maxShards: Int): (Manifest, Boolean) = {
    require(maxShards >= 1, s"maxShards must be >= 1, got $maxShards")
    val spark = docs.sparkSession
    val n = ManifestLog(root).params.get("n").toLong // pinned by ensureAssignment
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
    * that commits the last shard. The assignment is ensured (committed or
    * fingerprint-verified) once for the whole loop. */
  def exportAll(docs: DataFrame, root: String, maxPerShard: Long,
      salt: String = "epoch0", idCol: String = "doc_id",
      maxShardsPerCommit: Int = Int.MaxValue): Manifest = {
    val assignment = ensureAssignment(docs, root, maxPerShard, salt, idCol)
    def step() = exportStep(docs, assignment, root, maxPerShard, idCol, maxShardsPerCommit)
    var (m, complete) = step()
    while (!complete) {
      val (next, c) = step()
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
}
