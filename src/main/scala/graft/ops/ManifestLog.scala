package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The commit protocol every persisted store shares (the Iceberg
  * discipline on plain files): data lands under a tmp name and is
  * published by atomic directory rename, then a versioned manifest
  * `<prefix>-<K>.tsv` flips by atomic rename of `<prefix>-<K>.tsv.tmp`.
  * Readers list manifests and trust only the latest one (or, for time
  * travel, a given id), so they see committed state only; a crash at any
  * point leaves either the old manifest or the new one in force.
  *
  * Crash states and what clears them:
  *   - a stale `<dir>.tmp` (killed mid-write): [[publish]] deletes it;
  *   - a published but unlisted `<dir>` (killed before the manifest
  *     flip): the retry derives the same id from the unchanged manifest
  *     and [[publish]] overwrites it;
  *   - a leftover `<prefix>-<K>.tsv.tmp`: invisible to the listing and
  *     overwritten by the next [[commit]] of that id;
  *   - `params.tsv` without data: [[pinParams]] accepts the same params.
  *
  * The log owns the file mechanics; each store owns its manifest line
  * payload. [[ManifestLog.Increments]] adds the `inc-<K>`/`del-<K>` flow
  * the incremental stores share. This file is the only code that touches
  * the store file system: its API takes and returns `String` paths, the
  * type Spark readers and writers take. Inside, paths are local
  * `java.nio` paths: ATOMIC_MOVE replaces a file target, and [[publish]]
  * clears a directory target before its rename. */
final case class ManifestLog(root: String, prefix: String = "manifest") {

  private val name = s"$prefix-(\\d+)\\.tsv".r

  private def path(id: Long): Path = Paths.get(root, s"$prefix-$id.tsv")

  /** Committed manifest ids, ascending. */
  def ids: Vector[Long] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) Vector.empty
    else Using.resource(Files.list(dir))(_.iterator().asScala
      .flatMap(p => name.unapplySeq(p.getFileName.toString).map(_.head.toLong))
      .toVector.sorted)
  }

  /** The lines of manifest `id`, when it is committed. */
  def read(id: Long): Option[Vector[String]] =
    if (Files.isRegularFile(path(id)))
      Some(Files.readAllLines(path(id), StandardCharsets.UTF_8).asScala.toVector)
    else None

  /** The latest committed manifest: its id and lines. */
  def latest: Option[(Long, Vector[String])] =
    ids.lastOption.flatMap(id => read(id).map(id -> _))

  /** Commit manifest `id` atomically; each line gets a trailing newline. */
  def commit(id: Long, lines: Seq[String]): Unit =
    ManifestLog.writeAtomic(path(id), lines.mkString("", "\n", "\n"))

  /** Drop manifest `id` (snapshot expiry). */
  def remove(id: Long): Unit = Files.deleteIfExists(path(id))

  /** Publish directory `root/dir`: clear a stale `dir.tmp` and a stale
    * unlisted `dir`, let `write` fill `dir.tmp`, then rename it into
    * place. Callers commit a manifest listing `dir` afterwards. */
  def publish(dir: String)(write: String => Unit): Unit = {
    val (tmp, dst) = (Paths.get(root, s"$dir.tmp"), Paths.get(root, dir))
    ManifestLog.deleteRecursively(tmp.toString)
    ManifestLog.deleteRecursively(dst.toString)
    write(tmp.toString)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Whether [[publish]] has put `root/dir` in place. */
  def published(dir: String): Boolean = Files.isDirectory(Paths.get(root, dir))

  /** The fail-fast `params.tsv` pin: the first call writes `want`; a
    * later call whose `want` differs from the stored value of any of its
    * keys fails instead of silently mixing data built under different
    * parameters. `store` and `why` go into the refusal. */
  def pinParams(store: String, want: Seq[(String, Any)], why: String): Unit =
    params match {
      case None => writeParams(want)
      case Some(stored) =>
        def show(kv: Iterable[(String, Any)]) = kv.map { case (k, v) => s"$k=$v" }.mkString(", ")
        require(want.forall { case (k, v) => stored.get(k).contains(v.toString) },
          s"$store at $root was built with ${show(stored)}; refusing ${show(want)} — $why")
    }

  /** The pinned `params.tsv` pairs, when the file exists. */
  def params: Option[Map[String, String]] = {
    val file = Paths.get(root, "params.tsv")
    if (!Files.isRegularFile(file)) None
    else Some(Files.readAllLines(file, StandardCharsets.UTF_8).asScala
      .flatMap(_.split('\t') match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap)
  }

  /** Write `kv` to `params.tsv` as `key\tvalue` lines, atomically and
    * unchecked ([[pinParams]] is the checked form). */
  def writeParams(kv: Seq[(String, Any)]): Unit =
    ManifestLog.writeAtomic(Paths.get(root, "params.tsv"),
      kv.map { case (k, v) => s"$k\t$v\n" }.mkString)
}

object ManifestLog {

  /** Write `body` to `target` via `target.tmp` and an atomic rename. */
  private def writeAtomic(target: Path, body: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Delete `path` and everything under it, when it exists. */
  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Using.resource(Files.walk(p))(_.iterator().asScala.toVector).reverseIterator
        .foreach(Files.deleteIfExists(_))
  }

  /** The absolute, normalized form of a local path or `file:` URI. */
  def absolute(path: String): String =
    Paths.get(path.stripPrefix("file:")).toAbsolutePath.normalize.toString

  /** The increment flow of an incremental store. Layout under `root/`:
    *   inc-<K>/<sub>/ parquet   one committed data increment
    *   del-<K>/ids/   parquet   (idCol) tombstones
    *   manifest-<K>.tsv         `inc\t<K>` lines, then `del\t<K>` lines
    * Every append, delete and compact takes the next id after the latest
    * manifest's, so a crashed step retries under the same id. Reads are
    * the union of the committed increments minus the tombstoned ids; with
    * no tombstone the read is the bare union, so its plan shape is the
    * recompute path's. `store` names the store in errors; `idCol` is the
    * BIGINT id column the data and the tombstones share. */
  final case class Increments(root: String, store: String, idCol: String) {

    private val log = ManifestLog(root)

    /** (latest manifest id, committed increments, committed tombstones) */
    private def state: (Long, Vector[Long], Vector[Long]) =
      log.latest.fold((0L, Vector.empty[Long], Vector.empty[Long])) { case (id, lines) =>
        def listed(kind: String) =
          lines.collect { case l if l.startsWith(s"$kind\t") => l.stripPrefix(s"$kind\t").toLong }
        (id, listed("inc"), listed("del"))
      }

    /** Publish `<kind>-<id>` through `write`, then commit manifest `id`. */
    private def commitNext(kind: String, id: Long, incs: Vector[Long],
        dels: Vector[Long])(write: String => Unit): Long = {
      log.publish(s"$kind-$id")(write)
      log.commit(id, incs.sorted.map(k => s"inc\t$k") ++ dels.sorted.map(k => s"del\t$k"))
      id
    }

    /** Commit one data increment that `write` fills. Returns its id. */
    def append(write: String => Unit): Long = {
      val (last, incs, dels) = state
      commitNext("inc", last + 1, incs :+ (last + 1), dels)(write)
    }

    /** Commit a tombstone increment of `ids(from)`. Returns its id. */
    def delete(ids: DataFrame, from: String): Long = {
      val (last, incs, dels) = state
      require(incs.nonEmpty, s"$store at $root has no committed increments")
      commitNext("del", last + 1, incs, dels :+ (last + 1)) { dir =>
        ids.select(col(from).cast("long").as(idCol)).distinct()
          .write.parquet(s"$dir/ids")
      }
    }

    /** The committed `sub` union, tombstoned ids excluded. */
    def read(spark: SparkSession, sub: String): DataFrame = {
      val (_, incs, dels) = state
      require(incs.nonEmpty, s"$store at $root has no committed increments")
      val union = incs.map(k => spark.read.parquet(s"$root/inc-$k/$sub")).reduce(_.unionByName(_))
      if (dels.isEmpty) union
      else union.join(dels.map(k => spark.read.parquet(s"$root/del-$k/ids"))
        .reduce(_.unionByName(_)), Seq(idCol), "left_anti")
    }

    /** Rewrite the committed state (which `write` reads through [[read]])
      * as one new increment, flip the manifest to list only it, then
      * delete the old dirs. Returns the new id. */
    def compact(write: String => Unit): Long = {
      val (last, incs, dels) = state
      require(incs.nonEmpty, s"$store at $root has nothing to compact")
      commitNext("inc", last + 1, Vector(last + 1), Vector.empty)(write)
      incs.foreach(k => deleteRecursively(s"$root/inc-$k"))
      dels.foreach(k => deleteRecursively(s"$root/del-$k"))
      last + 1
    }
  }
}
