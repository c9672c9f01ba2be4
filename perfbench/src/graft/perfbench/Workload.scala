package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.spark.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One golden row (see [[Corpus]]). */
final case class Golden(docId: Long, url: String, file: Int, sha: String,
    dupKind: String, dupOf: Long, tsMs: Long)

/** Tally of correctness checks over a rep. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val notes = scala.collection.mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (notes.length < 20) notes += what }
  }
}

/** What one rep of a workload does. `body` is the timed interval: from the
  * first call into the program until its result is committed. */
trait Work {
  def docs: Long
  /** Untimed preparation; its checks count with the reps'. */
  def setup(c: Checks): Unit = ()
  /** Exact counts taken in setup. */
  def counts: Map[String, Double] = Map.empty
  def prepare(rep: Int): Unit
  def body(tr: Tracer): Unit
  /** Correctness checks and exact counts, outside the timed interval. */
  def check(c: Checks): Map[String, Double]
  def cleanup(): Unit
  /** Per-layer numbers only this workload can take, after its traced reps. */
  def tracedExtras: Map[String, Double] = Map.empty
}

/** Runs one workload in one JVM at each core count and prints one
  * `PERFBENCH {...}` line with the per-rep timings, checks and (traced)
  * per-layer numbers.
  *
  * Usage: `Workload <workload> <corpusDir> <stride> <cores,...> <seconds>
  * <trace 0|1> <launchEpochMs> <workDir>`. At the largest core count the
  * workload reads the WARC files whose index is a multiple of `stride`; at
  * a quarter of the cores, a quarter of those files. */
object Workload {

  val NBuckets = 16
  /** Warm-up at the top core count: at least `MinWarm` reps, then until
    * the process CPU time (JIT compiler threads included) of two reps in a
    * row falls by less than `Settle` below every rep before it; at most
    * `MaxWarm` reps, and no rep that would end past `WarmCapS` seconds,
    * which is what the run's time budget affords and wins over `MinWarm`. */
  val MinWarm = 3
  val MaxWarm = 8
  val WarmCapS = 30.0
  val Settle = 0.05
  /** Timed reps per run at least: at the top core count (traced runs use
    * four, listener off-on-on-off), and at each smaller count. */
  val MinRepsTop = 3
  val MinRepsLow = 2
  val DedupThreshold = 0.8

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists(_))

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Bytes read through Hadoop's local file system by this JVM (all
    * task threads): WARC streams, parquet scans, listings. */
  private def fsBytesRead: Long = {
    @annotation.nowarn("cat=deprecation")
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    all.filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  /** Golden rows of the docs in files `f` with `f % stride == 0`. */
  def loadGolden(corpus: Path, stride: Int): Vector[Golden] =
    Files.readAllLines(corpus.resolve("golden.tsv"), StandardCharsets.UTF_8).asScala.drop(1)
      .map(_.split('\t')).map(a => Golden(a(0).toLong, a(1), a(2).toInt, a(4), a(6), a(7).toLong, a(8).toLong))
      .filter(_.file % stride == 0).toVector

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Committed-snapshot checks: every golden url committed exactly once
    * with byte-identical text; returns the exact extractor counts. */
  def checkSnapshot(spark: SparkSession, root: String, golden: Vector[Golden],
      c: Checks): Map[String, Double] = {
    val byUrl = golden.map(g => g.url -> g).toMap
    val rows = SnapshotStore.readCommitted(spark, root).get
      .select(col("url"), sha2(col("text"), 256), col("extractor")).collect()
    val seen = rows.groupBy(_.getString(0))
    golden.foreach { g =>
      val got = seen.getOrElse(g.url, Array.empty)
      c.check(got.length == 1 && got(0).getString(1) == g.sha,
        s"${g.url}: committed ${got.length}x, sha ${got.headOption.map(_.getString(1)).getOrElse("-")}")
    }
    seen.keys.filterNot(byUrl.contains).foreach(u => c.check(ok = false, s"$u: not in the corpus"))
    val lineage = spark.read.parquet(s"$root/lineage/*")
      .agg(sum("doc_count"), sum("html_count"), sum("pdf_count"), sum("fallback_count")).head()
    val ext = rows.groupBy(_.getString(2)).map { case (k, v) => k -> v.length.toDouble }
    val snap = SnapshotStore.lastSnapshot(root).get
    Map(
      "extract.docs_lineage" -> lineage.getLong(0).toDouble,
      "extract.docs_html" -> lineage.getLong(1).toDouble,
      "extract.docs_pdf" -> lineage.getLong(2).toDouble,
      "extract.docs_fallback" -> lineage.getLong(3).toDouble,
      "extract.docs_provided_text" -> ext.getOrElse("provided_text", 0.0),
      "extract.docs_empty" -> ext.getOrElse("empty", 0.0),
      "snapshot.files" -> snap.files.length.toDouble,
      "snapshot.pruned_file_ratio" -> {
        val host = SnapshotStore.pruneFiles(snap, host = Some(Corpus.MegaHost)).length
        val (lo, hi) = tsWindow(golden)
        val ts = SnapshotStore.pruneFiles(snap, tsMin = Some(lo), tsMax = Some(hi)).length
        (host + ts) / (2.0 * math.max(snap.files.length, 1))
      },
      "snapshot.bytes_out" -> treeBytes(Paths.get(root, "data")).toDouble)
  }

  /** Host-ranged (the mega-host) and ts-ranged reads of the committed
    * state, each counted: (host rows, ts rows). */
  def rangedReads(spark: SparkSession, root: String, golden: Vector[Golden]): (Long, Long) = {
    val (lo, hi) = tsWindow(golden)
    val host = SnapshotStore.readCommittedRange(spark, root, host = Some(Corpus.MegaHost)).get.count()
    val ts = SnapshotStore.readCommittedRange(spark, root, tsMin = Some(lo), tsMax = Some(hi)).get.count()
    (host, ts)
  }

  def checkRangedReads(golden: Vector[Golden], got: (Long, Long), c: Checks): Unit = {
    val (lo, hi) = tsWindow(golden)
    val wantHost = golden.count(_.url.startsWith(s"https://${Corpus.MegaHost}/"))
    val wantTs = golden.count(g => g.tsMs >= lo && g.tsMs <= hi)
    c.check(got._1 == wantHost, s"host-ranged read: ${got._1} rows, want $wantHost")
    c.check(got._2 == wantTs, s"ts-ranged read: ${got._2} rows, want $wantTs")
  }

  /** The ts-ranged read covers the middle quarter of the corpus by fetch time. */
  def tsWindow(golden: Vector[Golden]): (Long, Long) = {
    val ts = golden.map(_.tsMs).sorted
    (ts(ts.length * 3 / 8), ts(ts.length * 5 / 8))
  }

  /** One rep: wall and process CPU seconds of the timed interval, bytes
    * read through the file system in it, the rep's checks and exact
    * counts, and its analysis when the listener was on. */
  final case class Rep(cores: Int, wallS: Double, cpuS: Double, fsReadB: Long, checks: Checks,
      counts: Map[String, Double], analysis: Option[Analysis])

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(m: Iterable[(String, Double)]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val Array(workload, corpusS, strideS, coresS, secondsS, traceS, launchS, workS) = args
    val corpus = Paths.get(corpusS).toAbsolutePath
    val work = Paths.get(workS).toAbsolutePath
    val coreCounts = coresS.split(',').map(_.toInt).toVector
    val top = coreCounts.max
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val launchMs = launchS.toDouble
    Files.createDirectories(work)
    def mark(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(Clock.nowMs - launchMs) / 1e3}%.2f s")

    lazy val nearShas: Set[String] = {
      val all = loadGolden(corpus, 1)
      val shaOf = all.map(g => g.docId -> g.sha).toMap
      val near = all.filter(_.dupKind == "near")
      (near.map(_.sha) ++ near.map(g => shaOf(g.dupOf))).toSet
    }
    /** The workload at `cores`: the files `f % stride == 0`, where the
      * stride grows as the core count shrinks so each core gets the same
      * share of the work. */
    def make(spark: SparkSession, cores: Int): (Work, Vector[Path]) = {
      val stride = strideS.toInt * (top / cores)
      val golden = loadGolden(corpus, stride)
      require(golden.nonEmpty, s"no corpus file index is a multiple of $stride")
      val names = golden.map(_.file).distinct.sorted.map(Corpus.fileName)
      val glob = corpus.resolve("warc").resolve(names.mkString("{", ",", "}")).toString
      val dir = work.resolve(s"local$cores")
      val w = workload match {
        case "warc_commit" => new WarcCommit(spark, glob, golden, dir)
        case "curate_shards" =>
          new CurateShards(spark, glob, golden, stride, nearShas, work.resolve("curate-snapshot"), dir)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      (w, names.map(corpus.resolve("warc").resolve(_)))
    }

    var cores = top
    var spark = session(cores, work.resolve("spark"))
    var (w, files) = make(spark, cores)
    /** A fresh SparkContext (and workload) at `c` cores, unless already there. */
    def switchTo(c: Int): Unit = if (c != cores) {
      spark.stop()
      cores = c
      spark = session(c, work.resolve("spark"))
      val m = make(spark, c)
      w = m._1; files = m._2
    }

    val rec = new Recorder
    var repNo = 0
    /** One rep; warm-up reps skip the checks, which cost about half a rep. */
    def runRep(withListener: Boolean, checked: Boolean): Rep = {
      w.prepare(repNo)
      repNo += 1
      SparkEntry.resetSharedState()
      System.gc()
      rec.clear()
      if (withListener) spark.sparkContext.addSparkListener(rec)
      val tr = new Tracer
      val (cpu0, fs0) = (cpuNs, fsBytesRead)
      tr.span("rep", "rep")(w.body(tr))
      val (cpu1, fs1) = (cpuNs, fsBytesRead)
      val analysis =
        if (!withListener) None
        else {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(rec)
          Some(new Analysis(tr.spans.toVector, rec))
        }
      val c = new Checks
      val counts = if (checked) w.check(c) else Map.empty[String, Double]
      w.cleanup()
      Rep(cores, tr.spans(0).dur / 1e3, (cpu1 - cpu0) / 1e9, fs1 - fs0, c, counts, analysis)
    }
    def logRep(what: String, r: Rep): Unit =
      mark(f"local[${r.cores}] $what (${r.wallS}%.2f s timed, ${r.cpuS}%.2f s cpu)")
    /** Unchecked reps at the current core count, from `min` up to `max`
      * reps or `capS` seconds, until the JIT has settled (see `Settle`). */
    def warmUp(min: Int, max: Int, capS: Double): Vector[Rep] = {
      val t0 = Clock.nowMs
      var reps = Vector.empty[Rep]
      def fell(i: Int) = reps(i).cpuS < (1 - Settle) * reps.take(i).map(_.cpuS).min
      def settled = reps.length >= min && (reps.length < 3 || !(fell(reps.length - 1) || fell(reps.length - 2)))
      def capped = reps.length >= max || (Clock.nowMs - t0) / 1e3 + reps.last.wallS > capS
      while (reps.isEmpty || !(settled || capped)) {
        val r = runRep(withListener = false, checked = false)
        logRep(s"warm-up rep ${reps.length + 1}", r)
        reps :+= r
      }
      reps
    }
    /** Checked reps back to back in the current SparkContext: at least
      * `min`, and for at least `forS` seconds. Traced runs switch the
      * listener off, on, on, off in each group of four, so drift in the
      * host or the JIT cancels out of the tracing overhead. */
    def timed(min: Int, forS: Double): Vector[Rep] = {
      val t0 = Clock.nowMs
      var reps = Vector.empty[Rep]
      while (reps.length < min || (Clock.nowMs - t0) / 1e3 < forS || (traced && reps.length % 4 != 0)) {
        val r = runRep(withListener = traced && (reps.length % 4 == 1 || reps.length % 4 == 2), checked = true)
        logRep(s"rep ${reps.length + 1}", r)
        reps :+= r
      }
      reps
    }

    try {
      mark("session ready")
      Probes.warm(files)
      val setupChecks = new Checks
      w.setup(setupChecks)
      val setupCounts = w.counts
      val setupS = (Clock.nowMs - launchMs) / 1e3
      mark("setup done")
      val warm0 = Clock.nowMs
      val warm = warmUp(MinWarm, MaxWarm, WarmCapS)
      val warmupS = (Clock.nowMs - warm0) / 1e3

      // the top core count's timed reps first, in the context the JIT
      // warmed up in; then each smaller count in a fresh context after one
      // warm-up rep (a new context's first rep pays its own start)
      var done = timed(if (traced) 4 else MinRepsTop, seconds)
      coreCounts.filter(_ != top).foreach { c =>
        switchTo(c)
        w.setup(setupChecks)
        warmUp(1, 1, 0.0)
        done ++= timed(MinRepsLow, seconds / 2)
      }
      val checks = setupChecks +: done.map(_.checks)
      val last = done.filter(_.cores == top).last
      val alu = Map("host.alu_gops_1t" -> Probes.alu(1), s"host.alu_gops_${top}t" -> Probes.alu(top))
      val fields = Vector.newBuilder[String]
      fields += s""""workload":${str(workload)},"setup_s":${num(setupS)},"peak_rss_mb":${num(peakRssMb)}"""
      fields += s""""attempted":${checks.map(_.attempted).sum},"failed":${checks.map(_.failed).sum}"""
      fields += checks.flatMap(_.notes).take(20).map(str).mkString("\"notes\":[", ",", "]")
      fields += coreCounts.map(c => s""""$c":${make(spark, c)._1.docs}""").mkString("\"docs\":{", ",", "}")
      fields += done.map(r =>
        s"""{"cores":${r.cores},"wall_s":${num(r.wallS)},"cpu_s":${num(r.cpuS)},"traced":${r.analysis.nonEmpty}}""")
        .mkString("\"reps\":[", ",", "]")
      val warmCounts = Map("setup.warmup_s" -> warmupS, "setup.warmup_reps" -> warm.length.toDouble)
      fields += s""""counts":${obj(setupCounts ++ last.counts ++ alu ++ warmCounts)}"""
      if (traced) {
        // the spans, kept in memory so far, written out once at the end
        val traceId = s"$workload-${launchMs.toLong}"
        val lines = done.zipWithIndex.flatMap { case (r, i) =>
          r.analysis.toSeq.flatMap(_.all).map { sp =>
            s"""{"trace":${str(traceId)},"rep":${i + 1},"id":${sp.id},"parent":${sp.parent},""" +
              s""""name":${str(sp.name)},"layer":${str(sp.layer)},"start_ms":${num(sp.start)},""" +
              s""""end_ms":${num(sp.end)},"site":${str(sp.site)}}"""
          }
        }
        Files.write(work.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        val (layers, self) = traceLayers(w, done, files)
        fields += s""""layers":${obj(layers)},"self":${obj(self)}"""
      }
      println(fields.result().mkString("PERFBENCH {", ",", "}"))
    } finally spark.stop()
  }

  /** Per-layer numbers from the traced reps (median over reps) and the
    * single-thread probes, plus the median self time per layer. */
  private def traceLayers(w: Work, reps: Seq[Rep], files: Seq[Path]): (Map[String, Double], Map[String, Double]) = {
    val traced = reps.filter(_.analysis.nonEmpty)
    def med(f: (Rep, Analysis) => Double): Double = median(traced.map(r => f(r, r.analysis.get)))
    val probes = Probes.core(files)
    val mb = 1e6
    val extractCpu = med((_, a) => a.extractTasks.map(_.cpuNs).sum / 1e9)
    val ops = Set("ops.scrub", "ops.dedup", "ops.shards", "snapshot.read")
    val inBytes = files.map(Files.size).sum.toDouble
    val plain = reps.filter(_.analysis.isEmpty)
    val layers = Map(
      "sources.warc_scan_mb_s" -> probes("sources.warc_scan_mb_s"),
      "sources.input_read_mb" -> med((r, _) => r.fsReadB / mb),
      "extract.task_cpu_s" -> extractCpu,
      "extract.gc_s" -> med((_, a) => a.extractTasks.map(_.gcMs).sum / 1e3),
      "extract.task_skew" -> med { (_, a) =>
        val d = a.extractTasks.map(t => (t.finish - t.launch).toDouble)
        if (d.isEmpty) 0.0 else d.max / math.max(median(d), 1.0)
      },
      "extract.overhead_ratio" -> extractCpu / probes("single_thread_s"),
      "snapshot.run_s" -> med((_, a) => a.callSeconds("snapshot.run")),
      "snapshot.cluster_shuffle_mb" -> med((_, a) => a.clusterTasks.map(_.shuffleWrite).sum / mb),
      "snapshot.stats_s" -> med((_, a) => a.jobSeconds("snapshot.stats")),
      "snapshot.lineage_s" -> med((_, a) => a.jobSeconds("snapshot.lineage")),
      // in-rep reads where the workload has them, else the reads its checks time
      "snapshot.ranged_read_s" -> med((r, _) => r.counts.getOrElse("snapshot.ranged_read_s", 0.0)),
      "snapshot.bytes_out_per_byte_in" -> (w.counts ++ reps.last.counts).getOrElse("snapshot.bytes_out", 0.0) / inBytes,
      "ops.dedup_s" -> med((_, a) => a.jobSeconds("ops.dedup")),
      "ops.shards_s" -> med((_, a) => a.jobSeconds("ops.shards")),
      "ops.shuffle_write_mb" -> med((_, a) => a.callTasks(ops).map(_.shuffleWrite).sum / mb),
      "ops.spill_mb" -> med((_, a) => a.callTasks(ops).map(_.spill).sum / mb),
      "sched.jobs" -> med((_, a) => a.nJobs.toDouble),
      "sched.stages" -> med((_, a) => a.nStages.toDouble),
      "sched.tasks" -> med((_, a) => a.nTasks.toDouble),
      "sched.driver_wait_s" -> med((_, a) => a.driverWaitSeconds),
      "trace.overhead_ratio" -> median(traced.map(_.wallS)) / math.max(median(plain.map(_.wallS)), 1e-9)
    ) ++ probes.filter(_._1.startsWith("core.")) ++ w.tracedExtras
    val selfs = traced.map(_.analysis.get.selfSeconds)
    val keys = selfs.flatMap(_.keys).distinct
    val self = keys.map(k => k -> median(selfs.map(_.getOrElse(k, 0.0)))).toMap
    (layers + ("trace.unexplained_share" -> self.getOrElse("unexplained", 0.0) /
      math.max(median(traced.map(_.wallS)), 1e-9)), self)
  }
}
