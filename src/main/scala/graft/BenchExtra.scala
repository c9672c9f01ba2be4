package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round instrumentation (guide §1: measure first) — NOT part
  * of the frozen driver contract ([[Bench]] is untouched). Two modes:
  *
  *   runMain graft.BenchExtra run q_bm25 q_bpe_compression ...
  *     — per query: noop-sink wall seconds (reps via SPARK_GRAFT_EXTRA_REPS,
  *       default 2, min-of-reps) PLUS scheduler-level counters from a
  *       SparkListener: jobs, stages, tasks, summed task time, summed GC
  *       time, shuffle read/write bytes. The wall-vs-task-time gap exposes
  *       driver/scheduling overhead; task time exposes per-row CPU.
  *
  *   runMain graft.BenchExtra explain q_bm25 /root/repo/plans/r09 [suffix]
  *     — writes `<outdir>/<query>_<suffix>.txt` with explain("formatted").
  *
  * Uses the same session shape as Bench (master local[$SPARK_GRAFT_CPUS],
  * shuffle partitions = cpus, AQE on) so numbers are comparable. */
object BenchExtra {

  private class Tally extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val gcMs = new AtomicLong(0L)
    val shufReadB = new AtomicLong(0L)
    val shufWriteB = new AtomicLong(0L)
    // per-callsite attribution: callsite -> (jobs, tasks, wall ms)
    val bySite = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Long)]()
    private val jobSite = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    private val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, AtomicInteger]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val site = Option(j.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .filter(_.nonEmpty)
        .orElse(j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
        .getOrElse("?")
      jobSite.put(j.jobId, (site, System.currentTimeMillis()))
      jobTasks.put(j.jobId, new AtomicInteger(0))
      j.stageIds.foreach(sid => stageJob.put(sid, j.jobId))
      ()
    }
    override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val (site, t0) = jobSite.getOrDefault(e.jobId, ("?", e.time))
      val dur = e.time - t0
      val nt = Option(jobTasks.get(e.jobId)).map(_.get).getOrElse(0)
      bySite.merge(site, (1, nt, dur),
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(stageJob.get(t.stageId))
        .flatMap(j => Option(jobTasks.get(j))).foreach(_.incrementAndGet())
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def siteReport(top: Int): String = {
      import scala.jdk.CollectionConverters._
      bySite.asScala.toSeq.sortBy(-_._2._3).take(top).map { case (s, (j, t, ms)) =>
        f"    $s%-60s jobs=$j%3d tasks=$t%4d wall_ms=$ms%6d"
      }.mkString("\n")
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0L); gcMs.set(0L); shufReadB.set(0L); shufWriteB.set(0L)
      bySite.clear(); jobSite.clear(); jobTasks.clear(); stageJob.clear()
    }
  }

  private def session(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-extra-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // A/B probes: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" overlays session conf
    // (measurement-only — the frozen Bench session is untouched). Every
    // applied pair and every skipped fragment goes to stderr, so a
    // mistyped probe never passes for a baseline run.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { kvs =>
      kvs.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            b.config(k.trim, v.trim)
            System.err.println(s"[extra] conf ${k.trim}=${v.trim}")
          case _ =>
            System.err.println(s"[extra] SPARK_GRAFT_EXTRA_CONF: skipped '$kv' (no '=')")
        }
      }
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = session(cpus)
    try {
      spark.range(1000000L).selectExpr("sum(id)").count()
      try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()
      catch { case _: Throwable => }
      try SparkEntry.ensureFixtures(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"[extra] fixtures: $e") }

      args.headOption match {
        case Some("explain") =>
          val outDir = args(1)
          val suffix = args(2)
          args.drop(3).foreach { name =>
            SparkEntry.resetSharedState()
            val txt =
              try SparkEntry.queries(name)(spark, sfDir).queryExecution
                .explainString(org.apache.spark.sql.execution.FormattedMode)
              catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
            val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
            java.nio.file.Files.createDirectories(p.getParent)
            java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
            println(s"EXTRA_EXPLAIN $p")
          }

        case Some("run") =>
          val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "2").toInt
          val names =
            if (args.length > 1) args.drop(1).toSeq
            else SparkEntry.queries.keys.toSeq.sorted
          val tally = new Tally
          spark.sparkContext.addSparkListener(tally)
          names.foreach { name =>
            val fn = SparkEntry.queries(name)
            var best = Double.MaxValue
            var bestStats = ""
            var r = 0
            while (r < reps) {
              SparkEntry.resetSharedState()
              spark.sparkContext.setJobDescription(s"extra:$name")
              tally.reset()
              val t0 = System.nanoTime()
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              val dt = (System.nanoTime() - t0) / 1e9
              if (dt < best) {
                best = dt
                bestStats =
                  s""""jobs":${tally.jobs.get},"stages":${tally.stages.get},""" +
                  s""""tasks":${tally.tasks.get},"task_s":${tally.taskMs.get / 1e3},""" +
                  s""""gc_s":${tally.gcMs.get / 1e3},""" +
                  s""""shuf_read_mb":${tally.shufReadB.get / 1e6},""" +
                  s""""shuf_write_mb":${tally.shufWriteB.get / 1e6}"""
              }
              r += 1
            }
            println(f"""EXTRA {"q":"$name","wall_s":$best%.3f,$bestStats}""")
            if (sys.env.get("SPARK_GRAFT_EXTRA_SITES").contains("1"))
              println(s"  sites (last rep):\n${tally.siteReport(15)}")
          }

        case other =>
          System.err.println(s"usage: run [names...] | explain <name> <outdir> [suffix]; got $other")
      }
    } finally spark.stop()
  }
}
