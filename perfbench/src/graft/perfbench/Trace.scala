package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval. `parent` is -1 for the rep's root span. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double, site: String = "") {
  def dur: Double = end - start
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * timed here line up with the millisecond stamps on Spark's events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans around the benchmark's own calls into the program, kept in
  * memory. Calls are made from one driver thread, so a stack gives each
  * span its parent. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, name, layer, Clock.nowMs, Double.NaN)
    stack.push(id)
    try body
    finally {
      stack.pop()
      spans(id) = spans(id).copy(end = Clock.nowMs)
    }
  }
}

/** Raw scheduler events, recorded as they arrive on the listener bus. */
final class Recorder extends SparkListener {
  final case class Job(id: Int, start: Long, execId: Long, siteShort: String,
      siteLong: String, stageIds: Seq[Int])
  final case class Stage(id: Int, submit: Long, end: Long, rdds: Seq[String], name: String)
  final case class Task(stageId: Int, launch: Long, finish: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, spill: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  /** SQL execution id -> physical plan text at submission. */
  val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  def clear(): Unit = {
    jobs.clear(); jobEnds.clear(); stages.clear(); tasks.clear(); plans.clear()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val execId = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    // the job's call site is its final stage's: name "<op> at <file>:<line>",
    // details the driver stack that submitted it
    val last = j.stageInfos.maxByOption(_.stageId)
    jobs.add(Job(j.jobId, j.time, execId, last.map(_.name).getOrElse(""),
      j.stageInfos.map(_.details).mkString("\n"), j.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.put(e.jobId, e.time); () }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.rddInfos.map(_.name), i.name))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    val info = t.taskInfo
    if (m != null && info != null)
      tasks.add(Task(t.stageId, info.launchTime, info.finishTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription); ()
    case _ => ()
  }
}

/** Turns one traced rep (driver spans + scheduler events) into a span
  * tree and per-layer numbers.
  *
  * Jobs become children of the benchmark call that was running when they
  * started; stages become children of their job. A job under
  * `SnapshotStore.run` is attributed by its SQL execution: one whose plan
  * scans `binaryFile` is the extract + range-clustered data write
  * (including the range sampler's job), one whose call stack passes
  * through `collectFileStats` is the manifest statistics, and the rest is
  * the lineage write. A stage that scans files inside the data-write
  * execution is an extraction stage (WARC scan + parse + encode). */
final class Analysis(calls: Seq[Span], rec: Recorder) {
  private val jobs = rec.jobs.asScala.toVector.sortBy(_.start)
  private val stagesById = rec.stages.asScala.toVector.groupBy(_.id).map { case (k, v) => k -> v.maxBy(_.end) }
  private val root = calls.find(_.parent < 0).get

  private def parentCall(t: Double): Span = {
    val inside = calls.filter(s => s.parent >= 0 && s.start <= t && t <= s.end)
    if (inside.isEmpty) root else inside.maxBy(_.start)
  }

  private def planOf(j: Recorder#Job): String = Option(rec.plans.get(j.execId)).getOrElse("")

  /** Layer a job's time counts toward. */
  private def jobLayer(j: Recorder#Job, call: Span): String =
    if (call.layer != "snapshot.run") call.layer
    else if (planOf(j).contains("binaryFile")) "snapshot.cluster_write"
    else if (j.siteLong.contains("collectFileStats")) "snapshot.stats"
    else "snapshot.lineage"

  val jobSpans: Vector[(Recorder#Job, Span)] = {
    var next = calls.length
    jobs.map { j =>
      val call = parentCall(j.start.toDouble)
      val end = Option(rec.jobEnds.get(j.id)).map(_.toDouble).getOrElse(j.start.toDouble)
      val s = Span(next, call.id, s"job ${j.id}", jobLayer(j, call), j.start.toDouble, end, j.siteShort)
      next += 1
      (j, s)
    }
  }

  private def isExtractStage(st: Recorder#Stage, jobLayerName: String): Boolean =
    jobLayerName == "snapshot.cluster_write" && st.rdds.contains("FileScanRDD")

  val stageSpans: Vector[(Recorder#Stage, Span)] = {
    var next = calls.length + jobSpans.length
    jobSpans.flatMap { case (j, js) =>
      j.stageIds.flatMap(stagesById.get).filter(_.submit > 0).map { st =>
        val layer = if (isExtractStage(st, js.layer)) "extract" else js.layer
        val s = Span(next, js.id, s"stage ${st.id}", layer, st.submit.toDouble, st.end.toDouble,
          st.name.takeWhile(_ != '\n'))
        next += 1
        (st, s)
      }
    }
  }

  val all: Vector[Span] = calls.toVector ++ jobSpans.map(_._2) ++ stageSpans.map(_._2)

  private val tasks = rec.tasks.asScala.toVector
  private val stageLayer: Map[Int, String] = stageSpans.map { case (st, s) => st.id -> s.layer }.toMap
  private val stageCall: Map[Int, String] = stageSpans.map { case (st, s) =>
    st.id -> all(all(s.parent).parent).layer }.toMap

  def tasksWhere(p: Int => Boolean): Vector[Recorder#Task] = tasks.filter(t => p(t.stageId))
  def extractTasks: Vector[Recorder#Task] = tasksWhere(s => stageLayer.get(s).contains("extract"))
  def clusterTasks: Vector[Recorder#Task] = tasksWhere(s =>
    stageLayer.get(s).exists(l => l == "extract" || l == "snapshot.cluster_write"))
  def callTasks(layers: Set[String]): Vector[Recorder#Task] =
    tasksWhere(s => stageCall.get(s).exists(layers))

  def jobSeconds(layer: String): Double =
    jobSpans.filter(_._2.layer == layer).map(_._2.dur).sum / 1e3

  def callSeconds(layer: String): Double =
    calls.filter(_.layer == layer).map(_.dur).sum / 1e3

  def nJobs: Int = jobSpans.length
  def nStages: Int = stageSpans.length
  def nTasks: Int = tasks.length

  /** Wall time of the rep in which no task was running. */
  def driverWaitSeconds: Double = {
    val iv = tasks.map(t => (math.max(t.launch.toDouble, root.start), math.min(t.finish.toDouble, root.end)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    (root.dur - covered) / 1e3
  }

  /** Self time per layer and span kind (`:driver` for a benchmark call,
    * `:job` for a job between its stages, `:stages` for running stages),
    * by a sweep over the rep: each instant goes to the deepest spans open
    * at that instant, split evenly between them. The root's own share
    * (time inside no call) is the unexplained rest. */
  def selfSeconds: Map[String, Double] = {
    val depth = new Array[Int](all.length)
    all.foreach(s => depth(s.id) = if (s.parent < 0) 0 else depth(s.parent) + 1)
    val clipped = all.map(s => s.copy(start = math.max(s.start, root.start),
      end = math.min(if (s.end.isNaN) root.end else s.end, root.end))).filter(_.dur > 0)
    val cuts = clipped.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val open = clipped.filter(s => s.start <= a && s.end >= b)
        if (open.nonEmpty) {
          val d = open.map(s => depth(s.id)).max
          val deepest = open.filter(s => depth(s.id) == d)
          deepest.foreach { s =>
            val label =
              if (s.parent < 0) "unexplained"
              else if (s.name.startsWith("job ")) s"${s.layer}:job"
              else if (s.name.startsWith("stage ")) s"${s.layer}:stages"
              else s"${s.layer}:driver"
            out(label) += (b - a) / deepest.length / 1e3
          }
        }
      case _ =>
    }
    out.toMap
  }
}
