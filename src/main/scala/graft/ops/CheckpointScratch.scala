package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.Dataset

/** Registry for per-invocation EAGER localCheckpoints created inside
  * operators (tokenized bases, span-pair frames, iteration labels). The
  * blocks back a lazily-consumed result, so the op itself can never
  * unpersist them — but once a caller has fully materialized its result,
  * they are garbage whose asynchronous GC + ContextCleaner reclaim lands
  * inside subsequent timed bench reps (the r4 memo-reset lesson,
  * generalized in r5).
  *
  * Entries are WEAK references: in a long-lived session that never drains
  * (Verify's 59 sequential queries, the test suites), an unreferenced
  * checkpoint stays collectable exactly as before this registry existed —
  * a strong queue would pin every scratch frame for the JVM lifetime.
  * Bench calls [[unpersistAll]] (via SparkEntry.resetSharedState) BEFORE
  * each timed rep and force-drops whatever is still reachable; frames the
  * GC already collected are in the ContextCleaner's queue by then.
  */
object CheckpointScratch {

  private val q = new java.util.concurrent.ConcurrentLinkedQueue[
    java.lang.ref.WeakReference[Dataset[_]]]()

  /** Eagerly checkpoint, register for the next [[unpersistAll]], and trim
    * the partition count to the frame's MATERIALIZED size (guide §2:
    * derive partitioning from input size, never a constant). A scratch
    * frame inherits the session's shuffle-partition count from whatever
    * exchange fed it, so on small inputs every downstream job over it
    * runs dozens of near-empty tasks — the r9 listener measured the
    * cluster-family queries at ~900 tasks/query, ~90% of them reads of
    * KB-sized checkpoint blocks. After the eager materialization the
    * exact block sizes are known, so the coalesce is free (narrow, no
    * data movement) and self-deactivates at scale: a frame bigger than
    * partitions × advisoryPartitionSizeInBytes keeps its partitioning. */
  def ckpt[T](ds: Dataset[T]): Dataset[T] =
    // register the COALESCED wrapper (the frame callers actually retain):
    // registering the raw checkpoint would leave only a weak ref to an
    // object nothing else holds, so GC could clear it before the next
    // unpersistAll — drop() tree-walks to the LogicalRDD either way
    register(smartCoalesce(ds.localCheckpoint(true)))

  def register[T](ds: Dataset[T]): Dataset[T] = {
    q.add(new java.lang.ref.WeakReference[Dataset[_]](ds))
    ds
  }

  /** Trim a just-materialized localCheckpoint's partition count to
    * ceil(bytes / advisoryPartitionSizeInBytes) (the same knob AQE sizes
    * shuffle reads with). No-op for non-RDD plans, ≤ 2 partitions, frames
    * already at/below the target, or an unknown size ([[materializedBytes]]
    * -1: an uncached RDD). */
  private[graft] def smartCoalesce[T](cp: Dataset[T]): Dataset[T] =
    try cp.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val n = lr.rdd.getNumPartitions
        val bytes = materializedBytes(cp)
        if (n <= 2 || bytes < 0) cp
        else {
          val advisory = math.max(cp.sparkSession.sessionState.conf.getConf(
            org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), 1L)
          val want = math.min(math.max(1L, (bytes + advisory - 1L) / advisory), n.toLong).toInt
          if (want < n) cp.coalesce(want) else cp
        }
      case _ => cp
    } catch { case NonFatal(_) => cp }

  /** Materialized byte size of a checkpoint-backed frame (the LogicalRDD's
    * storage footprint, memory + disk), or -1 when unknown (non-RDD plan,
    * stopped context, blocks not yet reported). Tree-walks like [[drop]]
    * so a [[smartCoalesce]]-wrapped checkpoint is found too. */
  def materializedBytes(ds: Dataset[_]): Long =
    try {
      var found = -1L
      ds.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD if found < 0 =>
          found = ds.sparkSession.sparkContext.getRDDStorageInfo
            .find(_.id == lr.rdd.id).map(i => i.memSize + i.diskSize)
            .getOrElse(-1L)
        case _ => ()
      }
      found
    } catch { case NonFatal(_) => -1L }

  /** Run `body` under a STATIC plan scope for a fixed-shape iteration
    * loop: AQE off, shuffle partitions derived from bytesHint with the
    * SAME parallelism-first rule AQE's coalescer applies — enough
    * partitions to keep every core busy as long as none falls below the
    * coalescer's min partition size (default 1 MB), and never fewer than
    * the advisory-sized count for big frames:
    * p = clamp(max(ceil(bytes/advisory), min(defaultParallelism,
    * ceil(bytes/minPartitionSize))), 1, session setting). A KB-scale
    * frame collapses to one partition (the near-empty-task storm);
    * a CPU-heavy MB-scale frame keeps multi-core spread (the first cut
    * of this helper sized purely by the 64 MB advisory and serialized
    * the GD gradient folds onto one task — measurably slower than AQE);
    * a web-scale frame keeps full advisory-sized parallelism. Restores
    * both confs in `finally`.
    *
    * Why (guide §2 "derive partitioning from input size" + §1 job
    * accounting): under AQE every exchange materialization is its OWN
    * Spark job, so a 4-iteration fold-tree loop schedules ~8-15 jobs per
    * round whose plans are identical every round — pure driver latency
    * (30-60 ms/job on an idle host, 100-300 ms under scheduler-latency
    * pressure; the r9 listener put the pagerank tier at 57-63 jobs for
    * < 1 s of task time). A loop body's shape is static and its inputs
    * are checkpointed, so their MATERIALIZED sizes are exact: the
    * partition count AQE would coalesce to is computed up front from
    * bytesHint instead of re-derived per exchange per round, and the
    * whole round materializes as ONE job. Self-scaling by construction:
    * at web scale bytesHint/advisory keeps full parallelism (clamped at
    * the session's configured count, never above it) — nothing here is
    * tuned to local mode. Callers with an UNKNOWN size (bytesHint <= 0)
    * run `body` unchanged — AQE stays on when there is nothing better
    * to derive the layout from.
    *
    * Results are unaffected by construction: every float reduction in
    * the loop operators is a keyed two-level ordered fold, partition-
    * and strategy-independent (the repo's bit-exactness contract), and
    * AQE never changes query semantics.
    *
    * Caveat: AQE off also means no skew-join handling inside the scope.
    * A giant component whose label joins against most of the edge set
    * runs that join key in one task per round; a caller expecting such
    * a hot label gains more from AQE's skew split than from the static
    * layout and should not enter this scope. */
  def withStaticLoopPlan[T](spark: org.apache.spark.sql.SparkSession,
      bytesHint: Long)(body: => T): T = {
    if (bytesHint <= 0L) return body
    val conf = spark.sessionState.conf
    val aqeKey = org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED
    val spKey = org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS
    val oldAqe = conf.getConf(aqeKey)
    val oldSp = conf.getConf(spKey)
    val advisory = math.max(conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), 1L)
    val minPart = math.max(conf.getConf(org.apache.spark.sql.internal.SQLConf
      .COALESCE_PARTITIONS_MIN_PARTITION_SIZE), 1L)
    val par = math.max(spark.sparkContext.defaultParallelism, 1).toLong
    val byAdvisory = (bytesHint + advisory - 1L) / advisory
    val byParallelism = math.min(par, (bytesHint + minPart - 1L) / minPart)
    val p = math.min(math.max(1L, math.max(byAdvisory, byParallelism)),
      oldSp.toLong).toInt
    conf.setConf(aqeKey, false)
    conf.setConf(spKey, p)
    try body
    finally { conf.setConf(aqeKey, oldAqe); conf.setConf(spKey, oldSp) }
  }

  /** Drop one checkpoint-backed frame's blocks now (best-effort; a
    * stopped context or non-RDD plan is skipped silently). ONE definition
    * — SparkEntry's memo path uses the same helper. Walks the whole
    * analyzed tree so a [[smartCoalesce]]-wrapped checkpoint (Repartition
    * over LogicalRDD) is found too. */
  def drop(ds: Dataset[_]): Unit =
    try ds.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case NonFatal(_) => () }

  /** Drop every still-reachable registered checkpoint's blocks now. */
  def unpersistAll(): Unit = {
    var ref = q.poll()
    while (ref != null) {
      val ds = ref.get()
      if (ds != null) drop(ds)
      ref = q.poll()
    }
  }
}
