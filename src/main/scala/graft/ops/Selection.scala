package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level SELECTION under a global order — the two curation steps
  * that need a deterministic TOTAL order over the corpus rather than a
  * per-row predicate:
  *
  *  - perplexity/quality BUCKETING (CCNet's head/middle/tail: rank every
  *    doc by a quality signal, split the ranking into equal-population
  *    tiers and keep/mix by tier), and
  *  - TOKEN-BUDGET selection (a training run has a token budget, not a
  *    doc-count budget: take documents best-first until the cumulative
  *    token count reaches the budget — the greedy step of budget-
  *    constrained data selection).
  *
  * Both reduce to "global rank / global prefix sum under (key, id)
  * order", which a naive implementation writes as a single-partition
  * window (`row_number() OVER (ORDER BY ...)`) — one task sorting the
  * whole corpus. The shape here, for arbitrary sort keys (and under
  * [[Splits.epochOrder]] for a salted hash): range-partition by the key (the
  * concatenation of sorted ranges is globally sorted), sort within
  * partitions, then assign contiguous ordinals / running sums with ONE
  * small per-partition statistics job (one long per partition crosses
  * the driver — the same bounded-collect class as the snapshot-manifest
  * stats). Results are independent of the partition count: range bounds
  * only move rows between partitions, never reorder the concatenation.
  *
  * Determinism contract: ranks are assigned under (keys, idCol) with the
  * id as the final tiebreak, so output is identical run-over-run, under
  * any partitioning, and recomputable by an independent engine — token
  * prefix sums are pure BIGINT arithmetic (no float-order ambiguity).
  */
object Selection {

  private def numParts(df: DataFrame, requested: Int): Int =
    if (requested > 0) requested
    else math.max(df.sparkSession.sparkContext.defaultParallelism, 1)

  /** Range-partition + in-partition sort of (__id, extra…) under
    * (keys, ascending) with the id tiebreak. Keys are materialized as
    * `__k*` columns so callers can pass arbitrary expressions. */
  private def sortedProjected(docs: DataFrame, keys: Seq[Column],
      ascending: Seq[Boolean], idCol: String, extra: Seq[Column],
      numPartitions: Int): DataFrame = {
    require(keys.nonEmpty && keys.length == ascending.length,
      s"need one ascending flag per key: ${keys.length} vs ${ascending.length}")
    val named = keys.zipWithIndex.map { case (c, i) => c.as(s"__k$i") }
    val proj = docs.select(
      named ++ (col(idCol).cast("long").as("__id") +: extra): _*)
    val orders = keys.indices.map { i =>
      if (ascending(i)) col(s"__k$i").asc else col(s"__k$i").desc
    } :+ col("__id").asc
    proj.repartitionByRange(numParts(docs, numPartitions), orders: _*)
      .sortWithinPartitions(orders: _*)
  }

  /** Global 0-based rank of every row under (keys, ascending) order with
    * `idCol` as the deterministic tiebreak. Output: (idCol, rank).
    * Positions are independent of the partition count. NOTE: eager (the
    * ordinal-assignment pass runs a partition-count job at call time). */
  def rankBy(docs: DataFrame, keys: Seq[Column], ascending: Seq[Boolean],
      idCol: String = "doc_id", numPartitions: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    sortedProjected(docs, keys, ascending, idCol, Nil, numPartitions)
      .select(col("__id")).as[Long].rdd.zipWithIndex()
      .map { case (id, r) => (id, r) }.toDF(idCol, "rank")
  }

  /** Equal-population score tiers (CCNet head/middle/tail when
    * nBuckets = 3): rank every row by `scoreCol` DESCENDING (best
    * first, idCol tiebreak) and assign bucket = rank·nBuckets div n.
    * Output: (idCol, rank, bucket) — bucket 0 is the best tier. The
    * total count attaches as a one-row broadcast (the scalar-attach
    * shape the LM vocab join uses), not a driver-side action. */
  def scoreBuckets(docs: DataFrame, scoreCol: String, nBuckets: Int,
      idCol: String = "doc_id", numPartitions: Int = 0): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val ranks = CheckpointScratch.register(
      rankBy(docs, Seq(col(scoreCol)), Seq(false), idCol, numPartitions)
        .localCheckpoint(true))
    val nF = ranks.agg(count(lit(1)).as("__n"))
    ranks.crossJoin(broadcast(nF))
      .select(col(idCol), col("rank"),
        expr(s"rank * $nBuckets div __n").as("bucket"))
  }

  /** Per-group frequency cap — keep at most `k` docs per group (the
    * C4/RefinedWeb-style DOMAIN cap: no single host may contribute more
    * than k documents, so template farms can't dominate the corpus).
    * Winners are the k best by (`scoreCol` DESC, idCol ASC) — the same
    * declarative tie-break contract as [[graft.ops.Dedup.clusterRepresentatives]].
    * Output: (groupCol, idCol, scoreCol, rank) with rank 1..k, best first.
    *
    * Scale shape: a window `row_number() OVER (PARTITION BY host)` puts a
    * mega-host (every crawl has one) in ONE sort task. Here the top-k is
    * a two-level fold instead — the packing/PageRank sub-shard
    * discipline: level 1 groups by (group, xxhash64(id) % subShards) and
    * keeps each sub-shard's top-k (a bounded `slice(array_sort(...))`
    * over the partial lists); level 2 merges the ≤ subShards·k survivors
    * per group. Every global top-k row is top-k within its own sub-shard
    * (fewer than k rows beat it anywhere), so the two levels are exact.
    * Both aggregates are two-phase hash aggregates — a mega-host reduces
    * map-side before either shuffle; no Window, no whole-group sort.
    *
    * Contract: `scoreCol` must be non-null integers (cast to BIGINT) and
    * ids unique — the cut-op id contract. */
  def capPerGroup(docs: DataFrame, groupCol: String, k: Int,
      scoreCol: String = "quality_score", idCol: String = "doc_id",
      subShards: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(subShards >= 1, s"subShards must be >= 1, got $subShards")
    val base = docs.select(col(groupCol).as("__g"),
      col(idCol).cast("long").as("__id"),
      col(scoreCol).cast("long").as("__q"))
    val l1 = base
      .groupBy(col("__g"), pmod(xxhash64(col("__id")), lit(subShards.toLong)).as("__sh"))
      .agg(slice(array_sort(collect_list(
        struct((-col("__q")).as("nq"), col("__id").as("i")))), 1, k).as("__tk"))
    l1.groupBy(col("__g"))
      .agg(slice(array_sort(flatten(collect_list(col("__tk")))), 1, k).as("__tk"))
      .select(col("__g"), posexplode(col("__tk")).as(Seq("__r", "__w")))
      .select(col("__g").as(groupCol), col("__w.i").as(idCol),
        (-col("__w.nq")).as(scoreCol), (col("__r") + 1).cast("long").as("rank"))
  }

  /** Per-group QUANTILE GATE — flag each group's best floor(n·num/den)
    * docs by (`scoreCol` DESC, idCol ASC): the FineWeb-style
    * per-language / per-source percentile cut ("keep the top 25% of
    * each language by quality") as an exact, engine-independent
    * selection. Unlike [[capPerGroup]] (absolute k) the cut scales with
    * the group, so a 100×-bigger source still contributes its best
    * num/den fraction, not a fixed count.
    *
    * Rank-in-group = the GLOBAL range-partitioned [[rankBy]] rank under
    * (group, score DESC, id) minus the group's min rank — ranks of one
    * group are consecutive under that sort, so the subtraction is the
    * per-group dense index WITHOUT a per-group window (the
    * [[graft.ops.Robots.fetchSchedule]] construction: a mega-group
    * spans range partitions like any other key run; group stats are a
    * groups-scale agg). The keep test is pure BIGINT
    * cross-multiplication: kept ⇔ (rig+1)·den ≤ n·num ⇔
    * rig < floor(n·num/den) — no float compare anywhere.
    *
    * Output: (idCol, groupCol, rank_in_group, n_group, kept) for EVERY
    * input row — the gate is a FLAG, not a filter, so callers can audit
    * the cut (per-tier counts, survivor mass) before applying it. */
  def quantileGate(docs: DataFrame, groupCol: String, num: Long, den: Long,
      scoreCol: String = "quality_score", idCol: String = "doc_id",
      numPartitions: Int = 0): DataFrame = {
    require(den >= 1L && num >= 0L && num <= den,
      s"need 0 <= num/den <= 1, got $num/$den")
    // checkpoint the projected input ONCE: it feeds the rank sort (plus
    // repartitionByRange's sampling pass), the rank join, and the group
    // stats — an expensive caller plan (langId profiles, quality scores)
    // otherwise re-evaluates three times (r9: 11 s of summed task CPU on
    // q_quantile_gate collapsed to one pass)
    val keyed = CheckpointScratch.ckpt(
      docs.select(col(idCol).cast("long").as(idCol),
        col(groupCol), col(scoreCol)))
    val ranks = rankBy(keyed, Seq(col(groupCol), col(scoreCol)),
      Seq(true, false), idCol, numPartitions)
    val ranked = keyed.join(ranks, Seq(idCol))
    val gs = ranked.groupBy(col(groupCol))
      .agg(min(col("rank")).as("__g0"), count(lit(1)).as("n_group"))
    ranked.join(gs, Seq(groupCol))
      .select(col(idCol), col(groupCol),
        (col("rank") - col("__g0")).as("rank_in_group"), col("n_group"),
        ((col("rank") - col("__g0") + lit(1L)) * lit(den)
          <= col("n_group") * lit(num)).as("kept"))
  }

  /** Greedy token-budget selection: order docs by `scoreCol` DESCENDING
    * (idCol tiebreak) and keep every doc whose INCLUSIVE running token
    * total stays within `budget`. Output: (idCol, tokensCol,
    * cum_tokens) for the kept docs.
    *
    * The running sum is a distributed prefix sum: after the range sort,
    * pass 1 collects ONE per-partition token total to the driver
    * (bounded by the partition count), pass 2 adds the exclusive
    * partition offsets back in a narrow map. All arithmetic is BIGINT —
    * the kept set is exact and engine-independent. The sorted frame is
    * localCheckpointed so the two passes read materialized partitions
    * instead of recomputing the sort. */
  def selectByTokenBudget(docs: DataFrame, budget: Long,
      scoreCol: String = "quality_score", tokensCol: String = "n_tokens",
      idCol: String = "doc_id", numPartitions: Int = 0): DataFrame = {
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    prefixSumBy(docs, Seq(col(scoreCol)), Seq(false),
        col(tokensCol), idCol, numPartitions)
      .select(col(idCol), col("w").as(tokensCol),
        (col("offset") + col("w")).as("cum_tokens"))
      .filter(col("cum_tokens") <= budget)
  }

  /** EXCLUSIVE global prefix sum of a BIGINT weight under (keys,
    * ascending, idCol) order — the primitive behind token-budget
    * selection and context-window assembly. Output: (idCol, w, offset)
    * with offset = sum of all earlier rows' weights. Same shape as
    * [[rankBy]]: range sort, one (pid, sum) stats pass (one long per
    * partition to the driver), one narrow seeded running-sum pass —
    * never a single-partition window; partition-count invariant. */
  def prefixSumBy(docs: DataFrame, keys: Seq[Column], ascending: Seq[Boolean],
      weightC: Column, idCol: String = "doc_id",
      numPartitions: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sorted = CheckpointScratch.register(
      sortedProjected(docs, keys, ascending, idCol,
          Seq(coalesce(weightC.cast("long"), lit(0L)).as("__w")),
          numPartitions)
        .select(col("__id"), col("__w")).as[(Long, Long)]
        .localCheckpoint(true))
    val rdd = sorted.rdd
    // pass 1: one (pid, sum) pair per partition — bounded driver state
    val partSums = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L; it.foreach(s += _._2); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(partSums.scanLeft(0L)(_ + _))
    // pass 2: narrow running sum seeded with the partition's offset
    rdd.mapPartitionsWithIndex { (i, it) =>
      var acc = offsets.value(i)
      it.map { case (id, w) => val start = acc; acc += w; (id, w, start) }
    }.toDF(idCol, "w", "offset")
  }
}
