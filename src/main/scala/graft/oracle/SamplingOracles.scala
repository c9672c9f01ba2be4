package graft.oracle

import Fragments._, Plants._, DedupOracles._, TextOracles._

/** Oracles of sampling, splits and packing: salted-hash splits and
  * samples, the greedy two-level pack fold, token budgets. */
private[oracle] object SamplingOracles {

  /** q_train_split oracle: exact unsigned thresholds from the SAME
    * arithmetic path (Splits.splitThresholds). */
  def trainSplitOracle: String = {
    val ts = graft.ops.Splits.splitThresholds(Seq(0.8, 0.1, 0.1))
    s"""WITH h AS (SELECT doc_id, source, ${saltedHashSql("split")} AS hu FROM documents)
       |SELECT doc_id, source,
       |  CASE WHEN hu < CAST('${ts(0)}' AS UBIGINT) THEN 'train'
       |       WHEN hu < CAST('${ts(1)}' AS UBIGINT) THEN 'val'
       |       ELSE 'test' END AS split
       |FROM h""".stripMargin
  }

  /** q_mixture_sample oracle: the same per-source unsigned thresholds as
    * exact literals (rate 1.0 keeps unconditionally; absent sources drop). */
  def mixtureSampleOracle: String = {
    val arms = MixtureRates.toSeq.sortBy(_._1).map { case (src, p) =>
      if (p >= 1.0) s"(source = '$src')"
      else s"(source = '$src' AND hu < CAST('${graft.ops.Splits.thresholdU64(p)}' AS UBIGINT))"
    }.mkString("\n       |   OR ")
    s"""WITH h AS (SELECT doc_id, source, ${saltedHashSql("mix")} AS hu FROM documents)
       |SELECT doc_id, source FROM h
       |WHERE $arms""".stripMargin
  }

  def hashSampleOracle: String = {
    val t = graft.ops.Splits.thresholdU64(0.25)
    s"""WITH h AS (SELECT doc_id, source, ${saltedHashSql("sample")} AS hu FROM documents)
       |SELECT doc_id, source FROM h WHERE hu < CAST('$t' AS UBIGINT)""".stripMargin
  }

  def stratifiedSampleOracle: String =
    s"""WITH h AS (SELECT doc_id, source, ${saltedHashSql("strat")} AS hu FROM documents),
       |r AS (SELECT doc_id, source,
       |        row_number() OVER (PARTITION BY source ORDER BY hu, doc_id) AS rk
       |      FROM h)
       |SELECT doc_id, source FROM r WHERE rk <= 5""".stripMargin

  /** The fold's NON-RECURSIVE prep (token counts + salted sub-shard) —
    * also emitted alone as a pyfold fragment so the Python greedy fold
    * verifies the same inputs the recursive CTE consumes. */
  def packPrepCte(src: String): String =
    s"""t0 AS (
       |  SELECT source, doc_id,
       |    CASE WHEN text IS NULL OR text = '' THEN CAST(0 AS BIGINT)
       |         ELSE CAST(len(string_split(text, ' ')) AS BIGINT) END AS ntok,
       |    CAST(((${saltedHashSql("pack")}) >> 1) % $PackShards AS BIGINT) AS shard
       |  FROM $src)""".stripMargin

  /** The greedy two-level pack fold (budget 200, `PackShards` salted
    * sub-shards) as recursive-CTE text — ONE definition shared by
    * q_pack_bins, q_pack_stats and the funnel's pack stage (a drifted
    * copy would silently desync their oracles). The shard is the
    * UBIGINT image of the shared salted row hash, `(h >> 1) % S` —
    * identical bits to Spark's `shiftrightunsigned(h, 1) % S` for ANY S
    * (signed pmod of the raw hash would only agree for power-of-two S).
    * `fill > 0` mirrors the operator: an EMPTY bin is never closed (a
    * zero-token doc at a cell head must not push the next doc into
    * bin 1). Binds CTE names `t0`, `t` and `rec` over a
    * `documents`-shaped relation `src(source, doc_id, text)`. */
  def packFoldCte(src: String): String =
    s"""${margined(packPrepCte(src))},
       |t AS (
       |  SELECT source, doc_id, ntok, shard,
       |    row_number() OVER (PARTITION BY source, shard ORDER BY doc_id) AS rn
       |  FROM t0),
       |rec AS (
       |  SELECT source, doc_id, ntok, shard, rn, CAST(0 AS BIGINT) AS bin, ntok AS fill
       |  FROM t WHERE rn = 1
       |  UNION ALL
       |  SELECT t.source, t.doc_id, t.ntok, t.shard, t.rn,
       |    CASE WHEN r.fill > 0 AND r.fill + t.ntok > 200 THEN r.bin + 1 ELSE r.bin END,
       |    CASE WHEN r.fill > 0 AND r.fill + t.ntok > 200 THEN t.ntok ELSE r.fill + t.ntok END
       |  FROM rec r JOIN t ON t.source = r.source AND t.shard = r.shard AND t.rn = r.rn + 1)""".stripMargin

  /** q_pack_bins oracle: the greedy fold as a recursive CTE over the
    * per-(source, shard) row sequence (bin state carried row to row). */
  def packBinsOracle: String =
    s"""WITH RECURSIVE ${margined(packFoldCte("documents"))}
       |SELECT source, doc_id, ntok AS n_tokens, shard AS shard_id,
       |  CAST(bin AS BIGINT) AS bin_id
       |FROM rec""".stripMargin

  /** q_pack_stats oracle: the SHARED pack fold, then per-bin aggregation
    * (docs, used tokens, fill fraction vs the 200 budget). */
  def packStatsOracle: String =
    s"""WITH RECURSIVE ${margined(packFoldCte("documents"))}
       |SELECT source, shard AS shard_id, CAST(bin AS BIGINT) AS bin_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ntok) AS BIGINT) AS used,
       |  round(CAST(least(sum(ntok), 200) AS DOUBLE) / 200, 4) AS fill_frac
       |FROM rec GROUP BY source, shard, bin
       |ORDER BY source, shard, bin""".stripMargin

  /** q_cluster_split oracle: the q_dedup_clusters components chain +
    * the q_train_split salted-threshold CASE applied to cluster_id. */
  def clusterSplitOracle: String = {
    val ts = graft.ops.Splits.splitThresholds(Seq(0.8, 0.1, 0.1))
    s"""WITH RECURSIVE
       |${margined(jaccardEdgeCtes("documents"))},
       |edges AS (SELECT ia AS s, ib AS t FROM e UNION ALL SELECT ib, ia FROM e),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT eg.t, r.lbl FROM reach r JOIN edges eg ON eg.s = r.id
       |  WHERE r.lbl < eg.t),
       |c AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |h AS (SELECT doc_id, cluster_id,
       |  ${saltedHashSql("csplit", "cluster_id")} AS hu FROM c)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN hu < CAST('${ts(0)}' AS UBIGINT) THEN 'train'
       |       WHEN hu < CAST('${ts(1)}' AS UBIGINT) THEN 'val'
       |       ELSE 'test' END AS split
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** q_token_budget oracle: the quality CTE verbatim, then a running
    * BIGINT token sum in (quality DESC, doc_id) order gated at the
    * budget — the single-window form the distributed prefix sum must
    * match exactly. */
  def tokenBudgetOracle: String =
    s"""WITH q AS (
       |${margined(qualityOracle)}
       |),
       |c AS (SELECT doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM q)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= 10000""".stripMargin
}
