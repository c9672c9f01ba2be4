package graft.oracle

import Fragments._, DedupOracles._, SamplingOracles._

/** Oracle of the curation funnel: the stage chain (PII gate, exact and
  * near dedup, decontamination, split, pack) as CTE components that the
  * pyfold fragments reuse. */
private[oracle] object FunnelOracles {

  /** token count expression shared by the funnel oracle fragments. */
  val funnelTokN = "CASE WHEN text IS NULL OR text = '' THEN 0 " +
    "ELSE len(string_split(text, ' ')) END"

  /** Funnel planted corpus (base + union planting): concat-only, CHEAP
    * to recompute — split out so the pyfold contract can materialize the
    * expensive scrub exactly once and still count stage 0 from here. */
  def funnelAll0Ctes: String =
    s"""base AS (
       |  SELECT doc_id, source,
       |    text || ' contact user' || doc_id || '@example.com at 10.0.'
       |      || (doc_id % 256) || '.7 or +1-555-'
       |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
       |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |      || (CASE WHEN doc_id % 5 = 0 THEN ' second.contact@test.org' ELSE '' END)
       |      AS text
       |  FROM documents),
       |all0 AS (
       |  SELECT doc_id, source, text FROM base
       |  UNION ALL
       |  SELECT doc_id + 1000000, source, text || ' near dup copy' FROM base WHERE doc_id % 10 = 1
       |  UNION ALL
       |  SELECT doc_id + 3000000, source, text FROM base WHERE doc_id % 7 = 0)""".stripMargin

  /** The triple-regex PII scrub over all0 — the EXPENSIVE prefix stage
    * (dominates the funnel fragments' DuckDB wall time; the pyfold
    * contract materializes it ONCE as `pyscr`, ADVICE r6). */
  def funnelScrCte: String = {
    val email = graft.ops.Scrub.EmailRe
    val ipv4 = graft.ops.Scrub.Ipv4Re
    val phone = graft.ops.Scrub.PhoneRe
    s"""scr AS (
       |  SELECT doc_id, source,
       |    len(regexp_extract_all(text, '$email'))
       |      + len(regexp_extract_all(text, '$ipv4'))
       |      + len(regexp_extract_all(text, '$phone')) AS hits,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$email', '<EMAIL>', 'g'),
       |      '$ipv4', '<IP>', 'g'),
       |      '$phone', '<PHONE>', 'g') AS text
       |  FROM all0)""".stripMargin
  }

  /** Prefix stages DOWNSTREAM of the scrub over a relation
    * `scrRel(doc_id, source, hits, text)`: PII gate (s1) → exact dedup
    * (s2) → jaccard edge list (d, e). */
  def funnelPostScrCtes(scrRel: String): String =
    s"""s1 AS (SELECT doc_id, source, text FROM $scrRel WHERE hits <= 3),
       |s2 AS (SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text, min(doc_id) OVER (PARTITION BY text) AS rep FROM s1)
       |  WHERE doc_id = rep),
       |${margined(jaccardEdgeCtes("s2"))}""".stripMargin

  /** The funnel oracle's NON-RECURSIVE prefix: planted corpus → scrub →
    * PII gate (s1) → exact dedup (s2) → jaccard edge list (d, e). Shared
    * verbatim (via the three component builders) by the full recursive
    * oracle and the pyfold fragments. */
  private def funnelPrefixCtes: String =
    s"""${margined(funnelAll0Ctes)},
       |${margined(funnelScrCte)},
       |${margined(funnelPostScrCtes("scr"))}""".stripMargin

  /** The funnel oracle's TAIL given a cluster-representative relation
    * `repsRel(doc_id)` (s2 rows that are their own cluster label):
    * near-dedup survivors (s3) → decontamination (s4) → train split (s5).
    * Shared by the recursive oracle (reps from the reach CTE) and the
    * pyfold fragments (reps from the Python union-find). */
  def funnelTailCtes(repsRel: String, scrRel: String = "scr"): String = {
    val trainCut = graft.ops.Splits.splitThresholds(Seq(0.8, 0.1, 0.1)).head
    def shlOf(src: String) =
      s"""SELECT doc_id,
         |    CASE WHEN len(ws) = 0 THEN CAST([] AS UBIGINT[])
         |         WHEN len(ws) < 3 THEN list_transform([array_to_string(ws, ' ')], w -> $fnvWordSql)
         |         ELSE list_distinct(list_transform(
         |                list_transform(range(1, len(ws) - 1),
         |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
         |                w -> $fnvWordSql))
         |    END AS shs
         |  FROM (SELECT doc_id,
         |          list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS ws
         |        FROM $src)""".stripMargin
    s"""s3 AS (SELECT s2.doc_id, s2.source, s2.text FROM s2
       |       JOIN $repsRel ON $repsRel.doc_id = s2.doc_id),
       |shlA AS (${shlOf("s3")}),
       |shlB AS (${shlOf(s"(SELECT doc_id, text FROM $scrRel WHERE doc_id % 97 = 0 AND doc_id < 1000000) bq")}),
       |benchsh AS (SELECT DISTINCT unnest(shs) AS sh FROM shlB),
       |docsh AS (SELECT doc_id, unnest(shs) AS sh FROM shlA),
       |tot AS (SELECT doc_id, count(*) AS ns FROM docsh GROUP BY 1),
       |hit AS (SELECT ds.doc_id, count(*) AS nc FROM docsh ds JOIN benchsh USING (sh) GROUP BY 1),
       |s4 AS (SELECT s3.doc_id, s3.source, s3.text FROM s3
       |       LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)
       |       WHERE round(CAST(COALESCE(hit.nc, 0) AS DOUBLE)
       |           / CAST(greatest(COALESCE(tot.ns, 0), 1) AS DOUBLE), 4) < 0.5),
       |s5 AS (SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text, ${saltedHashSql("split")} AS hu FROM s4)
       |  WHERE hu < CAST('$trainCut' AS UBIGINT))""".stripMargin
  }

  /** q_curation_funnel oracle: the whole funnel replayed in one DuckDB
    * query — identical PII construction, identical scrub regexes, window
    * exact-dedup, the q_dedup_clusters recursive-CTE components, the
    * contamination shingle machinery, the exact split threshold and the
    * pack-bins recursive fold. Each piece is the (already hash-green)
    * stage oracle, composed. */
  def curationFunnelOracle: String = {
    val tokN = funnelTokN
    s"""WITH RECURSIVE ${margined(funnelPrefixCtes)},
       |edges AS (SELECT ia AS s, ib AS t FROM e UNION ALL SELECT ib, ia FROM e),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM s2
       |  UNION
       |  SELECT eg.t, r.lbl FROM reach r JOIN edges eg ON eg.s = r.id
       |  WHERE r.lbl < eg.t),
       |clus AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |reps AS (SELECT id AS doc_id FROM clus WHERE cluster_id = id),
       |${margined(funnelTailCtes("reps"))},
       |${margined(packFoldCte("s5"))},
       |stages AS (
       |  SELECT 0 AS stage_idx, 'input' AS stage, count(*) AS n_docs,
       |    COALESCE(sum($tokN), 0) AS n_tokens FROM all0
       |  UNION ALL SELECT 1, 'pii_gate', count(*), COALESCE(sum($tokN), 0) FROM s1
       |  UNION ALL SELECT 2, 'exact_dedup', count(*), COALESCE(sum($tokN), 0) FROM s2
       |  UNION ALL SELECT 3, 'near_dedup', count(*), COALESCE(sum($tokN), 0) FROM s3
       |  UNION ALL SELECT 4, 'decontaminated', count(*), COALESCE(sum($tokN), 0) FROM s4
       |  UNION ALL SELECT 5, 'train_split', count(*), COALESCE(sum($tokN), 0) FROM s5
       |  UNION ALL SELECT 6, 'packed_bins', count(*), COALESCE(sum(toks), 0)
       |    FROM (SELECT source, shard, bin, sum(ntok) AS toks
       |          FROM rec GROUP BY source, shard, bin))
       |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
       |  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM stages ORDER BY stage_idx""".stripMargin
  }
}
