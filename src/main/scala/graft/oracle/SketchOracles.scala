package graft.oracle

import Fragments._, TextOracles._

/** Oracles of sketches and audits: HLL, count-min, quantiles, heavy
  * tokens, audit fingerprints and the data card. */
private[oracle] object SketchOracles {

  /** Canonical-row-hash CTE for the audit oracles: signed
    * mix64∘fnv1a over 'doc_id|text' with the same NULL-as-'' form. */
  private def auditHashCte(rel: String, name: String): String =
    s"""$name AS (SELECT source, ${signedSql(mix64Sql(
         "list_transform([CAST(doc_id AS VARCHAR) || '|' || COALESCE(text, '')], w -> " + fnvWordSql + ")[1]"))} AS h
       |  FROM $rel)""".stripMargin

  def auditFpOracle: String =
    s"""WITH ${margined(auditHashCte("documents", "af"))}
       |SELECT source, count(*) AS n_rows, bit_xor(h) AS fp
       |FROM af GROUP BY source ORDER BY source""".stripMargin

  def auditReconcileOracle: String =
    s"""WITH b0 AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id = 1 THEN text || ' tampered' ELSE text END AS text
       |  FROM documents WHERE doc_id % 97 <> 0 AND source <> 'src0'
       |  UNION ALL
       |  SELECT doc_id, 'srcx' AS source, text FROM documents
       |  WHERE doc_id >= 1 AND doc_id < 5),
       |${margined(auditHashCte("documents", "ah"))},
       |${margined(auditHashCte("b0", "bh"))},
       |fa AS (SELECT source, count(*) AS n_left, bit_xor(h) AS fp_l
       |  FROM ah GROUP BY source),
       |fb AS (SELECT source, count(*) AS n_right, bit_xor(h) AS fp_r
       |  FROM bh GROUP BY source)
       |SELECT COALESCE(fa.source, fb.source) AS source, n_left, n_right,
       |  CASE WHEN n_left IS NULL THEN 'right_only'
       |       WHEN n_right IS NULL THEN 'left_only'
       |       WHEN n_left <> n_right THEN 'count'
       |       WHEN fp_l <> fp_r THEN 'content'
       |       ELSE 'ok' END AS status
       |FROM fa FULL OUTER JOIN fb ON fa.source = fb.source
       |ORDER BY source""".stripMargin

  /** q_hll_distinct oracle: same mix64∘fnv1a token hash, bucket = low 8
    * bits (power-of-two mask agrees between UBIGINT and signed-long
    * domains), ρ = 57 − bitlen of the logically-shifted remainder (bin()
    * is minimal-width on the non-negative v in both engines), exact
    * BIGINT harmonic fold at scale 2^48, and the identical α_m·m²
    * shortest-roundtrip literal — see Sketches.hllEstimate. */
  def hllOracle: String = {
    val p = 8
    val m = 1L << p
    s"""WITH toks AS (
       |  SELECT source, ${mix64Sql(fnvWordSql)} AS h
       |  FROM (SELECT source,
       |          unnest(list_transform(generate_series(1, len(ws) - 2),
       |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS w
       |        FROM (SELECT source,
       |                list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
       |              FROM documents))),
       |reg AS (
       |  SELECT source, CAST(h & CAST(${m - 1} AS UBIGINT) AS BIGINT) AS bucket,
       |         max(CAST(${65 - p} - CASE WHEN (h >> $p) = 0 THEN 0
       |               ELSE length(bin(h >> $p)) END AS BIGINT)) AS rho
       |  FROM toks GROUP BY 1, 2),
       |agg AS (
       |  SELECT source, count(*) AS n_buckets,
       |    CAST(sum(CASE WHEN rho <= 48
       |          THEN (CAST(1 AS BIGINT) << CAST(48 - rho AS INTEGER))
       |          ELSE 0 END) AS BIGINT) AS present_sum
       |  FROM reg GROUP BY 1)
       |SELECT source, n_buckets,
       |  present_sum + ($m - n_buckets) * 281474976710656 AS sum_scaled,
       |  round(${graft.ops.Sketches.hllAlphaM2(p)} * ${graft.ops.Sketches.HllScale} /
       |        CAST(present_sum + ($m - n_buckets) * 281474976710656 AS DOUBLE), 2)
       |    AS distinct_est
       |FROM agg ORDER BY source""".stripMargin
  }

  /** q_cms_counts oracle: the identical CMS construction — shared fnv1a
    * word hash, per-row mix64(h XOR cmsSeed(i)) from the SAME seed
    * constants, low-4-bit buckets (a power-of-two mask agrees between the
    * UBIGINT and signed-long domains), exact cell counts, min-over-rows
    * estimate, joined to exact truth. */
  def cmsOracle: String = {
    val seeds = (0 until 4).map(i =>
      s"($i, CAST(${java.lang.Long.toUnsignedString(graft.ops.Sketches.cmsSeed(i))} AS UBIGINT))")
      .mkString(", ")
    val fnvTok = s"list_transform([token], w -> $fnvWordSql)[1]"
    s"""WITH toks AS (
       |  SELECT source, unnest(list_filter(string_split(COALESCE(text, ''), ' '),
       |    x -> length(x) > 0)) AS token
       |  FROM documents),
       |seeds(i, s) AS (VALUES $seeds),
       |th AS (SELECT source, token, $fnvTok AS h FROM toks),
       |ib AS (SELECT source, i,
       |    CAST((${mix64Sql("xor(h, s)")}) & CAST(15 AS UBIGINT) AS BIGINT) AS bucket
       |  FROM th CROSS JOIN seeds),
       |sk AS (SELECT source, i, bucket, count(*) AS cnt FROM ib GROUP BY 1, 2, 3),
       |ph AS (SELECT DISTINCT source, token, h FROM th),
       |pb AS (SELECT source, token, i,
       |    CAST((${mix64Sql("xor(h, s)")}) & CAST(15 AS UBIGINT) AS BIGINT) AS bucket
       |  FROM ph CROSS JOIN seeds),
       |est AS (SELECT pb.source, pb.token, min(COALESCE(sk.cnt, 0)) AS est
       |  FROM pb LEFT JOIN sk ON sk.source = pb.source AND sk.i = pb.i
       |    AND sk.bucket = pb.bucket
       |  GROUP BY 1, 2),
       |truth AS (SELECT source, token, CAST(count(*) AS BIGINT) AS true_cnt
       |  FROM toks GROUP BY 1, 2)
       |SELECT e.source, e.token, CAST(e.est AS BIGINT) AS est, t.true_cnt
       |FROM est e JOIN truth t ON t.source = e.source AND t.token = e.token""".stripMargin
  }

  /** q_sketch_quantiles oracle: same mix64∘fnv1a row hash, k smallest per
    * group (hash-tie → min value, mirroring BottomKSample's merge rule),
    * then quantile_cont == Spark's exact `percentile` on the sample. */
  def sketchQuantilesOracle: String =
    s"""WITH h AS (SELECT source, CAST(n_chars AS DOUBLE) AS v,
       |             ${saltedHashSql("qsample")} AS hu
       |           FROM documents),
       |d AS (SELECT source, hu, min(v) AS v FROM h GROUP BY 1, 2),
       |rk AS (SELECT source, hu, v,
       |         row_number() OVER (PARTITION BY source ORDER BY hu) AS rn
       |       FROM d),
       |smp AS (SELECT source, v FROM rk WHERE rn <= 16)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_sample,
       |  round(quantile_cont(v, 0.5), 4) AS q50_est,
       |  round(quantile_cont(v, 0.9), 4) AS q90_est,
       |  round(quantile_cont(v, 0.99), 4) AS q99_est
       |FROM smp GROUP BY source""".stripMargin

  /** q_heavy_tokens oracle: the exact top-k ground truth (count all
    * tokens, rank, take k) — the sketch-then-verify operator must land on
    * exactly this answer; `certified` replicates the kth·m > N proof. */
  def heavyTokensOracle: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(COALESCE(text, ''), ' ')) AS tok
       |  FROM documents),
       |ft AS (SELECT source, tok FROM toks WHERE length(tok) > 0),
       |cnt AS (SELECT source, tok, count(*) AS c FROM ft GROUP BY 1, 2),
       |tot AS (SELECT source, count(*) AS nt FROM ft GROUP BY 1),
       |rk AS (SELECT source, tok, c,
       |         row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rn
       |       FROM cnt)
       |SELECT r.source, r.tok AS token, CAST(r.c AS BIGINT) AS cnt,
       |  CAST(r.rn AS BIGINT) AS rank,
       |  (min(r.c) OVER (PARTITION BY r.source) * 256 > t.nt) AS certified
       |FROM rk r JOIN tot t USING (source)
       |WHERE r.rn <= 5""".stripMargin

  /** q_data_card oracle: quality CTE + text-keyed dup profile + the
    * row_number form of the language argmax; mean quality via the exact
    * quarters-integer sum and ONE division. */
  def dataCardOracle: String =
    s"""WITH q AS (
       |${margined(qualityOracle)}
       |),
       |d AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
       |tc AS (SELECT text, count(*) AS dc FROM d GROUP BY 1),
       |per AS (SELECT d.doc_id, d.source, d.n_chars, q.n_tokens,
       |    CAST(q.quality_score * 4 AS BIGINT) AS q4, (tc.dc >= 2) AS isdup
       |  FROM d JOIN q USING (doc_id) JOIN tc USING (text)),
       |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
       |    CAST(sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |    CAST(sum(q4) AS BIGINT) AS sq4
       |  FROM per GROUP BY 1),
       |lc AS (SELECT source, lang, count(*) AS c FROM d GROUP BY 1, 2),
       |la AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs FROM lc GROUP BY 1),
       |lt AS (SELECT source, lang,
       |    row_number() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
       |  FROM lc)
       |SELECT m.source, m.n_docs, m.n_tokens, m.n_chars_total, m.n_dup_docs,
       |  la.n_langs, lt.lang AS top_lang,
       |  round(CAST(m.sq4 AS DOUBLE) / CAST(m.n_docs * 4 AS DOUBLE), 4) AS mean_quality
       |FROM m JOIN la USING (source) JOIN lt ON lt.source = m.source AND lt.rn = 1
       |ORDER BY m.source""".stripMargin
}
