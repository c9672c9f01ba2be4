package graft.oracle

import Fragments._, Plants._

/** Oracles of the near-duplicate and dedup family: fingerprints,
  * SimHash, MinHash+LSH, the jaccard edge graph, span and line dedup. */
private[oracle] object DedupOracles {

  /** q_fingerprint oracle: the rolling Karp-Rabin fold h = h·P + fnv1a(w)
    * replicated with exact wrapping arithmetic (bit-for-bit vs the native
    * Fingerprint64 expression). */
  def fingerprintOracle: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST(0 AS UBIGINT),
       |        list_transform(
       |          list_filter(regexp_split_to_array(text, '\\s+'), w -> length(w) > 0),
       |          w -> $fnvWordSql)),
       |      (h, fw) -> CAST((CAST(h AS HUGEINT) * 1099511628211 + CAST(fw AS HUGEINT))
       |                      % 18446744073709551616 AS UBIGINT)
       |    ) AS fu
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(CASE WHEN fu >= 9223372036854775808
       |       THEN CAST(fu AS HUGEINT) - 18446744073709551616
       |       ELSE CAST(fu AS HUGEINT) END AS BIGINT) AS fingerprint
       |FROM f""".stripMargin

  /** q_simhash_pairs oracle: per-word fnv1a → 64 bit votes → sign bits →
    * 4×16-bit chunk pigeonhole join → hamming ≤ 3, over the same planted
    * near-dup union as the Spark query. All integer arithmetic — exact. */
  def simhashOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text || ' near dup copy' AS text
       |  FROM documents WHERE doc_id % 10 = 0),
       |wf AS (
       |  SELECT doc_id,
       |    unnest(list_transform(
       |      list_filter(regexp_split_to_array(text, '\\s+'), w -> length(w) > 0),
       |      w -> $fnvWordSql)) AS fw
       |  FROM base),
       |votes AS (
       |  SELECT doc_id, b.b AS bit,
       |    sum(CASE WHEN (fw >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM wf CROSS JOIN generate_series(0, 63) b(b)
       |  GROUP BY doc_id, b.b),
       |sigs AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v > 0 THEN CAST(CAST(1 AS UBIGINT) << bit AS HUGEINT)
       |             ELSE 0 END) AS UBIGINT) AS sig
       |  FROM votes GROUP BY doc_id),
       |allsigs AS (
       |  SELECT b.doc_id, COALESCE(s.sig, CAST(0 AS UBIGINT)) AS sig
       |  FROM (SELECT DISTINCT doc_id FROM base) b LEFT JOIN sigs s USING (doc_id)),
       |chunks AS (
       |  SELECT doc_id, sig, c.c AS ci, (sig >> (c.c * 16)) & 65535 AS cv
       |  FROM allsigs CROSS JOIN generate_series(0, 3) c(c)),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
       |    bit_count(xor(a.sig, b2.sig)) AS hamming
       |  FROM chunks a JOIN chunks b2
       |  ON a.ci = b2.ci AND a.cv = b2.cv AND a.doc_id < b2.doc_id
       |  GROUP BY 1, 2, 3)
       |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  /** The LSH key pipeline (word 3-shingles → fnv1a shingle hashes → 64
    * splitmix64-seeded minhashes → 16 band-key folds; the Scala min is
    * over SIGNED Longs, replicated by flipping the sign bit before/after
    * the unsigned UBIGINT min) as CTE text over a
    * caller-supplied `base(doc_id, text)` — ONE definition shared by
    * q_minhash_lsh and q_incremental_neardup (zero drift). Exposes `shl`
    * (doc_id, shingle-hash set) and `keys` (doc_id, band_key); callers
    * append their own candidate join + verify tail. */
  private def lshKeyCtes(baseSql: String): String = {
    val seedJ = "CAST((CAST(j.j AS HUGEINT) * 11694633085474628615) " +
      "% 18446744073709551616 AS UBIGINT)"
    s"""base AS (
       |${margined(baseSql)}),
       |words AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS ws
       |  FROM base),
       |shl AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) = 0 THEN CAST([] AS UBIGINT[])
       |         WHEN len(ws) < 3 THEN list_transform([array_to_string(ws, ' ')], w -> $fnvWordSql)
       |         ELSE list_distinct(list_transform(
       |                list_transform(range(1, len(ws) - 1),
       |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |                w -> $fnvWordSql))
       |    END AS shs
       |  FROM words),
       |she AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
       |sigr AS (
       |  SELECT she.doc_id, j.j AS j,
       |    xor(min(xor(${mix64Sql(s"xor(she.sh, $seedJ)")},
       |            CAST(9223372036854775808 AS UBIGINT))),
       |        CAST(9223372036854775808 AS UBIGINT)) AS sigv
       |  FROM she CROSS JOIN generate_series(0, 63) j(j)
       |  GROUP BY she.doc_id, j.j),
       |grid AS (SELECT shl.doc_id, j.j AS j FROM shl CROSS JOIN generate_series(0, 63) j(j)),
       |sig AS (
       |  SELECT g.doc_id, g.j,
       |    COALESCE(s.sigv, CAST(9223372036854775807 AS UBIGINT)) AS sigv
       |  FROM grid g LEFT JOIN sigr s ON g.doc_id = s.doc_id AND g.j = s.j),
       |bandrows AS (
       |  SELECT doc_id, j // 4 AS band, list(sigv ORDER BY j) AS sigs
       |  FROM sig GROUP BY doc_id, j // 4),
       |keys AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(xor(CAST(14695981039346656037 AS UBIGINT), CAST(band AS UBIGINT)), sigs),
       |      (h, s) -> ${mix64Sql("xor(h, s)")}) AS band_key
       |  FROM bandrows)""".stripMargin
  }

  /** Self-join candidate + exact-Jaccard verify CTEs over [[lshKeyCtes]]'
    * `keys`/`shl` — ends at `jac(id_a, id_b, j)`. ONE definition shared
    * by q_minhash_lsh and q_leakage_scrub. */
  private def lshPairVerifyCtes: String =
    """cand AS (
      |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b
      |  FROM keys a JOIN keys b2 ON a.band_key = b2.band_key AND a.doc_id < b2.doc_id
      |  GROUP BY 1, 2),
      |ver AS (
      |  SELECT c.id_a, c.id_b,
      |    len(list_intersect(sa.shs, sb.shs)) AS inter,
      |    len(sa.shs) AS na, len(sb.shs) AS nb
      |  FROM cand c
      |  JOIN shl sa ON sa.doc_id = c.id_a
      |  JOIN shl sb ON sb.doc_id = c.id_b),
      |jac AS (
      |  SELECT id_a, id_b,
      |    CASE WHEN na = 0 AND nb = 0 THEN 1.0
      |         ELSE CAST(inter AS DOUBLE) / (na + nb - inter) END AS j
      |  FROM ver)""".stripMargin

  /** q_minhash_lsh oracle: the ENTIRE pipeline — [[lshKeyCtes]] over the
    * planted-dup union, bucket-join candidates, exact shingle-set Jaccard
    * verify — replicated with exact wrapping integer arithmetic. ~16 s in
    * DuckDB at sf0.01 (17M mix64 rows) — the one slow oracle, but every
    * stage is bit-exact. */
  def minhashLshOracle: String = {
    val base =
      """  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' near dup copy' AS text
        |  FROM documents WHERE doc_id % 10 = 0""".stripMargin
    s"""WITH ${margined(lshKeyCtes(base))},
       |${margined(lshPairVerifyCtes)}
       |SELECT id_a, id_b, round(j, 4) AS jaccard
       |FROM jac WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin
  }

  /** q_leakage_scrub oracle: the shared LSH pair pipeline over the
    * planted union, the q_train_split hash-threshold assignment at
    * 0.9/0.1, and the cross-split leak rule in plain SQL. */
  def leakageScrubOracle: String = {
    val thr = graft.ops.Splits.splitThresholds(Seq(0.9, 0.1)).head
    val base =
      """  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' near dup copy' AS text
        |  FROM documents WHERE doc_id % 10 = 0""".stripMargin
    s"""WITH ${margined(lshKeyCtes(base))},
       |${margined(lshPairVerifyCtes)},
       |pairs AS (SELECT id_a, id_b FROM jac WHERE j >= 0.5),
       |sp AS (SELECT doc_id,
       |    CASE WHEN ${saltedHashSql("split")} < CAST('$thr' AS UBIGINT)
       |         THEN 'train' ELSE 'test' END AS split
       |  FROM base),
       |leaky AS (
       |  SELECT p.id_a AS doc_id FROM pairs p
       |  JOIN sp a ON a.doc_id = p.id_a JOIN sp b ON b.doc_id = p.id_b
       |  WHERE a.split = 'train' AND b.split = 'test'
       |  UNION
       |  SELECT p.id_b FROM pairs p
       |  JOIN sp a ON a.doc_id = p.id_a JOIN sp b ON b.doc_id = p.id_b
       |  WHERE a.split = 'test' AND b.split = 'train')
       |SELECT s.doc_id, s.split,
       |  (s.split <> 'train' OR l.doc_id IS NULL) AS kept
       |FROM sp s LEFT JOIN leaky l ON l.doc_id = s.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  /** q_incremental_neardup oracle: the same [[lshKeyCtes]] pipeline over
    * seen ∪ batch (batch ids offset ≥ 2000000), candidates restricted to
    * batch×seen band collisions, exact shingle-set Jaccard verify; batch
    * rows with no match ≥ 0.5 survive as new. */
  def incrementalNearDupOracle: String = {
    val base =
      """  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text || ' near dup copy' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id,
        |    'entirely fresh synthetic content block ' || (doc_id + 3000000)
        |      || ' qq ww ee rr tt' AS text
        |  FROM documents WHERE doc_id % 10 = 5""".stripMargin
    s"""WITH ${margined(lshKeyCtes(base))},
       |cand AS (
       |  SELECT b2.doc_id AS id_b, a.doc_id AS id_s
       |  FROM keys a JOIN keys b2 ON a.band_key = b2.band_key
       |  WHERE a.doc_id < 2000000 AND b2.doc_id >= 2000000
       |  GROUP BY 1, 2),
       |ver AS (
       |  SELECT c.id_b,
       |    len(list_intersect(sa.shs, sb.shs)) AS inter,
       |    len(sa.shs) AS na, len(sb.shs) AS nb
       |  FROM cand c
       |  JOIN shl sb ON sb.doc_id = c.id_b
       |  JOIN shl sa ON sa.doc_id = c.id_s),
       |dup AS (
       |  SELECT DISTINCT id_b FROM ver
       |  WHERE CASE WHEN na = 0 AND nb = 0 THEN 1.0
       |        ELSE CAST(inter AS DOUBLE) / (na + nb - inter) END >= 0.5)
       |SELECT doc_id, text FROM base
       |WHERE doc_id >= 2000000 AND doc_id NOT IN (SELECT id_b FROM dup)""".stripMargin
  }

  /** q_contamination oracle: the minhash oracle's exact 3-shingle fnv1a
    * construction, then plain overlap counting. */
  def contaminationOracle: String =
    s"""WITH words AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS ws
       |  FROM documents),
       |shl AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) = 0 THEN CAST([] AS UBIGINT[])
       |         WHEN len(ws) < 3 THEN list_transform([array_to_string(ws, ' ')], w -> $fnvWordSql)
       |         ELSE list_distinct(list_transform(
       |                list_transform(range(1, len(ws) - 1),
       |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |                w -> $fnvWordSql))
       |    END AS shs
       |  FROM words),
       |bench AS (SELECT DISTINCT unnest(shs) AS sh FROM shl WHERE doc_id % 97 = 0),
       |docsh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
       |tot AS (SELECT doc_id, count(*) AS ns FROM docsh GROUP BY 1),
       |hit AS (SELECT d.doc_id, count(*) AS nc FROM docsh d JOIN bench USING (sh) GROUP BY 1)
       |SELECT s.doc_id,
       |  CAST(COALESCE(t2.ns, 0) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(h2.nc, 0) AS BIGINT) AS n_contaminated,
       |  round(CAST(COALESCE(h2.nc, 0) AS DOUBLE)
       |    / CAST(greatest(COALESCE(t2.ns, 0), 1) AS DOUBLE), 4) AS contamination_frac
       |FROM (SELECT DISTINCT doc_id FROM documents) s
       |LEFT JOIN tot t2 USING (doc_id)
       |LEFT JOIN hit h2 USING (doc_id)""".stripMargin

  /** q_dup_spans oracle: identical boilerplate planting, POSITIONAL
    * 8-token spans (every occurrence, no dedup), fnv1a span hashes,
    * corpus-wide occurrence counts, per-doc duplicated-span tallies. */
  def dupSpansOracle: String = {
    val k = 8
    val joinWords = (0 until k).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN text || '$BoilerplateSuffix'
       |         ELSE text END AS text
       |  FROM documents),
       |words AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS ws
       |  FROM base),
       |spans AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(ws) - $k + 2), i -> $joinWords)) AS w
       |  FROM words WHERE len(ws) >= $k),
       |sh AS (SELECT doc_id, $fnvWordSql AS sh FROM spans),
       |cnt AS (SELECT sh, count(*) AS c FROM sh GROUP BY 1),
       |tot AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
       |dup AS (SELECT s.doc_id, count(*) AS nd
       |        FROM sh s JOIN cnt USING (sh) WHERE cnt.c >= 2 GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(COALESCE(t.ns, 0) AS BIGINT) AS n_spans,
       |  CAST(COALESCE(du.nd, 0) AS BIGINT) AS n_dup_spans,
       |  round(CAST(COALESCE(du.nd, 0) AS DOUBLE)
       |    / CAST(greatest(COALESCE(t.ns, 0), 1) AS DOUBLE), 4) AS dup_span_frac
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN tot t USING (doc_id)
       |LEFT JOIN dup du USING (doc_id)""".stripMargin
  }

  /** q_cut_spans oracle: identical planting to q_dup_spans, positional
    * spans WITH their 1-based start index (struct-valued unnest), dup
    * hashes corpus-wide, token coverage via a range join, maximal covered
    * runs by the gaps-and-islands trick (j − row_number), runs ≥ minRun
    * cut, survivors re-joined in order. */
  def cutSpansOracle: String = {
    val k = 8
    val minRun = 12
    val joinWords = (0 until k).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN text || '$BoilerplateSuffix'
       |         ELSE text END AS text
       |  FROM documents),
       |words AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS ws
       |  FROM base),
       |spans AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - $k + 2),
       |    i -> {'i': i, 'w': $joinWords})) AS s
       |  FROM words WHERE len(ws) >= $k),
       |sh AS (SELECT doc_id, i, $fnvWordSql AS sh
       |       FROM (SELECT doc_id, s.i AS i, s.w AS w FROM spans)),
       |cnt AS (SELECT sh, count(*) AS c FROM sh GROUP BY 1),
       |dup AS (SELECT s.doc_id, s.i FROM sh s JOIN cnt USING (sh) WHERE cnt.c >= 2),
       |tok AS (SELECT doc_id, t.j AS j, t.w AS w FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |      j -> {'j': j, 'w': ws[j]})) AS t
       |    FROM words)),
       |cov AS (SELECT DISTINCT tok.doc_id, tok.j
       |        FROM tok JOIN dup ON dup.doc_id = tok.doc_id
       |          AND tok.j BETWEEN dup.i AND dup.i + $k - 1),
       |runs AS (SELECT doc_id, j,
       |    j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS grp
       |  FROM cov),
       |cut AS (SELECT doc_id, j FROM (
       |    SELECT doc_id, j, count(*) OVER (PARTITION BY doc_id, grp) AS runlen
       |    FROM runs) WHERE runlen >= $minRun),
       |kept AS (SELECT tok.doc_id, tok.j, tok.w FROM tok
       |         LEFT JOIN cut ON cut.doc_id = tok.doc_id AND cut.j = tok.j
       |         WHERE cut.j IS NULL),
       |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY j) AS clean_text
       |        FROM kept GROUP BY 1),
       |nt AS (SELECT doc_id, len(ws) AS n FROM words),
       |nc AS (SELECT doc_id, count(*) AS ncut FROM cut GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(a.clean_text, '') AS clean_text,
       |  CAST(COALESCE(nt.n, 0) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(nc.ncut, 0) AS BIGINT) AS n_cut
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN nt USING (doc_id)
       |LEFT JOIN agg a USING (doc_id)
       |LEFT JOIN nc USING (doc_id)""".stripMargin
  }

  /** q_line_dedup oracle: identical planting, normalized-key counts,
    * NOT-IN cut, position-ordered string_agg reassembly. */
  def lineDedupOracle: String =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    COALESCE(text, '') || chr(10)
       |    || CASE WHEN doc_id % 2 = 0 THEN 'all rights reserved'
       |            ELSE '  ALL RIGHTS RESERVED ' END
       |    || chr(10) || '   ' || chr(10)
       |    || CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to our newsletter'
       |            ELSE 'unique tail ' || doc_id END AS text
       |  FROM documents),
       |l0 AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(ls) + 1), i -> {'pos': i, 'line': ls[i]})) AS t
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted)),
       |lines AS (SELECT doc_id, t.pos AS pos, t.line AS line,
       |    lower(trim(t.line)) AS key FROM l0),
       |dup AS (SELECT key FROM lines WHERE key <> '' GROUP BY key HAVING count(*) >= 2),
       |kept AS (SELECT doc_id, pos, line FROM lines
       |         WHERE key <> '' AND key NOT IN (SELECT key FROM dup)),
       |pd AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY 1),
       |tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(pd.clean_text, '') AS clean_text,
       |  CAST(COALESCE(tot.n_lines, 0) AS BIGINT) AS n_lines,
       |  CAST(COALESCE(tot.n_lines, 0) - COALESCE(pd.n_kept, 0) AS BIGINT) AS n_cut_lines
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN tot USING (doc_id)
       |LEFT JOIN pd USING (doc_id)""".stripMargin

  /** q_host_boilerplate oracle: identical planting (incl. the 2-doc tiny
    * host), per-(source, key) DISTINCT-doc evidence vs host doc totals
    * (integer cross-multiplied ≥ num/den test, minDocs exemption),
    * position-ordered reassembly with blank lines KEPT. */
  def hostBoilerplateOracle: String =
    s"""WITH planted AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 2 = 0 THEN '(c) 2026 ' || source || ' media'
       |         ELSE '  (C) 2026 ' || source || ' MEDIA ' END
       |    || chr(10) || CAST(doc_id AS VARCHAR) || ' ' || COALESCE(text, '')
       |    || chr(10) || chr(10)
       |    || CASE WHEN n_chars % 4 = 0 THEN 'subscribe to ' || source
       |            ELSE 'tail ' || CAST(doc_id AS VARCHAR) END AS text
       |  FROM documents
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    (CAST(-1 AS BIGINT), 'tiny', 'shared footer line' || chr(10) || 'body a'),
       |    (CAST(-2 AS BIGINT), 'tiny', 'shared footer line' || chr(10) || 'body b'))
       |    t(doc_id, source, text)),
       |l0 AS (SELECT doc_id, source,
       |    unnest(list_transform(range(1, len(ls) + 1), i -> {'pos': i, 'line': ls[i]})) AS t
       |  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls FROM planted)),
       |lines AS (SELECT doc_id, source, t.pos AS pos, t.line AS line,
       |    lower(trim(t.line)) AS key FROM l0),
       |hd AS (SELECT source, count(*) AS n_docs FROM planted GROUP BY 1),
       |ev AS (SELECT DISTINCT doc_id, source, key FROM lines WHERE key <> ''),
       |boiler AS (SELECT ev.source, ev.key FROM ev JOIN hd USING (source)
       |           GROUP BY ev.source, ev.key, hd.n_docs
       |           HAVING hd.n_docs >= 3 AND count(*) * 2 >= 1 * hd.n_docs),
       |kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
       |         WHERE l.key = '' OR NOT EXISTS (SELECT 1 FROM boiler b
       |           WHERE b.source = l.source AND b.key = l.key)),
       |pd AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY 1),
       |tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1)
       |SELECT p.doc_id,
       |  COALESCE(pd.clean_text, '') AS clean_text,
       |  CAST(tot.n_lines AS BIGINT) AS n_lines,
       |  CAST(tot.n_lines - COALESCE(pd.n_kept, 0) AS BIGINT) AS n_cut_lines
       |FROM (SELECT doc_id FROM planted) p
       |JOIN tot USING (doc_id)
       |LEFT JOIN pd USING (doc_id)""".stripMargin

  /** Word-set jaccard ≥ 0.8 edge list over a `(doc_id, source, text)`
    * relation — ONE definition shared by the q_dedup_clusters oracle, the
    * funnel oracle and the pyfold fragments (drift here would desync the
    * recursive and Python-fold verification paths). Binds CTE names `d`
    * and `e`. */
  def jaccardEdgeCtes(src: String): String =
    s"""d AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS words FROM $src),
       |e AS (SELECT a.doc_id AS ia, b.doc_id AS ib
       |      FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
       |      WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
       |          / CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8)""".stripMargin

  /** The CDC chunk-HASH CTE chain (mask = 7 anchor band, identical
    * signed mix64∘fnv1a anchors, pos-ordered chunk text, fnv1a content
    * hash) over an arbitrary (doc_id, text) relation, CTE names prefixed
    * with `p` so two instances coexist in one statement — ends at
    * `${p}ch(doc_id, ci, h)`. ONE definition shared by q_chunk_dedup and
    * q_revisit_delta's two snapshots. */
  def chunkHashCtes(src: String, p: String): String = {
    val sg = signedSql(mix64Sql(s"list_transform([tok], w -> $fnvWordSql)[1]"))
    s"""${p}words AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
       |      x -> length(x) > 0) AS ws FROM $src),
       |${p}st AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |      i -> {'pos': i, 'tok': ws[i]})) AS t FROM ${p}words),
       |${p}s2 AS (SELECT doc_id, t.pos AS pos, t.tok AS tok FROM ${p}st),
       |${p}an AS (SELECT doc_id, pos, tok,
       |    CASE WHEN (($sg % 8) + 8) % 8 = 0 THEN 1 ELSE 0 END AS a
       |  FROM ${p}s2),
       |${p}cx AS (SELECT doc_id, pos, tok,
       |    COALESCE(SUM(a) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
       |  FROM ${p}an),
       |${p}ck AS (SELECT doc_id, ci, string_agg(tok, ' ' ORDER BY pos) AS cs
       |       FROM ${p}cx GROUP BY 1, 2),
       |${p}ch AS (SELECT doc_id, ci,
       |    list_transform([cs], w -> $fnvWordSql)[1] AS h FROM ${p}ck)""".stripMargin
  }

  /** q_revisit_delta oracle: the re-crawl plant mirrored, the shared
    * chunk-hash chain instantiated for BOTH snapshots, distinct hash
    * sets side-tagged and unioned, exact BIGINT intersection/union
    * counts, one reported division, and the integer cross-multiplied
    * revisit class ((nu−nc)·2 ≤ nu ⇔ change ≤ 1/2). */
  def revisitDeltaOracle: String =
    s"""WITH newdocs AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 1 THEN 'zq1 zq2 zq3 ' || text
       |         WHEN doc_id % 4 = 2 THEN text || ' zq9'
       |         WHEN doc_id % 4 = 3 THEN 'fully rewritten page ' || CAST(doc_id AS VARCHAR)
       |         ELSE text END AS text
       |  FROM documents),
       |${margined(chunkHashCtes("documents", "o"))},
       |${margined(chunkHashCtes("newdocs", "n"))},
       |oh AS (SELECT DISTINCT doc_id, h FROM och),
       |nh AS (SELECT DISTINCT doc_id, h FROM nch),
       |u AS (SELECT doc_id, h, max(o) AS o, max(n) AS n FROM (
       |    SELECT doc_id, h, 1 AS o, 0 AS n FROM oh
       |    UNION ALL SELECT doc_id, h, 0 AS o, 1 AS n FROM nh) GROUP BY 1, 2),
       |pd AS (SELECT doc_id, sum(o) AS no, sum(n) AS nn, sum(o * n) AS nc,
       |    count(*) AS nu FROM u GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(COALESCE(no, 0) AS BIGINT) AS n_old,
       |  CAST(COALESCE(nn, 0) AS BIGINT) AS n_new,
       |  CAST(COALESCE(nc, 0) AS BIGINT) AS n_common,
       |  CAST(COALESCE(nu, 0) AS BIGINT) AS n_union,
       |  round(CAST(COALESCE(nu, 0) - COALESCE(nc, 0) AS DOUBLE)
       |    / CAST(greatest(COALESCE(nu, 0), 1) AS DOUBLE), 4) AS change_frac,
       |  CASE WHEN nu IS NULL OR nc = nu THEN 'static'
       |       WHEN (nu - nc) * 2 <= nu THEN 'low' ELSE 'high' END AS revisit
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin
}
