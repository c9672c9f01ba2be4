package graft.oracle

import Fragments._, Plants._, CrawlOracles._, DedupOracles._, FunnelOracles._
import SamplingOracles._, SearchOracles._, SketchOracles._, TextOracles._, TrainOracles._, VectorOracles._

/** The oracle contract of `graft.Verify`: the DuckDB SQL per query name
  * (`oracle_sql.json`) and the non-recursive fragments of the recursive
  * oracles (`pyfold_sql.json`). */
private[graft] object Oracles {

  def oracleSql: Map[String, String] = Map(
    "q_warc_dsv2" ->
      """SELECT 'http://docs.example/' || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(strlen(COALESCE(text, '')) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY url""".stripMargin,
    "q_warc_roundtrip" ->
      """SELECT 'http://docs.example/' || CAST(doc_id AS VARCHAR) AS url,
        |  COALESCE(text, '') AS text, COALESCE(lang, 'und') AS lang
        |FROM documents""".stripMargin,
    "q_curation_funnel" -> curationFunnelOracle,
    "q_url_canonical" -> urlCanonicalOracle,
    "q_incremental_new" -> incrementalNewOracle,
    "q_incremental_neardup" -> incrementalNearDupOracle,
    // the STORE path must be row-identical to the recompute path — ONE
    // oracle text for both is the parity contract
    "q_store_neardup" -> incrementalNearDupOracle,
    "q_bpe_tokens" -> bpeTokensOracle,
    "q_bpe_budget" -> bpeBudgetOracle,
    "q_bpe_train" -> bpeTrainOracle,
    "q_train_linear" -> trainLinearOracle,
    "q_distill_score" -> distillScoreOracle,
    "q_inverted_index" -> invertedIndexOracle,
    "q_conj_search" -> conjSearchOracle,
    "q_phrase_search" -> phraseSearchOracle,
    "q_ranked_search" -> rankedSearchOracle,
    "q_index_store" -> rankedSearchOracleFor(IndexStoreTerms, 40),
    "q_store_delete" -> rankedSearchOracleFor(IndexStoreTerms, 40,
      "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 2)"),
    "q_cooccur" -> cooccurOracle,
    "q_classifier_eval" -> classifierEvalOracle,
    "q_doc_tiers" -> docTiersOracle,
    "q_host_tier" -> hostTierOracle,
    "q_bpe_compression" -> bpeCompressionOracle,
    "q_data_card" -> dataCardOracle,
    "q_frontier_funnel" -> frontierFunnelOracle,
    "q_heavy_tokens" -> heavyTokensOracle,
    "q_sketch_quantiles" -> sketchQuantilesOracle,
    "q_pii_scrub" -> piiScrubOracle,
    "q_train_split" -> trainSplitOracle,
    "q_hash_sample" -> hashSampleOracle,
    "q_mixture_sample" -> mixtureSampleOracle,
    "q_leakage_scrub" -> leakageScrubOracle,
    "q_sitemap" ->
      """WITH e AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS sid, 'sitemap' AS kind,
        |    'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/sitemap'
        |      || CAST(doc_id AS VARCHAR) || '.xml.gz' AS loc,
        |    '' AS lastmod
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'url',
        |    'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/'
        |      || CAST(doc_id AS VARCHAR) || '?a=1&b=2',
        |    '2024-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
        |  FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'url',
        |    'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/q/'
        |      || CAST(doc_id AS VARCHAR), ''
        |  FROM documents WHERE doc_id % 10 <> 0)
        |SELECT sid, kind, loc, lastmod FROM e ORDER BY sid, loc""".stripMargin,
    // identical salted-hash uniform (>> 11 / 2^53) and sqrt-rate
    // derivation — sqrt is IEEE-correctly-rounded on both engines
    "q_temp_sample" ->
      s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN doc_id % 10 < 6 THEN 'big'
         |         WHEN doc_id % 10 < 9 THEN 'mid'
         |         ELSE 'small' END AS source
         |  FROM documents),
         |c AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
         |mn AS (SELECT min(n) AS nmin FROM c),
         |r AS (SELECT source,
         |    sqrt(CAST(mn.nmin AS DOUBLE)) / sqrt(CAST(c.n AS DOUBLE)) AS r
         |  FROM c, mn),
         |h AS (SELECT doc_id, source,
         |    CAST((${saltedHashSql("temp")}) >> 11 AS DOUBLE)
         |      / 9007199254740992.0 AS u
         |  FROM d)
         |SELECT h.doc_id, h.source FROM h JOIN r USING (source)
         |WHERE h.u < r.r ORDER BY doc_id""".stripMargin,
    "q_stratified_sample" -> stratifiedSampleOracle,
    "q_contamination" -> contaminationOracle,
    "q_bm25" -> bm25Oracle,
    "q_repetition" -> repetitionOracle,
    "q_pack_bins" -> packBinsOracle,
    "q_pack_stats" -> packStatsOracle,
    "q_cut_spans" -> cutSpansOracle,
    "q_lm_fluency" -> lmFluencyOracle,
    "q_lm_trigram" -> lmTrigramOracle,
    "q_ppl_buckets" -> pplBucketsOracle,
    "q_dsir_score" -> dsirOracle,
    "q_token_budget" -> tokenBudgetOracle,
    "q_host_pagerank" -> pageRankOracle,
    "q_link_pagerank" -> linkPagerankOracle,
    "q_url_blocklist" -> urlBlocklistOracle,
    "q_epoch_order" ->
      s"""WITH h AS (SELECT doc_id, ${saltedHashSql("epoch1")} AS hu FROM documents)
         |SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY hu, doc_id) - 1 AS BIGINT) AS epoch_pos
         |FROM h""".stripMargin,
    "q_train_shards" ->
      s"""WITH h AS (SELECT doc_id, ${saltedHashSql("epoch1")} AS hu FROM documents),
         |r AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY hu, doc_id) - 1 AS BIGINT) AS pos
         |  FROM h)
         |SELECT pos // 64 AS shard_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(pos) AS pos_min, max(pos) AS pos_max
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_line_dedup" -> lineDedupOracle,
    "q_host_boilerplate" -> hostBoilerplateOracle,
    "q_anchor_text" ->
      """WITH a AS (SELECT
        |    'host-' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS dst_host,
        |    'go & see v' || CAST(doc_id % 3 AS VARCHAR) AS anchor
        |  FROM documents),
        |g AS (SELECT dst_host, anchor, count(*) AS c FROM a GROUP BY 1, 2),
        |top AS (SELECT dst_host, anchor,
        |    row_number() OVER (PARTITION BY dst_host ORDER BY c DESC, anchor) AS rn
        |  FROM g),
        |agg AS (SELECT dst_host, CAST(sum(c) AS BIGINT) AS n_links,
        |    CAST(count(*) AS BIGINT) AS n_anchors FROM g GROUP BY 1)
        |SELECT agg.dst_host, agg.n_links, agg.n_anchors, t.anchor AS top_anchor
        |FROM agg JOIN top t ON t.dst_host = agg.dst_host AND t.rn = 1
        |ORDER BY agg.dst_host""".stripMargin,
    // rules reconstructed from the PLANT, longest-match via row_number
    // (len DESC, allow DESC) — the engine's struct-argmax, relationally
    "q_robots_gate" ->
      """WITH hosts AS (SELECT CAST(i AS BIGINT) AS hid,
        |    'h' || CAST(i AS VARCHAR) || '.example.com' AS host
        |  FROM generate_series(0, 6) t(i)),
        |rules AS (
        |  SELECT host, FALSE AS is_allow, '/private' AS prefix FROM hosts
        |  UNION ALL SELECT host, TRUE, '/private/ok' FROM hosts WHERE hid < 3
        |  UNION ALL SELECT host, FALSE, '/' FROM hosts WHERE hid = 3),
        |pages AS (SELECT doc_id,
        |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
        |    ['/', '/private', '/private/ok', '/public/page', '/private/sub']
        |      [CAST(doc_id % 5 AS INT) + 1] AS path
        |  FROM documents),
        |m AS (SELECT p.doc_id, r.is_allow,
        |    row_number() OVER (PARTITION BY p.doc_id
        |      ORDER BY len(r.prefix) DESC, CAST(r.is_allow AS INT) DESC) AS rn
        |  FROM pages p JOIN rules r
        |    ON r.host = p.host AND starts_with(p.path, r.prefix)),
        |w AS (SELECT doc_id, is_allow FROM m WHERE rn = 1)
        |SELECT p.doc_id, 'https://' || p.host || p.path AS url,
        |  COALESCE(w.is_allow, TRUE) AS allowed
        |FROM pages p LEFT JOIN w USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_cdc_chunks" -> {
      // identical signed mix64∘fnv1a anchor band; pos is 1-based here
      // (the dsir idiom) vs the engine's 0-based posexplode → min-1
      val sg = signedSql(mix64Sql(s"list_transform([tok], w -> $fnvWordSql)[1]"))
      s"""WITH words AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
         |      x -> length(x) > 0) AS ws FROM documents),
         |st AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
         |      i -> {'pos': i, 'tok': ws[i]})) AS t FROM words),
         |s2 AS (SELECT doc_id, t.pos AS pos, t.tok AS tok FROM st),
         |an AS (SELECT doc_id, pos,
         |    CASE WHEN (($sg % 8) + 8) % 8 = 0 THEN 1 ELSE 0 END AS a
         |  FROM s2),
         |cx AS (SELECT doc_id, pos,
         |    CAST(COALESCE(SUM(a) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ci
         |  FROM an)
         |SELECT doc_id, ci AS chunk_idx,
         |  CAST(min(pos) - 1 AS BIGINT) AS start_tok,
         |  CAST(count(*) AS BIGINT) AS n_toks
         |FROM cx GROUP BY doc_id, ci ORDER BY doc_id, ci""".stripMargin
    },
    // ground truth from the plant: delays hid+2 (hid<3) / min(7,4)=4
    // (hid=4) / null elsewhere (invalid "abc" drops, EvilBot's 99 never
    // applies); sitemaps are file-global, sm-a deduped, even hosts +sm-b
    "q_crawl_delay" ->
      """WITH h AS (SELECT DISTINCT doc_id % 7 AS hid FROM documents)
        |SELECT 'h' || CAST(hid AS VARCHAR) || '.example.com' AS host,
        |  CAST(CASE WHEN hid < 3 THEN hid + 2 WHEN hid = 4 THEN 4 END AS BIGINT) AS crawl_delay,
        |  CAST(CASE WHEN hid % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_sitemaps,
        |  'https://h' || CAST(hid AS VARCHAR) || '.example.com/sm-a.xml' AS first_sitemap
        |FROM h ORDER BY host""".stripMargin,
    // per-host ordinal × planted delay (default 1): the single-window
    // form the global-rank-minus-host-min construction must match
    "q_fetch_schedule" ->
      """WITH p AS (SELECT DISTINCT
        |    'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
        |    doc_id % 7 AS hid,
        |    'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ||
        |      ['/', '/private', '/private/ok', '/public/page', '/private/sub']
        |        [CAST(doc_id % 5 AS INT) + 1] AS url
        |  FROM documents),
        |r AS (SELECT host, hid, url,
        |    CAST(row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS BIGINT) AS ord
        |  FROM p)
        |SELECT url, host, ord,
        |  CAST(ord * (CASE WHEN hid < 3 THEN hid + 2 WHEN hid = 4 THEN 4 ELSE 1 END) AS BIGINT) AS fetch_at_s
        |FROM r ORDER BY host, ord""".stripMargin,
    "q_chunk_dedup" -> {
      // same anchor band + chunk assignment as q_cdc_chunks, chunk text
      // re-joined per (doc, chunk), fnv1a chunk hashes grouped corpus-wide
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || '$BoilerplateSuffix'
         |         ELSE text END AS text
         |  FROM documents),
         |${margined(chunkHashCtes("base", ""))},
         |fr AS (SELECT h, count(*) AS n FROM ch GROUP BY 1),
         |pd AS (SELECT ch.doc_id, count(*) AS nc,
         |    sum(CASE WHEN fr.n >= 2 THEN 1 ELSE 0 END) AS nd
         |  FROM ch JOIN fr USING (h) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(pd.nc, 0) AS BIGINT) AS n_chunks,
         |  CAST(COALESCE(pd.nd, 0) AS BIGINT) AS n_dup_chunks,
         |  round(CAST(COALESCE(pd.nd, 0) AS DOUBLE)
         |    / CAST(greatest(COALESCE(pd.nc, 0), 1) AS DOUBLE), 4) AS dup_chunk_frac
         |FROM (SELECT doc_id FROM documents) d
         |LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "q_revisit_delta" -> revisitDeltaOracle,
    "q_quantile_gate" -> quantileGateOracle,
    "q_lang_tier" -> langTierOracle,
    "q_zvalue" -> {
      // the Morton interleave unrolled as pure BIGINT bit arithmetic
      val terms = (0 until 6).flatMap(b => Seq(
        s"(((x >> $b) & 1) << ${2 * b})",
        s"(((y >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
      s"""WITH xy AS (SELECT doc_id, doc_id % 64 AS x,
         |    (doc_id * 7 + 3) % 64 AS y FROM documents)
         |SELECT doc_id, CAST($terms AS BIGINT) AS zv
         |FROM xy ORDER BY doc_id""".stripMargin
    },
    // the exclusive prefix sum over BIGINT must CAST out of DuckDB's
    // HUGEINT window-sum type, or the driver's typed hash diverges
    "q_ctx_windows" ->
      """WITH tc AS (SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |ps AS (SELECT doc_id, n,
        |    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM tc),
        |w AS (SELECT doc_id, n, off,
        |    unnest(generate_series(off // 128, (off + n - 1) // 128)) AS win_id
        |  FROM ps WHERE n > 0)
        |SELECT win_id, doc_id,
        |  greatest(win_id * 128 - off, 0) AS doc_off,
        |  greatest(off - win_id * 128, 0) AS win_off,
        |  least(off + n, (win_id + 1) * 128) - greatest(off, win_id * 128) AS n_take
        |FROM w ORDER BY win_id, doc_id""".stripMargin,
    "q_chunks" ->
      """WITH n AS (SELECT doc_id,
        |    CASE WHEN text IS NULL OR text = '' THEN CAST(0 AS BIGINT)
        |         ELSE CAST(len(string_split(text, ' ')) AS BIGINT) END AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n,
        |    CASE WHEN n = 0 THEN 0
        |         WHEN n <= 64 THEN 1
        |         ELSE 1 + (n - 64 + 48 - 1) // 48 END AS nc
        |  FROM n),
        |u AS (SELECT doc_id, n, unnest(range(0, nc)) AS chunk_idx FROM c WHERE nc >= 1)
        |SELECT doc_id, chunk_idx,
        |  chunk_idx * 48 AS start_tok,
        |  least(64, n - chunk_idx * 48) AS chunk_len
        |FROM u""".stripMargin,
    "q_dup_spans" -> dupSpansOracle,
    "q_normalize" -> normalizeOracle,
    "q_cosine_neardup" -> cosineNearDupOracle,
    "q_kmeans_cells" -> kmeansCellsOracle,
    "q_semdedup" -> semDedupOracle,
    "q_classifier_score" -> classifierOracle,
    "q_ann_ivf" -> annIvfOracle,
    "q_vector_store" -> annIvfOracleFor(
      "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0)"),
    "q_fingerprint" -> fingerprintOracle,
    "q_simhash_pairs" -> simhashOracle,
    "q_minhash_lsh" -> minhashLshOracle,
    "q_kmv_distinct" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT source, $fnvWordSql AS h
         |  FROM (SELECT source,
         |          unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w
         |        FROM documents)),
         |r AS (SELECT source, h,
         |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |      FROM toks),
         |nd AS (SELECT source, count(*) AS nd_total FROM toks GROUP BY source),
         |kth AS (SELECT source, h AS kth FROM r WHERE rn = 64)
         |SELECT nd.source,
         |  least(nd.nd_total, 64) AS n_kept,
         |  round(CASE WHEN nd.nd_total < 64 THEN CAST(nd.nd_total AS DOUBLE)
         |        ELSE 63.0 * 18446744073709551616.0 / ${unsignedDblSql("kth.kth")} END,
         |    2) AS distinct_est
         |FROM nd LEFT JOIN kth ON nd.source = kth.source
         |ORDER BY nd.source""".stripMargin,
    "q_cms_counts" -> cmsOracle,
    "q_hll_distinct" -> hllOracle,
    "q_hash_train" -> hashTrainOracle,
    "q_hash_ann" -> hashAnnOracle,
    "q_cluster_split" -> clusterSplitOracle,
    "q_audit_fp" -> auditFpOracle,
    "q_audit_reconcile" -> auditReconcileOracle,
    // feature hashing: same mix64∘fnv1a hash; dim = low 10 bits (mask
    // agrees across signed/unsigned domains), sign = bit 62, weight =
    // exact signed term frequency
    "q_feature_hash" -> s"""WITH toks AS (
       |  SELECT doc_id, ${mix64Sql(fnvWordSql)} AS h
       |  FROM (SELECT doc_id,
       |          unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w
       |        FROM documents))
       |SELECT doc_id, CAST(h & CAST(1023 AS UBIGINT) AS BIGINT) AS dim,
       |  CAST(sum(CASE WHEN ((h >> 62) & CAST(1 AS UBIGINT)) = 1
       |        THEN 1 ELSE -1 END) AS BIGINT) AS weight
       |FROM toks GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin,
    // as-of join: latest click at-or-before each purchase within 6 h for
    // the same user. The oracle states the SPEC (inequality join + top-1
    // by (ts, id) DESC); the Spark side reaches the same rows through
    // the tolerance-banded equi-join. Left join keeps matchless
    // purchases with NULL right columns, exactly as TemporalJoin does.
    "q_asof_join" ->
      """WITH l AS (
        |  SELECT user_id, CAST(event_id AS BIGINT) AS left_id,
        |         epoch_us(ts) AS left_ts_us
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (
        |  SELECT user_id, CAST(event_id AS BIGINT) AS right_id,
        |         epoch_us(ts) AS right_ts_us, value
        |  FROM events WHERE event_type = 'click'),
        |cand AS (
        |  SELECT l.left_id, r.right_id, r.right_ts_us, r.value,
        |         row_number() OVER (PARTITION BY l.left_id
        |           ORDER BY r.right_ts_us DESC, r.right_id DESC) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id
        |   AND r.right_ts_us <= l.left_ts_us
        |   AND l.left_ts_us - r.right_ts_us <= 21600000000)
        |SELECT l.user_id, l.left_id, l.left_ts_us,
        |       c.right_id, c.right_ts_us,
        |       l.left_ts_us - c.right_ts_us AS lag_us, c.value
        |FROM l LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (left_id)""".stripMargin,
    // interval × point: purchases inside each signup's 24 h window, same
    // user — plain BETWEEN join in the oracle, bin-replicated equi-join
    // in Spark; exactly-once so the row sets must agree with no dedup.
    "q_interval_join" ->
      """WITH iv AS (
        |  SELECT user_id, CAST(event_id AS BIGINT) AS signup_id,
        |         epoch_us(ts) AS start_us,
        |         epoch_us(ts) + 86400000000 AS end_us
        |  FROM events WHERE event_type = 'signup'),
        |pt AS (
        |  SELECT user_id, CAST(event_id AS BIGINT) AS purchase_id,
        |         epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT iv.user_id, iv.signup_id, iv.start_us, iv.end_us,
        |       pt.purchase_id, pt.ts_us
        |FROM iv JOIN pt ON iv.user_id = pt.user_id
        | AND pt.ts_us BETWEEN iv.start_us AND iv.end_us""".stripMargin,
    "q_kmv_overlap" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT source, $fnvWordSql AS h
         |  FROM (SELECT source,
         |          unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w
         |        FROM documents)),
         |srcs AS (SELECT DISTINCT source FROM toks),
         |pairs AS (SELECT a.source AS g_a, b.source AS g_b
         |          FROM srcs a, srcs b WHERE a.source < b.source),
         |u AS (SELECT p.g_a, p.g_b, t.h,
         |        max(CASE WHEN t.source = p.g_a THEN 1 ELSE 0 END) AS in_a,
         |        max(CASE WHEN t.source = p.g_b THEN 1 ELSE 0 END) AS in_b
         |      FROM pairs p JOIN toks t ON t.source IN (p.g_a, p.g_b)
         |      GROUP BY p.g_a, p.g_b, t.h),
         |r AS (SELECT *, row_number() OVER (PARTITION BY g_a, g_b ORDER BY h) AS rn FROM u),
         |agg AS (SELECT g_a, g_b,
         |          count(*) AS nd,
         |          max(CASE WHEN rn = 64 THEN h END) AS kth,
         |          count(*) FILTER (WHERE rn <= 64) AS n_kept,
         |          count(*) FILTER (WHERE rn <= 64 AND in_a = 1 AND in_b = 1) AS n_both
         |        FROM r GROUP BY g_a, g_b)
         |SELECT g_a, g_b, CAST(n_kept AS BIGINT) AS n_union_kept,
         |  round(CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
         |        ELSE 63.0 * 18446744073709551616.0 / ${unsignedDblSql("kth")} END, 2) AS union_est,
         |  round(CAST(n_both AS DOUBLE) / n_kept, 4) AS jaccard_est
         |FROM agg ORDER BY g_a, g_b""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_pivot" ->
      """SELECT user_id % 100 AS cohort,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,
    "q_percentiles" ->
      """SELECT source,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99_chars,
        |  count(*) AS n
        |FROM documents GROUP BY source""".stripMargin,
    "q_minhash_sig" ->
      """WITH toks AS (
        |  SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |t2 AS (SELECT id, tok FROM toks WHERE length(tok) > 0),
        |dict AS (SELECT tok, CAST(dense_rank() OVER (ORDER BY tok) AS BIGINT) AS code
        |         FROM (SELECT DISTINCT tok FROM t2)),
        |j AS (SELECT id, code FROM t2 JOIN dict USING (tok))
        |SELECT id AS doc_id,
        |  min((code * 1103 + 12345) % 2147483647) AS h0,
        |  min((code * 2053 + 1299709) % 2147483647) AS h1,
        |  min((code * 4099 + 15485863) % 2147483647) AS h2,
        |  min((code * 8209 + 32452843) % 2147483647) AS h3,
        |  min((code * 16411 + 49979687) % 2147483647) AS h4,
        |  min((code * 32771 + 67867967) % 2147483647) AS h5,
        |  min((code * 65537 + 86028121) % 2147483647) AS h6,
        |  min((code * 131101 + 104395301) % 2147483647) AS h7
        |FROM j GROUP BY id""".stripMargin,
    "q_ann_lsh" -> annLshOracle,
    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |d AS (SELECT query_id, neighbor_id,
        |    sum(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)) AS dot,
        |    sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS qq,
        |    sum(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)) AS cc
        |  FROM q, c, generate_series(1, 64) t(i)
        |  WHERE query_id <> neighbor_id
        |  GROUP BY query_id, neighbor_id),
        |s AS (SELECT query_id, neighbor_id, round(dot / (sqrt(qq) * sqrt(cc)), 4) AS cos FROM d),
        |r AS (SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // q_quant_codes: the SAME scale/round-half-up derivation (abs→max→
    // /127, floor(x/scale + 0.5)) — every op exact IEEE, so the codes and
    // their BIGINT norms match bit-for-bit with no ordered-fold machinery
    "q_quant_codes" ->
      """WITH qe AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs FROM embeddings),
        |sc AS (SELECT vec_id, xs,
        |    list_max(list_transform(xs, x -> abs(x))) / CAST(127 AS DOUBLE) AS scale FROM qe),
        |qc AS (SELECT vec_id, scale,
        |    list_transform(xs, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(floor(x / scale + 0.5) AS BIGINT) END) AS qv
        |  FROM sc)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm,
        |  CAST(list_sum(qv) AS BIGINT) AS code_sum
        |FROM qc ORDER BY vec_id""".stripMargin,
    // q_quant_topk: scale-free quantized cosine — exact BIGINT dots, the
    // only float ops are two sqrts, one multiply, one divide (same order
    // both sides)
    "q_pq_codes" -> pqCodesOracle,
    "q_pq_topk" -> pqTopkOracle,
    "q_quant_topk" ->
      """WITH qe AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs FROM embeddings),
        |sc AS (SELECT vec_id, xs,
        |    list_max(list_transform(xs, x -> abs(x))) / CAST(127 AS DOUBLE) AS scale FROM qe),
        |qc AS MATERIALIZED (SELECT vec_id,
        |    list_transform(xs, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
        |      ELSE CAST(floor(x / scale + 0.5) AS BIGINT) END) AS qv
        |  FROM sc),
        |qn AS MATERIALIZED (SELECT vec_id, qv,
        |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n FROM qc),
        |pr AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * q.qv[i])) AS BIGINT) AS dot,
        |    c.n AS cn, q.n AS qn2
        |  FROM qn c JOIN qn q ON q.vec_id < 20 AND c.vec_id <> q.vec_id
        |  WHERE c.n > 0 AND q.n > 0),
        |rk AS (SELECT query_id, neighbor_id,
        |    round(CAST(dot AS DOUBLE) / (sqrt(CAST(cn AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))), 4) AS qcos
        |  FROM pr),
        |fin AS (SELECT query_id, neighbor_id, qcos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM rk)
        |SELECT query_id, neighbor_id, qcos, rank FROM fin WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_langid" -> langIdOracle,
    "q_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')) AS BIGINT) AS n_subtokens
        |FROM documents""".stripMargin,
    "q_quality" -> qualityOracle,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, value, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - lag(CAST(floor(epoch(ts)) AS BIGINT))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        |  FROM events),
        |s AS (SELECT user_id, event_id, value,
        |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM e)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  sum(CAST(floor(value * CAST(1000000 AS DOUBLE)) AS BIGINT))
        |    / CAST(1000000 AS DOUBLE) AS session_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  round(sum(l_quantity) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        |FROM lineitem
        |WHERE l_suppkey <= 3""".stripMargin,
    "q_argmax_best" ->
      """SELECT user_id, best_event_id, best_value FROM (
        |  SELECT user_id, event_id AS best_event_id, round(value, 4) AS best_value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "q_section_carry" ->
      """SELECT event_id, user_id,
        |  coalesce(last_value(CASE WHEN event_type IN ('signup','login')
        |      THEN event_type END IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 'UNLABELED') AS section
        |FROM events""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')""".stripMargin,
    "q_set_except" ->
      """SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 1995
        |EXCEPT
        |SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 1996""".stripMargin,
    // The ENGINE's magnitude-banded equi-join, ported into the oracle
    // (VERDICT r6 #6): the naive part × lineitem × scales inequality join
    // dominated the whole sf0.1 certification (~17 min wall). Band
    // arithmetic mirrors ValidateJob (RegimeSplit 16, ±32 clamp, 0.02 abs
    // band, ln·256 log bands, ±1-band probes per reachable regime); the
    // EXACT tolerance predicate still decides every match, and ±1-band
    // coverage exceeds the 0.1% relative tolerance in each engine's own
    // floating-point arithmetic, so the result set is identical to the
    // naive join's. Each (row, scale) probe matches a fact's single band
    // key at most once — counts are join-shape-independent.
    "q_theta_band" ->
      """WITH f AS (
        |  SELECT p_partkey, p_retailprice,
        |    CASE WHEN abs(p_retailprice) < 16.0 THEN 0
        |         WHEN p_retailprice >= 0 THEN 1 ELSE 2 END AS regime,
        |    CASE WHEN abs(p_retailprice) < 16.0
        |         THEN CAST(floor(least(greatest(p_retailprice, -32.0), 32.0) / 0.02) AS BIGINT)
        |         ELSE CAST(floor(ln(greatest(abs(p_retailprice), 1e-12)) * 256.0) AS BIGINT)
        |    END AS band
        |  FROM part),
        |c0 AS (
        |  SELECT l_extendedprice * scale AS scaled
        |  FROM lineitem, (SELECT unnest([1.0, 1000.0]) AS scale) scales),
        |p0 AS (
        |  SELECT scaled,
        |    CASE WHEN abs(scaled) < 17.0 THEN 0 ELSE -1 END AS ar,
        |    CASE WHEN abs(scaled) > 15.0
        |         THEN CASE WHEN scaled >= 0 THEN 1 ELSE 2 END ELSE -1 END AS lr,
        |    CAST(floor(least(greatest(scaled, -32.0), 32.0) / 0.02) AS BIGINT) AS ab,
        |    CAST(floor(ln(greatest(abs(scaled), 1e-12)) * 256.0) AS BIGINT) AS lb
        |  FROM c0),
        |pr0 AS (
        |  SELECT scaled, unnest([
        |    {'r': ar, 'b': ab - 1}, {'r': ar, 'b': ab}, {'r': ar, 'b': ab + 1},
        |    {'r': lr, 'b': lb - 1}, {'r': lr, 'b': lb}, {'r': lr, 'b': lb + 1}]) AS t
        |  FROM p0),
        |probes AS (SELECT scaled, t.r AS regime, t.b AS band FROM pr0 WHERE t.r >= 0)
        |SELECT f.p_partkey, count(*) AS n_matches
        |FROM probes JOIN f ON probes.regime = f.regime AND probes.band = f.band
        |WHERE abs(probes.scaled - f.p_retailprice)
        |      <= greatest(0.01, 0.001 * abs(f.p_retailprice))
        |GROUP BY f.p_partkey
        |ORDER BY f.p_partkey""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE
        |${margined(jaccardEdgeCtes("documents"))},
        |edges AS (SELECT ia AS s, ib AS t FROM e UNION ALL SELECT ib, ia FROM e),
        |reach(id, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT eg.t, r.lbl FROM reach r JOIN edges eg ON eg.s = r.id
        |  WHERE r.lbl < eg.t)
        |SELECT id AS doc_id, min(lbl) AS cluster_id
        |FROM reach GROUP BY id""".stripMargin,
    "q_cluster_reps" ->
      s"""WITH RECURSIVE
        |${margined(jaccardEdgeCtes("documents"))},
        |edges AS (SELECT ia AS s, ib AS t FROM e UNION ALL SELECT ib, ia FROM e),
        |reach(id, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT eg.t, r.lbl FROM reach r JOIN edges eg ON eg.s = r.id
        |  WHERE r.lbl < eg.t),
        |c AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
        |qual AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS q FROM documents),
        |j AS (SELECT c.cluster_id, c.doc_id, qual.q,
        |  row_number() OVER (PARTITION BY c.cluster_id ORDER BY qual.q DESC, c.doc_id) AS rn,
        |  CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n_members
        |  FROM c JOIN qual USING (doc_id))
        |SELECT cluster_id, doc_id AS rep_id, q AS rep_quality, n_members
        |FROM j WHERE rn = 1""".stripMargin,
    "q_scalar_funcs" ->
      """SELECT doc_id,
        |  (doc_id * 99991) % 16777216 >> 16 & 255 AS r,
        |  (doc_id * 99991) % 16777216 >> 8 & 255 AS g,
        |  (doc_id * 99991) % 16777216 & 255 AS b,
        |  (doc_id & 16) <> 0 AS bold_flag,
        |  printf('page%03d', doc_id) AS page_tag,
        |  CAST(regexp_extract(source, 'src(\d+)', 1) AS BIGINT) AS source_num
        |FROM documents""".stripMargin,
    "q_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS words
        |           FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
        |      / CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE), 4) AS jaccard
        |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len,
        |  round(CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS stopword_ratio
        |FROM documents""".stripMargin,

    "q_link_graph" ->
      """WITH p AS (
        |  SELECT 'src-' || (doc_id % 13) || '.example.com' AS src_host,
        |    doc_id % 7 AS h7, doc_id % 5 AS h5
        |  FROM documents),
        |e AS (
        |  SELECT src_host, 'host-' || h7 || '.example.com' AS dst_host FROM p
        |  UNION ALL
        |  SELECT src_host, 'cdn-' || h5 || '.example.org' AS dst_host FROM p)
        |SELECT DISTINCT src_host, dst_host FROM e""".stripMargin,

    "q_gopher_rules" -> {
      val bullets = (1 to 10).map(i => s"'- bullet line $i'").mkString(" || chr(10) || ")
      s"""WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || chr(10) || $bullets
        |         WHEN doc_id % 7 = 1 THEN text || chr(10) || 'to be continued...'
        |           || chr(10) || 'and then...' || chr(10) || 'more...'
        |         WHEN doc_id % 7 = 2 THEN '### #### ##### ## # tiny'
        |         WHEN doc_id % 7 = 3 THEN text
        |           || ' and that is to be of interest with more to have'
        |         ELSE text END AS t
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id, t,
        |    list_filter(regexp_split_to_array(t, '\\s+'), w -> length(w) > 0) AS ws,
        |    list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)),
        |      l -> length(l) > 0) AS ls
        |  FROM p),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS n_word_chars,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(string_split(t, '#')) - 1
        |       + len(string_split(t, '...')) - 1 AS BIGINT) AS n_symbols,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '^[-*•]'))) AS BIGINT) AS n_bullet_lines,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '\\.\\.\\.$$'))) AS BIGINT) AS n_ellipsis_lines,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(ws, s))) AS BIGINT) AS n_stopwords
        |  FROM sig)
        |SELECT doc_id, n_words, n_word_chars, n_lines, n_symbols,
        |  n_bullet_lines, n_ellipsis_lines, n_alpha_words, n_stopwords,
        |  (n_words BETWEEN 20 AND 100000
        |   AND 3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words
        |   AND 10 * n_symbols <= n_words
        |   AND 10 * n_bullet_lines <= 9 * n_lines
        |   AND 10 * n_ellipsis_lines <= 3 * n_lines
        |   AND 5 * n_alpha_words >= 4 * n_words
        |   AND n_stopwords >= 2) AS keep
        |FROM c""".stripMargin
    },

    "q_host_cap" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'mega.example.com'
        |         ELSE 'host-' || (doc_id % 101) || '.example.com' END AS host,
        |    n_chars
        |  FROM documents)
        |SELECT host, doc_id, n_chars, rank FROM (
        |  SELECT host, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY n_chars DESC, doc_id ASC) AS rank
        |  FROM d)
        |WHERE rank <= 5""".stripMargin,
  )

  /** NON-RECURSIVE oracle fragments for the large-scale selfcheck
    * (`tools/selfcheck.py --pyfold`): the recursive-CTE oracles
    * (connected components, greedy pack fold) explode in DuckDB past
    * sf0.01, capping the VERIFIED scale even though the engine runs
    * sf0.1 in every bench (VERDICT r5 missing #2). These fragments are
    * the SAME CTE text the recursive oracles embed (shared builders —
    * zero drift); Python re-implements only the two genuinely recursive
    * folds (union-find, greedy bin fold) over them. Keys are
    * `<query>!<fragment>`; fragments referencing `pyreps(doc_id)` expect
    * the caller to register the Python-computed cluster representatives
    * as a DuckDB temp relation of that name. Dumped to
    * `pyfold_sql.json`, never `oracle_sql.json` (the driver must keep
    * consuming only real oracles). */
  def pyfoldSql: Map[String, String] = Map(
    "q_dedup_clusters!docs" -> "SELECT doc_id FROM documents",
    "q_dedup_clusters!edges" ->
      s"""WITH ${margined(jaccardEdgeCtes("documents"))}
         |SELECT ia, ib FROM e""".stripMargin,
    // q_cluster_reps reuses the q_dedup_clusters!docs/!edges fragments for
    // its union-find (same corpus, same edge CTE text); only the quality
    // relation is new.
    "q_cluster_reps!quality" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS q
        |FROM documents""".stripMargin,
    // q_cluster_split reuses q_dedup_clusters!docs/!edges for its
    // union-find; the !out fragment applies the salted-threshold CASE to
    // the Python-computed labels registered as temp relation pyclu.
    "q_cluster_split!out" -> {
      val ts = graft.ops.Splits.splitThresholds(Seq(0.8, 0.1, 0.1))
      s"""WITH h AS (SELECT doc_id, cluster_id,
         |  ${saltedHashSql("csplit", "cluster_id")} AS hu FROM pyclu)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN hu < CAST('${ts(0)}' AS UBIGINT) THEN 'train'
         |       WHEN hu < CAST('${ts(1)}' AS UBIGINT) THEN 'val'
         |       ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin
    },
    "q_pack_bins!prep" ->
      s"""WITH ${margined(packPrepCte("documents"))}
         |SELECT source, doc_id, ntok, shard FROM t0""".stripMargin,
    // The `!scr` fragment is materialized ONCE by selfcheck.py as temp
    // table `pyscr` (the triple-regex scrub dominates fragment wall
    // time; ADVICE r6); the other funnel fragments build on `pyscr`
    // through the SAME component builders the recursive oracle embeds.
    "q_curation_funnel!scr" ->
      s"""WITH ${margined(funnelAll0Ctes)},
         |${margined(funnelScrCte)}
         |SELECT doc_id, source, hits, text FROM scr""".stripMargin,
    "q_curation_funnel!s2rows" ->
      s"""WITH ${margined(funnelPostScrCtes("pyscr"))}
         |SELECT doc_id FROM s2""".stripMargin,
    "q_curation_funnel!edges" ->
      s"""WITH ${margined(funnelPostScrCtes("pyscr"))}
         |SELECT ia, ib FROM e""".stripMargin,
    "q_curation_funnel!stages012" ->
      s"""WITH ${margined(funnelAll0Ctes)},
         |${margined(funnelPostScrCtes("pyscr"))}
         |SELECT 0 AS stage_idx, 'input' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(sum($funnelTokN), 0) AS BIGINT) AS n_tokens FROM all0
         |UNION ALL SELECT 1, 'pii_gate', CAST(count(*) AS BIGINT),
         |  CAST(COALESCE(sum($funnelTokN), 0) AS BIGINT) FROM s1
         |UNION ALL SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
         |  CAST(COALESCE(sum($funnelTokN), 0) AS BIGINT) FROM s2""".stripMargin,
    "q_curation_funnel!stages345" ->
      s"""WITH ${margined(funnelPostScrCtes("pyscr"))},
         |${margined(funnelTailCtes("pyreps", "pyscr"))}
         |SELECT 3 AS stage_idx, 'near_dedup' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(sum($funnelTokN), 0) AS BIGINT) AS n_tokens FROM s3
         |UNION ALL SELECT 4, 'decontaminated', CAST(count(*) AS BIGINT),
         |  CAST(COALESCE(sum($funnelTokN), 0) AS BIGINT) FROM s4
         |UNION ALL SELECT 5, 'train_split', CAST(count(*) AS BIGINT),
         |  CAST(COALESCE(sum($funnelTokN), 0) AS BIGINT) FROM s5""".stripMargin,
    "q_curation_funnel!s5prep" ->
      s"""WITH ${margined(funnelPostScrCtes("pyscr"))},
         |${margined(funnelTailCtes("pyreps", "pyscr"))},
         |${margined(packPrepCte("s5"))}
         |SELECT source, doc_id, ntok, shard FROM t0""".stripMargin,
  )
}
