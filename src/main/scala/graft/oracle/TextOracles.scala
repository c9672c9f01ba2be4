package graft.oracle

import Fragments._, Plants._

/** Oracles of text quality, language models and BPE: quality rules,
  * repetition, PII scrub, n-gram LMs, language id, the BPE fold. */
private[oracle] object TextOracles {

  /** q_pii_scrub oracle: identical planted-PII construction, identical
    * RE2-safe patterns, global regexp_replace. */
  def piiScrubOracle: String = {
    // the ops.Scrub patterns verbatim (single definition; both engines
    // receive the identical regex — DuckDB string literals don't process
    // backslashes, so interpolation is 1:1)
    val email = graft.ops.Scrub.EmailRe
    val ipv4 = graft.ops.Scrub.Ipv4Re
    val phone = graft.ops.Scrub.PhoneRe
    s"""WITH p AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com at 10.0.'
       |      || (doc_id % 256) || '.7 or +1-555-'
       |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
       |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |      || (CASE WHEN doc_id % 5 = 0 THEN ' second.contact@test.org' ELSE '' END)
       |      AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$ipv4')) AS BIGINT) AS n_ipv4,
       |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(t,
       |    '$email', '<EMAIL>', 'g'),
       |    '$ipv4', '<IP>', 'g'),
       |    '$phone', '<PHONE>', 'g') AS clean_text
       |FROM p""".stripMargin
  }

  def repetitionOracle: String = repetitionOracleFrom("documents")

  /** Repetition statement over an arbitrary (doc_id, text) relation. */
  private def repetitionOracleFrom(src: String): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
       |wc AS (SELECT doc_id, w, count(*) AS c
       |       FROM (SELECT doc_id, unnest(ws) AS w FROM d) GROUP BY 1, 2),
       |wagg AS (SELECT doc_id, sum(c) AS nw, count(*) AS nd, max(c) AS topw
       |         FROM wc GROUP BY 1),
       |bg AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS b
       |       FROM d WHERE len(ws) >= 2),
       |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
       |bagg AS (SELECT doc_id, max(c) AS topb, sum(c) AS nbi FROM bc GROUP BY 1)
       |SELECT w.doc_id,
       |  CAST(w.nw AS BIGINT) AS n_words,
       |  CAST(w.nd AS BIGINT) AS n_distinct_words,
       |  round(1 - CAST(w.nd AS DOUBLE) / CAST(w.nw AS DOUBLE), 4) AS dup_word_frac,
       |  round(CAST(w.topw AS DOUBLE) / CAST(w.nw AS DOUBLE), 4) AS top_word_frac,
       |  round(CAST(COALESCE(b2.topb, 0) AS DOUBLE)
       |    / CAST(greatest(COALESCE(b2.nbi, 0), 1) AS DOUBLE), 4) AS top_bigram_frac,
       |  (round(1 - CAST(w.nd AS DOUBLE) / CAST(w.nw AS DOUBLE), 4) > 0.7
       |   OR round(CAST(COALESCE(b2.topb, 0) AS DOUBLE)
       |        / CAST(greatest(COALESCE(b2.nbi, 0), 1) AS DOUBLE), 4) > 0.18) AS repetitive
       |FROM wagg w LEFT JOIN bagg b2 USING (doc_id)""".stripMargin

  /** q_normalize oracle: identical messy construction (chr() for the
    * control/tab/newline bytes), identical RE2-safe patterns. Both
    * engines' `$` semantics agree here because clean_text carries no
    * newlines (all collapsed) and the line counter spells `\n` explicitly. */
  def normalizeOracle: String = {
    val ctrl = graft.ops.Normalize.ControlRe
    val ws = graft.ops.Normalize.WsRunRe
    val edge = graft.ops.Normalize.EdgeWsRe
    val sent = graft.ops.Normalize.SentenceEndRe
    val line = graft.ops.Normalize.ContentLineRe
    s"""WITH m AS (
       |  SELECT doc_id,
       |    '  ' || chr(9) || 'pad ' || text || chr(10) || 'second  line'
       |      || chr(7) || ' here. Done! Ok? ' || chr(10) || chr(10)
       |      || chr(9) || 'tail' || chr(1) || '  ' AS t
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, t,
       |    regexp_replace(regexp_replace(regexp_replace(t,
       |      '$ctrl', '', 'g'),
       |      '$ws', ' ', 'g'),
       |      '$edge', '', 'g') AS clean_text
       |  FROM m)
       |SELECT doc_id, clean_text,
       |  CAST(len(regexp_extract_all(t, '$line')) AS BIGINT) AS n_lines,
       |  CAST(len(regexp_extract_all(clean_text, '$sent')) AS BIGINT) AS n_sentences
       |FROM c""".stripMargin
  }

  /** q_lm_fluency oracle: the same Laplace-smoothed bigram model with the
    * same log-free arithmetic — each P is one exact division of
    * integer-valued doubles, and the per-doc mean folds positions in
    * ascending order on BOTH engines (list_reduce over a pos-ordered
    * list vs Spark's sorted aggregate), so the doubles match bit-for-bit
    * with no float-sum order ambiguity. */
  def lmFluencyOracle: String =
    s"""WITH words AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
       |    x -> length(x) > 0) AS ws
       |  FROM documents),
       |toks AS (SELECT doc_id, unnest(ws) AS tok FROM words),
       |uni AS (SELECT tok, count(*) AS u FROM toks GROUP BY 1),
       |v AS (SELECT count(*) AS vocab FROM uni),
       |bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |    i -> {'pos': i, 'prev': ws[i], 'cur': ws[i+1]})) AS pc
       |  FROM words WHERE len(ws) >= 2),
       |bi2 AS (SELECT doc_id, pc.pos AS pos, pc.prev AS prev, pc.cur AS cur FROM bi),
       |big AS (SELECT prev, cur, count(*) AS b FROM bi2 GROUP BY 1, 2),
       |sc AS (SELECT bi2.doc_id, bi2.pos,
       |    CAST(big.b + 1 AS DOUBLE) / CAST(uni.u + v.vocab AS DOUBLE) AS p,
       |    CASE WHEN big.b >= 2 THEN 1 ELSE 0 END AS hit
       |  FROM bi2 JOIN big USING (prev, cur) JOIN uni ON uni.tok = bi2.prev, v),
       |agg AS (SELECT doc_id, count(*) AS nb, sum(hit) AS hits,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY pos)),
       |      (a, b) -> a + b) AS psum
       |  FROM sc GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.nb, 0) AS BIGINT) AS n_bigrams,
       |  round(CAST(COALESCE(a.hits, 0) AS DOUBLE)
       |    / CAST(greatest(COALESCE(a.nb, 0), 1) AS DOUBLE), 4) AS hit_rate,
       |  round(COALESCE(a.psum, 0)
       |    / CAST(greatest(COALESCE(a.nb, 0), 1) AS DOUBLE), 4) AS avg_p
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** q_lm_trigram oracle: the order-3 instance of the same log-free
    * contract — contexts are 2-token windows counted over ALL their
    * positions, P = (C_3 + 1)/(C_2 + V) one exact division each, per-doc
    * mean via the position-ordered fold. */
  def lmTrigramOracle: String =
    s"""WITH words AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
       |    x -> length(x) > 0) AS ws
       |  FROM documents),
       |toks AS (SELECT unnest(ws) AS tok FROM words),
       |v AS (SELECT count(DISTINCT tok) AS vocab FROM toks),
       |ctxs AS (SELECT unnest(list_transform(range(1, len(ws)),
       |    i -> ws[i] || ' ' || ws[i+1])) AS ctx
       |  FROM words WHERE len(ws) >= 2),
       |cc AS (SELECT ctx, count(*) AS u FROM ctxs GROUP BY 1),
       |g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
       |    i -> {'pos': i, 'ctx': ws[i] || ' ' || ws[i+1], 'cur': ws[i+2]})) AS t
       |  FROM words WHERE len(ws) >= 3),
       |g AS (SELECT doc_id, t.pos AS pos, t.ctx AS ctx, t.cur AS cur FROM g0),
       |gc AS (SELECT ctx, cur, count(*) AS b FROM g GROUP BY 1, 2),
       |sc AS (SELECT g.doc_id, g.pos,
       |    CAST(gc.b + 1 AS DOUBLE) / CAST(cc.u + v.vocab AS DOUBLE) AS p,
       |    CASE WHEN gc.b >= 2 THEN 1 ELSE 0 END AS hit
       |  FROM g JOIN gc USING (ctx, cur) JOIN cc USING (ctx), v),
       |agg AS (SELECT doc_id, count(*) AS nb, sum(hit) AS hits,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY pos)),
       |      (a, b) -> a + b) AS psum
       |  FROM sc GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.nb, 0) AS BIGINT) AS n_ngrams,
       |  round(CAST(COALESCE(a.hits, 0) AS DOUBLE)
       |    / CAST(greatest(COALESCE(a.nb, 0), 1) AS DOUBLE), 4) AS hit_rate,
       |  round(COALESCE(a.psum, 0)
       |    / CAST(greatest(COALESCE(a.nb, 0), 1) AS DOUBLE), 4) AS avg_p
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** q_quality oracle: identical ratio arithmetic and band constants as
    * TextAnalysis.qualityScore — also the scoring CTE of q_token_budget
    * (ONE definition for both). */
  def qualityOracle: String = qualityOracleFrom("documents")

  /** The quality-rule statement over an arbitrary (doc_id, text) source
    * relation — q_doc_tiers scores a PLANTED corpus with it. */
  private def qualityOracleFrom(src: String): String =
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM $src),
      |f AS (SELECT doc_id,
      |   CAST(len(toks) AS DOUBLE) AS ntok,
      |   CAST(length(text) AS DOUBLE) / len(toks) AS meanlen,
      |   CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is','that','for','it'))) AS DOUBLE)
      |     / len(toks) AS stopr,
      |   CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |     / greatest(CAST(length(text) AS DOUBLE), 1.0) AS alphar
      | FROM t)
      |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
      |  round(meanlen, 4) AS mean_word_len,
      |  round(stopr, 4) AS stopword_ratio,
      |  round(alphar, 4) AS alpha_ratio,
      |  round(CAST((CASE WHEN ntok BETWEEN 5 AND 100000 THEN 0.25 ELSE 0.0 END)
      |      + (CASE WHEN meanlen BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END)
      |      + (CASE WHEN stopr > 0.0 THEN 0.25 ELSE 0.0 END)
      |      + (CASE WHEN alphar > 0.5 THEN 0.25 ELSE 0.0 END) AS DOUBLE), 2) AS quality_score
      |FROM f""".stripMargin

  /** The BPE fold as CTE text over `src(doc_id, text)`: each DISTINCT
    * word folds ONCE through a recursive CTE (the oracle's analogue of
    * the engine's per-task word memo) — state = space-delimited token
    * string; each step applies the lowest-rank applicable merge to its
    * LEFTMOST occurrence via strpos/substr surgery (single occurrence —
    * replace-all would mis-handle overlapping occurrences that share a
    * delimiter space); NOT EXISTS picks the lowest rank without an
    * aggregate in the recursive term. Terminal states (no applicable
    * merge) are exactly the fold results. Binds bmg/bdw/bst/bfw/bwords. */
  private def bpeFoldCtes(src: String): String = {
    val vals = BpeMerges.map { case (rk, l, r) => s"($rk,'$l','$r')" }.mkString(",")
    s"""bmg(rank, l, r) AS (VALUES $vals),
       |bdw AS (SELECT DISTINCT w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM $src)
       |  WHERE length(w) > 0),
       |bst AS (
       |  SELECT w, ' ' || array_to_string(list_transform(range(1, length(w)+1), i -> w[i]), ' ') || ' ' AS st
       |  FROM bdw
       |  UNION ALL
       |  SELECT w, st[1:strpos(st, pat)-1] || rep || st[strpos(st, pat)+length(pat):] AS st
       |  FROM (
       |    SELECT r0.w, r0.st,
       |      ' ' || m.l || ' ' || m.r || ' ' AS pat,
       |      ' ' || m.l || m.r || ' ' AS rep
       |    FROM bst r0 JOIN bmg m ON contains(r0.st, ' ' || m.l || ' ' || m.r || ' ')
       |    WHERE NOT EXISTS (SELECT 1 FROM bmg m2 WHERE m2.rank < m.rank
       |                      AND contains(r0.st, ' ' || m2.l || ' ' || m2.r || ' ')))),
       |bfw AS (
       |  SELECT w, string_split(trim(st), ' ') AS toks FROM bst r0
       |  WHERE NOT EXISTS (SELECT 1 FROM bmg m
       |                    WHERE contains(r0.st, ' ' || m.l || ' ' || m.r || ' '))),
       |bwords AS (SELECT doc_id, t.wi AS widx, t.w AS w FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws)+1), i -> {'wi': i, 'w': ws[i]})) AS t
       |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $src))
       |  WHERE length(w) > 0)""".stripMargin
  }

  /** q_bpe_tokens oracle: per-word folds joined back to positional word
    * instances; vocab ids = code point for single chars, 256 + min merge
    * rank otherwise. */
  def bpeTokensOracle: String =
    s"""WITH RECURSIVE ${margined(bpeFoldCtes("documents"))},
       |btok AS (SELECT doc_id, widx, p.pos AS pos, p.tok AS tok FROM (
       |    SELECT w2.doc_id, w2.widx,
       |      unnest(list_transform(range(1, len(f.toks)+1), j -> {'pos': j, 'tok': f.toks[j]})) AS p
       |    FROM bwords w2 JOIN bfw f USING (w))),
       |bvid AS (SELECT l || r AS tk, min(rank) AS minr FROM bmg GROUP BY 1)
       |SELECT b.doc_id, CAST(b.widx AS BIGINT) AS widx, CAST(b.pos AS BIGINT) AS pos,
       |  b.tok AS token,
       |  CAST(CASE WHEN length(b.tok) = 1 THEN ascii(b.tok) ELSE 256 + v.minr END AS BIGINT) AS token_id
       |FROM btok b LEFT JOIN bvid v ON v.tk = b.tok""".stripMargin

  /** q_bpe_budget oracle: the quality CTE verbatim + per-doc SUBWORD
    * counts off the shared BPE fold, then the single-window running sum
    * gated at the budget (the q_token_budget shape over real token
    * units). */
  def bpeBudgetOracle: String =
    s"""WITH RECURSIVE ${margined(bpeFoldCtes("documents"))},
       |bq AS (
       |${margined(qualityOracle)}
       |),
       |bc AS (SELECT w2.doc_id, CAST(sum(len(f.toks)) AS BIGINT) AS nb
       |       FROM bwords w2 JOIN bfw f USING (w) GROUP BY 1),
       |bj AS (SELECT bq.doc_id, bq.quality_score,
       |         COALESCE(bc.nb, 0) AS n_bpe_tokens
       |       FROM bq LEFT JOIN bc USING (doc_id)),
       |bcum AS (SELECT doc_id, n_bpe_tokens,
       |    CAST(sum(n_bpe_tokens) OVER (ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM bj)
       |SELECT doc_id, CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens, cum_tokens
       |FROM bcum WHERE cum_tokens <= 20000""".stripMargin

  /** q_bpe_train oracle: the training loop UNROLLED — level k folds the
    * distinct (word, freq) vocabulary through the recursive merge CTE
    * under the merges ADOPTED at levels < k (tmg_k = union of the
    * previous levels' argmax rows), recounts frequency-weighted adjacent
    * pairs over every position, and re-runs the (cnt DESC, l, r)
    * argmax — tokenizer training verified against an independent engine. */
  def bpeTrainOracle: String = {
    val K = 4
    def level(k: Int): String = {
      val mg =
        if (k == 0)
          s"tmg_0(rank, l, r) AS (SELECT CAST(NULL AS INT), '', '' WHERE 1=0)"
        else
          s"tmg_$k(rank, l, r) AS (" + (0 until k)
            .map(j => s"SELECT $j AS rank, l, r FROM ta_$j")
            .mkString(" UNION ALL ") + ")"
      s"""$mg,
         |tst_$k AS (
         |  SELECT w, freq, ' ' || array_to_string(list_transform(range(1, length(w)+1), i -> w[i]), ' ') || ' ' AS st
         |  FROM twf
         |  UNION ALL
         |  SELECT w, freq, st[1:strpos(st, pat)-1] || rep || st[strpos(st, pat)+length(pat):] AS st
         |  FROM (
         |    SELECT r0.w, r0.freq, r0.st,
         |      ' ' || m.l || ' ' || m.r || ' ' AS pat,
         |      ' ' || m.l || m.r || ' ' AS rep
         |    FROM tst_$k r0 JOIN tmg_$k m ON contains(r0.st, ' ' || m.l || ' ' || m.r || ' ')
         |    WHERE NOT EXISTS (SELECT 1 FROM tmg_$k m2 WHERE m2.rank < m.rank
         |                      AND contains(r0.st, ' ' || m2.l || ' ' || m2.r || ' ')))),
         |tfw_$k AS (
         |  SELECT w, freq, string_split(trim(st), ' ') AS toks FROM tst_$k r0
         |  WHERE NOT EXISTS (SELECT 1 FROM tmg_$k m
         |                    WHERE contains(r0.st, ' ' || m.l || ' ' || m.r || ' '))),
         |tpp_$k AS (
         |  SELECT freq, unnest(list_transform(range(1, len(toks)),
         |      i -> {'pl': toks[i], 'pr': toks[i+1]})) AS p
         |  FROM tfw_$k),
         |tpc_$k AS (SELECT p.pl AS l, p.pr AS r, sum(freq) AS cnt
         |  FROM tpp_$k GROUP BY 1, 2),
         |ta_$k AS (SELECT l, r, cnt FROM tpc_$k ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin
    }
    val levels = (0 until K).map(level).mkString(",\n")
    val union = (0 until K)
      .map(k => s"SELECT $k AS rank, l, r, cnt FROM ta_$k")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE twi AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |twf AS (SELECT w, count(*) AS freq FROM twi WHERE length(w) > 0 GROUP BY 1),
       |$levels
       |SELECT CAST(rank AS BIGINT) AS rank, l, r, CAST(cnt AS BIGINT) AS cnt
       |FROM ($union) ORDER BY rank""".stripMargin
  }

  /** q_langid oracle: the stopword-overlap argmax with the cascaded-CASE
    * tie-break (language codes in alphabetical order) — ONE definition
    * shared by q_langid and q_lang_tier's language CTE. */
  def langIdOracle: String =
    """WITH t AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks FROM documents),
      |s AS (SELECT doc_id,
      |  len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','für','auf'])) AS de,
      |  len(list_intersect(toks, ['the','a','of','and','to','in','is','that','for','it'])) AS en,
      |  len(list_intersect(toks, ['el','la','los','y','es','un','una','para','en','que'])) AS es,
      |  len(list_intersect(toks, ['le','la','les','et','est','un','une','pour','dans','que'])) AS fr
      | FROM t)
      |SELECT doc_id,
      |  CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
      |       WHEN de >= en AND de >= es AND de >= fr THEN 'de'
      |       WHEN en >= es AND en >= fr THEN 'en'
      |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred_lang,
      |  CAST(greatest(de, en, es, fr) AS BIGINT) AS lang_hits
      |FROM s""".stripMargin

  /** q_quantile_gate oracle: the quality CTE joined to sources, the
    * single-window rank form the engine's global-rank-minus-group-min
    * construction must match, and the BIGINT cross-multiplied keep test
    * ((rig+1)·4 ≤ n·1 ⇔ top quarter). */
  def quantileGateOracle: String =
    s"""WITH qg0 AS (
       |${margined(qualityOracle)}
       |),
       |qj AS (SELECT d.doc_id, d.source, q.quality_score
       |  FROM documents d JOIN qg0 q USING (doc_id)),
       |qr AS (SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY quality_score DESC, doc_id) - 1 AS BIGINT) AS rig,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM qj)
       |SELECT doc_id, source, rig AS rank_in_group, n AS n_group,
       |  ((rig + 1) * 4 <= n * 1) AS kept
       |FROM qr ORDER BY doc_id""".stripMargin

  /** q_lang_tier oracle: language argmax CTE × quality CTE, the same
    * per-language window rank, top-half cross-multiplied keep, and the
    * exact quarters-integer mean per (language, kept) tier. */
  def langTierOracle: String =
    s"""WITH lt0 AS (
       |${margined(langIdOracle)}
       |),
       |ltq AS (
       |${margined(qualityOracle)}
       |),
       |ltj AS (SELECT l.doc_id, l.pred_lang, q.quality_score
       |  FROM lt0 l JOIN ltq q USING (doc_id)),
       |ltr AS (SELECT doc_id, pred_lang, quality_score,
       |    CAST(row_number() OVER (PARTITION BY pred_lang
       |      ORDER BY quality_score DESC, doc_id) - 1 AS BIGINT) AS rig,
       |    CAST(count(*) OVER (PARTITION BY pred_lang) AS BIGINT) AS n
       |  FROM ltj)
       |SELECT pred_lang, ((rig + 1) * 2 <= n * 1) AS kept,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  round(CAST(sum(CAST(quality_score * 4 AS BIGINT)) AS DOUBLE)
       |    / CAST(count(*) * 4 AS DOUBLE), 4) AS mean_quality
       |FROM ltr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_doc_tiers oracle: the SAME tier plant (low-quality variants +
    * exact-dup re-crawls), then quality + repetition + text-keyed dup
    * CTEs composed into the tier CASE (same precedence: dup beats
    * repetition beats quality bands), rolled up per (source, tier). */
  def docTiersOracle: String =
    s"""WITH dtp AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 17 = 3 THEN 'a 1 2 3 4 5'
       |         WHEN doc_id % 17 = 5 THEN '### ### ###'
       |         ELSE text END AS text
       |  FROM documents),
       |dta AS (SELECT doc_id, source, text FROM dtp
       |  UNION ALL
       |  SELECT doc_id + 5000000, source, text FROM dtp WHERE doc_id % 23 = 1),
       |q AS (
       |${margined(qualityOracleFrom("dta"))}
       |),
       |r AS (
       |${margined(repetitionOracleFrom("dta"))}
       |),
       |tc AS (SELECT text, count(*) AS dc FROM dta GROUP BY 1),
       |per AS (SELECT d.source, q.n_tokens,
       |    CASE WHEN tc.dc >= 2 THEN 'cull_dup'
       |         WHEN r.repetitive THEN 'cull_rep'
       |         WHEN q.quality_score >= 0.75 THEN 'head'
       |         WHEN q.quality_score >= 0.5 THEN 'middle'
       |         ELSE 'tail' END AS tier
       |  FROM dta d JOIN q USING (doc_id) JOIN r USING (doc_id)
       |  JOIN tc USING (text))
       |SELECT source, tier, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |FROM per GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_bpe_compression oracle: the shared BPE fold (each distinct word
    * folds once), per-doc subword counts joined back, per-source exact
    * integer sums and two final divisions. */
  def bpeCompressionOracle: String =
    s"""WITH RECURSIVE ${margined(bpeFoldCtes("documents"))},
       |bc AS (SELECT w2.doc_id, CAST(sum(len(f.toks)) AS BIGINT) AS nb
       |       FROM bwords w2 JOIN bfw f USING (w) GROUP BY 1),
       |bd AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS nc,
       |    CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT) AS nw
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nc) AS BIGINT) AS n_chars,
       |  CAST(sum(nw) AS BIGINT) AS n_words,
       |  CAST(sum(COALESCE(bc.nb, 0)) AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(sum(nc) AS DOUBLE)
       |    / CAST(greatest(sum(COALESCE(bc.nb, 0)), 1) AS DOUBLE), 4) AS chars_per_token,
       |  round(CAST(sum(COALESCE(bc.nb, 0)) AS DOUBLE)
       |    / CAST(greatest(sum(nw), 1) AS DOUBLE), 4) AS tokens_per_word
       |FROM bd LEFT JOIN bc USING (doc_id) GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_ppl_buckets oracle: the LM fluency CTE verbatim, ranked best
    * first (avg_p DESC, doc_id tiebreak), bucket = rank·3 div n — the
    * single-window form of the distributed rank. */
  def pplBucketsOracle: String =
    s"""WITH lmr AS (
       |${margined(lmFluencyOracle)}
       |),
       |r AS (SELECT doc_id, avg_p,
       |    row_number() OVER (ORDER BY avg_p DESC, doc_id) - 1 AS rnk FROM lmr),
       |n AS (SELECT count(*) AS n FROM r)
       |SELECT doc_id, avg_p, CAST(rnk AS BIGINT) AS rnk,
       |  CASE rnk * 3 // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM r, n""".stripMargin

  /** q_dsir_score oracle: identical unigram models and smoothing —
    * r = (T+1)/(R+V) one exact division per token, per-doc mean via the
    * position-ordered fold (the LM-fluency float discipline). */
  def dsirOracle: String =
    s"""WITH words AS (
       |  SELECT doc_id, source,
       |    list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
       |      x -> length(x) > 0) AS ws
       |  FROM documents),
       |st AS (SELECT doc_id, source IN ('src0', 'src1') AS tgt,
       |    unnest(list_transform(range(1, len(ws) + 1),
       |      i -> {'pos': i, 'tok': ws[i]})) AS t
       |  FROM words),
       |s2 AS (SELECT doc_id, tgt, t.pos AS pos, t.tok AS tok FROM st),
       |tc AS (SELECT tok, count(*) AS tc FROM s2 WHERE tgt GROUP BY 1),
       |rc AS (SELECT tok, count(*) AS rc FROM s2 WHERE NOT tgt GROUP BY 1),
       |v AS (SELECT count(DISTINCT tok) AS vocab FROM s2),
       |sc AS (SELECT s2.doc_id, s2.pos,
       |    CAST(COALESCE(tc.tc, 0) + 1 AS DOUBLE)
       |      / CAST(COALESCE(rc.rc, 0) + v.vocab AS DOUBLE) AS r
       |  FROM s2 LEFT JOIN tc USING (tok) LEFT JOIN rc USING (tok), v),
       |agg AS (SELECT doc_id, count(*) AS n,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(r ORDER BY pos)),
       |      (a, b) -> a + b) AS rsum
       |  FROM sc GROUP BY 1)
       |SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_tokens,
       |  round(COALESCE(a.rsum, 0)
       |    / CAST(greatest(COALESCE(a.n, 0), 1) AS DOUBLE), 4) AS imp_score
       |FROM (SELECT doc_id FROM documents) d
       |LEFT JOIN agg a USING (doc_id)""".stripMargin
}
