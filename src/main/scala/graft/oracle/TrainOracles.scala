package graft.oracle

import Fragments._, Plants._, TextOracles._

/** Oracles of the training family: classifier scoring, the linear
  * model's gradient-descent fold, hashed features, distillation and the
  * calibration sweep. */
private[oracle] object TrainOracles {

  /** q_classifier_score oracle: identical hash-derived model (signed
    * mix64∘fnv1a, pmod gate + pmod weight, one division), identical
    * position-ordered mean fold and rounded-sign label. */
  def classifierOracle: String = {
    val sg = signedSql(mix64Sql(s"list_transform([tok], w -> $fnvWordSql)[1]"))
    s"""WITH words AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
       |      x -> length(x) > 0) AS ws FROM documents),
       |st AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |      i -> {'pos': i, 'tok': ws[i]})) AS t FROM words),
       |s2 AS (SELECT doc_id, t.pos AS pos, t.tok AS tok FROM st),
       |vocab AS (SELECT DISTINCT tok FROM s2),
       |hv AS (SELECT tok, $sg AS sg FROM vocab),
       |model AS (SELECT tok,
       |    CAST(((sg % 2001) + 2001) % 2001 - 1000 AS DOUBLE)
       |      / CAST(1024 AS DOUBLE) AS w
       |  FROM hv WHERE ((sg % 5) + 5) % 5 < 3),
       |sc AS (SELECT s2.doc_id, s2.pos, COALESCE(m.w, CAST(0 AS DOUBLE)) AS w,
       |    m.tok IS NOT NULL AS hit
       |  FROM s2 LEFT JOIN model m ON m.tok = s2.tok),
       |agg AS (SELECT doc_id, count(*) AS n,
       |    sum(CASE WHEN hit THEN 1 ELSE 0 END) AS h,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(w ORDER BY pos)),
       |      (a, b) -> a + b) AS wsum
       |  FROM sc GROUP BY 1),
       |out AS (SELECT d.doc_id,
       |    CAST(COALESCE(a.n, 0) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(a.h, 0) AS BIGINT) AS n_hits,
       |    round(CAST(0.01 AS DOUBLE) + COALESCE(a.wsum, CAST(0 AS DOUBLE))
       |      / CAST(greatest(COALESCE(a.n, 0), 1) AS DOUBLE), 4) AS score
       |  FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id))
       |SELECT doc_id, n_tokens, n_hits, score, (score >= 0) AS positive
       |FROM out ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain for q_train_linear / q_distill_score: quality-rule
    * labels, bag-of-words features x = cnt/n_tokens, then BOTH GD
    * iterations unrolled with the identical two-level (doc%16 → doc)
    * ordered gradient folds, per-doc token-ordered prediction folds, and
    * the one fixed update expression w − 0.5·(g/n). Ends at lw2 (tok, w)
    * and lb2 (b). */
  private def trainFoldCtes(labelCond: String = "quality_score >= 0.5"): String =
    trainGdCtes(labelCond,
      s"""lw AS (SELECT doc_id, list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
         |    x -> length(x) > 0) AS ws FROM documents),
         |lc AS (SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(ws) AS tok FROM lw) GROUP BY 1, 2),
         |lnd AS (SELECT doc_id, sum(c) AS nt FROM lc GROUP BY 1),
         |lx AS (SELECT lc.doc_id, lc.tok, CAST(c AS DOUBLE) / CAST(nt AS DOUBLE) AS x
         |  FROM lc JOIN lnd USING (doc_id)),
         |lv AS (SELECT DISTINCT tok FROM lc)""".stripMargin)

  /** The GD unroll parameterized over the FEATURE CTEs (must define
    * `lx(doc_id, tok, x)` and `lv(tok)` — tok of any orderable type):
    * one definition serves the bag-of-words and hashing-trick models. */
  private def trainGdCtes(labelCond: String, featCtes: String): String = {
    def fold(v: String, k: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list($v ORDER BY $k)), (a, b) -> a + b)"
    def gradLevel(i: Int, errCte: String): String =
      s"""lg${i}p AS (SELECT lx.tok, lx.doc_id % 16 AS bk,
         |    ${fold(s"$errCte.e * lx.x", "lx.doc_id")} AS s
         |  FROM lx JOIN $errCte USING (doc_id) GROUP BY 1, 2),
         |lg$i AS (SELECT tok, ${fold("s", "bk")} AS g FROM lg${i}p GROUP BY 1),
         |lgb${i}p AS (SELECT doc_id % 16 AS bk, ${fold("e", "doc_id")} AS s
         |  FROM $errCte GROUP BY 1),
         |lgb$i AS (SELECT ${fold("s", "bk")} AS gb FROM lgb${i}p)""".stripMargin
    s"""lab0 AS (
       |${margined(qualityOracle)}
       |),
       |lab AS (SELECT doc_id, CASE WHEN $labelCond
       |    THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y FROM lab0),
       |${margined(featCtes)},
       |ln AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
       |le1 AS (SELECT doc_id, CAST(0 AS DOUBLE) - y AS e FROM lab),
       |${margined(gradLevel(1, "le1"))},
       |lw1 AS (SELECT lv.tok,
       |    CAST(0 AS DOUBLE) - 0.5 * (COALESCE(lg1.g, CAST(0 AS DOUBLE)) / nd) AS w
       |  FROM lv LEFT JOIN lg1 USING (tok) CROSS JOIN ln),
       |lb1 AS (SELECT CAST(0 AS DOUBLE) - 0.5 * (gb / nd) AS b FROM lgb1 CROSS JOIN ln),
       |lp2 AS (SELECT lx.doc_id, ${fold("lw1.w * lx.x", "lx.tok")} AS ps
       |  FROM lx JOIN lw1 USING (tok) GROUP BY 1),
       |le2 AS (SELECT lab.doc_id,
       |    (lb1.b + COALESCE(lp2.ps, CAST(0 AS DOUBLE))) - lab.y AS e
       |  FROM lab LEFT JOIN lp2 USING (doc_id) CROSS JOIN lb1),
       |${margined(gradLevel(2, "le2"))},
       |lw2 AS (SELECT lw1.tok,
       |    lw1.w - 0.5 * (COALESCE(lg2.g, CAST(0 AS DOUBLE)) / nd) AS w
       |  FROM lw1 LEFT JOIN lg2 USING (tok) CROSS JOIN ln),
       |lb2 AS (SELECT lb1.b - 0.5 * (gb / nd) AS b
       |  FROM lgb2 CROSS JOIN lb1 CROSS JOIN ln)""".stripMargin
  }

  /** q_train_linear oracle: the trained (tok, w) table plus the NULL-tok
    * bias row, both GD steps replayed exactly. */
  def trainLinearOracle: String =
    s"""WITH ${margined(trainFoldCtes())}
       |SELECT tok, round(w, 6) AS w FROM lw2
       |UNION ALL
       |SELECT CAST(NULL AS VARCHAR) AS tok, round(b, 6) AS w FROM lb2""".stripMargin

  /** Feature CTEs for the hashing-trick GD: q_feature_hash's dims and
    * signed weights (same bits), normalized by the doc's ' '-split token
    * count — lx keys are BIGINT dims, the same fold contract. */
  private def hashFeatCtes: String =
    s"""lw AS (SELECT doc_id, list_filter(string_split(text, ' '),
       |    x -> length(x) > 0) AS ws FROM documents),
       |lh AS (SELECT doc_id, ${mix64Sql(fnvWordSql)} AS h
       |  FROM (SELECT doc_id, unnest(ws) AS w FROM lw)),
       |lfe AS (SELECT doc_id, CAST(h & CAST(1023 AS UBIGINT) AS BIGINT) AS tok,
       |    CAST(sum(CASE WHEN ((h >> 62) & CAST(1 AS UBIGINT)) = 1
       |      THEN 1 ELSE -1 END) AS BIGINT) AS wt
       |  FROM lh GROUP BY 1, 2),
       |lnt AS (SELECT doc_id, len(ws) AS nt FROM lw),
       |lx AS (SELECT lfe.doc_id, lfe.tok, CAST(wt AS DOUBLE) / CAST(nt AS DOUBLE) AS x
       |  FROM lfe JOIN lnt USING (doc_id)),
       |lv AS (SELECT DISTINCT tok FROM lfe)""".stripMargin

  /** q_hash_train oracle: the SAME GD unroll over hashed-dim features. */
  def hashTrainOracle: String =
    s"""WITH ${margined(trainGdCtes("quality_score >= 0.5", hashFeatCtes))}
       |SELECT tok AS dim, round(w, 6) AS w FROM lw2
       |UNION ALL
       |SELECT CAST(NULL AS BIGINT) AS dim, round(b, 6) AS w FROM lb2""".stripMargin

  /** Shared train→deploy chain: [[trainFoldCtes]] + the classifierOracle
    * fold shape (position-ordered weight mean) evaluated under the
    * TRAINED model — ends at `cout(doc_id, n_tokens, n_hits, score)`.
    * ONE definition shared by q_distill_score and q_classifier_eval. */
  private def distillChainCtes(labelCond: String = "quality_score >= 0.5"): String =
    s"""${margined(trainFoldCtes(labelCond))},
       |cst AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |    i -> {'pos': i, 'tok': ws[i]})) AS t FROM lw),
       |cs2 AS (SELECT doc_id, t.pos AS pos, t.tok AS tok FROM cst),
       |csc AS (SELECT cs2.doc_id, cs2.pos, COALESCE(m.w, CAST(0 AS DOUBLE)) AS w,
       |    m.tok IS NOT NULL AS hit
       |  FROM cs2 LEFT JOIN lw2 m ON m.tok = cs2.tok),
       |cagg AS (SELECT doc_id, count(*) AS n,
       |    sum(CASE WHEN hit THEN 1 ELSE 0 END) AS h,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(w ORDER BY pos)),
       |      (a, b) -> a + b) AS wsum
       |  FROM csc GROUP BY 1),
       |cout AS (SELECT d.doc_id,
       |    CAST(COALESCE(a.n, 0) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(a.h, 0) AS BIGINT) AS n_hits,
       |    round(lb2.b + COALESCE(a.wsum, CAST(0 AS DOUBLE))
       |      / CAST(greatest(COALESCE(a.n, 0), 1) AS DOUBLE), 4) AS score
       |  FROM (SELECT doc_id FROM documents) d
       |  LEFT JOIN cagg a USING (doc_id) CROSS JOIN lb2)""".stripMargin

  /** q_distill_score oracle: the shared chain's scored table. */
  def distillScoreOracle: String =
    s"""WITH ${margined(distillChainCtes())}
       |SELECT doc_id, n_tokens, n_hits, score, (score >= 0) AS positive
       |FROM cout ORDER BY doc_id""".stripMargin

  /** q_classifier_eval oracle: the shared train→deploy chain swept over
    * fixed dyadic thresholds against the SAME quality-rule labels the
    * model was trained on — counts are order-independent BIGINTs, the
    * compare runs on the 4-decimal ROUNDED score both engines verified
    * identical, and precision/recall are single guarded divisions. */
  def classifierEvalOracle: String = {
    val vals = EvalThresholds.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
    s"""WITH ${margined(distillChainCtes("quality_score >= 1.0"))},
       |ej AS (SELECT c.score, l.y FROM cout c JOIN lab l USING (doc_id)),
       |ec AS (SELECT t.thr AS threshold,
       |    CAST(sum(CASE WHEN score >= t.thr AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN score >= t.thr AND y <> 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN score < t.thr AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(sum(CASE WHEN score < t.thr AND y <> 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM ej CROSS JOIN (VALUES $vals) t(thr) GROUP BY 1)
       |SELECT threshold, tp, fp, fn, tn,
       |  round(CAST(tp AS DOUBLE) / CAST(greatest(tp + fp, 1) AS DOUBLE), 4) AS precision,
       |  round(CAST(tp AS DOUBLE) / CAST(greatest(tp + fn, 1) AS DOUBLE), 4) AS recall
       |FROM ec ORDER BY threshold""".stripMargin
  }
}
