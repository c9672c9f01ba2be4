package graft.oracle

import Fragments._, Plants._

/** Oracles of the vector family: exact and LSH/IVF/PQ top-k, cosine
  * near-dups, k-means cells and semantic dedup. */
private[oracle] object VectorOracles {

  /** The 8 hyperplanes of the LSH bucket signature as DuckDB VALUES rows —
    * pure deterministic constants (Similarity.hyperplane), so the oracle
    * replicates the bucketing EXACTLY: candidates = pairs at Hamming ≤ 1
    * (xor(qb,cb) & (xor(qb,cb)-1) = 0 covers the multi-probe), then the
    * same rounded-cosine rank as q_ann_topk. Double literals print in
    * shortest-roundtrip form and parse back to the identical bits. */
  def annLshOracle: String = {
    val planes = (0 until 8).map { p =>
      val w = graft.ops.Similarity.hyperplane(p, 64)
      s"($p, [${w.map(_.toString).mkString(",")}]::DOUBLE[])"
    }.mkString(",\n")
    s"""WITH pl(p, w) AS (VALUES $planes),
       |d AS (SELECT vec_id, p, sum(CAST(embedding[i] AS DOUBLE) * w[i]) AS dot
       |      FROM embeddings, pl, generate_series(1, 64) t(i)
       |      GROUP BY vec_id, p),
       |b AS (SELECT vec_id, sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
       |      FROM d GROUP BY vec_id),
       |q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, b.bucket AS qb
       |      FROM embeddings e JOIN b ON e.vec_id = b.vec_id WHERE e.vec_id < 20),
       |c AS (SELECT e.vec_id AS neighbor_id, e.embedding AS cv, b.bucket AS cb
       |      FROM embeddings e JOIN b ON e.vec_id = b.vec_id),
       |cand AS (SELECT query_id, neighbor_id, qv, cv FROM q JOIN c
       |         ON query_id <> neighbor_id
       |         AND ((xor(qb, cb) & (xor(qb, cb) - 1)) = 0)),
       |s AS (SELECT query_id, neighbor_id,
       |        round(sum(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))
       |          / (sqrt(sum(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
       |           * sqrt(sum(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))), 4) AS cos
       |      FROM cand, generate_series(1, 64) t(i)
       |      GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |      FROM s)
       |SELECT query_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rank
       |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
  }

  /** q_cosine_neardup oracle: rebuild the planted perturbed vectors
    * (exact dyadic perturbation — bit-identical across engines by
    * construction), replicate the 6-bit hyperplane buckets,
    * take Hamming ≤ 1 pairs, verify rounded cosine ≥ 0.95. */
  def cosineNearDupOracle: String = {
    val planes = (0 until 6).map { p =>
      val w = graft.ops.Similarity.hyperplane(p, 64)
      s"($p, [${w.map(_.toString).mkString(",")}]::DOUBLE[])"
    }.mkString(",\n")
    s"""WITH pl(p, w) AS (VALUES $planes),
       |planted AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list($echoPerturbSql ORDER BY i) AS embedding
       |  FROM embeddings, generate_series(1, 64) t(i)
       |  WHERE vec_id % 10 = 0
       |  GROUP BY vec_id),
       |e AS (SELECT vec_id, embedding FROM embeddings
       |      UNION ALL SELECT vec_id, embedding FROM planted),
       |d AS (SELECT vec_id, p, sum(CAST(embedding[i] AS DOUBLE) * w[i]) AS dot
       |      FROM e, pl, generate_series(1, 64) t(i)
       |      GROUP BY vec_id, p),
       |b AS (SELECT vec_id, sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
       |      FROM d GROUP BY vec_id),
       |v AS (SELECT e.vec_id, e.embedding, b.bucket FROM e JOIN b ON e.vec_id = b.vec_id),
       |cand AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       |                a.embedding AS va, b2.embedding AS vb
       |         FROM v a JOIN v b2
       |         ON a.vec_id < b2.vec_id
       |         AND ((xor(a.bucket, b2.bucket) & (xor(a.bucket, b2.bucket) - 1)) = 0)),
       |s AS (SELECT id_a, id_b,
       |        round(sum(CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))
       |          / (sqrt(sum(CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE)))
       |           * sqrt(sum(CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))), 4) AS cos
       |      FROM cand, generate_series(1, 64) t(i)
       |      GROUP BY id_a, id_b)
       |SELECT id_a, id_b, cos FROM s WHERE cos >= 0.95 ORDER BY id_a, id_b""".stripMargin
  }

  /** q_ann_ivf oracle: replicates the ENTIRE deterministic coarse
    * quantizer in SQL — seeds = first 16 vectors by id, one Lloyd step
    * over the first 512 (centroid sums via list_sum over a vec_id-ordered
    * list, matching the Scala trainer's summation order IEEE-exactly;
    * empty cells fall back to their seed) — then cell assignment
    * (cos DESC, cell ASC ties like the stable array_sort), 2-cell probe,
    * dedup, and the same rounded-cosine top-5 rank as q_ann_topk. */
  def annIvfOracle: String = annIvfOracleFor("embeddings")

  /** The IVF statement parameterized over the centroid TRAINING relation
    * — q_ann_ivf trains on the full table; q_vector_store trains on the
    * store's FIRST increment (even vec_ids) and must return the same
    * probe results as this recompute under those pinned centroids. */
  def annIvfOracleFor(trainSrc: String): String =
    s"""WITH samp AS (SELECT vec_id, embedding FROM $trainSrc ORDER BY vec_id LIMIT 512),
      |seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding
      |          FROM (SELECT * FROM samp ORDER BY vec_id LIMIT 16)),
      |sd AS (SELECT s.vec_id, sc.cell,
      |         sum(CAST(s.embedding[i] AS DOUBLE) * CAST(sc.embedding[i] AS DOUBLE)) AS dot,
      |         sum(CAST(s.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE)) AS vv,
      |         sum(CAST(sc.embedding[i] AS DOUBLE) * CAST(sc.embedding[i] AS DOUBLE)) AS cc
      |       FROM samp s, seeds sc, generate_series(1, 64) t(i)
      |       GROUP BY s.vec_id, sc.cell),
      |assign AS (SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY dot / sqrt(vv * cc) DESC, cell) AS rn
      |    FROM sd) WHERE rn = 1),
      |cent0 AS (SELECT a.cell, i.i AS d,
      |            list_sum(list(CAST(s.embedding[i.i] AS DOUBLE) ORDER BY s.vec_id))
      |              / count(*) AS w
      |          FROM assign a JOIN samp s USING (vec_id)
      |          CROSS JOIN generate_series(1, 64) i(i)
      |          GROUP BY a.cell, i.i),
      |cent AS (SELECT sc.cell, d.i AS d,
      |           COALESCE(c0.w, CAST(sc.embedding[d.i] AS DOUBLE)) AS w
      |         FROM seeds sc CROSS JOIN generate_series(1, 64) d(i)
      |         LEFT JOIN cent0 c0 ON c0.cell = sc.cell AND c0.d = d.i),
      |cw AS (SELECT cell, sum(w * w) AS ww FROM cent GROUP BY cell),
      |ev AS (SELECT vec_id,
      |         sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)) AS vv
      |       FROM embeddings, generate_series(1, 64) t(i) GROUP BY vec_id),
      |cd AS (SELECT e.vec_id, ct.cell,
      |         sum(CAST(e.embedding[ct.d] AS DOUBLE) * ct.w) AS dot
      |       FROM embeddings e CROSS JOIN cent ct GROUP BY e.vec_id, ct.cell),
      |score AS (SELECT cd.vec_id, cd.cell, cd.dot / (sqrt(ev.vv) * sqrt(cw.ww)) AS cos
      |          FROM cd JOIN ev USING (vec_id) JOIN cw USING (cell)),
      |ccell AS (SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
      |    FROM score) WHERE rn = 1),
      |qcell AS (SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
      |    FROM score WHERE vec_id < 20) WHERE rn <= 2),
      |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      |         FROM qcell q JOIN ccell c USING (cell)
      |         WHERE q.vec_id <> c.vec_id
      |         GROUP BY 1, 2),
      |pv AS (SELECT ca.query_id, ca.neighbor_id,
      |         sum(CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)) AS dot,
      |         sum(CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)) AS qq,
      |         sum(CAST(ce.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)) AS cc
      |       FROM cand ca
      |       JOIN embeddings qe ON qe.vec_id = ca.query_id
      |       JOIN embeddings ce ON ce.vec_id = ca.neighbor_id,
      |       generate_series(1, 64) t(i)
      |       GROUP BY ca.query_id, ca.neighbor_id),
      |s AS (SELECT query_id, neighbor_id,
      |        round(dot / (sqrt(qq) * sqrt(cc)), 4) AS cos FROM pv),
      |r AS (SELECT query_id, neighbor_id, cos,
      |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
      |      FROM s)
      |SELECT query_id, neighbor_id, cos, CAST(rnk AS BIGINT) AS rank
      |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** Unrolled deterministic k-means CTE chain over `src`(vec_id,
    * embedding): seeds = first `k` ids, `iters` Lloyd steps, centroid
    * sums as the TWO-LEVEL ordered fold (vec_id % 16 sub-folds in vec_id
    * order, bucket partials in bucket order), assignment ties to the
    * lower cell — mirroring Similarity.kmeansCentroids IEEE-exactly
    * (list_reduce left folds = the engine's ordered aggregate folds; the
    * per-row cosine loop decomposes into three independent sequential
    * folds). Ends at `fin`(vec_id, cell, cos-unrounded). ONE definition
    * shared by q_kmeans_cells and q_semdedup. */
  private def kmeansCtes(src: String, k: Int, iters: Int): String = {
    def fold(v: String, key: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list($v ORDER BY $key)), (a, b) -> a + b)"
    // every multiply-referenced CTE is MATERIALIZED: DuckDB otherwise
    // re-evaluates the whole upstream chain per reference, which is
    // exponential across the unrolled iterations (observed: 80 s for
    // the 2-iter chain and an OOM once the semdedup pair stage stacked
    // on top at sf0.1)
    val iterCtes = (1 to iters).map { i =>
      val prev = s"cent${i - 1}"
      s"""cw$i AS MATERIALIZED (SELECT cell, ${fold("w * w", "d")} AS ww FROM $prev GROUP BY cell),
         |dt$i AS MATERIALIZED (SELECT em.vec_id, ct.cell, ${fold("em.x * ct.w", "em.d")} AS dot
         |  FROM em JOIN $prev ct ON ct.d = em.d GROUP BY em.vec_id, ct.cell),
         |as$i AS MATERIALIZED (SELECT vec_id, cell FROM (
         |    SELECT dt.vec_id, dt.cell, row_number() OVER (PARTITION BY dt.vec_id
         |        ORDER BY dt.dot / (sqrt(ev.vv) * sqrt(cw.ww)) DESC, dt.cell) AS rn
         |    FROM dt$i dt JOIN evv ev ON ev.vec_id = dt.vec_id
         |    JOIN cw$i cw ON cw.cell = dt.cell) WHERE rn = 1),
         |l$i AS (SELECT a.cell, em.d, em.vec_id % 16 AS bk, ${fold("em.x", "em.vec_id")} AS s
         |  FROM as$i a JOIN em ON em.vec_id = a.vec_id GROUP BY a.cell, em.d, bk),
         |t$i AS (SELECT cell, d, ${fold("s", "bk")} AS s FROM l$i GROUP BY cell, d),
         |n$i AS (SELECT cell, count(*) AS n FROM as$i GROUP BY cell),
         |cent$i AS MATERIALIZED (SELECT c.cell, c.d,
         |    CASE WHEN n.n IS NULL THEN c.w ELSE t.s / CAST(n.n AS DOUBLE) END AS w
         |  FROM $prev c LEFT JOIN t$i t ON t.cell = c.cell AND t.d = c.d
         |  LEFT JOIN n$i n ON n.cell = c.cell)""".stripMargin
    }.mkString(",\n")
    val last = s"cent$iters"
    s"""em AS MATERIALIZED (SELECT vec_id, i.i AS d, CAST(embedding[i.i] AS DOUBLE) AS x
       |  FROM $src, generate_series(1, 64) i(i)),
       |evv AS MATERIALIZED (SELECT vec_id, ${fold("x * x", "d")} AS vv FROM em GROUP BY vec_id),
       |cent0 AS MATERIALIZED (SELECT c.cell, em.d, em.x AS w
       |  FROM (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell
       |        FROM $src ORDER BY vec_id LIMIT $k) c
       |  JOIN em ON em.vec_id = c.vec_id),
       |$iterCtes,
       |fcw AS (SELECT cell, ${fold("w * w", "d")} AS ww FROM $last GROUP BY cell),
       |fdt AS (SELECT em.vec_id, ct.cell, ${fold("em.x * ct.w", "em.d")} AS dot
       |  FROM em JOIN $last ct ON ct.d = em.d GROUP BY em.vec_id, ct.cell),
       |fin AS MATERIALIZED (SELECT vec_id, cell, cos FROM (
       |    SELECT dt.vec_id, dt.cell, dt.dot / (sqrt(ev.vv) * sqrt(cw.ww)) AS cos,
       |      row_number() OVER (PARTITION BY dt.vec_id ORDER BY
       |        dt.dot / (sqrt(ev.vv) * sqrt(cw.ww)) DESC, dt.cell) AS rn
       |    FROM fdt dt JOIN evv ev ON ev.vec_id = dt.vec_id
       |    JOIN fcw cw ON cw.cell = dt.cell) WHERE rn = 1)""".stripMargin
  }

  def kmeansCellsOracle: String =
    s"""WITH ${kmeansCtes("embeddings", 8, 2)}
       |SELECT vec_id, cell, round(cos, 4) AS cos FROM fin ORDER BY vec_id""".stripMargin

  /** q_semdedup oracle: the same k-means chain over base ∪ planted
    * echoes, then within-cell (rank_a < rank_b) pairs AT HYPERPLANE-
    * BUCKET HAMMING ≤ 1 (the engine's mega-cell bucketed join, VERDICT
    * r7 #3, replicated bit-exactly: plane dots are the same 0-seeded
    * left fold in dimension order as ExprEval.hyperplaneSig, so bucket
    * signatures — and hence the candidate set — cannot diverge) at
    * rounded cosine ≥ 0.95 mark the later-ranked member removed. */
  def semDedupOracle: String = {
    def fold(v: String, key: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list($v ORDER BY $key)), (a, b) -> a + b)"
    val planes = (0 until 6).map { p =>
      val w = graft.ops.Similarity.hyperplane(p, 64)
      s"($p, [${w.map(_.toString).mkString(",")}]::DOUBLE[])"
    }.mkString(",\n")
    s"""WITH pl(p, w) AS (VALUES $planes),
       |planted AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list($echoPerturbSql ORDER BY i) AS embedding
       |  FROM embeddings, generate_series(1, 64) t(i)
       |  WHERE vec_id % 10 = 0
       |  GROUP BY vec_id),
       |inp AS (SELECT vec_id, embedding FROM embeddings
       |        UNION ALL SELECT vec_id, embedding FROM planted),
       |${kmeansCtes("inp", 8, 2)},
       |hb AS (SELECT em.vec_id, pl.p,
       |    ${fold("em.x * pl.w[em.d]", "em.d")} AS dot
       |  FROM em CROSS JOIN pl GROUP BY em.vec_id, pl.p),
       |bk AS MATERIALIZED (SELECT vec_id,
       |    CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM hb GROUP BY vec_id),
       |rnk AS MATERIALIZED (SELECT f.vec_id, f.cell, f.cos, bk.bucket,
       |    row_number() OVER (PARTITION BY f.cell ORDER BY f.cos DESC, f.vec_id) AS rnk
       |  FROM fin f JOIN bk ON bk.vec_id = f.vec_id),
       |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM rnk a JOIN rnk b ON a.cell = b.cell AND a.rnk < b.rnk
       |  AND ((xor(a.bucket, b.bucket) & (xor(a.bucket, b.bucket) - 1)) = 0)),
       |xl AS MATERIALIZED (SELECT vec_id, list(x ORDER BY d) AS xs
       |  FROM em GROUP BY vec_id),
       |pd AS (SELECT p.id_a, p.id_b,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 65), i -> a.xs[i] * b.xs[i])),
       |      (s, v) -> s + v) AS dot
       |  FROM pr p JOIN xl a ON a.vec_id = p.id_a
       |  JOIN xl b ON b.vec_id = p.id_b),
       |rm AS (SELECT DISTINCT pd.id_b AS vec_id
       |  FROM pd JOIN evv va ON va.vec_id = pd.id_a
       |  JOIN evv vb ON vb.vec_id = pd.id_b
       |  WHERE round(pd.dot / (sqrt(va.vv) * sqrt(vb.vv)), 4) >= 0.95)
       |SELECT r.vec_id, r.cell, (rm.vec_id IS NULL) AS kept
       |FROM rnk r LEFT JOIN rm ON rm.vec_id = r.vec_id ORDER BY r.vec_id""".stripMargin
  }

  /** Shared hashed-feature CTE (mask-parameterized): ends at
    * hf(doc_id, d, wt) — q_feature_hash's bits at any power-of-two D. */
  private def hashFeatureCte(mask: Int): String =
    s"""hw AS (SELECT doc_id, list_filter(string_split(text, ' '),
       |    x -> length(x) > 0) AS ws FROM documents),
       |hh AS (SELECT doc_id, ${mix64Sql(fnvWordSql)} AS h
       |  FROM (SELECT doc_id, unnest(ws) AS w FROM hw)),
       |hf AS (SELECT doc_id, CAST(h & CAST($mask AS UBIGINT) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN ((h >> 62) & CAST(1 AS UBIGINT)) = 1
       |      THEN 1 ELSE -1 END) AS BIGINT) AS wt
       |  FROM hh GROUP BY 1, 2)""".stripMargin

  /** q_hash_ann oracle: exact BIGINT dots and norms over the shared
    * hashed features, one sqrt+division (both IEEE-exact), rank with
    * the cid tiebreak on the UNROUNDED cosine. */
  def hashAnnOracle: String =
    s"""WITH ${margined(hashFeatureCte(63))},
       |n2 AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2 FROM hf GROUP BY 1),
       |hq AS (SELECT doc_id, d, wt FROM hf WHERE doc_id < 10),
       |dt AS (SELECT q.doc_id AS qid, c.doc_id AS cid,
       |    CAST(sum(q.wt * c.wt) AS BIGINT) AS dot
       |  FROM hq q JOIN hf c ON q.d = c.d AND c.doc_id <> q.doc_id
       |  GROUP BY 1, 2),
       |sc AS (SELECT qid, cid,
       |    CAST(dot AS DOUBLE) / sqrt(CAST(nq.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)) AS cos
       |  FROM dt JOIN n2 nq ON dt.qid = nq.doc_id JOIN n2 nc ON dt.cid = nc.doc_id),
       |rk AS (SELECT qid, cid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
       |  FROM sc)
       |SELECT qid AS query_id, cid AS neighbor_id, CAST(rnk AS BIGINT) AS rank,
       |  round(cos, 4) AS cos
       |FROM rk WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin

  /** Shared PQ CTE chain: seed codebooks = sub-vectors of the first 16
    * vectors by vec_id (the pinned-codebook parity contract), L2 argmin
    * encode with 0-seeded left folds in dimension order (bit-identical to
    * ExprEval.pqEncode — same addends, same order) and first-wins ties
    * (ORDER BY d2, j), reconstruction = coded sub-centroids concatenated
    * in subspace order. Exposes `ev` (vec_id, xs), `enc` (vec_id, s, j)
    * and `rec` (vec_id, rv). */
  private def pqBaseCtes: String =
    s"""sd AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
       |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS xs
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
       |cb AS (SELECT s.s AS s, sd.j AS j,
       |    list_transform(range(1, 9), d -> sd.xs[CAST(s.s * 8 + d AS INT)]) AS cv
       |  FROM sd CROSS JOIN generate_series(0, 7) s(s)),
       |ev AS (SELECT vec_id,
       |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS xs
       |  FROM embeddings),
       |dist AS (SELECT ev.vec_id, cb.s, cb.j,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 9),
       |        d -> (ev.xs[CAST(cb.s * 8 + d AS INT)] - cb.cv[d])
       |           * (ev.xs[CAST(cb.s * 8 + d AS INT)] - cb.cv[d]))),
       |      (a, b) -> a + b) AS d2
       |  FROM ev CROSS JOIN cb),
       |enc AS (SELECT vec_id, s, j FROM (
       |    SELECT vec_id, s, j,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
       |    FROM dist) WHERE rn = 1),
       |rec AS (SELECT enc.vec_id, flatten(list(cb.cv ORDER BY enc.s)) AS rv
       |  FROM enc JOIN cb ON cb.s = enc.s AND cb.j = enc.j
       |  GROUP BY enc.vec_id)""".stripMargin

  /** q_pq_codes oracle: codes in subspace order, packed four bits each
    * into one BIGINT, + the rounded cosine between reconstruction and
    * original. */
  def pqCodesOracle: String =
    s"""WITH ${margined(pqBaseCtes)},
       |codes AS (SELECT vec_id,
       |    CAST(list_reduce(list(CAST(j AS BIGINT) ORDER BY s), (a, b) -> a * 16 + b)
       |      AS BIGINT) AS packed_codes
       |  FROM enc GROUP BY vec_id),
       |fid AS (SELECT r.vec_id,
       |    round(sum(r.rv[i] * e.xs[i])
       |      / (sqrt(sum(r.rv[i] * r.rv[i])) * sqrt(sum(e.xs[i] * e.xs[i]))), 4) AS recon_cos
       |  FROM rec r JOIN ev e USING (vec_id), generate_series(1, 64) t(i)
       |  GROUP BY r.vec_id)
       |SELECT c.vec_id, c.packed_codes, f.recon_cos
       |FROM codes c JOIN fid f USING (vec_id) ORDER BY c.vec_id""".stripMargin

  /** q_pq_topk oracle: asymmetric rounded cosine (reconstruction vs
    * full-precision query), deterministic (cos DESC, id) rank, top 5. */
  def pqTopkOracle: String =
    s"""WITH ${margined(pqBaseCtes)},
       |q AS (SELECT vec_id AS query_id, xs AS qxs FROM ev WHERE vec_id < 20),
       |sc AS (SELECT q.query_id, r.vec_id AS neighbor_id,
       |    round(sum(r.rv[i] * q.qxs[i])
       |      / (sqrt(sum(r.rv[i] * r.rv[i])) * sqrt(sum(q.qxs[i] * q.qxs[i]))), 4) AS cos
       |  FROM q JOIN rec r ON r.vec_id <> q.query_id, generate_series(1, 64) t(i)
       |  GROUP BY 1, 2),
       |rk AS (SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM sc)
       |SELECT query_id, neighbor_id, cos, CAST(rn AS BIGINT) AS rank
       |FROM rk WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
}
