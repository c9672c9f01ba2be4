package graft.oracle

import Fragments._

/** Oracles of the search family: the inverted-index token stream,
  * conjunctive, phrase and BM25-ranked search, co-occurrence. */
private[oracle] object SearchOracles {

  /** q_bm25 oracle: the rational-idf BM25 with every IEEE operation in
    * the Spark expression's exact order (no log, no set-ordered sum). */
  def bm25Oracle: String = {
    val terms = Seq("spark", "join", "window", "vector", "stream")
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(ws, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df$i"
    }.mkString(",\n       |             ")
    val scoreTerms = terms.zipWithIndex.map { case (t, i) =>
      s"(((s.n - s.df$i + 0.5)/(s.df$i + 0.5) + 1) * " +
        s"(CAST(len(list_filter(f.ws, x -> x = '$t')) AS DOUBLE) * CAST(2.2 AS DOUBLE))) / " +
        s"(CAST(len(list_filter(f.ws, x -> x = '$t')) AS DOUBLE) + CAST(1.2 AS DOUBLE) * " +
        s"(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * f.dl / (s.sumdl / s.n)))"
    }.mkString("\n       |   + ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |             CAST(sum(len(ws)) AS DOUBLE) AS sumdl,
       |             $dfCols
       |      FROM d),
       |f AS (SELECT doc_id, ws, CAST(len(ws) AS DOUBLE) AS dl FROM d)
       |SELECT f.doc_id, CAST(f.dl AS BIGINT) AS dl,
       | round($scoreTerms, 4) AS bm25
       |FROM f, s""".stripMargin
  }

  /** Shared positional term stream for the inverted-index oracles —
    * positions index the RAW \s+ split (empties dropped without closing
    * gaps), exactly [[graft.ops.Index.termStream]]. */
  private def indexStreamCtes: String = indexStreamCtesOn("documents")

  /** The tokenized positional stream parameterized over the docs
    * relation — `documents` everywhere except q_store_delete, whose
    * corpus is documents minus the tombstoned ids. */
  private def indexStreamCtesOn(docsRel: String): String =
    s"""ist AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
      |    i -> {'pos': i, 'tok': ws[i]})) AS t
      |  FROM (SELECT doc_id, regexp_split_to_array(COALESCE(text, ''), '\\s+') AS ws
      |        FROM $docsRel)),
      |is2 AS (SELECT doc_id, CAST(t.pos AS BIGINT) AS pos, t.tok AS tok
      |  FROM ist WHERE length(t.tok) > 0)""".stripMargin

  /** q_inverted_index oracle: postings agg then dictionary agg. */
  def invertedIndexOracle: String =
    s"""WITH ${margined(indexStreamCtes)},
       |ip AS (SELECT tok AS term, doc_id, count(*) AS tf FROM is2 GROUP BY 1, 2)
       |SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
       |FROM ip GROUP BY 1 HAVING count(*) >= 5 ORDER BY term""".stripMargin

  /** q_conj_search oracle: probe-filtered postings, doc-keyed AND test. */
  def conjSearchOracle: String =
    s"""WITH ${margined(indexStreamCtes)},
       |ip AS (SELECT tok, doc_id, count(*) AS tf, min(pos) AS fp
       |  FROM is2 WHERE tok IN ('spark', 'merge', 'hash') GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score,
       |  CAST(min(fp) AS BIGINT) AS first_hit
       |FROM ip GROUP BY 1 HAVING count(*) = 3 ORDER BY doc_id""".stripMargin

  /** q_ranked_search oracle: the SAME index stream, probe-filtered
    * postings, one-row corpus stats, rational idf and fixed-order
    * per-term additions — every float op mirrored operation-for-
    * operation against [[graft.ops.Index.rankedSearch]] (each per-term
    * conditional sum covers exactly one (term, doc) row, so the only
    * order-dependent additions are the literal c0 + c1 + … chain). */
  def rankedSearchOracle: String =
    rankedSearchOracleFor(Seq("spark", "join", "window", "vector", "stream"), 50)

  /** The ranked-search statement parameterized over (terms, k) — ONE
    * definition shared by q_ranked_search (recompute path) and
    * q_index_store (the same scores must come back THROUGH the persisted
    * two-increment store: union-of-increments postings ≡ full-corpus
    * postings is exactly the store's correctness claim). */
  def rankedSearchOracleFor(terms: Seq[String], k: Int,
      docsRel: String = "documents"): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN term = '$t' THEN c END) AS c$i"
    }.mkString(",\n       |    ")
    val chain = terms.indices
      .map(i => s"COALESCE(c$i, CAST(0 AS DOUBLE))").mkString(" + ")
    s"""WITH ${margined(indexStreamCtesOn(docsRel))},
       |rdl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM is2 GROUP BY 1),
       |rst AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(COALESCE(rdl.dl, 0)) AS DOUBLE) AS sumdl
       |  FROM $docsRel d LEFT JOIN rdl ON rdl.doc_id = d.doc_id),
       |rp AS (SELECT tok AS term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM is2 WHERE tok IN ($inList) GROUP BY 1, 2),
       |rdf AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM rp GROUP BY 1),
       |rc AS (SELECT rp.doc_id, rp.term,
       |    ((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
       |      * (CAST(rp.tf AS DOUBLE) * 2.2)
       |      / (CAST(rp.tf AS DOUBLE)
       |         + 1.2 * (0.25 + 0.75 * (CAST(d2.dl AS DOUBLE) / (s.sumdl / s.n)))) AS c
       |  FROM rp JOIN rdl d2 USING (doc_id) CROSS JOIN rst s JOIN rdf f USING (term)),
       |ra AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS matched,
       |    $perTerm
       |  FROM rc GROUP BY 1)
       |SELECT doc_id, matched, round($chain, 4) AS bm25
       |FROM ra ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin
  }

  /** q_cooccur oracle: the shared positional stream, the same bounded
    * ×window position explode and composite-key join, marginals/total
    * from the grouped pair frame, and the one fixed-shape DOUBLE ratio
    * (cast-multiply-cast-multiply-divide, mirrored exactly). */
  def cooccurOracle: String =
    s"""WITH ${margined(indexStreamCtes)},
       |cl AS (SELECT doc_id, pos, tok AS a FROM is2),
       |cr AS (SELECT doc_id, pos - j AS pos, tok AS b
       |  FROM is2, (VALUES (1), (2)) t(j)),
       |cp AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_pair
       |  FROM cl JOIN cr USING (doc_id, pos) GROUP BY 1, 2),
       |cd AS (SELECT CAST(sum(n_pair) AS BIGINT) AS d FROM cp),
       |cla AS (SELECT a, CAST(sum(n_pair) AS BIGINT) AS n_left FROM cp GROUP BY 1),
       |crb AS (SELECT b, CAST(sum(n_pair) AS BIGINT) AS n_right FROM cp GROUP BY 1)
       |SELECT p.a, p.b, p.n_pair, la.n_left, rb.n_right,
       |  round(CAST(p.n_pair AS DOUBLE) * CAST(d.d AS DOUBLE)
       |    / (CAST(la.n_left AS DOUBLE) * CAST(rb.n_right AS DOUBLE)), 4) AS pmi_ratio
       |FROM cp p JOIN cla la USING (a) JOIN crb rb USING (b) CROSS JOIN cd d
       |WHERE p.n_pair >= 5 ORDER BY a, b""".stripMargin

  /** q_phrase_search oracle: the (doc, pos+1) adjacency join — counts
    * OVERLAPPING occurrences exactly like the op. */
  def phraseSearchOracle: String =
    s"""WITH ${margined(indexStreamCtes)}
       |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       |  CAST(min(a.pos) AS BIGINT) AS first_pos
       |FROM is2 a JOIN is2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |WHERE a.tok = 'batch' AND b.tok = 'batch'
       |GROUP BY 1 ORDER BY a.doc_id""".stripMargin
}
