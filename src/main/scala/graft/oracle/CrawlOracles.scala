package graft.oracle

import Fragments._, TextOracles._

/** Oracles of the graph, crawl and URL family: URL canonicalization,
  * blocklists, the frontier funnel, PageRank and host tiers. */
private[oracle] object CrawlOracles {

  /** q_url_blocklist oracle: the canonicalization CTE (the q_url_canonical
    * oracle verbatim) gated by the same host / canonical-prefix rules —
    * exact NOT IN on host, starts_with on canonical url. */
  def urlBlocklistOracle: String =
    s"""WITH c AS (
       |${margined(urlCanonicalOracle)}
       |)
       |SELECT doc_id, canon_url FROM c
       |WHERE host NOT IN ('host-3.example.com', 'files.example.com', 'never.example.com')
       |  AND NOT starts_with(canon_url, 'https://cdn.example.org/assets/doc1')
       |  AND NOT starts_with(canon_url, 'https://example.net/')
       |  AND NOT starts_with(canon_url, 'http://unused.example.com/x')""".stripMargin

  /** q_incremental_new oracle: the Bloom filter is a pure prefilter with
    * no false negatives + exact verify, so the answer IS the anti-join. */
  def incrementalNewOracle: String =
    s"""WITH seen AS (SELECT text FROM documents WHERE doc_id % 4 <> 0),
       |batch AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 8 = 1)
       |SELECT b.doc_id, b.text
       |FROM batch b ANTI JOIN seen s ON b.text = s.text""".stripMargin

  /** q_url_canonical oracle: identical url construction and the identical
    * RE2 regex decomposition (UrlOps patterns verbatim). */
  def urlCanonicalOracle: String = {
    val sch = s"lower(regexp_extract(url, '${graft.ops.UrlOps.SchemeRe}', 1))"
    val auth = s"regexp_extract(url, '${graft.ops.UrlOps.AuthRe}', 1)"
    // userinfo case-PRESERVED; host[:port] lowercased after the @ split
    val hp = s"lower(regexp_replace($auth, '^[^@]*@', ''))"
    s"""WITH u AS (
       |  SELECT doc_id,
       |    CASE
       |      WHEN doc_id % 5 = 0 THEN 'HTTP://Host-' || (doc_id % 7)
       |        || '.Example.COM:80/dir//page-' || doc_id || '.html#frag' || doc_id
       |      WHEN doc_id % 5 = 1 THEN 'https://CDN.example.org:443/assets/doc'
       |        || doc_id || '?v=' || (doc_id % 9) || '&x=A#top'
       |      WHEN doc_id % 5 = 2 THEN 'http://User' || (doc_id % 3) || '@host-'
       |        || (doc_id % 7) || '.example.com:8080/p/' || doc_id
       |      WHEN doc_id % 5 = 3 THEN 'HTTPS://Example.NET'
       |      ELSE 'ftp://Files.Example.com:21/pub/f' || doc_id
       |    END AS url
       |  FROM documents),
       |parts AS (
       |  SELECT doc_id, url,
       |    $sch AS sch,
       |    regexp_extract($auth, '^([^@]*)@', 1) AS ui,
       |    regexp_replace($hp, ':[0-9]*$$', '') AS h,
       |    regexp_extract($hp, ':([0-9]+)$$', 1) AS p,
       |    regexp_extract(url, '${graft.ops.UrlOps.PathRe}', 1) AS pth,
       |    regexp_extract(url, '${graft.ops.UrlOps.QueryRe}', 1) AS q
       |  FROM u)
       |SELECT doc_id, url,
       |  CASE WHEN sch = '' OR h = '' THEN url ELSE
       |    sch || '://'
       |    || CASE WHEN ui <> '' THEN ui || '@' ELSE '' END
       |    || h
       |    || CASE WHEN p <> '' AND NOT (sch = 'http' AND p = '80')
       |             AND NOT (sch = 'https' AND p = '443')
       |        THEN ':' || p ELSE '' END
       |    || CASE WHEN pth = '' THEN '/' ELSE pth END || q
       |  END AS canon_url,
       |  h AS host
       |FROM parts""".stripMargin
  }

  /** q_frontier_funnel oracle: the plant's ground truth composed —
    * urlset docs contribute exactly their two decoded locs (already in
    * canonical form by construction, so stage 1 is a pure distinct);
    * blocklist drops host h5 + h1's /q/ subtree; robots drops h3
    * entirely and /q on hosts without the Allow override (h4, h6);
    * host cap = per-host top-40 by (doc id DESC, /p-before-/q). */
  def frontierFunnelOracle: String =
    s"""WITH u0 AS (
       |  SELECT doc_id, doc_id % 7 AS k,
       |    'https://h' || (doc_id % 7) || '.example.com/p/' || doc_id || '?a=1&b=2' AS url,
       |    0 AS isq
       |  FROM documents WHERE doc_id % 10 <> 0
       |  UNION ALL
       |  SELECT doc_id, doc_id % 7 AS k,
       |    'https://h' || (doc_id % 7) || '.example.com/q/' || doc_id AS url,
       |    1 AS isq
       |  FROM documents WHERE doc_id % 10 <> 0),
       |f1 AS (SELECT DISTINCT doc_id, k, url, isq FROM u0),
       |f2 AS (SELECT * FROM f1 WHERE k <> 5 AND NOT (k = 1 AND isq = 1)),
       |f3 AS (SELECT * FROM f2 WHERE k <> 3 AND NOT (isq = 1 AND k IN (4, 6))),
       |f4 AS (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY k
       |      ORDER BY doc_id DESC, doc_id * 2 + isq ASC) AS rn
       |    FROM f3) WHERE rn <= 40),
       |st AS (
       |  SELECT 0 AS stage_idx, 'sitemap_urls' AS stage, count(*) AS n_urls,
       |         count(DISTINCT k) AS n_hosts FROM u0
       |  UNION ALL SELECT 1, 'canonical', count(*), count(DISTINCT k) FROM f1
       |  UNION ALL SELECT 2, 'blocklist', count(*), count(DISTINCT k) FROM f2
       |  UNION ALL SELECT 3, 'robots', count(*), count(DISTINCT k) FROM f3
       |  UNION ALL SELECT 4, 'host_cap', count(*), count(DISTINCT k) FROM f4)
       |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
       |  CAST(n_urls AS BIGINT) AS n_urls, CAST(n_hosts AS BIGINT) AS n_hosts
       |FROM st ORDER BY stage_idx""".stripMargin

  /** The 4-iteration PageRank oracle (two-level ordered folds, unrolled
    * expression tree) parameterized over the edge CTE body — ONE
    * definition shared by q_host_pagerank and q_link_pagerank. */
  private def pageRankChainCtes(edgeSql: String): String = {
    val iters = 4
    val D = "CAST(0.85 AS DOUBLE)"
    val Z = "CAST(0 AS DOUBLE)"
    def fold(v: String, k: String) =
      s"list_reduce(list_prepend($Z, list($v ORDER BY $k)), (a, b) -> a + b)"
    val iterCtes = (1 to iters).map { i =>
      val prev = s"pr${i - 1}"
      s"""c$i AS (SELECT e.dst AS dst, e.src AS src, p.pr / CAST(o.od AS DOUBLE) AS c
         |  FROM e JOIN $prev p ON p.node = e.src JOIN od o ON o.src = e.src),
         |l$i AS (SELECT dst, src % 16 AS bk, ${fold("c", "src")} AS s
         |  FROM c$i GROUP BY dst, bk),
         |i$i AS (SELECT dst, ${fold("s", "bk")} AS insum FROM l$i GROUP BY dst),
         |g$i AS (SELECT p.node % 16 AS bk, ${fold("p.pr", "p.node")} AS bs
         |  FROM $prev p LEFT JOIN od o ON o.src = p.node
         |  WHERE o.src IS NULL GROUP BY bk),
         |d$i AS (SELECT COALESCE(${fold("bs", "bk")}, $Z) AS dm FROM g$i),
         |pr$i AS (SELECT n.node,
         |    (CAST(1.0 AS DOUBLE) - $D) / CAST(cnt.n AS DOUBLE)
         |      + $D * (COALESCE(ii.insum, $Z) + dd.dm / CAST(cnt.n AS DOUBLE)) AS pr
         |  FROM nodes n LEFT JOIN i$i ii ON ii.dst = n.node, d$i dd, cnt)""".stripMargin
    }.mkString(",\n")
    s"""e AS (${margined(edgeSql)}),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
       |cnt AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / CAST(cnt.n AS DOUBLE) AS pr FROM nodes, cnt),
       |$iterCtes""".stripMargin
  }

  /** The unrolled-PageRank chain as a full statement (binds `pr4` as the
    * final frame) — [[pageRankChainCtes]] is the composable CTE text for
    * queries that join the ranks onward (q_host_tier). */
  private def pageRankStatement(edgeSql: String): String =
    s"""WITH ${margined(pageRankChainCtes(edgeSql))}
       |SELECT node, round(pr, 6) AS pr FROM pr4""".stripMargin

  /** q_host_pagerank oracle: the identical fixed expression tree per
    * iteration — contributions pr/od (one division), per-dst in-sums as
    * the TWO-LEVEL ordered fold tree (src % 16 sub-folds in src order,
    * bucket partials in bucket order), dangling mass via the same tree
    * over node id, update (1−d)/n + d·(insum + dm/n). Iterations unroll
    * as CTEs; doubles match the engine bit-for-bit at every step. */
  def pageRankOracle: String = pageRankStatement(
    """SELECT DISTINCT doc_id % 101 AS src, (doc_id * 7 + 3) % 101 AS dst
      |FROM documents""".stripMargin)

  /** The link-graph plant's ground-truth edge set — ONE definition
    * shared by q_link_pagerank and q_host_tier (a drifted copy would
    * silently desync their rank oracles). */
  private val LinkEdgesSql: String =
    """SELECT DISTINCT doc_id % 13 AS src, 100 + doc_id % 7 AS dst FROM documents
      |UNION
      |SELECT DISTINCT doc_id % 13 AS src, 200 + doc_id % 5 AS dst FROM documents""".stripMargin

  /** q_link_pagerank oracle: the SAME unrolled PageRank tree over the
    * link-graph plant's ground-truth edges (host names mapped to the
    * deterministic ids the engine query derives). */
  def linkPagerankOracle: String = pageRankStatement(LinkEdgesSql)

  /** q_host_tier oracle: the unrolled PageRank chain over the shared
    * link-edge plant joined with per-host quality quarters — the tier
    * CASE compares the 6-decimal ROUNDED pr against a dyadic threshold
    * and mean quality via INTEGER cross-multiplication (sq4·2 ≥ n·4),
    * so no raw-float compare exists anywhere in the tier logic. */
  def hostTierOracle: String =
    s"""WITH ${margined(pageRankChainCtes(LinkEdgesSql))},
       |hq0 AS (
       |${margined(qualityOracle)}
       |),
       |hq AS (SELECT d.doc_id % 13 AS host,
       |    CAST(hq0.quality_score * 4 AS BIGINT) AS q4
       |  FROM documents d JOIN hq0 ON hq0.doc_id = d.doc_id),
       |hs AS (SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(q4) AS BIGINT) AS sq4 FROM hq GROUP BY 1)
       |SELECT p.node AS host,
       |  COALESCE(hs.n_docs, 0) AS docs,
       |  round(CAST(hs.sq4 AS DOUBLE) / CAST(hs.n_docs * 4 AS DOUBLE), 4) AS mean_quality,
       |  round(p.pr, 6) AS pr,
       |  CASE WHEN round(p.pr, 6) >= 0.03125 THEN 'authority'
       |       WHEN hs.n_docs IS NULL THEN 'linked_only'
       |       WHEN hs.sq4 * 25 >= hs.n_docs * 98 THEN 'quality'
       |       ELSE 'cull' END AS tier
       |FROM pr4 p LEFT JOIN hs ON hs.host = p.node
       |ORDER BY host""".stripMargin
}
