package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** robots.txt PARSING + GATE — the crawl-politeness filter every
  * Common-Crawl-style pipeline applies before keeping a fetched page
  * (RFC 9309 subset for the `*` user-agent).
  *
  * Semantics (RFC 9309): rules come from the group(s) whose User-agent
  * line set includes `*`; per URL the LONGEST matching path prefix wins
  * and Allow beats Disallow on a length tie; an URL matching no rule —
  * or a host with no robots rules at all — is allowed. Empty patterns
  * match nothing (§2.2.2) and are dropped at parse.
  *
  * Parser discipline = the WARC/Xlsx source class: a JDK-only line
  * scanner in a typed flatMap, comments (#…) stripped, CRLF/CR/LF all
  * tolerated, keys case-insensitive, unknown directives skipped,
  * stacked User-agent lines form one group and a User-agent line AFTER
  * rules starts a NEW group. Hostile input yields fewer rules, never a
  * throw.
  *
  * Scale shape: the rules table is robots-scale (one row per host ×
  * rule — crawl-HOST cardinality, not corpus cardinality); the gate is
  * one equi-join of pages against rules on the host key plus a
  * two-phase hash-agg argmax (max of a (length, allow) struct — the
  * clusterRepresentatives declarative-argmax shape, no Window). A page
  * on a rule-less host crosses the join unmatched and defaults to
  * allowed.
  */
object Robots {

  /** The ONE robots.txt line scanner both parsers read: every
    * `key: value` directive line of the body, in order, as (lower-case
    * key, value, inStarGroup). Comments (#…) are stripped and CRLF/CR/LF
    * all split lines. inStarGroup is the stanza rule: stacked User-agent
    * lines form one group, and a User-agent line after a group-scoped
    * directive (Allow, Disallow, Crawl-delay) starts a NEW group; other
    * keys (Sitemap, unknown) leave the stanza intact. Never throws. */
  private def directives(body: String): Seq[(String, String, Boolean)] = {
    var agentsSawStar = false
    var inRules = false // a group-scoped line closed the user-agent stanza
    body.split("\r\n|\n|\r", -1).toSeq.flatMap { raw =>
      val i = raw.indexOf('#')
      val line = (if (i >= 0) raw.substring(0, i) else raw).trim
      val ci = line.indexOf(':')
      if (ci <= 0) None
      else {
        val key = line.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) { agentsSawStar = false; inRules = false }
            if (value == "*") agentsSawStar = true
          case "disallow" | "allow" | "crawl-delay" => inRules = true
          case _ => ()
        }
        Some((key, value, agentsSawStar))
      }
    }
  }

  /** (isAllow, prefix) rules for user-agent `*` from one robots.txt
    * body. Never throws. */
  def parseBody(body: String): Seq[(Boolean, String)] =
    directives(body).collect {
      case (k @ ("allow" | "disallow"), v, true) if v.nonEmpty => (k == "allow", v)
    }

  /** Per-host politeness metadata from one robots body: the `*`-group
    * Crawl-delay (de-facto extension — seconds; the SMALLEST valid
    * non-negative value across `*` groups wins, a deterministic tie rule
    * for hostile multi-group bodies) and every `Sitemap:` directive
    * (GLOBAL per sitemaps.org — not group-scoped, collected anywhere in
    * the file, first-occurrence order, duplicates dropped). Never
    * throws. */
  def parseBodyMeta(body: String): (Option[Long], Seq[String]) = {
    val ds = directives(body)
    (ds.collect { case ("crawl-delay", v, true) => v.toLongOption.filter(_ >= 0L) }
      .flatten.minOption,
      ds.collect { case ("sitemap", v, _) if v.nonEmpty => v }.distinct)
  }

  /** Per-host politeness metadata table: (hostCol, crawl_delay,
    * n_sitemaps, first_sitemap) — crawl_delay null when the `*` group
    * sets none. Robots-scale (one row per host). */
  def hostMeta(robots: DataFrame, hostCol: String = "host",
      bodyCol: String = "body"): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string"), col(bodyCol).cast("string"))
      .as[(String, String)]
      .flatMap { case (host, body) =>
        if (host == null || body == null) Iterator.empty
        else {
          val (d, sm) = parseBodyMeta(body)
          Iterator((host, d.map(java.lang.Long.valueOf).orNull,
            sm.length.toLong, sm.headOption.orNull))
        }
      }.toDF(hostCol, "crawl_delay", "n_sitemaps", "first_sitemap")
  }

  /** Politeness FETCH SCHEDULE: order each host's frontier
    * deterministically (url ASC) and space fetches by the host's
    * crawl-delay — fetch_at_s = ordinal × delay (pure BIGINT; hosts
    * without a delay use `defaultDelay`). The per-host ordinal is the
    * GLOBAL rank over (host, url) minus the host's min rank — ranks of
    * one host are consecutive under that sort, so the subtraction is the
    * per-host dense index WITHOUT a per-host window (a mega-host would
    * otherwise sort in one task; here it spans range partitions like any
    * other key run). Output: (urlCol, host, ord, fetch_at_s). */
  def fetchSchedule(pages: DataFrame, meta: DataFrame,
      urlCol: String = "url", defaultDelay: Long = 1L): DataFrame = {
    val host = graft.ops.UrlOps.host(col(urlCol))
    val keyed = pages.select(col(urlCol), host.as("host"))
      .withColumn("__id", xxhash64(col(urlCol))) // rankBy id tiebreak
    val ranks = Selection.rankBy(keyed,
      Seq(col("host"), col(urlCol)), Seq(true, true), "__id")
    val ranked = keyed.join(ranks, Seq("__id")).drop("__id")
    val base = ranked.groupBy(col("host")).agg(min(col("rank")).as("__h0"))
    ranked.join(base, Seq("host"))
      .join(meta.select(col("host"), col("crawl_delay")), Seq("host"), "left")
      .select(col(urlCol), col("host"),
        (col("rank") - col("__h0")).as("ord"),
        ((col("rank") - col("__h0")) *
          coalesce(col("crawl_delay"), lit(defaultDelay))).as("fetch_at_s"))
  }

  /** Parse per-host robots bodies into the rules table
    * (hostCol, is_allow, prefix). Null host/body rows yield no rules. */
  def parseRobots(robots: DataFrame, hostCol: String = "host",
      bodyCol: String = "body"): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string"), col(bodyCol).cast("string"))
      .as[(String, String)]
      .flatMap { case (host, body) =>
        if (host == null || body == null) Iterator.empty
        else parseBody(body).iterator.map { case (a, p) => (host, a, p) }
      }.toDF(hostCol, "is_allow", "prefix")
  }

  /** Gate pages through the rules: the input's columns plus `allowed`.
    * `rules` must be (host, is_allow, prefix) — [[parseRobots]] output. */
  def robotsGate(pages: DataFrame, rules: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val path0 = regexp_extract(col(urlCol), UrlOps.PathRe, 1)
    val p = pages.withColumn("__host", UrlOps.host(col(urlCol)))
      .withColumn("__path", when(path0 === "", lit("/")).otherwise(path0))
    val r = rules.select(col("host").as("__host"),
      col("is_allow").cast("boolean").as("__a"), col("prefix").as("__p"))
    // per-URL winner: longest prefix, allow beats disallow on the tie —
    // a declarative two-phase argmax, never a Window over the host group
    val hits = p.select(col(urlCol).as("__url"), col("__host"), col("__path"))
      .join(r, Seq("__host"))
      .filter(col("__path").startsWith(col("__p")))
      .groupBy(col("__url"))
      .agg(max(struct(length(col("__p")).as("l"),
        col("__a").cast("int").as("a"))).as("__win"))
      .select(col("__url"), (col("__win").getField("a") === 1).as("__wa"))
    p.join(hits, p(urlCol) === hits("__url"), "left")
      .select(pages.columns.map(col) :+
        coalesce(col("__wa"), lit(true)).as("allowed"): _*)
  }
}
