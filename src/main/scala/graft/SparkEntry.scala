package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.CheckpointScratch.ckpt
import graft.oracle.Plants._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator family from SURVEY.md §2
  * (the reference's extraction/validation semantics re-expressed relationally
  * over the driver's parquet tables), with a DuckDB-equivalent oracle in
  * [[oracleSql]]. Extraction itself (HTML/PDF → text, byte-identity) is
  * tested in ScalaTest over synthetic `pages` fixtures (no SQL oracle can
  * express it) and surfaced here through the `x_*` queries.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship: the extraction pipeline itself (pages → parse → text
    * surface). Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("x_extract_text")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------
  // Relational queries (SURVEY §2.2–§2.7 operator inventory, re-expressed
  // over the driver tables so DuckDB can oracle them).
  // ---------------------------------------------------------------------

  /** A4/A5-style grouped aggregation with partial/final agg (SURVEY §2.4). */
  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** J2-style equi-join + grouped agg + deterministic top-k (SURVEY §2.3/§2.6). */
  private def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust  = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord   = t(s, dir, "orders")
    val li    = t(s, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** W1-style running aggregate over an ordered frame (SURVEY §2.5). */
  private def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .filter(col("l_suppkey") <= 3)
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        round(sum(col("l_quantity")).over(w), 2).as("running_qty"))
  }

  /** A2 best-candidate argmax (top-1 per group with explicit tie-break),
    * the reference's best-table pick (text_extractor_all.py:209-216). */
  private def qArgmaxBestEvent(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("best_event_id"),
        round(col("value"), 4).as("best_value"))
  }

  /** W1 running section label: last-non-null carry-forward scan
    * (text_extractor_all.py:287-291) — here: last marker event per user. */
  private def qSectionCarry(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("section",
        coalesce(
          last(when(col("event_type").isin("signup", "login"), col("event_type")),
            ignoreNulls = true).over(w),
          lit("UNLABELED")))
      .select(col("event_id"), col("user_id"), col("section"))
  }

  /** Semi/anti join semantics (golden↔prediction pairing J2/J3 "skip missing"
    * is inner+left_anti; SURVEY §2.3). */
  private def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(
        t(s, dir, "orders").filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** Set operation (candidate-union/except analogue, SURVEY §2.7):
    * parts shipped in 1995 but never in 1996. */
  private def qSetExcept(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val in95 = li.filter(year(col("l_shipdate")) === 1995).select(col("l_partkey")).distinct()
    val in96 = li.filter(year(col("l_shipdate")) === 1996).select(col("l_partkey")).distinct()
    in95.except(in96)
  }

  /** J1 — the reference's XBRL↔table theta join (xbrl_validate.py:104-146),
    * re-expressed as a *banded equi-join* + exact tolerance filter instead of
    * a nested loop: facts = part retail prices, cells = lineitem prices,
    * scales {1, 1000}, tolerance max(0.01, 0.001·|fact|).
    * Uses ValidateJob's magnitude-aware band key (log-scale bands, so the
    * relative tolerance is covered at EVERY magnitude — a fixed band width
    * silently drops matches once facts outgrow it); the oracle states the
    * naive theta-join — same result set. */
  private def qThetaBand(s: SparkSession, dir: String): DataFrame = {
    val facts = t(s, dir, "part")
      .select(col("p_partkey"), col("p_retailprice"))
      .withColumn("band", graft.spark.ValidateJob.bandKey(col("p_retailprice")))
    val cells = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("scale", explode(array(lit(1.0), lit(1000.0))))
      .withColumn("scaled", col("l_extendedprice") * col("scale"))
      .withColumn("band", explode(graft.spark.ValidateJob.probeKeys(col("scaled"))))
      .filter(col("band.regime") >= 0)
    cells.join(broadcast(facts), "band")
      .filter(abs(col("scaled") - col("p_retailprice")) <=
        greatest(lit(0.01), lit(0.001) * abs(col("p_retailprice"))))
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("p_partkey"))
  }

  // ---------------------------------------------------------------------
  // Training-data-pipeline ops over `documents` / `embeddings`.
  // ---------------------------------------------------------------------

  /** §2.8 scalar-function surface in one query: bit ops (the reference's
    * 24-bit color decode, text_extractor_all.py:40-46 and font-flag masks
    * :55-62), zero-padded formatting (:137), and regex field extraction
    * (:99-104) — all Catalyst built-ins, DuckDB-oracled. */
  private def qScalarFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("color", (col("doc_id") * 99991) % 16777216)
      .select(
        col("doc_id"),
        shiftright(col("color"), 16).bitwiseAND(lit(255)).as("r"),
        shiftright(col("color"), 8).bitwiseAND(lit(255)).as("g"),
        col("color").bitwiseAND(lit(255)).as("b"),
        (col("doc_id").bitwiseAND(lit(16)) =!= 0).as("bold_flag"),
        format_string("page%03d", col("doc_id")).as("page_tag"),
        regexp_extract(col("source"), "src(\\d+)", 1).cast("long").as("source_num"))

  /** Exact deduplication: group identical text, keep the smallest doc_id. */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))

  /** Word-set Jaccard near-dup pairs within a `source` bucket. Strategy is
    * cost-based (Dedup.jaccardAdaptivePairs): small blocks → optimal plain
    * blocked join; large blocks → exact-recall prefix filtering
    * (Dedup.jaccardPrefixPairs, the O(block²) guard). Either path yields
    * the identical result set as the naive all-pairs oracle. */
  private def qJaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsShared(s, dir)

  /** q_jaccard_pairs and q_dedup_clusters both consume the identical
    * (deterministic) pair graph; Verify/Bench run them back-to-back, so
    * memoize the checkpointed graph per (session, dir) — same pattern as
    * [[sharedDocs]], no cross-query semantics leak (either query alone
    * computes exactly this frame). */
  private val pairsMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), DataFrame]()
  private def jaccardPairsShared(s: SparkSession, dir: String): DataFrame =
    pairsMemo.compute((System.identityHashCode(s), dir), (_, cur) =>
      if (cur != null && !cur.sparkSession.sparkContext.isStopped) cur
      else ckpt(graft.ops.Dedup
        .jaccardAdaptivePairs(t(s, dir, "documents"), "source", threshold = 0.8)))

  /** Full dedup chain (exact → MinHash/LSH pairs → connected components →
    * representatives) over a corpus with planted exact + near duplicates.
    * Rows-only (LSH banding is probabilistic); OpsSpec asserts the planted
    * dups collapse. */
  private def xDedupPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = withNearDups(t(s, dir, "documents"))
    graft.ops.Dedup.dedupCorpus(docs, threshold = 0.5)
      .orderBy(col("doc_id"))
  }

  /** Near-dup cluster resolution: connected components over the exact
    * jaccard pair graph (min-label propagation) — "keep one doc per
    * near-dup group". Oracled by a DuckDB recursive CTE over the same
    * edges. */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // the memoized graph is already an eager localCheckpoint — the cluster
    // iteration consumes it many times without re-running pair generation
    graft.ops.Dedup.dedupClusters(docs, jaccardPairsShared(s, dir))
  }

  /** Quality-aware representative per near-dup cluster: clusters from the
    * shared jaccard pair graph, quality = token count computed narrowly
    * (text never crosses the selection join or the argmax shuffle). */
  private def qClusterReps(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val clusters = graft.ops.Dedup.dedupClusters(docs, jaccardPairsShared(s, dir))
    val quality = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("quality"))
    graft.ops.Dedup.clusterRepresentatives(clusters, quality)
  }

  /** Per-host frequency cap (the C4/RefinedWeb domain-capping stage): at
    * most 5 docs per planted host, best = longest (n_chars DESC, doc_id
    * tiebreak). One mega-host covers a third of the corpus — exactly the
    * skew the two-level fold in [[graft.ops.Selection.capPerGroup]] exists
    * for. */
  private def qHostCap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0, lit("mega.example.com"))
        .otherwise(concat(lit("host-"), col("doc_id") % 101, lit(".example.com")))
        .as("host"),
      col("n_chars"))
    graft.ops.Selection.capPerGroup(docs, "host", 5, "n_chars", "doc_id")
  }

  /** Host link-graph extraction: deterministic planted HTML (two absolute
    * anchors per page — one entity-carrying double-quoted href, one
    * single-quoted — plus a relative href that must NOT edge) parsed by
    * the REAL streaming tokenizer's attribute channel; the oracle is the
    * plant's ground truth, so a dropped/mis-sliced href breaks the hash.
    * Composes with q_host_pagerank's operator downstream. */
  private def qLinkGraph(s: SparkSession, dir: String): DataFrame = {
    val pages = t(s, dir, "documents").select(
      concat(lit("http://src-"), col("doc_id") % 13,
        lit(".example.com/page/"), col("doc_id")).as("url"),
      concat(
        lit("<html><body><p>intro text</p><a href=\"http://host-"),
        col("doc_id") % 7,
        lit(".example.com/p?a=1&amp;b=2\">x</a><div><a href='https://cdn-"),
        col("doc_id") % 5,
        lit(".example.org/q'>y</a></div><a href=/relative/skip>z</a></body></html>"))
        .cast("binary").as("html"))
    graft.ops.Graph.hostLinkEdges(pages)
  }

  /** Extraction → graph composition: PageRank over the TOKENIZER-extracted
    * host link graph (q_link_graph's pages). Planted host names map to
    * deterministic integer node ids (src-N → N, host-N → 100+N,
    * cdn-N → 200+N) so the bit-exact integer-keyed PageRank contract
    * applies end-to-end. */
  private def qLinkPagerank(s: SparkSession, dir: String): DataFrame = {
    def hid(c: org.apache.spark.sql.Column) =
      when(c.startsWith("src-"),
          regexp_extract(c, "^src-(\\d+)", 1).cast("long"))
        .when(c.startsWith("host-"),
          regexp_extract(c, "^host-(\\d+)", 1).cast("long") + 100L)
        .otherwise(regexp_extract(c, "^cdn-(\\d+)", 1).cast("long") + 200L)
    val edges = qLinkGraph(s, dir)
      .select(hid(col("src_host")).as("src"), hid(col("dst_host")).as("dst"))
    graft.ops.Graph.pageRank(edges, iters = 4)
      .select(col("node"), round(col("pr"), 6).as("pr"))
  }

  /** Anchor-text profile per target host over planted pages: each doc
    * links to host-(id%7) with anchor "go & see v(id%3)" (entity +
    * inner <b> markup exercised), plus a relative link and an
    * empty-text link that must be filtered. The oracle rebuilds the
    * plant — a tokenizer/capture misread diverges the profile. */
  private def qAnchorText(s: SparkSession, dir: String): DataFrame = {
    val pages = t(s, dir, "documents").select(
      concat(lit("http://src-"), col("doc_id") % 13,
        lit(".example.com/page/"), col("doc_id")).as("url"),
      concat(
        lit("<html><body><p>pre</p><a href=\"http://host-"), col("doc_id") % 7,
        lit(".example.com/p\">go &amp; see <b>v"), col("doc_id") % 3,
        lit("</b></a><a href=\"/rel\">skip</a><a href=\"http://img-"),
        col("doc_id") % 2,
        lit(".example.com/i\"></a></body></html>")).cast("binary").as("html"))
    graft.ops.Graph.anchorSummary(graft.ops.Graph.anchorTexts(pages))
      .orderBy(col("dst_host"))
  }

  /** Gopher rule gate (Rae 2021 A1.1) over a corpus with planted
    * rule-violating variants: bullet-heavy docs (fails the 90%-bullet-lines
    * rule), ellipsis-heavy docs (fails the 30%-ellipsis-ends rule), and a
    * symbol-spam doc (fails symbol ratio + word count + stopwords). The
    * word-count floor is lowered to 20 so the synthetic docs exercise both
    * branches; every threshold is integer cross-multiplied on both engines. */
  private def qGopherRules(s: SparkSession, dir: String): DataFrame = {
    val bullets = (1 to 10).map(i => s"- bullet line $i").mkString("\n")
    val planted = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 7 === 0, concat(col("text"), lit("\n" + bullets)))
        .when(col("doc_id") % 7 === 1,
          concat(col("text"), lit("\nto be continued...\nand then...\nmore...")))
        .when(col("doc_id") % 7 === 2, lit("### #### ##### ## # tiny"))
        // the synthetic vocabulary carries only ONE Gopher stop word
        // ("the") — branch 3 plants a natural-prose tail so the
        // ≥2-stop-words rule has a passing population too
        .when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" and that is to be of interest with more to have")))
        .otherwise(col("text")).as("text"))
    graft.ops.TextAnalysis.gopherRules(planted, minWords = 20)
      .select(col("doc_id"), col("n_words"), col("n_word_chars"), col("n_lines"),
        col("n_symbols"), col("n_bullet_lines"), col("n_ellipsis_lines"),
        col("n_alpha_words"), col("n_stopwords"), col("keep"))
  }

  /** Token counting + quality scoring (length / word-length / stopword ratio). */
  private def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    val stop = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
    t(s, dir, "documents")
      .withColumn("tokens", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("tokens")).cast("long").as("n_tokens"),
        round(col("n_chars").cast("double") / size(col("tokens")), 4).as("avg_token_len"),
        round(size(filter(col("tokens"), tk => array_contains(stop, tk))).cast("double")
          / size(col("tokens")), 4).as("stopword_ratio"))
  }

  // ---------------------------------------------------------------------
  // Extraction pipeline surface (SURVEY §3 E1-E3). These run the real
  // HTML/PDF parsers over the deterministic synthetic `pages` table
  // (FixtureGen — no external data; the sfDir scales the row count). No
  // SQL oracle can express a PDF parser, so these are rows-only checks
  // here; byte-identity is asserted in ScalaTest (CoreExtractionSpec /
  // SparkPipelineSpec).
  // ---------------------------------------------------------------------

  private def xDocCount(dir: String): Long =
    if (dir.contains("0.1")) 20000L else if (dir.contains("0.01")) 2000L else 500L

  /** Pre-materialized pages fixture (the `Bench.ensurePages` pattern):
    * the extraction-surface queries used to re-GENERATE the synthetic
    * corpus inline per query — ~10 generate+parse passes of the same
    * 5000-20000 docs per verify/bench run, each exposed to host-share
    * drift (x_validate swung 1.5→16.5 s across identical-code runs). Now
    * each (count) is written once per machine to a marker-guarded parquet
    * and every query scans that — generation cost is paid once, and the
    * timed work is the operator itself. */
  private def pagesFixture(s: SparkSession, n: Long): DataFrame = {
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), s"graft_pages_fixture_$n")
    graft.gen.FixtureStore.ensure(dir, s"$n-v${graft.gen.FixtureGen.Version}") {
      graft.gen.PagesTable.pagesDF(s, n).write.mode("overwrite").parquet(dir.toString)
    }
    s.read.parquet(dir.toString)
  }

  /** In-process memo of the full-tree extraction per (session, count):
    * provenance/spans/images/best-tables/validate all consume the SAME
    * `extractDocs` output — one eager localCheckpoint instead of five
    * identical parse passes. Deterministic derived data only (no
    * cross-query semantics leak: any single query called alone populates
    * and uses its own entry). Keyed by session identity so a fresh
    * session never reuses checkpointed RDDs from a stopped context. */
  private val docsMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), Dataset[graft.core.ExtractedDoc]]()
  private def sharedDocs(s: SparkSession, n: Long): Dataset[graft.core.ExtractedDoc] =
    // atomic compute: the get/remove/computeIfAbsent sequence let a
    // concurrent caller delete a freshly built entry (duplicated
    // checkpoint + orphaned blocks). identityHashCode is not unique across
    // a session's lifetime, so an entry whose checkpointed RDDs belong to
    // a STOPPED context is rebuilt, never served (review r4).
    docsMemo.compute((System.identityHashCode(s), n), (_, cur) =>
      if (cur != null && !cur.sparkSession.sparkContext.isStopped) cur
      else ckpt(graft.spark.ExtractJob.extractDocs(s, pagesFixture(s, n))))

  /** Drop all cross-query memo state (Bench calls this before every timed
    * rep so per-query numbers measure the OPERATOR, not a warm memo; it
    * also prevents dead-context Dataset references accumulating in
    * long-lived JVMs). */
  def resetSharedState(): Unit = {
    // both memos and every op-internal eager checkpoint (funnel stages,
    // tokenized dedup bases, span-pair frames, iteration labels) register
    // in CheckpointScratch — dropped while the memos still hold them, so
    // no scratch block lingers into the next timed bench rep
    graft.ops.CheckpointScratch.unpersistAll()
    docsMemo.clear()
    pairsMemo.clear()
  }

  /** Multimodal asset fixture: real PNG encode (ImageIO, zlib IDAT) of
    * the image third of the assets costs more than the decode under test,
    * so assets are materialized once per (sf) like the pages fixture —
    * ENCODING is generation, DECODING is the operator.
    *
    * Unlike pagesFixture (pure generation from the count — two sf dirs
    * mapping to the same count legitimately share one corpus), the assets
    * derive from the sf dir's OWN documents table, so the fixture identity
    * must include the source dir: keyed only by count, any two dirs in the
    * same count bucket would share whichever corpus ran first (ADVICE r4). */
  private def assetsFixture(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.udf
    val nDocs = xDocCount(dir)
    val dirTag = java.lang.Long.toHexString(graft.ops.Dedup.fnv1a(dir))
    val fdir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_assets_fixture_${nDocs}_$dirTag")
    graft.gen.FixtureStore.ensure(fdir, s"$nDocs-$dirTag-v${graft.gen.FixtureGen.Version}") {
      val mk = udf((id: Long) =>
        if (id % 3 == 0)
          graft.ops.Multimodal.makePng(id, 16 + (id % 16).toInt, 16 + (id % 12).toInt)
        else if (id % 3 == 1) // real RIFF/WAVE stream (JDK-encoded PCM)
          graft.ops.Multimodal.makeWav(id, sampleRate = 8000,
            nFrames = 256 + (id % 256).toInt, channels = 1 + (id % 2).toInt)
        else // real MJPEG-in-AVI stream (per-frame JDK JPEG encode)
          graft.ops.Multimodal.makeAvi(id, 32 + (id % 8).toInt * 8,
            24 + (id % 6).toInt * 8, nFrames = 4 + (id % 4).toInt))
      t(s, dir, "documents").select(col("doc_id").as("assetId"))
        .withColumn("payload", mk(col("assetId")))
        .write.mode("overwrite").parquet(fdir.toString)
    }
    s.read.parquet(fdir.toString)
  }

  /** WARC fixture: the sf dir's `documents` table serialized as real
    * multi-member `.warc.gz` WET files (Common-Crawl layout — one gzip
    * member per record, one file per shard, records ordered by doc_id
    * within a file). INGESTION is the operator under test
    * (`Warc.readPages`), so serialization is generation and is
    * materialized once per (dir), like the asset fixture. The per-shard
    * write runs distributed (`groupByKey(shard).mapGroups`) to the local
    * FS — on a real cluster the same shape writes to shared storage. */
  private def warcFixture(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val dirTag = java.lang.Long.toHexString(graft.ops.Dedup.fnv1a(dir))
    val fdir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_warc_fixture_$dirTag")
    graft.gen.FixtureStore.ensure(fdir, s"$dirTag-v${graft.gen.FixtureGen.Version}") {
      import s.implicits._
      val target = fdir.toString
      val nFiles = 8
      t(s, dir, "documents")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
          coalesce(col("lang"), lit("und")).as("lang"))
        .as[(Long, String, String)]
        .groupByKey { case (id, _, _) => java.lang.Math.floorMod(id, nFiles.toLong) }
        .mapGroups { (k, it) =>
          val recs = it.toVector.sortBy(_._1).map { case (id, text, lang) =>
            graft.sources.Warc.conversionRecord(s"http://docs.example/$id",
              java.time.Instant.ofEpochSecond(1600000000L + id).toString, text, lang)
          }
          val p = java.nio.file.Paths.get(target, f"docs-$k%05d.warc.gz")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, graft.sources.Warc.writeWarcGz(recs))
          (k, recs.size)
        }.collect()
    }
    fdir.toString
  }

  /** Pre-materialize every fixture a verify/bench run will read, so
    * generation cost never lands inside a timed query. */
  def ensureFixtures(s: SparkSession, dir: String): Unit = {
    val n = xDocCount(dir)
    Seq(n, n / 4, n / 8).distinct.foreach(c => pagesFixture(s, c).count())
    assetsFixture(s, dir).count()
    warcFixture(s, dir)
  }

  /** WARC ingestion round-trip (the Common-Crawl first mile): the
    * documents table serialized into real multi-member `.warc.gz` WET
    * files, then re-ingested by the distributed scanner — the oracle is
    * the source table itself, so a single mis-sliced payload byte or a
    * dropped record breaks the hash. */
  private def qWarcRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.Warc.readPages(s, warcFixture(s, dir) + "/*.warc.gz")
      .select(col("url"), col("text"), col("lang"))

  /** The DataSource V2 WARC read path on the driver surface:
    * `format("warc")` over the same WET fixture, selecting only
    * (url, n_bytes) so COLUMN PRUNING reaches the reader (payload bytes
    * never enter rows) — with an EXACT oracle: n_bytes is the UTF-8
    * byte length of the source text (DuckDB strlen). */
  private def qWarcDsv2(s: SparkSession, dir: String): DataFrame =
    s.read.format("warc").load(warcFixture(s, dir))
      .select(col("url"), col("n_bytes"))
      .orderBy(col("url"))

  /** Record-level WARC scan surface: one row per well-formed record with
    * container-level facts (type, payload size) — the stats a crawl
    * triage pass reads before committing to full extraction. */
  private def xWarc(s: SparkSession, dir: String): DataFrame =
    s.read.format("warc").load(warcFixture(s, dir) + "/*.warc.gz")
      .select(col("rec_idx"), col("warc_type"), col("url"), col("n_bytes"))

  /** E1: pages → salted repartition → parse/classify → text surface. */
  private def xExtractText(s: SparkSession, dir: String): DataFrame =
    graft.spark.ExtractJob.extractTexts(s, pagesFixture(s, xDocCount(dir)))
      .select(col("url"), col("text"), col("extractor"), col("usedFallback"),
        col("nBlocks").cast("long").as("n_blocks"))

  /** W1: provenance with running-section carry-forward. */
  private def xProvenance(s: SparkSession, dir: String): DataFrame =
    graft.spark.ExtractJob.provenance(sharedDocs(s, xDocCount(dir) / 4))

  /** Line/Span tier: per-span font/size/color/style rows (the reference's
    * layout.json span export, text_extractor_all.py:251-259). Rows-only
    * here; decode parity is asserted in ScalaTest (CoreExtractionSpec). */
  private def xSpans(s: SparkSession, dir: String): DataFrame =
    graft.spark.ExtractJob.spans(sharedDocs(s, xDocCount(dir) / 4))

  /** S7: embedded images — placement bbox (the CTM at `Do` time; the
    * reference's page.get_image_bbox), intrinsic dims from the XObject
    * dict, and decoded payload size (CMYK already converted to RGB). */
  private def xImages(s: SparkSession, dir: String): DataFrame =
    sharedDocs(s, xDocCount(dir) / 4)
      .select(col("url"), explode(col("images")).as("im"))
      .select(col("url"), col("im.page").as("page"), col("im.idx").as("idx"),
        round(col("im.x0"), 2).as("x0"), round(col("im.y0"), 2).as("y0"),
        round(col("im.x1"), 2).as("x1"), round(col("im.y1"), 2).as("y1"),
        col("im.width").cast("long").as("width"),
        col("im.height").cast("long").as("height"),
        length(col("im.bytes")).cast("long").as("n_bytes"))

  /** S3: per-word geometry — the reference's pdfplumber extract_words()
    * log (text_extractor_all.py:177, 187-188). */
  private def xWordBoxes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pagesFixture(s, xDocCount(dir) / 4).as[graft.core.PageRow]
      .flatMap(r => graft.core.Extractor.wordBoxes(r)
        .map(w => (r.url, w.page, w.word, w.x0, w.x1, w.top, w.bottom)))
      .toDF("url", "page", "word", "x0", "x1", "top", "bottom")
      .select(col("url"), col("page"), col("word"),
        round(col("x0"), 2).as("x0"), round(col("x1"), 2).as("x1"),
        round(col("top"), 2).as("top"), round(col("bottom"), 2).as("bottom"))
  }

  /** P10: table-source suffix dispatch — deterministic csv + xlsx fixtures
    * (identical content) written to a temp dir and read back through
    * `TableSource` (the reference's csv/xlsx/skip switch,
    * xbrl_validate.py:70-81). Both files must yield the same cell matrix. */
  /** Deterministic reusable fixture directory: repeated invocations (bench
    * reps, verify reruns) rewrite the same files instead of leaking a new
    * temp directory per call. */
  private def fixtureDir(name: String, n: Int): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_fixture_${name}_$n")
    java.nio.file.Files.createDirectories(p)
    p
  }

  private def xTableSources(s: SparkSession, dir: String): DataFrame = {
    val n = math.max(xDocCount(dir).toInt / 100, 5)
    val tmp = fixtureDir("tables", n)
    val rows = Vector.tabulate(n)(r => Vector(s"item_$r", s"${r * 10}", s"v & $r"))
    java.nio.file.Files.write(tmp.resolve("t1.csv"),
      rows.map(_.mkString(",")).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(tmp.resolve("t2.xlsx"), graft.gen.FixtureGen.buildXlsx(rows))
    java.nio.file.Files.write(tmp.resolve("skip.bin"), Array[Byte](1, 2, 3))
    graft.sources.TableSource.readCells(s, tmp.toString)
      .select(regexp_extract(col("file"), "([^/]+)$", 1).as("file"),
        col("r").cast("long").as("r"), col("c").cast("long").as("c"), col("v"))
      .orderBy(col("file"), col("r"), col("c"))
  }

  /** S8 for real: numeric facts parsed from deterministic XBRL instance
    * documents (parse_xbrl_instance parity, xbrl_validate.py:40-56). */
  private def xXbrlFacts(s: SparkSession, dir: String): DataFrame = {
    val nDocs = math.max(xDocCount(dir).toInt / 200, 2)
    val tmp = fixtureDir("xbrl", nDocs)
    (0 until nDocs).foreach { i =>
      java.nio.file.Files.write(tmp.resolve(f"inst_$i%03d.xml"),
        graft.gen.FixtureGen.buildXbrl(1000L + i, nFacts = 20)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    graft.sources.XbrlInstance.readFacts(s, tmp.toString)
      .select(regexp_extract(col("file"), "([^/]+)$", 1).as("file"),
        col("concept"), round(col("value"), 2).as("value"))
      .orderBy(col("file"), col("concept"), col("value"))
  }

  /** A2: best table per page (argmax over dual-engine candidates). */
  private def xBestTables(s: SparkSession, dir: String): DataFrame =
    graft.spark.ExtractJob.bestTables(sharedDocs(s, xDocCount(dir) / 4))
      .drop("cells")

  /** E2: WER/CER metrics of the pipeline against its goldens (all exact). */
  private def xMetrics(s: SparkSession, dir: String): DataFrame = {
    val n = xDocCount(dir) / 4
    val pred = graft.spark.ExtractJob.extractTexts(s, pagesFixture(s, n))
      .select(col("url"), col("text"))
    graft.spark.MetricsJob.textMetrics(s, graft.gen.PagesTable.golden(s, n).toDF(), pred)
  }

  // ---------------------------------------------------------------------
  // Dedup / similarity / text-analysis / multimodal ops (graft.ops).
  // ---------------------------------------------------------------------

  /** The driver corpus is all-distinct, so near-dup queries plant
    * deterministic near-duplicates (id + 10^6, one token appended) — the
    * op must then recover exactly those pairs. */
  private def withNearDups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" near dup copy")).as("text")))

  /** MinHash+LSH near-dup pairs (shingle→minhash→band→bucket→verify).
    * No SQL oracle (hash pipeline); q_jaccard_pairs is the oracle-able
    * exact-verify sibling, and planted pairs make recall checkable. */
  private def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.minhashLsh(withNearDups(t(s, dir, "documents")), threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup pairs via 4×16-bit chunk pigeonhole join. */
  private def qSimhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.simhashPairs(withNearDups(t(s, dir, "documents")), maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** Embedding near-dup pairs blocked by random-hyperplane LSH buckets;
    * planted perturbed vectors (index-dependent additive dyadic noise —
    * cosine stays ≈0.999 but not 1.0). */
  private def qCosineNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val planted = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) => echoPerturb(x, i)).as("embedding"))
    graft.ops.Similarity.cosineNearDupPairs(
      e.select(col("vec_id"), col("embedding")).unionByName(planted),
      threshold = 0.95, dim = 64)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Deterministic k-means over the embeddings table (the SemDeDup
    * clustering stage): 8 cells, 2 Lloyd steps, bit-exact two-level
    * centroid folds. */
  private def qKmeansCells(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ops.Similarity.kmeansAssign(e, k = 8, iters = 2, dim = 64)
      .orderBy(col("vec_id"))
  }

  /** Semantic dedup (SemDeDup): cluster base ∪ planted perturbed copies
    * (the q_cosine_neardup plant — every vec_id % 10 == 0 gets a
    * +1000000-id near-identical echo), then drop within-cluster members
    * whose rounded cosine to an earlier-ranked member reaches 0.95. The
    * planted echoes land in their source's cluster and are removed.
    * bucketBits = 6 exercises the MEGA-CELL path (VERDICT r7 #3): the
    * pair join keys on (cell, hyperplane-bucket) with Hamming-1 probes;
    * the oracle replicates the identical bucketed join (bit-exact ordered
    * plane dots), so both engines see the same candidate set. */
  private def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val planted = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) => echoPerturb(x, i)).as("embedding"))
    graft.ops.Similarity.semDedup(
      e.select(col("vec_id"), col("embedding")).unionByName(planted),
      eps = 0.95, k = 8, iters = 2, dim = 64, bucketBits = 6)
      .orderBy(col("vec_id"))
  }

  /** fastText-shape linear quality-classifier inference: deterministic
    * hash-derived stand-in weights over the corpus vocabulary, exact
    * position-ordered score folds, sign label on the rounded score. */
  private def qClassifierScore(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.ops.Classifier.linearScore(d, graft.ops.Classifier.hashModel(d), bias = 0.01)
      .orderBy(col("doc_id"))
  }

  /** Brute-force cosine top-k ANN (oracle-able: deterministic rank on
    * rounded cosine + neighbor id). */
  private def qAnnTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ops.Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Int8 scalar quantization codes (FAISS SQ8 shape): per-vector scale,
    * exact BIGINT code norm and code sum — the 4×-smaller storage tier
    * for the 100-TB embedding column. */
  private def qQuantCodes(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ops.Quantize.int8(e)
      .select(col("vec_id"), round(col("scale"), 6).as("scale"), col("qnorm"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + x.cast("long")).as("code_sum"))
      .orderBy(col("vec_id"))
  }

  /** Brute-force top-k in int8 CODE space — exact BIGINT dot products,
    * scale-free quantized cosine, deterministic rank. */
  private def qQuantTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ops.Quantize.quantizedTopK(e, e.filter(col("vec_id") < 20), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Product-quantization codes + reconstruction fidelity under the
    * PINNED seed codebooks (the VectorStore pinned-centroid parity
    * discipline: Lloyd training is ScalaTest-gated, the oracle replays
    * the same argmin/decode bit-for-bit). 8 subspaces × 16 codes over
    * dim 64: 8 bytes of code per vector vs 256 bytes of floats. The 8
    * four-bit codes are output packed into one BIGINT in subspace order
    * (subspace 0 in the highest nibble), a type every result checker
    * hashes; each code is still compared. */
  private def qPqCodes(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val flat = graft.ops.Quantize.pqSeedCodebooks(e, dim = 64, m = 8, k = 16)
    graft.ops.Quantize.pqEncode(e, flat, dsub = 8, k = 16)
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("vec_id"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc * 16L + c).as("packed_codes"),
        round(graft.ops.Similarity.cosine(
          graft.ops.Quantize.pqDecode(col("codes"), flat, 8, 16),
          col("embedding")), 4).as("recon_cos"))
      .orderBy(col("vec_id"))
  }

  /** Asymmetric PQ top-k (ADC, cosine form): full-precision queries
    * scored against the m-byte-coded corpus via its reconstruction. */
  private def qPqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ops.Quantize.pqTopK(e, e.filter(col("vec_id") < 20), k = 5,
        dim = 64, m = 8, kcb = 16)
      .orderBy(col("query_id"), col("rank"))
  }

  /** LSH-bucketed approximate ANN (the scale path; recall<1 → rows-only). */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ops.Similarity.lshTopK(e, e.filter(col("vec_id") < 20), k = 5, dim = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-flat approximate ANN (coarse quantizer + probe; rows-only). */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ops.Similarity.ivfTopK(e, e.filter(col("vec_id") < 20), k = 5, dim = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN top-5 THROUGH the PERSISTED two-increment IVF store: centroids
    * trained once on the even-id increment and pinned, odd ids appended
    * under those centroids, probes over the stored union. The oracle is
    * the recompute statement with its training CTE restricted to the
    * first increment — pinned-centroid composition IS the store's
    * correctness claim. */
  private def qVectorStore(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-vecstore").toString
    graft.ops.VectorStore.create(root, e.filter(col("vec_id") % 2 === 0), dim = 64)
    graft.ops.VectorStore.append(root, e.filter(col("vec_id") % 2 === 1))
    graft.ops.VectorStore.topK(s, root, e.filter(col("vec_id") < 20), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Stopword-profile language ID with deterministic argmax. */
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.langId(t(s, dir, "documents"))
      .select(col("doc_id"), col("pred_lang"), col("lang_hits"))

  /** Token counting: whitespace words + BPE-ish subword runs. */
  private def qTokenCounts(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.tokenCounts(t(s, dir, "documents"))
      .select(col("doc_id"), col("n_words"), col("n_subtokens"))

  /** Gopher/C4-style quality features + composite score. */
  private def qQuality(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.qualityScore(t(s, dir, "documents"))
      .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
        col("stopword_ratio"), col("alpha_ratio"), col("quality_score"))

  /** Rolling-hash document fingerprints (order-sensitive, 64-bit). */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.fingerprints(t(s, dir, "documents"))
      .select(col("doc_id"), col("fingerprint"))

  /** Grouping sets: ROLLUP over (returnflag, linestatus) — subtotal and
    * grand-total rows with NULL group keys, the classic OLAP cube slice. */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))

  /** Pivot: per-user-cohort event counts, one column per event type
    * (explicit value list — deterministic schema at any scale). */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy((col("user_id") % 100).as("cohort"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // scope the fill to the pivoted columns: an unscoped fill would also
      // rewrite a NULL cohort KEY to 0 and merge it into the real cohort 0
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))

  /** Exact interpolated percentiles per source (Spark `percentile` ==
    * DuckDB `quantile_cont` — both linear interpolation on the sorted
    * values, so the rounded results hash-match). */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"),
        round(expr("percentile(n_chars, 0.99)"), 4).as("p99_chars"),
        count(lit(1)).as("n"))

  /** KMV bottom-k distinct-token sketch per source — a custom Catalyst
    * AGGREGATE (bounded O(k) state, map-side partial merge) whose estimate
    * the DuckDB oracle reproduces exactly from the shared fnv1a hash. */
  private def qKmvDistinct(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.kmvDistinctTokens(t(s, dir, "documents"), "source", k = 64)
      .orderBy(col("source"))

  /** Text ANN with NO embedding model: hashed signed-TF vectors
    * ([[graft.ops.Features.hashFeatures]], D = 64) ranked by
    * integer-exact cosine ([[graft.ops.Features.cosineTopK]]) for a
    * 10-doc query panel — the brute verify tier the LSH/IVF paths
    * validate against. */
  private def qHashAnn(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val feat = graft.ops.Features.hashFeatures(docs, dims = 64)
    graft.ops.Features.cosineTopK(feat, docs.filter(col("doc_id") < 10L), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Dedup-aware train/val/test split (the GPT-3 appendix-C discipline,
    * one step past q_leakage_scrub): the split KEY is the near-dup
    * CLUSTER label from the shared jaccard pair graph, so near-duplicate
    * documents can never straddle splits — [[graft.ops.Splits.hashSplit]]
    * applied at cluster granularity (idCol = cluster_id). */
  private def qClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val clusters = graft.ops.Dedup.dedupClusters(docs, jaccardPairsShared(s, dir))
    graft.ops.Splits.hashSplit(clusters, idCol = "cluster_id", salt = "csplit")
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Per-source corpus fingerprint ([[graft.ops.Audit.frameFingerprint]]):
    * count + XOR of canonical row hashes — the one-row-per-group
    * reconciliation handle for comparing independent runs without
    * re-shuffling data. */
  private def qAuditFingerprint(s: SparkSession, dir: String): DataFrame =
    graft.ops.Audit.frameFingerprint(t(s, dir, "documents"), "source",
      Seq("doc_id", "text")).orderBy(col("source"))

  /** Fingerprint RECONCILIATION between the corpus and a deterministic
    * tamper of it (dropped rows, a text edit, a removed source, an added
    * source) — every divergence class surfaces as one labeled row. */
  private def qAuditReconcile(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val b = docs
      .filter(pmod(col("doc_id"), lit(97L)) =!= 0L)
      .filter(col("source") =!= "src0")
      .withColumn("text", when(col("doc_id") === 1L,
        concat(col("text"), lit(" tampered"))).otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") >= 1L && col("doc_id") < 5L)
        .withColumn("source", lit("srcx")))
    val fp = (d: DataFrame) =>
      graft.ops.Audit.frameFingerprint(d, "source", Seq("doc_id", "text"))
    graft.ops.Audit.reconcile(fp(docs), fp(b), "source")
      .orderBy(col("source"))
  }

  /** The hashing-trick model TRAINED in-engine: q_feature_hash's
    * fixed-width signed-TF vectors (normalized by token count) through
    * the SAME full-batch GD fold as q_train_linear
    * ([[graft.ops.Train.linearFitOn]]) — a 1024-weight model with no
    * vocabulary anywhere, the Weinberger 2009 deployment end-to-end.
    * Output: (dim, w) with one NULL-dim bias row. */
  private def qHashTrain(s: SparkSession, dir: String): DataFrame = {
    val docs = trainLabeled(s, dir)
    val feat = graft.ops.Features.hashFeatures(docs, dims = 1024)
    val nt = docs.select(col("doc_id"),
      size(filter(split(col("text"), " "), w => length(w) > 0))
        .cast("long").as("nt"))
    val x = feat.join(nt, Seq("doc_id"))
      .select(col("doc_id").as("did"), col("dim").as("tok"),
        (col("weight").cast("double") / col("nt").cast("double")).as("x"))
    val labels = docs.select(col("doc_id").as("did"), col("y"))
    graft.ops.Train.linearFitOn(x, labels, iters = 2, lr = 0.5)
      .select(col("tok").as("dim"), round(col("w"), 6).as("w"))
      .orderBy(col("dim"))
  }

  /** Feature hashing (Weinberger 2009): fixed-width signed-TF vectors —
    * vocabulary-free featurization for classifier training at corpus
    * scale ([[graft.ops.Features.hashFeatures]]). Integer weights from
    * the shared hash, so the oracle matches exactly. */
  private def qFeatureHash(s: SparkSession, dir: String): DataFrame =
    graft.ops.Features.hashFeatures(t(s, dir, "documents"), dims = 1024)
      .orderBy(col("doc_id"), col("dim"))

  /** HyperLogLog distinct-token estimate per source from the relational
    * register table ([[graft.ops.Sketches.hllRegisters]]) — the
    * integer-exact fold, so the oracle reproduces the estimate
    * bit-for-bit from the shared hash. */
  private def qHllDistinct(s: SparkSession, dir: String): DataFrame = {
    // distinct 3-gram shingles per source (~1.3k truth at test SFs):
    // inside the raw estimator's validity range for m = 256, unlike
    // word-level counts on the synthetic vocab (linear-counting range)
    val reg = graft.ops.Sketches.hllRegisters(t(s, dir, "documents"), "source",
      p = 8, shingle = 3)
    graft.ops.Sketches.hllEstimate(reg, "source", p = 8).orderBy(col("source"))
  }

  /** KMV sketch SET OPERATIONS: pairwise union-size + Jaccard estimates
    * between source sketches — corpus-overlap estimation from O(k) state
    * per group, no second data pass. */
  private def qKmvOverlap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.kmvOverlap(t(s, dir, "documents"), "source", k = 64)
      .orderBy(col("g_a"), col("g_b"))

  /** Count-min sketch point estimates vs exact truth for every distinct
    * (source, token): the heavy-hitter frequency sketch in table form
    * (partial hash agg IS the mergeable sketch — see
    * [[graft.ops.Sketches.countMinSketch]]). width=16 vs a ~40-token
    * vocabulary forces real bucket collisions, so est > true_cnt rows
    * exist and the depth-4 min provably bounds them. */
  private def qCmsCounts(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sketch = graft.ops.Sketches.countMinSketch(docs, "source", depth = 4, width = 16)
      .transform(ckpt)
    val toks = docs
      .select(col("source"), explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val truth = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("true_cnt"))
      .transform(ckpt)
    graft.ops.Sketches.countMinEstimate(sketch,
        truth.select(col("source"), col("token")), "source", depth = 4, width = 16)
      .join(truth, Seq("source", "token"))
      .select(col("source"), col("token"), col("est"), col("true_cnt"))
  }

  /** Gap-based sessionization over the events stream (30-min timeout). */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("gap_s",
        unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("gap_s").isNull || col("gap_s") > 1800, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      // exact integer micro-units: floor(value*1e6) is the same IEEE double →
      // the same long on every engine, the long sum is order-independent, and
      // the single final division is one IEEE op — bit-identical in DuckDB.
      // (decimal(20,6) casts differ between Spark's HALF_UP-on-shortest-string
      // and DuckDB's binary rounding on boundary values: CORRECTNESS_r02.)
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(1000000.0))) / lit(1000000.0)).as("session_value"))
  }

  /** Multimodal: EVERY asset family is a real byte stream decoded by a
    * real JDK codec — PNG rasters (pixel-grid checksum), RIFF/WAVE audio
    * (streamed PCM checksum), MJPEG-in-AVI video (per-frame JPEG decode,
    * checksum chained across frames). */
  private def xMultimodal(s: SparkSession, dir: String): DataFrame = {
    // decodeBatches inherits the input partitioning, and the fixture is
    // ONE parquet file — without a repartition the whole decode (now real
    // JPEG work per video frame) runs on a single core. At crawl scale
    // the scan has many files and the caller controls layout; here the
    // fan-out is the honest parallel-decode shape.
    val assets = assetsFixture(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
    val meta = graft.ops.Multimodal.decodeBatches(s, assets).toDF()
    graft.ops.Multimodal.resizePlan(meta, maxSide = 256)
      .select(col("assetId").as("asset_id"), col("format"), col("width"),
        col("height"), col("nFrames").as("n_frames"), col("out_w"), col("out_h"),
        col("checksum").as("pixel_checksum"))
  }

  /** E3: numeric cross-verification — facts derived from the extracted
    * best-table cells (every 3rd cell, some scaled ×1000 to exercise the
    * scale search), then matched back by the banded theta join. Every
    * derived fact must come back EXACT; the scaled ones prove the scale
    * factor path. */
  private def xValidate(s: SparkSession, dir: String): DataFrame = {
    val docs = sharedDocs(s, xDocCount(dir) / 4)
    val best = graft.spark.ExtractJob.bestTables(docs)
    // checkpoint: both the fact derivation and the banded join consume
    // `cells`, and without it each side re-runs the full extraction
    // upstream — the cells inventory is tiny relative to the parse it
    // saves; registered scratch, dropped at the next bench-rep reset (or
    // GC-reclaimed when unreferenced — the registry holds weak refs)
    val cells = best.select(col("url"), col("page"), explode(col("cells")).as("c"))
      .select(col("url"), col("page"), col("c.r").as("r"), col("c.c").as("c"), col("c.v").as("v"))
      .transform(ckpt)
    val parse = udf((v: String) => graft.core.TextMetrics.parseNumeric(v))
    val facts = cells.withColumn("value0", parse(col("v")))
      .filter(col("value0").isNotNull && (col("r") + col("c")) % 3 === 0)
      .withColumn("scale", when(col("r") % 2 === 0, lit(1.0)).otherwise(lit(1000.0)))
      .select(col("url"),
        concat(lit("fact_r"), col("r"), lit("_c"), col("c")).as("concept"),
        (col("value0") * col("scale")).as("value"))
    val matched = graft.spark.ValidateJob.matches(s, cells, facts)
    // plant one deterministic unmatched fact per url with a fuzzy row label
    // so the reference's third quality class (MISMATCH, xbrl_validate.py:
    // 135-145) always appears in the histogram alongside EXACT/CLOSE
    val urls = facts.select(col("url")).distinct()
    val planted = urls
      .withColumn("concept", lit("fact_total_net_assets"))
      .withColumn("value", lit(9.87654321e8))
    val labels = urls.withColumn("label", lit("Total net assets"))
    val mism = graft.spark.ValidateJob.mismatches(
      s, facts.unionByName(planted), matched, labels)
    graft.spark.ValidateJob.qualityCounts(matched)
      .unionByName(graft.spark.ValidateJob.qualityCounts(mism))
  }

  /** S12: all export surfaces (txt/md/json projections of the tree). */
  private def xExports(s: SparkSession, dir: String): DataFrame =
    graft.spark.Exports.exportAll(
      graft.spark.ExtractJob.extractDocs(s, pagesFixture(s, xDocCount(dir) / 8)))

  /** A6/§4.4: per-partition lineage rows from one extraction pass. */
  private def xLineage(s: SparkSession, dir: String): DataFrame =
    graft.spark.ExtractJob.lineage(
      graft.spark.ExtractJob.extractTexts(s, pagesFixture(s, xDocCount(dir) / 4)),
      runId = "verify", snapshotId = 1L)

  // ---------------------------------------------------------------------
  // Round-4 training-pipeline additions: PII scrub, deterministic splits
  // and samples, benchmark decontamination, BM25 selection scoring,
  // Gopher repetition stats, greedy sequence packing. All DuckDB-oracled.
  // ---------------------------------------------------------------------

  /** Deterministic planted PII (the driver corpus has none): one email,
    * one IPv4, one phone per doc, a second email on every 5th doc. Both
    * engines construct the identical text. */
  private def piiTextExpr: org.apache.spark.sql.Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com at 10.0."),
      col("doc_id") % 256, lit(".7 or +1-555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      when(col("doc_id") % 5 === 0, lit(" second.contact@test.org"))
        .otherwise(lit("")))

  private def withPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), piiTextExpr.as("text"))

  /** PII detection + redaction counts over the planted corpus. */
  private def qPiiScrub(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scrub.scrub(withPii(t(s, dir, "documents")))
      .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_phones"),
        col("clean_text"))

  /** Deterministic 80/10/10 train/val/test assignment by salted fnv1a. */
  private def qTrainSplit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.hashSplit(t(s, dir, "documents"))
      .select(col("doc_id"), col("source"), col("split"))

  /** Deterministic Bernoulli(0.25) sample (hash-threshold). */
  private def qHashSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.hashSample(t(s, dir, "documents"), p = 0.25)
      .select(col("doc_id"), col("source"))

  /** Deterministic stratified sample: hash-smallest 5 docs per source. */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.stratifiedSample(t(s, dir, "documents"), "source", k = 5)
      .select(col("doc_id"), col("source"))

  private def qMixtureSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.mixtureSample(t(s, dir, "documents"), MixtureRates)
      .select(col("doc_id"), col("source"))

  /** Sitemap frontier extraction over planted bodies: urlset docs carry
    * one entity-escaped loc + lastmod and one CDATA loc without lastmod
    * (plus a comment); every 10th doc is a sitemapindex instead. The
    * oracle rebuilds the decoded entries — a scanner misread (entity,
    * CDATA, container scoping) diverges. */
  /** The planted sitemap body — ONE definition shared by q_sitemap and
    * the frontier funnel (q_frontier_funnel). */
  private def plantedSitemapBody: org.apache.spark.sql.Column = {
    val k = pmod(col("doc_id"), lit(7L))
    when(pmod(col("doc_id"), lit(10L)) === 0L,
      concat(lit("<?xml version=\"1.0\"?><sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\"><sitemap><loc>https://h"),
        k, lit(".example.com/sitemap"), col("doc_id"),
        lit(".xml.gz</loc></sitemap></sitemapindex>")))
      .otherwise(concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>https://h"), k,
        lit(".example.com/p/"), col("doc_id"),
        lit("?a=1&amp;b=2</loc><lastmod>2024-01-0"),
        pmod(col("doc_id"), lit(9L)) + 1L,
        lit("</lastmod></url><!-- c --><url><loc><![CDATA[https://h"), k,
        lit(".example.com/q/"), col("doc_id"),
        lit("]]></loc></url></urlset>")))
  }

  private def qSitemap(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.sources.Sitemap.sitemapEntries(
      d.select(col("doc_id").cast("string").as("sid"), plantedSitemapBody.as("body")))
      .orderBy(col("sid"), col("loc"))
  }

  /** Crawl-frontier composition (VERDICT r7 #5): the five politeness/
    * frontier operators under ONE plan — sitemap scan → URL
    * canonicalization + frontier dedup → blocklist → robots gate →
    * per-host cap — with per-stage (url, host) survival counts: the
    * politeness analogue of q_curation_funnel. Every stage reuses an
    * operator with its own standalone oracle; the funnel oracle is the
    * plant's ground-truth composition. */
  private def qFrontierFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops._
    def stat(idx: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_urls"),
        countDistinct(UrlOps.host(col("url"))).as("n_hosts"))
        .select(lit(idx.toLong).as("stage_idx"), lit(name).as("stage"),
          col("n_urls"), col("n_hosts"))

    val d = t(s, dir, "documents")
    // stage 0 — sitemap scan: url entries only (sitemapindex locs are
    // frontier-of-frontiers, not fetchable pages)
    val s0 = graft.sources.Sitemap.sitemapEntries(
        d.select(col("doc_id").cast("string").as("sid"), plantedSitemapBody.as("body")))
      .filter(col("kind") === "url").select(col("loc").as("url"))
      .transform(ckpt)
    // stage 1 — canonicalize + frontier dedup (the per-url identity)
    val s1 = s0.select(UrlOps.canonicalize(col("url")).as("url")).distinct()
      .transform(ckpt)
    // stage 2 — URL blocklist: one host rule that hits (h5), one prefix
    // rule that hits (h1's /q/ subtree), one no-op host rule
    val blRules = Seq(
      ("h5.example.com", "host"),
      ("https://h1.example.com/q/", "prefix"),
      ("never.example.com", "host")).toDF("rule", "kind")
    val s2 = UrlFilter.blocklistFilter(s1, blRules).transform(ckpt)
    // stage 3 — robots gate: every host disallows /q; h0-h2 re-allow the
    // /q/ subtree (longest-match Allow override); h3 blocks everything
    val hosts = s.range(7).select(
      concat(lit("h"), col("id"), lit(".example.com")).as("host"),
      col("id").as("hid"))
    val rBody = concat(lit("User-agent: *\nDisallow: /q\n"),
      when(col("hid") < 3L, lit("Allow: /q/\n")).otherwise(lit("")),
      when(col("hid") === 3L, lit("Disallow: /\n")).otherwise(lit("")))
    val rRules = Robots.parseRobots(hosts.select(col("host"), rBody.as("body")))
    val s3 = Robots.robotsGate(s2, rRules)
      .filter(col("allowed")).drop("allowed").transform(ckpt)
    // stage 4 — per-host frequency cap: newest docs win (doc id DESC,
    // /p before /q on the same doc); uid = 2·doc_id + isq is unique per
    // url (the capPerGroup id contract)
    val did = regexp_extract(col("url"), "/[pq]/(\\d+)", 1).cast("long")
    val withId = s3.select(col("url"), UrlOps.host(col("url")).as("host"),
      (did * 2 + when(col("url").contains("/q/"), 1L).otherwise(0L)).as("uid"),
      did.as("nid"))
    val s4 = Selection.capPerGroup(withId, "host", 40, "nid", "uid")
      .select(col("host"))
    val s4stat = s4.agg(count(lit(1)).as("n_urls"),
        countDistinct(col("host")).as("n_hosts"))
      .select(lit(4L).as("stage_idx"), lit("host_cap").as("stage"),
        col("n_urls"), col("n_hosts"))

    stat(0, "sitemap_urls", s0)
      .unionByName(stat(1, "canonical", s1))
      .unionByName(stat(2, "blocklist", s2))
      .unionByName(stat(3, "robots", s3))
      .unionByName(s4stat)
      .orderBy(col("stage_idx"))
  }

  /** Split-leakage scrub over the q_minhash_lsh planted union: echoes of
    * every 10th doc guarantee cross-split near-dup pairs, whose train
    * sides must drop while test sides and clean train docs survive. */
  private def qLeakageScrub(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near dup copy")).as("text"))
    graft.ops.Dedup.splitLeakageScrub(d.unionByName(planted))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled (α = 1/2) mixture sampling over a PLANTED skewed
    * source split (60/30/10 — the parquet sources are uniform, which
    * would make every rate 1.0 and the oracle vacuous): big is kept at
    * 1/√6, mid at 1/√3, small fully. */
  private def qTempSample(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10L)) < 6L, lit("big"))
        .when(pmod(col("doc_id"), lit(10L)) < 9L, lit("mid"))
        .otherwise(lit("small")).as("source"))
    graft.ops.Splits.temperatureSample(d)
      .select(col("doc_id"), col("source")).orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: 3-shingle overlap of every doc against
    * the "benchmark" subset (doc_id % 97 == 0). */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Contamination.overlap(docs, docs.filter(col("doc_id") % 97 === 0))
      .orderBy(col("doc_id"))
  }

  /** Rational-idf BM25 against a fixed probe-term set. */
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ranking.bm25(t(s, dir, "documents"),
      Seq("spark", "join", "window", "vector", "stream"))

  /** Gopher-style repetition statistics. */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.repetitionStats(t(s, dir, "documents"))

  /** Greedy two-level sequence packing into 200-token bins per
    * (source, salted sub-shard) — shard count shared with the oracle. */
  private def qPackBins(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packGreedy(t(s, dir, "documents"), budget = 200,
        shards = PackShards)
      .orderBy(col("source"), col("doc_id"))

  /** Bin-utilization report over the packed corpus (docs/bin, used
    * tokens, fill fraction) — the packing-efficiency summary a data
    * loader monitors; bin identity is (source, shard, bin). */
  private def qPackStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packStats(
      graft.ops.Packing.packGreedy(t(s, dir, "documents"), budget = 200,
        shards = PackShards), budget = 200)
      .orderBy(col("source"), col("shard_id"), col("bin_id"))

  /** Approximate quantiles from a bottom-k uniform sample (mergeable O(k)
    * state — the scale path where exact percentile would sort the group). */
  private def qSketchQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.sampleQuantiles(t(s, dir, "documents"),
      "source", "n_chars", k = 16)
      .orderBy(col("source"))

  /** Exact top-k frequent tokens per source via SpaceSaving candidates +
    * exact recount (sketch-then-verify: deterministic final answer).
    * m = 256 >> the fixture vocabulary (~31 tokens), so the candidate set
    * is structurally complete at ANY scale factor of this corpus family —
    * the oracle's unconditional equality never depends on a data-shape
    * certification margin. */
  private def qHeavyTokens(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.heavyTokens(t(s, dir, "documents"), "source", k = 5, m = 256)
      .orderBy(col("source"), col("rank"))

  /** Incremental crawl dedup: Bloom prefilter (no false negatives) +
    * exact anti-join verify of the might-contain candidates. Batch =
    * genuinely-new docs plus planted copies of seen texts; output = the
    * new docs only (exact). */
  private def qIncrementalNew(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val seen = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 8 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    graft.ops.Dedup.incrementalNew(seen, batch).orderBy(col("doc_id"))
  }

  /** The planted near-dup batch over the seen corpus `docs`:
    * suffix-injected near-copies (re-crawls with boilerplate drift — each
    * ≥ 0.5 Jaccard to its source) + genuinely fresh docs. ONE plant for
    * q_incremental_neardup and q_store_neardup, which keeps the two paths
    * row-identical by construction (they share one oracle). */
  private def nearDupBatch(docs: DataFrame): DataFrame = {
    val nearCopies = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" near dup copy")).as("text"))
    val fresh = docs.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("entirely fresh synthetic content block "),
          col("doc_id") + 3000000L, lit(" qq ww ee rr tt")).as("text"))
    nearCopies.union(fresh)
  }

  /** Incremental NEAR-dup crawl dedup: documents is the seen corpus, the
    * batch is [[nearDupBatch]]; [[graft.ops.Dedup.incrementalNearDup]]
    * keeps only the fresh docs. */
  private def qIncrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Dedup.incrementalNearDup(docs, nearDupBatch(docs), 0.5)
  }

  /** Cross-crawl near-dup dedup against a PERSISTED band-key store
    * (VERDICT r7 #2): the same [[nearDupBatch]] plant, but the seen
    * corpus's signatures are committed once to a NearDupStore and the
    * batch joins the STORED keys — same oracle SQL as the recompute path
    * (the two paths must be row-identical by construction). */
  private def qStoreNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft-ndstore").toString
    graft.ops.NearDupStore.append(root, docs)
    graft.ops.NearDupStore.incrementalNearDup(root, nearDupBatch(docs), 0.5)
  }

  /** Text normalization over a deterministically-messied corpus (the
    * driver texts are already clean, so tabs/controls/newline layout and
    * sentence punctuation are planted identically on both engines):
    * control-strip, whitespace collapse, trim + line/sentence counts. */
  private def qNormalize(s: SparkSession, dir: String): DataFrame = {
    // the u0007/u0001 string escapes mirror the oracle's chr(7)/chr(1) (they
    // were previously RAW bytes here — planted, but invisible to review):
    // both engines exercise the C0-control strip on the same input
    val messy = concat(lit("  \tpad "), col("text"),
      lit("\nsecond  line\u0007 here. Done! Ok? \n\n\ttail\u0001  "))
    graft.ops.Normalize.normalize(
        t(s, dir, "documents").select(col("doc_id"), messy.as("text")))
      .select(col("doc_id"), col("clean_text"), col("n_lines"), col("n_sentences"))
  }

  /** Exact-substring duplication profile (Lee et al. ACL 2022 signal):
    * per-doc fraction of 8-token spans occurring more than once in the
    * corpus, with [[BoilerplateSuffix]] planted on every 3rd doc. */
  private def qDupSpans(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(BoilerplateSuffix)))
        .otherwise(col("text")).as("text"))
    graft.ops.Dedup.duplicatedSpans(planted, k = 8)
  }

  /** Exact-substring CUT over the same planting as q_dup_spans: remove
    * maximal ≥ 12-token runs of corpus-duplicated 8-span coverage. The
    * 12-word boilerplate suffix is a 12-token covered run (its 5 interior
    * spans repeat corpus-wide; boundary spans embed doc-specific words) —
    * exactly minRun, so it is cut; any shorter incidental echo is kept. */
  private def qCutSpans(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(BoilerplateSuffix)))
        .otherwise(col("text")).as("text"))
    graft.ops.Dedup.cutDuplicatedSpans(planted, k = 8, minRun = 12)
  }

  /** Epoch-ordered shard manifest: 64-position shards over the epoch
    * order — the loader-facing index of the training-shard export. */
  private def qTrainShards(s: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.shardManifest(
      graft.ops.Splits.trainingShards(t(s, dir, "documents"),
        maxPerShard = 64L, salt = "epoch1"))
      .orderBy(col("shard_id"))

  /** Deterministic epoch ordering: the reproducible seeded global
    * shuffle, positions assigned in salted-hash order with no
    * single-partition window. */
  private def qEpochOrder(s: SparkSession, dir: String): DataFrame =
    graft.ops.Splits.epochOrder(t(s, dir, "documents"), salt = "epoch1")
      .orderBy(col("epoch_pos"))

  /** Sliding-window chunking: 64-token windows, stride 48 (overlapping
    * context) — the split-long-docs half of sequence shaping. */
  private def qChunks(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.chunkDocs(t(s, dir, "documents"), maxLen = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Concat-and-split loader windows: the corpus in doc_id order cut
    * into 128-token windows with boundary-crossing docs. */
  private def qCtxWindows(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.contextWindows(t(s, dir, "documents"), winLen = 128)
      .orderBy(col("win_id"), col("doc_id"))

  /** robots.txt gate over planted per-host policies: 7 hosts share a
    * base Disallow:/private; hosts 0-2 add Allow:/private/ok (longest-
    * match override), host 3 blocks everything, host 4 plants an empty
    * Disallow (dropped per RFC 9309 §2.2.2); every body carries comment
    * noise, CRLF mixing, and an EvilBot group that must be IGNORED. The
    * oracle reconstructs the RULES directly — if the parser misreads any
    * planted body, the rule sets diverge and the gate mismatches. */
  private def qRobotsGate(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val hostC = concat(lit("h"), pmod(col("doc_id"), lit(7L)), lit(".example.com"))
    val paths = array(lit("/"), lit("/private"), lit("/private/ok"),
      lit("/public/page"), lit("/private/sub"))
    val pages = d.select(col("doc_id"),
      concat(lit("https://"), hostC,
        element_at(paths, (pmod(col("doc_id"), lit(5L)) + 1L).cast("int"))).as("url"))
    val hosts = s.range(7).select(
      concat(lit("h"), col("id"), lit(".example.com")).as("host"),
      col("id").as("hid"))
    val body = concat(
      lit("# planted robots\r\nUser-agent: EvilBot\nDisallow: /\n\n" +
        "User-agent: *\nDisallow: /private\n"),
      when(col("hid") < 3L, lit("Allow: /private/ok\n")).otherwise(lit("")),
      when(col("hid") === 3L, lit("Disallow: /\n")).otherwise(lit("")),
      when(col("hid") === 4L, lit("Disallow:\n")).otherwise(lit("")))
    val rules = graft.ops.Robots.parseRobots(
      hosts.select(col("host"), body.as("body")))
    graft.ops.Robots.robotsGate(pages, rules).orderBy(col("doc_id"))
  }

  /** Content-defined chunking over the documents table: anchor tokens
    * (hash band 1/8) close chunks — variable-size, insertion-robust. */
  private def qCdcChunks(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.cdcChunks(t(s, dir, "documents"), mask = 7)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** CDC chunk-hash dedup profile (the content-addressable-storage view):
    * the q_dup_spans boilerplate plant repeated on every 3rd doc collapses
    * to shared chunk hashes wherever CDC re-syncs — per-doc duplicated-
    * chunk fractions out. */
  private def qChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(BoilerplateSuffix)))
        .otherwise(col("text")).as("text"))
    graft.ops.Packing.cdcChunkDedup(base, mask = 7).orderBy(col("doc_id"))
  }

  /** The q_revisit_delta re-crawl plant: doc_id%4 = 0 unchanged,
    * 1 prepends three tokens (CDC re-sync keeps the tail chunks),
    * 2 appends one token, 3 is a full rewrite (no shared chunks) — one
    * representative per revisit class. ONE definition for the engine
    * query and (textually mirrored) the oracle CASE. */
  private def revisitNewDocs(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(col("doc_id") % 4 === 1, concat(lit("zq1 zq2 zq3 "), col("text")))
        .when(col("doc_id") % 4 === 2, concat(col("text"), lit(" zq9")))
        .when(col("doc_id") % 4 === 3,
          concat(lit("fully rewritten page "), col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"))

  /** Crawl revisit-delta over the re-crawl plant: CDC chunk-hash Jaccard
    * between the stored snapshot and the new crawl, per-doc change
    * fraction + static/low/high revisit class. */
  private def qRevisitDelta(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.ops.Revisit.delta(d.select(col("doc_id"), col("text")),
        revisitNewDocs(d), mask = 7)
      .orderBy(col("doc_id"))
  }

  /** Per-source quantile gate: flag each source's top-1/4 docs by
    * (rule-quality DESC, doc_id) — the percentile cut as an auditable
    * per-doc flag (window-free group ranks). */
  private def qQuantileGate(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val q = graft.ops.TextAnalysis.qualityScore(d)
      .select(col("doc_id"), col("quality_score"))
    graft.ops.Selection.quantileGate(
        d.select(col("doc_id"), col("source")).join(q, Seq("doc_id")),
        "source", num = 1L, den = 4L)
      .select(col("doc_id"), col("source"), col("rank_in_group"),
        col("n_group"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Per-LANGUAGE tier card (the FineWeb2 per-language cut): language-ID
    * each doc, gate each language's top half by quality, report per
    * (language, kept) doc counts and exact-quarters mean quality. */
  private def qLangTier(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val lang = graft.ops.TextAnalysis.langId(d)
      .select(col("doc_id"), col("pred_lang"))
    val q = graft.ops.TextAnalysis.qualityScore(d)
      .select(col("doc_id"), col("quality_score"))
    // langId's per-language intersect profile is the most expensive
    // narrow pass in this query, and quantileGate consumes its input
    // THREE times (rank sort, rank join, group stats) — checkpoint the
    // scored frame once so the scan-side work runs once (r9: 47 s of
    // summed task CPU at sf0.1 collapsed to one pass)
    val scored = ckpt(lang.join(q, Seq("doc_id")))
    val gated = graft.ops.Selection.quantileGate(
      scored, "pred_lang", num = 1L, den = 2L)
    gated.join(scored.select(col("doc_id"), col("quality_score")), Seq("doc_id"))
      .select(col("pred_lang"), col("kept"),
        (col("quality_score") * 4).cast("long").as("q4"))
      .groupBy(col("pred_lang"), col("kept"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q4")).as("sq4"))
      .select(col("pred_lang"), col("kept"), col("n_docs"),
        round(col("sq4").cast("double")
          / (col("n_docs") * 4L).cast("double"), 4).as("mean_quality"))
      .orderBy(col("pred_lang"), col("kept"))
  }

  /** The planted per-host robots META bodies (crawl-delay + sitemap
    * lines) — ONE definition for q_crawl_delay and q_fetch_schedule.
    * Plants: EvilBot group whose Crawl-delay 99 must be IGNORED; hosts
    * 0-2 delay hid+2; host 3 an invalid "abc" (dropped → null); host 4
    * TWO `*` groups (7 then 4 — min wins); 5-6 none. Sitemap lines are
    * file-global: sm-a planted twice (dedup to one), even hosts add
    * sm-b. */
  private def plantedHostMeta(s: SparkSession, dir: String): DataFrame = {
    val hosts = t(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(7L)).as("hid")).distinct()
      .select(concat(lit("h"), col("hid"), lit(".example.com")).as("host"),
        col("hid"))
    val body = concat(
      lit("# meta plant\r\nUser-agent: EvilBot\nCrawl-delay: 99\nDisallow: /\n\n"),
      lit("Sitemap: https://"), col("host"), lit("/sm-a.xml\n"),
      lit("User-agent: *\nDisallow: /private\n"),
      when(col("hid") < 3L, concat(lit("Crawl-delay: "), col("hid") + 2L, lit("\n")))
        .otherwise(lit("")),
      when(col("hid") === 3L, lit("Crawl-delay: abc\n")).otherwise(lit("")),
      when(col("hid") === 4L, lit("Crawl-delay: 7\nUser-agent: *\nCrawl-delay: 4\n"))
        .otherwise(lit("")),
      lit("Sitemap: https://"), col("host"), lit("/sm-a.xml\n"),
      when(col("hid") % 2 === 0,
        concat(lit("Sitemap: https://"), col("host"), lit("/sm-b.xml\n")))
        .otherwise(lit("")))
    graft.ops.Robots.hostMeta(hosts.select(col("host"), body.as("body")))
  }

  /** Crawl-delay + sitemap discovery from robots.txt (the de-facto
    * politeness extension + sitemaps.org autodiscovery): per-host
    * (crawl_delay, n_sitemaps, first_sitemap); the oracle rebuilds the
    * plant's ground truth, so a group-scoping or dedup misread
    * diverges. */
  private def qCrawlDelay(s: SparkSession, dir: String): DataFrame =
    plantedHostMeta(s, dir).orderBy(col("host"))

  /** Politeness fetch schedule: each host's frontier in url order spaced
    * by its crawl-delay (default 1 s) — the per-host ordinal comes from
    * ONE global range-partitioned rank minus the host's min rank, never
    * a per-host window. */
  private def qFetchSchedule(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val hostC = concat(lit("h"), pmod(col("doc_id"), lit(7L)), lit(".example.com"))
    val paths = array(lit("/"), lit("/private"), lit("/private/ok"),
      lit("/public/page"), lit("/private/sub"))
    val pages = d.select(concat(lit("https://"), hostC,
      element_at(paths, (pmod(col("doc_id"), lit(5L)) + 1L).cast("int"))).as("url"))
      .distinct()
    graft.ops.Robots.fetchSchedule(pages, plantedHostMeta(s, dir))
      .orderBy(col("host"), col("ord"))
  }

  /** Z-order clustering key over a derived (host-bucket, ts-bucket)
    * pair — the multi-dim layout sort key (graft_zvalue is the native
    * Morton interleave; the pruning evidence lives in OpsSpec). */
  private def qZValue(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(col("doc_id"),
        pmod(col("doc_id"), lit(64L)).as("x"),
        pmod(col("doc_id") * 7L + 3L, lit(64L)).as("y"))
      .select(col("doc_id"),
        graft.ops.Layout.zValue(col("x"), col("y"), 6).as("zv"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style line dedup over deterministically planted multi-line
    * docs: every doc carries a corpus-duplicated boilerplate line (cased
    * differently on odd docs — the normalized key must still match), a
    * whitespace-only line (always dropped), and every 2nd doc a second
    * duplicated line vs a unique tail on the others. */
  private def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    // COALESCE on BOTH engines: a NULL text would null the whole concat
    // in Spark (1 coalesced empty line downstream) but unnest to ZERO
    // lines from the oracle's nulled planting — divergent on any future
    // fixture with null text (review r6)
    val planted = t(s, dir, "documents").select(col("doc_id"), concat(
      coalesce(col("text"), lit("")), lit("\n"),
      when(col("doc_id") % 2 === 0, lit("all rights reserved"))
        .otherwise(lit("  ALL RIGHTS RESERVED ")),
      lit("\n   \n"),
      when(col("doc_id") % 2 === 0, lit("Subscribe to our newsletter"))
        .otherwise(concat(lit("unique tail "), col("doc_id")))).as("text"))
    graft.ops.Dedup.cutDuplicateLines(planted, minCount = 2)
  }

  /** Host-scoped boilerplate template cut (trafilatura/jusText stage):
    * a per-source header planted in EVERY doc (two case/pad variants →
    * one normalized key) is cut; a ~25% per-source line, the unique body
    * line and BLANK lines are kept; a 2-doc synthetic host exercises the
    * minDocs exemption (its 100% footer survives). */
  private def qHostBoilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").select(col("doc_id"), col("source"), concat(
      when(col("doc_id") % 2 === 0, concat(lit("(c) 2026 "), col("source"), lit(" media")))
        .otherwise(concat(lit("  (C) 2026 "), col("source"), lit(" MEDIA "))),
      lit("\n"), col("doc_id").cast("string"), lit(" "),
      coalesce(col("text"), lit("")), lit("\n\n"),
      when(col("n_chars") % 4 === 0, concat(lit("subscribe to "), col("source")))
        .otherwise(concat(lit("tail "), col("doc_id").cast("string")))).as("text"))
    val tiny = Seq(
      (-1L, "tiny", "shared footer line\nbody a"),
      (-2L, "tiny", "shared footer line\nbody b"))
      .toDF("doc_id", "source", "text")
    graft.ops.Boilerplate.cutHostBoilerplate(base.unionByName(tiny),
      hostCol = "source", minDocs = 3, num = 1, den = 2)
  }

  /** Corpus bigram-LM fluency score — the CCNet/Gopher-style perplexity
    * quality signal, in the exactly-reproducible log-free form. */
  private def qLmFluency(s: SparkSession, dir: String): DataFrame =
    graft.ops.LmScore.bigramFluency(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Order-3 LM fluency (VERDICT r6 #5): the same log-free
    * P = (C_3 + 1)/(C_2 + V) contract at trigram order — most of the
    * signal gap between a bigram screen and a KenLM-class filter. */
  private def qLmTrigram(s: SparkSession, dir: String): DataFrame =
    graft.ops.LmScore.ngramFluency(t(s, dir, "documents"), 3)
      .orderBy(col("doc_id"))

  /** DSIR-style importance scoring: every doc scored by the mean
    * target/raw unigram-model ratio (target = src0/src1 — a 10% "high
    * quality domain" slice), the tilt-toward-target signal of
    * importance-resampling data selection. */
  private def qDsirScore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Importance.dsirScore(t(s, dir, "documents"),
        col("source").isin("src0", "src1"))
      .orderBy(col("doc_id"))

  /** CCNet-style perplexity TIERING: rank every doc by its LM fluency
    * (best first) and split into equal-population head/middle/tail
    * buckets — the bucket-then-mix step CCNet applies after its KenLM
    * score. Rank machinery is the scale-shaped global rank (range
    * partition + ordinal assignment, no single-partition window). */
  private def qPplBuckets(s: SparkSession, dir: String): DataFrame = {
    val fl = graft.ops.LmScore.bigramFluency(t(s, dir, "documents"))
      .transform(ckpt)
    val buckets = graft.ops.Selection.scoreBuckets(fl, "avg_p", 3)
    fl.select(col("doc_id"), col("avg_p"))
      .join(buckets, Seq("doc_id"))
      .select(col("doc_id"), col("avg_p"), col("rank").as("rnk"),
        when(col("bucket") === 0, "head")
          .when(col("bucket") === 1, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("rnk"))
  }

  /** Greedy token-budget selection: quality-ranked docs kept until the
    * cumulative token count reaches the budget — the budget-constrained
    * step of assembling a training mix. Integer-exact distributed
    * prefix sum (no float ordering ambiguity). */
  private def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.ops.TextAnalysis.qualityScore(t(s, dir, "documents"))
    graft.ops.Selection.selectByTokenBudget(scored, budget = 10000L)
      .orderBy(col("cum_tokens"))
  }

  private def bpeMergesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    BpeMerges.toDF("rank", "l", "r")
  }

  /** Subword BPE tokenization (iterative lowest-rank leftmost merge fold
    * per word) — every (doc, word, position, token, vocab id) row; the
    * oracle folds each DISTINCT word once through a recursive CTE with
    * single-occurrence string surgery and joins back. */
  private def qBpeTokens(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.tokenize(t(s, dir, "documents"), bpeMergesDf(s))
      .orderBy(col("doc_id"), col("widx"), col("pos"))

  /** Token-budget selection re-parameterized over SUBWORD counts
    * (VERDICT r7 #4's composition): quality-ranked docs kept until the
    * cumulative BPE token count reaches the budget — the same
    * distributed prefix-sum primitive, real token units. */
  private def qBpeBudget(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val scored = graft.ops.TextAnalysis.qualityScore(d)
      .select(col("doc_id"), col("quality_score"))
      .join(graft.ops.Bpe.tokenCounts(d, bpeMergesDf(s)), Seq("doc_id"))
    graft.ops.Selection.selectByTokenBudget(scored, budget = 20000L,
        tokensCol = "n_bpe_tokens")
      .orderBy(col("cum_tokens"))
  }

  /** BPE merge TRAINING (Sennrich 2016 learn_bpe) replayed end-to-end:
    * 4 merge levels learned from the documents corpus — each level
    * re-tokenizes the distinct-word vocabulary under the merges adopted
    * so far, counts frequency-weighted adjacent pairs, and adopts the
    * (cnt DESC, l, r) argmax. The oracle UNROLLS the same loop as four
    * recursive-CTE fold blocks, so a wrong pair count, tie-break, or
    * merge application at ANY level diverges. */
  private def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.trainMerges(t(s, dir, "documents"), numMerges = 4)
      .select(col("rank").cast("long").as("rank"), col("l"), col("r"),
        col("cnt"))
      .orderBy(col("rank"))

  /** Dataset-card rollup — the per-source statistics table every corpus
    * release publishes (docs, tokens, chars, exact-dup rate, language
    * mix, mean rule-quality): one composed plan over the quality scorer,
    * a corpus-wide dup profile, and a two-phase language argmax. The dup
    * key here is the text itself (oracle-literal, like the curation
    * funnel's stage 2); the production op is Dedup.exact's 16-byte
    * hash+length key. */
  private def qDataCard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val q = graft.ops.TextAnalysis.qualityScore(d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("n_tokens"), (col("quality_score") * 4).cast("long").as("q4"))
    val dupc = d.groupBy(col("text")).agg(count(lit(1)).as("dc"))
    val dup = d.select(col("doc_id"), col("text"))
      .join(dupc, Seq("text"))
      .select(col("doc_id"), (col("dc") >= 2L).as("isdup"))
    val main = q.join(dup, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_total"),
        sum(when(col("isdup"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("q4")).as("sq4"))
    val lc = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    val la = lc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        min(struct((-col("c")).as("nc"), col("lang").as("l"))).as("top"))
      .select(col("source"), col("n_langs"),
        col("top").getField("l").as("top_lang"))
    main.join(la, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars_total"), col("n_dup_docs"), col("n_langs"),
        col("top_lang"),
        round(col("sq4").cast("double")
          / (col("n_docs") * 4L).cast("double"), 4).as("mean_quality"))
      .orderBy(col("source"))
  }

  /** Inverted-index dictionary: per-term (df, cf) corpus statistics —
    * the index-build aggregation, gated at df ≥ 5. */
  private def qInvertedIndex(s: SparkSession, dir: String): DataFrame =
    graft.ops.Index.dictionary(t(s, dir, "documents"))
      .filter(col("df") >= 5L).orderBy(col("term"))

  /** Conjunctive (AND) search through the postings table: every doc
    * containing ALL of {spark, merge, hash}, scored by total probe tf —
    * the probe filter pushes into the scan, the match test is a
    * doc-keyed hash agg. */
  private def qConjSearch(s: SparkSession, dir: String): DataFrame =
    graft.ops.Index.conjunctiveSearch(t(s, dir, "documents"),
        Seq("spark", "merge", "hash"))
      .orderBy(col("doc_id"))

  /** Exact positional phrase search ("batch batch" — the overlapping-
    * occurrence case: "batch batch batch" yields TWO matches): equi-join
    * on (doc, pos+1), text never rescanned. */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    graft.ops.Index.phraseSearch(t(s, dir, "documents"),
        Seq("batch", "batch"))
      .orderBy(col("doc_id"))

  /** Labels for the in-engine classifier training: distill the
    * handcrafted quality rules into {0,1} targets — exact quarters, so
    * the threshold compare is platform-independent. */
  private def trainLabeled(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.qualityScore(t(s, dir, "documents"))
      .select(col("doc_id"), col("text"),
        when(col("quality_score") >= 0.5, lit(1.0)).otherwise(lit(0.0)).as("y"))

  /** Linear classifier TRAINING in-engine (full-batch squared-loss GD,
    * 2 fixed iterations, lr = 1/2): the quality-rule labels distilled
    * into a bag-of-words linear model. The oracle unrolls both GD steps
    * with the identical two-level (doc-bucket → doc) gradient folds, so
    * one addition out of order at ANY step diverges. */
  private def qTrainLinear(s: SparkSession, dir: String): DataFrame =
    graft.ops.Train.linearFit(trainLabeled(s, dir), labelCol = "y",
        iters = 2, lr = 0.5)
      .select(col("tok"), round(col("w"), 6).as("w"))
      .orderBy(col("tok"))

  /** The trained model deployed on the EXISTING inference path
    * ([[graft.ops.Classifier.linearScore]]'s position-ordered mean
    * fold): train → score in one composed query — the CCNet/GPT-3
    * distill-then-gate recipe end-to-end. */
  private def qDistillScore(s: SparkSession, dir: String): DataFrame = {
    val model = graft.ops.Train.linearFit(trainLabeled(s, dir),
      labelCol = "y", iters = 2, lr = 0.5)
    // the bias is a one-row scalar by construction — the k-means
    // centroid-collect precedent (model-scale driver state only)
    val bias = model.filter(col("tok").isNull).head().getDouble(1)
    graft.ops.Classifier.linearScore(t(s, dir, "documents"),
        model.filter(col("tok").isNotNull), bias)
      .orderBy(col("doc_id"))
  }

  /** Strict labels for the calibration sweep: ALL four quality rules
    * must pass (quality == 1.0 exact quarters) — unlike [[trainLabeled]]
    * 's >= 0.5 bar this has a real negative class (~7% of the synthetic
    * corpus fails one rule), so the confusion cells are non-trivial. */
  private def evalLabeled(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.qualityScore(t(s, dir, "documents"))
      .select(col("doc_id"), col("text"),
        when(col("quality_score") >= 1.0, lit(1.0)).otherwise(lit(0.0)).as("y"))

  /** Classifier calibration: train on the strict labels, score the
    * corpus on the existing inference path, sweep the dyadic threshold
    * ladder against those SAME labels — per-threshold confusion counts
    * + precision/recall in ONE conditional-agg pass (no row
    * amplification). The compare runs on the 4-decimal ROUNDED score
    * both engines verify identical in the distill chain.
    *
    * The strict labels are computed ONCE (checkpointed): the trainer and
    * the calibration join both need `y`, and an un-shared frame paid the
    * full quality-rule pass (token/stopword/alpha analysis over every
    * doc) twice per query (r9 listener: the second pass was most of the
    * eval-vs-distill task-time gap). Deliberate tradeoff: the trainer's
    * internal checkpoint re-materializes (did, y, __text) from this one,
    * so the corpus text is held in two (disk-spillable) checkpoint
    * copies for the query's duration — the alternatives are recomputing
    * the quality pass (the bug this fixes) or routing text through a
    * doc_id join (a corpus-text shuffle at scale). */
  private def qClassifierEval(s: SparkSession, dir: String): DataFrame = {
    val labeled = ckpt(evalLabeled(s, dir))
    val model = graft.ops.Train.linearFit(labeled,
      labelCol = "y", iters = 2, lr = 0.5)
    val bias = model.filter(col("tok").isNull).head().getDouble(1)
    val scored = graft.ops.Classifier.linearScore(t(s, dir, "documents"),
        model.filter(col("tok").isNotNull), bias)
      .select(col("doc_id"), col("score"))
      .join(labeled.select(col("doc_id"), col("y")), Seq("doc_id"))
    graft.ops.Eval.confusionSweep(scored, "score", "y", EvalThresholds)
      .orderBy(col("threshold"))
  }

  /** BM25-ranked retrieval THROUGH the inverted index (top-50 over the
    * q_bm25 probe set): candidate postings only — the probe filter lands
    * before the index shuffle, text is never rescanned, and the per-doc
    * score folds in literal term order (each per-term conditional agg
    * covers exactly one (term, doc) row). */
  private def qRankedSearch(s: SparkSession, dir: String): DataFrame =
    graft.ops.Index.rankedSearch(t(s, dir, "documents"),
      Seq("spark", "join", "window", "vector", "stream"), k = 50)

  /** Skip-gram co-occurrence + log-free PMI ratio (window 2, pairs seen
    * ≥ 5×): the embedding-training pair table / collocation card. */
  private def qCooccur(s: SparkSession, dir: String): DataFrame =
    graft.ops.Cooccur.pairCounts(t(s, dir, "documents"),
        window = 2, minCount = 5L)
      .orderBy(col("a"), col("b"))

  /** BM25 top-40 THROUGH the PERSISTED two-increment index store: the
    * corpus split by doc_id parity, each half committed as its own crawl
    * increment, the search running on the stored postings/doclen union.
    * The oracle is the single-pass recompute statement — increments
    * composing back to exactly the full-corpus scores IS the store's
    * correctness claim. */
  private def qIndexStore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft-idxstore").toString
    graft.ops.IndexStore.append(root, docs.filter(col("doc_id") % 2 === 0))
    graft.ops.IndexStore.append(root, docs.filter(col("doc_id") % 2 === 1))
    graft.ops.IndexStore.rankedSearch(s, root, IndexStoreTerms, k = 40)
  }

  /** Takedown THROUGH the persisted index: two appended crawls, a
    * tombstone delete of every doc_id ≡ 2 (mod 7), then ranked search —
    * which must return exactly a recompute over the SURVIVING corpus
    * (the deleted docs leave the postings AND the corpus stats: N and
    * avgdl shift, so every score moves — a pure result-row filter would
    * hash-mismatch). The oracle is the same ranked-search statement over
    * `documents` minus the tombstoned ids. */
  private def qStoreDelete(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("graft-idxdel").toString
    graft.ops.IndexStore.append(root, docs.filter(col("doc_id") % 2 === 0))
    graft.ops.IndexStore.append(root, docs.filter(col("doc_id") % 2 === 1))
    graft.ops.IndexStore.delete(root,
      docs.filter(col("doc_id") % 7 === 2).select(col("doc_id")))
    graft.ops.IndexStore.rankedSearch(s, root, IndexStoreTerms, k = 40)
  }

  /** Doc-tier extraction — the per-source training-tier table (the
    * RefinedWeb/FineWeb release shape): exact-dup and repetition culls,
    * then head/middle/tail by the exact-quarters rule-quality score,
    * rolled up per (source, tier). Composes three individually-oracled
    * signals under one plan. */
  private def qDocTiers(s: SparkSession, dir: String): DataFrame = {
    // plant every tier: low-quality variants (a one-char-word doc scores
    // 0.5 = middle, a symbol doc 0.25 = tail) and exact-dup re-crawls
    val pd = t(s, dir, "documents").select(col("doc_id"), col("source"),
      when(col("doc_id") % 17 === 3, lit("a 1 2 3 4 5"))
        .when(col("doc_id") % 17 === 5, lit("### ### ###"))
        .otherwise(col("text")).as("text"))
    val d = pd.union(pd.filter(col("doc_id") % 23 === 1)
      .select(col("doc_id") + 5000000L, col("source"), col("text")))
    val q = graft.ops.TextAnalysis.qualityScore(d)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val r = graft.ops.TextAnalysis.repetitionStats(d)
      .select(col("doc_id"), col("repetitive"))
    val dupc = d.groupBy(col("text")).agg(count(lit(1)).as("dc"))
    val dup = d.select(col("doc_id"), col("source"), col("text"))
      .join(dupc, Seq("text"))
      .select(col("doc_id"), col("source"), (col("dc") >= 2L).as("isdup"))
    q.join(r, Seq("doc_id")).join(dup, Seq("doc_id"))
      .select(col("source"), col("n_tokens"),
        when(col("isdup"), "cull_dup")
          .when(col("repetitive"), "cull_rep")
          .when(col("quality_score") >= 0.75, "head")
          .when(col("quality_score") >= 0.5, "middle")
          .otherwise("tail").as("tier"))
      .groupBy(col("source"), col("tier"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("source"), col("tier"))
  }

  /** Host-tier extraction — the graph × quality axis: link-graph
    * PageRank authority joined with per-host corpus quality, tiered by
    * a dyadic pr threshold and an INTEGER cross-multiplied mean-quality
    * bar (sq4·2 ≥ n·4 ⇔ mean ≥ 0.5 — no float compare at all). Hosts
    * seen only as link targets tier on authority alone. */
  private def qHostTier(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val edges = d.select((col("doc_id") % 13).as("src"),
        (lit(100L) + col("doc_id") % 7).as("dst"))
      .union(d.select((col("doc_id") % 13).as("src"),
        (lit(200L) + col("doc_id") % 5).as("dst")))
      .distinct()
    val pr = graft.ops.Graph.pageRank(edges, iters = 4)
    val hq = graft.ops.TextAnalysis.qualityScore(d)
      .select((col("doc_id") % 13).as("host"),
        (col("quality_score") * 4).cast("long").as("q4"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q4")).as("sq4"))
    pr.join(hq, pr("node") === hq("host"), "left")
      .select(col("node").as("host"),
        coalesce(col("n_docs"), lit(0L)).as("docs"),
        round(col("sq4").cast("double")
          / (col("n_docs") * 4L).cast("double"), 4).as("mean_quality"),
        round(col("pr"), 6).as("pr"),
        when(round(col("pr"), 6) >= 0.03125, "authority")
          .when(col("n_docs").isNull, "linked_only")
          // mean quality >= 0.98 = 49/50, INTEGER cross-multiplied:
          // sq4/(4n) >= 49/50  <=>  25*sq4 >= 98*n
          .when(col("sq4") * 25L >= col("n_docs") * 98L, "quality")
          .otherwise("cull").as("tier"))
      .orderBy(col("host"))
  }

  /** Subword compression data-card: per-source chars/token and
    * tokens/word under the BPE merge table — the tokenizer-efficiency
    * statistic every corpus release reports (and the denominator
    * sanity-check for subword token budgets). */
  private def qBpeCompression(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val counts = graft.ops.Bpe.tokenCounts(d, bpeMergesDf(s))
    d.select(col("doc_id"), col("source"), col("n_chars").cast("long").as("nc"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("nw"))
      .join(counts, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("nw")).as("n_words"),
        sum(coalesce(col("n_bpe_tokens"), lit(0L))).as("n_bpe_tokens"))
      .select(col("source"), col("n_docs"), col("n_chars"), col("n_words"),
        col("n_bpe_tokens"),
        round(col("n_chars").cast("double")
          / greatest(col("n_bpe_tokens"), lit(1L)).cast("double"), 4)
          .as("chars_per_token"),
        round(col("n_bpe_tokens").cast("double")
          / greatest(col("n_words"), lit(1L)).cast("double"), 4)
          .as("tokens_per_word"))
      .orderBy(col("source"))
  }

  /** Host-graph PageRank over a planted deterministic link graph (hosts
    * = doc_id residues, one link per doc) — 4 fixed iterations of the
    * bit-exact ordered-fold power iteration, damping 0.85. */
  private def qHostPagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "documents")
      .select((col("doc_id") % 101).as("src"),
        ((col("doc_id") * 7 + 3) % 101).as("dst"))
    graft.ops.Graph.pageRank(edges, iters = 4)
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .orderBy(col("node"))
  }

  /** The planted url mix — deterministic MESSY url spellings built from
    * doc_id (mixed-case scheme/host, default and non-default ports,
    * fragments, queries, missing paths, non-http schemes). ONE definition
    * shared by q_url_canonical (collapse to the canonical per-url
    * identity the north rule keys on) and q_url_blocklist. */
  private def plantedUrl: org.apache.spark.sql.Column =
    when(col("doc_id") % 5 === 0,
        concat(lit("HTTP://Host-"), col("doc_id") % 7,
          lit(".Example.COM:80/dir//page-"), col("doc_id"),
          lit(".html#frag"), col("doc_id")))
      .when(col("doc_id") % 5 === 1,
        concat(lit("https://CDN.example.org:443/assets/doc"), col("doc_id"),
          lit("?v="), col("doc_id") % 9, lit("&x=A#top")))
      .when(col("doc_id") % 5 === 2,
        concat(lit("http://User"), col("doc_id") % 3, lit("@host-"),
          col("doc_id") % 7, lit(".example.com:8080/p/"), col("doc_id")))
      .when(col("doc_id") % 5 === 3, lit("HTTPS://Example.NET"))
      .otherwise(concat(lit("ftp://Files.Example.com:21/pub/f"), col("doc_id")))

  private def qUrlCanonical(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id")).withColumn("url", plantedUrl)
      .select(col("doc_id"), col("url"),
        graft.ops.UrlOps.canonicalize(col("url")).as("canon_url"),
        graft.ops.UrlOps.host(col("url")).as("host"))

  /** URL blocklist gate (UT1-style, ops/UrlFilter): host rules + prefix
    * rules over the same planted url mix — two hosts and two prefixes
    * hit (incl. a whole-host prefix), one of each is a no-op; the common
    * case is pruned corpus-side by the rule-host Bloom and never joins. */
  private def qUrlBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = Seq(
      ("host-3.example.com", "host"),
      ("files.example.com", "host"),
      ("never.example.com", "host"),
      ("https://cdn.example.org/assets/doc1", "prefix"),
      ("https://example.net/", "prefix"),
      ("http://unused.example.com/x", "prefix")).toDF("rule", "kind")
    val docs = t(s, dir, "documents").select(col("doc_id")).withColumn("url", plantedUrl)
    graft.ops.UrlFilter.blocklistFilter(docs, rules)
      .select(col("doc_id"),
        graft.ops.UrlOps.canonicalize(col("url")).as("canon_url"))
  }

  /** End-to-end curation funnel (VERDICT r4 #9): the tier's operators
    * COMPOSED under one plan — plant PII + exact/near dups → PII gate →
    * exact dedup → near dedup (pair graph + connected components) →
    * benchmark decontamination → train split → sequence packing — with
    * per-stage (docs, tokens) counts as the output: the auditable "what
    * survived each gate" report every pipeline run wants. Every stage
    * reuses an operator that already has its own exact oracle; the funnel
    * oracle is their literal composition in one DuckDB query.
    * Stage 6 reports bins (n_docs = bin count, n_tokens = packed tokens). */
  private def qCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    import graft.ops._
    val tok = (c: org.apache.spark.sql.Column) =>
      when(length(coalesce(c, lit(""))) === 0, 0L)
        .otherwise(size(split(c, " ")).cast("long"))
    def stat(idx: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(tok(col("text"))), lit(0L)).as("n_tokens"))
        .select(lit(idx.toLong).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))

    val base = t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
    val pii = base.select(col("doc_id"), col("source"), piiTextExpr.as("text"))
    // planted degradation: near dups from %10==1 docs (NOT %10==0 — those
    // carry the second planted email and the PII gate would drop them
    // before near-dedup could see them), exact dups from %7==0 docs
    val corpus0 = pii
      .unionByName(pii.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" near dup copy")).as("text")))
      .unionByName(pii.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("source"), col("text")))
      .transform(ckpt) // each stage feeds the stat AND the next stage

    // stage 1 — PII gate: scrub, drop docs with > 3 detections
    val s1 = Scrub.scrub(corpus0)
      .filter(col("n_emails") + col("n_ipv4") + col("n_phones") <= 3)
      .select(col("doc_id"), col("source"), col("clean_text").as("text"))
      .transform(ckpt)
    // stage 2 — exact dedup: smallest id per identical text (at 100 TB the
    // partition key is (xxhash64, length) as in Dedup.exact — text-keyed
    // here so the oracle window is literal)
    val s2 = s1.withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy(col("text"))))
      .filter(col("doc_id") === col("rep")).drop("rep")
      .transform(ckpt)
    // stage 3 — near dedup: word-set jaccard pairs (cost-based strategy) →
    // connected components → keep cluster representatives
    val pairs = Dedup.jaccardAdaptivePairs(s2, "source", threshold = 0.8)
    val reps = Dedup.dedupClusters(s2, pairs)
      .filter(col("doc_id") === col("cluster_id")).select(col("doc_id"))
    val s3 = ckpt(s2.join(reps, Seq("doc_id")))
    // stage 4 — decontamination vs the benchmark subset (scrubbed the same
    // way), drop docs sharing >= half their shingles
    val bench = Scrub.scrub(pii.filter(col("doc_id") % 97 === 0))
      .select(col("doc_id"), col("clean_text").as("text"))
    val clean = Contamination.overlap(s3, bench)
      .filter(col("contamination_frac") < 0.5).select(col("doc_id"))
    val s4 = ckpt(s3.join(clean, Seq("doc_id")))
    // stage 5 — deterministic train split
    val s5 = ckpt(
      Splits.hashSplit(s4).filter(col("split") === "train").drop("split"))
    // stage 6 — sequence packing into 200-token bins per (source, shard)
    val binStat = Packing.packGreedy(s5, budget = 200, shards = PackShards)
      .groupBy(col("source"), col("shard_id"), col("bin_id"))
      .agg(sum(col("n_tokens")).as("toks"))
      .agg(count(lit(1)).as("n_docs"), coalesce(sum(col("toks")), lit(0L)).as("n_tokens"))
      .select(lit(6L).as("stage_idx"), lit("packed_bins").as("stage"),
        col("n_docs"), col("n_tokens"))

    stat(0, "input", corpus0)
      .unionByName(stat(1, "pii_gate", s1))
      .unionByName(stat(2, "exact_dedup", s2))
      .unionByName(stat(3, "near_dedup", s3))
      .unionByName(stat(4, "decontaminated", s4))
      .unionByName(stat(5, "train_split", s5))
      .unionByName(binStat)
      .orderBy(col("stage_idx"))
  }

  /** Backward as-of join (pandas merge_asof shape): each purchase picks
    * the user's latest click at-or-before it within 6 h — the
    * tolerance-banded equi-join of [[graft.ops.TemporalJoin.asofJoin]],
    * no per-key window, no inequality-only join. */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.ops.TemporalJoin.asofJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"),
      keyCol = "user_id", tsCol = "ts", idCol = "event_id",
      toleranceMicros = 6L * 3600L * 1000000L, rightPayload = Seq("value"))
  }

  /** Interval × point join: purchases falling inside each signup's 24 h
    * attribution window for the same user, produced exactly once via
    * bin-bucketed replication ([[graft.ops.TemporalJoin.intervalJoin]]). */
  private def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val day = 86400000000L
    val iv = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        unix_micros(col("ts").cast("timestamp")).as("start_us"),
        (unix_micros(col("ts").cast("timestamp")) + day).as("end_us"))
    val pt = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    graft.ops.TemporalJoin.intervalJoin(iv, pt, binMicros = day, keyCols = Seq("user_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curation_funnel"  -> qCurationFunnel _,
    "q_url_canonical"    -> qUrlCanonical _,
    "q_pii_scrub"        -> qPiiScrub _,
    "q_train_split"      -> qTrainSplit _,
    "q_hash_sample"      -> qHashSample _,
    "q_mixture_sample"   -> qMixtureSample _,
    "q_temp_sample"      -> qTempSample _,
    "q_leakage_scrub"    -> qLeakageScrub _,
    "q_sitemap"          -> qSitemap _,
    "q_stratified_sample" -> qStratifiedSample _,
    "q_contamination"    -> qContamination _,
    "q_bm25"             -> qBm25 _,
    "q_repetition"       -> qRepetition _,
    "q_pack_bins"        -> qPackBins _,
    "q_pack_stats"       -> qPackStats _,
    "q_dup_spans"        -> qDupSpans _,
    "q_cut_spans"        -> qCutSpans _,
    "q_lm_fluency"       -> qLmFluency _,
    "q_lm_trigram"       -> qLmTrigram _,
    "q_ppl_buckets"      -> qPplBuckets _,
    "q_dsir_score"       -> qDsirScore _,
    "q_token_budget"     -> qTokenBudget _,
    "q_host_pagerank"    -> qHostPagerank _,
    "q_url_blocklist"    -> qUrlBlocklist _,
    "q_line_dedup"       -> qLineDedup _,
    "q_host_boilerplate" -> qHostBoilerplate _,
    "q_chunks"           -> qChunks _,
    "q_ctx_windows"      -> qCtxWindows _,
    "q_cdc_chunks"       -> qCdcChunks _,
    "q_zvalue"           -> qZValue _,
    "q_robots_gate"      -> qRobotsGate _,
    "q_crawl_delay"      -> qCrawlDelay _,
    "q_fetch_schedule"   -> qFetchSchedule _,
    "q_chunk_dedup"      -> qChunkDedup _,
    "q_revisit_delta"    -> qRevisitDelta _,
    "q_quantile_gate"    -> qQuantileGate _,
    "q_lang_tier"        -> qLangTier _,
    "q_anchor_text"      -> qAnchorText _,
    "q_epoch_order"      -> qEpochOrder _,
    "q_train_shards"     -> qTrainShards _,
    "q_normalize"        -> qNormalize _,
    "q_sketch_quantiles" -> qSketchQuantiles _,
    "q_heavy_tokens"     -> qHeavyTokens _,
    "q_incremental_new"  -> qIncrementalNew _,
    "q_incremental_neardup" -> qIncrementalNearDup _,
    "q_store_neardup"    -> qStoreNearDup _,
    "q_bpe_tokens"       -> qBpeTokens _,
    "q_bpe_budget"       -> qBpeBudget _,
    "q_bpe_train"        -> qBpeTrain _,
    "q_train_linear"     -> qTrainLinear _,
    "q_distill_score"    -> qDistillScore _,
    "q_inverted_index"   -> qInvertedIndex _,
    "q_conj_search"      -> qConjSearch _,
    "q_phrase_search"    -> qPhraseSearch _,
    "q_ranked_search"    -> qRankedSearch _,
    "q_index_store"      -> qIndexStore _,
    "q_store_delete"     -> qStoreDelete _,
    "q_cooccur"          -> qCooccur _,
    "q_classifier_eval"  -> qClassifierEval _,
    "q_doc_tiers"        -> qDocTiers _,
    "q_host_tier"        -> qHostTier _,
    "q_bpe_compression"  -> qBpeCompression _,
    "q_data_card"        -> qDataCard _,
    "q_frontier_funnel"  -> qFrontierFunnel _,
    "q_warc_roundtrip"   -> qWarcRoundtrip _,
    "x_warc"          -> xWarc _,
    "q_warc_dsv2"     -> qWarcDsv2 _,
    "x_extract_text"  -> xExtractText _,
    "x_validate"      -> xValidate _,
    "x_exports"       -> xExports _,
    "x_lineage"       -> xLineage _,
    "x_provenance"    -> xProvenance _,
    "x_spans"         -> xSpans _,
    "x_best_tables"   -> xBestTables _,
    "x_images"        -> xImages _,
    "x_word_boxes"    -> xWordBoxes _,
    "x_table_sources" -> xTableSources _,
    "x_xbrl_facts"    -> xXbrlFacts _,
    "x_metrics_wer"   -> xMetrics _,
    "x_multimodal"    -> xMultimodal _,
    "q_minhash_lsh"   -> qMinhashLsh _,
    "q_minhash_sig"   -> ((s, dir) => graft.ops.Dedup.minhashSignaturesSql(t(s, dir, "documents"))),
    "q_simhash_pairs" -> qSimhashPairs _,
    "q_cosine_neardup" -> qCosineNearDup _,
    "q_kmeans_cells"  -> qKmeansCells _,
    "q_semdedup"      -> qSemDedup _,
    "q_classifier_score" -> qClassifierScore _,
    "q_ann_topk"      -> qAnnTopK _,
    "q_quant_codes"   -> qQuantCodes _,
    "q_quant_topk"    -> qQuantTopK _,
    "q_pq_codes"      -> qPqCodes _,
    "q_pq_topk"       -> qPqTopK _,
    "q_ann_lsh"       -> qAnnLsh _,
    "q_ann_ivf"       -> qAnnIvf _,
    "q_vector_store"  -> qVectorStore _,
    "q_langid"        -> qLangId _,
    "q_token_counts"  -> qTokenCounts _,
    "q_quality"       -> qQuality _,
    "q_fingerprint"   -> qFingerprint _,
    "q_sessionize"    -> qSessionize _,
    "q1_pricing_summary" -> q1PricingSummary _,
    "q3_top_revenue"     -> q3TopRevenue _,
    "q_window_running"   -> qWindowRunning _,
    "q_argmax_best"      -> qArgmaxBestEvent _,
    "q_section_carry"    -> qSectionCarry _,
    "q_anti_join"        -> qAntiJoin _,
    "q_set_except"       -> qSetExcept _,
    "q_theta_band"       -> qThetaBand _,
    "q_dedup_exact"      -> qDedupExact _,
    "q_dedup_clusters"   -> qDedupClusters _,
    "q_cluster_reps"     -> qClusterReps _,
    "q_host_cap"         -> qHostCap _,
    "q_gopher_rules"     -> qGopherRules _,
    "q_link_graph"       -> qLinkGraph _,
    "q_link_pagerank"    -> qLinkPagerank _,
    "x_dedup_pipeline"   -> xDedupPipeline _,
    "q_scalar_funcs"     -> qScalarFuncs _,
    "q_jaccard_pairs"    -> qJaccardPairs _,
    "q_text_quality"     -> qTextQuality _,
    "q_rollup"           -> qRollup _,
    "q_pivot"            -> qPivot _,
    "q_percentiles"      -> qPercentiles _,
    "q_kmv_distinct"     -> qKmvDistinct _,
    "q_kmv_overlap"      -> qKmvOverlap _,
    "q_cms_counts"       -> qCmsCounts _,
    "q_hll_distinct"     -> qHllDistinct _,
    "q_feature_hash"     -> qFeatureHash _,
    "q_hash_train"       -> qHashTrain _,
    "q_hash_ann"         -> qHashAnn _,
    "q_cluster_split"    -> qClusterSplit _,
    "q_audit_fp"         -> qAuditFingerprint _,
    "q_audit_reconcile"  -> qAuditReconcile _,
    "q_asof_join"        -> qAsofJoin _,
    "q_interval_join"    -> qIntervalJoin _,
  )

  /** The DuckDB oracle per query name (`oracle_sql.json`); the contract
    * lives in `graft.oracle`. */
  def oracleSql: Map[String, String] = graft.oracle.Oracles.oracleSql

  /** Non-recursive fragments of the recursive oracles (`pyfold_sql.json`). */
  def pyfoldSql: Map[String, String] = graft.oracle.Oracles.pyfoldSql
}
