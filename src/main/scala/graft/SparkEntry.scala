package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

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
      else graft.ops.CheckpointScratch.smartCoalesce(graft.ops.Dedup
        .jaccardAdaptivePairs(t(s, dir, "documents"), "source", threshold = 0.8)
        .localCheckpoint(true)))

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
      else graft.ops.CheckpointScratch.smartCoalesceDs(
        graft.spark.ExtractJob.extractDocs(s, pagesFixture(s, n)).localCheckpoint(true)))

  /** Eagerly unpersist a localCheckpoint-backed frame's blocks: dropping
    * the reference alone leaves them to GC + ContextCleaner, whose
    * asynchronous reclaim lands inside subsequent timed bench reps.
    * ONE implementation — CheckpointScratch.drop. */
  private def dropCheckpoint(df: Dataset[_]): Unit =
    graft.ops.CheckpointScratch.drop(df)

  /** Drop all cross-query memo state (Bench calls this before every timed
    * rep so per-query numbers measure the OPERATOR, not a warm memo; it
    * also prevents dead-context Dataset references accumulating in
    * long-lived JVMs). */
  def resetSharedState(): Unit = {
    docsMemo.values.forEach(dropCheckpoint(_))
    pairsMemo.values.forEach(dropCheckpoint(_))
    docsMemo.clear()
    pairsMemo.clear()
    // every op-internal eager checkpoint (funnel stages, tokenized dedup
    // bases, span-pair frames, iteration labels) registers itself in
    // CheckpointScratch — dropped here so no scratch block lingers into
    // the next timed bench rep
    graft.ops.CheckpointScratch.unpersistAll()
  }

  private def scratchCkpt(df: DataFrame): DataFrame =
    graft.ops.CheckpointScratch.ckpt(df)

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

  /** Deterministic dyadic echo perturbation (ADVICE r7: replaces the
    * libm-dependent sin() — the one oracle input that deviated from the
    * log/exp-free bit-exactness discipline): with 0-based index j,
    * pert(j) = (((j·2654435761) mod 1024)/1024 − 1/2)/32 ∈ [−1/64, 1/64)
    * — exact dyadic rationals end to end (the /32 is a power of two), so
    * the float-cast echo is bit-identical across engines by construction,
    * not empirically. Mirrors the hashModel k/1024 weight pattern. */
  private def echoPerturb(x: org.apache.spark.sql.Column,
      i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (x.cast("double") +
      (pmod(i.cast("long") * lit(2654435761L), lit(1024L)).cast("double")
        / lit(1024.0) - lit(0.5)) / lit(32.0)).cast("float")

  /** The same perturbation in DuckDB terms (oracle `i` is 1-based). */
  private val echoPerturbSql: String =
    "CAST(CAST(embedding[i] AS DOUBLE) + " +
      "(CAST(((i - 1) * 2654435761) % 1024 AS DOUBLE) / 1024.0 - 0.5) / 32.0 AS FLOAT)"

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
      .transform(scratchCkpt)
    val toks = docs
      .select(col("source"), explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val truth = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("true_cnt"))
      .transform(scratchCkpt)
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
    * checksum chained across frames). The GRFT fake format survives only
    * as decodeStub's fallback for genuinely unshipped codecs. */
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
      .transform(graft.ops.CheckpointScratch.ckpt)
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

  /** Deterministic mixture sampling: configured per-source rates (the
    * data-mixing step); sources outside the mixture are dropped. */
  val MixtureRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)

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
      .transform(scratchCkpt)
    // stage 1 — canonicalize + frontier dedup (the per-url identity)
    val s1 = s0.select(UrlOps.canonicalize(col("url")).as("url")).distinct()
      .transform(scratchCkpt)
    // stage 2 — URL blocklist: one host rule that hits (h5), one prefix
    // rule that hits (h1's /q/ subtree), one no-op host rule
    val blRules = Seq(
      ("h5.example.com", "host"),
      ("https://h1.example.com/q/", "prefix"),
      ("never.example.com", "host")).toDF("rule", "kind")
    val s2 = UrlFilter.blocklistFilter(s1, blRules).transform(scratchCkpt)
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
      .filter(col("allowed")).drop("allowed").transform(scratchCkpt)
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
    * corpus. Every 3rd doc gets a shared 12-word boilerplate suffix, so
    * those docs carry exactly 5 duplicated spans each (the suffix's
    * interior spans; spans crossing the original↔suffix boundary embed
    * doc-specific words and stay unique). */
  private val BoilerplateSuffix =
    " all rights reserved terms of service apply contact the site administrator today"

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
    val scored = scratchCkpt(lang.join(q, Seq("doc_id")))
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
      .transform(scratchCkpt)
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

  /** The BPE merge table for q_bpe_tokens / q_bpe_budget — a rank-ordered
    * static tokenizer artifact (the merges.txt role), targeting the
    * synthetic vocabulary with MULTI-LEVEL compounding (t+a→ta, ta+ble→
    * table; da+ta→data) and a rank-priority trap: in "window" the rank-9
    * (o,w) merge must fire BEFORE the positionally-earlier rank-11 (i,n)
    * — lowest rank wins, not leftmost pair. ONE Seq feeds the Spark frame
    * AND the oracle VALUES literal. */
  private val BpeMerges: Seq[(Int, String, String)] = Seq(
    (0, "t", "a"), (1, "d", "a"), (2, "da", "ta"), (3, "l", "e"),
    (4, "b", "le"), (5, "ta", "ble"), (6, "k", "e"), (7, "ke", "y"),
    (8, "e", "r"), (9, "o", "w"), (10, "j", "o"), (11, "i", "n"),
    (12, "jo", "in"), (13, "h", "a"), (14, "s", "h"), (15, "ha", "sh"),
    (16, "s", "c"), (17, "a", "n"), (18, "sc", "an"), (19, "z", "q"))

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

  /** Threshold LADDER for the classifier calibration sweep — exact
    * dyadic rationals (k/32) spanning the regression's working range,
    * so the `score >= t` compare is platform-independent and several
    * rungs split the score mass at every sf (the model — and hence the
    * score cluster — shifts with the corpus). ONE definition shared by
    * the engine query and the oracle VALUES list. */
  private val EvalThresholds: Seq[Double] =
    (16 to 26).map(k => k / 32.0)

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
    val labeled = scratchCkpt(evalLabeled(s, dir))
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

  private val IndexStoreTerms = Seq("data", "model", "learning")

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
      .transform(scratchCkpt) // each stage feeds the stat AND the next stage

    // stage 1 — PII gate: scrub, drop docs with > 3 detections
    val s1 = Scrub.scrub(corpus0)
      .filter(col("n_emails") + col("n_ipv4") + col("n_phones") <= 3)
      .select(col("doc_id"), col("source"), col("clean_text").as("text"))
      .transform(scratchCkpt)
    // stage 2 — exact dedup: smallest id per identical text (at 100 TB the
    // partition key is (xxhash64, length) as in Dedup.exact — text-keyed
    // here so the oracle window is literal)
    val s2 = s1.withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy(col("text"))))
      .filter(col("doc_id") === col("rep")).drop("rep")
      .transform(scratchCkpt)
    // stage 3 — near dedup: word-set jaccard pairs (cost-based strategy) →
    // connected components → keep cluster representatives
    val pairs = Dedup.jaccardAdaptivePairs(s2, "source", threshold = 0.8)
    val reps = Dedup.dedupClusters(s2, pairs)
      .filter(col("doc_id") === col("cluster_id")).select(col("doc_id"))
    val s3 = scratchCkpt(s2.join(reps, Seq("doc_id")))
    // stage 4 — decontamination vs the benchmark subset (scrubbed the same
    // way), drop docs sharing >= half their shingles
    val bench = Scrub.scrub(pii.filter(col("doc_id") % 97 === 0))
      .select(col("doc_id"), col("clean_text").as("text"))
    val clean = Contamination.overlap(s3, bench)
      .filter(col("contamination_frac") < 0.5).select(col("doc_id"))
    val s4 = scratchCkpt(s3.join(clean, Seq("doc_id")))
    // stage 5 — deterministic train split
    val s5 = scratchCkpt(
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

  /** The 8 hyperplanes of the LSH bucket signature as DuckDB VALUES rows —
    * pure deterministic constants (Similarity.hyperplane), so the oracle
    * replicates the bucketing EXACTLY: candidates = pairs at Hamming ≤ 1
    * (xor(qb,cb) & (xor(qb,cb)-1) = 0 covers the multi-probe), then the
    * same rounded-cosine rank as q_ann_topk. Double literals print in
    * shortest-roundtrip form and parse back to the identical bits. */
  private def annLshOracle: String = {
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
  private def cosineNearDupOracle: String = {
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
  private def annIvfOracle: String = annIvfOracleFor("embeddings")

  /** The IVF statement parameterized over the centroid TRAINING relation
    * — q_ann_ivf trains on the full table; q_vector_store trains on the
    * store's FIRST increment (even vec_ids) and must return the same
    * probe results as this recompute under those pinned centroids. */
  private def annIvfOracleFor(trainSrc: String): String =
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

  private def kmeansCellsOracle: String =
    s"""WITH ${kmeansCtes("embeddings", 8, 2)}
       |SELECT vec_id, cell, round(cos, 4) AS cos FROM fin ORDER BY vec_id""".stripMargin

  /** q_semdedup oracle: the same k-means chain over base ∪ planted
    * echoes, then within-cell (rank_a < rank_b) pairs AT HYPERPLANE-
    * BUCKET HAMMING ≤ 1 (the engine's mega-cell bucketed join, VERDICT
    * r7 #3, replicated bit-exactly: plane dots are the same 0-seeded
    * left fold in dimension order as ExprEval.hyperplaneSig, so bucket
    * signatures — and hence the candidate set — cannot diverge) at
    * rounded cosine ≥ 0.95 mark the later-ranked member removed. */
  private def semDedupOracle: String = {
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

  /** fnv1a(word) as a DuckDB expression: wrapping 64-bit arithmetic via
    * UBIGINT xor + HUGEINT multiply mod 2^64. list_reduce has no initial-
    * value form in DuckDB 1.0, so the init is PREPENDED to a homogeneous
    * UBIGINT list (reduce uses the first element as the seed). Chars are
    * UTF-16-safe for the BMP corpus (unicode() is per codepoint). */
  private val fnvWordSql: String =
    """list_reduce(
      |        list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |          list_transform(string_split(w, ''), c -> CAST(unicode(c) AS UBIGINT))),
      |        (h2, c2) -> CAST((CAST(xor(h2, c2) AS HUGEINT) * 1099511628211)
      |                        % 18446744073709551616 AS UBIGINT))""".stripMargin

  /** q_fingerprint oracle: the rolling Karp-Rabin fold h = h·P + fnv1a(w)
    * replicated with exact wrapping arithmetic (bit-for-bit vs the native
    * Fingerprint64 expression). */
  private def fingerprintOracle: String =
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
  private def simhashOracle: String =
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

  /** 64-bit wrapping multiply by a CONSTANT in DuckDB: HUGEINT would
    * overflow on a full 64×64 product, so the constant is split into
    * 32-bit halves — x·C mod 2^64 = (x·C_lo + ((x·C_hi mod 2^32)·2^32))
    * mod 2^64, every intermediate < 2^97. */
  private def modmulSql(x: String, c: Long): String = {
    val hi = c >>> 32
    val lo = c & 0xFFFFFFFFL
    s"CAST(((CAST(($x) AS HUGEINT) * $lo + " +
      s"((CAST(($x) AS HUGEINT) * $hi) % 4294967296) * 4294967296) " +
      s"% 18446744073709551616) AS UBIGINT)"
  }

  /** splitmix64 finalizer (Dedup.mix64) as a UBIGINT-domain expression. */
  private def mix64Sql(inner: String): String = {
    val z1 = s"CAST((CAST(($inner) AS HUGEINT) + 11400714819323198485) " +
      s"% 18446744073709551616 AS UBIGINT)"
    val z2 = modmulSql(s"xor($z1, ($z1) >> 30)", 0xBF58476D1CE4E5B9L)
    val z3 = modmulSql(s"xor($z2, ($z2) >> 27)", 0x94D049BB133111EBL)
    s"xor($z3, ($z3) >> 31)"
  }

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

  /** q_minhash_lsh oracle: the ENTIRE pipeline — [[lshKeyCtes]] over the
    * planted-dup union, bucket-join candidates, exact shingle-set Jaccard
    * verify — replicated with exact wrapping integer arithmetic. ~16 s in
    * DuckDB at sf0.01 (17M mix64 rows) — the one slow oracle, but every
    * stage is bit-exact. */
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

  private def minhashLshOracle: String = {
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
  private def leakageScrubOracle: String = {
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
  private def incrementalNearDupOracle: String = {
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

  /** UBIGINT → DOUBLE mirroring Spark's TWO-step conversion exactly:
    * Spark computes fp(signed) + 2⁶⁴ (two roundings) for values ≥ 2⁶³; a
    * single-rounded CAST(UBIGINT AS DOUBLE) can differ by one ulp at a
    * half-ulp tie (double-rounding anomaly). */
  private def unsignedDblSql(c: String): String =
    s"(CASE WHEN $c >= 9223372036854775808 " +
      s"THEN CAST(CAST($c AS HUGEINT) - 18446744073709551616 AS DOUBLE) " +
      s"+ 18446744073709551616.0 ELSE CAST($c AS DOUBLE) END)"

  /** splitmix64-finalized salted fnv1a of 'salt:doc_id' as a UBIGINT
    * expression (mirrors Splits.hashCol: graft_mix64(graft_fnv1a64(...))
    * over the same ASCII string). */
  private def saltedHashSql(salt: String, idExpr: String = "doc_id"): String =
    mix64Sql(s"list_transform(['$salt:' || CAST($idExpr AS VARCHAR)], w -> $fnvWordSql)[1]")

  /** UBIGINT → the same SIGNED 64-bit value Spark's long carries (the
    * q_fingerprint two's-complement reinterpretation, as a helper). */
  private def signedSql(u: String): String =
    s"CAST(CASE WHEN ($u) >= 9223372036854775808 " +
      s"THEN CAST(($u) AS HUGEINT) - 18446744073709551616 " +
      s"ELSE CAST(($u) AS HUGEINT) END AS BIGINT)"

  /** q_classifier_score oracle: identical hash-derived model (signed
    * mix64∘fnv1a, pmod gate + pmod weight, one division), identical
    * position-ordered mean fold and rounded-sign label. */
  private def classifierOracle: String = {
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

  /** q_pii_scrub oracle: identical planted-PII construction, identical
    * RE2-safe patterns, global regexp_replace. */
  private def piiScrubOracle: String = {
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

  /** q_train_split oracle: exact unsigned thresholds from the SAME
    * arithmetic path (Splits.splitThresholds). */
  private def trainSplitOracle: String = {
    val ts = graft.ops.Splits.splitThresholds(Seq(0.8, 0.1, 0.1))
    s"""WITH h AS (SELECT doc_id, source, ${saltedHashSql("split")} AS hu FROM documents)
       |SELECT doc_id, source,
       |  CASE WHEN hu < CAST('${ts(0)}' AS UBIGINT) THEN 'train'
       |       WHEN hu < CAST('${ts(1)}' AS UBIGINT) THEN 'val'
       |       ELSE 'test' END AS split
       |FROM h""".stripMargin
  }

  /** q_mixture_sample oracle: the same per-source unsigned thresholds as
    * exact literals (rate 1.0 keeps unconditionally; absent sources drop). */
  private def mixtureSampleOracle: String = {
    val arms = MixtureRates.toSeq.sortBy(_._1).map { case (src, p) =>
      if (p >= 1.0) s"(source = '$src')"
      else s"(source = '$src' AND hu < CAST('${graft.ops.Splits.thresholdU64(p)}' AS UBIGINT))"
    }.mkString("\n       |   OR ")
    s"""WITH h AS (SELECT doc_id, source, ${saltedHashSql("mix")} AS hu FROM documents)
       |SELECT doc_id, source FROM h
       |WHERE $arms""".stripMargin
  }

  private def hashSampleOracle: String = {
    val t = graft.ops.Splits.thresholdU64(0.25)
    s"""WITH h AS (SELECT doc_id, source, ${saltedHashSql("sample")} AS hu FROM documents)
       |SELECT doc_id, source FROM h WHERE hu < CAST('$t' AS UBIGINT)""".stripMargin
  }

  private def stratifiedSampleOracle: String =
    s"""WITH h AS (SELECT doc_id, source, ${saltedHashSql("strat")} AS hu FROM documents),
       |r AS (SELECT doc_id, source,
       |        row_number() OVER (PARTITION BY source ORDER BY hu, doc_id) AS rk
       |      FROM h)
       |SELECT doc_id, source FROM r WHERE rk <= 5""".stripMargin

  /** q_contamination oracle: the minhash oracle's exact 3-shingle fnv1a
    * construction, then plain overlap counting. */
  private def contaminationOracle: String =
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

  /** q_bm25 oracle: the rational-idf BM25 with every IEEE operation in
    * the Spark expression's exact order (no log, no set-ordered sum). */
  private def bm25Oracle: String = {
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

  private def repetitionOracle: String = repetitionOracleFrom("documents")

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

  /** Shard count for the two-level pack fold — shared by the Spark
    * queries and the oracle CTE (one constant, zero drift). */
  private val PackShards = 4

  /** The greedy two-level pack fold (budget 200, `PackShards` salted
    * sub-shards) as recursive-CTE text — ONE definition shared by
    * q_pack_bins, q_pack_stats and the funnel's pack stage (a drifted
    * copy would silently desync their oracles). The shard is the
    * UBIGINT image of the shared salted row hash, `(h >> 1) % S` —
    * identical bits to Spark's `shiftrightunsigned(h, 1) % S` for ANY S
    * (signed pmod of the raw hash would only agree for power-of-two S).
    * `fill > 0` mirrors the operator: an EMPTY bin is never closed (a
    * zero-token doc at a cell head must not push the next doc into
    * bin 1). Binds CTE names `t0`, `t` and `rec` over a
    * `documents`-shaped relation `src(source, doc_id, text)`. */
  /** The fold's NON-RECURSIVE prep (token counts + salted sub-shard) —
    * also emitted alone as a pyfold fragment so the Python greedy fold
    * verifies the same inputs the recursive CTE consumes. */
  private def packPrepCte(src: String): String =
    s"""t0 AS (
       |  SELECT source, doc_id,
       |    CASE WHEN text IS NULL OR text = '' THEN CAST(0 AS BIGINT)
       |         ELSE CAST(len(string_split(text, ' ')) AS BIGINT) END AS ntok,
       |    CAST(((${saltedHashSql("pack")}) >> 1) % $PackShards AS BIGINT) AS shard
       |  FROM $src)""".stripMargin

  private def packFoldCte(src: String): String =
    s"""${margined(packPrepCte(src))},
       |t AS (
       |  SELECT source, doc_id, ntok, shard,
       |    row_number() OVER (PARTITION BY source, shard ORDER BY doc_id) AS rn
       |  FROM t0),
       |rec AS (
       |  SELECT source, doc_id, ntok, shard, rn, CAST(0 AS BIGINT) AS bin, ntok AS fill
       |  FROM t WHERE rn = 1
       |  UNION ALL
       |  SELECT t.source, t.doc_id, t.ntok, t.shard, t.rn,
       |    CASE WHEN r.fill > 0 AND r.fill + t.ntok > 200 THEN r.bin + 1 ELSE r.bin END,
       |    CASE WHEN r.fill > 0 AND r.fill + t.ntok > 200 THEN t.ntok ELSE r.fill + t.ntok END
       |  FROM rec r JOIN t ON t.source = r.source AND t.shard = r.shard AND t.rn = r.rn + 1)""".stripMargin

  /** q_pack_bins oracle: the greedy fold as a recursive CTE over the
    * per-(source, shard) row sequence (bin state carried row to row). */
  private def packBinsOracle: String =
    s"""WITH RECURSIVE ${margined(packFoldCte("documents"))}
       |SELECT source, doc_id, ntok AS n_tokens, shard AS shard_id,
       |  CAST(bin AS BIGINT) AS bin_id
       |FROM rec""".stripMargin

  /** q_normalize oracle: identical messy construction (chr() for the
    * control/tab/newline bytes), identical RE2-safe patterns. Both
    * engines' `$` semantics agree here because clean_text carries no
    * newlines (all collapsed) and the line counter spells `\n` explicitly. */
  private def normalizeOracle: String = {
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

  /** q_dup_spans oracle: identical boilerplate planting, POSITIONAL
    * 8-token spans (every occurrence, no dedup), fnv1a span hashes,
    * corpus-wide occurrence counts, per-doc duplicated-span tallies. */
  private def dupSpansOracle: String = {
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
  private def cutSpansOracle: String = {
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

  /** q_lm_fluency oracle: the same Laplace-smoothed bigram model with the
    * same log-free arithmetic — each P is one exact division of
    * integer-valued doubles, and the per-doc mean folds positions in
    * ascending order on BOTH engines (list_reduce over a pos-ordered
    * list vs Spark's sorted aggregate), so the doubles match bit-for-bit
    * with no float-sum order ambiguity. */
  private def lmFluencyOracle: String =
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
  private def lmTrigramOracle: String =
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

  /** q_url_blocklist oracle: the canonicalization CTE (the q_url_canonical
    * oracle verbatim) gated by the same host / canonical-prefix rules —
    * exact NOT IN on host, starts_with on canonical url. */
  private def urlBlocklistOracle: String =
    s"""WITH c AS (
       |${margined(urlCanonicalOracle)}
       |)
       |SELECT doc_id, canon_url FROM c
       |WHERE host NOT IN ('host-3.example.com', 'files.example.com', 'never.example.com')
       |  AND NOT starts_with(canon_url, 'https://cdn.example.org/assets/doc1')
       |  AND NOT starts_with(canon_url, 'https://example.net/')
       |  AND NOT starts_with(canon_url, 'http://unused.example.com/x')""".stripMargin

  /** q_line_dedup oracle: identical planting, normalized-key counts,
    * NOT-IN cut, position-ordered string_agg reassembly. */
  private def lineDedupOracle: String =
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
  private def hostBoilerplateOracle: String =
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

  /** q_pack_stats oracle: the SHARED pack fold, then per-bin aggregation
    * (docs, used tokens, fill fraction vs the 200 budget). */
  private def packStatsOracle: String =
    s"""WITH RECURSIVE ${margined(packFoldCte("documents"))}
       |SELECT source, shard AS shard_id, CAST(bin AS BIGINT) AS bin_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ntok) AS BIGINT) AS used,
       |  round(CAST(least(sum(ntok), 200) AS DOUBLE) / 200, 4) AS fill_frac
       |FROM rec GROUP BY source, shard, bin
       |ORDER BY source, shard, bin""".stripMargin

  /** q_cms_counts oracle: the identical CMS construction — shared fnv1a
    * word hash, per-row mix64(h XOR cmsSeed(i)) from the SAME seed
    * constants, low-4-bit buckets (a power-of-two mask agrees between the
    * UBIGINT and signed-long domains), exact cell counts, min-over-rows
    * estimate, joined to exact truth. */
  /** Canonical-row-hash CTE for the audit oracles: signed
    * mix64∘fnv1a over 'doc_id|text' with the same NULL-as-'' form. */
  private def auditHashCte(rel: String, name: String): String =
    s"""$name AS (SELECT source, ${signedSql(mix64Sql(
         "list_transform([CAST(doc_id AS VARCHAR) || '|' || COALESCE(text, '')], w -> " + fnvWordSql + ")[1]"))} AS h
       |  FROM $rel)""".stripMargin

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
  private def hashAnnOracle: String =
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

  /** q_cluster_split oracle: the q_dedup_clusters components chain +
    * the q_train_split salted-threshold CASE applied to cluster_id. */
  private def clusterSplitOracle: String = {
    val ts = graft.ops.Splits.splitThresholds(Seq(0.8, 0.1, 0.1))
    s"""WITH RECURSIVE
       |${margined(jaccardEdgeCtes("documents"))},
       |edges AS (SELECT ia AS s, ib AS t FROM e UNION ALL SELECT ib, ia FROM e),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT eg.t, r.lbl FROM reach r JOIN edges eg ON eg.s = r.id
       |  WHERE r.lbl < eg.t),
       |c AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |h AS (SELECT doc_id, cluster_id,
       |  ${saltedHashSql("csplit", "cluster_id")} AS hu FROM c)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN hu < CAST('${ts(0)}' AS UBIGINT) THEN 'train'
       |       WHEN hu < CAST('${ts(1)}' AS UBIGINT) THEN 'val'
       |       ELSE 'test' END AS split
       |FROM h ORDER BY doc_id""".stripMargin
  }

  private def auditFpOracle: String =
    s"""WITH ${margined(auditHashCte("documents", "af"))}
       |SELECT source, count(*) AS n_rows, bit_xor(h) AS fp
       |FROM af GROUP BY source ORDER BY source""".stripMargin

  private def auditReconcileOracle: String =
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
  private def hllOracle: String = {
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

  private def cmsOracle: String = {
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
  private def pqCodesOracle: String =
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
  private def pqTopkOracle: String =
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

  /** q_sketch_quantiles oracle: same mix64∘fnv1a row hash, k smallest per
    * group (hash-tie → min value, mirroring BottomKSample's merge rule),
    * then quantile_cont == Spark's exact `percentile` on the sample. */
  private def sketchQuantilesOracle: String =
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
  private def heavyTokensOracle: String =
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

  /** q_incremental_new oracle: the Bloom filter is a pure prefilter with
    * no false negatives + exact verify, so the answer IS the anti-join. */
  private def incrementalNewOracle: String =
    s"""WITH seen AS (SELECT text FROM documents WHERE doc_id % 4 <> 0),
       |batch AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 8 = 1)
       |SELECT b.doc_id, b.text
       |FROM batch b ANTI JOIN seen s ON b.text = s.text""".stripMargin

  /** q_url_canonical oracle: identical url construction and the identical
    * RE2 regex decomposition (UrlOps patterns verbatim). */
  private def urlCanonicalOracle: String = {
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

  /** q_curation_funnel oracle: the whole funnel replayed in one DuckDB
    * query — identical PII construction, identical scrub regexes, window
    * exact-dedup, the q_dedup_clusters recursive-CTE components, the
    * contamination shingle machinery, the exact split threshold and the
    * pack-bins recursive fold. Each piece is the (already hash-green)
    * stage oracle, composed. */
  /** Word-set jaccard ≥ 0.8 edge list over a `(doc_id, source, text)`
    * relation — ONE definition shared by the q_dedup_clusters oracle, the
    * funnel oracle and the pyfold fragments (drift here would desync the
    * recursive and Python-fold verification paths). Binds CTE names `d`
    * and `e`. */
  private def jaccardEdgeCtes(src: String): String =
    s"""d AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS words FROM $src),
       |e AS (SELECT a.doc_id AS ia, b.doc_id AS ib
       |      FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
       |      WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
       |          / CAST(len(list_distinct(list_concat(a.words, b.words))) AS DOUBLE) >= 0.8)""".stripMargin

  /** token count expression shared by the funnel oracle fragments. */
  private val funnelTokN = "CASE WHEN text IS NULL OR text = '' THEN 0 " +
    "ELSE len(string_split(text, ' ')) END"

  /** Re-margin an already-stripped multi-line SQL fragment for embedding
    * inside another `stripMargin` template: every interior line gets a
    * leading `|` so the OUTER stripMargin strips exactly that pipe and
    * restores the line verbatim. Without this, fragment lines that start
    * with whitespace + `||` (string concat) lose one pipe to the outer
    * stripMargin and the SQL silently degrades to a bitwise `|`. */
  private def margined(frag: String): String = frag.replace("\n", "\n|")

  /** q_quality oracle: identical ratio arithmetic and band constants as
    * TextAnalysis.qualityScore — also the scoring CTE of q_token_budget
    * (ONE definition for both). */
  private def qualityOracle: String = qualityOracleFrom("documents")

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

  /** q_token_budget oracle: the quality CTE verbatim, then a running
    * BIGINT token sum in (quality DESC, doc_id) order gated at the
    * budget — the single-window form the distributed prefix sum must
    * match exactly. */
  private def tokenBudgetOracle: String =
    s"""WITH q AS (
       |${margined(qualityOracle)}
       |),
       |c AS (SELECT doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM q)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
       |FROM c WHERE cum_tokens <= 10000""".stripMargin

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
  private def bpeTokensOracle: String =
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
  private def bpeBudgetOracle: String =
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
  private def bpeTrainOracle: String = {
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
  private def invertedIndexOracle: String =
    s"""WITH ${margined(indexStreamCtes)},
       |ip AS (SELECT tok AS term, doc_id, count(*) AS tf FROM is2 GROUP BY 1, 2)
       |SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
       |FROM ip GROUP BY 1 HAVING count(*) >= 5 ORDER BY term""".stripMargin

  /** q_conj_search oracle: probe-filtered postings, doc-keyed AND test. */
  private def conjSearchOracle: String =
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
  private def rankedSearchOracle: String =
    rankedSearchOracleFor(Seq("spark", "join", "window", "vector", "stream"), 50)

  /** The ranked-search statement parameterized over (terms, k) — ONE
    * definition shared by q_ranked_search (recompute path) and
    * q_index_store (the same scores must come back THROUGH the persisted
    * two-increment store: union-of-increments postings ≡ full-corpus
    * postings is exactly the store's correctness claim). */
  private def rankedSearchOracleFor(terms: Seq[String], k: Int,
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
  private def cooccurOracle: String =
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

  /** q_doc_tiers oracle: the SAME tier plant (low-quality variants +
    * exact-dup re-crawls), then quality + repetition + text-keyed dup
    * CTEs composed into the tier CASE (same precedence: dup beats
    * repetition beats quality bands), rolled up per (source, tier). */
  /** The CDC chunk-HASH CTE chain (mask = 7 anchor band, identical
    * signed mix64∘fnv1a anchors, pos-ordered chunk text, fnv1a content
    * hash) over an arbitrary (doc_id, text) relation, CTE names prefixed
    * with `p` so two instances coexist in one statement — ends at
    * `${p}ch(doc_id, ci, h)`. ONE definition shared by q_chunk_dedup and
    * q_revisit_delta's two snapshots. */
  /** q_langid oracle: the stopword-overlap argmax with the cascaded-CASE
    * tie-break (language codes in alphabetical order) — ONE definition
    * shared by q_langid and q_lang_tier's language CTE. */
  private def langIdOracle: String =
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

  private def chunkHashCtes(src: String, p: String): String = {
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
  private def revisitDeltaOracle: String =
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

  /** q_quantile_gate oracle: the quality CTE joined to sources, the
    * single-window rank form the engine's global-rank-minus-group-min
    * construction must match, and the BIGINT cross-multiplied keep test
    * ((rig+1)·4 ≤ n·1 ⇔ top quarter). */
  private def quantileGateOracle: String =
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
  private def langTierOracle: String =
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

  private def docTiersOracle: String =
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
  private def bpeCompressionOracle: String =
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

  /** q_data_card oracle: quality CTE + text-keyed dup profile + the
    * row_number form of the language argmax; mean quality via the exact
    * quarters-integer sum and ONE division. */
  private def dataCardOracle: String =
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

  /** q_phrase_search oracle: the (doc, pos+1) adjacency join — counts
    * OVERLAPPING occurrences exactly like the op. */
  private def phraseSearchOracle: String =
    s"""WITH ${margined(indexStreamCtes)}
       |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       |  CAST(min(a.pos) AS BIGINT) AS first_pos
       |FROM is2 a JOIN is2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |WHERE a.tok = 'batch' AND b.tok = 'batch'
       |GROUP BY 1 ORDER BY a.doc_id""".stripMargin

  /** q_train_linear oracle: the trained (tok, w) table plus the NULL-tok
    * bias row, both GD steps replayed exactly. */
  private def trainLinearOracle: String =
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
  private def hashTrainOracle: String =
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
  private def distillScoreOracle: String =
    s"""WITH ${margined(distillChainCtes())}
       |SELECT doc_id, n_tokens, n_hits, score, (score >= 0) AS positive
       |FROM cout ORDER BY doc_id""".stripMargin

  /** q_classifier_eval oracle: the shared train→deploy chain swept over
    * fixed dyadic thresholds against the SAME quality-rule labels the
    * model was trained on — counts are order-independent BIGINTs, the
    * compare runs on the 4-decimal ROUNDED score both engines verified
    * identical, and precision/recall are single guarded divisions. */
  private def classifierEvalOracle: String = {
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

  /** q_frontier_funnel oracle: the plant's ground truth composed —
    * urlset docs contribute exactly their two decoded locs (already in
    * canonical form by construction, so stage 1 is a pure distinct);
    * blocklist drops host h5 + h1's /q/ subtree; robots drops h3
    * entirely and /q on hosts without the Allow override (h4, h6);
    * host cap = per-host top-40 by (doc id DESC, /p-before-/q). */
  private def frontierFunnelOracle: String =
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

  /** q_ppl_buckets oracle: the LM fluency CTE verbatim, ranked best
    * first (avg_p DESC, doc_id tiebreak), bucket = rank·3 div n — the
    * single-window form of the distributed rank. */
  private def pplBucketsOracle: String =
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
  private def dsirOracle: String =
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

  /** q_host_pagerank oracle: the identical fixed expression tree per
    * iteration — contributions pr/od (one division), per-dst in-sums as
    * the TWO-LEVEL ordered fold tree (src % 16 sub-folds in src order,
    * bucket partials in bucket order), dangling mass via the same tree
    * over node id, update (1−d)/n + d·(insum + dm/n). Iterations unroll
    * as CTEs; doubles match the engine bit-for-bit at every step. */
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

  private def pageRankOracle: String = pageRankStatement(
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
  private def linkPagerankOracle: String = pageRankStatement(LinkEdgesSql)

  /** q_host_tier oracle: the unrolled PageRank chain over the shared
    * link-edge plant joined with per-host quality quarters — the tier
    * CASE compares the 6-decimal ROUNDED pr against a dyadic threshold
    * and mean quality via INTEGER cross-multiplication (sq4·2 ≥ n·4),
    * so no raw-float compare exists anywhere in the tier logic. */
  private def hostTierOracle: String =
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

  /** Funnel planted corpus (base + union planting): concat-only, CHEAP
    * to recompute — split out so the pyfold contract can materialize the
    * expensive scrub exactly once and still count stage 0 from here. */
  private def funnelAll0Ctes: String =
    s"""base AS (
       |  SELECT doc_id, source,
       |    text || ' contact user' || doc_id || '@example.com at 10.0.'
       |      || (doc_id % 256) || '.7 or +1-555-'
       |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
       |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |      || (CASE WHEN doc_id % 5 = 0 THEN ' second.contact@test.org' ELSE '' END)
       |      AS text
       |  FROM documents),
       |all0 AS (
       |  SELECT doc_id, source, text FROM base
       |  UNION ALL
       |  SELECT doc_id + 1000000, source, text || ' near dup copy' FROM base WHERE doc_id % 10 = 1
       |  UNION ALL
       |  SELECT doc_id + 3000000, source, text FROM base WHERE doc_id % 7 = 0)""".stripMargin

  /** The triple-regex PII scrub over all0 — the EXPENSIVE prefix stage
    * (dominates the funnel fragments' DuckDB wall time; the pyfold
    * contract materializes it ONCE as `pyscr`, ADVICE r6). */
  private def funnelScrCte: String = {
    val email = graft.ops.Scrub.EmailRe
    val ipv4 = graft.ops.Scrub.Ipv4Re
    val phone = graft.ops.Scrub.PhoneRe
    s"""scr AS (
       |  SELECT doc_id, source,
       |    len(regexp_extract_all(text, '$email'))
       |      + len(regexp_extract_all(text, '$ipv4'))
       |      + len(regexp_extract_all(text, '$phone')) AS hits,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$email', '<EMAIL>', 'g'),
       |      '$ipv4', '<IP>', 'g'),
       |      '$phone', '<PHONE>', 'g') AS text
       |  FROM all0)""".stripMargin
  }

  /** Prefix stages DOWNSTREAM of the scrub over a relation
    * `scrRel(doc_id, source, hits, text)`: PII gate (s1) → exact dedup
    * (s2) → jaccard edge list (d, e). */
  private def funnelPostScrCtes(scrRel: String): String =
    s"""s1 AS (SELECT doc_id, source, text FROM $scrRel WHERE hits <= 3),
       |s2 AS (SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text, min(doc_id) OVER (PARTITION BY text) AS rep FROM s1)
       |  WHERE doc_id = rep),
       |${margined(jaccardEdgeCtes("s2"))}""".stripMargin

  /** The funnel oracle's NON-RECURSIVE prefix: planted corpus → scrub →
    * PII gate (s1) → exact dedup (s2) → jaccard edge list (d, e). Shared
    * verbatim (via the three component builders) by the full recursive
    * oracle and the pyfold fragments. */
  private def funnelPrefixCtes: String =
    s"""${margined(funnelAll0Ctes)},
       |${margined(funnelScrCte)},
       |${margined(funnelPostScrCtes("scr"))}""".stripMargin

  /** The funnel oracle's TAIL given a cluster-representative relation
    * `repsRel(doc_id)` (s2 rows that are their own cluster label):
    * near-dedup survivors (s3) → decontamination (s4) → train split (s5).
    * Shared by the recursive oracle (reps from the reach CTE) and the
    * pyfold fragments (reps from the Python union-find). */
  private def funnelTailCtes(repsRel: String, scrRel: String = "scr"): String = {
    val trainCut = graft.ops.Splits.splitThresholds(Seq(0.8, 0.1, 0.1)).head
    def shlOf(src: String) =
      s"""SELECT doc_id,
         |    CASE WHEN len(ws) = 0 THEN CAST([] AS UBIGINT[])
         |         WHEN len(ws) < 3 THEN list_transform([array_to_string(ws, ' ')], w -> $fnvWordSql)
         |         ELSE list_distinct(list_transform(
         |                list_transform(range(1, len(ws) - 1),
         |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
         |                w -> $fnvWordSql))
         |    END AS shs
         |  FROM (SELECT doc_id,
         |          list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS ws
         |        FROM $src)""".stripMargin
    s"""s3 AS (SELECT s2.doc_id, s2.source, s2.text FROM s2
       |       JOIN $repsRel ON $repsRel.doc_id = s2.doc_id),
       |shlA AS (${shlOf("s3")}),
       |shlB AS (${shlOf(s"(SELECT doc_id, text FROM $scrRel WHERE doc_id % 97 = 0 AND doc_id < 1000000) bq")}),
       |benchsh AS (SELECT DISTINCT unnest(shs) AS sh FROM shlB),
       |docsh AS (SELECT doc_id, unnest(shs) AS sh FROM shlA),
       |tot AS (SELECT doc_id, count(*) AS ns FROM docsh GROUP BY 1),
       |hit AS (SELECT ds.doc_id, count(*) AS nc FROM docsh ds JOIN benchsh USING (sh) GROUP BY 1),
       |s4 AS (SELECT s3.doc_id, s3.source, s3.text FROM s3
       |       LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)
       |       WHERE round(CAST(COALESCE(hit.nc, 0) AS DOUBLE)
       |           / CAST(greatest(COALESCE(tot.ns, 0), 1) AS DOUBLE), 4) < 0.5),
       |s5 AS (SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text, ${saltedHashSql("split")} AS hu FROM s4)
       |  WHERE hu < CAST('$trainCut' AS UBIGINT))""".stripMargin
  }

  private def curationFunnelOracle: String = {
    val tokN = funnelTokN
    s"""WITH RECURSIVE ${margined(funnelPrefixCtes)},
       |edges AS (SELECT ia AS s, ib AS t FROM e UNION ALL SELECT ib, ia FROM e),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM s2
       |  UNION
       |  SELECT eg.t, r.lbl FROM reach r JOIN edges eg ON eg.s = r.id
       |  WHERE r.lbl < eg.t),
       |clus AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
       |reps AS (SELECT id AS doc_id FROM clus WHERE cluster_id = id),
       |${margined(funnelTailCtes("reps"))},
       |${margined(packFoldCte("s5"))},
       |stages AS (
       |  SELECT 0 AS stage_idx, 'input' AS stage, count(*) AS n_docs,
       |    COALESCE(sum($tokN), 0) AS n_tokens FROM all0
       |  UNION ALL SELECT 1, 'pii_gate', count(*), COALESCE(sum($tokN), 0) FROM s1
       |  UNION ALL SELECT 2, 'exact_dedup', count(*), COALESCE(sum($tokN), 0) FROM s2
       |  UNION ALL SELECT 3, 'near_dedup', count(*), COALESCE(sum($tokN), 0) FROM s3
       |  UNION ALL SELECT 4, 'decontaminated', count(*), COALESCE(sum($tokN), 0) FROM s4
       |  UNION ALL SELECT 5, 'train_split', count(*), COALESCE(sum($tokN), 0) FROM s5
       |  UNION ALL SELECT 6, 'packed_bins', count(*), COALESCE(sum(toks), 0)
       |    FROM (SELECT source, shard, bin, sum(ntok) AS toks
       |          FROM rec GROUP BY source, shard, bin))
       |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
       |  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM stages ORDER BY stage_idx""".stripMargin
  }

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
