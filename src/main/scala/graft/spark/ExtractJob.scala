package graft.spark

import graft.core._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The Spark-native extraction pipeline (SURVEY §3 E1 re-expressed).
  *
  * Shape: `pages` scan → salted repartition on url-host (skew defense,
  * SURVEY §4.3) → one narrow typed `mapPartitions` running the whole
  * parse/classify stack on executors (zero further shuffle) → window for
  * section carry-forward → argmax for best table per page. Lineage
  * counters fold inside the same extraction tasks ([[foldLineage]], which
  * `SnapshotStore.run` uses), never from a second pass.
  *
  * The CPU-heavy work is entirely inside the map; the only shuffles are
  * (a) the explicit salt repartition and (b) the provenance window on
  * `url`. At 100 TB the parse stage scales linearly with executors; the
  * window shuffles only the (small) block inventory, never the raw bytes.
  */
object ExtractJob {

  /** Lean output row — the 100-TB hot path (no nested trees encoded).
    * `partitionId`/`elapsedMs` feed the lineage fold without a second
    * extraction pass; `warcTs` is epoch millis of the fetch. */
  final case class ExtractedText(
      url: String,
      text: String,
      lang: String,
      nPages: Int,
      extractor: String,
      usedFallback: Boolean,
      nBlocks: Int,
      nTables: Int,
      nImages: Int,
      bytesIn: Long,
      warcTs: Long,
      partitionId: Int,
      elapsedMs: Long)

  /** Fallback salt fan-out when a caller salts without probing. Prefer
    * [[probeSaltBuckets]]: at 100 TB an Iceberg table sorted by url can
    * concentrate one mega-host arbitrarily, and a blind static S either
    * under-spreads it or pays needless shuffle keys for balanced input. */
  val SaltBuckets = 64

  /** Choose the salt fan-out from a cheap host-skew probe (SURVEY §4.3's
    * promised pre-pass): one column-pruned `groupBy(host).count` aggregate
    * returning two values. Returns 0 — don't salt at all — when the
    * largest host already fits a balanced task (its rows ≤ `skewFactor` ×
    * ideal rows/partition); otherwise S = 4·⌈maxHost / ideal⌉ (at least
    * 2·partitions) clamped to `maxS`. The ⌈maxHost/ideal⌉ minimum makes
    * each salt bucket ≈ one ideal task, but composite keys land in
    * partitions by hash — balls-in-bins collisions stack 2-3 buckets in
    * one task. The 4× headroom smooths that variance and costs only key
    * cardinality, never extra data movement. */
  def probeSaltBuckets(pages: DataFrame, partitions: Int,
      skewFactor: Double = 2.0, maxS: Int = 256): Int = {
    val stats = pages.select(parse_url(col("url"), lit("HOST")).as("h"))
      .groupBy(col("h")).count()
      .agg(max(col("count")), sum(col("count"))).head()
    val maxHost = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val total = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    if (total == 0L) return 0
    val ideal = math.max(total.toDouble / math.max(partitions, 1), 1.0)
    if (maxHost <= skewFactor * ideal) 0
    else math.min(maxS,
      math.max(4 * math.ceil(maxHost / ideal).toInt, 2 * partitions))
  }

  /** Salted repartition keyed on (host, salt): spreads a mega-host over
    * `saltBuckets` tasks while keeping co-host locality for everything
    * else. `parse_url` is Catalyst-native — stays in codegen.
    *
    * Use ONLY when the input store is host-clustered (e.g. an Iceberg table
    * sorted by url): it moves the raw page bytes through a shuffle, which
    * is the single most expensive thing a 100-TB job can do. When input
    * splits are already size-balanced (Parquet row groups usually are),
    * the parse stage is narrow and needs no repartition at all — that is
    * the default hot path (`salted = false`). Size S with
    * [[probeSaltBuckets]] rather than guessing. */
  def saltRepartition(pages: DataFrame, partitions: Int,
      saltBuckets: Int = SaltBuckets): DataFrame =
    pages.repartition(partitions,
      parse_url(col("url"), lit("HOST")),
      pmod(xxhash64(col("url")), lit(saltBuckets)))

  /** The typed page input of [[extractTexts]] and [[extractDocs]].
    * `salted = false` passes the input layout through untouched. With
    * `salted = true` the caller asked for a repartition (their input is
    * badly laid out), so one ALWAYS happens to `defaultParallelism`
    * partitions — what the probe decides is only whether the keys need a
    * salt component and how wide. Balanced hosts → plain round-robin
    * repartition (parallelism guaranteed, no skew keys); skewed →
    * (host, salt) keys with the probed fan-out. Note the probe is an
    * EAGER aggregate — the salted path trades one cheap url-column scan
    * at construction for the right shuffle shape. */
  private def shapeInput(spark: SparkSession, pages: DataFrame,
      salted: Boolean): Dataset[PageRow] = {
    import spark.implicits._
    val in =
      if (!salted) pages
      else {
        val parts = spark.sparkContext.defaultParallelism
        val s = probeSaltBuckets(pages, parts)
        if (s == 0) pages.repartition(parts) else saltRepartition(pages, parts, s)
      }
    in.as[PageRow]
  }

  /** Full extraction to the lean schema, one narrow pass (zero shuffle
    * unless `salted`). */
  def extractTexts(spark: SparkSession, pages: DataFrame,
      salted: Boolean = false): Dataset[ExtractedText] = {
    import spark.implicits._
    shapeInput(spark, pages, salted)
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val t0 = System.nanoTime()
        it.map { row =>
          // text-only fast path: never inflate image payloads this surface
          // can't emit (identical text/counts; r3's richer fixture PDFs made
          // payload decode ~6× of the flagship query's cost)
          val d = Extractor.extract(row, decodeImages = false)
          ExtractedText(d.url, d.text, row.lang, d.nPages, d.extractor, d.usedFallback,
            d.blocks.length, d.tables.length, d.images.length,
            if (row.html == null) 0L else row.html.length.toLong,
            if (row.warc_ts == null) 0L else row.warc_ts.getTime,
            pid, (System.nanoTime() - t0) / 1000000L)
        }
      }
  }

  /** Per-partition lineage rows (SURVEY §4.4) folded from an extraction
    * pass — `elapsedMs` is monotone per partition so max = total time.
    * A job over `extracted`; the store folds the same rows inside its
    * extraction tasks instead ([[foldLineage]]). */
  def lineage(extracted: Dataset[ExtractedText], runId: String, snapshotId: Long): DataFrame =
    extracted.groupBy(col("partitionId").as("partition_id"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(when(col("extractor") === "html", 1L).otherwise(0L)).as("html_count"),
        sum(when(col("extractor").startsWith("pdf"), 1L).otherwise(0L)).as("pdf_count"),
        sum(when(col("usedFallback"), 1L).otherwise(0L)).as("fallback_count"),
        sum(col("nTables")).as("table_count"),
        sum(col("bytesIn")).as("bytes_in"),
        max(col("elapsedMs")).as("extract_ms"),
        min(col("warcTs")).as("warc_ts_min"),
        max(col("warcTs")).as("warc_ts_max"))
      .withColumn("run_id", lit(runId))
      .withColumn("snapshot_id", lit(snapshotId))

  /** The running [[lineage]] row of one extraction partition, column for
    * column (the aggregates of [[lineage]] folded row by row). */
  final class LineageFold extends Serializable {
    private var docs, html, pdf, fallback, tables, bytesIn = 0L
    private var extractMs, tsMax = Long.MinValue
    private var tsMin = Long.MaxValue

    def add(e: ExtractedText): Unit = {
      docs += 1
      if (e.extractor == "html") html += 1
      if (e.extractor != null && e.extractor.startsWith("pdf")) pdf += 1
      if (e.usedFallback) fallback += 1
      tables += e.nTables
      bytesIn += e.bytesIn
      extractMs = math.max(extractMs, e.elapsedMs)
      tsMin = math.min(tsMin, e.warcTs)
      tsMax = math.max(tsMax, e.warcTs)
    }

    def row(partitionId: Int, runId: String, snapshotId: Long): Row =
      Row(partitionId, docs, html, pdf, fallback, tables, bytesIn, extractMs, tsMin, tsMax,
        runId, snapshotId)
  }

  /** Pass-through over `extracted` that folds each task's [[lineage]] rows
    * into `reports`, keyed by partition id, as the rows stream by. Typed
    * on typed, so the optimizer drops the encode/decode between this map
    * and the extraction map: the fold runs inside the extraction tasks. */
  def foldLineage(extracted: Dataset[ExtractedText],
      reports: PartitionReports[LineageFold]): Dataset[ExtractedText] = {
    import extracted.sparkSession.implicits._
    extracted.mapPartitions(_.map { e =>
      reports.fold(e.partitionId, new LineageFold).add(e)
      e
    })
  }

  /** The [[lineage]] rows of folded `reports`, with [[lineage]]'s schema. */
  def lineageRows(spark: SparkSession, reports: Map[Int, LineageFold], runId: String,
      snapshotId: Long): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val schema = lineage(spark.emptyDataset[ExtractedText], runId, snapshotId).schema
    val rows = reports.toSeq.sortBy(_._1).map { case (pid, f) => f.row(pid, runId, snapshotId) }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Full extraction with the complete block/table/image trees (for
    * provenance, metrics, and table sinks). Narrow by default, like
    * [[extractTexts]]. */
  def extractDocs(spark: SparkSession, pages: DataFrame,
      salted: Boolean = false): Dataset[ExtractedDoc] = {
    import spark.implicits._
    shapeInput(spark, pages, salted).mapPartitions(_.map(Extractor.extract))
  }

  /** Provenance records with the W1 running-section label
    * (text_extractor_all.py:287-291): the reference re-initializes
    * `current_section = "UNLABELED"` INSIDE the per-page loop (:287), so a
    * heading never leaks across a page boundary — the window partitions by
    * (url, page). The label is the FIRST LINE of the title/heading block
    * (`block["lines"][0]["text"]`, :291), not its whole text. */
  def provenance(docs: Dataset[ExtractedDoc]): DataFrame = {
    val flat = docs.select(col("url"), explode(col("blocks")).as("b"))
      .select(col("url"), col("b.page").as("page"), col("b.idx").as("idx"),
        col("b.kind").as("block_type"), col("b.text").as("text"),
        when(size(col("b.lines")) > 0,
          element_at(col("b.lines"), 1).getField("text")).as("first_line"),
        col("b.x0"), col("b.y0"), col("b.x1"), col("b.y1"))
    val w = Window.partitionBy(col("url"), col("page")).orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flat.withColumn("section",
      coalesce(
        last(when(col("block_type").isin(BlockKind.Title, BlockKind.Heading),
          col("first_line")), ignoreNulls = true).over(w),
        lit("UNLABELED")))
      .drop("first_line")
      // doc-id parse (text_extractor_all.py:99-104): the reference's
      // "([A-Za-z0-9]+).*?(\d{4})" over the filename stem, applied to the
      // url's last path segment; empty strings when the pattern misses.
      .withColumn("doc_stem", regexp_extract(col("url"), "([^/]+)\\.[a-z]+$", 1))
      .withColumn("company", regexp_extract(col("doc_stem"), "([A-Za-z0-9]+).*?(\\d{4})", 1))
      .withColumn("fiscal_year", regexp_extract(col("doc_stem"), "([A-Za-z0-9]+).*?(\\d{4})", 2))
      .drop("doc_stem")
  }

  /** The Line/Span tier flattened to rows — the reference's layout.json
    * span export (text_extractor_all.py:251-259): per-span font, size,
    * RGB color and the five decode_font_flags style bits, addressable by
    * (url, page, block idx, line_no, span_no). Narrow (explode only). */
  def spans(docs: Dataset[ExtractedDoc]): DataFrame =
    docs.select(col("url"), explode(col("blocks")).as("b"))
      .select(col("url"), col("b.page").as("page"), col("b.idx").as("idx"),
        col("b.kind").as("block_type"),
        posexplode(col("b.lines")).as(Seq("line_no", "l")))
      .select(col("url"), col("page"), col("idx"), col("block_type"),
        col("line_no").cast("long").as("line_no"),
        col("l.text").as("line_text"),
        posexplode(col("l.spans")).as(Seq("span_no", "s")))
      .select(col("url"), col("page"), col("idx"), col("block_type"),
        col("line_no"), col("line_text"),
        col("span_no").cast("long").as("span_no"),
        col("s.text").as("span_text"), col("s.font").as("font"),
        col("s.size").as("size"),
        col("s.colorR").as("color_r"), col("s.colorG").as("color_g"),
        col("s.colorB").as("color_b"),
        col("s.bold").as("bold"), col("s.italic").as("italic"),
        col("s.serif").as("serif"), col("s.monospace").as("monospace"),
        col("s.superscript").as("superscript"))

  /** Distributed text reassembly from the flattened block inventory
    * (SURVEY §2.10 reserve path; O4 ordering discipline): collect the
    * content blocks per url, sort by (page, idx), join with '\n'. Must be
    * byte-identical to the map-side TextAssembly — the invariant that the
    * text surface survives a shuffle round-trip. Pure Catalyst
    * (collect_list + array_sort + transform + array_join). */
  def assembleText(docs: Dataset[ExtractedDoc]): DataFrame =
    docs.select(col("url"), explode(col("blocks")).as("b"))
      .filter(col("b.kind").isin(BlockKind.ContentKinds.toSeq: _*))
      .groupBy(col("url"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("b.page"), col("b.idx"), col("b.text")))),
          x => x.getField("text")),
        "\n").as("text"))

  /** Best table per (url, page): the reference's argmax with Python-max
    * tie-break parity (first max in candidate order wins —
    * text_extractor_all.py:209-216; SURVEY A2). */
  def bestTables(docs: Dataset[ExtractedDoc]): DataFrame = {
    val cands = docs.select(col("url"), explode(col("tables")).as("t"))
      .select(col("url"), col("t.page").as("page"), col("t.cand").as("cand"),
        col("t.method").as("method"), col("t.methodRank").as("method_rank"),
        col("t.rows").as("rows"), col("t.cols").as("cols"),
        col("t.score").as("score"), col("t.cells").as("cells"))
      .filter(col("score") > 0) // reference keeps only scored tables
    val w = Window.partitionBy(col("url"), col("page"))
      .orderBy(col("score").desc, col("method_rank"), col("cand"))
    cands.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }
}
