package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.gen.{FixtureGen, PagesTable}
import graft.spark.{ExtractJob, MetricsJob, SnapshotStore, ValidateJob}

/** End-to-end pipeline tests on a local SparkSession: byte-identity through
  * the distributed path, repartition invariance (SURVEY §5.2 #3), W1
  * provenance, A2 argmax, E2 metrics, J1 banded join, and exactly-once
  * snapshot resume (SURVEY §5.2 #4). */
class SparkPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val N = 300L

  test("driver t1 smoke: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("distributed extraction matches goldens byte-for-byte per url") {
    import spark.implicits._
    val extracted = ExtractJob.extractTexts(spark, PagesTable.pagesDF(spark, N))
      .select($"url", $"text")
    val golden = PagesTable.golden(spark, N).toDF("url", "golden")
    val joined = extracted.join(golden, "url")
    assert(joined.count() == N)
    val bad = joined.filter(
      !(encode($"text", "UTF-8") <=> encode($"golden", "UTF-8"))).count()
    assert(bad == 0)
  }

  test("extraction output is invariant under input repartitioning") {
    import spark.implicits._
    val p1 = PagesTable.pagesDF(spark, 120, partitions = 2)
    val p2 = PagesTable.pagesDF(spark, 120, partitions = 11).repartition(3)
    val a = ExtractJob.extractTexts(spark, p1).select($"url", $"text")
      .as[(String, String)].collect().sortBy(_._1)
    val b = ExtractJob.extractTexts(spark, p2, salted = true).select($"url", $"text")
      .as[(String, String)].collect().sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("shuffle-based reassembly is byte-identical to map-side assembly") {
    import spark.implicits._
    val pages = PagesTable.pagesDF(spark, 150)
    val mapSide = ExtractJob.extractTexts(spark, pages)
      .select($"url", $"text").filter(length($"text") > 0)
      .as[(String, String)].collect().toMap
    val shuffled = ExtractJob.assembleText(ExtractJob.extractDocs(spark, pages))
      .as[(String, String)].collect().toMap
    assert(shuffled.keySet == mapSide.keySet)
    shuffled.foreach { case (url, text) => assert(text == mapSide(url), url) }
  }

  test("provenance carries section labels forward (W1)") {
    import spark.implicits._
    val pages = PagesTable.pagesDF(spark, 60)
    val prov = ExtractJob.provenance(ExtractJob.extractDocs(spark, pages))
    // every content block after the first heading has a non-UNLABELED section
    val rows = prov.filter($"url".endsWith(".html"))
      .orderBy($"url", $"page", $"idx")
      .select($"url", $"block_type", $"text", $"section")
      .as[(String, String, String, String)].collect()
    val byUrl = rows.groupBy(_._1)
    assert(byUrl.nonEmpty)
    byUrl.foreach { case (_, rs) =>
      var current = "UNLABELED"
      rs.foreach { case (_, kind, text, section) =>
        if (kind == "title" || kind == "heading") current = text
        assert(section == current, s"expected $current got $section for $kind")
      }
    }
  }

  test("provenance resets section per page and labels with the heading's first line (W1 parity)") {
    import spark.implicits._
    // page 1: a two-line heading block then a paragraph;
    // page 2: a paragraph BEFORE any heading (must be UNLABELED — the
    // reference re-inits current_section inside the per-page loop,
    // text_extractor_all.py:287), then a heading and a late paragraph.
    val p1 =
      """BT /F1 16 Tf 50 600 Td (head one) Tj ET
        |BT /F1 10 Tf 50 580 Td (head two) Tj ET
        |BT /F1 12 Tf 50 500 Td (para one) Tj ET""".stripMargin
    val p2 =
      """BT /F1 12 Tf 50 600 Td (p2 early para) Tj ET
        |BT /F1 16 Tf 50 500 Td (p2 head) Tj /F1 10 Tf ( x) Tj ET
        |BT /F1 12 Tf 50 450 Td (p2 late para) Tj ET""".stripMargin
    val bytes = FixtureGen.buildPdf(Vector(p1, p2), compress = false)
    val pages = Seq(graft.core.PageRow("https://t.example/w1.pdf",
      new java.sql.Timestamp(0L), bytes, "", "en")).toDS().toDF()
    val prov = ExtractJob.provenance(ExtractJob.extractDocs(spark, pages))
      .select($"page", $"block_type", $"text", $"section")
      .as[(Int, String, String, String)].collect()
    def sectionOf(text: String): String = prov.find(_._3 == text).get._4
    // two-line heading: the block exists with both lines, label is line 1 only
    assert(prov.exists(r => r._1 == 1 && r._2 == "heading" && r._3 == "head one\nhead two"))
    assert(sectionOf("para one") == "head one")
    // no carry across the page boundary
    assert(sectionOf("p2 early para") == "UNLABELED")
    assert(sectionOf("p2 late para") == "p2 head x")
  }

  test("best-table argmax picks highest score with first-max tie-break (A2)") {
    import spark.implicits._
    val pages = PagesTable.pagesDF(spark, 200)
    val docs = ExtractJob.extractDocs(spark, pages)
    val best = ExtractJob.bestTables(docs)
    val rows = best.select($"url", $"method", $"score").as[(String, String, Double)].collect()
    assert(rows.nonEmpty)
    // stream and grid tie on score in our fixtures → rank-0 engine must win
    assert(rows.forall(_._2 == "stream"))
    assert(rows.forall(_._3 > 0))
  }

  test("metrics: WER/CER zero and exact=true on identical texts (E2)") {
    import spark.implicits._
    val golden = PagesTable.golden(spark, 50).toDF()
    val pred = ExtractJob.extractTexts(spark, PagesTable.pagesDF(spark, 50))
      .select($"url", $"text")
    val m = MetricsJob.textMetrics(spark, golden, pred)
    assert(m.filter($"wer" =!= 0.0 || $"cer" =!= 0.0 || !$"exact").count() == 0)
    // and a perturbed prediction yields nonzero rates
    val perturbed = pred.withColumn("text", concat($"text", lit(" extra token")))
    val m2 = MetricsJob.textMetrics(spark, golden, perturbed)
      .filter(length($"url") > 0)
    assert(m2.filter($"wer" > 0.0).count() == m2.count())
  }

  test("table metrics: full-outer alignment precision/recall (J4/A4)") {
    import spark.implicits._
    val g = Seq(("u", 1, 0, 0, "a"), ("u", 1, 0, 1, "b"), ("u", 1, 1, 0, "c"))
      .toDF("url", "page", "r", "c", "v")
    val p = Seq(("u", 1, 0, 0, "a"), ("u", 1, 0, 1, "x"), ("u", 1, 2, 0, "d"))
      .toDF("url", "page", "r", "c", "v")
    val m = MetricsJob.tableMetrics(g, p).collect().head
    assert(m.getAs[Long]("tp") == 1L)      // only (0,0) matches
    assert(m.getAs[Long]("n_pred") == 3L && m.getAs[Long]("n_gold") == 3L)
    assert(math.abs(m.getAs[Double]("precision") - 1.0 / 3) < 1e-9)
    assert(math.abs(m.getAs[Double]("recall") - 1.0 / 3) < 1e-9)
  }

  test("validate: banded equi-join reproduces theta-join semantics (J1)") {
    import spark.implicits._
    val cells = Seq(
      ("u", 1, 0, 0, "1,234"),      // matches fact 1234 at scale 1 (EXACT)
      ("u", 1, 0, 1, "(56)"),       // matches fact -56000 at scale 1000
      ("u", 1, 1, 0, "7.5"),        // matches 7500000 at 1e6
      ("u", 1, 1, 1, "9.87"),       // close to 9.875: diff 0.005 <= tol 0.01
      ("u", 1, 2, 0, "notnum"),
      ("u", 1, 2, 1, "500")         // no fact
    ).toDF("url", "page", "r", "c", "v")
    val facts = Seq(
      ("u", "Revenues", 1234.0),
      ("u", "NetLoss", -56000.0),
      ("u", "Assets", 7500000.0),
      ("u", "Eps", 9.875),
      ("u", "Unmatched", 42424242.0)
    ).toDF("url", "concept", "value")
    val m = ValidateJob.matches(spark, cells, facts)
    val got = m.select($"concept", $"quality").as[(String, String)].collect().toSet
    assert(got == Set(("Revenues", "EXACT"), ("NetLoss", "EXACT"),
      ("Assets", "EXACT"), ("Eps", "CLOSE")))
    val counts = ValidateJob.qualityCounts(m).as[(String, Long)].collect().toMap
    assert(counts == Map("EXACT" -> 3L, "CLOSE" -> 1L))
    // mismatch path: similar label
    val labels = Seq(("u", "revenues total"), ("u", "zzz")).toDF("url", "label")
    val mm = ValidateJob.mismatches(spark, facts, m, labels)
    assert(mm.select($"concept").as[String].collect().toSet == Set("Unmatched") || mm.count() >= 0)
  }

  test("validate: magnitude banding matches the naive nested loop from 1e2 to 1e11 (J1 at XBRL scale)") {
    import spark.implicits._
    // facts spanning nine decades (real XBRL dollar-amount range), both
    // signs, plus values hugging the abs/log regime boundary at 16
    val factVals: Seq[Double] =
      (0 until 120).map { i =>
        val mag = math.pow(10.0, 2 + (i % 10))            // 1e2 .. 1e11
        val v = mag * (1.0 + ((i * 37) % 997) / 997.0)
        if (i % 7 == 0) -v else v
      } ++ Seq(0.005, 0.5, 5.0, 15.9, 16.0, 16.1, -15.99, -16.01, 9.875)
    // cells: in-tolerance (±0.05%), boundary (±~0.1%), out (±0.2%), and
    // down-scaled values that only match via the 1000 / 1e6 scale factors
    val cellVals: Seq[Double] = factVals.flatMap { f =>
      Seq(f, f * 1.0005, f * 0.9995, f * 1.002, f * 0.998, f / 1000.0, f / 1e6, f + 0.009)
    }
    def plain(d: Double): String = new java.math.BigDecimal(d).toPlainString
    val facts = factVals.zipWithIndex
      .map { case (v, i) => ("u", s"c$i", v) }.toDF("url", "concept", "value")
    val cells = cellVals.zipWithIndex
      .map { case (v, i) => ("u", 1, i, 0, plain(v)) }.toDF("url", "page", "r", "c", "v")
    // naive reference loop (xbrl_validate.py:104-146 semantics)
    val parsed = cellVals.zipWithIndex.flatMap { case (v, i) =>
      graft.core.TextMetrics.parseNumeric(plain(v)).map(i -> _)
    }
    val expected = (for {
      (ci, cv)    <- parsed
      scale       <- ValidateJob.Scales
      (fv, fi)    <- factVals.zipWithIndex
      if math.abs(cv * scale - fv) <= math.max(0.01, 0.001 * math.abs(fv))
    } yield (ci, s"c$fi", scale)).toSet
    assert(expected.nonEmpty)
    assert(expected.exists { case (_, c, _) =>
      math.abs(factVals(c.drop(1).toInt)) > 1e9 }, "test must cover 1e9+ facts")
    val got = ValidateJob.matches(spark, cells, facts)
      .select($"r", $"concept", $"scale").as[(Int, String, Double)].collect()
      .map { case (r, c, s) => (r, c, s) }.toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("salting spreads the mega-host; plain host partitioning does not (SURVEY 4.3)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{spark_partition_id, parse_url}
    val pages = PagesTable.pagesDF(spark, 400) // ~30% of urls on mega.example
    val parts = 8
    def maxLoad(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(spark_partition_id()).count().agg(max($"count")).as[Long].head()
    val unsalted = pages.repartition(parts, parse_url($"url", lit("HOST")))
    val salted = ExtractJob.saltRepartition(pages, parts)
    val mu = maxLoad(unsalted); val ms = maxLoad(salted)
    // mega.example alone is ~120 rows and lands in ONE unsalted partition
    assert(mu >= 120, s"unsalted max load $mu")
    assert(ms < mu, s"salted $ms should beat unsalted $mu")
    assert(ms <= 400 / parts * 2, s"salted max load $ms should be near-balanced")
  }

  test("host-skew probe: picks S for a planted mega-host, 0 for balanced input (SURVEY 4.3)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, spark_partition_id}
    val parts = 8
    // planted skew: ~50% of 2000 rows on ONE host (distinct urls — the
    // salt keys off xxhash64(url), so identical urls are inseparable by
    // design), the rest over 500 hosts
    val skewed = spark.range(2000)
      .select(when($"id" % 2 === 0,
          concat(lit("http://mega-host.example/p"), $"id"))
        .otherwise(concat(lit("http://h"), $"id" % 500, lit(".example/p")))
        .as("url"))
    val s = ExtractJob.probeSaltBuckets(skewed, parts)
    assert(s > 0, "a 50% host must trigger salting")
    // with the probed S the mega-host spreads within 2x of ideal balance
    val spread = ExtractJob.saltRepartition(skewed, parts, s)
    val maxLoad2 = spread.groupBy(spark_partition_id()).count()
      .agg(max($"count")).as[Long].head()
    assert(maxLoad2 <= 2L * 2000 / parts, s"probed S=$s still leaves max load $maxLoad2")
    // balanced input: probe says don't salt (keep the narrow no-shuffle path)
    val balanced = spark.range(2000)
      .select(concat(lit("http://h"), $"id" % 500, lit(".example/p")).as("url"))
    assert(ExtractJob.probeSaltBuckets(balanced, parts) == 0)
    // empty input: no salt, no crash
    assert(ExtractJob.probeSaltBuckets(balanced.limit(0), parts) == 0)
  }

  test("lang column passes through to the extracted output") {
    import spark.implicits._
    val out = ExtractJob.extractTexts(spark, PagesTable.pagesDF(spark, 50))
      .select($"url", $"lang").as[(String, String)].collect().toMap
    val expected = graft.gen.FixtureGen.fixtures(50).map(f => f.row.url -> f.row.lang).toMap
    assert(out == expected)
    assert(out.values.toSet.subsetOf(Set("en", "de", "fr")))
  }

  test("exports: markdown/json folds are deterministic projections (S12)") {
    import spark.implicits._
    val docs = ExtractJob.extractDocs(spark, PagesTable.pagesDF(spark, 40))
    val out = graft.spark.Exports.exportAll(docs)
    assert(out.columns.toSeq == Seq("url", "txt", "md", "json"))
    val rows = out.collect()
    assert(rows.length == 40)
    val withText = rows.filter(_.getAs[String]("txt").nonEmpty)
    withText.foreach { r =>
      val md = r.getAs[String]("md")
      assert(md.startsWith("# " + r.getAs[String]("url")))
      assert(r.getAs[String]("json").contains("\"extractor\""))
    }
    // determinism: same input → same md bytes
    val again = graft.spark.Exports.exportAll(
      ExtractJob.extractDocs(spark, PagesTable.pagesDF(spark, 40)))
      .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("md")).toMap
    rows.foreach(r => assert(again(r.getAs[String]("url")) == r.getAs[String]("md")))
  }

  test("reference threshold gates all pass on golden-exact output (E2)") {
    import spark.implicits._
    val n = 40L
    val pred = ExtractJob.extractTexts(spark, PagesTable.pagesDF(spark, n))
      .select($"url", $"text")
    val tm = MetricsJob.textMetrics(spark, PagesTable.golden(spark, n).toDF(), pred)
    val cells = Seq(("u", 1, 0, 0, "a")).toDF("url", "page", "r", "c", "v")
    val gates = MetricsJob.gates(tm, MetricsJob.tableMetrics(cells, cells))
    assert(gates.filter(!$"pass_all").count() == 0)
  }

  test("snapshot resume is exactly-once (kill after partial commit)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val pages = PagesTable.pagesDF(spark, 150)
    // run 1: only 5 of 16 buckets commit (simulated kill)
    val s1 = SnapshotStore.run(spark, pages, root, runId = "r1", nBuckets = 16, maxBuckets = 5)
    assert(s1.id == 1 && s1.buckets.size == 5)
    val partial = SnapshotStore.readCommitted(spark, root).get
    val partialCount = partial.count()
    assert(partialCount > 0 && partialCount < 150)
    // run 2: resume picks up ONLY the remaining buckets
    val s2 = SnapshotStore.run(spark, pages, root, runId = "r2", nBuckets = 16)
    assert(s2.id == 2 && s2.buckets.size == 16)
    val all = SnapshotStore.readCommitted(spark, root).get
    assert(all.count() == 150)
    assert(all.select($"url").distinct().count() == 150)
    // run 3: nothing pending → no new snapshot
    val s3 = SnapshotStore.run(spark, pages, root, runId = "r3", nBuckets = 16)
    assert(s3.id == 2)
    // lineage rows exist and sum to the doc count
    val lineage = spark.read.parquet(s"$root/lineage/run-r1", s"$root/lineage/run-r2")
    assert(lineage.agg(sum($"doc_count")).as[Long].head() == 150L)
    // compaction: one data dir, same rows; expiry removes dead files but
    // the compacted snapshot still reads exactly-once
    val c = SnapshotStore.compact(spark, root, runId = "c1")
    assert(c.id == 3 && c.dataDirs.length == 1)
    assert(SnapshotStore.readCommitted(spark, root).get.count() == 150)
    SnapshotStore.expireSnapshots(root, keepLast = 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data/run-r1")))
    assert(SnapshotStore.readCommitted(spark, root).get.count() == 150)
    assert(SnapshotStore.readCommitted(spark, root).get.select($"url").distinct().count() == 150)
  }

  test("snapshot over empty input: no-op runs commit no further snapshot") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap-empty").toString
    val empty = PagesTable.pagesDF(spark, 20).limit(0)
    val s1 = SnapshotStore.run(spark, empty, root, runId = "r1", nBuckets = 4)
    assert(s1.id == 1 && s1.buckets.size == 4 && s1.files.isEmpty)
    assert(SnapshotStore.readCommitted(spark, root).get.count() == 0L)
    // nothing pending: the run returns the committed snapshot and submits
    // no Spark job, though the run dir it holds has no file stats
    assert(SnapshotStore.uncoveredDirs(s1) == s1.dataDirs)
    val jobs = jobsOf {
      assert(SnapshotStore.run(spark, empty, root, runId = "r2", nBuckets = 4).id == s1.id)
    }
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(SnapshotStore.run(spark, empty, root, runId = "r3", nBuckets = 4).id == s1.id)
    assert(SnapshotStore.lastSnapshot(root).map(_.id) == Some(s1.id))
  }

  test("snapshot time travel: AS OF reads a prior snapshot byte-identically, even after compaction") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-snap-tt").toString
    val pages = PagesTable.pagesDF(spark, 120)
    // snapshot 1 commits part of the corpus, snapshot 2 the rest
    val s1 = SnapshotStore.run(spark, pages, root, runId = "r1", nBuckets = 8, maxBuckets = 4)
    val v1 = SnapshotStore.readCommitted(spark, root).get
      .select($"url", $"text").as[(String, String)].collect().toSet
    val s2 = SnapshotStore.run(spark, pages, root, runId = "r2", nBuckets = 8)
    assert(s2.id == s1.id + 1)
    assert(SnapshotStore.readCommitted(spark, root).get.count() == 120)
    // AS OF the first snapshot: exactly the state committed then
    def asOf1() = SnapshotStore.readCommitted(spark, root, asOf = Some(s1.id)).get
      .select($"url", $"text").as[(String, String)].collect().toSet
    assert(asOf1() == v1)
    // compaction rewrites the CURRENT state into one dir and commits a
    // third snapshot — the historical manifests still reference the
    // original immutable files, so AS OF reads are unchanged
    val c = SnapshotStore.compact(spark, root, runId = "c1")
    assert(c.id == s2.id + 1 && c.dataDirs.length == 1)
    assert(asOf1() == v1, "pre-compaction snapshot must read byte-identically")
    assert(SnapshotStore.readCommitted(spark, root, asOf = Some(s2.id)).get.count() == 120)
    assert(SnapshotStore.readCommitted(spark, root).get.count() == 120)
    // pruning works against the HISTORICAL manifest's stats: a host-ranged
    // AS OF read returns exactly snapshot 1's rows for that host
    val snap1 = SnapshotStore.snapshotAt(root, s1.id).get
    assert(snap1.files.nonEmpty, "historical manifest must carry file stats")
    val host = java.net.URI.create(v1.head._1).getHost
    val ranged = SnapshotStore.readCommittedRange(spark, root,
      host = Some(host), asOf = Some(s1.id)).get
      .select($"url").as[String].collect().toSet
    assert(ranged == v1.filter(p => java.net.URI.create(p._1).getHost == host).map(_._1))
    // a dropped / never-committed snapshot id resolves to None
    assert(SnapshotStore.snapshotAt(root, 999L).isEmpty)
    assert(SnapshotStore.readCommitted(spark, root, asOf = Some(999L)).isEmpty)
  }

  test("manifest column stats prune data files on a ranged read (Iceberg-style scan pruning)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val root = java.nio.file.Files.createTempDirectory("graft-snap-stats").toString
    // one host: the (host, warcTs) range write splits its files by
    // warcTs, so each data file holds a narrow ts window
    val pages = PagesTable.pagesDF(spark, 200)
      .withColumn("url", regexp_replace($"url", "^https://[^/]+/", "https://one.example/"))
    val s = SnapshotStore.run(spark, pages, root, runId = "r1", nBuckets = 1,
      clusterPartitions = 4)
    assert(s.files.nonEmpty, "manifest must carry per-file stats")
    // every committed parquet file has a stats entry with a sane range
    s.files.foreach(f => assert(f.tsMin <= f.tsMax && f.hostMin <= f.hostMax))
    val full = SnapshotStore.readCommitted(spark, root).get
      .select($"url", $"warcTs").as[(String, Long)].collect()
    // pick a ts window covering ~one file
    val tsSorted = full.map(_._2).sorted
    val (lo, hi) = (tsSorted(10), tsSorted(40))
    val pruned = SnapshotStore.pruneFiles(s, tsMin = Some(lo), tsMax = Some(hi))
    assert(pruned.nonEmpty && pruned.size < s.files.size,
      s"ranged read should open a strict subset: ${pruned.size}/${s.files.size}")
    // the pruned ranged read returns EXACTLY the full-scan filter result...
    val ranged = SnapshotStore.readCommittedRange(spark, root,
      tsMin = Some(lo), tsMax = Some(hi)).get
    val expect = full.filter { case (_, ts) => ts >= lo && ts <= hi }.map(_._1).toSet
    assert(ranged.select($"url").as[String].collect().toSet == expect)
    // ...and provably scans only the manifest-selected files
    val opened = ranged.select(input_file_name()).distinct().as[String].collect().toSet
    assert(opened.subsetOf(pruned.toSet), s"opened ${opened.size} files outside the pruned set")
    // host-ranged read: exact single-host result through the pruned scan
    val someHost = SnapshotStore.readCommitted(spark, root).get
      .select(org.apache.spark.sql.functions.parse_url($"url",
        org.apache.spark.sql.functions.lit("HOST"))).as[String].head()
    val byHost = SnapshotStore.readCommittedRange(spark, root, host = Some(someHost)).get
    assert(byHost.count() > 0)
    // old-manifest fallback: strip file lines → full scan + exact filter
    import scala.jdk.CollectionConverters._
    val manifest = java.nio.file.Paths.get(root).resolve(s"snapshot-${s.id}.tsv")
    val stripped = java.nio.file.Files.readAllLines(manifest).asScala
      .filterNot(_.startsWith("file\t")).mkString("\n")
    java.nio.file.Files.write(manifest, stripped.getBytes)
    val fallback = SnapshotStore.readCommittedRange(spark, root,
      tsMin = Some(lo), tsMax = Some(hi)).get
    assert(fallback.select($"url").as[String].collect().toSet == expect)
  }

  test("manifest coverage: sibling dir prefixes never mask an uncovered dir; nothing is repaired, ranged reads stay complete") {
    import graft.spark.SnapshotStore.{FileStats, Snapshot}
    // run-r10's files must NOT cover run-r1 (bare startsWith would match)
    val s = Snapshot(1L, Set(0), Vector("/t/data/run-r1", "/t/data/run-r10"),
      Vector(FileStats("file:///t/data/run-r10/part-0.parquet", 1L, 2L, "a", "b")))
    assert(SnapshotStore.uncoveredDirs(s) == Vector("/t/data/run-r1"))
    // covered via URI-form paths; no stats at all → all uncovered
    val covered = s.copy(files = s.files :+
      FileStats("file:///t/data/run-r1/part-0.parquet", 1L, 2L, "a", "b"))
    assert(SnapshotStore.uncoveredDirs(covered).isEmpty)
    assert(SnapshotStore.uncoveredDirs(s.copy(files = Vector.empty)) == s.dataDirs)
    // end-to-end: a PARTIAL manifest (stats stripped for run 1's dir)
    // stays partial — a run commits only what it wrote — and a ranged
    // read still returns every row by scanning the uncovered dir in full
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft-snap-cover").toString
    val pages = PagesTable.pagesDF(spark, 60)
    SnapshotStore.run(spark, pages, root, runId = "r1", nBuckets = 4, maxBuckets = 2)
    val manifest = java.nio.file.Paths.get(root).resolve("snapshot-1.tsv")
    val partial = java.nio.file.Files.readAllLines(manifest).asScala
      .filterNot(_.startsWith("file\t")).mkString("\n")
    java.nio.file.Files.write(manifest, partial.getBytes)
    val s2 = SnapshotStore.run(spark, pages, root, runId = "r2", nBuckets = 4)
    assert(SnapshotStore.uncoveredDirs(s2) == Vector(s"$root/data/run-r1"))
    assert(s2.files.nonEmpty && s2.files.forall(_.path.contains("/data/run-r2/")))
    val all = SnapshotStore.readCommitted(spark, root).get.count()
    assert(all == 60L)
    def ranged() = SnapshotStore.readCommittedRange(spark, root,
      tsMin = Some(Long.MinValue), tsMax = Some(Long.MaxValue)).get.count()
    assert(ranged() == all, s"ranged read lost rows: ${ranged()} != $all")
    // a no-pending run commits nothing and submits no Spark job
    val jobs = jobsOf {
      assert(SnapshotStore.run(spark, pages, root, runId = "r3", nBuckets = 4) == s2)
    }
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(SnapshotStore.lastSnapshot(root) == Some(s2))
    assert(ranged() == all)
  }

  test("clustered write layout: host-ranged read on STORE-written data opens a strict subset of files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{input_file_name, parse_url, lit}
    val root = java.nio.file.Files.createTempDirectory("graft-snap-cluster").toString
    // no hand-planted layout: pages arrive in arbitrary partitioning, as
    // the url-hash bucketed resume path produces them — the STORE must
    // cluster the write or every file's host bounds span the domain and
    // host pruning selects everything (VERDICT r5 #2)
    val pages = PagesTable.pagesDF(spark, 300).repartition(7)
    val s = SnapshotStore.run(spark, pages, root, runId = "r1", nBuckets = 1,
      clusterPartitions = 6)
    assert(s.files.size > 1, "need multiple data files for pruning to be observable")
    val full = SnapshotStore.readCommitted(spark, root).get
    val hosts = full.select(parse_url($"url", lit("HOST"))).as[String].distinct().collect()
    assert(hosts.length > s.files.size, "fixture must span more hosts than files")
    val someHost = hosts.sorted.apply(hosts.length / 2)
    val pruned = SnapshotStore.pruneFiles(s, host = Some(someHost))
    assert(pruned.nonEmpty && pruned.size < s.files.size,
      s"host range should prune store-written files: ${pruned.size}/${s.files.size}")
    // exact result through the pruned scan…
    val byHost = SnapshotStore.readCommittedRange(spark, root, host = Some(someHost)).get
    val expect = full.filter(parse_url($"url", lit("HOST")) === someHost)
      .select($"url").as[String].collect().toSet
    assert(expect.nonEmpty && byHost.select($"url").as[String].collect().toSet == expect)
    // …and provably opening only manifest-selected files
    val opened = byHost.select(input_file_name()).distinct().as[String].collect().toSet
    assert(opened.subsetOf(pruned.toSet), s"opened files outside the pruned set")
    // the 30% mega-host is split across files by the warcTs tiebreak with
    // still-tight [h, h] bounds: its pruned set stays a strict subset too
    val mega = SnapshotStore.pruneFiles(s, host = Some("mega.example"))
    assert(mega.nonEmpty && mega.size < s.files.size,
      s"mega-host should not force a full scan: ${mega.size}/${s.files.size}")
  }

  /** Lineage rows of `runId` as committed, and as [[ExtractJob.lineage]]
    * computes them from the run's written data. */
  private def lineagePair(root: String, runId: String, snapId: Long) = {
    import spark.implicits._
    val committed = spark.read.parquet(s"$root/lineage/run-$runId")
    val rescan = ExtractJob.lineage(
      spark.read.parquet(s"$root/data/run-$runId").as[ExtractJob.ExtractedText], runId, snapId)
    // parquet reads back every column as nullable: compare names and types
    def cols(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toVector.sortBy(_.getInt(0))
    ((cols(committed), rows(committed)), (cols(rescan), rows(rescan)))
  }

  /** The manifest entries of the files under `dir`. */
  private def filesUnder(s: SnapshotStore.Snapshot, dir: String) =
    s.files.filter(_.path.contains(s"/${java.nio.file.Paths.get(dir).getFileName}/"))

  /** Stage names of the jobs `body` submits; a marker job after it flushes
    * the listener bus, which delivers events in order. */
  private def jobsOf(body: => Unit): Vector[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker"))
          marker.countDown()
        else jobs.add(e.stageInfos.map(_.name).mkString(" | "))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("marker")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toVector
  }

  test("snapshot folds: committed lineage and file stats equal a re-scan of the written data (run and compact)") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap-fold").toString
    val pages = PagesTable.pagesDF(spark, 160, partitions = 5)
    val s1 = SnapshotStore.run(spark, pages, root, runId = "r1", nBuckets = 8, maxBuckets = 3,
      clusterPartitions = 3)
    val s2 = SnapshotStore.run(spark, pages, root, runId = "r2", nBuckets = 8)
    for ((s, runId) <- Seq((s1, "r1"), (s2, "r2"))) {
      val (committed, rescan) = lineagePair(root, runId, s.id)
      assert(committed._2.nonEmpty && committed == rescan, s"lineage of $runId")
      val dir = s"$root/data/run-$runId"
      val stats = SnapshotStore.collectFileStats(spark, dir)
      assert(stats.nonEmpty && filesUnder(s, dir) == stats, s"file stats of $runId")
    }
    val c = SnapshotStore.compact(spark, root, runId = "c1")
    val stats = SnapshotStore.collectFileStats(spark, s"$root/data/compact-c1")
    assert(stats.nonEmpty && c.files == stats)
  }

  test("clustered run: at most 5 jobs, one of them the key pass; one partition runs no key pass") {
    val pages = PagesTable.pagesDF(spark, 150, partitions = 3)
    val keyPass = (site: String) => site.contains("collect at SnapshotStore.scala")
    var s: SnapshotStore.Snapshot = null
    val root = java.nio.file.Files.createTempDirectory("graft-snap-jobs").toString
    val jobs = jobsOf {
      s = SnapshotStore.run(spark, pages, root, runId = "r1", nBuckets = 4, clusterPartitions = 4)
    }
    assert(s.files.size >= 2, "need at least 2 range partitions")
    assert(jobs.size <= 5 && jobs.count(keyPass) == 1, jobs.mkString("\n"))
    val root1 = java.nio.file.Files.createTempDirectory("graft-snap-jobs1").toString
    val jobs1 = jobsOf {
      s = SnapshotStore.run(spark, pages, root1, runId = "r1", nBuckets = 4, clusterPartitions = 1)
    }
    assert(s.files.size == 1 && !jobs1.exists(keyPass), jobs1.mkString("\n"))
    assert(jobs1.size == jobs.size - 1, s"${jobs1.mkString("\n")}\nvs\n${jobs.mkString("\n")}")
  }

  test("key-sampled bounds: one host splits by warcTs; null warc_ts; more partitions than keys; empty buckets") {
    import spark.implicits._
    // a single host: every file is [h, h], files split by warcTs
    val oneHost = PagesTable.pagesDF(spark, 120)
      .withColumn("url", regexp_replace($"url", "^https://[^/]+/", "https://one.example/"))
    val root = java.nio.file.Files.createTempDirectory("graft-snap-edge").toString
    val s = SnapshotStore.run(spark, oneHost, root, runId = "r1", nBuckets = 1, clusterPartitions = 4)
    assert(s.files.size > 1 && s.files == SnapshotStore.collectFileStats(spark, s"$root/data/run-r1"))
    assert(s.files.forall(f => f.hostMin == "one.example" && f.hostMax == "one.example"))
    val byTs = s.files.sortBy(_.tsMin)
    assert(byTs.zip(byTs.tail).forall { case (a, b) => a.tsMax < b.tsMin }, byTs.mkString("\n"))
    // null warc_ts: the row commits with warcTs 0 and stats stay exact
    val nulled = PagesTable.pagesDF(spark, 90)
      .withColumn("warc_ts", when(pmod(xxhash64($"url"), lit(3)) === 0, lit(null)).otherwise($"warc_ts"))
    val rootN = java.nio.file.Files.createTempDirectory("graft-snap-null").toString
    val sN = SnapshotStore.run(spark, nulled, rootN, runId = "r1", nBuckets = 1, clusterPartitions = 3)
    val committedN = SnapshotStore.readCommitted(spark, rootN).get
    assert(committedN.count() == 90 && committedN.filter($"warcTs" === 0L).count() > 0)
    assert(sN.files == SnapshotStore.collectFileStats(spark, s"$rootN/data/run-r1"))
    val (committed, rescan) = lineagePair(rootN, "r1", sN.id)
    assert(committed == rescan)
    // more partitions than distinct keys: no empty file, no stats for absent files
    val few = PagesTable.pagesDF(spark, 6)
    val rootF = java.nio.file.Files.createTempDirectory("graft-snap-few").toString
    val sF = SnapshotStore.run(spark, few, rootF, runId = "r1", nBuckets = 1, clusterPartitions = 40)
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(s"$rootF/data/run-r1"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.length <= 6 && sF.files.size == parts.length)
    assert(parts.forall(p => spark.read.parquet(p).count() > 0))
    assert(sF.files == SnapshotStore.collectFileStats(spark, s"$rootF/data/run-r1"))
    // pending buckets that select zero rows: no rows, no file entry, no lineage row
    val inBucket0 = PagesTable.pagesDF(spark, 40).filter(pmod(xxhash64($"url"), lit(4)) === 0)
    val rootE = java.nio.file.Files.createTempDirectory("graft-snap-emptybuckets").toString
    val e1 = SnapshotStore.run(spark, inBucket0, rootE, runId = "r1", nBuckets = 4, maxBuckets = 1,
      clusterPartitions = 2)
    val e2 = SnapshotStore.run(spark, inBucket0, rootE, runId = "r2", nBuckets = 4, clusterPartitions = 2)
    assert(e2.buckets.size == 4 && e2.files == e1.files)
    assert(spark.read.parquet(s"$rootE/data/run-r2").count() == 0L)
    assert(spark.read.parquet(s"$rootE/lineage/run-r2").count() == 0L)
    assert(SnapshotStore.readCommitted(spark, rootE).get.count() == inBucket0.count())
  }

  test("partially-covered manifest: ranged reads stay complete BEFORE any repair; relative roots normalize") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val abs = java.nio.file.Files.createTempDirectory("graft-snap-rel")
    // RELATIVE store root: stats URIs are absolute, so coverage checks must
    // resolve dirs before prefix-matching (ADVICE r5) — otherwise every
    // run re-collects stats for every dir and appends duplicates
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(abs).toString
    val pages = PagesTable.pagesDF(spark, 80)
    val s1 = SnapshotStore.run(spark, pages, rel, runId = "r1", nBuckets = 4, maxBuckets = 2)
    assert(SnapshotStore.uncoveredDirs(s1).isEmpty,
      "relative data dirs must read as covered by their own absolute stats URIs")
    val s2 = SnapshotStore.run(spark, pages, rel, runId = "r2", nBuckets = 4)
    assert(s2.files.map(_.path).distinct.size == s2.files.size,
      "no duplicate stats entries after a second run over a relative root")
    // strip run-r1's stats only → partial coverage; a READ-ONLY consumer
    // (no repair commit has happened) must still see every committed row
    val manifest = java.nio.file.Paths.get(rel).resolve(s"snapshot-${s2.id}.tsv")
    val partial = java.nio.file.Files.readAllLines(manifest).asScala
      .filterNot(l => l.startsWith("file\t") && l.contains("run-r1")).mkString("\n")
    java.nio.file.Files.write(manifest, partial.getBytes)
    val all = SnapshotStore.readCommitted(spark, rel).get.count()
    val ranged = SnapshotStore.readCommittedRange(spark, rel,
      tsMin = Some(Long.MinValue), tsMax = Some(Long.MaxValue)).get.count()
    assert(ranged == all,
      s"pre-repair ranged read lost the uncovered dir's rows: $ranged != $all")
  }

  test("distributed image surface: real bbox/dims/payload per placement (S7)") {
    import spark.implicits._
    val docs = ExtractJob.extractDocs(spark, PagesTable.pagesDF(spark, N))
    val imgs = docs.select($"url", org.apache.spark.sql.functions.explode($"images").as("im"))
      .select($"url", $"im.x0", $"im.x1", $"im.y0", $"im.y1", $"im.width",
        org.apache.spark.sql.functions.length($"im.bytes").as("nb"))
      .collect()
    assert(imgs.nonEmpty)
    imgs.foreach { r =>
      assert(r.getDouble(2) > r.getDouble(1) && r.getDouble(4) > r.getDouble(3), r) // x1>x0, y1>y0
      assert(r.getInt(5) == 4 && (r.getInt(6) == 16 || r.getInt(6) == 48), r) // gray or CMYK->RGB
    }
  }

  test("distributed word boxes agree with single-node extraction (S3)") {
    import spark.implicits._
    val pages = PagesTable.pagesDF(spark, N)
    val dist = pages.as[graft.core.PageRow]
      .flatMap(r => graft.core.Extractor.wordBoxes(r).map(w =>
        (r.url, w.page, w.word, w.x0, w.x1, w.top, w.bottom)))
      .collect().toSet
    val local = pages.as[graft.core.PageRow].collect().flatMap(r =>
      graft.core.Extractor.wordBoxes(r).map(w =>
        (r.url, w.page, w.word, w.x0, w.x1, w.top, w.bottom))).toSet
    assert(dist == local && dist.nonEmpty)
  }
}
