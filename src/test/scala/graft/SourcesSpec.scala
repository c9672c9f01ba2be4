package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files
import java.nio.charset.StandardCharsets

import graft.sources.{RobustCsv, TableSource, Xlsx}

/** S9 robust CSV source: reference read semantics
  * (error_rate_detection.py:27-55) — header=None, dtype=str, utf-8-sig,
  * QUOTE_NONE, ragged rows filled with "". */
class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("BOM stripped, quotes literal, ragged rows padded") {
    val dir = Files.createTempDirectory("graft-csv")
    val f = dir.resolve("t.csv")
    val content = "﻿Item,\"FY24\",FY23\nrev,\"1,234\"\ncost,(56),78,extra\n"
    Files.write(f, content.getBytes(StandardCharsets.UTF_8))
    val df = RobustCsv.read(spark, f.toString)
    assert(df.columns.toSeq == Seq("c0", "c1", "c2", "c3"))
    val rows = df.collect().map(_.toSeq.map(_.toString))
    // QUOTE_NONE: "1,234" splits into two cells "\"1" and "234\""
    assert(rows.contains(Seq("Item", "\"FY24\"", "FY23", "")))
    assert(rows.contains(Seq("rev", "\"1", "234\"", "")))
    assert(rows.contains(Seq("cost", "(56)", "78", "extra")))
    // BOM must not leak into the first cell
    assert(rows.forall(r => !r.head.startsWith("﻿")))
    // long form for the alignment join
    val cells = RobustCsv.readCells(spark, f.toString).collect()
    assert(cells.exists(r => r.getInt(0) == 2 && r.getInt(1) == 3 && r.getString(2) == "extra"))
  }

  test("xlsx: shared strings, inline numbers, gaps, entities round-trip (P10)") {
    val rows = Vector(
      Vector("Item", "FY24", "FY23"),
      Vector("revenue & fees", "1234.5", ""),
      Vector("", "(56)", "78"))
    val bytes = graft.gen.FixtureGen.buildXlsx(rows)
    assert(Xlsx.isXlsx(bytes))
    val got = Xlsx.parse(bytes)
    assert(got == rows, got)
    // distributed long form (binaryFile scan → per-file parse)
    val dir = Files.createTempDirectory("graft-xlsx")
    Files.write(dir.resolve("t.xlsx"), bytes)
    val cells = Xlsx.readCells(spark, dir.resolve("t.xlsx").toString).collect()
    assert(cells.length == rows.map(_.count(_ => true)).sum)
    assert(cells.exists(r => r.getInt(1) == 1 && r.getInt(2) == 0 &&
      r.getString(3) == "revenue & fees"))
    assert(cells.exists(r => r.getInt(1) == 2 && r.getInt(2) == 1 && r.getString(3) == "(56)"))
  }

  test("xlsx: lowest-NUMBERED sheet wins — sheet2 beats sheet10 when sheet1 was deleted (ADVICE r3)") {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, body: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(body.getBytes(StandardCharsets.UTF_8)); z.closeEntry()
    }
    def sheet(v: String) = s"""<?xml version="1.0"?><worksheet><sheetData>""" +
      s"""<row r="1"><c r="A1"><v>$v</v></c></row></sheetData></worksheet>"""
    // lexicographic order would pick sheet10 ('1' < '2'); numeric must pick sheet2
    entry("xl/worksheets/sheet10.xml", sheet("10"))
    entry("xl/worksheets/sheet2.xml", sheet("2"))
    z.close()
    assert(Xlsx.parse(bos.toByteArray) == Vector(Vector("2")))
  }

  test("xlsx: deflate bomb (tiny zip, 300 MB inflated) is a malformed-skip, not an OOM (ADVICE r3)") {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
    val chunk = new Array[Byte](1 << 20) // zeros compress ~1000:1
    for (_ <- 0 until 300) z.write(chunk)
    z.closeEntry(); z.close()
    val bomb = bos.toByteArray
    assert(bomb.length < (2 << 20), s"bomb should be tiny, was ${bomb.length}")
    assert(Xlsx.parse(bomb) == Vector.empty) // capped read → skip
  }

  test("xbrl instance facts: numeric leaves only, commas stripped, dup-preserving (S8)") {
    import graft.sources.XbrlInstance
    val xml = graft.gen.FixtureGen.buildXbrl(42L, nFacts = 12)
    val facts = XbrlInstance.parseFacts(xml)
    // 12 planted facts + the faithful quirk: bare <year>2024</year> counts,
    // dates (hyphenated) and prose do not
    assert(facts.length == 13, facts.length)
    assert(facts.count(_.concept == "year") == 1)
    assert(!facts.exists(_.concept == "note"))
    assert(!facts.exists(_.concept == "startDate"))
    // concept is the LOCAL name (prefix stripped), negatives survive
    assert(facts.exists(f => f.concept == "Fact0Metric" && f.value < 0))
    assert(facts.forall(f => !f.concept.contains(":")))
    // hand case: comma-grouped value parses to the exact double
    val one = XbrlInstance.parseFacts(
      """<x><a:Rev c="u">26,974,000,000</a:Rev><b>1.5</b><c>12-31</c></x>""")
    assert(one == Vector(XbrlInstance.Fact("Rev", 2.6974e10),
      XbrlInstance.Fact("b", 1.5)))
    // ElementTree parser semantics (verified against Python ET): '>' in a
    // quoted attribute doesn't end the tag; comments are stripped so text
    // merges; CDATA content inlines; character references decode
    val tricky = XbrlInstance.parseFacts(
      """<x><g:Rev title="a > b" u="i">5,000</g:Rev>""" +
        """<a><!--c-->7</a><b><![CDATA[9]]></b><c>1&#44;000</c>""" +
        """<d>1<!--mid-->2</d></x>""")
    assert(tricky == Vector(
      XbrlInstance.Fact("Rev", 5000.0), XbrlInstance.Fact("a", 7.0),
      XbrlInstance.Fact("b", 9.0), XbrlInstance.Fact("c", 1000.0),
      XbrlInstance.Fact("d", 12.0)), tricky)
    // distributed form
    val dir = Files.createTempDirectory("graft-xbrl")
    Files.write(dir.resolve("f1.xml"), xml.getBytes(StandardCharsets.UTF_8))
    val df = graft.sources.XbrlInstance.readFacts(spark, dir.toString).collect()
    assert(df.length == 13)
  }

  test("table dispatch: csv parses, xlsx parses, other suffixes skipped") {
    val dir = Files.createTempDirectory("graft-tables")
    Files.write(dir.resolve("a.csv"), "x,y\n1,2\n".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("b.xlsx"),
      graft.gen.FixtureGen.buildXlsx(Vector(Vector("p", "q"))))
    Files.write(dir.resolve("c.txt"), "ignored".getBytes(StandardCharsets.UTF_8))
    // legacy OLE2 .xls is a declared-unsupported format: skipped, not
    // routed into the ZIP parser to silently yield nothing
    Files.write(dir.resolve("d.xls"), Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte))
    val df = TableSource.readCells(spark, dir.toString).collect()
    val files = df.map(_.getString(0)).distinct.sorted
    assert(files.length == 2 && files(0).endsWith("a.csv") && files(1).endsWith("b.xlsx"), files.toSeq)
    assert(df.exists(r => r.getString(0).endsWith("a.csv") && r.getString(3) == "y"))
    assert(df.exists(r => r.getString(0).endsWith("b.xlsx") && r.getString(3) == "q"))
  }

  // ---------------------------------------------------------------------
  // WARC/WET ingestion (sources/Warc.scala)
  // ---------------------------------------------------------------------

  import graft.sources.Warc

  private def mkHtml(i: Int): Array[Byte] =
    s"<html><body><p>doc $i body — ünïcode ${"x" * i}</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)

  test("warc: write N records, read back byte-identical payloads (both gzip layouts)") {
    val recs = (0 until 23).map { i =>
      Warc.responseRecord(s"https://w.example/p$i",
        java.time.Instant.ofEpochSecond(1700000000L + i).toString, mkHtml(i))
    } :+ Warc.conversionRecord("https://w.example/wet",
      "2024-01-02T03:04:05Z", "plain wet text\nline two", lang = "en")
    for (perRecord <- Seq(true, false)) {
      val bytes = Warc.writeWarcGz(recs, perRecordMembers = perRecord)
      assert(Warc.isGzip(bytes))
      val back = Warc.scanRecords(bytes)
      assert(back.length == recs.length, s"perRecord=$perRecord")
      back.zip(recs).foreach { case (b, r) =>
        assert(b.warcType == r.warcType && b.targetUri == r.targetUri && b.date == r.date)
        assert(java.util.Arrays.equals(b.payload, r.payload), b.targetUri)
      }
      // the HTTP header strip recovers the original html bytes exactly
      (0 until 23).foreach { i =>
        assert(java.util.Arrays.equals(Warc.httpBody(back(i).payload), mkHtml(i)), s"doc $i")
      }
    }
    // uncompressed .warc scans identically
    val plain = recs.iterator.flatMap(r => Warc.recordBytes(r).iterator).toArray
    assert(Warc.scanRecords(plain).length == recs.length)
  }

  test("warc: readPages distributed scan — schema, header strip, ts parse, WET text") {
    val dir = Files.createTempDirectory("graft-warc")
    val recs1 = (0 until 7).map(i => Warc.responseRecord(s"https://w.example/a$i",
      s"2023-05-0${i + 1}T00:00:00Z", mkHtml(i)))
    val recs2 = Seq(
      Warc.conversionRecord("https://w.example/t0", "2023-06-01T00:00:00Z", "wet täxt", "de"),
      // unparseable date → null timestamp, record still ingested
      Warc.conversionRecord("https://w.example/t1", "not-a-date", "more"),
      // warcinfo / request records carry no page → skipped
      Warc.Record("warcinfo", null, "2023-06-01T00:00:00Z", Map(), "software: graft".getBytes),
      Warc.Record("request", "https://w.example/t1", "2023-06-01T00:00:00Z", Map(),
        "GET / HTTP/1.1\r\n\r\n".getBytes))
    Files.write(dir.resolve("a.warc.gz"), Warc.writeWarcGz(recs1))
    Files.write(dir.resolve("b.warc.gz"), Warc.writeWarcGz(recs2))
    val got = Warc.readPages(spark, dir.toString + "/*.warc.gz")
    assert(got.columns.toSeq == Seq("url", "warc_ts", "html", "text", "lang"))
    val rows = got.collect()
    assert(rows.length == 9) // 7 responses + 2 conversions, 2 skipped
    val a3 = rows.find(_.getString(0) == "https://w.example/a3").get
    assert(java.util.Arrays.equals(a3.getAs[Array[Byte]]("html"), mkHtml(3)))
    assert(a3.getAs[java.sql.Timestamp]("warc_ts") ==
      java.sql.Timestamp.from(java.time.Instant.parse("2023-05-04T00:00:00Z")))
    val t0 = rows.find(_.getString(0) == "https://w.example/t0").get
    assert(t0.getAs[String]("text") == "wet täxt" && t0.getAs[String]("lang") == "de")
    assert(rows.find(_.getString(0) == "https://w.example/t1").get
      .getAs[java.sql.Timestamp]("warc_ts") == null)
    // record-level surface
    val recRows = spark.read.format("warc").load(dir.toString + "/*.warc.gz").collect()
    assert(recRows.length == 11 && recRows.count(_.getString(2) == "response") == 7)
  }

  test("warc: extraction byte-identity through WARC-sourced pages") {
    import spark.implicits._
    val n = 48L
    val direct = graft.gen.PagesTable.pages(spark, n).collect()
    val dir = Files.createTempDirectory("graft-warc-pages")
    // serialize the fixture pages as response records (html payload)
    direct.grouped(16).zipWithIndex.foreach { case (g, i) =>
      val recs = g.map(p => Warc.responseRecord(p.url, p.warc_ts.toInstant.toString, p.html))
      Files.write(dir.resolve(f"p$i%03d.warc.gz"), Warc.writeWarcGz(recs.toSeq))
    }
    // WARC response records carry no fallback text column — restore it by
    // url join (the WET/metadata sidecar a real pipeline would use)
    val fallback = spark.createDataset(direct.toSeq).select($"url", $"text".as("fb"))
    val warcPages = Warc.readPages(spark, dir.toString + "/*.warc.gz")
      .drop("text").join(fallback, "url")
      .withColumnRenamed("fb", "text")
    val viaWarc = graft.spark.ExtractJob.extractTexts(spark, warcPages)
      .select("url", "text").as[(String, String)].collect().toMap
    val viaDirect = graft.spark.ExtractJob
      .extractTexts(spark, spark.createDataset(direct.toSeq).toDF())
      .select("url", "text").as[(String, String)].collect().toMap
    assert(viaWarc.size == n && viaWarc == viaDirect) // byte-identical per url
  }

  test("sitemap: urlset + index entries, entities, CDATA, comments, scoping, hostile input") {
    import graft.sources.Sitemap.{parseEntries, Entry}
    val urlset =
      """<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<url><loc>https://a.com/p?x=1&amp;y=2</loc><lastmod>2024-02-01</lastmod></url>
        |<!-- comment --><url><loc><![CDATA[https://a.com/q]]></loc></url>
        |<loc>https://outside.example/ignored</loc>
        |<url/><url><lastmod>2024-01-01</lastmod></url></urlset>""".stripMargin
    assert(parseEntries(urlset) == Vector(
      Entry("url", "https://a.com/p?x=1&y=2", "2024-02-01"),
      Entry("url", "https://a.com/q", ""))) // no-loc and self-closing url drop
    val index =
      """<sitemapindex><sitemap><loc>https://a.com/s1.xml.gz</loc>
        |<lastmod>2024-03-01</lastmod></sitemap>
        |<ns:sitemap><ns:loc> https://a.com/s2.xml </ns:loc></ns:sitemap></sitemapindex>""".stripMargin
    assert(parseEntries(index) == Vector(
      Entry("sitemap", "https://a.com/s1.xml.gz", "2024-03-01"),
      Entry("sitemap", "https://a.com/s2.xml", ""))) // prefixes drop, loc trims
    // hostile: truncated tag, binary noise, unclosed container — no throw
    assert(parseEntries("<urlset><url><loc>https://x").isEmpty)
    assert(parseEntries("  not xml at all").isEmpty)
  }
}
