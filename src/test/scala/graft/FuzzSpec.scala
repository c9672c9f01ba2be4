package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.gen.FixtureGen

/** Adversarial-input hardening: a 10^12-document crawl WILL contain every
  * malformed byte sequence imaginable; the extractor must never throw and
  * must stay deterministic (SURVEY §5.2 property tests). Deterministic
  * splitmix-driven generators — same corpus every run, no flaky seeds. */
class FuzzSpec extends AnyFunSuite {

  private def row(bytes: Array[Byte], text: String = ""): PageRow =
    PageRow("https://fuzz.example/x", new java.sql.Timestamp(0), bytes, text, "en")

  private def randBytes(seed: Long, len: Int): Array[Byte] =
    Array.tabulate(len)(i => (FixtureGen.mix(seed, i.toLong) & 0xFF).toByte)

  test("random bytes never crash and extraction is deterministic") {
    for (s <- 0 until 200) {
      val len = (FixtureGen.mix(77L, s.toLong).abs % 4096).toInt
      val bytes = randBytes(s.toLong, len)
      val a = Extractor.extract(row(bytes))
      val b = Extractor.extract(row(bytes))
      assert(a == b, s"seed $s")
    }
  }

  test("random bytes with PDF magic never crash the PDF parser") {
    for (s <- 0 until 200) {
      val len = (FixtureGen.mix(99L, s.toLong).abs % 2048).toInt
      val bytes = "%PDF-1.4\n".getBytes ++ randBytes(1000L + s, len)
      val d = Extractor.extract(row(bytes, text = "fallback line"))
      assert(d.extractor == "pdf" || d.extractor == "pdf+fallback", s"seed $s → ${d.extractor}")
    }
  }

  test("adversarial graphics/state operators (rg, g, Ts) never crash or corrupt runs") {
    // operator soup: wrong arities, huge/negative/NaN-ish operands, state
    // ops interleaved with text ops — parser must stay total and the
    // emitted spans must stay within decode ranges
    val soups = Seq(
      "rg\nBT (x) Tj ET",                          // no operands
      "1 rg 2 g BT /F1 12 Tf 10 700 Td (a) Tj ET", // short arity
      "9e9 -5 0.5 rg BT /F1 12 Tf 10 700 Td 1e9 Ts (b) Tj -1e9 Ts (c) Tj ET",
      "0.1 0.2 0.3 rg 0.5 g BT /F2 0 Tf 10 700 Td (d) Tj ET", // size 0
      "BT /Nope 12 Tf 10 700 Td 3 Ts (e) Tj ET",   // unresolvable font
      (1 to 200).map(_ => "0.5 g 2 Ts").mkString(" ") + " BT (f) Tj ET")
    soups.zipWithIndex.foreach { case (soup, i) =>
      val bytes = FixtureGen.buildPdf(Vector(soup), compress = false)
      val d = Extractor.extract(row(bytes, text = "fb"))
      assert(d.extractor.startsWith("pdf"), s"soup $i → ${d.extractor}")
      d.blocks.flatMap(_.lines).flatMap(_.spans).foreach { sp =>
        assert(sp.colorR >= 0 && sp.colorR <= 255)
        assert(sp.colorG >= 0 && sp.colorG <= 255)
        assert(sp.colorB >= 0 && sp.colorB <= 255)
      }
      // determinism under operator soup
      assert(Extractor.extract(row(bytes, text = "fb")) == d)
    }
  }

  test("truncated valid payloads never crash") {
    val (html, _) = FixtureGen.htmlDoc(FixtureGen.mix(FixtureGen.Seed, 3))
    val (pdf, _) = FixtureGen.pdfDoc(FixtureGen.mix(FixtureGen.Seed, 8))
    for (payload <- Seq(html, pdf); cut <- 0 to payload.length by math.max(payload.length / 37, 1)) {
      Extractor.extract(row(payload.take(cut))) // must not throw
    }
  }

  test("pathological html: unclosed tags, nested tables, huge entities") {
    val cases = Seq(
      "<p><p><p><div><div>text",
      "<table><tr><td><table><tr><td>inner</td></tr></table>outer</td></tr></table>",
      "&" * 1000,
      "&#xFFFFFFFFFFFF;&#0;&bogus;&amp",
      "<a href='" + "x" * 10000, // unterminated attribute
      "<script>never closed",
      "<!---->" * 500,
      "<![CDATA[raw <p> text",
      " �<p>mixed </p>")
    cases.foreach { c =>
      val d = Extractor.extract(row(c.getBytes("UTF-8")))
      assert(d == Extractor.extract(row(c.getBytes("UTF-8"))))
    }
  }

  test("normText is idempotent over adversarial strings") {
    val gens = (0 until 300).map { s =>
      val h = FixtureGen.mix(123L, s.toLong)
      new String(randBytes(h, (h.abs % 200).toInt), java.nio.charset.StandardCharsets.UTF_8)
    } ++ Seq("", " ", "  x ", "a\t\n\r\fb", " lead", "trail ")
    gens.foreach { s =>
      val once = HtmlExtractor.normText(s)
      assert(HtmlExtractor.normText(once) == once, s"input ${s.take(40)}")
    }
  }

  test("wer/cer bounds and similarityRatio symmetry over word soup") {
    val words = Seq("alpha", "beta", "gamma", "", "x", "zz")
    for (i <- 0 until 100) {
      val h = FixtureGen.mix(321L, i.toLong)
      def mk(h2: Long) = (0 until (h2.abs % 8).toInt)
        .map(k => words((FixtureGen.mix(h2, k.toLong).abs % words.length).toInt)).mkString(" ")
      val a = mk(h); val b = mk(FixtureGen.mix(h, 1))
      assert(TextMetrics.wer(a, a) == 0.0 || a.trim.isEmpty)
      val x = TextMetrics.wer(a, b); assert(x.isNaN || x >= 0.0)
      val c = TextMetrics.cer(a, b); assert(c.isNaN || c >= 0.0)
      // NOTE: Ratcliff-Obershelp is NOT symmetric (difflib's isn't either —
      // longest-match tie-breaks depend on argument order), so only bounds
      // and the reflexive case are true properties.
      val r = TextMetrics.similarityRatio(a, b)
      assert(r >= 0.0 && r <= 1.0)
      assert(TextMetrics.similarityRatio(a, a) == 1.0 || a.isEmpty)
    }
  }

  test("xlsx parser never crashes: random bytes, truncated zips, hostile xml") {
    import graft.sources.Xlsx
    // random bytes (mostly not zips at all)
    for (sd <- 0 until 100) {
      val len = (FixtureGen.mix(911L, sd.toLong).abs % 2048).toInt
      val bytes = randBytes(sd.toLong + 5000, len)
      val r = try { Xlsx.parse(bytes); true } catch { case _: Exception => true }
      assert(r)
    }
    // a real xlsx truncated at every 97th byte must not crash
    val good = FixtureGen.buildXlsx(Vector(Vector("a", "b"), Vector("1", "2")))
    var cut = 1
    while (cut < good.length) {
      try Xlsx.parse(good.take(cut)) catch { case _: Exception => }
      cut += 97
    }
    // hostile sheet xml: unclosed tags, bogus refs, huge shared index
    def zipOf(entries: (String, String)*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      entries.foreach { case (n, b) =>
        z.putNextEntry(new java.util.zip.ZipEntry(n))
        z.write(b.getBytes("UTF-8")); z.closeEntry()
      }
      z.close(); bos.toByteArray
    }
    val hostile = Seq(
      "<worksheet><sheetData><row r=\"1\"><c r=\"A1\" t=\"s\"><v>99</v></c>",
      "<worksheet><sheetData><c r=\"ZZZZZ99999999\"><v>1</v>",
      "<worksheet><sheetData><row><c><v>orphan</v></c></row></sheetData></worksheet>",
      "<worksheet><sheetData><row r=\"2\"><c r=\"B0\" t=\"s\"><v>x</v></c></row></sheetData></worksheet>",
      "<c r=\"A1\" t=\"inlineStr\"><is><t>no close")
    hostile.foreach { xml =>
      val bytes = zipOf("xl/worksheets/sheet1.xml" -> xml,
        "xl/sharedStrings.xml" -> "<sst><si><t>only</t></si></sst>")
      val out = Xlsx.parse(bytes) // must return, never throw
      assert(out != null)
    }
    // shared-string index out of range -> empty cell, not exception
    val oob = zipOf("xl/worksheets/sheet1.xml" ->
      "<worksheet><sheetData><row r=\"1\"><c r=\"A1\" t=\"s\"><v>7</v></c></row></sheetData></worksheet>",
      "xl/sharedStrings.xml" -> "<sst></sst>")
    assert(Xlsx.parse(oob) == Vector(Vector("")))
  }

  test("pii regexes stay near-linear on adversarial runs (no catastrophic backtracking)") {
    // a 200 KB local-part-shaped run with NO '@': the unbounded form of the
    // email regex backtracked O(run²) here (~10^10 steps); the bounded form
    // must scan it in milliseconds
    val run = "a" * 200000
    val digits = "1" * 200000
    val dots = "1.2.3." * 30000
    // wall, this thread's CPU and GC time are logged side by side, so a
    // trip of the wall bound shows whether the scan itself got slower
    // (CPU ~ wall) or the thread waited (GC, other suites' threads)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs = { import scala.jdk.CollectionConverters._; gcs.asScala.map(_.getCollectionTime).sum }
    def cpuNs = if (mx.isCurrentThreadCpuTimeSupported) mx.getCurrentThreadCpuTime else System.nanoTime()
    for (s <- Seq(run, digits, dots)) {
      val (t0, c0, g0) = (System.nanoTime(), cpuNs, gcMs)
      val p1 = java.util.regex.Pattern.compile(graft.ops.Scrub.EmailRe).matcher(s)
      while (p1.find()) ()
      val p2 = java.util.regex.Pattern.compile(graft.ops.Scrub.Ipv4Re).matcher(s)
      while (p2.find()) ()
      val p3 = java.util.regex.Pattern.compile(graft.ops.Scrub.PhoneRe).matcher(s)
      while (p3.find()) ()
      val (wallMs, cpuMs) = ((System.nanoTime() - t0) / 1e6, (cpuNs - c0) / 1e6)
      info(f"adversarial scan: wall $wallMs%.0f ms, thread cpu $cpuMs%.0f ms, gc ${gcMs - g0} ms")
      assert(wallMs < 2000.0, f"adversarial scan took $wallMs%.0f ms ($cpuMs%.0f ms thread cpu)")
    }
    // bounded pattern still matches normal emails
    assert(java.util.regex.Pattern.compile(graft.ops.Scrub.EmailRe)
      .matcher("a contact x.y+z@sub.example.org here").find())
  }

  test("image decoder never crashes on hostile raster bytes") {
    import graft.ops.Multimodal
    for (s <- 0 until 100) {
      val body = randBytes(s.toLong, 512)
      // valid PNG/BMP/GIF magic + garbage body: ImageIO must be contained
      val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++ body
      val bmp = Array[Byte]('B', 'M') ++ body
      val gif = "GIF89a".getBytes ++ body
      for (payload <- Seq(png, bmp, gif)) {
        val m = Multimodal.decode(s.toLong, payload)
        assert(m.assetId == s.toLong) // returned, didn't throw
      }
      // truncated real PNG: cut a valid stream at every 16th byte
      val real = Multimodal.makePng(s.toLong, 8, 8)
      var cut = 1
      while (cut < real.length) {
        Multimodal.decode(s.toLong, real.take(cut))
        cut += 16
      }
    }
  }

  test("audio decoder never crashes on hostile WAV bytes") {
    import graft.ops.Multimodal
    for (s <- 0 until 60) {
      val body = randBytes(s.toLong + 4000, 512)
      // RIFF/WAVE magic + garbage: AudioSystem must be contained
      val wav = "RIFF".getBytes ++ body.take(4) ++ "WAVE".getBytes ++ body
      val m = Multimodal.decode(s.toLong, wav)
      assert(m.assetId == s.toLong && m.format == "wav" && !m.valid)
      // truncated real WAV: cut a valid stream at every 16th byte —
      // must return (valid or invalid), never throw or hang
      val real = Multimodal.makeWav(s.toLong, nFrames = 64)
      var cut = 1
      while (cut < real.length) {
        Multimodal.decode(s.toLong, real.take(cut))
        cut += 16
      }
      // hostile fmt chunk: corrupt the channel count (offset 22 in a
      // canonical RIFF fmt chunk). NOTE this cannot reach the 1 MB
      // frame-size guard — WAV blockAlign is a 2-byte field, so a parsed
      // frame size caps at 65535; the guard covers non-WAV providers.
      // The contract here is containment: return wav-shaped meta, no
      // throw, no unbounded allocation.
      val bad = Multimodal.makeWav(s.toLong, nFrames = 8)
      if (bad.length > 23) { bad(22) = 0xFF.toByte; bad(23) = 0x7F.toByte }
      val mb = Multimodal.decode(s.toLong, bad)
      assert(mb.assetId == s.toLong && mb.format == "wav")
    }
  }

  test("video decoder never crashes on hostile AVI bytes") {
    import graft.ops.Multimodal
    for (s <- 0 until 60) {
      val body = randBytes(s.toLong + 5000, 512)
      // RIFF/AVI magic + garbage: the chunk walk must be contained —
      // avi-shaped meta back, no throw, no unbounded allocation. (Random
      // garbage can legitimately parse as a valid EMPTY container when
      // its declared size closes before any frame chunk; a valid result
      // must then carry zero frames.)
      val avi = "RIFF".getBytes ++ body.take(4) ++ "AVI ".getBytes ++ body
      val m = Multimodal.decode(s.toLong, avi)
      assert(m.assetId == s.toLong && m.format == "avi")
      assert(!m.valid || m.nFrames == 0, m.toString)
      // truncated real AVI: cut a valid stream at every 16th byte —
      // must return (valid or invalid), never throw or hang
      val real = Multimodal.makeAvi(s.toLong, 16, 12, nFrames = 2)
      var cut = 1
      while (cut < real.length) {
        Multimodal.decode(s.toLong, real.take(cut))
        cut += 16
      }
      // bit-flip fuzz inside the container body (headers, sizes, JPEG
      // payloads): contained, avi-shaped, never a crash
      val flipped = real.clone()
      val at = 12 + (FixtureGen.mix(777L, s.toLong).abs % (real.length - 12)).toInt
      flipped(at) = (flipped(at) ^ 0xFF).toByte
      val mf = Multimodal.decode(s.toLong, flipped)
      assert(mf.assetId == s.toLong && mf.format == "avi")
    }
  }

  test("xbrl scanner never crashes or hangs: random bytes, unclosed tags, hostile attrs") {
    import graft.sources.XbrlInstance
    for (sd <- 0 until 100) {
      val len = (FixtureGen.mix(333L, sd.toLong).abs % 2048).toInt
      val txt = new String(randBytes(sd.toLong + 9000, len),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      XbrlInstance.parseFacts(txt) // must return, never throw or loop
    }
    val hostile = Seq(
      "<a b=\"unclosed>5</a>",
      "<a>1<!--never closed",
      "<a><![CDATA[9",
      "<x><<><>>>7</x>",
      "<a b='>'>42</a>")
    hostile.foreach(h => XbrlInstance.parseFacts(h))
    assert(XbrlInstance.parseFacts("<a b='>'>42</a>") ==
      Vector(XbrlInstance.Fact("a", 42.0)))
  }

  test("warc scanner never crashes: random bytes, truncation, lying lengths, CRLF variance") {
    import graft.sources.Warc
    import java.nio.charset.StandardCharsets
    import java.nio.charset.StandardCharsets.UTF_8
    // 1. pure noise (with and without gzip magic) → zero or few records, no throw
    for (s <- 0 until 100) {
      val len = (FixtureGen.mix(311L, s.toLong).abs % 4096).toInt
      val noise = randBytes(2000L + s, len)
      Warc.scanRecords(noise)
      Warc.scanRecords(Array[Byte](0x1f, 0x8b.toByte) ++ noise)
      assert(Warc.scanRecords(noise) == Warc.scanRecords(noise), s"determinism seed $s")
    }
    val good = (0 until 5).map(i => Warc.responseRecord(s"https://f.example/$i",
      "2024-01-01T00:00:00Z", s"<p>page $i</p>".getBytes(UTF_8)))
    // 2. truncated gzip member: complete earlier members salvage
    val gz = Warc.writeWarcGz(good)
    for (cut <- Seq(gz.length / 4, gz.length / 2, gz.length - 3)) {
      val got = Warc.scanRecords(java.util.Arrays.copyOf(gz, cut))
      // records that do come back are byte-perfect prefixes of the corpus
      // (cutting only the final member's TRAILER can still salvage all 5)
      assert(got.length <= good.length && got.zipWithIndex.forall { case (r, i) =>
        java.util.Arrays.equals(r.payload, good(i).payload) }, s"cut=$cut")
      if (cut <= gz.length / 2) assert(got.length < good.length, s"cut=$cut")
    }
    // 3. lying Content-Length (past EOF) drops THAT record, keeps the rest
    val lying = new String(Warc.recordBytes(good(0)), StandardCharsets.ISO_8859_1)
      .replaceFirst("Content-Length: \\d+", "Content-Length: 999999999")
      .getBytes(StandardCharsets.ISO_8859_1) ++ Warc.recordBytes(good(1))
    val afterLie = Warc.scanRecords(lying)
    assert(afterLie.length == 1 && afterLie(0).targetUri == "https://f.example/1")
    // negative / garbage lengths likewise resync
    for (bad <- Seq("-7", "abc", "99999999999999999999")) {
      val b = new String(Warc.recordBytes(good(0)), StandardCharsets.ISO_8859_1)
        .replaceFirst("Content-Length: \\d+", s"Content-Length: $bad")
        .getBytes(StandardCharsets.ISO_8859_1) ++ Warc.recordBytes(good(1))
      assert(Warc.scanRecords(b).length == 1, bad)
    }
    // 4. Content-Length SHORTER than the actual payload: the declared
    // slice is returned and the scanner resyncs at the next record
    val short = new String(Warc.recordBytes(good(0)), StandardCharsets.ISO_8859_1)
      .replaceFirst("Content-Length: (\\d+)", "Content-Length: 3")
      .getBytes(StandardCharsets.ISO_8859_1) ++ Warc.recordBytes(good(1))
    val gotShort = Warc.scanRecords(short)
    assert(gotShort.nonEmpty && gotShort(0).payload.length == 3 &&
      gotShort.last.targetUri == "https://f.example/1")
    // 5. header block with no blank-line terminator → resync, rest parses
    val noBlank = ("WARC/1.0\r\nWARC-Type: response\r\n" + "X-Junk: y\r\n" * 9000)
      .getBytes(UTF_8) ++ Warc.recordBytes(good(2))
    val gotNB = Warc.scanRecords(noBlank)
    assert(gotNB.exists(_.targetUri == "https://f.example/2"))
    // 6. LF-only line endings are tolerated
    val lfOnly = ("WARC/1.0\nWARC-Type: conversion\nWARC-Target-URI: https://lf.example/\n" +
      "WARC-Date: 2024-02-02T00:00:00Z\nContent-Length: 5\n\nhello\n\n").getBytes(UTF_8)
    val gotLF = Warc.scanRecords(lfOnly)
    assert(gotLF.length == 1 && gotLF(0).targetUri == "https://lf.example/" &&
      new String(gotLF(0).payload, UTF_8) == "hello")
    // 7. a fake record EMBEDDED in an honest payload is jumped over, not parsed
    val trojanText = "before\r\n\r\n" +
      new String(Warc.recordBytes(good(3)), StandardCharsets.ISO_8859_1) + "\r\nafter"
    val outer = Warc.conversionRecord("https://outer.example/", "2024-03-03T00:00:00Z", trojanText)
    val gotTrojan = Warc.scanRecords(Warc.writeWarcGz(Seq(outer, good(4))))
    assert(gotTrojan.map(_.targetUri) ==
      Vector("https://outer.example/", "https://f.example/4"))
  }
}
