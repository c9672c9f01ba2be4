package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.gen.FixtureGen
import java.nio.charset.StandardCharsets

/** Golden byte-identity + operator unit tests for the extraction core.
  * These are the strict analogue of the reference's WER/CER threshold gates
  * (/root/reference/tests/error_test.py) per SURVEY §5.2: equality, not
  * tolerance. */
class CoreExtractionSpec extends AnyFunSuite {

  test("golden byte-identity across the mixed fixture corpus (400 docs)") {
    var html = 0; var pdf = 0; var fb = 0; var empty = 0
    FixtureGen.fixtures(400).zipWithIndex.foreach { case (f, i) =>
      val doc = Extractor.extract(f.row)
      val got = doc.text.getBytes(StandardCharsets.UTF_8)
      val want = f.golden.getBytes(StandardCharsets.UTF_8)
      assert(java.util.Arrays.equals(got, want),
        s"fixture $i (${doc.extractor}) url=${f.row.url}\n--- got ---\n${doc.text}\n--- want ---\n${f.golden}")
      doc.extractor match {
        case "html"                   => html += 1
        case "pdf"                    => pdf += 1
        case "provided_text" | "pdf+fallback" => fb += 1
        case "empty"                  => empty += 1
      }
    }
    assert(html > 100, s"html=$html"); assert(pdf > 40, s"pdf=$pdf")
    assert(fb > 10, s"fallback=$fb"); assert(empty > 5, s"empty=$empty")
  }

  test("extraction is deterministic (same input → same bytes)") {
    val f = FixtureGen.fixture(7)
    val a = Extractor.extract(f.row)
    val b = Extractor.extract(f.row)
    assert(a == b)
  }

  test("UTF-8 BOM is stripped (utf-8-sig analogue)") {
    val html = "<html><body><h1>Héllo</h1></body></html>"
    val withBom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      html.getBytes(StandardCharsets.UTF_8)
    val r = HtmlExtractor.extract(withBom)
    assert(r.blocks.map(_.text) == Vector("Héllo"))
  }

  test("entities decode; whitespace collapses; script/style dropped") {
    val html = """<html><head><style>p{}</style><script>if(1<2){}</script></head>
      |<body><p>AT&amp;T &lt;3   &#x41;&#66;
      |ok&nbsp;&mdash;end</p></body></html>""".stripMargin
    val r = HtmlExtractor.extract(html)
    assert(r.blocks.map(_.text) == Vector("AT&T <3 AB ok —end"))
  }

  test("tokenizer attr channel: quoting styles, entities, valueless, opt-in only") {
    import graft.core.HtmlTokenizer
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val sink = new HtmlTokenizer.Sink {
      override def wantsAttrs: Boolean = true
      override def attr(tag: String, name: String, value: String): Unit =
        got += ((tag, name, value))
      def startTag(n: String, sc: Boolean): Unit = ()
      def endTag(n: String): Unit = ()
      def textChunk(s: String, a: Int, b: Int): Unit = ()
      def textStr(s: String): Unit = ()
    }
    HtmlTokenizer.tokenize(
      """<a HREF="http://x.com/?a=1&amp;b=2">t</a><a href='s.html'>u</a>
        |<a href=bare/path data-k>v</a><img src="i.png" alt=""/><a>empty</a>""".stripMargin, sink)
    assert(got.toList == List(
      ("a", "href", "http://x.com/?a=1&b=2"), // double-quoted, entity decoded
      ("a", "href", "s.html"),                // single-quoted
      ("a", "href", "bare/path"),             // unquoted
      ("a", "data-k", ""),                    // valueless
      ("img", "src", "i.png"),                // self-closing tag, other tag name
      ("img", "alt", "")))                    // empty quoted value
    // default sinks opt out: same input, attr never fires
    var fired = false
    HtmlTokenizer.tokenize("<a href=\"x\">t</a>", new HtmlTokenizer.Sink {
      override def attr(tag: String, name: String, value: String): Unit = fired = true
      def startTag(n: String, sc: Boolean): Unit = ()
      def endTag(n: String): Unit = ()
      def textChunk(s: String, a: Int, b: Int): Unit = ()
      def textStr(s: String): Unit = ()
    })
    assert(!fired)
  }

  test("boilerplate classification: nav/header/footer/aside/link-density") {
    val html =
      """<body><header><p>Chrome top</p></header>
        |<nav><a href="/">Home</a> <a href="/x">X</a></nav>
        |<h1>Title here</h1>
        |<p>A real paragraph with enough words to count as content.</p>
        |<div><a href="/a">only</a> <a href="/b">links</a> <a href="/c">inside</a></div>
        |<aside>side content</aside>
        |<footer>copyright</footer></body>""".stripMargin
    val r = HtmlExtractor.extract(html)
    val kinds = r.blocks.map(b => b.kind -> b.text)
    assert(kinds.contains(BlockKind.Header -> "Chrome top"))
    assert(kinds.contains(BlockKind.Header -> "Home X"))
    assert(kinds.contains(BlockKind.Title -> "Title here"))
    assert(kinds.exists { case (k, t) => k == BlockKind.Paragraph && t.startsWith("A real") })
    assert(kinds.contains(BlockKind.Boilerplate -> "only links inside"))
    assert(kinds.contains(BlockKind.Boilerplate -> "side content"))
    assert(kinds.contains(BlockKind.Footer -> "copyright"))
    assert(TextAssembly.assemble(r.blocks) ==
      "Title here\nA real paragraph with enough words to count as content.")
  }

  test("html table → two scored candidates; grid cells exact") {
    val html =
      """<body><table>
        |<tr><th>Item</th><th>FY24</th></tr>
        |<tr><td>rev</td><td>1,234</td></tr>
        |<tr><td>cost</td><td>(56)</td></tr>
        |</table></body>""".stripMargin
    val r = HtmlExtractor.extract(html)
    assert(r.tables.length == 2)
    val grid = r.tables.find(_.method == "grid").get
    assert(grid.rows == 3 && grid.cols == 2)
    assert(grid.cells.find(c => c.r == 1 && c.c == 1).get.v == "1,234")
    // score: 3*0.1 + 2*0.2 + 2*(1/6) — one numeric cell of six
    assert(math.abs(grid.score - (0.3 + 0.4 + 2.0 / 6)) < 1e-9)
  }

  test("score_table ports the reference arithmetic incl. -1 sentinels") {
    assert(TableScore.score(Seq(Seq("a", "b"), Seq("c", "d"))) == -1.0) // rows<3
    assert(TableScore.score(Seq(Seq("a"), Seq("b"), Seq("c"))) == -1.0) // cols<2
    assert(TableScore.isNumericCell("1,234.56"))
    assert(TableScore.isNumericCell("42"))
    assert(!TableScore.isNumericCell("$42"))
    assert(!TableScore.isNumericCell("(42)"))
    assert(!TableScore.isNumericCell(""))
    val g = Seq(Seq("x", "1"), Seq("y", "2"), Seq("z", "3"))
    assert(math.abs(TableScore.score(g) - (0.3 + 0.4 + 2 * 0.5)) < 1e-9)
  }

  test("classifier thresholds at exact boundaries (1.5x / 1.2x / bands)") {
    // within-block max-vs-avg rule, exactly at threshold → fires (>=)
    def pdfWith(sizes: Seq[Double], y: Double = 400): String = {
      val spans = sizes.map(s => s"/F1 $s Tf (ab) Tj ").mkString
      s"BT 50 $y Td $spans ET"
    }
    def kinds(content: String): Vector[String] = {
      val bytes = FixtureGen.buildPdf(Vector(content), compress = false)
      PdfLayout.layout(PdfParser.parse(bytes)).blocks.map(_.kind)
    }
    // sizes {18,12,12}: avg=14, 1.5*14=21>18; 1.2*14=16.8<=18 → heading
    assert(kinds(pdfWith(Seq(18, 12, 12))) == Vector(BlockKind.Heading))
    // sizes {21,12,12}: avg=15, 1.5*15=22.5>21 → heading; {24,12,12}: avg=16, 24>=24 → title
    assert(kinds(pdfWith(Seq(24, 12, 12))) == Vector(BlockKind.Title))
    // uniform sizes → paragraph (max==avg)
    assert(kinds(pdfWith(Seq(12, 12, 12))) == Vector(BlockKind.Paragraph))
    // header band: y1 < 79.2 (top-left) → baseline near top of the page
    assert(kinds(pdfWith(Seq(12, 12, 12), y = 740)) == Vector(BlockKind.Header))
    // footer band: y0 > 712.8 → baseline near bottom
    assert(kinds(pdfWith(Seq(12, 12, 12), y = 40)) == Vector(BlockKind.Footer))
  }

  test("pdf: two-column reading order via XY-cut") {
    val content =
      """BT /F1 12 Tf 50 600 Td 14 TL (left one) Tj T* (left two) Tj ET
        |BT /F1 12 Tf 400 600 Td 14 TL (right one) Tj T* (right two) Tj ET""".stripMargin
    val bytes = FixtureGen.buildPdf(Vector(content), compress = false)
    val blocks = PdfLayout.layout(PdfParser.parse(bytes)).blocks
    // per-line discipline (text_extractor_all.py:353-362): a 2-line column
    // block is 2 output lines, and the Line tier carries both
    assert(blocks.map(_.text) == Vector("left one\nleft two", "right one\nright two"))
    assert(blocks.map(_.lines.map(_.text)) ==
      Vector(Vector("left one", "left two"), Vector("right one", "right two")))
  }

  test("pdf: a 3-line paragraph yields 3 output lines (per-line txt discipline, text_extractor_all.py:353-362)") {
    val content = "BT /F1 12 Tf 50 600 Td 14 TL (one) Tj T* (two) Tj T* (three) Tj ET"
    val bytes = FixtureGen.buildPdf(Vector(content), compress = false)
    val blocks = PdfLayout.layout(PdfParser.parse(bytes)).blocks
    assert(blocks.length == 1)
    assert(blocks.head.text == "one\ntwo\nthree")
    assert(blocks.head.lines.map(_.text) == Vector("one", "two", "three"))
    assert(TextAssembly.assemble(blocks) == "one\ntwo\nthree")
  }

  test("pdf: span tier decodes font, style flags, fill color, superscript (text_extractor_all.py:40-62)") {
    val content =
      """0.2 0.4 0.6 rg
        |BT /F2 14 Tf 50 600 Td (bold head) Tj ET
        |0 g
        |BT /F3 12 Tf 50 560 Td (italic body) Tj 2 Ts /F1 8 Tf (1) Tj 0 Ts ET""".stripMargin
    val bytes = FixtureGen.buildPdf(Vector(content), compress = false)
    val blocks = PdfLayout.layout(PdfParser.parse(bytes)).blocks
    val spans = blocks.flatMap(_.lines).flatMap(_.spans)
    val bold = spans.find(_.text == "bold head").get
    assert(bold.font == "Helvetica-Bold" && bold.bold && !bold.italic && !bold.serif)
    assert((bold.colorR, bold.colorG, bold.colorB) == (51, 102, 153)) // int_to_rgb parity
    val ital = spans.find(_.text == "italic body").get
    assert(ital.font == "Times-Italic" && ital.italic && ital.serif && !ital.bold)
    assert((ital.colorR, ital.colorG, ital.colorB) == (0, 0, 0)) // `0 g` reset
    val sup = spans.find(_.text == "1").get
    assert(sup.superscript && sup.size == 8.0 && !sup.bold)
    // the rise-2 run stays in its line; line text joins runs in x order
    assert(blocks.exists(_.lines.exists(_.text == "italic body 1")))
  }

  test("html: inline style tags produce styled spans that partition the block text") {
    val html = "<html><body><p>plain <b>bold <i>both</i></b> tail <code>mono</code> x<sup>2</sup></p></body></html>"
    val blocks = HtmlExtractor.extract(html).blocks
    assert(blocks.length == 1)
    val line = blocks.head.lines.head
    assert(line.text == blocks.head.text)
    // spans partition the text exactly, in order
    assert(line.spans.map(_.text).mkString == line.text)
    def spanOf(t: String) = line.spans.find(_.text == t).get
    assert(!spanOf("plain").bold)
    assert(spanOf(" bold").bold && !spanOf(" bold").italic)
    assert(spanOf(" both").bold && spanOf(" both").italic)
    assert(!spanOf(" tail").bold && !spanOf(" tail").italic)
    assert(spanOf(" mono").monospace)
    assert(spanOf("2").superscript)
  }

  test("pdf: cm and scaled Tm compose into true page geometry") {
    val content =
      """q 2 0 0 2 10 50 cm BT /F1 12 Tf 20 330 Td (scaled para) Tj ET Q
        |BT 1.5 0 0 1.5 50 100 Tm (tm scaled) Tj ET""".stripMargin
    val bytes = FixtureGen.buildPdf(Vector(content), compress = false)
    val runs = PdfParser.parse(bytes).head.runs
    val a = runs.find(_.text == "scaled para").get
    // CTM 2x + translate(10, 50): x = 2*20+10, base = 792-(2*330+50), size 24
    assert(a.x == 50.0 && a.base == 82.0 && a.size == 24.0, a)
    val b = runs.find(_.text == "tm scaled").get
    // Tm scale 1.5: effective size 18 at (50, 792-100); Q restored the CTM
    assert(b.x == 50.0 && b.base == 692.0 && b.size == 18.0, b)
  }

  test("pdf: objects packed in a compressed object stream (ObjStm, PDF 1.5) are found") {
    // page dict lives INSIDE a FlateDecode'd /Type /ObjStm — invisible to a
    // plain linear object scan; modern PDFs pack most objects this way
    val packedObj = "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
      "/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"
    val header = "4 0\n"
    val stmData = FixtureGen.deflate(
      (header + packedObj).getBytes(StandardCharsets.ISO_8859_1))
    val content = "BT /F1 12 Tf 50 600 Td (objstm text) Tj ET"
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.5\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [ 4 0 R ] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n")
    w(s"5 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
    w(s"9 0 obj << /Type /ObjStm /N 1 /First ${header.length} " +
      s"/Filter /FlateDecode /Length ${stmData.size} >> stream\n")
    out.write(stmData)
    w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R /Size 10 >>\n%%EOF\n")
    val pages = PdfParser.parse(out.toByteArray)
    assert(pages.length == 1)
    assert(pages.head.runs.exists(_.text == "objstm text"))
  }

  test("pdf: ObjStm with indirect /N//First inside another ObjStm (fixpoint unpack)") {
    // ObjStm 9 holds the page dict, but its /N and /First are indirect refs
    // to objects 10 and 11 — which are themselves packed inside ObjStm 12.
    // A single unpack pass cannot read 9; the fixpoint iteration must first
    // unpack 12 (exposing 10/11), then 9.
    val packedPage = "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
      "/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"
    val hdr9 = "4 0\n"
    val stm9 = FixtureGen.deflate((hdr9 + packedPage).getBytes(StandardCharsets.ISO_8859_1))
    // ObjStm 12 packs "10 0 obj 1" and "11 0 obj <hdr9 length>"
    val inner = s"1 ${hdr9.length}"
    val hdr12 = s"10 0 11 2\n" // obj 10 at offset 0, obj 11 at offset 2 ("1 " is 2 chars)
    val stm12 = FixtureGen.deflate((hdr12 + inner).getBytes(StandardCharsets.ISO_8859_1))
    val content = "BT /F1 12 Tf 50 600 Td (fixpoint text) Tj ET"
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.5\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [ 4 0 R ] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n")
    w(s"5 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
    w(s"9 0 obj << /Type /ObjStm /N 10 0 R /First 11 0 R " +
      s"/Filter /FlateDecode /Length ${stm9.length} >> stream\n")
    out.write(stm9)
    w("\nendstream endobj\n")
    w(s"12 0 obj << /Type /ObjStm /N 2 /First ${hdr12.length} " +
      s"/Filter /FlateDecode /Length ${stm12.length} >> stream\n")
    out.write(stm12)
    w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R /Size 13 >>\n%%EOF\n")
    val pages = PdfParser.parse(out.toByteArray)
    assert(pages.length == 1)
    assert(pages.head.runs.exists(_.text == "fixpoint text"))
  }

  test("pdf: FlateDecode streams parse identically to raw") {
    val content = "BT /F1 12 Tf 50 600 Td (compressed text) Tj ET"
    val raw = FixtureGen.buildPdf(Vector(content), compress = false)
    val zip = FixtureGen.buildPdf(Vector(content), compress = true)
    assert(PdfParser.parse(raw).head.runs == PdfParser.parse(zip).head.runs)
  }

  test("pdf: TJ kerning, Tm, quote operator, escapes") {
    val content =
      """BT /F1 10 Tf 1 0 0 1 50 500 Tm [(a) -100 (b)] TJ ET
        |BT /F1 10 Tf 50 480 Td 12 TL (line\(1\)) Tj (next) ' ET""".stripMargin
    val bytes = FixtureGen.buildPdf(Vector(content), compress = false)
    val runs = PdfParser.parse(bytes).head.runs
    assert(runs.map(_.text) == Vector("a", "b", "line(1)", "next"))
    // kerning: -100/1000*10 = +1.0 gap beyond advance of "a" (0.5*10*1=5)
    assert(math.abs(runs(1).x - (50 + 5 + 1.0)) < 1e-9)
    // ' = T* then show: baseline drops by TL=12
    assert(math.abs(runs(3).base - (runs(2).base + 12)) < 1e-9)
  }

  test("pdf image XObjects surface as ImageRef rows with real bbox/dims/bytes (S7)") {
    val withImg = graft.gen.FixtureGen.buildPdf(
      Vector("BT /F1 12 Tf 50 600 Td (text next to an image) Tj ET"),
      compress = false, imagePages = Set(0))
    val pages = PdfParser.parse(withImg)
    assert(pages.head.images.length == 1)
    val r = PdfLayout.layout(pages)
    assert(r.images.length == 1 && r.images.head.page == 1)
    val im = r.images.head
    // fixture draws `q 32 0 0 32 500 100 cm /Im1 Do Q` on a 612x792 page:
    // unit square through the CTM → x [500,532], y [100,132] bottom-up
    // → top-left coords y [660,692]; intrinsic 4x4 DeviceGray, 16 bytes
    assert(im.x0 == 500.0 && im.x1 == 532.0, im)
    assert(im.y0 == 660.0 && im.y1 == 692.0, im)
    assert(im.width == 4 && im.height == 4)
    assert(im.bytes.length == 16)
    // image docs exist in the generated corpus too
    val corpusImgs = graft.gen.FixtureGen.fixtures(200)
      .map(f => Extractor.extract(f.row))
      .filter(d => d.extractor == "pdf" && d.images.nonEmpty)
    assert(corpusImgs.nonEmpty)
    // and every corpus image carries a real placement + payload
    corpusImgs.flatMap(_.images).foreach { i =>
      assert(i.x1 > i.x0 && i.y1 > i.y0 && i.width == 4 && i.bytes.nonEmpty, i)
    }
  }

  test("pdf CMYK image samples are converted to RGB (S7 colorspace parity)") {
    val pdf = graft.gen.FixtureGen.buildPdf(
      Vector("BT /F1 12 Tf 50 600 Td (cmyk page) Tj ET"),
      compress = false, imagePages = Set(0), cmykPages = Set(0))
    val im = PdfParser.parse(pdf).head.images.head
    // 4x4 CMYK (64 bytes in) → RGB (48 bytes out)
    assert(im.bytes.length == 48, im.bytes.length)
    assert(im.colorSpace == "DeviceCMYK")
    // pixel 0: C=0 M=4 Y=8 K=12 → R=(255-0)(255-12)/255=243, G=239, B=235
    assert((im.bytes(0) & 0xff) == 243)
    assert((im.bytes(1) & 0xff) == 239)
    assert((im.bytes(2) & 0xff) == 235)
  }

  test("pdf text-state spacing: Tc/Tw/Tz and the double-quote operator") {
    // Tm for absolute placement (Td is relative); Tz resets to 100 after
    // the scaling segment (text-state params persist across shows)
    val content = "BT /F1 10 Tf 2 Tc 1 0 0 1 100 700 Tm (ab cd) Tj " +
      "0 Tc 50 Tz 1 0 0 1 100 600 Tm (wide) Tj " +
      "100 Tz 12 TL 1 0 0 1 100 500 Tm (first) Tj 3 1 (w x) \" ET"
    val runs = PdfParser.parse(graft.gen.FixtureGen.buildPdf(
      Vector(content), compress = false)).head.runs
    // Tc=2: advance = 5*(0.5*10+2) = 35 (word spacing 0 by default)
    val a = runs.find(_.text == "ab cd").get
    assert(math.abs(a.w - 35.0) < 1e-9, a)
    // Tz=50: advance halves → 4*5*0.5 = 10
    val b = runs.find(_.text == "wide").get
    assert(math.abs(b.w - 10.0) < 1e-9, b)
    // " sets Tw=3 Tc=1, moves to next line (TL=12), then shows:
    // advance = 3*(5+1) + 1*3 = 21; baseline drops by 12 from "first"
    val f = runs.find(_.text == "first").get
    val q = runs.find(_.text == "w x").get
    assert(math.abs(q.w - 21.0) < 1e-9, q)
    assert(math.abs(q.base - (f.base + 12)) < 1e-9, (f.base, q.base))
    // identity defaults: a plain doc is byte-identical (corpus test covers)
  }

  test("pdf rotated text (Tm 90-degree family) is skipped, not mis-placed") {
    val content = "BT /F1 12 Tf 0 1 -1 0 300 300 Tm (ROTATED WATERMARK) Tj " +
      "1 0 0 1 50 600 Tm (upright text) Tj ET"
    val runs = PdfParser.parse(graft.gen.FixtureGen.buildPdf(
      Vector(content), compress = false)).head.runs
    assert(!runs.exists(_.text == "ROTATED WATERMARK"), runs)
    assert(runs.exists(_.text == "upright text"))
  }

  test("pdf word boxes: per-word geometry from runs (S3 extract_words parity)") {
    val pdf = graft.gen.FixtureGen.buildPdf(
      Vector("BT /F1 10 Tf 100 700 Td (alpha beta) Tj ET"), compress = false)
    val row = PageRow("u", new java.sql.Timestamp(0), pdf, "", "en")
    val ws = Extractor.wordBoxes(row)
    assert(ws.map(_.word) == Seq("alpha", "beta"))
    // advance = 0.5*10 = 5/char: "alpha" x [100,125], "beta" x [130,150]
    val a = ws.head; val b = ws(1)
    assert(math.abs(a.x0 - 100.0) < 1e-9 && math.abs(a.x1 - 125.0) < 1e-9, a)
    assert(math.abs(b.x0 - 130.0) < 1e-9 && math.abs(b.x1 - 150.0) < 1e-9, b)
    assert(a.top == b.top && a.bottom > a.top)
    // html rows yield no word boxes (no glyph geometry without a renderer)
    assert(Extractor.wordBoxes(PageRow("u2", new java.sql.Timestamp(0),
      "<html><body><p>hi</p></body></html>".getBytes, "", "en")).isEmpty)
  }

  test("fallback chain: empty-text pdf routes to provided text") {
    val row = PageRow("u", new java.sql.Timestamp(0), FixtureGen.emptyPdf(), "wet line one\nwet line two", "en")
    val doc = Extractor.extract(row)
    assert(doc.extractor == "pdf+fallback" && doc.usedFallback)
    assert(doc.text == "wet line one\nwet line two")
    val empty = Extractor.extract(PageRow("u", new java.sql.Timestamp(0), Array.emptyByteArray, "", "en"))
    assert(empty.extractor == "empty" && empty.text == "")
  }

  test("argmax tie-break parity: first-max-wins in candidate order") {
    // equal scores → methodRank decides (stream before lattice), like
    // Python max() keeping the first maximal element
    val f = FixtureGen.fixtures(300).find { fx =>
      val d = Extractor.extract(fx.row)
      d.tables.nonEmpty
    }.get
    val d = Extractor.extract(f.row)
    val best = d.tables.groupBy(t => (t.page, t.x0, t.y0)).map { case (_, cands) =>
      cands.minBy(c => (-c.score, c.methodRank, c.cand))
    }
    assert(best.nonEmpty)
  }
}
