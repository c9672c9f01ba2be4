package graft.core

import scala.collection.mutable

/** HTML → classified blocks + table candidates + image refs.
  *
  * A Boilerpipe/trafilatura-style main-content extractor (Kohlschütter et
  * al., WSDM 2010; Barbaresi, ACL 2021) over the token stream from
  * [[HtmlTokenizer]] — no DOM is materialized. Block segmentation happens at
  * block-level tag boundaries; each block carries text-density features
  * (chars, words, link chars) and structural context (nav/header/footer/
  * aside/heading). Classification mirrors the shape of the reference's
  * block classifier (/root/reference/src/text_extractor_all.py:65-83):
  * per-block features → threshold rules → kind label; the byte-identity
  * text surface keeps {title, heading, paragraph} only
  * (text_extractor_all.py:353-362).
  *
  * HTML has no page geometry, so bbox is synthesized in "block units":
  * (0, idx, 1, idx+1) — stable, and keeps the Provenance schema uniform
  * with the PDF path.
  */
object HtmlExtractor {

  /** Whitespace normalization: collapse runs of ASCII whitespace + NBSP to a
    * single space, trim. Defined ONCE here; FixtureGen and tests reuse it —
    * this is the byte-identity contract for HTML text. */
  def normText(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u00A0') {
        if (sb.length() > 0) pendingSpace = true
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private val blockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "table", "tr", "td", "th", "thead", "tbody", "tfoot", "caption",
    "section", "article", "header", "footer", "nav", "aside", "main",
    "title", "blockquote", "pre", "figure", "figcaption", "dl", "dt", "dd",
    "hr", "form", "fieldset", "address", "body", "html", "head")

  /** Link-density threshold above which a non-heading block is boilerplate
    * (Boilerpipe's link-density feature; Kohlschütter 2010 §4.2). */
  val LinkDensityMax = 0.33
  /** Minimum words for an unlinked block to count as content when it sits in
    * plain flow — very short link-bearing fragments are chrome. */
  val MinWordsLinked = 5

  final case class Result(blocks: Vector[Block], tables: Vector[TableCand], images: Vector[ImageRef])

  def extract(bytes: Array[Byte]): Result = {
    val sink = new BlockSink
    HtmlTokenizer.tokenize(bytes, sink)
    sink.finish()
  }

  def extract(html: String): Result = {
    val sink = new BlockSink
    HtmlTokenizer.tokenize(html, sink)
    sink.finish()
  }

  private final class BlockSink extends HtmlTokenizer.Sink {
    private val blocks = Vector.newBuilder[Block]
    private val tables = Vector.newBuilder[TableCand]
    private val images = Vector.newBuilder[ImageRef]
    private var blockIdx = 0
    private var imageIdx = 0
    private var tableIdx = 0

    // structural context depths
    private var inHead, inNav, inHeader, inFooter, inAside, inLink = 0
    private var headingDepth = 0   // depth inside h1..h6
    private var headingLevel = 0   // level of innermost open heading
    private var tableDepth = 0

    // inline style depths → span boundaries (the Line/Span tier; HTML has
    // no font geometry, so size=0/font="" and style flags come from tags)
    private var stBold, stItalic, stMono, stSup = 0
    /** (offset into buf, style bits) span marks; bits: 1 bold, 2 italic,
      * 4 mono, 8 superscript. Marks partition the block text exactly; a
      * collapsed inter-word space that lands on a style boundary belongs
      * to the span that follows it (deterministic, documented). */
    private val spanMarks = mutable.ArrayBuffer[(Int, Int)]((0, 0))

    @inline private def styleBits: Int =
      (if (stBold > 0) 1 else 0) | (if (stItalic > 0) 2 else 0) |
        (if (stMono > 0) 4 else 0) | (if (stSup > 0) 8 else 0)

    private def markStyle(): Unit = {
      val bits = styleBits
      val off = buf.length()
      if (spanMarks.last._1 == off) spanMarks(spanMarks.length - 1) = (off, bits)
      else if (spanMarks.last._2 != bits) spanMarks += ((off, bits))
    }

    private def mkSpans(text: String): Vector[Span] = {
      // fast path — unstyled block (the overwhelming majority): one span
      // over the whole text, no substring copy
      if (spanMarks.length == 1 && spanMarks(0)._2 == 0)
        return Vector(Span(text, "", 0.0, 0, 0, 0,
          superscript = false, italic = false, serif = false,
          monospace = false, bold = false))
      val out = Vector.newBuilder[Span]
      var mi = 0
      while (mi < spanMarks.length) {
        val start = spanMarks(mi)._1
        val end = if (mi + 1 < spanMarks.length) math.min(spanMarks(mi + 1)._1, text.length)
          else text.length
        if (end > start) {
          val bits = spanMarks(mi)._2
          out += Span(text.substring(start, end), "", 0.0, 0, 0, 0,
            superscript = (bits & 8) != 0, italic = (bits & 2) != 0,
            serif = false, monospace = (bits & 4) != 0, bold = (bits & 1) != 0)
        }
        mi += 1
      }
      out.result()
    }

    // current text block accumulator — text is normalized AS IT IS
    // APPENDED (same rules as normText: ws runs collapse to one space,
    // no leading space), so flush needs no second normalization pass.
    private val buf = new java.lang.StringBuilder(256)
    private var bufRaw = 0        // raw chars appended (density denominator)
    private var bufLink = 0       // raw link chars in buf
    private var pendingSpace = false

    @inline private def isWsChar(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u00A0'

    private def normAppend(s: CharSequence, start: Int, end: Int): Unit = {
      var i = start
      while (i < end) {
        val c = s.charAt(i)
        if (isWsChar(c)) {
          if (buf.length() > 0) pendingSpace = true
          i += 1
        } else {
          if (pendingSpace) { buf.append(' '); pendingSpace = false }
          // append the whole non-ws segment at once (bulk arraycopy)
          // instead of one char per call
          var j = i + 1
          while (j < end && !isWsChar(s.charAt(j))) j += 1
          buf.append(s, i, j)
          i = j
        }
      }
    }
    private var ctxNav, ctxHeader, ctxFooter, ctxAside = false
    private var ctxHeading = 0

    // current table accumulator (top-level table only)
    private var rows: mutable.ArrayBuffer[mutable.ArrayBuffer[String]] = null
    private var cell: java.lang.StringBuilder = null

    /** Flushes fire at block-tag boundaries, always BEFORE the enclosing
      * structural context changes — so the context at flush time is the
      * context the buffered text was written in. */
    private def captureCtx(): Unit = {
      ctxNav = inNav > 0; ctxHeader = inHeader > 0; ctxFooter = inFooter > 0
      ctxAside = inAside > 0; ctxHeading = if (headingDepth > 0) headingLevel else 0
    }

    private def flushBlock(): Unit = {
      if (buf.length() == 0) {
        bufRaw = 0; bufLink = 0; pendingSpace = false
        spanMarks.clear(); spanMarks += ((0, styleBits))
        return
      }
      captureCtx()
      val text = buf.toString // normalized on append
      val spans = mkSpans(text)
      spanMarks.clear(); spanMarks += ((0, styleBits))
      val rawLen = bufRaw
      buf.setLength(0)
      pendingSpace = false
      bufRaw = 0
      val link = bufLink; bufLink = 0
      if (text.isEmpty) return // P1 empty-text filter
      val nChars = text.length
      val nWords = countWords(text)
      val linkDensity = if (rawLen > 0) link.toDouble / rawLen else 0.0
      val kind =
        if (ctxHeading == 1) BlockKind.Title
        else if (ctxHeading >= 2) BlockKind.Heading
        else if (ctxHeader || ctxNav) BlockKind.Header
        else if (ctxFooter) BlockKind.Footer
        else if (ctxAside) BlockKind.Boilerplate
        else if (linkDensity > LinkDensityMax) BlockKind.Boilerplate
        else if (link > 0 && nWords < MinWordsLinked) BlockKind.Boilerplate
        else BlockKind.Paragraph
      val linkChars = math.min(link, nChars)
      blocks += Block(1, blockIdx, kind, text,
        0.0, blockIdx.toDouble, 1.0, blockIdx + 1.0,
        0.0, 0.0, nChars, linkChars, nWords,
        Vector(Line(text, spans)))
      blockIdx += 1
    }

    private def countWords(s: String): Int = {
      var n = 0; var i = 0; var inW = false
      while (i < s.length) {
        if (s.charAt(i) == ' ') inW = false
        else if (!inW) { n += 1; inW = true }
        i += 1
      }
      n
    }

    override def startTag(name: String, selfClosing: Boolean): Unit = {
      name match {
        case "img" =>
          if (inHead == 0) {
            images += ImageRef(1, imageIdx, 0.0, blockIdx.toDouble, 1.0, blockIdx + 1.0, 0, 0, Array.emptyByteArray)
            imageIdx += 1
          }
          return
        case "br" =>
          if (tableDepth > 0 && cell != null) cell.append(' ') else flushBlock()
          return
        case _ =>
      }
      if (selfClosing && !blockTags.contains(name)) return
      name match {
        case "head"   => flushBlock(); inHead += 1
        case "nav"    => flushBlock(); inNav += 1
        case "header" => flushBlock(); inHeader += 1
        case "footer" => flushBlock(); inFooter += 1
        case "aside"  => flushBlock(); inAside += 1
        case "a"      => inLink += 1
        case "b" | "strong" => stBold += 1; markStyle()
        case "i" | "em"     => stItalic += 1; markStyle()
        case "code" | "tt"  => stMono += 1; markStyle()
        case "sup"          => stSup += 1; markStyle()
        case "table"  =>
          flushBlock()
          tableDepth += 1
          if (tableDepth == 1) { rows = mutable.ArrayBuffer.empty; cell = null }
        case "tr" if tableDepth == 1 =>
          rows += mutable.ArrayBuffer.empty; cell = null
        case "td" | "th" if tableDepth == 1 =>
          if (rows.isEmpty) rows += mutable.ArrayBuffer.empty
          cell = new java.lang.StringBuilder(32)
          rows.last += "" // placeholder, replaced at close
        case h if h.length == 2 && h.charAt(0) == 'h' && h.charAt(1) >= '1' && h.charAt(1) <= '6' =>
          flushBlock(); headingDepth += 1; headingLevel = h.charAt(1) - '0'
        case t if blockTags.contains(t) && tableDepth == 0 => flushBlock()
        case _ =>
      }
      if (selfClosing) endTag(name)
    }

    override def endTag(name: String): Unit = name match {
      case "head"   => flushBlock(); if (inHead > 0) inHead -= 1
      case "nav"    => flushBlock(); if (inNav > 0) inNav -= 1
      case "header" => flushBlock(); if (inHeader > 0) inHeader -= 1
      case "footer" => flushBlock(); if (inFooter > 0) inFooter -= 1
      case "aside"  => flushBlock(); if (inAside > 0) inAside -= 1
      case "a"      => if (inLink > 0) inLink -= 1
      case "b" | "strong" => if (stBold > 0) stBold -= 1; markStyle()
      case "i" | "em"     => if (stItalic > 0) stItalic -= 1; markStyle()
      case "code" | "tt"  => if (stMono > 0) stMono -= 1; markStyle()
      case "sup"          => if (stSup > 0) stSup -= 1; markStyle()
      case "td" | "th" =>
        if (tableDepth == 1 && cell != null && rows.nonEmpty) {
          rows.last(rows.last.length - 1) = normText(cell.toString)
          cell = null
        }
      case "table" =>
        if (tableDepth == 1) { emitTable(); rows = null; cell = null }
        if (tableDepth > 0) tableDepth -= 1
      case h if h.length == 2 && h.charAt(0) == 'h' && h.charAt(1) >= '1' && h.charAt(1) <= '6' =>
        flushBlock(); if (headingDepth > 0) headingDepth -= 1
        if (headingDepth == 0) headingLevel = 0
      case t if blockTags.contains(t) && tableDepth == 0 => flushBlock()
      case _ =>
    }

    override def textChunk(s: String, start: Int, end: Int): Unit = {
      if (inHead > 0 || end <= start) return
      if (tableDepth > 0) {
        if (cell != null) cell.append(s, start, end)
        return
      }
      normAppend(s, start, end)
      bufRaw += end - start
      if (inLink > 0) bufLink += end - start
    }

    override def textStr(s: String): Unit = {
      if (inHead > 0) return
      if (tableDepth > 0) {
        if (cell != null) cell.append(s)
        return
      }
      normAppend(s, 0, s.length)
      bufRaw += s.length
      if (inLink > 0) bufLink += s.length
    }

    /** Emit both table-candidate "engines" over the accumulated grid
      * (reference runs camelot-stream then pdfplumber per page and scores
      * both; text_extractor_all.py:190-216). Engine 2 "grid" = the DOM
      * cells; engine 1 "stream" is a positional stream-mode emulation:
      * rows laid out as fixed-offset text (column template = max cell
      * widths), columns re-derived from the text-segment offsets that
      * actually occur — so an empty cell inside a populated column is
      * preserved by position (camelot-stream's whitespace alignment), but
      * a column with NO text anywhere is invisible to a stream detector
      * and drops, which lowers the stream score (fewer cols) and lets the
      * argmax prefer the grid engine — the reference's candidate contest. */
    private def emitTable(): Unit = {
      val grid = rows.map(_.toVector).filter(_.nonEmpty).toVector
      if (grid.isEmpty) return
      val y = blockIdx.toDouble
      // candidate 1: stream (methodRank 0, mirrors camelot-first order)
      val width = grid.map(_.length).max
      val colW = Array.tabulate(width)(c =>
        grid.map(r => if (c < r.length) r(c).length else 0).max)
      val starts = new Array[Int](width)
      var off = 0
      var ci = 0
      while (ci < width) { starts(ci) = off; off += colW(ci) + 2; ci += 1 }
      val segs = grid.map { r =>
        r.zipWithIndex.collect { case (v, c) if v.nonEmpty => (starts(c), v) }
      }
      val clusters = segs.flatten.map(_._1).distinct.sorted
      val colOf = clusters.zipWithIndex.toMap
      val streamGrid = segs.map { row =>
        val out = Array.fill(clusters.length)("")
        row.foreach { case (o, v) => out(colOf(o)) = v }
        out.toVector
      }
      emitCand("stream", 0, streamGrid, y)
      // candidate 2: grid (methodRank 1)
      emitCand("grid", 1, grid, y)
      // table block for the inventory / provenance (not the text surface)
      // one Line per table row (per-line discipline, like the PDF path)
      val rowLines = grid.map(r => normText(r.mkString(" "))).filter(_.nonEmpty)
      val blockText = rowLines.mkString("\n")
      if (blockText.nonEmpty) {
        blocks += Block(1, blockIdx, BlockKind.Table, blockText,
          0.0, y, 1.0, y + 1.0, 0.0, 0.0, blockText.length, 0,
          countWords(blockText.replace('\n', ' ')),
          rowLines.map(t => Line(t, Vector(Span(t, "", 0.0, 0, 0, 0,
            superscript = false, italic = false, serif = false,
            monospace = false, bold = false)))))
        blockIdx += 1
      }
    }

    private def emitCand(method: String, rank: Int, grid: Vector[Vector[String]], y: Double): Unit = {
      val nRows = grid.length
      val nCols = if (grid.isEmpty) 0 else grid.map(_.length).max
      val cells = for {
        (row, r) <- grid.zipWithIndex
        (v, c)   <- row.zipWithIndex
      } yield TableCell(1, tableIdx, r, c, v)
      tables += TableCand(1, tableIdx, method, rank, nRows, nCols,
        TableScore.score(grid), 0.0, y, 1.0, y + 1.0, cells)
      tableIdx += 1
    }

    def finish(): Result = {
      flushBlock()
      Result(blocks.result(), tables.result(), images.result())
    }
  }
}

/** Port of the reference's table scorer
  * (/root/reference/src/text_extractor_all.py:86-96): score = rows·0.1 +
  * cols·0.2 + 2·numeric_ratio; −1 sentinel when rows<3 or cols<2. A cell is
  * numeric when, after stripping ',' and '.', Python str.isdigit() holds. */
object TableScore {
  def isNumericCell(s: String): Boolean = {
    val t = s.replace(",", "").replace(".", "")
    t.nonEmpty && t.forall(_.isDigit)
  }

  def score(grid: Seq[Seq[String]]): Double = {
    val rows = grid.length
    val cols = if (grid.isEmpty) 0 else grid.map(_.length).max
    if (rows < 3 || cols < 2) return -1.0
    val total = rows * cols
    var numeric = 0
    grid.foreach(_.foreach(c => if (isNumericCell(c)) numeric += 1))
    val ratio = if (total > 0) numeric.toDouble / total else 0.0
    rows * 0.1 + cols * 0.2 + 2.0 * ratio
  }
}
