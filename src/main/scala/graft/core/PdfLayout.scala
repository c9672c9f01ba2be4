package graft.core

import PdfParser.{PdfPage, TextRun}

/** Reading-order recovery + block building over parsed PDF text runs.
  *
  * Pipeline per page:
  *  1. group ALL runs into baseline lines (exact-geometry grouping);
  *  2. detect table regions on those lines (short aligned multi-run rows —
  *     the whitespace-stream family of detectors) and pull their runs out;
  *  3. XY-cut (Nagy & Seth, ICPR 1984) the remaining prose runs: recursive
  *     split at the widest whitespace band, wider-gap-first, deterministic
  *     tie-breaks — this replaces the reference's reliance on pdfplumber's
  *     internal ordering (/root/reference/src/text_extractor_all.py:176);
  *  4. lines → blocks by vertical pitch; classify with the reference rules
  *     (text_extractor_all.py:65-83): header band y1 < 0.1·H, footer band
  *     y0 > 0.9·H, title when max span size ≥ 1.5·avg, heading ≥ 1.2·avg;
  *  5. table blocks append after prose blocks per page (they are page-level
  *     artifacts excluded from the text surface, like the reference's
  *     table CSVs, text_extractor_all.py:218-232).
  */
object PdfLayout {

  /** Min horizontal whitespace band (fraction of avg size) to cut rows. */
  val YGapFactor = 1.2
  /** Min vertical whitespace band (fraction of avg size) to cut columns. */
  val XGapFactor = 2.0
  /** Runs share a line when baselines differ by less than this × size. */
  val LineTolFactor = 0.3
  /** New block when consecutive baselines are farther apart than this. */
  val BlockGapFactor = 1.6
  /** Table-cell runs are short; prose runs are long (SURVEY §7.4 #2). */
  val MaxCellLen = 16
  /** Max vertical pitch between consecutive table rows (× font size). */
  val TablePitchFactor = 2.2

  final case class PageResult(blocks: Vector[Block], tables: Vector[TableCand], images: Vector[ImageRef])

  def layout(pages: Vector[PdfPage]): PageResult = {
    var blockIdx = 0
    var tableIdx = 0
    var imageIdx = 0
    val blocks = Vector.newBuilder[Block]
    val tables = Vector.newBuilder[TableCand]
    val images = Vector.newBuilder[ImageRef]
    val styleOf = new java.util.HashMap[String, (Boolean, Boolean, Boolean, Boolean)](8)
    pages.foreach { p =>
      val allLines = baselineLines(p.runs)
      val (tableRegions, proseLines) = splitTables(allLines)
      // prose: XY-cut over the remaining runs; each leaf is its own block
      // scope (reading order never jumps upward inside a block)
      val leaves = xyCutLeaves(proseLines.flatten, avgSize(p.runs))
      leaves.flatMap(leaf => toBlocks(toLines(leaf))).foreach { lns =>
        val lineObjs = mkLines(lns, styleOf)
        if (lineObjs.nonEmpty) {
          blocks += mkBlock(p, blockIdx, classify(lns, p.height), lns, lineObjs)
          blockIdx += 1
        }
      }
      // tables: candidates + an inventory block each, after prose
      tableRegions.foreach { region =>
        val cands = tableCandidates(region, p.num, tableIdx)
        cands.foreach(tables += _)
        tableIdx += cands.length
        val lineObjs = mkLines(region, styleOf)
        if (lineObjs.nonEmpty) {
          blocks += mkBlock(p, blockIdx, BlockKind.Table, region, lineObjs)
          blockIdx += 1
        }
      }
      p.images.foreach { im =>
        images += ImageRef(p.num, imageIdx, im.x0, im.y0, im.x1, im.y1,
          im.width, im.height, im.bytes)
        imageIdx += 1
      }
    }
    PageResult(blocks.result(), tables.result(), images.result())
  }

  private def avgSize(runs: Vector[TextRun]): Double =
    if (runs.isEmpty) 12.0 else runs.map(_.size).sum / runs.length

  private def lineText(line: Vector[TextRun]): String =
    line.map(_.text).mkString(" ")

  /** Span of one run: style flags from the font name + Ts rise
    * (decode_font_flags parity, text_extractor_all.py:55-62); color is the
    * fill color at show time (int_to_rgb parity, :40-46). Span text stays
    * raw — normalization applies to the LINE text only. `styleOf` memoizes
    * the name-based flag decode: a document has a handful of distinct
    * fonts but thousands of runs, and the substring scans were measurable
    * on the hot path. */
  private def mkSpan(r: TextRun,
      styleOf: java.util.HashMap[String, (Boolean, Boolean, Boolean, Boolean)]): Span = {
    var st = styleOf.get(r.font)
    if (st == null) { st = PdfParser.fontStyle(r.font); styleOf.put(r.font, st) }
    Span(r.text, r.font, r.size, r.colorR, r.colorG, r.colorB,
      superscript = r.rise > 0, italic = st._2, serif = st._3,
      monospace = st._4, bold = st._1)
  }

  /** The Line tier: one Line per layout line with non-empty normalized
    * text — the reference keeps `line_text.strip()` truthy lines only
    * (text_extractor_all.py:246-249). */
  private def mkLines(lns: Vector[Vector[TextRun]],
      styleOf: java.util.HashMap[String, (Boolean, Boolean, Boolean, Boolean)]): Vector[Line] =
    lns.flatMap { ln =>
      val t = HtmlExtractor.normText(lineText(ln))
      if (t.isEmpty) None else Some(Line(t, ln.map(r => mkSpan(r, styleOf))))
    }

  /** Single-pass geometry + font stats over a block's runs (these were the
    * hottest allocations in the layout stage). */
  private final class BlockStats(lns: Vector[Vector[TextRun]]) {
    var x0: Double = Double.MaxValue
    var y0: Double = Double.MaxValue
    var x1: Double = Double.MinValue
    var y1: Double = Double.MinValue
    var sizeMax: Double = Double.MinValue
    var sizeSum: Double = 0.0
    var n: Int = 0
    lns.foreach(_.foreach { r =>
      if (r.x < x0) x0 = r.x
      if (r.y < y0) y0 = r.y
      if (r.x + r.w > x1) x1 = r.x + r.w
      if (r.y + r.h > y1) y1 = r.y + r.h
      if (r.size > sizeMax) sizeMax = r.size
      sizeSum += r.size
      n += 1
    })
    def sizeAvg: Double = if (n > 0) sizeSum / n else 0.0
  }

  /** Block text is the per-line '\n' join — the reference's `.txt` surface
    * emits one output line per layout line (text_extractor_all.py:353-362),
    * so a 3-line paragraph must stay 3 lines, never collapse to 1. */
  private def mkBlock(p: PdfPage, idx: Int, kind: String,
      lns: Vector[Vector[TextRun]], lineObjs: Vector[Line]): Block = {
    val text = lineObjs.map(_.text).mkString("\n")
    val s = new BlockStats(lns)
    var words = 0; var i = 0; var inW = false
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == ' ' || c == '\n') inW = false
      else if (!inW) { words += 1; inW = true }
      i += 1
    }
    Block(p.num, idx, kind, text, s.x0, s.y0, s.x1, s.y1,
      s.sizeMax, s.sizeAvg, text.length, 0, words, lineObjs)
  }

  /** Port of classify_block (text_extractor_all.py:65-83). */
  private def classify(lns: Vector[Vector[TextRun]], pageH: Double): String = {
    val s = new BlockStats(lns)
    if (s.y1 < pageH * 0.1) BlockKind.Header
    else if (s.y0 > pageH * 0.9) BlockKind.Footer
    else if (s.sizeMax >= s.sizeAvg * 1.5) BlockKind.Title
    else if (s.sizeMax >= s.sizeAvg * 1.2) BlockKind.Heading
    else BlockKind.Paragraph
  }

  // ----- global baseline lines ----------------------------------------------
  /** Group runs into lines by baseline (size-independent), page-global. */
  def baselineLines(runs: Vector[TextRun]): Vector[Vector[TextRun]] = {
    if (runs.isEmpty) return Vector.empty
    val sorted = runs.sortBy(r => (r.base, r.x, r.text))
    val out = Vector.newBuilder[Vector[TextRun]]
    var cur = Vector.newBuilder[TextRun]
    var curBase = sorted.head.base
    var curSize = sorted.head.size
    sorted.foreach { r =>
      if (math.abs(r.base - curBase) <= LineTolFactor * math.max(curSize, r.size)) {
        cur += r
      } else {
        out += cur.result()
        cur = Vector.newBuilder[TextRun]
        cur += r
        curBase = r.base; curSize = r.size
      }
    }
    out += cur.result()
    out.result()
  }

  // ----- table detection (before XY-cut) -------------------------------------
  /** A table region = ≥3 consecutive baseline lines, each with ≥2 runs, every
    * run short (≤ MaxCellLen chars — cells, not sentences), tight pitch.
    * Returns (table regions, remaining prose lines). */
  private def splitTables(lines: Vector[Vector[TextRun]])
      : (Vector[Vector[Vector[TextRun]]], Vector[Vector[TextRun]]) = {
    def isRowish(ln: Vector[TextRun]): Boolean =
      ln.length >= 2 && ln.forall(_.text.length <= MaxCellLen)
    val regions = Vector.newBuilder[Vector[Vector[TextRun]]]
    val prose = Vector.newBuilder[Vector[TextRun]]
    var i = 0
    while (i < lines.length) {
      if (isRowish(lines(i))) {
        var j = i + 1
        while (j < lines.length && isRowish(lines(j)) && {
          val pitch = lines(j).head.base - lines(j - 1).head.base
          val sz = math.max(lines(j).map(_.size).max, lines(j - 1).map(_.size).max)
          pitch <= TablePitchFactor * sz
        }) j += 1
        if (j - i >= 3) { regions += lines.slice(i, j); i = j }
        else { prose += lines(i); i += 1 }
      } else { prose += lines(i); i += 1 }
    }
    (regions.result(), prose.result())
  }

  /** Two candidate engines over a table region, mirroring the reference's
    * camelot-stream → pdfplumber order (text_extractor_all.py:190-216):
    * "stream" (rank 0) takes each line's runs in x order; "lattice" (rank 1)
    * assigns cells to x-start clusters shared across the region. */
  private def tableCandidates(lns: Vector[Vector[TextRun]], page: Int, nextIdx: Int): Vector[TableCand] = {
    val xTol = 2.0
    val starts = lns.flatten.map(_.x).sorted
    val clusters = Vector.newBuilder[Double]
    var last = Double.NegativeInfinity
    starts.foreach { x => if (x - last > xTol) { clusters += x; last = x } else last = x }
    val cols = clusters.result()
    def colOf(x: Double): Int = {
      var best = 0; var bd = Double.MaxValue
      var i = 0
      while (i < cols.length) {
        val d = math.abs(cols(i) - x); if (d < bd) { bd = d; best = i }; i += 1
      }
      best
    }
    val latticeGrid = lns.map { ln =>
      val byCol = Array.fill(cols.length)("")
      ln.foreach { r =>
        val c = colOf(r.x)
        byCol(c) = if (byCol(c).isEmpty) r.text else byCol(c) + " " + r.text
      }
      byCol.toVector
    }
    val streamGrid = lns.map(_.map(_.text))
    val x0 = lns.flatten.map(_.x).min
    val y0 = lns.flatten.map(_.y).min
    val x1 = lns.flatten.map(r => r.x + r.w).max
    val y1 = lns.flatten.map(r => r.y + r.h).max
    def cand(method: String, rank: Int, grid: Vector[Vector[String]], idx: Int): TableCand = {
      val cells = for {
        (row, r) <- grid.zipWithIndex
        (v, c)   <- row.zipWithIndex
      } yield TableCell(page, idx, r, c, HtmlExtractor.normText(v))
      TableCand(page, idx, method, rank, grid.length, grid.map(_.length).max,
        TableScore.score(grid), x0, y0, x1, y1, cells)
    }
    Vector(cand("stream", 0, streamGrid, nextIdx), cand("lattice", 1, latticeGrid, nextIdx + 1))
  }

  // ----- XY-cut -----------------------------------------------------------
  /** Returns reading-order leaves. Deterministic: splits prefer the wider
    * gap, ties prefer the horizontal cut; leaf runs sort by (base, x, text). */
  def xyCutLeaves(runs: Vector[TextRun], refSize: Double): Vector[Vector[TextRun]] = {
    if (runs.isEmpty) return Vector.empty
    if (runs.length == 1) return Vector(runs)
    val yGap = largestGap(runs.map(r => (r.y, r.y + r.h)))
    val xGap = largestGap(runs.map(r => (r.x, r.x + r.w)))
    val minY = YGapFactor * refSize
    val minX = XGapFactor * refSize
    val yOk = yGap.exists(_._3 >= minY)
    val xOk = xGap.exists(_._3 >= minX)
    if (yOk && (!xOk || yGap.get._3 >= xGap.get._3)) {
      val cut = (yGap.get._1 + yGap.get._2) / 2
      val (top, bottom) = runs.partition(r => r.y + r.h / 2 < cut)
      xyCutLeaves(top, refSize) ++ xyCutLeaves(bottom, refSize)
    } else if (xOk) {
      val cut = (xGap.get._1 + xGap.get._2) / 2
      val (left, right) = runs.partition(r => r.x + r.w / 2 < cut)
      xyCutLeaves(left, refSize) ++ xyCutLeaves(right, refSize)
    } else {
      Vector(runs.sortBy(r => (r.base, r.x, r.text)))
    }
  }

  /** Largest interior gap of merged intervals: (gapStart, gapEnd, width). */
  private def largestGap(iv: Vector[(Double, Double)]): Option[(Double, Double, Double)] = {
    val sorted = iv.sortBy(_._1)
    var end = sorted.head._2
    var best: Option[(Double, Double, Double)] = None
    var i = 1
    while (i < sorted.length) {
      val (s, e) = sorted(i)
      if (s > end) {
        val w = s - end
        if (best.forall(_._3 < w)) best = Some((end, s, w))
      }
      if (e > end) end = e
      i += 1
    }
    best
  }

  // ----- lines & blocks (post-XY-cut, sequential) -----------------------------
  private def toLines(ordered: Vector[TextRun]): Vector[Vector[TextRun]] = {
    if (ordered.isEmpty) return Vector.empty
    val out = Vector.newBuilder[Vector[TextRun]]
    var cur = Vector.newBuilder[TextRun]
    var curBase = ordered.head.base
    var curSize = ordered.head.size
    var n = 0
    ordered.foreach { r =>
      if (n == 0 || math.abs(r.base - curBase) <= LineTolFactor * math.max(curSize, r.size)) {
        cur += r; n += 1
        if (n == 1) { curBase = r.base; curSize = r.size }
      } else {
        out += cur.result().sortBy(r2 => (r2.x, r2.text))
        cur = Vector.newBuilder[TextRun]
        cur += r; n = 1
        curBase = r.base; curSize = r.size
      }
    }
    val lastL = cur.result()
    if (lastL.nonEmpty) out += lastL.sortBy(r2 => (r2.x, r2.text))
    out.result()
  }

  private def toBlocks(lines: Vector[Vector[TextRun]]): Vector[Vector[Vector[TextRun]]] = {
    if (lines.isEmpty) return Vector.empty
    val out = Vector.newBuilder[Vector[Vector[TextRun]]]
    var cur = Vector.newBuilder[Vector[TextRun]]
    var prevBase = lines.head.head.base
    var prevSize = lines.head.map(_.size).max
    cur += lines.head
    lines.tail.foreach { ln =>
      val base = ln.head.base
      val sz = math.max(prevSize, ln.map(_.size).max)
      if (math.abs(base - prevBase) > BlockGapFactor * sz) {
        out += cur.result()
        cur = Vector.newBuilder[Vector[TextRun]]
      }
      cur += ln
      prevBase = base
      prevSize = ln.map(_.size).max
    }
    val lastB = cur.result()
    if (lastB.nonEmpty) out += lastB
    out.result()
  }
}
