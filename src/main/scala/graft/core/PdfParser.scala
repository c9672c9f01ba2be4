package graft.core

import java.nio.charset.StandardCharsets
import java.util.zip.Inflater
import scala.collection.mutable

/** Minimal-but-real PDF parser: object scanner + content-stream interpreter.
  *
  * Brand-new implementation from the public PDF 1.7 spec (ISO 32000-1) —
  * the reference delegates to PyMuPDF/pdfplumber
  * (/root/reference/src/text_extractor_all.py:124, 174-188); we parse the
  * subset needed for layout recovery ourselves: object graph (Catalog →
  * Pages → Page), /FlateDecode streams (JDK Inflater only), and the text
  * operators BT/ET, Tf, Td, TD, Tm, T*, TL, Tj, TJ, '.
  *
  * Glyph metrics: a fixed 0.5·size per-char advance (monospaced model).
  * This is the deterministic geometry contract shared with FixtureGen —
  * positions, not widths, drive XY-cut and band classification.
  *
  * Output coordinates are converted to TOP-LEFT origin (y down), matching
  * the reference's fitz coordinate space so the 0.1/0.9 header/footer
  * band thresholds (text_extractor_all.py:76-79) port unchanged.
  */
object PdfParser {

  /** One shown string: x,y = top-left of the run box (page units);
    * `base` = baseline y in top-left coords (same for every run of a line
    * regardless of font size — line grouping keys on it). `font` is the
    * resolved /BaseFont name; colorR/G/B is the fill color at show time
    * (the reference's span color, int_to_rgb of the span's color int,
    * text_extractor_all.py:40-46); `rise` is the Ts text rise (drives the
    * superscript style flag, decode_font_flags :56). */
  final case class TextRun(x: Double, y: Double, w: Double, h: Double,
      size: Double, font: String, text: String, base: Double,
      colorR: Int = 0, colorG: Int = 0, colorB: Int = 0, rise: Double = 0.0)
  /** One image placement: bbox in top-left page coords from the CTM at
    * `Do` time (the reference's page.get_image_bbox, text_extractor_all
    * .py:237), intrinsic dims from the XObject dict, and decoded sample
    * bytes (CMYK already converted to RGB, :241-244 parity). An image in
    * /Resources that is never drawn keeps a zero bbox (the reference's
    * get_images(full=True) still lists it). */
  final case class PlacedImage(x0: Double, y0: Double, x1: Double, y1: Double,
      width: Int, height: Int, colorSpace: String, bytes: Array[Byte])
  final case class PdfPage(num: Int, width: Double, height: Double,
      runs: Vector[TextRun], images: Vector[PlacedImage])

  /** Style flags from the PostScript font name — the reconstruction of the
    * reference's decode_font_flags surface (text_extractor_all.py:55-62;
    * PyMuPDF reads them from the font descriptor, we derive them from the
    * /BaseFont naming convention). Returns (bold, italic, serif, mono). */
  def fontStyle(font: String): (Boolean, Boolean, Boolean, Boolean) = {
    val f = if (font == null) "" else font.toLowerCase
    val bold   = f.contains("bold") || f.contains("black") || f.contains("heavy")
    val italic = f.contains("italic") || f.contains("oblique")
    val mono   = f.contains("courier") || f.contains("mono")
    val serif  = f.contains("times") || f.contains("serif") || f.contains("georgia") ||
      f.contains("garamond") || f.contains("bookman") || f.contains("palatino")
    (bold, italic, serif && !mono, mono)
  }

  val CharWidthFactor = 0.5

  def isPdf(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
      bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'

  // ----- object model ---------------------------------------------------
  sealed trait PV
  final case class PNum(v: Double) extends PV
  final case class PName(v: String) extends PV
  final case class PStr(v: Array[Byte]) extends PV
  final case class PArr(v: Vector[PV]) extends PV
  final case class PDict(v: Map[String, PV]) extends PV
  final case class PRef(n: Int) extends PV
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PV
  case object PNull extends PV

  final class Doc(val objs: Map[Int, PV]) {
    def resolve(v: PV): PV = v match {
      case PRef(n) => objs.get(n).map(resolve).getOrElse(PNull)
      case x       => x
    }
    def dictGet(d: PDict, k: String): PV = resolve(d.v.getOrElse(k, PNull))
  }

  /** Parse a whole PDF byte array into ordered pages with text runs.
    * `decodeImages = false` skips inflating/converting image payloads
    * (dims and placements stay real, bytes come back empty) — text-only
    * consumers like [[graft.core.Extractor.wordBoxes]] must not pay the
    * full image decompression cost per parse. */
  def parse(bytes: Array[Byte], decodeImages: Boolean = true): Vector[PdfPage] = {
    val doc = scanObjects(bytes)
    val pages = collectPages(doc)
    pages.zipWithIndex.map { case (pd, i) =>
      val (w, h) = mediaBox(doc, pd)
      val content = contentBytes(doc, pd)
      val res = imageResources(doc, pd, decodeImages)
      val interp = new ContentInterp(w, h, fontMap(doc, pd), res)
      val runs = interp.run(content)
      // undrawn resource images keep a zero bbox (get_images(full=True)
      // lists every resource image whether or not a Do placed it)
      val undrawn = (res.keySet -- interp.drawnNames).toVector.sorted.map { nm =>
        val r = res(nm)
        PlacedImage(0, 0, 0, 0, r.width, r.height, r.colorSpace, r.bytes)
      }
      PdfPage(i + 1, w, h, runs, interp.placedImages ++ undrawn)
    }
  }

  /** Resource font name (e.g. "F1") → /BaseFont name (subset prefix
    * "ABCDEF+" stripped), from the page's /Resources /Font dict. */
  private def fontMap(doc: Doc, page: PDict): Map[String, String] =
    doc.dictGet(page, "Resources") match {
      case r: PDict =>
        doc.dictGet(r, "Font") match {
          case f: PDict =>
            f.v.flatMap { case (name, v) =>
              doc.resolve(v) match {
                case fd: PDict =>
                  doc.dictGet(fd, "BaseFont") match {
                    case PName(base) =>
                      val clean = if (base.length > 7 && base.charAt(6) == '+')
                        base.substring(7) else base
                      Some(name -> clean)
                    case _ => None
                  }
                case _ => None
              }
            }
          case _ => Map.empty
        }
      case _ => Map.empty
    }

  // ----- object scanning (robust: linear scan for "N G obj") -------------
  private def scanObjects(b: Array[Byte]): Doc = {
    val objs = mutable.Map.empty[Int, PV]
    var i = 0
    val n = b.length
    while (i < n) {
      // match: int ws int ws "obj"
      if (isDigit(b(i)) && (i == 0 || isDelim(b(i - 1)))) {
        var j = i
        while (j < n && isDigit(b(j))) j += 1
        val numEnd = j
        var k = j
        while (k < n && isWs(b(k))) k += 1
        val genStart = k
        while (k < n && isDigit(b(k))) k += 1
        if (k > genStart) {
          var m = k
          while (m < n && isWs(b(m))) m += 1
          if (m + 3 <= n && b(m) == 'o' && b(m + 1) == 'b' && b(m + 2) == 'j') {
            val objNum = new String(b, i, numEnd - i, StandardCharsets.US_ASCII).toInt
            val lex = new Lexer(b, m + 3)
            val v = lex.parseValue()
            val v2 = lex.maybeStream(v)
            objs.put(objNum, v2)
            i = lex.pos
          } else i = numEnd
        } else i = numEnd
      } else i += 1
    }
    // Second pass — object streams (PDF 1.5+ /Type /ObjStm): most objects
    // of a modern PDF live packed inside compressed streams, invisible to
    // the linear scan above. Decode each ObjStm, read its N (objnum,
    // offset) header pairs, and parse every packed object at /First +
    // offset. /N and /First resolve through the doc (they may be indirect),
    // and the pass iterates to a fixpoint: an ObjStm whose /N, /First, or
    // /Length lives inside ANOTHER ObjStm only becomes readable once that
    // one is unpacked. Pre-existing objects win on collision — correct for
    // the common layout (newest incremental update is direct); the inverse
    // case (an update that REPACKS a newer object into an ObjStm) would
    // need xref-table precedence, which this linear scanner does not model.
    var progressed = true
    var rounds = 0
    val unpacked = mutable.Set.empty[Int] // ObjStms fully processed — never
    // re-inflated on later rounds (the fixpoint loop otherwise decodes the
    // bulk of a compressed PDF once per round)
    while (progressed && rounds < 8) {
      progressed = false
      rounds += 1
      val base = new Doc(objs.toMap)
      objs.toVector.foreach {
        case (stmId, PStream(d, raw))
            if !unpacked.contains(stmId) && base.dictGet(d, "Type") == PName("ObjStm") =>
          val n = base.dictGet(d, "N") match { case PNum(v) => v.toInt; case _ => 0 }
          val first = base.dictGet(d, "First") match { case PNum(v) => v.toInt; case _ => 0 }
          if (n > 0) {
            val data = decode(base, d, raw)
            val hdr = new Lexer(data, 0)
            val pairs = Vector.newBuilder[(Int, Int)]
            var k = 0
            var ok = true
            while (ok && k < n) {
              (hdr.parseValue(), hdr.parseValue()) match {
                case (PNum(on), PNum(off)) => pairs += ((on.toInt, off.toInt))
                case _                     => ok = false
              }
              k += 1
            }
            pairs.result().foreach { case (objNum, off) =>
              if (!objs.contains(objNum) && first + off >= 0 && first + off < data.length) {
                val lex = new Lexer(data, first + off)
                objs.put(objNum, lex.parseValue())
                progressed = true
              }
            }
            unpacked += stmId // header read → done; n == 0 (unresolved /N)
            // streams stay pending and retry once more objects surface
          }
        case _ =>
      }
    }
    new Doc(objs.toMap)
  }

  @inline private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  @inline private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  @inline private def isDelim(c: Byte): Boolean =
    isWs(c) || c == '>' || c == ']' || c == '/' || c == '(' || c == ')' || c == '<' || c == '['

  /** Token-level lexer/parser for PDF object syntax. */
  private final class Lexer(b: Array[Byte], var pos: Int) {
    private val n = b.length

    private def skipWs(): Unit = {
      var go = true
      while (go) {
        while (pos < n && isWs(b(pos))) pos += 1
        if (pos < n && b(pos) == '%') { // comment
          while (pos < n && b(pos) != '\n' && b(pos) != '\r') pos += 1
        } else go = false
      }
    }

    def parseValue(): PV = {
      skipWs()
      if (pos >= n) return PNull
      b(pos) match {
        case '<' if pos + 1 < n && b(pos + 1) == '<' => parseDict()
        case '<' => parseHexString()
        case '(' => parseLitString()
        case '/' => parseName()
        case '[' => parseArray()
        case c if isDigit(c) || c == '+' || c == '-' || c == '.' => parseNumberOrRef()
        case 't' => expectKw("true"); PNum(1)
        case 'f' => expectKw("false"); PNum(0)
        case 'n' => expectKw("null"); PNull
        case _   => pos += 1; PNull
      }
    }

    private def expectKw(kw: String): Unit = {
      if (pos + kw.length <= n &&
        new String(b, pos, kw.length, StandardCharsets.US_ASCII) == kw) pos += kw.length
      else pos += 1
    }

    private def parseDict(): PV = {
      pos += 2
      val m = Map.newBuilder[String, PV]
      var done = false
      while (!done) {
        skipWs()
        if (pos + 1 < n && b(pos) == '>' && b(pos + 1) == '>') { pos += 2; done = true }
        else if (pos >= n) done = true
        else {
          parseValue() match {
            case PName(k) => m += k -> parseValue()
            case _        => // skip malformed key
          }
        }
      }
      PDict(m.result())
    }

    private def parseArray(): PV = {
      pos += 1
      val out = Vector.newBuilder[PV]
      var done = false
      while (!done) {
        skipWs()
        if (pos < n && b(pos) == ']') { pos += 1; done = true }
        else if (pos >= n) done = true
        else out += parseValue()
      }
      PArr(out.result())
    }

    private def parseName(): PV = {
      pos += 1
      val sb = new java.lang.StringBuilder(16)
      while (pos < n && !isDelim(b(pos))) {
        if (b(pos) == '#' && pos + 2 < n) {
          sb.append(Integer.parseInt(new String(b, pos + 1, 2, StandardCharsets.US_ASCII), 16).toChar)
          pos += 3
        } else { sb.append(b(pos).toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    private def parseNumberOrRef(): PV = {
      val start = pos
      if (b(pos) == '+' || b(pos) == '-') pos += 1
      var isInt = true
      while (pos < n && (isDigit(b(pos)) || b(pos) == '.')) {
        if (b(pos) == '.') isInt = false
        pos += 1
      }
      val numStr = new String(b, start, pos - start, StandardCharsets.US_ASCII)
      val v = numStr.toDouble
      if (isInt && v >= 0) {
        // lookahead for "G R" (indirect reference)
        val save = pos
        skipWs()
        val gStart = pos
        while (pos < n && isDigit(b(pos))) pos += 1
        if (pos > gStart) {
          val save2 = pos
          skipWs()
          if (pos < n && b(pos) == 'R' && (pos + 1 >= n || isDelim(b(pos + 1)))) {
            pos += 1
            return PRef(v.toInt)
          }
          pos = save2
        }
        pos = save
      }
      PNum(v)
    }

    private def parseLitString(): PV = {
      pos += 1
      val out = new java.io.ByteArrayOutputStream(64)
      var depth = 1
      while (pos < n && depth > 0) {
        val c = b(pos)
        if (c == '\\' && pos + 1 < n) {
          val e = b(pos + 1)
          e match {
            case 'n' => out.write('\n'); pos += 2
            case 'r' => out.write('\r'); pos += 2
            case 't' => out.write('\t'); pos += 2
            case 'b' => out.write('\b'); pos += 2
            case 'f' => out.write('\f'); pos += 2
            case '(' => out.write('('); pos += 2
            case ')' => out.write(')'); pos += 2
            case '\\' => out.write('\\'); pos += 2
            case '\n' => pos += 2 // line continuation
            case '\r' => pos += 2; if (pos < n && b(pos) == '\n') pos += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0; pos += 1
              while (k < 3 && pos < n && b(pos) >= '0' && b(pos) <= '7') {
                v = v * 8 + (b(pos) - '0'); pos += 1; k += 1
              }
              out.write(v & 0xFF)
            case _ => out.write(e.toInt); pos += 2
          }
        } else if (c == '(') { depth += 1; out.write(c.toInt); pos += 1 }
        else if (c == ')') {
          depth -= 1
          if (depth > 0) out.write(c.toInt)
          pos += 1
        } else { out.write(c.toInt); pos += 1 }
      }
      PStr(out.toByteArray)
    }

    private def parseHexString(): PV = {
      pos += 1
      val out = new java.io.ByteArrayOutputStream(64)
      var hi = -1
      var done = false
      while (!done && pos < n) {
        val c = b(pos)
        if (c == '>') { pos += 1; done = true }
        else {
          val d = Character.digit(c.toChar, 16)
          if (d >= 0) {
            if (hi < 0) hi = d
            else { out.write(hi * 16 + d); hi = -1 }
          }
          pos += 1
        }
      }
      if (hi >= 0) out.write(hi * 16)
      PStr(out.toByteArray)
    }

    /** After a dict, consume an optional `stream ... endstream` body. */
    def maybeStream(v: PV): PV = v match {
      case d: PDict =>
        val save = pos
        skipWs()
        if (pos + 6 <= n && new String(b, pos, 6, StandardCharsets.US_ASCII) == "stream") {
          pos += 6
          if (pos < n && b(pos) == '\r') pos += 1
          if (pos < n && b(pos) == '\n') pos += 1
          val start = pos
          // find "endstream" — raw byte compare, no per-position allocation
          val pat = Array[Byte]('e', 'n', 'd', 's', 't', 'r', 'e', 'a', 'm')
          var e = pos
          var found = -1
          while (found < 0 && e + 9 <= n) {
            if (b(e) == 'e') {
              var k = 1
              while (k < 9 && b(e + k) == pat(k)) k += 1
              if (k == 9) found = e else e += 1
            } else e += 1
          }
          val end = if (found < 0) n else found
          // trim trailing EOL before endstream
          var end2 = end
          if (end2 > start && b(end2 - 1) == '\n') end2 -= 1
          if (end2 > start && b(end2 - 1) == '\r') end2 -= 1
          pos = if (found < 0) n else found + 9
          PStream(d, java.util.Arrays.copyOfRange(b, start, end2))
        } else { pos = save; v }
      case _ => v
    }
  }

  // ----- page tree --------------------------------------------------------
  private def collectPages(doc: Doc): Vector[PDict] = {
    val catalog = doc.objs.values.map(doc.resolve).collectFirst {
      case d @ PDict(m) if m.get("Type").contains(PName("Catalog")) => d
    }
    val rootPages = catalog.map(c => doc.dictGet(c, "Pages"))
    val out = Vector.newBuilder[PDict]
    def walk(v: PV): Unit = doc.resolve(v) match {
      case d @ PDict(m) =>
        m.get("Type").map(doc.resolve) match {
          case Some(PName("Pages")) =>
            doc.dictGet(d, "Kids") match {
              case PArr(kids) => kids.foreach(walk)
              case _          =>
            }
          case Some(PName("Page")) => out += d
          case _                   =>
        }
      case _ =>
    }
    rootPages match {
      case Some(p: PDict) => walk(p)
      case Some(r: PRef)  => walk(r)
      case _ =>
        // fallback: any /Type /Page objects in numeric object order
        doc.objs.toVector.sortBy(_._1).foreach { case (_, v) =>
          doc.resolve(v) match {
            case d @ PDict(m) if m.get("Type").contains(PName("Page")) => out += d
            case _ =>
          }
        }
    }
    out.result()
  }

  private def mediaBox(doc: Doc, page: PDict): (Double, Double) =
    doc.dictGet(page, "MediaBox") match {
      case PArr(Vector(PNum(x0), PNum(y0), PNum(x1), PNum(y1))) => (x1 - x0, y1 - y0)
      case _ => (612.0, 792.0) // US Letter default
    }

  private def contentBytes(doc: Doc, page: PDict): Array[Byte] =
    doc.dictGet(page, "Contents") match {
      case PStream(d, raw) => decode(doc, d, raw)
      case PArr(parts) =>
        val out = new java.io.ByteArrayOutputStream()
        parts.foreach { p =>
          doc.resolve(p) match {
            case PStream(d, raw) => out.write(decode(doc, d, raw)); out.write('\n')
            case _               =>
          }
        }
        out.toByteArray
      case _ => Array.emptyByteArray
    }

  private def decode(doc: Doc, d: PDict, raw: Array[Byte]): Array[Byte] =
    doc.dictGet(d, "Filter") match {
      case PName("FlateDecode") => inflate(raw)
      case PArr(fs) if fs.exists(f => doc.resolve(f) == PName("FlateDecode")) => inflate(raw)
      case _ => raw
    }

  def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new java.io.ByteArrayOutputStream(data.length * 4)
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished() && !inf.needsInput()) {
        val k = inf.inflate(buf)
        if (k == 0 && !inf.finished()) return out.toByteArray
        out.write(buf, 0, k)
      }
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => out.toByteArray
    } finally inf.end()
  }

  /** Image XObject resources of a page: resource name → intrinsic dims +
    * decoded sample bytes. CMYK samples are converted to RGB here, once per
    * resource, so every placement of the image shares one converted array
    * (the reference converts ≥4-component pixmaps at save time,
    * text_extractor_all.py:241-244). */
  private final case class ImageRes(width: Int, height: Int,
      colorSpace: String, bytes: Array[Byte])

  private def imageResources(doc: Doc, page: PDict,
      decodeImages: Boolean): Map[String, ImageRes] =
    doc.dictGet(page, "Resources") match {
      case r: PDict =>
        doc.dictGet(r, "XObject") match {
          case x: PDict =>
            x.v.flatMap { case (name, v) =>
              doc.resolve(v) match {
                case PStream(d, raw) if doc.dictGet(d, "Subtype") == PName("Image") =>
                  val w = doc.dictGet(d, "Width") match { case PNum(n) => n.toInt; case _ => 0 }
                  val h = doc.dictGet(d, "Height") match { case PNum(n) => n.toInt; case _ => 0 }
                  val cs = doc.dictGet(d, "ColorSpace") match { case PName(c) => c; case _ => "" }
                  val px =
                    if (!decodeImages) Array.emptyByteArray
                    else {
                      val data = decode(doc, d, raw)
                      if (cs == "DeviceCMYK") cmykToRgb(data) else data
                    }
                  Some(name -> ImageRes(w, h, cs, px))
                case _ => None
              }
            }
          case _ => Map.empty
        }
      case _ => Map.empty
    }

  /** Naive 8-bit CMYK→RGB: R = (255−C)(255−K)/255 etc. — the standard
    * uncalibrated conversion (what a pixmap colorspace convert does absent
    * an ICC profile). Input is 4 bytes/pixel, output 3 bytes/pixel. */
  def cmykToRgb(d: Array[Byte]): Array[Byte] = {
    val n = d.length / 4
    val out = new Array[Byte](n * 3)
    var i = 0
    while (i < n) {
      val c = d(4 * i) & 0xff; val m = d(4 * i + 1) & 0xff
      val y = d(4 * i + 2) & 0xff; val k = d(4 * i + 3) & 0xff
      out(3 * i) = ((255 - c) * (255 - k) / 255).toByte
      out(3 * i + 1) = ((255 - m) * (255 - k) / 255).toByte
      out(3 * i + 2) = ((255 - y) * (255 - k) / 255).toByte
      i += 1
    }
    out
  }

  // ----- content stream interpreter ---------------------------------------
  /** Executes text operators; emits runs in top-left coordinates.
    *
    * Coordinate model: axis-aligned subset of the PDF transform stack —
    * scale + translation, no rotation/skew (b = c = 0 assumed; rotated
    * text is out of scope for layout recovery here). The CTM (`cm`
    * operator, saved/restored by q/Q) and the text matrix scale (`Tm`
    * a/d) compose, so content drawn under `2 0 0 2 ... cm` or a scaled Tm
    * lands at its true page position with its true effective font size —
    * which is what the band classifier and XY-cut need. Identity defaults
    * reproduce the plain Td/Tm-translation behavior exactly. */
  private final class ContentInterp(pageW: Double, pageH: Double,
      fonts: Map[String, String],
      xobjs: Map[String, ImageRes] = Map.empty) {
    private val imgOut = Vector.newBuilder[PlacedImage]
    private val drawn = mutable.Set.empty[String]
    /** Images placed by `Do` during run(), in drawing order. */
    def placedImages: Vector[PlacedImage] = imgOut.result()
    def drawnNames: collection.Set[String] = drawn
    // rotated text (Tm with a 90°-family rotation) is skipped, not emitted
    // with fabricated axis-aligned geometry — diagonal watermarks would
    // otherwise pollute the byte-identity surface and perturb XY-cut
    private var rotated = false
    private var size = 12.0
    private var font = ""
    private var leading = 0.0
    private var lineX, lineY = 0.0 // text line matrix origin (text space)
    private var curX = 0.0
    private var fillR, fillG, fillB = 0 // nonstroking color (span color)
    private var rise = 0.0              // Ts text rise
    private var charSp = 0.0            // Tc character spacing (text space)
    private var wordSp = 0.0            // Tw word spacing (per 0x20)
    private var hScale = 1.0            // Tz horizontal scaling (Th = pct/100)
    // text-matrix scale (Tm a/d; translation lives in lineX/lineY)
    private var tmA, tmD = 1.0
    // CTM: x' = ctmA·x + ctmE ; y' = ctmD·y + ctmF, with a q/Q stack
    private var ctmA, ctmD = 1.0
    private var ctmE, ctmF = 0.0
    private val gsStack = mutable.ArrayBuffer.empty[(Double, Double, Double, Double, Int, Int, Int, Double, Double, Double)]

    def run(content: Array[Byte]): Vector[TextRun] = {
      val out = Vector.newBuilder[TextRun]
      val lex = new Lexer(content, 0)
      val stack = mutable.ArrayBuffer.empty[PV]
      var i = 0
      val n = content.length
      def flushOperand(v: PV): Unit = stack += v

      while (i < n) {
        val c = content(i)
        if (isWs(c)) i += 1
        else if (c == '(' || c == '<' || c == '[' || c == '/' ||
                 isDigit(c) || c == '+' || c == '-' || c == '.') {
          lex.pos = i
          flushOperand(lex.parseValue())
          i = lex.pos
        } else if (c == ']' || c == ')' || c == '>') { i += 1 } // stray delimiters
        else {
          // operator: letters + ' * "
          val k0 = i
          while (i < n && !isWs(content(i)) && !isDelim(content(i))) i += 1
          if (i == k0) i += 1 // never stall on a stray byte
          val op = new String(content, k0, i - k0, StandardCharsets.US_ASCII)
          exec(op, stack, out)
          stack.clear()
        }
      }
      out.result()
    }

    private def num(v: PV): Double = v match { case PNum(d) => d; case _ => 0.0 }

    private def exec(op: String, st: mutable.ArrayBuffer[PV], out: mutable.Builder[TextRun, Vector[TextRun]]): Unit =
      op match {
        case "BT" =>
          lineX = 0; lineY = 0; curX = 0; tmA = 1.0; tmD = 1.0; rotated = false
        case "ET" =>
        case "Tf" =>
          if (st.nonEmpty) size = num(st.last)
          font = st.collectFirst { case PName(f) => fonts.getOrElse(f, f) }.getOrElse(font)
        case "TL" => if (st.nonEmpty) leading = num(st.last)
        case "Ts" => if (st.nonEmpty) rise = num(st.last)
        case "Tc" => if (st.nonEmpty) charSp = num(st.last)
        case "Tw" => if (st.nonEmpty) wordSp = num(st.last)
        case "Tz" => if (st.nonEmpty) { val p = num(st.last); if (p != 0) hScale = p / 100.0 }
        case "rg" => // nonstroking RGB (each component 0..1)
          if (st.length >= 3) {
            fillR = to255(num(st(st.length - 3)))
            fillG = to255(num(st(st.length - 2)))
            fillB = to255(num(st.last))
          }
        case "g" => // nonstroking gray
          if (st.nonEmpty) {
            val v = to255(num(st.last))
            fillR = v; fillG = v; fillB = v
          }
        case "Td" => // displacement is in text space → scaled by the Tm scale
          if (st.length >= 2) {
            lineX += tmA * num(st(st.length - 2)); lineY += tmD * num(st.last)
            curX = lineX
          }
        case "TD" =>
          if (st.length >= 2) {
            lineX += tmA * num(st(st.length - 2)); lineY += tmD * num(st.last)
            leading = -num(st.last); curX = lineX
          }
        case "Tm" =>
          if (st.length >= 6) {
            tmA = num(st(st.length - 6)); tmD = num(st(st.length - 3))
            val tmB = num(st(st.length - 5)); val tmC = num(st(st.length - 4))
            // a or d zero with b/c nonzero = rotated text (e.g. a diagonal
            // DRAFT watermark): suppress emission until the next Tm/BT
            // rather than coercing to wrong axis-aligned geometry
            rotated = (tmA == 0 || tmD == 0) && (tmB != 0 || tmC != 0)
            if (tmA == 0) tmA = 1.0 // pure-degenerate → keep axis-aligned
            if (tmD == 0) tmD = 1.0
            lineX = num(st(st.length - 2)); lineY = num(st.last); curX = lineX
          }
        case "cm" =>
          if (st.length >= 6) {
            val a = num(st(st.length - 6)); val d = num(st(st.length - 3))
            val e = num(st(st.length - 2)); val f = num(st.last)
            // compose (axis-aligned): new point maps through cm, then old CTM
            ctmE = ctmA * e + ctmE
            ctmF = ctmD * f + ctmF
            if (a != 0) ctmA *= a
            if (d != 0) ctmD *= d
          }
        case "q" =>
          gsStack += ((ctmA, ctmD, ctmE, ctmF, fillR, fillG, fillB, charSp, wordSp, hScale))
        case "Q" =>
          if (gsStack.nonEmpty) {
            val (a, d, e, f, r, g, b, tc, tw, tz) = gsStack.remove(gsStack.length - 1)
            ctmA = a; ctmD = d; ctmE = e; ctmF = f
            fillR = r; fillG = g; fillB = b
            charSp = tc; wordSp = tw; hScale = tz
          }
        case "Do" => // XObject paint: image bbox = unit square through CTM
          st.lastOption.foreach {
            case PName(nm) =>
              xobjs.get(nm).foreach { im =>
                drawn += nm
                val xa = ctmE; val xb = ctmA + ctmE
                val ya = ctmF; val yb = ctmD + ctmF
                imgOut += PlacedImage(
                  math.min(xa, xb), pageH - math.max(ya, yb),
                  math.max(xa, xb), pageH - math.min(ya, yb),
                  im.width, im.height, im.colorSpace, im.bytes)
              }
            case _ =>
          }
        case "T*" => lineY -= tmD * leading; curX = lineX
        case "Tj" =>
          st.lastOption.foreach { case PStr(s) => emit(s, out); case _ => }
        case "'" =>
          lineY -= tmD * leading; curX = lineX
          st.lastOption.foreach { case PStr(s) => emit(s, out); case _ => }
        case "\"" => // aw ac string: set Tw, Tc, then next-line-show
          if (st.length >= 3) {
            wordSp = num(st(st.length - 3)); charSp = num(st(st.length - 2))
          }
          lineY -= tmD * leading; curX = lineX
          st.lastOption.foreach { case PStr(s) => emit(s, out); case _ => }
        case "TJ" =>
          st.lastOption.foreach {
            case PArr(items) =>
              items.foreach {
                case PStr(s) => emit(s, out)
                case PNum(a) => curX -= a / 1000.0 * size * hScale * tmA
                case _       =>
              }
            case _ =>
          }
        case _ => // graphics operators ignored
      }

    @inline private def to255(c: Double): Int =
      math.max(0, math.min(255, math.round(c * 255).toInt))

    private def emit(sBytes: Array[Byte], out: mutable.Builder[TextRun, Vector[TextRun]]): Unit = {
      if (rotated) return // rotated runs have no axis-aligned geometry
      // PDFDocEncoding ≈ Latin-1 for our fixture subset
      val s = new String(sBytes, StandardCharsets.ISO_8859_1)
      if (s.isEmpty) return
      // effective geometry composes the Tm and CTM scales; lineX/lineY/curX
      // are pre-CTM user coordinates (Tm scale already applied via Td/T*)
      val effSize = math.abs(size * tmD * ctmD)
      // glyph advance per the spec: tx = (w0·Tfs + Tc + Tw[space]) · Th
      // (w0·Tfs = the fixed 0.5·size metric model); identity Tc/Tw/Tz
      // reproduce the original geometry exactly
      var nSp = 0
      var si = 0
      while (si < s.length) { if (s.charAt(si) == ' ') nSp += 1; si += 1 }
      val advText = (s.length * (CharWidthFactor * size + charSp) + nSp * wordSp) * hScale
      val wUser = math.abs(advText * tmA * ctmA)
      val xUser = ctmA * curX + ctmE
      // `base` is the LINE baseline (Ts rise excluded): a superscript must
      // stay grouped with its anchor line no matter how large the rise —
      // folding rise into the grouping key would split typical footnote
      // markers (rise ≥ 0.3·size) onto their own line and reorder the
      // byte-identity text surface. The drawn box (y) does honor the rise.
      val base = pageH - (ctmD * lineY + ctmF)     // baseline, top-left coords
      val riseUser = rise * tmD * ctmD
      val yTop = base - riseUser - effSize * 0.8   // ascent above RISEN position
      out += TextRun(xUser, yTop, wUser, effSize, effSize, font, s, base,
        fillR, fillG, fillB, rise)
      curX += advText * tmA
    }
  }
}
