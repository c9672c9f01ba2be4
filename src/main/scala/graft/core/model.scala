package graft.core

/** Core data model of the extraction engine.
  *
  * Mirrors the reference's document tree (Document → Page → Block → Line →
  * Span; /root/reference/src/text_extractor_all.py:132-171) flattened into
  * Spark-encodable case classes. Coordinates are normalized top-left-origin
  * page units (x grows right, y grows down), matching the reference's fitz
  * coordinate space so the header/footer band thresholds
  * (text_extractor_all.py:76-79) carry over unchanged.
  */

/** One input row of the `pages` table (BASELINE.json input_hint). */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Block kinds — the reference taxonomy (text_extractor_all.py:65-83) plus
  * `boilerplate` for dropped HTML chrome (nav/aside/related-links), the
  * Boilerpipe-style extension the HTML payload family needs. */
object BlockKind {
  val Header      = "header"
  val Footer      = "footer"
  val Title       = "title"
  val Heading     = "heading"
  val Paragraph   = "paragraph"
  val Table       = "table"
  val Image       = "image"
  val Boilerplate = "boilerplate"
  /** Kinds that form the byte-identity text surface
    * (text_extractor_all.py:353-362 keeps {title, heading, paragraph}). */
  val ContentKinds: Set[String] = Set(Title, Heading, Paragraph)
}

/** One styled span — the innermost tier of the reference's layout tree
  * (text_extractor_all.py:152-162): text + font + size + RGB color
  * (int_to_rgb, :40-46) + style flags (decode_font_flags, :55-62:
  * flags&1 superscript, &2 italic, &4 serif, &8 monospace, &16 bold). */
final case class Span(
    text: String,
    font: String,
    size: Double,
    colorR: Int, colorG: Int, colorB: Int,
    superscript: Boolean, italic: Boolean, serif: Boolean,
    monospace: Boolean, bold: Boolean)

/** One line of a block: the stripped line text (the unit of the reference's
  * `.txt` surface and provenance records, text_extractor_all.py:246-258,
  * 296-302) plus its styled spans. */
final case class Line(text: String, spans: Seq[Span])

/** A classified layout block. `page` is 1-based; `idx` is the 0-based block
  * ordinal within the document (document order = reading order).
  * `text` is the per-line join: lines.map(_.text).mkString("\n") — the
  * reference emits one output line per layout line (:353-362), so a 3-line
  * paragraph is 3 text lines, never 1. */
final case class Block(
    page: Int,
    idx: Int,
    kind: String,
    text: String,
    x0: Double, y0: Double, x1: Double, y1: Double,
    fontMax: Double, fontAvg: Double,
    nChars: Int, nLinkChars: Int, nWords: Int,
    lines: Seq[Line])

/** One cell of an extracted table candidate (row-major, 0-based). */
final case class TableCell(page: Int, cand: Int, r: Int, c: Int, v: String)

/** Table candidate metadata + score (text_extractor_all.py:86-96, 221-232).
  * `methodRank` encodes the reference's candidate order (camelot→pdfplumber,
  * here grid→stream) for Python-max tie-break parity (SURVEY A2). */
final case class TableCand(
    page: Int, cand: Int, method: String, methodRank: Int,
    rows: Int, cols: Int, score: Double,
    x0: Double, y0: Double, x1: Double, y1: Double,
    cells: Seq[TableCell])

/** An embedded image asset (reference S7, text_extractor_all.py:235-248):
  * bbox = the drawn placement (get_image_bbox parity), width/height = the
  * intrinsic pixel dims from the XObject dict, bytes = decoded samples
  * (CMYK already converted to RGB, :241-244 parity). HTML images have no
  * intrinsic dims or payload without a fetch (out of scope, S11). */
final case class ImageRef(page: Int, idx: Int,
    x0: Double, y0: Double, x1: Double, y1: Double,
    width: Int, height: Int, bytes: Array[Byte])

/** Per-word geometry record — the reference's pdfplumber extract_words()
  * surface (text_extractor_all.py:177, 187-188): word text + x0/x1/top/
  * bottom in top-left page coords. */
final case class WordBox(page: Int, word: String,
    x0: Double, x1: Double, top: Double, bottom: Double)

/** Full extraction result for one url — the engine's unit of output.
  * `text` is the byte-identity surface; `extractor` records the fallback
  * chain branch taken (C3; text_extractor_all.py:178-186): "html", "pdf",
  * "provided_text", or "empty". */
final case class ExtractedDoc(
    url: String,
    text: String,
    nPages: Int,
    extractor: String,
    usedFallback: Boolean,
    blocks: Seq[Block],
    tables: Seq[TableCand],
    images: Seq[ImageRef])

/** Flattened provenance record, one per block
  * (text_extractor_all.py:293-303). `section` = running title/heading
  * carry-forward (W1), assigned by the Spark window in ExtractJob. */
final case class Provenance(
    url: String,
    page: Int,
    idx: Int,
    section: String,
    blockType: String,
    text: String,
    x0: Double, y0: Double, x1: Double, y1: Double)
