package graft.perfbench

import java.io.FileInputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Path

import graft.core.{Extractor, HtmlTokenizer, PageRow, PdfLayout, PdfParser}
import graft.sources.Warc

/** Single-thread rates of the layers under Spark, measured without Spark
  * over the workload's own files: the denominator that tells how much the
  * distributed job adds. */
object Probes {

  final case class ScanResult(rows: Vector[PageRow], inflatedBytes: Long, seconds: Double)

  /** `Warc.RecordIterator` + `Warc.httpBody` over `files`, one thread,
    * building the same rows `Warc.readPages` builds. */
  def scan(files: Seq[Path]): ScanResult = {
    val rows = Vector.newBuilder[PageRow]
    var bytes = 0L
    val t0 = System.nanoTime()
    files.foreach { f =>
      val it = new Warc.RecordIterator(new FileInputStream(f.toFile))
      try it.foreach { r =>
        bytes += r.payload.length
        val lang = r.headers.getOrElse("warc-identified-content-language", null)
        val ts = java.sql.Timestamp.from(java.time.Instant.parse(r.date))
        if (r.warcType == "response")
          rows += PageRow(r.targetUri, ts, Warc.httpBody(r.payload), null, lang)
        else if (r.warcType == "conversion")
          rows += PageRow(r.targetUri, ts, null, new String(r.payload, StandardCharsets.UTF_8), lang)
      } finally it.close()
    }
    ScanResult(rows.result(), bytes, (System.nanoTime() - t0) / 1e9)
  }

  private object NoopSink extends HtmlTokenizer.Sink {
    def startTag(name: String, selfClosing: Boolean): Unit = ()
    def endTag(name: String): Unit = ()
    def textChunk(s: String, start: Int, end: Int): Unit = ()
    def textStr(s: String): Unit = ()
  }

  private def kindOf(r: PageRow): String =
    if (r.html == null) "provided_text"
    else if (PdfParser.isPdf(r.html)) "pdf"
    else if (r.html.nonEmpty) "html"
    else "empty"

  /** Mean microseconds per call of `f` over `xs`, timing at least
    * `MinCalls` calls after as many untimed ones. */
  private def usPer[T](xs: Seq[T], f: T => Any): Double = {
    if (xs.isEmpty) return 0.0
    def calls(): Long = { var n = 0L; while (n < MinCalls) { xs.foreach(f); n += xs.length }; n }
    calls()
    val t0 = System.nanoTime()
    val n = calls()
    (System.nanoTime() - t0) / 1e3 / n
  }
  private val MinCalls = 3000

  /** JIT warm-up of the scan and parse path on one thread, before any
    * timed Spark rep. */
  def warm(files: Seq[Path]): Unit =
    scan(files).rows.foreach(r => Extractor.extract(r, decodeImages = false))

  /** Per-layer core rates plus the single-thread cost (seconds) of
    * scanning and extracting every doc once. */
  def core(files: Seq[Path]): Map[String, Double] = {
    scan(files) // warm the scanner
    val s = scan(files)
    val byKind = s.rows.groupBy(kindOf).withDefaultValue(Vector.empty)
    val extract = (r: PageRow) => Extractor.extract(r, decodeImages = false)
    val html = byKind("html"); val pdf = byKind("pdf"); val text = byKind("provided_text")
    val parsed = pdf.map(r => PdfParser.parse(r.html, decodeImages = false))
    val m = Map(
      "core.html_us_per_doc" -> usPer(html, extract),
      "core.pdf_us_per_doc" -> usPer(pdf, extract),
      "core.provided_text_us_per_doc" -> usPer(text, extract),
      "core.html_tokenize_us_per_doc" -> usPer(html, (r: PageRow) => HtmlTokenizer.tokenize(r.html, NoopSink)),
      "core.pdf_parse_us_per_doc" -> usPer(pdf, (r: PageRow) => PdfParser.parse(r.html, decodeImages = false)),
      "core.pdf_layout_us_per_doc" -> usPer(parsed, PdfLayout.layout),
      "sources.warc_scan_mb_s" -> s.inflatedBytes / 1e6 / s.seconds)
    val extractS = (m("core.html_us_per_doc") * html.length + m("core.pdf_us_per_doc") * pdf.length +
      m("core.provided_text_us_per_doc") * text.length +
      usPer(byKind("empty"), extract) * byKind("empty").length) / 1e6
    m + ("single_thread_s" -> (s.seconds + extractS))
  }

  /** Pure-ALU control, giga-ops per second on `threads` threads: moves
    * with the host's share of the machine, not with the program. */
  def alu(threads: Int, itersTotal: Long = 150000000L): Double = {
    val per = itersTotal / threads
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { id =>
      val t = new Thread(() => {
        var z = id.toLong; var acc = 0L; var i = 0L
        while (i < per) {
          z += 0x9E3779B97F4A7C15L
          var x = z
          x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
          x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
          acc ^= x ^ (x >>> 31)
          i += 1
        }
        if (acc == 42) println("")
      })
      t.start(); t
    }
    ts.foreach(_.join())
    itersTotal / ((System.nanoTime() - t0) / 1e9) / 1e9
  }
}
