package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream, FilterOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.zip.GZIPOutputStream

import graft.gen.FixtureGen
import graft.sources.Warc

/** Seeded Common-Crawl-shaped corpus for the benchmark, plus its golden
  * sidecar.
  *
  * Doc `i` derives everything from `FixtureGen.mix(seed, i)`: the family
  * mix follows `FixtureGen.fixture` (60% HTML, 25% PDF, 10% text-only,
  * 5% empty) and ~30% of urls sit on `mega.example`. Text-only docs are
  * WET `conversion` records; every other doc is an HTTP `response`
  * record (an empty doc is a response with an empty body). A seeded
  * share of docs re-emits an earlier doc under a new url: exact
  * duplicates copy the payload; near duplicates swap the `<h1>` title
  * of an HTML original, so their text differs in one line.
  *
  * Layout: `warc/part-<q>-<k>.warc.gz`, doc `i` in file `i % files`
  * with `q = file % 4`, one gzip member per record (streamed, never the
  * whole file in memory), each file opening with a `warcinfo` record.
  * `part-0-*` is therefore a quarter of the files holding a quarter of
  * the docs with the same mix. `golden.tsv` maps each url to the
  * SHA-256 of its expected extracted text and names each planted
  * duplicate's source.
  *
  * Usage: `Corpus <cacheDir> <seed> <docs> <files> <sizeBoost> <threads>`;
  * prints the corpus directory. The directory name carries every
  * generation input including `FixtureGen.Version`, so a cached corpus is
  * reused only when it would be regenerated byte for byte.
  */
object Corpus {

  /** Bump when anything this file generates changes. */
  val Version = 1

  val MegaHost = "mega.example"
  val ExactDupPct = 4
  val NearDupPct = 4
  /** Docs below this index are never duplicates (they seed the sources). */
  val FirstDup = 16

  final case class Doc(i: Long, url: String, tsMs: Long, lang: String,
      kind: String, payload: Array[Byte], text: String, golden: String,
      dupKind: String, dupOf: Long)

  private def pick(h: Long, mod: Int): Int = (((h % mod) + mod) % mod).toInt

  private final class Gen(seed: Long, boost: Int) {
    private def h(i: Long): Long = FixtureGen.mix(seed, i)

    private def dupRoll(i: Long): Int = if (i < FirstDup) 100 else pick(FixtureGen.mix(h(i), 90), 100)
    def isExactDup(i: Long): Boolean = dupRoll(i) < ExactDupPct
    def isNearDup(i: Long): Boolean = { val r = dupRoll(i); r >= ExactDupPct && r < ExactDupPct + NearDupPct }
    def isDup(i: Long): Boolean = dupRoll(i) < ExactDupPct + NearDupPct

    def family(i: Long): String = {
      val fam = pick(FixtureGen.mix(h(i), 1), 20)
      if (fam < 12) "html" else if (fam < 17) "pdf" else if (fam < 19) "text" else "empty"
    }

    /** Nearest original at or below `from` that satisfies `ok`, or -1. */
    private def original(from: Long, ok: Long => Boolean): Long = {
      var s = from
      while (s >= 0 && (isDup(s) || !ok(s))) s -= 1
      s
    }

    /** (kind, payload, golden) of an original doc. */
    def content(i: Long): (String, Array[Byte], String) = {
      val hi = h(i)
      family(i) match {
        case "html" =>
          val (b, g) = FixtureGen.htmlDoc(hi, boost)
          ("html", b, g)
        case "pdf" =>
          val (b, g) = FixtureGen.pdfDoc(hi)
          ("pdf", b, g)
        case "text" =>
          // a few normalized lines of an unrelated page: stable under the
          // provided-text decoder's per-line normText
          val lines = FixtureGen.htmlDoc(FixtureGen.mix(hi, 77), 1)._2.split('\n')
          val t = lines.take(3 + pick(FixtureGen.mix(hi, 3), 3)).mkString("\n")
          ("text", t.getBytes(StandardCharsets.UTF_8), t)
        case _ => ("empty", Array.emptyByteArray, "")
      }
    }

    def doc(i: Long): Doc = {
      val hi = h(i)
      val host = if (pick(hi, 100) < 30) MegaHost else s"host-${pick(FixtureGen.mix(hi, 7), 50)}.example"
      val lang = Vector("en", "en", "en", "de", "fr")(pick(FixtureGen.mix(hi, 2), 5))
      val roll = pick(FixtureGen.mix(hi, 91), i.toInt.max(1))
      val (kind, payload, golden, dupKind, dupOf) =
        if (isExactDup(i)) {
          val s = original(roll, _ => true)
          val (k, b, g) = content(s)
          (k, b, g, "exact", s)
        } else if (isNearDup(i) && original(roll, family(_) == "html") >= 0) {
          val s = original(roll, family(_) == "html")
          val (_, b, g) = content(s)
          val lines = g.split('\n')
          val title = lines(0)
          val newTitle = FixtureGen.htmlDoc(FixtureGen.mix(hi, 78), 1)._2.split('\n')(0)
          val html = new String(b, StandardCharsets.UTF_8)
            .replaceFirst(java.util.regex.Pattern.quote(s"<h1>$title</h1>"),
              java.util.regex.Matcher.quoteReplacement(s"<h1>$newTitle</h1>"))
          ("html", html.getBytes(StandardCharsets.UTF_8),
            (newTitle +: lines.drop(1).toSeq).mkString("\n"), "near", s)
        } else {
          val (k, b, g) = content(i)
          (k, b, g, "none", -1L)
        }
      val ext = kind match { case "pdf" => "pdf"; case "text" => "txt"; case _ => "html" }
      Doc(i, s"https://$host/docs/$i/page-$i.$ext", FixtureGen.Epoch + i * 1000L, lang,
        kind, payload, if (kind == "text") golden else null, golden, dupKind, dupOf)
    }
  }

  def fileName(f: Int): String = f"part-${f % 4}-${f / 4}%03d.warc.gz"

  /** The WARC record of one doc. */
  def record(d: Doc): Warc.Record = {
    val iso = java.time.Instant.ofEpochMilli(d.tsMs).toString
    val r =
      if (d.kind == "text") Warc.conversionRecord(d.url, iso, d.text, d.lang)
      else Warc.responseRecord(d.url, iso, d.payload)
    r.copy(headers = r.headers + ("warc-identified-content-language" -> d.lang))
  }

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Lets each record close its own gzip member without closing the file. */
  private final class KeepOpen(out: OutputStream) extends FilterOutputStream(out) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
    override def close(): Unit = flush()
  }

  private def writeMember(out: OutputStream, bytes: Array[Byte]): Unit = {
    val g = new GZIPOutputStream(new KeepOpen(out), 64 << 10)
    g.write(bytes)
    g.close()
  }

  /** Writes one WARC file; returns its golden rows. */
  private def writeFile(gen: Gen, dir: Path, f: Int, files: Int, docs: Long): Vector[String] = {
    val rows = Vector.newBuilder[String]
    val out = new BufferedOutputStream(new FileOutputStream(dir.resolve(fileName(f)).toFile), 1 << 20)
    try {
      writeMember(out, Warc.recordBytes(Warc.Record("warcinfo", null,
        java.time.Instant.ofEpochMilli(FixtureGen.Epoch).toString,
        Map("content-type" -> "application/warc-fields"),
        s"software: graft-perfbench\r\nformat: WARC/1.0\r\n".getBytes(StandardCharsets.UTF_8))))
      var i = f.toLong
      while (i < docs) {
        val d = gen.doc(i)
        writeMember(out, Warc.recordBytes(record(d)))
        rows += Seq(d.i, d.url, f, d.kind, sha256Hex(d.golden), d.golden.length,
          d.dupKind, d.dupOf, d.tsMs).mkString("\t")
        i += files
      }
    } finally out.close()
    rows.result()
  }

  def dirName(seed: Long, docs: Long, files: Int, boost: Int): String =
    s"corpus-v$Version-fg${FixtureGen.Version}-s$seed-n$docs-f$files-b$boost"

  def main(args: Array[String]): Unit = {
    val Array(cache, seedS, docsS, filesS, boostS, threadsS) = args
    val (seed, docs, files, boost) = (seedS.toLong, docsS.toLong, filesS.toInt, boostS.toInt)
    val threads = threadsS.toInt.max(1)
    val target = Paths.get(cache, dirName(seed, docs, files, boost))
    if (!Files.isRegularFile(target.resolve("golden.tsv"))) {
      val tmp = Paths.get(cache, s"${target.getFileName}.tmp-${ProcessHandle.current.pid}")
      val warc = tmp.resolve("warc")
      Files.createDirectories(warc)
      val gen = new Gen(seed, boost)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val futures = (0 until files).map { f =>
          pool.submit(() => writeFile(gen, warc, f, files, docs))
        }
        val rows = futures.flatMap(_.get()).sortBy(_.takeWhile(_ != '\t').toLong)
        val header = "doc_id\turl\tfile\tkind\tsha256\tchars\tdup_kind\tdup_of\tts_ms"
        Files.write(tmp.resolve("golden.tsv"),
          (header +: rows).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      } finally pool.shutdown()
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException | _: java.nio.file.DirectoryNotEmptyException =>
        Workload.deleteTree(tmp) } // another generator won the race
    }
    println(target.toAbsolutePath)
  }
}
