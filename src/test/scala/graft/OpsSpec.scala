package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Unit + small-integration tests for the training-data ops layer. */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docsDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical text, keeps min id") {
    import spark.implicits._
    val d = docsDF(Seq((3L, "a b c"), (1L, "a b c"), (2L, "x y z")))
    val out = Dedup.exact(d).select($"keep_id", $"n_dups").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (2L, 1L)))
  }

  test("minhash LSH finds near-dups and skips far pairs") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
    val far = (1 to 60).map(i => s"z$i").mkString(" ")
    val d = docsDF(Seq((1L, base), (2L, nearDup), (3L, far)))
    val pairs = Dedup.minhashLsh(d, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    // jaccard of the found pair is high and exact
    val j = Dedup.jaccard(base, nearDup, 3)
    assert(j > 0.8 && j < 1.0)
  }

  test("minhash signature approximates jaccard (property)") {
    val a = (1 to 100).map(i => s"t$i").mkString(" ")
    val b = (1 to 100).map(i => if (i % 5 == 0) s"B$i" else s"t$i").mkString(" ")
    val sa = Dedup.minhashSignature(a, 128, 3)
    val sb = Dedup.minhashSignature(b, 128, 3)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 128
    val truth = Dedup.jaccard(a, b, 3)
    assert(math.abs(est - truth) < 0.15, s"est=$est truth=$truth")
  }

  test("jaccard prefix filter matches the naive all-pairs result exactly (recall 1)") {
    import spark.implicits._
    // deterministic corpus of overlapping word sets: doc i shares a sliding
    // vocabulary window with its neighbors, plus exact planted near-dups
    val rows = (0 until 80).map { i =>
      val words = (0 until 40).map(k => s"w${(i * 3 + k) % 150}")
      (i.toLong, s"src${i % 4}", words.mkString(" "))
    } ++ (0 until 80 by 10).map { i =>
      val words = (0 until 40).map(k => if (k == 7) "XX" else s"w${(i * 3 + k) % 150}")
      (1000L + i, s"src${i % 4}", words.mkString(" "))
    }
    val d = rows.toDF("doc_id", "source", "text")
    def naive = {
      val docs = d.select($"doc_id", $"source", array_distinct(split($"text", " ")).as("words"))
      val a = docs.select($"source", $"doc_id".as("id_a"), $"words".as("wa"))
      val b = docs.select($"source", $"doc_id".as("id_b"), $"words".as("wb"))
      a.join(b, Seq("source")).filter($"id_a" < $"id_b")
        .withColumn("jac", size(array_intersect($"wa", $"wb")).cast("double") /
          size(array_union($"wa", $"wb")).cast("double"))
        .filter($"jac" >= 0.8)
        .select($"id_a", $"id_b", round($"jac", 4).as("jaccard"))
        .as[(Long, Long, Double)].collect().toSet
    }
    val fast = Dedup.jaccardPrefixPairs(d, "source", threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(naive.nonEmpty, "test corpus must contain qualifying pairs")
    assert(fast == naive, s"missing=${(naive -- fast).take(5)} extra=${(fast -- naive).take(5)}")
  }

  test("dedup clusters: min-label propagation resolves components deterministically") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    // chain 1-2-3 (via transitivity, never a direct 1-3 pair), pair 10-11,
    // 12 bridging 11 at the end of a chain, 4 isolated
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (10L, 11L, 1.0), (11L, 12L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    val out = Dedup.dedupClusters(docs, pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // dedup = keep representative per cluster
    assert(out.count { case (id, c) => id == c } == 3)
  }

  test("dedupCorpus chain: exact dups collapse, near dups cluster, representatives kept") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
    val far = (1 to 60).map(i => s"z$i").mkString(" ")
    val d = docsDF(Seq(
      (1L, base), (2L, base),      // exact dup of 1
      (3L, near),                  // near dup of 1
      (4L, far), (5L, far + " x")  // distinct cluster + near-ish? no: jaccard(far, far+x) high
    ))
    val out = Dedup.dedupCorpus(d, threshold = 0.5)
      .select($"doc_id", $"cluster_id", $"is_representative")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    // every input doc appears: exact dup 2 maps THROUGH its representative
    // to cluster 1 (auditable removal), near dup 3 clusters with 1
    assert(out.length == 5)
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L) == ((1L, 1L, true)))
    assert(byId(2L) == ((2L, 1L, false)))
    assert(byId(3L) == ((3L, 1L, false)))
    assert(byId(4L)._3 || byId(5L)._3) // one representative in the far cluster
    assert(out.count(_._3) == 2)       // exactly two clusters remain
  }

  test("simhash: identical → distance 0; near → small; far → large") {
    val a = (1 to 80).map(i => s"w$i").mkString(" ")
    val b = (1 to 80).map(i => if (i % 40 == 0) s"B$i" else s"w$i").mkString(" ")
    val c = (1 to 80).map(i => s"q$i").mkString(" ")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(Dedup.simhash(a), Dedup.simhash(a)) == 0)
    assert(ham(Dedup.simhash(a), Dedup.simhash(b)) < ham(Dedup.simhash(a), Dedup.simhash(c)))
  }

  test("simhash pair join finds hamming<=3 neighbors") {
    import spark.implicits._
    val a = (1 to 80).map(i => s"w$i").mkString(" ")
    val b = (1 to 80).map(i => if (i == 7) s"x$i" else s"w$i").mkString(" ")
    val shA = Dedup.simhash(a); val shB = Dedup.simhash(b)
    val d = docsDF(Seq((1L, a), (2L, b), (3L, (1 to 80).map(i => s"zz$i").mkString(" "))))
    val pairs = Dedup.simhashPairs(d, maxHamming = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    if (java.lang.Long.bitCount(shA ^ shB) <= 3) assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("cosine column matches scalar math; brute-force topk ranks correctly") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(e, e.filter($"vec_id" === 0L), k = 2)
      .select($"neighbor_id", $"rank").as[(Long, Long)].collect().toSet
    assert(top == Set((1L, 1L), (2L, 2L)))
  }

  test("LSH ANN achieves high recall vs brute force on clustered vectors") {
    import spark.implicits._
    val dim = 16
    // 4 clusters of 25 vectors each, deterministic
    val rows = for (i <- 0L until 100L) yield {
      val cl = (i % 4).toInt
      val v = Array.tabulate(dim) { d =>
        val center = if (d % 4 == cl) 1.0f else 0.0f
        center + (Dedup.mix64(i * 31 + d).toFloat / Long.MaxValue) * 0.05f
      }
      (i, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(e, q, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(e, q, 5, dim, bits = 6)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("IVF ANN achieves high recall vs brute force on clustered vectors") {
    import spark.implicits._
    val dim = 16
    val rows = for (i <- 0L until 100L) yield {
      val cl = (i % 4).toInt
      val v = Array.tabulate(dim) { d =>
        val center = if (d % 4 == cl) 1.0f else 0.0f
        center + (Dedup.mix64(i * 31 + d).toFloat / Long.MaxValue) * 0.05f
      }
      (i, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" < 8)
    val bf = Similarity.bruteForceTopK(e, q, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(e, q, 5, dim, nCells = 8, nProbe = 2)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("int8 quantization: codes match the scalar formula, bounds hold, quantized topk tracks float topk") {
    import spark.implicits._
    val dim = 16
    val rows = for (i <- 0L until 100L) yield {
      val cl = (i % 4).toInt
      val v = Array.tabulate(dim) { d =>
        val center = if (d % 4 == cl) 1.0f else 0.0f
        center + (Dedup.mix64(i * 31 + d).toFloat / Long.MaxValue) * 0.05f
      }
      (i, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    // codes equal an independent scalar evaluation of the same formula
    val got = graft.ops.Quantize.int8(e).select($"vec_id", $"qvec", $"qnorm")
      .as[(Long, Seq[Byte], Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    rows.foreach { case (i, v) =>
      val scale = v.map(x => math.abs(x.toDouble)).max / 127.0
      val ref = v.map(x => math.floor(x.toDouble / scale + 0.5).toLong)
      val (qv, qn) = got(i)
      assert(qv.map(_.toLong).toSeq == ref.toSeq, s"vec $i")
      assert(qn == ref.map(c => c * c).sum)
      assert(qv.forall(c => c >= -127 && c <= 127))
    }
    // zero vectors: scale 0, all-zero codes, excluded from ranking
    val withZero = e.unionByName(
      Seq((999L, Array.fill(dim)(0.0f))).toDF("vec_id", "embedding"))
    val z = graft.ops.Quantize.int8(withZero).filter($"vec_id" === 999L).head()
    assert(z.getDouble(1) == 0.0 && z.getLong(3) == 0L)
    val qt = graft.ops.Quantize.quantizedTopK(withZero, withZero.filter($"vec_id" < 8), 5)
    assert(qt.filter($"neighbor_id" === 999L).count() == 0L)
    // quantized neighbors track the float brute-force neighbors
    val bf = Similarity.bruteForceTopK(e, e.filter($"vec_id" < 8), 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val qn = qt.filter($"query_id" =!= 999L)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(qn).size.toDouble / bf.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("cosine near-dup recall: multi-probe recovers planted perturbed pairs") {
    import spark.implicits._
    val dim = 16
    val base = (0L until 60L).map { i =>
      (i, Array.tabulate(dim)(d => (Dedup.mix64(i * 17 + d).toFloat / Long.MaxValue)))
    }
    val planted = base.map { case (i, v) =>
      (i + 1000L, v.zipWithIndex.map { case (x, d) => x + 0.01f * math.sin(d).toFloat })
    }
    val e = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(e, threshold = 0.98, dim = dim)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expected = base.map { case (i, _) => (i, i + 1000L) }.toSet
    val recall = expected.count(pairs.contains).toDouble / expected.size
    assert(recall >= 0.95, s"recall=$recall missing=${expected.diff(pairs).take(5)}")
  }

  test("language id picks the profile language, und when no hits") {
    import spark.implicits._
    val d = docsDF(Seq(
      (1L, "the quick data of the table and a scan"),
      (2L, "der wert und die daten mit der tabelle"),
      (3L, "qqq www zzz")))
    val out = TextAnalysis.langId(d).select($"doc_id", $"pred_lang")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "und")
    // NULL text must land in 'und' with 0 hits (size(null) is null in
    // Spark 4 — the when-chain's otherwise() must not claim the row)
    val nul = TextAnalysis.langId(docsDF(Seq((9L, null.asInstanceOf[String]))))
      .select($"pred_lang", $"lang_hits").as[(String, Long)].collect().head
    assert(nul == ("und", 0L), nul.toString)
  }

  test("token counts: words vs BPE-ish subtokens") {
    import spark.implicits._
    val d = docsDF(Seq((1L, "hello world42, x-ray!")))
    val r = TextAnalysis.tokenCounts(d).select($"n_words", $"n_subtokens")
      .as[(Long, Long)].head()
    assert(r._1 == 3L)
    // hello | world | 42 | , | x | - | ray | !  → "," and space fold: [,] cluster
    assert(r._2 == 8L)
  }

  test("fingerprint: order-sensitive, whitespace-normalized") {
    assert(TextAnalysis.fingerprint64("a b c") == TextAnalysis.fingerprint64("a  b \n c"))
    assert(TextAnalysis.fingerprint64("a b c") != TextAnalysis.fingerprint64("c b a"))
  }

  test("multimodal: batch decode roundtrips the fake header; frame sampling") {
    import spark.implicits._
    val assets = Seq(
      (1L, Multimodal.fakeAsset(1L, "img", 640, 480, 1)),
      (2L, Multimodal.fakeAsset(2L, "vid", 320, 240, 100)),
      (3L, Array[Byte](1, 2, 3))).toDF("assetId", "payload")
    val meta = Multimodal.decodeBatches(spark, assets)
    val m = meta.collect().map(a => a.assetId -> a).toMap
    assert(m(1L).format == "img" && m(1L).width == 640 && m(1L).height == 480 && m(1L).valid)
    assert(m(2L).format == "vid" && m(2L).nFrames == 100)
    assert(!m(3L).valid)
    val frames = Multimodal.sampleFrames(meta.toDF(), everyNth = 25)
      .select($"asset_id", $"frame_idx").as[(Long, Long)].collect().toSet
    assert(frames == Set((2L, 0L), (2L, 25L), (2L, 50L), (2L, 75L)))
    val plan = Multimodal.resizePlan(meta.toDF(), 256)
      .filter($"assetId" === 1L).select($"out_w", $"out_h").as[(Int, Int)].head()
    assert(plan == ((256, 192)))
  }

  test("multimodal: real PNG decode — dims and checksum come from the decoded pixel grid") {
    import spark.implicits._
    val png = Multimodal.makePng(7L, 19, 13)
    // a true PNG stream (magic + ImageIO-encoded IDAT), decoded back by the JDK codec
    val m0 = Multimodal.decode(7L, png)
    assert(m0.format == "png" && m0.width == 19 && m0.height == 13 && m0.valid && m0.nFrames == 1)
    // byte-exact: independently re-decode and recompute the pixel checksum...
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(m0.checksum == Multimodal.pixelChecksum(img))
    // ...and every decoded pixel equals the pre-encode synthetic pattern
    for (y <- 0 until 13; x <- 0 until 19) {
      val v = (Dedup.mix64(7L ^ (y.toLong << 20) ^ x.toLong) & 0xFFFFFF).toInt
      assert((img.getRGB(x, y) & 0xFFFFFF) == v, s"pixel ($x,$y)")
    }
    // through the Spark batch path, mixed with a stub (video) asset
    val assets = Seq((7L, png), (8L, Multimodal.fakeAsset(8L, "vid", 10, 10, 30)))
      .toDF("assetId", "payload")
    val m = Multimodal.decodeBatches(spark, assets).collect().map(a => a.assetId -> a).toMap
    assert(m(7L).format == "png" && m(7L).checksum == m0.checksum && m(7L).valid)
    assert(m(8L).format == "vid")
  }

  test("multimodal: real WAV decode — frames, rate, channels and checksum from the decoded PCM stream") {
    import spark.implicits._
    val wav = Multimodal.makeWav(11L, sampleRate = 8000, nFrames = 300, channels = 2)
    // a true RIFF/WAVE stream, decoded back by the JDK sound stack
    assert(new String(wav.take(4)) == "RIFF" && new String(wav.slice(8, 12)) == "WAVE")
    val m0 = Multimodal.decode(11L, wav)
    assert(m0.format == "wav" && m0.valid && m0.width == 8000 &&
      m0.height == 2 && m0.nFrames == 300, m0.toString)
    // sample-exact: the decoded PCM checksum equals a direct fold over the
    // pre-encode synthetic samples (little-endian 16-bit, frame-major)
    var ck = 0xcbf29ce484222325L
    for (f <- 0 until 300; c <- 0 until 2) {
      val s = (Dedup.mix64(11L ^ (f.toLong << 8) ^ c.toLong) & 0xFFFF).toInt - 32768
      ck = (ck ^ (s & 0xFF)) * 0x100000001b3L
      ck = (ck ^ ((s >> 8) & 0xFF)) * 0x100000001b3L
    }
    assert(m0.checksum == ck, "checksum must come from the decoded PCM frames")
    // corrupt WAV: RIFF/WAVE magic + garbage → fmt wav, valid=false
    val corrupt = "RIFFxxxxWAVEgarbage-not-a-fmt-chunk".getBytes
    val mc = Multimodal.decode(12L, corrupt)
    assert(mc.format == "wav" && !mc.valid)
    // through the Spark batch path
    val assets = Seq((11L, wav)).toDF("assetId", "payload")
    val mb = Multimodal.decodeBatches(spark, assets).collect().head
    assert(mb.format == "wav" && mb.checksum == m0.checksum && mb.valid)
  }

  test("multimodal: real MJPEG/AVI decode — frame-exact count, dims, chained pixel checksum") {
    import spark.implicits._
    val avi = Multimodal.makeAvi(21L, w = 48, h = 32, nFrames = 5)
    assert(new String(avi.take(4)) == "RIFF" && new String(avi.slice(8, 12)) == "AVI ")
    val m0 = Multimodal.decode(21L, avi)
    assert(m0.format == "avi" && m0.valid && m0.width == 48 && m0.height == 32 &&
      m0.nFrames == 5, m0.toString)
    // frame-exact: independently JPEG-decode the same frame bytes and
    // chain the checksum — equal only if the container decode really
    // decoded every frame in stream order
    var ck = 0xcbf29ce484222325L
    for (f <- 0 until 5) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        Multimodal.aviFrameJpeg(21L, f, 48, 32)))
      ck = Multimodal.chainPixels(ck, img)
    }
    assert(m0.checksum == ck, "checksum must chain every decoded frame")
    // truncated movi (payload cut mid-frame): sniffs avi, valid=false
    val mt = Multimodal.decode(22L, avi.take(avi.length - 20))
    assert(mt.format == "avi" && !mt.valid)
    // headers-only AVI: a VALID empty stream (decodeAudio discipline)
    val me = Multimodal.decode(23L, Multimodal.makeAvi(23L, 16, 16, nFrames = 0))
    assert(me.format == "avi" && me.valid && me.nFrames == 0 && me.width == 0)
    // frame chunk whose payload is not a JPEG → invalid, not a crash
    val dcAt = avi.toSeq.indexOfSlice("00dc".getBytes.toSeq)
    assert(dcAt > 0)
    val badFrame = avi.clone(); badFrame(dcAt + 8) = 0; badFrame(dcAt + 9) = 0
    assert(!Multimodal.decode(24L, badFrame).valid)
    // hostile chunk size pointing far past the payload → invalid
    val badSize = avi.clone()
    badSize(dcAt + 4) = -1; badSize(dcAt + 5) = -1
    badSize(dcAt + 6) = -1; badSize(dcAt + 7) = 0x7F
    assert(!Multimodal.decode(25L, badSize).valid)
    // nested-LIST bomb: thousands of nested LIST headers must report
    // invalid, not blow the stack (StackOverflowError is uncatchable as
    // Exception — the walk carries an explicit depth bound)
    val bomb = new java.io.ByteArrayOutputStream()
    val levels = 20000
    val inner = 4 // innermost list body: just its type fourcc
    def le(v: Int): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    bomb.write("RIFF".getBytes)
    bomb.write(le(4 + levels * 12 + inner))
    bomb.write("AVI ".getBytes)
    for (l <- 0 until levels) {
      bomb.write("LIST".getBytes)
      bomb.write(le((levels - 1 - l) * 12 + 4 + inner))
      bomb.write("rec ".getBytes)
    }
    bomb.write("mov ".getBytes)
    val mbomb = Multimodal.decode(26L, bomb.toByteArray)
    assert(mbomb.format == "avi" && !mbomb.valid)
    // through the Spark batch path; real AVI drives frame sampling
    val mb = Multimodal.decodeBatches(spark,
      Seq((21L, avi), (23L, Multimodal.makeAvi(23L, 16, 16, nFrames = 0)))
        .toDF("assetId", "payload"))
    val rows = mb.collect().map(a => a.assetId -> a).toMap
    assert(rows(21L).format == "avi" && rows(21L).checksum == m0.checksum && rows(21L).valid)
    val frames = Multimodal.sampleFrames(mb.toDF(), everyNth = 2)
      .select($"asset_id", $"frame_idx").as[(Long, Long)].collect().toSet
    // the valid ZERO-frame asset 23 contributes nothing — no phantom frame 0
    assert(frames == Set((21L, 0L), (21L, 2L), (21L, 4L)))
  }

  test("kmvOverlap: O(G²) group-pair guard rejects data-sized group counts") {
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, s"g$i", "alpha beta gamma"))
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Sketches.kmvOverlap(docs, "source", k = 8, maxGroups = 10).count()
    }
    assert(e.getMessage.contains("maxGroups"))
    // under the cap it still works
    val ok = graft.ops.Sketches.kmvOverlap(
      docs.filter($"doc_id" < 4), "source", k = 8, maxGroups = 10).count()
    assert(ok == 6L) // C(4,2)
  }

  test("pii scrub: detects and redacts emails, ipv4, phones") {
    import spark.implicits._
    val d = docsDF(Seq(
      (1L, "mail me at jo.doe+x@sub.example.org or box 10.20.30.40 tel +1-555-204-1234"),
      (2L, "two mails a@b.io c@d.net and bare 555-123-4567"),
      (3L, "nothing here")))
    val r = graft.ops.Scrub.scrub(d)
      .select($"doc_id", $"n_emails", $"n_ipv4", $"n_phones", $"clean_text")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 1 && r(1L).getLong(2) == 1 && r(1L).getLong(3) == 1)
    assert(r(1L).getString(4) == "mail me at <EMAIL> or box <IP> tel <PHONE>")
    assert(r(2L).getLong(1) == 2 && r(2L).getLong(3) == 1)
    assert(r(3L).getLong(1) == 0 && r(3L).getLong(2) == 0 && r(3L).getLong(3) == 0)
    assert(r(3L).getString(4) == "nothing here")
  }

  test("hash split/sample: deterministic, disjoint, nested, stratified-k") {
    import spark.implicits._
    val d = (0L until 2000L).map(i => (i, s"src${i % 7}", "t"))
      .toDF("doc_id", "source", "text")
    val sp = graft.ops.Splits.hashSplit(d)
      .select($"doc_id", $"split").as[(Long, String)].collect()
    // total coverage, deterministic re-run, sane fractions
    assert(sp.length == 2000)
    val byName = sp.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byName("train") > 1400 && byName("train") < 1800, byName.toString)
    assert(byName.values.sum == 2000)
    val sp2 = graft.ops.Splits.hashSplit(d)
      .select($"doc_id", $"split").as[(Long, String)].collect()
    assert(sp.sortBy(_._1).toSeq == sp2.sortBy(_._1).toSeq)
    // Bernoulli samples nest: threshold(0.1) < threshold(0.3), same salt
    val s1 = graft.ops.Splits.hashSample(d, 0.1).select($"doc_id").as[Long].collect().toSet
    val s3 = graft.ops.Splits.hashSample(d, 0.3).select($"doc_id").as[Long].collect().toSet
    assert(s1.subsetOf(s3) && s1.nonEmpty && s3.size < 2000)
    assert(graft.ops.Splits.hashSample(d, 1.0).count() == 2000)
    // stratified: exactly k per group, deterministic
    val st = graft.ops.Splits.stratifiedSample(d, "source", k = 4)
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    assert(st.values.toSet == Set(4L) && st.size == 7)
    // mixture: per-source rates hold, absent sources DROP, deterministic
    val mix = graft.ops.Splits.mixtureSample(d,
      Map("src0" -> 1.0, "src1" -> 0.3, "src6" -> 0.0))
      .select($"doc_id", $"source").as[(Long, String)].collect()
    val bySrc = mix.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("src0") == 286) // 2000/7 rounded: every src0 row kept
    assert(bySrc.get("src6").isEmpty && bySrc.get("src2").isEmpty) // 0-rate + absent drop
    assert(bySrc("src1") > 40 && bySrc("src1") < 140, bySrc.toString) // ~30% of 286
    val mix2 = graft.ops.Splits.mixtureSample(d,
      Map("src0" -> 1.0, "src1" -> 0.3, "src6" -> 0.0))
      .select($"doc_id").as[Long].collect()
    assert(mix.map(_._1).sorted.sameElements(mix2.sorted))
    // two-phase parity: saltBuckets = 1 IS the single-window form; any
    // fan-out must select the identical row set (the VERDICT r4 #1 claim)
    def ids(buckets: Int) = graft.ops.Splits
      .stratifiedSample(d, "source", k = 4, saltBuckets = buckets)
      .select($"doc_id").as[Long].collect().toSet
    val ref = ids(1)
    assert(ids(64) == ref && ids(7) == ref && ids(2000) == ref)
  }

  test("training shards: jsonl export round-trips, shard sizes bounded, manifest matches") {
    import spark.implicits._
    val d = (0L until 200L).map(i => (i, s"s${i % 5}", s"text $i")).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val manifest = graft.ops.Splits.writeTrainingShards(d, dir, maxPerShard = 64L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // 200 docs / 64 → shards 0..3 with 64/64/64/8 consecutive positions
    assert(manifest.map(x => (x._1, x._2)).toSeq ==
      Seq((0L, 64L), (1L, 64L), (2L, 64L), (3L, 8L)), manifest.toSeq)
    manifest.foreach { case (sid, n, lo, hi) =>
      assert(lo == sid * 64 && hi == lo + n - 1, s"shard $sid not consecutive")
    }
    // loader view: committed units only, payload + position round-trip
    val back = graft.ops.ShardStore.readCommitted(spark, dir).get
    assert(back.count() == 200)
    assert(back.select($"doc_id").as[Long].collect().toSet == (0L until 200L).toSet)
    val perShard = back.groupBy($"shard_id").count()
      .as[(Long, Long)].collect().toMap
    assert(perShard == Map(0L -> 64L, 1L -> 64L, 2L -> 64L, 3L -> 8L))
    // shard membership equals the pure assignment op (write changes nothing)
    val assign = graft.ops.Splits.trainingShards(d, 64L)
      .select($"doc_id", $"shard_id").as[(Long, Long)].collect().toMap
    val backAssign = back.select($"doc_id", $"shard_id").as[(Long, Long)].collect().toMap
    assert(backAssign == assign)

    // the manifest is arithmetic over n; Splits.shardManifest over the
    // pure assignment stays its reference at every size
    def reference(docs: org.apache.spark.sql.DataFrame, m: Long) =
      graft.ops.Splits.shardManifest(graft.ops.Splits.trainingShards(docs, m))
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    def exported(docs: org.apache.spark.sql.DataFrame, dir: String, m: Long) =
      graft.ops.Splits.writeTrainingShards(docs, dir, maxPerShard = m)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    def corpus(n: Long) =
      (0L until n).map(i => (i, s"text $i")).toDF("doc_id", "text")
    assert(manifest.toSeq == reference(d, 64L))
    // n = 0: nothing to commit, and exportAll still returns
    val emptyDir = java.nio.file.Files.createTempDirectory("graft-shards-empty").toString
    assert(exported(corpus(0L), emptyDir, 64L).isEmpty)
    assert(graft.ops.ShardStore.lastManifest(emptyDir).isEmpty)
    assert(graft.ops.ShardStore.readCommitted(spark, emptyDir).isEmpty)
    // n = 128, maxPerShard 64: two full shards; n < maxPerShard: one shard
    for ((n, want) <- Seq(128L -> Seq(64L, 64L), 10L -> Seq(10L))) {
      val sDir = java.nio.file.Files.createTempDirectory(s"graft-shards-$n").toString
      val got = exported(corpus(n), sDir, 64L)
      assert(got.map(_._2) == want, got)
      assert(got == reference(corpus(n), 64L))
      assert(graft.ops.ShardStore.readCommitted(spark, sDir).get.count() == n)
    }
    // a store committed before _params.tsv existed: n comes from the
    // assignment itself, and the re-export commits the same manifest
    val oldDir = java.nio.file.Files.createTempDirectory("graft-shards-old").toString
    exported(corpus(128L), oldDir, 64L)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(oldDir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("manifest-"))
      .foreach(java.nio.file.Files.delete(_))
    java.nio.file.Files.delete(java.nio.file.Paths.get(oldDir, "assignment", "_params.tsv"))
    assert(exported(corpus(128L), oldDir, 64L) == reference(corpus(128L), 64L))
  }

  test("curation operators evaluate their input once: exportAll twice per row, dedupCorpus output never") {
    import spark.implicits._
    // exportAll: once for the id checkpoint, once for the unit write
    val idEvals = spark.sparkContext.longAccumulator("exportAll input rows")
    val bumpId = udf { (i: Long) => idEvals.add(1L); i }
    val n = 200L
    val d = spark.range(n).select(bumpId($"id").as("doc_id"),
      concat(lit("text "), $"id".cast("string")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-evals").toString
    val m = graft.ops.ShardStore.exportAll(d, dir, maxPerShard = 64L)
    assert(m.shards.map(_.nDocs).sum == n)
    assert(idEvals.value == 2L * n, s"exportAll evaluated its input ${idEvals.value} times for $n rows")
    // dedupCorpus: the returned frame refers only to checkpoints, so
    // reading it does not re-run the text-side plan
    val textEvals = spark.sparkContext.longAccumulator("dedupCorpus text rows")
    val textOf = udf { (i: Long) =>
      textEvals.add(1L)
      (1 to 40).map(j => s"t${i % 5}_$j").mkString(" ")
    }
    val docs = spark.range(40).select($"id".as("doc_id"), textOf($"id").as("text"))
    val out = Dedup.dedupCorpus(docs, threshold = 0.5)
    val afterCall = textEvals.value
    val first = out.as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val second = out.as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(textEvals.value == afterCall,
      s"reading dedupCorpus's output re-ran the text plan (${textEvals.value - afterCall} rows)")
    assert(first == second)
    assert(first.map(_._1) == (0L until 40L))
    assert(first.filter(_._3).map(_._1) == (0L until 5L)) // one representative per text
  }

  test("shard export: kill mid-export resumes exactly-once; epoch order never recomputed") {
    import spark.implicits._
    import graft.ops.ShardStore
    val d = (0L until 200L).map(i => (i, s"s${i % 5}", s"text $i")).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-resume").toString
    // run 1 "killed" after one commit unit of 2 shards (of 4 total)
    val m1 = ShardStore.export(d, dir, maxPerShard = 64L, maxShards = 2)
    assert(m1.id == 1 && m1.shards.map(_.shardId).sorted == Vector(0L, 1L))
    val part = ShardStore.readCommitted(spark, dir).get
    assert(part.select($"shard_id").distinct().as[Long].collect().toSet == Set(0L, 1L))
    assert(part.count() == 128) // 64 + 64, no half-written shard visible
    // the committed assignment must never be rewritten by a resume — the
    // epoch order (global sort + zipWithIndex) is the expensive part
    val aDir = java.nio.file.Paths.get(dir, "assignment")
    def assignmentState() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(aDir).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (p.toString, java.nio.file.Files.getLastModifiedTime(p),
          java.nio.file.Files.size(p))).toVector.sortBy(_._1)
    }
    val before = assignmentState()
    // a crashed run may leave a stale uncommitted unit — it must be
    // invisible to readers and harmlessly overwritten by the resume
    val staleUnit = java.nio.file.Paths.get(dir, "data", "unit-2-3", "shard_id=2")
    java.nio.file.Files.createDirectories(staleUnit)
    java.nio.file.Files.write(staleUnit.resolve("part-garbage.json"),
      """{"doc_id":999999,"source":"sX","text":"ghost","epoch_pos":0,"shard_id":2}"""
        .getBytes("UTF-8"))
    assert(ShardStore.readCommitted(spark, dir).get.count() == 128)
    // run 2: resume commits ONLY the remaining shards, one unit at a time
    val m2 = ShardStore.exportAll(d, dir, maxPerShard = 64L, maxShardsPerCommit = 2)
    assert(m2.shards.map(_.shardId).sorted == Vector(0L, 1L, 2L, 3L))
    assert(assignmentState() == before, "resume must reuse the committed assignment")
    val back = ShardStore.readCommitted(spark, dir).get
    assert(back.count() == 200, "exactly-once rows after kill/resume")
    assert(back.select($"doc_id").as[Long].collect().toSet == (0L until 200L).toSet)
    assert(back.filter($"doc_id" === 999999L).isEmpty, "stale unit rows must be gone")
    // fully-committed store: another export is a no-op (same manifest id)
    assert(ShardStore.export(d, dir, maxPerShard = 64L).id == m2.id)
    // manifest rows mirror the assignment stats
    val mdf = ShardStore.manifestDF(spark, dir)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(mdf.map(x => (x._1, x._2)).toSeq ==
      Seq((0L, 64L), (1L, 64L), (2L, 64L), (3L, 8L)))
  }

  test("dedupClusters: pointer jumping converges a 10k-node chain in O(log d) rounds") {
    import spark.implicits._
    // worst-case diameter graph: a path 0-1-2-…-9999 (template series /
    // mirror chains in crawl data). Min-label propagation alone needs
    // ~diameter rounds; with the pointer jump the reach doubles per round.
    val n = 10000
    val docs = spark.range(n).select($"id".as("doc_id")).toDF
    val pairs = spark.range(n - 1)
      .select($"id".as("id_a"), ($"id" + 1L).as("id_b")).toDF
    val cl = graft.ops.Dedup.dedupClusters(docs, pairs, maxIter = 20)
      .as[(Long, Long)].collect()
    assert(cl.length == n && cl.forall(_._2 == 0L), "one component labeled by its min id")
    val rounds = graft.ops.Dedup.lastClusterRounds.get()
    assert(rounds <= 16, s"10k chain should converge in <= 16 rounds, took $rounds")
  }

  test("clusterRepresentatives: quality argmax with min-id tiebreak per cluster") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val quality = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 2L), (10L, 7L), (11L, 7L))
      .toDF("doc_id", "quality")
    val out = graft.ops.Dedup.clusterRepresentatives(clusters, quality)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // cluster 1: quality tie 9 between ids 2 and 3 → smallest id 2 wins
    // (NOT the cluster label 1, whose quality is lower); cluster 10: tie
    // at 7 → 10; singleton 4 is its own representative
    assert(out.toSeq == Seq((1L, 2L, 9L, 3L), (4L, 4L, 2L, 1L), (10L, 10L, 7L, 2L)))
  }

  test("ngramFluency: trigram probabilities match a hand-computed table") {
    import spark.implicits._
    val d = Seq((0L, "a b a b c"), (1L, "a b a"), (2L, "x"))
      .toDF("doc_id", "text")
    // V = |{a,b,c,x}| = 4; contexts: "a b"×3, "b a"×2, "b c"×1
    // trigrams: ("a b"→a)×2, ("b a"→b)×1, ("a b"→c)×1
    // doc0: P = [3/7, 2/6, 2/7], hits = [1,0,0] → avg 0.3492, rate 0.3333
    // doc1: P = [3/7], hit → avg 0.4286, rate 1.0
    val r = graft.ops.LmScore.ngramFluency(d, 3)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(r(0) == ((0L, 3L, 0.3333, 0.3492)), r(0).toString)
    assert(r(1) == ((1L, 1L, 1.0, 0.4286)), r(1).toString)
    assert(r(2) == ((2L, 0L, 0.0, 0.0)), r(2).toString)
    // the n = 2 case is the bigram op: same columns, same contract
    val b = graft.ops.LmScore.bigramFluency(d)
    assert(b.columns.toSeq == Seq("doc_id", "n_bigrams", "hit_rate", "avg_p"))
  }

  test("url blocklist: host and prefix rules gate exactly; bloom-miss rows bypass the verify join") {
    import spark.implicits._
    val docs = Seq(
      (1L, "http://Blocked.example.com:80/x"),   // host rule (via canonical lowercasing)
      (2L, "http://ok.example.com/path"),        // kept
      (3L, "https://sub.example.org/bad/area1"), // prefix rule
      (4L, "https://sub.example.org/good/1"),    // same host, other subtree → kept
      (5L, "not a url"),                         // non-url passthrough → kept
      (6L, "http://blocked.example.com/other"),  // host rule
      (7L, null.asInstanceOf[String])            // null url → kept (no host)
    ).toDF("doc_id", "url")
    val rules = Seq(
      ("Blocked.example.com ", "host"),          // rules normalize (trim+lower)
      ("https://sub.example.org/bad/", "prefix"),
      ("unused.example.net", "host")).toDF("rule", "kind")
    val kept = graft.ops.UrlFilter.blocklistFilter(docs, rules)
    assert(kept.columns.toSeq == Seq("doc_id", "url"))
    assert(kept.select($"doc_id").as[Long].collect().toSet == Set(2L, 4L, 5L, 7L))
    // empty blocklist keeps everything, including the null-url row
    assert(graft.ops.UrlFilter.blocklistFilter(docs, rules.limit(0)).count() == 7)
  }

  test("epoch ordering: contiguous positions in salted-hash order, partition-invariant, salt re-keys") {
    import spark.implicits._
    val d = (0L until 500L).map(i => (i, "s", "t")).toDF("doc_id", "source", "text")
    val r = graft.ops.Splits.epochOrder(d, salt = "e1")
      .as[(Long, Long)].collect().sortBy(_._2)
    assert(r.map(_._2).toSeq == (0L until 500L), "positions must be contiguous from 0")
    // position order == unsigned salted-hash order, recomputed by hand
    def hu(i: Long) = graft.ops.Dedup.mix64(graft.ops.Dedup.fnv1a(s"e1:$i")) ^ Long.MinValue
    assert(r.map(_._1).toSeq == (0L until 500L).sortBy(i => (hu(i), i)))
    // invariant under input partitioning; a different salt re-keys the order
    val r12 = graft.ops.Splits.epochOrder(d.repartition(12), salt = "e1")
      .as[(Long, Long)].collect().sortBy(_._2)
    assert(r12.map(_._1).toSeq == r.map(_._1).toSeq)
    val r2 = graft.ops.Splits.epochOrder(d, salt = "e2")
      .as[(Long, Long)].collect().sortBy(_._2)
    assert(r2.map(_._1).toSeq != r.map(_._1).toSeq)
  }

  test("chunking: stride windows cover every token, overlap as configured, degenerate docs") {
    import spark.implicits._
    def words(k: Int) = (1 to k).map(_ => "w").mkString(" ")
    val d = docsDF(Seq(
      (1L, words(10)),  // n <= maxLen: one whole chunk
      (2L, words(25)),  // 25 tokens, maxLen 10, stride 8 → 1 + ceil(15/8) = 3 chunks
      (3L, words(18)),  // exact multiple edge: 1 + ceil(8/8) = 2
      (4L, ""), (5L, null.asInstanceOf[String]))) // zero tokens → no chunks
    val r = graft.ops.Packing.chunkDocs(d, maxLen = 10, stride = 8)
      .select($"doc_id", $"chunk_idx", $"start_tok", $"chunk_len")
      .as[(Long, Long, Long, Long)].collect().groupBy(_._1)
    assert(r(1L).toSeq == Seq((1L, 0L, 0L, 10L)))
    assert(r(2L).sortBy(_._2).toSeq ==
      Seq((2L, 0L, 0L, 10L), (2L, 1L, 8L, 10L), (2L, 2L, 16L, 9L)))
    assert(r(3L).sortBy(_._2).toSeq == Seq((3L, 0L, 0L, 10L), (3L, 1L, 8L, 10L)))
    assert(!r.contains(4L) && !r.contains(5L))
    // every token position of doc 2 is covered by at least one window
    val covered = r(2L).flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0L until 25L).toSet)
  }

  test("product quantization: native encode = brute argmin (ties to low code), decode, one Lloyd step, ADC echo rank") {
    import spark.implicits._
    import graft.ops.Quantize
    // dyadic floats only: every sum/mean below is exact or at least
    // bit-reproducible in the declared fold order
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 1f)), (1L, Array(0f, 1f, 1f, 0f)),
      (2L, Array(0.75f, 0.25f, 0f, 1f)), (3L, Array(0f, 1f, 0.75f, 0.25f)),
      (4L, Array(0.5f, 0.5f, 0.5f, 0.5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val flat = Quantize.pqSeedCodebooks(df, dim = 4, m = 2, k = 2)
    // layout [(s*k + j)*dsub + d]: seeds are sub-vectors of v0 and v1
    assert(flat.toSeq == Seq(1.0, 0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0))
    def ref(v: Array[Float]): Seq[Int] = (0 until 2).map { s =>
      (0 until 2).minBy { j =>
        (0 until 2).map { d =>
          val diff = v(s * 2 + d).toDouble - flat((s * 2 + j) * 2 + d)
          diff * diff
        }.sum
      }
    }
    val enc = Quantize.pqEncode(df, flat, dsub = 2, k = 2)
      .as[(Long, Seq[Int])].collect().toMap
    vecs.foreach { case (id, v) => assert(enc(id) == ref(v), s"encode diverges for $id") }
    // exact argmin tie (0.5, 0.5) → the LOWEST code wins
    assert(enc(4L) == Seq(0, 0))
    val rec = Quantize.pqEncode(df, flat, 2, 2)
      .select($"vec_id", Quantize.pqDecode($"codes", flat, 2, 2).as("rv"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(rec(2L) == Seq(1.0, 0.0, 0.0, 1.0))
    assert(rec(3L) == Seq(0.0, 1.0, 1.0, 0.0))
    // one Lloyd iteration = per-(subspace, code) member means in id order
    val trained = Quantize.pqTrainCodebooks(df, dim = 4, m = 2, k = 2, iters = 1)
    val exp = flat.clone()
    for (s <- 0 until 2; j <- 0 until 2) {
      val ms = vecs.filter(v => ref(v._2)(s) == j).sortBy(_._1)
      if (ms.nonEmpty) for (d <- 0 until 2) {
        var sum = 0.0
        ms.foreach(mm => sum += mm._2(s * 2 + d).toDouble)
        exp((s * 2 + j) * 2 + d) = sum / ms.size
      }
    }
    assert(trained.toSeq == exp.toSeq)
    // ADC: every corpus vector whose codes reconstruct to v0's
    // reconstruction scores cos 1.0 against query v0 — ids 2, 4, 9
    val with9 = (vecs :+ (9L, Array(0.96875f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    val top = Quantize.pqTopK(with9, with9.filter($"vec_id" === 0), k = 3,
        dim = 4, m = 2, kcb = 2)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(top.map(_._2).toSeq == Seq(2L, 4L, 9L), top.toSeq)
    assert(top.forall(_._3 == 1.0), top.toSeq)
  }

  test("count-min sketch: cells match a first-principles reference, min-over-rows estimate, overcount bounded") {
    import spark.implicits._
    import graft.ops.Sketches
    val depth = 4; val width = 8
    val docs = Seq((1L, "A", "a b a c"), (2L, "A", "b b d"), (3L, "B", "a a a"))
      .toDF("doc_id", "source", "text")
    // reference CMS from the same published construction, plain Scala
    val toks = Map("A" -> Seq("a", "b", "a", "c", "b", "b", "d"), "B" -> Seq("a", "a", "a"))
    def bucket(tok: String, i: Int): Long =
      Dedup.mix64(Dedup.fnv1a(tok) ^ Sketches.cmsSeed(i)) & (width - 1).toLong
    val cells = toks.toSeq
      .flatMap { case (g, ts) => ts.flatMap(t => (0 until depth).map(i => (g, i.toLong, bucket(t, i)))) }
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val sketch = Sketches.countMinSketch(docs, "source", depth, width)
    val got = sketch.as[(String, Long, Long, Long)].collect()
      .map(r => ((r._1, r._2, r._3), r._4)).toMap
    assert(got == cells, s"cells diverge: $got vs $cells")
    def ref(g: String, t: String): Long =
      (0 until depth).map(i => cells.getOrElse((g, i.toLong, bucket(t, i)), 0L)).min
    val probes = Seq(("A", "a"), ("A", "d"), ("B", "a"), ("B", "zzz")).toDF("source", "token")
    val est = Sketches.countMinEstimate(sketch, probes, "source", depth, width)
      .as[(String, String, Long)].collect().map(r => ((r._1, r._2), r._3)).toMap
    // est == reference min, and never undercounts the true frequency
    assert(est(("A", "a")) == ref("A", "a") && est(("A", "a")) >= 2L, est)
    assert(est(("A", "d")) == ref("A", "d") && est(("A", "d")) >= 1L, est)
    assert(est(("B", "a")) == ref("B", "a") && est(("B", "a")) >= 3L, est)
    // absent token: estimate is exactly the colliding mass (possibly 0)
    assert(est(("B", "zzz")) == ref("B", "zzz"), est)
  }

  test("host boilerplate: per-doc evidence, threshold boundary, minDocs exemption, null host/text, blanks kept") {
    import spark.implicits._
    val d = Seq(
      (1L, "A", "NAV Home\nbody one\nhalf line"),
      (2L, "A", "  nav home  \nbody two\nhalf line\npromo"),
      // 'rep' twice INSIDE one doc is repetition, not template evidence
      (3L, "A", "NAV HOME\nrep\nrep\nbody three"),
      (4L, "A", null.asInstanceOf[String]),
      // host B has 2 docs < minDocs=3: its 100% footer is exempt
      (5L, "B", "footer x\nbb one"),
      (6L, "B", "footer x\nbb two"),
      // null host: rows must still group (sentinel key) and cut
      (7L, null.asInstanceOf[String], "nullfoot\nx1"),
      (8L, null.asInstanceOf[String], "nullfoot\nx2"),
      (9L, null.asInstanceOf[String], "nullfoot\nx3"))
      .toDF("doc_id", "source", "text")
    val r = graft.ops.Boilerplate.cutHostBoilerplate(d, minDocs = 3, num = 1, den = 2)
      .select($"doc_id", $"clean_text", $"n_lines", $"n_cut_lines")
      .as[(Long, String, Long, Long)].collect().map(x => x._1 -> x).toMap
    // 'nav home' in 3/4 docs (case/pad variants = one key) and 'half line'
    // in exactly 2/4 (the >= boundary) are template; 'promo' (1/4) is not
    assert(r(1L) == ((1L, "body one", 3L, 2L)), r(1L))
    assert(r(2L) == ((2L, "body two\npromo", 4L, 2L)), r(2L))
    assert(r(3L) == ((3L, "rep\nrep\nbody three", 4L, 1L)), r(3L))
    // null text = one blank line; blanks are KEPT by this op
    assert(r(4L) == ((4L, "", 1L, 0L)), r(4L))
    assert(r(5L) == ((5L, "footer x\nbb one", 2L, 0L)), r(5L))
    assert(r(6L) == ((6L, "footer x\nbb two", 2L, 0L)), r(6L))
    assert(r(7L) == ((7L, "x1", 2L, 1L)), r(7L))
    assert(r(8L) == ((8L, "x2", 2L, 1L)), r(8L))
    assert(r(9L) == ((9L, "x3", 2L, 1L)), r(9L))
  }

  test("line dedup: normalized-key cut, case/trim variants match, blanks dropped, order kept") {
    import spark.implicits._
    val d = docsDF(Seq(
      (1L, "keep me one\nAll Rights Reserved\nkeep me two"),
      (2L, "other body\n  all rights reserved  \nmore body"),
      (3L, "solo line\n   \nfinal line"),
      (4L, ""), // one empty line → dropped, clean ""
      (5L, null.asInstanceOf[String])))
    val r = graft.ops.Dedup.cutDuplicateLines(d, minCount = 2)
      .select($"doc_id", $"clean_text", $"n_lines", $"n_cut_lines")
      .as[(Long, String, Long, Long)].collect().map(x => x._1 -> x).toMap
    // the cased/padded boilerplate variants share one normalized key → cut
    assert(r(1L) == ((1L, "keep me one\nkeep me two", 3L, 1L)), r(1L))
    assert(r(2L) == ((2L, "other body\nmore body", 3L, 1L)), r(2L))
    // blank line always dropped; unique lines keep their order
    assert(r(3L) == ((3L, "solo line\nfinal line", 3L, 1L)), r(3L))
    assert(r(4L) == ((4L, "", 1L, 1L)), r(4L))
    assert(r(5L) == ((5L, "", 1L, 1L)), r(5L))
  }

  test("bigram fluency: hand-computed smoothed probabilities, hit rates, degenerate docs") {
    import spark.implicits._
    // corpus: U = {a:3, b:3, x:1, zz:1}, V = 4; B = {(a,b):3, (b,a):1, (b,x):1}
    val d = docsDF(Seq(
      (1L, "a b a b"), (2L, "a b x"), (3L, "zz"), (4L, "")))
    val r = graft.ops.LmScore.bigramFluency(d)
      .select($"doc_id", $"n_bigrams", $"hit_rate", $"avg_p")
      .as[(Long, Long, Double, Double)].collect().map(x => x._1 -> x).toMap
    // doc 1: P = 4/7, 2/7, 4/7 → avg 10/21 = 0.4762; hits: (a,b) twice of 3
    assert(r(1L) == ((1L, 3L, 0.6667, 0.4762)), r(1L))
    // doc 2: P = 4/7, 2/7 → avg 3/7 = 0.4286; hit only (a,b)
    assert(r(2L) == ((2L, 2L, 0.5, 0.4286)), r(2L))
    // single-token and empty docs: no bigrams, zero scores
    assert(r(3L) == ((3L, 0L, 0.0, 0.0)))
    assert(r(4L) == ((4L, 0L, 0.0, 0.0)))
  }

  test("cut duplicated spans: overlap merges, whole-doc dup empties, short echoes kept, sub-k untouched") {
    import spark.implicits._
    // k=3, minRun=5: a covered run must reach 5 tokens to be cut
    val boiler = "b1 b2 b3 b4 b5 b6" // 6 shared words → covered run 6 ≥ 5 → cut
    val short = "s1 s2 s3"           // one shared 3-gram → covered run 3 < 5 → kept
    val d = docsDF(Seq(
      (1L, s"u1a u1b u1c u1d $boiler u1e"),
      (2L, s"u2a u2b $boiler u2c u2d"),
      (3L, s"pre1 $short post1"),
      (4L, s"pre2 $short post2"),
      (5L, "w1 w2 w3 w4 w5 w6 w7"), // exact pair with 6: every span dup
      (6L, "w1 w2 w3 w4 w5 w6 w7"),
      (7L, "a b"),                  // sub-k doc: no spans, untouched
      // internal repetition alone makes spans duplicated (same-doc counts)
      (8L, "r1 r2 r3 r1 r2 r3 r1 r2 r3")))
    val r = Dedup.cutDuplicatedSpans(d, k = 3, minRun = 5)
      .select($"doc_id", $"clean_text", $"n_tokens", $"n_cut")
      .as[(Long, String, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(1L)._2 == "u1a u1b u1c u1d u1e" && r(1L)._3 == 11L && r(1L)._4 == 6L, r(1L))
    assert(r(2L)._2 == "u2a u2b u2c u2d" && r(2L)._4 == 6L)
    assert(r(3L)._2 == s"pre1 $short post1" && r(3L)._4 == 0L, r(3L)) // short echo survives
    assert(r(4L)._4 == 0L)
    assert(r(5L)._2 == "" && r(5L)._4 == 7L)
    assert(r(7L) == ((7L, "a b", 2L, 0L)))
    // doc 8: r1r2r3 at 0/3/6, r2r3r1 at 1/4, r3r1r2 at 2/5 — all dup,
    // overlapping coverage merges into one 9-token run
    assert(r(8L)._2 == "" && r(8L)._4 == 9L)
    // the scalar fold agrees with the profile op's boundary: minRun below
    // k clamps to k (a dup span always covers k consecutive tokens)
    val clamp = Dedup.cutByDupStarts("x1 x2 x3 x4", Seq(1), 3, 3)
    assert(clamp == (("x1", 4L, 3L)), clamp)
  }

  test("mixture sampling with 1000 sources: one map probe, exact parity with per-source thresholds") {
    import spark.implicits._
    // Dolma-scale mixture: the OR-chain form would emit 1000 string
    // comparisons into one generated method (64 KB limit → interpreted
    // fallback); the map-probe form must stay a single native filter AND
    // make the identical per-row decision
    val rates = (0 until 1000).map(k => s"s$k" -> (k % 11) / 10.0).toMap
    // range-backed (NOT a LocalRelation: ConvertToLocalRelation would
    // pre-evaluate the filter at optimization time and the plan assertions
    // would see an empty LocalTableScan); sources 1000-1099 are absent
    val d = spark.range(0L, 4000L, 1L, 4).selectExpr("id AS doc_id",
      "concat('s', id % 1100) AS source", "'t' AS text")
    val q = graft.ops.Splits.mixtureSample(d, rates)
    assert(q.queryExecution.executedPlan.toString.contains("graft_mixture_keep"))
    assert(!q.queryExecution.executedPlan.toString.contains("ScalaUDF"))
    val got = q.select($"doc_id", $"source").as[(Long, String)].collect().toSet
    // reference decision recomputed per row with the same public hash chain
    def flip(u: BigInt): Long = (u - (BigInt(1) << 63)).toLong
    def keep(id: Long, src: String): Boolean = rates.get(src).exists { p =>
      p >= 1.0 || (graft.ops.Dedup.mix64(graft.ops.Dedup.fnv1a(s"mix:$id")) ^
        Long.MinValue) < flip(graft.ops.Splits.thresholdU64(p))
    }
    val want = d.select($"doc_id", $"source").as[(Long, String)].collect()
      .filter { case (id, src) => keep(id, src) }.toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
    assert(got.nonEmpty && got.size < 4000)
  }

  test("ngram jaccard pairs (hashed verify) equal the scalar shingle jaccard over all block pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val texts = (0L until 40L).map { i =>
      val words = (1 to 25).map(w =>
        if (rnd.nextInt(3) == 0) s"u$i-$w" else s"common$w")
      (s"b${i % 3}", i, words.mkString(" "))
    } ++ Seq(
      ("b0", 100L, ""), ("b0", 101L, "one two"), // sub-k and empty docs
      // planted near-dups: identical pair and a one-word edit (the random
      // corpus alone rarely clears the shingle threshold)
      ("b1", 102L, (1 to 30).map(w => s"dup$w").mkString(" ")),
      ("b1", 103L, (1 to 30).map(w => s"dup$w").mkString(" ")),
      ("b1", 104L, ((1 to 29).map(w => s"dup$w") :+ "tail").mkString(" ")))
    val d = texts.toDF("source", "doc_id", "text")
    val got = graft.ops.Dedup.ngramJaccardPairs(d, "source", threshold = 0.3)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    // brute-force reference via the public scalar function
    val rows = texts.map(t => (t._1, t._2, t._3))
    val want = (for {
      (ba, ia, ta) <- rows; (bb, ib, tb) <- rows
      if ba == bb && ia < ib
      j = graft.ops.Dedup.jaccard(ta, tb, 3)
      if j >= 0.3
    } yield (ia, ib, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
    assert(want.nonEmpty)
  }

  test("minhash LSH hashed verify: emitted jaccard equals the scalar shingle-set jaccard") {
    import spark.implicits._
    // the verify stage now intersects pre-hashed shingle arrays — its
    // output must still be the exact set jaccard of the raw texts
    val texts = (0 until 12).map { i =>
      val words = (1 to 40).map(w => if (w % (i + 2) == 0) s"v$i$w" else s"w$w")
      i.toLong -> words.mkString(" ")
    }
    val withDups = texts ++ Seq(
      100L -> texts(0)._2, // exact dup
      101L -> (texts(1)._2 + " tail extra")) // near dup
    val d = docsDF(withDups)
    val pairs = Dedup.minhashLsh(d, threshold = 0.3)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    val byId = withDups.toMap
    pairs.foreach { case (a, b, j) =>
      val expect = BigDecimal(Dedup.jaccard(byId(a), byId(b), 3))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(j == expect, s"pair ($a,$b): got $j expected $expect")
    }
    assert(pairs.exists { case (a, b, j) => a == 0L && b == 100L && j == 1.0 })
  }

  test("multimodal: corrupt raster reports the sniffed format invalid, never 'unknown'") {
    // PNG magic + garbage: the decode throws mid-stream — same invalid
    // shape as the no-reader/bad-dims paths (ADVICE r4)
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10,
      0, 0, 0, 13, 'I', 'H', 'D', 'R', 1, 2, 3, 4, 5, 6, 7, 8)
    val m = Multimodal.decode(9L, corrupt)
    assert(m.format == "png" && !m.valid && m.checksum == 0L && m.bytes == corrupt.length)
    // truncated-after-header PNG (reader found, read(0) fails)
    val png = Multimodal.makePng(3L, 8, 8)
    val trunc = png.take(30)
    val m2 = Multimodal.decode(3L, trunc)
    assert(m2.format == "png" && !m2.valid)
  }

  test("normalize: control strip, whitespace collapse, trim; line and sentence counts") {
    import spark.implicits._
    val d = docsDF(Seq(
      (1L, "  \tHello world.  This is fine!  \n\n  Second line? \n\t "),
      (2L, "plain"),
      (3L, null.asInstanceOf[String]),
      (4L, "ends with period."),
      // real C0 bytes (BEL, SOH, NUL): ControlRe strips them BEFORE the
      // whitespace collapse — an interior control joins its neighbors
      // ("mid"+"dle"), a space-flanked one leaves a collapsible run
      // (ADVICE r5: the oracle exercised this strip but the unit suite
      // had no case with actual control bytes)
      (5L, "a\u0007b \u0001 mid\u0000dle  end")))
    val r = graft.ops.Normalize.normalize(d)
      .select($"doc_id", $"clean_text", $"n_lines", $"n_sentences")
      .as[(Long, String, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(1L)._2 == "Hello world. This is fine! Second line?", r(1L)._2)
    assert(r(1L)._3 == 2L, s"lines: ${r(1L)._3}") // two content lines; blank/ws-only don't count
    assert(r(1L)._4 == 3L) // . ! ?
    assert(r(2L)._2 == "plain" && r(2L)._3 == 1L && r(2L)._4 == 0L)
    assert(r(3L)._2 == "" && r(3L)._3 == 0L && r(3L)._4 == 0L)
    assert(r(4L)._4 == 1L) // terminator at end-of-text counts
    assert(r(5L)._2 == "ab middle end", r(5L)._2) // controls stripped, ws-runs collapsed
  }

  test("duplicated spans: shared boilerplate flagged positionally, unique text zero, repeats within a doc count") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // 10 shared words
    val d = docsDF(Seq(
      (1L, (1 to 20).map(i => s"u1x$i").mkString(" ") + " " + boiler),
      (2L, (1 to 20).map(i => s"u2x$i").mkString(" ") + " " + boiler),
      (3L, (1 to 20).map(i => s"u3x$i").mkString(" ")), // no boilerplate
      (4L, ("r1 r2 r3 r4 r5 " * 4).trim), // internal repetition
      (5L, "short doc"))) // < k tokens -> zero spans
    val r = graft.ops.Dedup.duplicatedSpans(d, k = 5)
      .select($"doc_id", $"n_spans", $"n_dup_spans", $"dup_span_frac")
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    // docs 1-2: 30 words -> 26 5-spans; the boilerplate's 6 interior spans
    // (positions 21..26) are shared; boundary spans carry u{1,2}x words
    assert(r(1L)._2 == 26 && r(1L)._3 == 6, r(1L).toString)
    assert(r(2L)._2 == 26 && r(2L)._3 == 6)
    assert(r(3L)._3 == 0 && r(3L)._4 == 0.0)
    // doc 4: "r1..r5" x4 = 20 words, 16 spans, every 5-span repeats
    // (rolling window over a period-5 sequence) -> all duplicated
    assert(r(4L)._2 == 16 && r(4L)._3 == 16 && r(4L)._4 == 1.0)
    assert(r(5L)._2 == 0 && r(5L)._3 == 0)
  }

  test("contamination: benchmark members fully flagged, disjoint docs zero") {
    import spark.implicits._
    val corpus = docsDF(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // identical to benchmark doc
      (3L, "one two three four five six seven")))
    val bench = docsDF(Seq((1L, "alpha beta gamma delta epsilon zeta")))
    val r = graft.ops.Contamination.overlap(corpus, bench)
      .select($"doc_id", $"n_shingles", $"n_contaminated", $"contamination_frac")
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L)._4 == 1.0 && r(2L)._4 == 1.0)
    assert(r(3L)._3 == 0L && r(3L)._4 == 0.0)
    assert(r(3L)._2 == 5L) // 7 words -> 5 3-shingles
  }

  test("bm25: rational idf ranks term-dense docs higher at equal length") {
    import spark.implicits._
    val d = docsDF(Seq(
      (1L, "spark spark spark pad pad pad"),
      (2L, "spark pad pad pad pad pad"),
      (3L, "pad pad pad pad pad pad")))
    val r = graft.ops.Ranking.bm25(d, Seq("spark"))
      .select($"doc_id", $"dl", $"bm25").as[(Long, Long, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(1L)._2 == 6L)
    assert(r(1L)._3 > r(2L)._3 && r(2L)._3 > r(3L)._3)
    assert(r(3L)._3 == 0.0)
  }

  test("repetition stats: gopher fractions on a crafted doc") {
    import spark.implicits._
    val d = docsDF(Seq((1L, "a a a b")))
    val r = graft.ops.TextAnalysis.repetitionStats(d).head()
    assert(r.getAs[Long]("n_words") == 4L)
    assert(r.getAs[Long]("n_distinct_words") == 2L)
    assert(r.getAs[Double]("dup_word_frac") == 0.5)
    assert(r.getAs[Double]("top_word_frac") == 0.75)
    assert(r.getAs[Double]("top_bigram_frac") == 0.6667) // "a a" twice of 3
    assert(r.getAs[Boolean]("repetitive"))
  }

  test("sequence packing: greedy per-group bins, oversized doc isolated") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val d = Seq(
      ("g1", 1L, words(100)), ("g1", 2L, words(90)), ("g1", 3L, words(50)),
      ("g1", 4L, words(250)), ("g1", 5L, words(10)),
      ("g2", 6L, words(200)),
      // zero-token doc at a group head: must NOT close the empty bin — the
      // oversized follower stays in bin 0 (operator and oracle agree)
      ("g3", 7L, ""), ("g3", 8L, words(250))).toDF("source", "doc_id", "text")
    // shards = 1: the whole-group fold, so the expected mapping is the
    // hand-computed greedy sequence over each group
    val r = graft.ops.Packing.packGreedy(d, budget = 200, shards = 1)
      .select($"doc_id", $"bin_id").as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L, 6L -> 0L,
      7L -> 0L, 8L -> 0L), r.toString)
    val stats = graft.ops.Packing.packStats(
      graft.ops.Packing.packGreedy(d, budget = 200, shards = 1), budget = 200)
      .select($"source", $"bin_id", $"n_docs", $"used").as[(String, Long, Long, Long)]
      .collect().toSet
    assert(stats.contains(("g1", 0L, 2L, 190L)))
    assert(stats.contains(("g1", 2L, 1L, 250L)))
  }

  test("two-level packing: each (group, shard) cell folds exactly like a shards=1 pack of its slice") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val d = (0L until 300L).map { i =>
      (s"g${i % 3}", i, (1 to (1 + rnd.nextInt(120))).map(_ => "w").mkString(" "))
    }.toDF("source", "doc_id", "text")
    val sharded = graft.ops.Packing.packGreedy(d, budget = 150, shards = 5)
      .select($"source", $"doc_id", $"n_tokens", $"shard_id", $"bin_id")
      .as[(String, Long, Long, Long, Long)].collect()
    // shard assignment is the documented deterministic hash — recompute it
    def shardOf(id: Long): Long =
      (graft.ops.Dedup.mix64(graft.ops.Dedup.fnv1a(s"pack:$id")) >>> 1) % 5
    sharded.foreach { case (_, id, _, sh, _) => assert(sh == shardOf(id), s"doc $id") }
    // every cell's fold == an independent shards=1 pack of just that slice
    for (g <- 0 until 3; sh <- 0L until 5L) {
      val slice = d.filter($"source" === s"g$g")
        .filter(udf((i: Long) => shardOf(i) == sh).apply($"doc_id"))
      val expect = graft.ops.Packing.packGreedy(slice, budget = 150, shards = 1)
        .select($"doc_id", $"bin_id").as[(Long, Long)].collect().toMap
      val got = sharded.filter(x => x._1 == s"g$g" && x._4 == sh)
        .map(x => x._2 -> x._5).toMap
      assert(got == expect, s"g$g shard $sh")
    }
  }

  test("sample quantiles: estimate equals exact percentile of the hash-sample; small groups exact") {
    import spark.implicits._
    val d = (0L until 200L).map(i => (i, if (i < 100) "a" else "b", "t", i * 3.0))
      .toDF("doc_id", "source", "text", "score")
    val r = graft.ops.Sketches.sampleQuantiles(d, "source", "score", k = 16)
      .select($"source", $"n_sample", $"q50_est")
      .as[(String, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r("a")._2 == 16L && r("b")._2 == 16L)
    // recompute the expected sample by hand with the same hash chain
    def hu(i: Long) = graft.ops.Dedup.mix64(graft.ops.Dedup.fnv1a(s"qsample:$i")) ^ Long.MinValue
    val sampleA = (0L until 100L).sortBy(hu).take(16).map(_ * 3.0).sorted
    // exact interpolated median of the 16-value sample
    val med = (sampleA(7) + sampleA(8)) / 2.0
    assert(math.abs(r("a")._3 - med) < 1e-6, s"got ${r("a")._3} want $med")
    // a group smaller than k is carried whole -> estimates are EXACT
    val tiny = (0L until 5L).map(i => (i, "g", "t", i.toDouble)).toDF("doc_id", "source", "text", "score")
    val rt = graft.ops.Sketches.sampleQuantiles(tiny, "source", "score", k = 16)
      .select($"n_sample", $"q50_est").as[(Long, Double)].head()
    assert(rt == ((5L, 2.0)))
  }

  test("sequence packing invariants over a randomized corpus (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42) // deterministic seed
    val budget = 128
    val docs = (0L until 600L).map { i =>
      val n = 1 + rnd.nextInt(200) // some docs exceed the budget
      (s"g${i % 5}", i, (1 to n).map(_ => "w").mkString(" "))
    }
    val d = docs.toDF("source", "doc_id", "text")
    // default shards (two-level): the invariants hold per (group, shard)
    val out = graft.ops.Packing.packGreedy(d, budget)
      .select($"source", $"doc_id", $"n_tokens", $"shard_id", $"bin_id")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(x => (s"${x._1}/${x._4}", x._2, x._3, x._5))
    // 1. every doc exactly once
    assert(out.length == 600 && out.map(_._2).distinct.length == 600)
    out.groupBy(_._1).foreach { case (g, rows) =>
      val seq = rows.sortBy(_._2)
      // 2. bins start at 0, non-decreasing, step <= 1
      assert(seq.head._4 == 0L, g)
      seq.sliding(2).foreach { case Array(a, b) =>
        assert(b._4 - a._4 >= 0 && b._4 - a._4 <= 1, s"$g: ${a._2}->${b._2}")
      case _ => }
      // 3. bin totals respect the budget unless a single oversized doc
      seq.groupBy(_._4).foreach { case (bin, ds) =>
        val total = ds.map(_._3).sum
        assert(total <= budget || ds.length == 1, s"$g bin $bin total $total")
      }
      // 4. greedy: the first doc of bin b would have overflowed bin b-1
      val fills = seq.groupBy(_._4).view.mapValues(_.map(_._3).sum).toMap
      seq.sliding(2).foreach { case Array(a, b) =>
        if (b._4 == a._4 + 1) assert(fills(a._4) + b._3 > budget,
          s"$g: bin ${b._4} opened although ${fills(a._4)} + ${b._3} <= $budget")
      case _ => }
    }
  }

  test("heavy tokens: sketch-then-verify lands on the EXACT top-k; certification flags flat tails") {
    import spark.implicits._
    // skewed corpus: vocab 300 >> m=16, so the sketch genuinely trims
    val rnd = new scala.util.Random(11)
    val words = (0L until 400L).map { i =>
      val ws = (0 until 50).map { _ =>
        val r = rnd.nextInt(100)
        if (r < 60) s"hot${rnd.nextInt(3)}" // 3 heavy tokens ~60% of mass
        else s"cold${rnd.nextInt(300)}"
      }
      (i, "g", ws.mkString(" "))
    }
    val d = words.toDF("doc_id", "source", "text")
    val got = graft.ops.Sketches.heavyTokens(d, "source", k = 3, m = 16)
      .select($"token", $"cnt", $"rank", $"certified")
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._3)
    // brute-force ground truth
    val truth = words.flatMap(_._3.split(" ")).groupBy(identity)
      .view.mapValues(_.size.toLong).toVector
      .sortBy { case (t, c) => (-c, t) }.take(3)
    assert(got.map(r => (r._1, r._2)).toVector == truth, s"got ${got.toVector}")
    assert(got.forall(_._4), "heavy top-3 over 60% of mass must certify at m=16")
    // flat distribution: all counts ~equal -> kth count * m <= N -> NOT certified
    val flat = (0L until 100L).map(i => (i, "g", (0 until 40).map(j => s"w${(i * 40 + j) % 2000}").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val fc = graft.ops.Sketches.heavyTokens(flat, "source", k = 3, m = 16)
      .select($"certified").as[Boolean].collect()
    assert(fc.forall(!_), "flat distribution must not certify")
  }

  test("incremental bloom dedup: exact result, definite-news skip the join") {
    import spark.implicits._
    val seen = (0L until 300L).map(i => (i, s"seen doc number $i with words")).toDF("doc_id", "text")
    val newDocs = (1000L until 1050L).map(i => (i, s"fresh doc $i unseen content"))
    val dupDocs = (2000L until 2030L).map(i => (i, s"seen doc number ${i - 2000} with words"))
    val batch = (newDocs ++ dupDocs).toDF("doc_id", "text")
    val out = graft.ops.Dedup.incrementalNew(seen, batch)
      .select($"doc_id").as[Long].collect().toSet
    assert(out == newDocs.map(_._1).toSet) // exact: all new kept, all dups dropped
    // bloom prunes: with 10 bits/item fpp ~1%, the anti-join side should
    // see ~dups + a few false positives, far below the whole batch — the
    // operator's value claim. We can't observe the split from the result
    // (it's exact either way); sanity-check might_contain itself.
    graft.functions.functions.register(spark)
    val bloom = seen.select(graft.functions.functions.graft_bloom_agg(
        xxhash64($"text"), lit(300L), lit(3000L)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val fp = batch.filter(graft.functions.functions.graft_might_contain(
        lit(bloom), xxhash64($"text"))).count()
    assert(fp >= 30 && fp <= 40, s"candidates $fp: 30 true dups + ~1% fpp of 50")
  }

  test("url canonicalization: case, default ports, fragments, empty paths") {
    import spark.implicits._
    val cases = Seq(
      "HTTP://Host.EXAMPLE.com:80/a//b#frag" -> "http://host.example.com/a//b",
      "https://CDN.Example.org:443/x?v=1&y=2#top" -> "https://cdn.example.org/x?v=1&y=2",
      "http://h.example.com:8080/p" -> "http://h.example.com:8080/p",
      "HTTPS://Example.NET" -> "https://example.net/",
      "ftp://Files.Example.com:21/pub" -> "ftp://files.example.com:21/pub",
      "not a url at all" -> "not a url at all", // pass-through
      // userinfo: case PRESERVED (credentials are case-sensitive), host
      // still lowercased, default port still dropped
      "http://Alice@Host.example.com:80/a" -> "http://Alice@host.example.com/a",
      "http://host.example.com/?q=1" -> "http://host.example.com/?q=1")
    val got = cases.map(_._1).toDF("url")
      .select($"url", graft.ops.UrlOps.canonicalize($"url").as("c"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (in, want) => assert(got(in) == want, s"in=$in") }
    val h = Seq("HTTP://Host.EXAMPLE.com:80/a").toDF("url")
      .select(graft.ops.UrlOps.host($"url")).as[String].head()
    assert(h == "host.example.com")
  }

  test("incremental bloom dedup edges: empty seen keeps everything; null text survives as new") {
    import spark.implicits._
    val batch = Seq((1L, "a doc"), (2L, null.asInstanceOf[String]), (3L, "b doc"))
      .toDF("doc_id", "text")
    // EMPTY seen: nothing was seen — the whole batch is new (the null
    // bloom aggregate used to silently drop every row)
    val emptySeen = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val all = graft.ops.Dedup.incrementalNew(emptySeen, batch)
      .select($"doc_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L))
    // non-empty seen + a null-text batch row: xxhash64(null) used to drop
    // it from BOTH branches; anti-join semantics keep it as new
    val seen = Seq((10L, "a doc"), (11L, "z")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.incrementalNew(seen, batch)
      .select($"doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 3L)) // 1 is a dup; null-text 2 and fresh 3 are new
  }

  test("incremental near-dup dedup: near-copies and exact copies dropped, fresh and null-text kept") {
    import spark.implicits._
    val seen = (0L until 60L)
      .map(i => (i, s"seen document number $i carries several shared filler words"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // near-copy of seen 7 (suffix injection — high word-shingle overlap)
      (1000L, "seen document number 7 carries several shared filler words extra tail"),
      (1001L, "seen document number 12 carries several shared filler words"), // exact copy
      (1002L, "completely fresh content about unrelated topics qq ww ee rr"),
      (1003L, null.asInstanceOf[String]) // null text: no seen empty doc -> new
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.incrementalNearDup(seen, batch, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(out == Set(1002L, 1003L))
    // empty-text batch doc vs an empty-text SEEN doc: Jaccard 1.0 -> dropped
    val seenE = seen.union(Seq((99L, "")).toDF("doc_id", "text"))
    val out2 = graft.ops.Dedup.incrementalNearDup(
      seenE, Seq((2000L, "")).toDF("doc_id", "text"), threshold = 0.5)
    assert(out2.count() == 0L)
    // candidates are batch x seen only — a seen-internal dup pair must not
    // affect the result (no seen x seen join)
    val seenDup = seen.union(Seq((98L, "seen document number 7 carries several shared filler words"))
      .toDF("doc_id", "text"))
    val out3 = graft.ops.Dedup.incrementalNearDup(seenDup, batch, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(out3 == Set(1002L, 1003L))
  }

  test("gopher rules: each rule fires on its planted violation, clean prose passes") {
    import spark.implicits._
    val pass = "the quick brown fox likes to jump over logs and that " +
      "is what we have come to expect of foxes with energy every day"  // 24 words, 5 stops
    val docs = Seq(
      (1L, pass),
      (2L, "short doc"),                                     // word count < 20
      (3L, ("x " * 25).trim),                                // mean word len 1 < 3
      (4L, pass + " " + ("# " * 3).trim),                    // 3 symbols, 27 words: 30 > 27
      (5L, pass + "\n" + (1 to 30).map(i => s"- b$i").mkString("\n")), // 30/31 bullet lines
      (6L, pass + "\nwait...\nmore...\nnext..."),            // 3/4 ellipsis ends
      (7L, pass + " " + ("12345 " * 7).trim),                // alpha 24/31 < 0.8
      (8L, "fast column table row filter key agg " * 4)      // 28 words, 0 gopher stops
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.gopherRules(docs, minWords = 20)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> false, 6L -> false, 7L -> false, 8L -> false), out.toSeq.sorted)
    // signal sanity on the passing doc
    val sig = graft.ops.TextAnalysis.gopherRules(docs.filter($"doc_id" === 1L), minWords = 20)
      .select($"n_words", $"n_stopwords", $"n_alpha_words", $"n_lines")
      .as[(Long, Long, Long, Long)].head()
    assert(sig._1 == 24L && sig._2 >= 2L && sig._3 == 24L && sig._4 == 1L, sig)
  }

  test("wer/cer/similarity scalar functions") {
    import graft.core.TextMetrics
    assert(TextMetrics.wer("a b c d", "a b c d") == 0.0)
    assert(TextMetrics.wer("a b c d", "a x c d") == 0.25)
    assert(TextMetrics.cer("abcd", "abce") == 0.25)
    assert(TextMetrics.similarityRatio("abcd", "abcd") == 1.0)
    // difflib: ratio("abcd","bcde") = 2*3/8 = 0.75
    assert(math.abs(TextMetrics.similarityRatio("abcd", "bcde") - 0.75) < 1e-9)
    assert(TextMetrics.parseNumeric("(1,234.5)").contains(-1234.5))
    assert(TextMetrics.parseNumeric("$42").contains(42.0))
    assert(TextMetrics.parseNumeric("n/a").isEmpty)
  }

  /** Sequential reference PageRank with the SAME two-level fold order as
    * the distributed op — doubles must match BIT-FOR-BIT, not within an
    * epsilon: the whole point of the ordered-fold contract. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int, d: Double,
      b: Int): Map[Long, Double] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val od = es.groupBy(_._1).map { case (s, l) => s -> l.size.toDouble }
    var pr = nodes.map(v => v -> (1.0 / n)).toMap
    for (_ <- 1 to iters) {
      val contribs = es.map { case (s, t) => (t, s, pr(s) / od(s)) }
      def tree[K](rows: Seq[(Long, Double)]): Double =
        rows.groupBy(_._1 % b).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _))
          .foldLeft(0.0)(_ + _)
      val insum = contribs.groupBy(_._1).map { case (t, cs) =>
        t -> tree(cs.map(c => (c._2, c._3)))
      }
      val dm = tree(nodes.filterNot(od.contains).map(v => (v, pr(v))))
      pr = nodes.map { v =>
        v -> ((1.0 - d) / n + d * (insum.getOrElse(v, 0.0) + dm / n))
      }.toMap
    }
    pr
  }

  test("pagerank: bit-identical to the sequential ordered-fold reference; mass conserved") {
    import spark.implicits._
    // deterministic graph with hubs, chains, a dangling sink and a
    // self-loop: 40 nodes, LCG-planted edges
    val edges = (0 until 120).map { i =>
      val s = (i * 17 + 3) % 40L
      val t = (i * i * 13 + 7) % 40L
      (s, t)
    } :+ (39L, 39L) // self-loop
    val df = edges.toDF("src", "dst")
    val got = graft.ops.Graph.pageRank(df, iters = 3)
      .as[(Long, Double)].collect().toMap
    val want = refPageRank(edges, iters = 3, d = 0.85, b = 16)
    assert(got.keySet == want.keySet)
    for ((v, p) <- want)
      assert(got(v) == p, s"node $v: got ${got(v)}, want $p (must be exact)")
    // rank is a probability mass: conserved up to float error
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pagerank: dangling-only graph redistributes uniformly; multi-edges collapse") {
    import spark.implicits._
    // 1 -> 2 triple-planted (must collapse to ONE edge), 2 dangling
    val df = Seq((1L, 2L), (1L, 2L), (1L, 2L)).toDF("src", "dst")
    val got = graft.ops.Graph.pageRank(df, iters = 1)
      .as[(Long, Double)].collect().toMap
    // after 1 iter: node1 gets (1-d)/2 + d*(0 + dm/2) with dm = pr(2)=.5
    val d = 0.85
    val dm = 0.5
    val n1 = (1.0 - d) / 2.0 + d * (0.0 + dm / 2.0)
    val n2 = (1.0 - d) / 2.0 + d * (0.5 / 1.0 + dm / 2.0)
    assert(got(1L) == n1 && got(2L) == n2)
  }

  test("rankBy: partition-count invariant, desc order with id tiebreak") {
    import spark.implicits._
    val docs = Seq((1L, 5.0), (2L, 9.0), (3L, 5.0), (4L, 1.0), (5L, 9.0))
      .toDF("doc_id", "score")
    def ranks(p: Int) = graft.ops.Selection
      .rankBy(docs, Seq(col("score")), Seq(false), numPartitions = p)
      .as[(Long, Long)].collect().toMap
    val want = Map(2L -> 0L, 5L -> 1L, 1L -> 2L, 3L -> 3L, 4L -> 4L)
    assert(ranks(1) == want)
    assert(ranks(7) == want)
  }

  test("scoreBuckets: equal-population tiers match the rank*k div n formula") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, (i * 7 % 10).toDouble)).toDF("doc_id", "s")
    val out = graft.ops.Selection.scoreBuckets(docs, "s", 3)
      .select($"doc_id", $"rank", $"bucket").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // expected: rank by (s desc, id), bucket = rank*3 div 10
    val want = (1L to 10L).map(i => (i, (i * 7 % 10).toDouble))
      .sortBy { case (id, s) => (-s, id) }.zipWithIndex
      .map { case ((id, _), r) => id -> ((r.toLong, r.toLong * 3 / 10)) }.toMap
    assert(out == want)
  }

  test("dsir importance: hand-computed target/raw ratios; target-like docs score higher") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b", "wiki"),  // target
      (2L, "a c", "crawl"), // shares 'a' with target
      (3L, "c c", "crawl"), // no target overlap
      (4L, "", "crawl")     // empty
    ).toDF("doc_id", "text", "source")
    val out = graft.ops.Importance.dsirScore(docs, col("source") === "wiki")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // T: a=1,b=1; R: a=1,c=3; V=3
    // r(a)=(1+1)/(1+3)=0.5  r(b)=2/(0+3)  r(c)=1/(3+3)
    assert(out(1L) == ((2L, math.rint(((0.0 + 0.5 + 2.0 / 3.0) / 2.0) * 1e4) / 1e4)))
    assert(out(2L) == ((2L, math.rint(((0.0 + 0.5 + 1.0 / 6.0) / 2.0) * 1e4) / 1e4)))
    assert(out(3L) == ((2L, math.rint(((0.0 + 1.0 / 6.0 + 1.0 / 6.0) / 2.0) * 1e4) / 1e4)))
    assert(out(4L) == ((0L, 0.0)))
    assert(out(1L)._2 > out(2L)._2 && out(2L)._2 > out(3L)._2)
  }

  test("token budget: inclusive boundary kept, overflow dropped, partition invariant, null tokens = 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, 3.0, java.lang.Long.valueOf(4L)), // rank 0: cum 4
      (2L, 2.0, java.lang.Long.valueOf(6L)), // rank 1: cum 10 == budget -> kept
      (3L, 2.0, null.asInstanceOf[java.lang.Long]), // rank 2 (tie->id): null = 0, cum 10 -> kept
      (4L, 1.0, java.lang.Long.valueOf(1L))  // rank 3: cum 11 -> dropped
    ).toDF("doc_id", "quality_score", "n_tokens")
    def sel(p: Int) = graft.ops.Selection
      .selectByTokenBudget(docs, budget = 10L, numPartitions = p)
      .select($"doc_id", $"cum_tokens").as[(Long, Long)].collect().toSet
    val want = Set((1L, 4L), (2L, 10L), (3L, 10L))
    assert(sel(1) == want)
    assert(sel(5) == want)
    // budget 0 keeps only zero-weight prefixes, never crashes
    assert(graft.ops.Selection.selectByTokenBudget(docs, 0L).count() == 0L)
  }

  test("capPerGroup: top-k per host with (score desc, id asc) winners, sub-shard invariant") {
    import spark.implicits._
    // mega host with 100 docs (scores 0..99, ties at 50), small host with 2
    val docs = ((1L to 100L).map(i => (s"mega", i, if (i <= 50) 50L else i)) ++
      Seq(("tiny", 200L, 7L), ("tiny", 201L, 9L))).toDF("host", "doc_id", "q")
    def cap(sh: Int) = graft.ops.Selection
      .capPerGroup(docs, "host", 3, "q", "doc_id", subShards = sh)
      .as[(String, Long, Long, Long)].collect().toSet
    val want = Set(
      ("mega", 100L, 100L, 1L), ("mega", 99L, 99L, 2L), ("mega", 98L, 98L, 3L),
      ("tiny", 201L, 9L, 1L), ("tiny", 200L, 7L, 2L)) // tiny keeps all, ranked
    assert(cap(16) == want)
    assert(cap(1) == want)  // single sub-shard = the naive fold, same rows
    assert(cap(64) == want) // more shards than rows, same rows
    // tie-break: equal scores resolve to the SMALLEST id
    val tied = Seq(("h", 5L, 1L), ("h", 3L, 1L), ("h", 4L, 1L)).toDF("host", "doc_id", "q")
    assert(graft.ops.Selection.capPerGroup(tied, "host", 2, "q", "doc_id")
      .as[(String, Long, Long, Long)].collect().toSet ==
      Set(("h", 3L, 1L, 1L), ("h", 4L, 1L, 2L)))
  }

  test("quantileGate: floor(n*num/den) kept per group, score-desc/id-asc ranks, partition invariant") {
    import spark.implicits._
    // groups: a = 5 docs (keep floor(5/2)=2), b = 3 (keep floor(3/2)=1),
    // c = 1 (keep floor(1/2)=0 — a singleton group keeps NOTHING at 1/2)
    val docs = Seq(
      ("a", 1L, 4.0), ("a", 2L, 9.0), ("a", 3L, 9.0), ("a", 4L, 1.0), ("a", 5L, 7.0),
      ("b", 6L, 2.0), ("b", 7L, 3.0), ("b", 8L, 2.0),
      ("c", 9L, 5.0)).toDF("source", "doc_id", "quality_score")
    def gate(p: Int) = graft.ops.Selection
      .quantileGate(docs, "source", 1L, 2L, numPartitions = p)
      .select($"doc_id", $"rank_in_group", $"n_group", $"kept")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val want = Set(
      (2L, 0L, 5L, true), (3L, 1L, 5L, true), // tie at 9.0 -> id asc
      (5L, 2L, 5L, false), (1L, 3L, 5L, false), (4L, 4L, 5L, false),
      (7L, 0L, 3L, true), (6L, 1L, 3L, false), (8L, 2L, 3L, false),
      (9L, 0L, 1L, false))
    assert(gate(1) == want)
    assert(gate(7) == want)
    // num = den keeps everything; num = 0 keeps nothing
    assert(graft.ops.Selection.quantileGate(docs, "source", 1L, 1L)
      .filter(!$"kept").count() == 0L)
    assert(graft.ops.Selection.quantileGate(docs, "source", 0L, 1L)
      .filter($"kept").count() == 0L)
  }

  test("cooccur: hand-counted directional window pairs, pre-threshold marginals, exact ratio") {
    import spark.implicits._
    // "a b a c", window 2 -> pairs: a->b, a->a, b->a, b->c, a->c (1 each)
    val d1 = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val out = graft.ops.Cooccur.pairCounts(d1, window = 2)
      .as[(String, String, Long, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(out.size == 5)
    // D = 5; n_left(a) = 3, n_right(a) = 2 -> pmi(a,a) = 5/6
    assert(out(("a", "a")) == ((1L, 3L, 2L, 0.8333)), out)
    assert(out(("a", "b")) == ((1L, 3L, 1L, 1.6667)), out)
    // pairs never cross documents
    val d2 = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val cross = graft.ops.Cooccur.pairCounts(d2, window = 4)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(cross.map(r => (r._1, r._2)).toSet == Set(("a", "b"), ("c", "d")))
    // minCount prunes REPORTED rows but marginals stay pre-threshold:
    // 5x "a b" + 1x "a c" -> only (a,b) survives, with n_left(a) = 6
    val d3 = ((1L to 5L).map(i => (i, "a b")) :+ (6L, "a c")).toDF("doc_id", "text")
    val thr = graft.ops.Cooccur.pairCounts(d3, window = 1, minCount = 2L)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(thr.toSeq == Seq(("a", "b", 5L, 6L, 5L, 1.0)), thr.toSeq)
  }

  test("revisit delta: exact chunk-set Jaccard, re-sync keeps unchanged chunks, class thresholds") {
    import spark.implicits._
    // mask = 0: EVERY token is an anchor, so chunks are single tokens and
    // the chunk-hash set is exactly the distinct-token set — hand-countable
    val oldD = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x y"), (4L, "")).toDF("doc_id", "text")
    val newD = Seq((1L, "a b c d"),  // unchanged -> static
      (2L, "a b z"),                 // union {a,b,z}=3, common 2 -> 1/3 low
      (3L, "p q r"),                 // disjoint -> change 1.0 high
      (4L, "")).toDF("doc_id", "text") // empty both sides -> static
    val out = graft.ops.Revisit.delta(oldD, newD, mask = 0)
      .select($"doc_id", $"n_old", $"n_new", $"n_common", $"n_union",
        $"change_frac", $"revisit")
      .as[(Long, Long, Long, Long, Long, Double, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 4L, 4L, 4L, 0.0, "static")), out(1L))
    assert(out(2L) == ((2L, 2L, 3L, 2L, 3L, 0.3333, "low")), out(2L))
    assert(out(3L) == ((3L, 2L, 3L, 0L, 5L, 1.0, "high")), out(3L))
    assert(out(4L) == ((4L, 0L, 0L, 0L, 0L, 0.0, "static")), out(4L))
    // exactly-half change is 'low' (the <= boundary): old {a,b}, new {a,c}
    // union 3, common 1 -> 2/3 high; old {a b c d}, new {a b e f}:
    // union 6, common 2 -> 4/6 high; use {a,b,c} -> {a,b,d}: 2/4 = 1/2 low
    val ob = Seq((9L, "a b c")).toDF("doc_id", "text")
    val nb = Seq((9L, "a b d")).toDF("doc_id", "text")
    val b = graft.ops.Revisit.delta(ob, nb, mask = 0)
      .select($"change_frac", $"revisit").as[(Double, String)].head()
    assert(b == ((0.5, "low")), b)
    // a doc present on only ONE side still reports (against the empty set)
    val onlyOld = graft.ops.Revisit.delta(
      Seq((5L, "a b")).toDF("doc_id", "text"),
      Seq.empty[(Long, String)].toDF("doc_id", "text"), mask = 0)
      .select($"doc_id", $"n_new", $"change_frac", $"revisit")
      .as[(Long, Long, Double, String)].head()
    assert(onlyOld == ((5L, 0L, 1.0, "high")), onlyOld)
  }

  /** Deterministic jittered cluster corpus for the k-means tests: 3
    * well-separated directions in 4-d, 4 members each, ids interleaved
    * across clusters so vec_id order ≠ cluster order. */
  private def kmeansCorpus: Seq[(Long, Array[Float])] =
    (0L until 12L).map { id =>
      val g = (id % 3).toInt // cluster = id mod 3 → seeds 0,1,2 hit all three
      val base = Array.fill(4)(0.05f)
      base(g) = 1.0f
      // within-cluster jitter big enough that member pairs stay clearly
      // below rounded-cosine 1.0 (0.1 steps → pair cos ≈ 0.995)
      base((g + 1) % 4) += (id.toInt / 3) * 0.1f
      (id, base)
    }

  /** Sequential reference of Similarity.kmeansCentroids' exact spec:
    * first-k seeds, argmax-cosine assignment with lower-cell ties, and
    * the two-level (id % B ascending, id ascending) ordered centroid
    * fold — every double op in the engine's order. */
  private def refKmeans(vs: Seq[(Long, Array[Float])], k: Int, iters: Int,
      b: Int): (Array[Array[Double]], Map[Long, Int]) = {
    def cos(a: Array[Double], cArr: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * cArr(i); na += a(i) * a(i); nb += cArr(i) * cArr(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vs.sortBy(_._1)
    var cents = byId.take(k).map(_._2.map(_.toDouble)).toArray
    def assign(): Map[Long, Int] = byId.map { case (id, v) =>
      val dv = v.map(_.toDouble)
      var best = 0; var bs = cos(dv, cents(0)); var c = 1
      while (c < k) { val s = cos(dv, cents(c)); if (s > bs) { bs = s; best = c }; c += 1 }
      id -> best
    }.toMap
    var asg = assign()
    for (_ <- 1 to iters) {
      cents = Array.tabulate(k) { c =>
        val members = byId.filter(p => asg(p._1) == c)
        if (members.isEmpty) cents(c)
        else Array.tabulate(cents(0).length) { d =>
          var outer = 0.0
          members.map(_._1 % b).distinct.sorted.foreach { bk =>
            var inner = 0.0
            members.filter(_._1 % b == bk).sortBy(_._1)
              .foreach(p => inner += p._2(d).toDouble)
            outer += inner
          }
          outer / members.size.toDouble
        }
      }
      asg = assign()
    }
    (cents, asg)
  }

  test("kmeans: cells + cosines bit-match the sequential two-level-fold reference; partition invariant") {
    import spark.implicits._
    val corpus = kmeansCorpus
    val df = corpus.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val (refCents, refAsg) = refKmeans(corpus, k = 3, iters = 2, b = 16)
    def run(parts: Int) = Similarity
      .kmeansAssign(df.repartition(parts), k = 3, iters = 2, dim = 4)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val got = run(1)
    assert(run(7).toSeq == got.toSeq, "partition count changed the result")
    // assignment equals the reference's, and every cluster got members
    assert(got.map(r => r._1 -> r._2.toInt).toMap == refAsg)
    assert(got.map(_._2).distinct.length == 3)
    // rounded cosine to the own centroid matches the reference bit-for-bit
    got.foreach { case (id, cell, c) =>
      val dv = corpus.find(_._1 == id).get._2.map(_.toDouble)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val w = refCents(cell.toInt)
      while (i < 4) { dot += dv(i) * w(i); na += dv(i) * dv(i); nb += w(i) * w(i); i += 1 }
      val want = BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(c == want, s"vec $id: engine cos $c != reference $want")
    }
  }

  test("split leakage scrub: leaky train docs dropped, test untouched, clean train kept") {
    import spark.implicits._
    // long distinct texts; docs 1/2 are near-dups of each other, 3/4 clean
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " tail"),
      (3L, (1 to 60).map(i => s"x$i").mkString(" ")),
      (4L, (1 to 60).map(i => s"y$i").mkString(" "))).toDF("doc_id", "text")
    // drive the split so docs 1(train) and 2(test) make a leaky pair:
    // scan trainWeight candidates until the hash split lands that way
    val w = Seq(0.3, 0.5, 0.7, 0.9).find { tw =>
      val sp = graft.ops.Splits.hashSplit(docs, "doc_id", Seq(tw, 1.0 - tw),
        Seq("train", "test")).select($"doc_id", $"split")
        .as[(Long, String)].collect().toMap
      sp(1L) == "train" && sp(2L) == "test"
    }
    assume(w.isDefined, "no weight puts 1/2 across the split — adjust fixture")
    val out = graft.ops.Dedup.splitLeakageScrub(docs, threshold = 0.5,
        trainWeight = w.get)
      .as[(Long, String, Boolean)].collect().sortBy(_._1)
    val m = out.map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(1L) == (("train", false)), s"leaky train doc must drop: $m")
    assert(m(2L)._1 == "test" && m(2L)._2, "test side untouched")
    assert(m(3L)._2 && m(4L)._2, "clean docs kept regardless of split")
  }

  test("temperature sample: smallest source kept fully, sqrt-scaled keeps, partition invariant, null source dropped") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i =>
      (i, if (i % 10 < 6) "big" else if (i % 10 < 9) "mid" else "small"))
      .toDF("doc_id", "source")
    def run(parts: Int) = graft.ops.Splits
      .temperatureSample(docs.repartition(parts))
      .select($"doc_id").as[Long].collect().toSet
    val got = run(1)
    assert(run(7) == got, "partition count changed the sample")
    val kept = docs.filter($"doc_id".isin(got.toSeq: _*))
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    assert(kept("small") == 100L) // n_min source: rate exactly 1.0
    // expected keeps: 600/√6 ≈ 245, 300/√3 ≈ 173 — allow hash noise
    assert(math.abs(kept("big") - 600 / math.sqrt(6)) < 60, kept("big"))
    assert(math.abs(kept("mid") - 300 / math.sqrt(3)) < 50, kept("mid"))
    // a null source never survives — AND never enters the rate
    // derivation (a null group of size 1 would otherwise become n_min
    // and collapse every rate ~10x — review finding)
    val withNull = docs.unionByName(
      Seq((5000L, null.asInstanceOf[String])).toDF("doc_id", "source"))
    val nullRun = graft.ops.Splits.temperatureSample(withNull)
      .select($"doc_id").as[Long].collect().toSet
    assert(!nullRun.contains(5000L))
    assert(nullRun == got, "a null row must not perturb the derived rates")
  }

  test("anchor texts: entities, inner markup, auto-close, unclosed dropped, relative/empty filtered") {
    import spark.implicits._
    val html =
      """<html><body><a href="http://t1.com/a">go &amp; see <b>bold</b> end</a>
        |<a href="http://t2.com/x">first <a href="http://t3.com/y">second</a>
        |<a href="/rel">relative</a><a href="http://t4.com/e"></a>
        |<a href="http://t5.com/u">unclosed trailing</body></html>""".stripMargin
    val pages = Seq(("http://src.com/p", html.getBytes("UTF-8"))).toDF("url", "html")
    val got = graft.ops.Graph.anchorTexts(pages)
      .as[(String, String, String)].collect().sortBy(_._2)
    assert(got.toSeq == Seq(
      ("src.com", "t1.com", "go & see bold end"), // entity decoded, <b> transparent
      ("src.com", "t2.com", "first"),             // auto-closed by the nested <a>
      ("src.com", "t3.com", "second")))           // relative/empty/unclosed dropped
    // summary argmax: count desc, anchor asc ties
    val anchors = Seq(("s", "d", "x"), ("s", "d", "x"), ("s", "d", "a"),
      ("s", "d2", "b"), ("s", "d2", "a")).toDF("src_host", "dst_host", "anchor")
    val sum = graft.ops.Graph.anchorSummary(anchors)
      .as[(String, Long, Long, String)].collect().sortBy(_._1)
    assert(sum.toSeq == Seq(("d", 3L, 2L, "x"), ("d2", 2L, 2L, "a")))
  }

  test("robots parser: group scoping, stacking, resets, comments, case, empty patterns, hostile input") {
    import graft.ops.Robots.parseBody
    // only the *-group's rules; stacked agents include the star
    assert(parseBody("User-agent: GoodBot\nUser-agent: *\nDisallow: /a\nAllow: /a/b") ==
      Seq((false, "/a"), (true, "/a/b")))
    // a user-agent line AFTER rules starts a NEW group → /c is not ours
    assert(parseBody("User-agent: *\nDisallow: /a\nUser-agent: other\nDisallow: /c") ==
      Seq((false, "/a")))
    // comments, CRLF/CR mixing, case-insensitive keys, padded values
    assert(parseBody("# hi\r\nUSER-AGENT: *  # star\r\nDISALLOW:   /x  \rAllow: /x/y") ==
      Seq((false, "/x"), (true, "/x/y")))
    // empty pattern matches nothing → dropped; unknown directives inert
    assert(parseBody("User-agent: *\nCrawl-delay: 5\nDisallow:\nDisallow: /p") ==
      Seq((false, "/p")))
    // hostile: no colon, colon-first, binary noise — no rules, no throw
    assert(parseBody("garbage\n:weird\nUser-agent *\n ").isEmpty)
    // no star group at all
    assert(parseBody("User-agent: a\nDisallow: /only-a").isEmpty)
  }

  test("robots gate: longest match wins, allow beats disallow on ties, ruleless host allowed") {
    import spark.implicits._
    val pages = Seq(
      (1L, "https://a.com/private/ok/deep"), (2L, "https://a.com/private/x"),
      (3L, "https://a.com/pub"), (4L, "https://b.com/anything"),
      (5L, "https://a.com")).toDF("doc_id", "url")
    val rules = Seq(("a.com", false, "/private"), ("a.com", true, "/private/ok"))
      .toDF("host", "is_allow", "prefix")
    val out = graft.ops.Robots.robotsGate(pages, rules)
      .as[(Long, String, Boolean)].collect().sortBy(_._1).map(r => r._1 -> r._3)
    assert(out.toSeq == Seq(1L -> true, 2L -> false, 3L -> true,
      4L -> true, 5L -> true)) // bare host → path '/', no rule matches
    // exact tie between allow and disallow at the same length → allow
    val tied = Seq(("t.com", false, "/p"), ("t.com", true, "/p"))
      .toDF("host", "is_allow", "prefix")
    val t = graft.ops.Robots.robotsGate(
      Seq((9L, "https://t.com/p/z")).toDF("doc_id", "url"), tied)
      .as[(Long, String, Boolean)].collect()
    assert(t.head._3)
  }

  test("z-order layout: file stats prune range reads on BOTH dims; single-key sort cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{input_file_name, min, max, expr}
    // 64×64 grid — a host-bucket × ts-bucket crawl table in miniature
    val df = spark.range(4096).select(($"id" % 64).as("x"),
      expr("(id div 64) % 64").as("y"))
    def fileStats(dir: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min($"x").as("x0"), max($"x").as("x1"),
          min($"y").as("y0"), max($"y").as("y1"))
        .select($"x0", $"x1", $"y0", $"y1")
        .as[(Long, Long, Long, Long)].collect()
    val base = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    graft.ops.Layout.zCluster(df, $"x", $"y", bits = 6, numPartitions = 16)
      .write.parquet(s"$base/z")
    val zs = fileStats(s"$base/z")
    assert(zs.length >= 8, s"expected >= 8 data files, got ${zs.length}")
    // a point slice on EITHER dimension overlaps at most half the files
    val zx = zs.count(f => f._1 <= 17 && 17 <= f._2)
    val zy = zs.count(f => f._3 <= 17 && 17 <= f._4)
    assert(zx <= zs.length / 2, s"x=17 overlaps $zx/${zs.length} z-files")
    assert(zy <= zs.length / 2, s"y=17 overlaps $zy/${zs.length} z-files")
    // the single-key sort: perfect on x, USELESS on y (every file spans all y)
    df.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.parquet(s"$base/xsort")
    val xs = fileStats(s"$base/xsort")
    val xx = xs.count(f => f._1 <= 17 && 17 <= f._2)
    val xy = xs.count(f => f._3 <= 17 && 17 <= f._4)
    assert(xx <= 2, s"x=17 overlaps $xx x-sorted files")
    assert(xy == xs.length, "x-sorted files should all span the full y range")
  }

  test("cdc chunks: anchors close chunks, insertion re-syncs at the next anchor (the CDC property)") {
    import spark.implicits._
    import graft.ops.Dedup.{fnv1a, mix64}
    val toks = (1 to 60).map(i => s"t$i")
    def anchor(t: String) = java.lang.Math.floorMod(mix64(fnv1a(t)), 4L) == 0L
    assume(toks.exists(anchor) && toks.count(anchor) >= 4, "fixture needs anchors")
    def chunksOf(words: Seq[String]) = graft.ops.Packing
      .cdcChunks(Seq((1L, words.mkString(" "))).toDF("doc_id", "text"), mask = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
      .map(r => (r._3, r._4)).toSeq
    val base = chunksOf(toks)
    // sequential reference: chunk lengths from the anchor flags
    val refLens = toks.foldLeft(Vector(0L)) { (acc, t) =>
      val upd = acc.updated(acc.length - 1, acc.last + 1)
      if (anchor(t)) upd :+ 0L else upd
    }.filter(_ > 0L)
    assert(base.map(_._2) == refLens)
    assert(base.map(_._1) == refLens.scanLeft(0L)(_ + _).init) // starts = prefix sums
    // CDC property: one token inserted at the front shifts starts by 1
    // but every chunk AFTER the first anchor keeps its length sequence
    val shifted = chunksOf("INSERTED" +: toks)
    assume(!anchor("INSERTED"))
    assert(shifted.map(_._2).tail == base.map(_._2).tail,
      "chunks after the first boundary must re-sync")
    // empty / null text → no chunks
    assert(graft.ops.Packing.cdcChunks(
      Seq((2L, ""), (3L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      mask = 3).count() == 0L)
  }

  test("context windows: hand-computed split pieces, coverage exact, partition invariant") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, ""), (4L, "f g h i"))
      .toDF("doc_id", "text")
    def run(parts: Int) = graft.ops.Packing
      .contextWindows(docs.repartition(parts), winLen = 4)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val got = run(1)
    assert(run(5).toSeq == got.toSeq, "partition count changed the windows")
    // concat = a b c | d e | f g h i (9 tokens) → windows [0,4) [4,8) [8,9)
    assert(got.toSeq == Seq(
      (0L, 1L, 0L, 0L, 3L), // doc1 fully in win0 at slot 0
      (0L, 2L, 0L, 3L, 1L), // doc2 token 'd' closes win0
      (1L, 2L, 1L, 0L, 1L), // 'e' opens win1
      (1L, 4L, 0L, 1L, 3L), // doc4 head fills win1
      (2L, 4L, 3L, 0L, 1L))) // doc4 tail is the short final window
    // every doc's pieces cover its tokens exactly once
    val perDoc = got.groupBy(_._2).map { case (d, rs) => d -> rs.map(_._5).sum }
    assert(perDoc == Map(1L -> 3L, 2L -> 2L, 4L -> 4L))
  }

  test("linear classifier: hand-computed mean-weight scores, misses weightless, empty doc = bias") {
    import spark.implicits._
    val docs = Seq((1L, "good good bad"), (2L, "meh"), (3L, ""))
      .toDF("doc_id", "text")
    val model = Seq(("good", 0.5), ("bad", -0.25)).toDF("tok", "w")
    val out = graft.ops.Classifier.linearScore(docs, model, bias = -0.1)
      .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
    // doc 1: (0.5 + 0.5 - 0.25)/3 - 0.1 = 0.15; doc 2: 0/1 - 0.1; doc 3: no tokens
    assert(out.toSeq == Seq(
      (1L, 3L, 3L, 0.15, true),
      (2L, 1L, 0L, -0.1, false),
      (3L, 0L, 0L, -0.1, false)))
  }

  test("cluster-granular split: near-dup cluster members never straddle splits") {
    import spark.implicits._
    // 3 clusters of near-dups (shared long text + tiny suffix) + isolated docs
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = (0L until 30L).map { i =>
      val text = if (i < 12) base + s"v${i % 4}"   // 12 docs over shared text
      else s"unique doc $i with its own words ${i * 7} ${i * 13}"
      (i, text)
    }.toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.minhashLsh(docs, threshold = 0.5)
    val clusters = graft.ops.Dedup.dedupClusters(docs, pairs)
    val split = graft.ops.Splits.hashSplit(clusters, idCol = "cluster_id", salt = "csplit")
      .select($"doc_id", $"cluster_id", $"split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(split.length == 30)
    // the leakage property: one split per cluster label
    val perCluster = split.groupBy(_._2).map { case (c, rs) => c -> rs.map(_._3).toSet }
    assert(perCluster.values.forall(_.size == 1), perCluster.toString)
    // the shared-text docs really did cluster together (non-trivial case)
    val bigCluster = split.filter(_._1 < 12).map(_._2).toSet
    assert(bigCluster.size == 1, s"expected one cluster for the near-dups: $bigCluster")
  }

  test("semDedup: one survivor per near-dup group, distant members kept") {
    import spark.implicits._
    // 3 clusters of 4; add a near-identical echo of ids 0 and 1
    val echoes = Seq(
      (100L, kmeansCorpus.find(_._1 == 0L).get._2.map(x => x + 0.001f)),
      (101L, kmeansCorpus.find(_._1 == 1L).get._2.map(x => x + 0.001f)))
    val df = (kmeansCorpus ++ echoes).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val out = Similarity.semDedup(df, eps = 0.9999, k = 3, iters = 2, dim = 4)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.length == 14)
    val kept = out.filter(_._3).map(_._1).toSet
    // exactly one of each echo pair survives …
    assert(kept.contains(0L) != kept.contains(100L))
    assert(kept.contains(1L) != kept.contains(101L))
    // … and nothing else was dropped at this near-exact threshold
    assert(out.count(!_._3) == 2)
    // echoes share their source's cell
    val cellOf = out.map(r => r._1 -> r._2).toMap
    assert(cellOf(100L) == cellOf(0L) && cellOf(101L) == cellOf(1L))
  }
  test("withStaticLoopPlan: restores confs, sizes partitions parallelism-first, unknown size is a no-op") {
    import graft.ops.CheckpointScratch
    val conf = spark.sessionState.conf
    val aqe0 = conf.getConf(org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED)
    val sp0 = conf.getConf(org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS)
    // KB-scale frame: collapses to 1 shuffle partition, AQE off inside
    CheckpointScratch.withStaticLoopPlan(spark, 50L * 1024L) {
      assert(!conf.getConf(org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED))
      assert(conf.getConf(org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS) == 1)
      // the static count actually drives a shuffle planned in scope
      val n = spark.range(100).groupBy((col("id") % 7).as("k")).count()
        .rdd.getNumPartitions
      assert(n == 1)
    }
    // MB-scale frame: parallelism-first spread (>= 2 partitions at 3 MB
    // with the 1 MB default min size), capped at the session setting
    CheckpointScratch.withStaticLoopPlan(spark, 3L * 1024L * 1024L) {
      val p = conf.getConf(org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS)
      assert(p >= 2 && p <= sp0)
    }
    // confs restored on the normal path
    assert(conf.getConf(org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED) == aqe0)
    assert(conf.getConf(org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS) == sp0)
    // ... and on the exception path
    intercept[RuntimeException] {
      CheckpointScratch.withStaticLoopPlan(spark, 1024L) { throw new RuntimeException("boom") }
    }
    assert(conf.getConf(org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED) == aqe0)
    assert(conf.getConf(org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS) == sp0)
    // unknown size: scope is a pass-through, confs untouched inside
    CheckpointScratch.withStaticLoopPlan(spark, -1L) {
      assert(conf.getConf(org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED) == aqe0)
      assert(conf.getConf(org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS) == sp0)
    }
  }
}
