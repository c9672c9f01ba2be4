package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Large-scale deduplication operators over a `documents(doc_id, text)`
  * table — the training-data-pipeline layer (builder brief; no reference
  * analogue: Project Lantern is single-corpus).
  *
  * Scale shape: every variant is candidate-generation (narrow or one
  * shuffle on a short key) → bounded verify (equi-join on bucket keys,
  * never a cross join). MinHash/LSH follows Broder (1997) / Leskovec-
  * Rajaraman-Ullman ch.3; SimHash follows Charikar (2002).
  */
object Dedup {

  private val log = org.apache.logging.log4j.LogManager.getLogger(getClass)

  /** Deterministic 64-bit string hash (FNV-1a) as a Catalyst-free constant
    * across JVMs — used where we must agree with ourselves, not with any
    * external system. */
  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — decorrelates per-permutation hashes. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Exact dedup: identical text collapses to the smallest id.
    * One shuffle on the text hash; at 100 TB hash first (64-bit + length)
    * so the shuffle carries 16 bytes/row, not the text. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("text_hash"), length(col(textCol)).as("text_len"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word k-shingles of a text, distinct, hashed to Long. */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val words = text.split("\\s+").filter(_.nonEmpty)
    if (words.length < k) {
      if (words.isEmpty) Array.empty else Array(fnv1a(words.mkString(" ")))
    } else {
      val out = new java.util.HashSet[Long]()
      var i = 0
      while (i + k <= words.length) {
        val sb = new java.lang.StringBuilder(32)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(words(i + j)); j += 1 }
        out.add(fnv1a(sb.toString))
        i += 1
      }
      val arr = new Array[Long](out.size)
      val it = out.iterator; var j = 0
      while (it.hasNext) { arr(j) = it.next(); j += 1 }
      arr
    }
  }

  /** POSITIONAL k-token shingle hashes — every occurrence, in order (no
    * dedup): the unit of exact-substring duplicate detection. Docs with
    * fewer than k tokens contribute no spans. */
  def positionalShingleHashes(text: String, k: Int): Array[Long] = {
    val words = (if (text == null) "" else text).split("\\s+").filter(_.nonEmpty)
    if (words.length < k) return Array.empty
    val out = new Array[Long](words.length - k + 1)
    var i = 0
    while (i + k <= words.length) {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(words(i + j)); j += 1 }
      out(i) = fnv1a(sb.toString)
      i += 1
    }
    out
  }

  /** Exact-substring duplication profile (the ExactSubstr dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022): for every doc, how many of its k-token spans
    * occur MORE THAN ONCE anywhere in the corpus (including within the
    * same doc — boilerplate repeats count). Downstream policy (drop doc,
    * cut span, weight) filters on `dup_span_frac`.
    *
    * Shape at 100 TB: one positional-shingle explode whose shuffle
    * carries (doc_id, 8-byte hash) pairs; corpus-wide occurrence counts
    * partial-aggregate map-side; the duplicated-hash set joins back on
    * the hash key (NOT broadcast — crawl-scale boilerplate makes it
    * unbounded). Output: (idCol, n_spans, n_dup_spans, dup_span_frac). */
  def duplicatedSpans(docs: DataFrame, k: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs.select(col(idCol).cast("long").as("sid"), col(textCol).as("t"))
      .as[(Long, String)]
      .flatMap { case (i, t) => positionalShingleHashes(t, k).map(h => (i, h)) }
      .toDF("sid", "sh")
      // consumed twice (corpus counts + per-doc join): without the eager
      // checkpoint both consumers re-tokenize the full corpus
      .transform(CheckpointScratch.ckpt)
    val dupSet = sh.groupBy(col("sh")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("sh"), lit(1).as("dup"))
    val counts = sh.join(dupSet, Seq("sh"), "left")
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select(col(idCol).cast("long").as("sid")).distinct()
      .join(counts, Seq("sid"), "left")
      .select(col("sid").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        round(coalesce(col("n_dup_spans"), lit(0L)).cast("double")
          / greatest(coalesce(col("n_spans"), lit(0L)), lit(1L)).cast("double"), 4)
          .as("dup_span_frac"))
  }

  /** The row-level ExactSubstr cut fold (shared by the distributed op and
    * its tests): tokens covered by any duplicated k-span at the given
    * 0-based start positions are dropped when their MAXIMAL covered run is
    * at least `minRun` tokens long; shorter covered runs are kept (the
    * Lee et al. policy removes long duplicated substrings, not every
    * incidental k-gram echo). Returns (clean_text, n_tokens, n_cut). */
  def cutByDupStarts(text: String, starts: Seq[Int], k: Int,
      minRun: Int): (String, Long, Long) = {
    val words = (if (text == null) "" else text).split("\\s+").filter(_.nonEmpty)
    val n = words.length
    if (n == 0) return ("", 0L, 0L)
    val covered = new Array[Boolean](n)
    starts.foreach { s =>
      var j = s
      val e = math.min(s + k, n)
      while (j < e) { covered(j) = true; j += 1 }
    }
    val cut = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (covered(i)) {
        var e = i
        while (e < n && covered(e)) e += 1
        if (e - i >= minRun) { var j = i; while (j < e) { cut(j) = true; j += 1 } }
        i = e
      } else i += 1
    }
    val sb = new java.lang.StringBuilder(text.length)
    var nCut = 0L
    var j = 0
    while (j < n) {
      if (cut(j)) nCut += 1
      else { if (sb.length > 0) sb.append(' '); sb.append(words(j)) }
      j += 1
    }
    (sb.toString, n.toLong, nCut)
  }

  /** Exact-substring CUT — the removal half of the ExactSubstr operator
    * (Lee et al., ACL 2022 remove the duplicated substrings themselves,
    * not whole documents): rebuild each doc's text with every maximal
    * ≥ `minRun`-token run of corpus-duplicated k-span coverage removed.
    * [[duplicatedSpans]] is the PROFILE half (per-doc dup fractions);
    * this produces the cleaned corpus. `minRun` is clamped up to k (a
    * duplicated span always covers k consecutive tokens, so no maximal
    * covered run is shorter).
    *
    * Shape at 100 TB: same skeleton as the profile — one positional-
    * shingle explode shuffling (doc_id, pos, 8-byte hash); the
    * duplicated-hash set joins back on the hash key (never broadcast);
    * the only per-doc state is the sorted duplicated-START list (bounded
    * by the doc's own token count), folded by one scalar pass per row.
    * Output: (idCol, clean_text, n_tokens, n_cut). */
  def cutDuplicatedSpans(docs: DataFrame, k: Int = 20, minRun: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val runMin = math.max(minRun, k)
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs.select(col(idCol).cast("long").as("sid"), col(textCol).as("t"))
      .as[(Long, String)]
      .flatMap { case (i, t) =>
        positionalShingleHashes(t, k).iterator.zipWithIndex
          .map { case (h, p) => (i, p, h) } }
      .toDF("sid", "pos", "sh")
      // consumed twice (corpus counts + dup-start join)
      .transform(CheckpointScratch.ckpt)
    val dupSet = sh.groupBy(col("sh")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("sh"))
    val dupStarts = sh.join(dupSet, Seq("sh"))
      .groupBy(col("sid")).agg(sort_array(collect_list(col("pos"))).as("starts"))
    val cutUdf = udf((t: String, starts: Seq[Int]) =>
      cutByDupStarts(t, if (starts == null) Seq.empty else starts, k, runMin))
    docs.select(col(idCol).cast("long").as("sid"), col(textCol).as("t"))
      .join(dupStarts, Seq("sid"), "left")
      .withColumn("cutres", cutUdf(col("t"), col("starts")))
      .select(col("sid").as(idCol), col("cutres._1").as("clean_text"),
        col("cutres._2").as("n_tokens"), col("cutres._3").as("n_cut"))
  }

  /** The row-level line-cut rebuild (shared by the distributed op and its
    * tests): drop the 0-based line positions in `cuts`, rejoin the rest.
    * split limit −1 matches Spark SQL's split (trailing empty lines are
    * LINES, not noise — Java's default limit 0 silently drops them).
    * Returns (clean_text, n_lines, n_cut_lines). */
  def rebuildWithoutLines(text: String, cuts: Seq[Int]): (String, Long, Long) = {
    val ls = (if (text == null) "" else text).split("\n", -1)
    val cutSet = cuts.toSet
    val sb = new java.lang.StringBuilder(if (text == null) 16 else text.length)
    var kept = 0
    var i = 0
    while (i < ls.length) {
      if (!cutSet.contains(i)) {
        if (kept > 0) sb.append('\n')
        sb.append(ls(i)); kept += 1
      }
      i += 1
    }
    (sb.toString, ls.length.toLong, (ls.length - kept).toLong)
  }

  /** CCNet-style paragraph (line) deduplication — the third removal
    * granularity real pipelines run alongside whole-doc dedup and span
    * cutting: boilerplate LINES ("All rights reserved", cookie banners,
    * nav text) repeat across millions of pages and are dropped line-wise.
    * The dedup key is the normalized line (trim + lowercase, the CCNet
    * hashing convention); the ORIGINAL line text is what gets cut or
    * kept. Lines whose normalized key is empty (blank/whitespace) are
    * always dropped; other lines are cut when their key occurs at least
    * `minCount` times corpus-wide.
    *
    * Shape at 100 TB (the cutDuplicatedSpans discipline): line TEXT never
    * crosses a shuffle — the explode emits (doc_id, pos, 8-byte key
    * hash), corpus counts partial-aggregate on the hash, the dup-hash set
    * joins back on the hash (never broadcast — boilerplate sets are
    * crawl-sized), and only sorted CUT POSITIONS return to the doc row,
    * where one scalar pass rebuilds the text. The single text-bearing
    * join is the ×1 doc-level rewrite join (output is text-sized by
    * definition — no amplification). xxhash64 of the normalized key
    * stands in for the key itself (collisions ~2⁻⁶⁴).
    * Output: (idCol, clean_text, n_lines, n_cut_lines), one row per
    * input row; `idCol` must be unique (the contract of every doc-keyed
    * op here — [[cutDuplicatedSpans]] likewise pools positions by id). */
  def cutDuplicateLines(docs: DataFrame, minCount: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val hashed = docs.select(col(idCol).cast("long").as("sid"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("pos", "line")))
      .select(col("sid"), col("pos"), lower(trim(col("line"))).as("key"))
      // blank key → null hash: always cut, and excluded from dup counting
      .select(col("sid"), col("pos"),
        when(col("key") === "", lit(null).cast("long"))
          .otherwise(xxhash64(col("key"))).as("kh"))
      // consumed three times (corpus counts, blank-position filter, dup join)
      .transform(CheckpointScratch.ckpt)
    val dupSet = hashed.filter(col("kh").isNotNull)
      .groupBy(col("kh")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("kh"))
    val cutPos = hashed.filter(col("kh").isNull).select(col("sid"), col("pos"))
      .unionByName(hashed.join(dupSet, Seq("kh")).select(col("sid"), col("pos")))
    val cuts = cutPos.groupBy(col("sid"))
      .agg(sort_array(collect_list(col("pos"))).as("cuts"))
    val rebuild = udf((t: String, cuts: Seq[Int]) =>
      rebuildWithoutLines(t, if (cuts == null) Seq.empty else cuts))
    docs.select(col(idCol).cast("long").as("sid"), col(textCol).as("t"))
      .join(cuts, Seq("sid"), "left")
      .withColumn("res", rebuild(col("t"), col("cuts")))
      .select(col("sid").as(idCol), col("res._1").as("clean_text"),
        col("res._2").as("n_lines"), col("res._3").as("n_cut_lines"))
  }

  /** MinHash signature: sig(j) = min over shingles of mix64(h ^ seed_j). */
  def minhashSignature(text: String, numHashes: Int, k: Int): Array[Long] =
    minhashFromHashes(shingleHashes(text, k), numHashes)

  /** MinHash signature from pre-computed shingle hashes (the verify path
    * shares ONE shingling per doc with band-key generation). */
  def minhashFromHashes(hs: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      var j = 0
      while (j < numHashes) {
        val v = mix64(hs(i) ^ (j * 0xA24BAED4963EE407L))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** doc → (band, bandHash) LSH keys from a MinHash signature. */
  def lshBandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val rows = sig.length / bands
    Array.tabulate(bands) { b =>
      var h = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rows) { h = mix64(h ^ sig(b * rows + r)); r += 1 }
      h
    }
  }

  /** The MinHash+LSH parameters every near-dup path defaults to: word
    * k-shingles, hashes per signature, and bands (rows per band =
    * hashes / bands). [[dedupCorpus]] always uses them. */
  val LshShingleK = 3
  val LshNumHashes = 64
  val LshBands = 16

  /** MinHash+LSH near-dup pairs: shingle → minhash → band → bucket join →
    * exact-Jaccard verify. Output: (id_a, id_b, jaccard) with id_a < id_b
    * and jaccard ≥ threshold.
    *
    * Shuffles: one on band keys (16 bytes + id per row × bands), one
    * self-join per bucket (bounded by bucket size), one distinct. The
    * verify ([[verifyPairs]]) joins the per-doc SHINGLE-HASH ARRAYS
    * (computed once, eagerly checkpointed) and intersects 8-byte longs,
    * never raw text: a doc in P candidate pairs crosses the verify
    * shuffle P times as its hash array and is tokenized once. */
  def minhashLsh(docs: DataFrame, threshold: Double, numHashes: Int = LshNumHashes,
      bands: Int = LshBands, shingleK: Int = LshShingleK,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // shingle ONCE per doc; everything downstream (band keys + both verify
    // sides) consumes this checkpointed frame — without it each consumer
    // re-runs the shingling over the full corpus
    lshPairs(CheckpointScratch.ckpt(shingleFrame(docs, shingleK, idCol, textCol)),
      threshold, numHashes, bands)

  /** The band-key → candidate → verify core of [[minhashLsh]] over an
    * (id, shs) shingle frame, shared with [[dedupCorpus]]. `base` is read
    * three times (band keys, both verify sides), so callers pass a
    * checkpoint or a frame cheaply derived from one. */
  private def lshPairs(base: DataFrame, threshold: Double, numHashes: Int,
      bands: Int): DataFrame = {
    val keyed = bandKeyFrame(base, numHashes, bands)
    val cands = keyed.select(col("band_key"), col("id").as("id_a"))
      .join(keyed.select(col("band_key"), col("id").as("id_b")), Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyPairs(cands, base, base, "shs", threshold)
  }

  /** Exact shingle-set Jaccard of two texts — the scalar reference for
    * the distributed verify ([[scorePairs]]). */
  def jaccard(a: String, b: String, k: Int): Double = {
    val sa = shingleHashes(if (a == null) "" else a, k).toSet
    val sb = shingleHashes(if (b == null) "" else b, k).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }

  /** Relational MinHash signatures over a corpus-wide token dictionary:
    * code(tok) = dense_rank over distinct tokens, sig_j = min over a doc's
    * tokens of (a_j·code + b_j) mod p — universal hashing with EXACT
    * integer arithmetic, so an independent SQL engine reproduces the
    * signatures bit-for-bit (the DuckDB oracle does). The global-ordering
    * dictionary window is demo-scale: a production run swaps dense_rank
    * for a 64-bit token hash (minhashSignature above) and loses only
    * oracle-ability, not semantics. */
  val MinhashP = 2147483647L // 2^31 - 1, prime
  val MinhashCoeffs: Seq[(Long, Long)] = Seq(
    (1103L, 12345L), (2053L, 1299709L), (4099L, 15485863L), (8209L, 32452843L),
    (16411L, 49979687L), (32771L, 67867967L), (65537L, 86028121L), (131101L, 104395301L))

  def minhashSignaturesSql(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col(idCol).as("id"),
      explode(array_distinct(split(col(textCol), " "))).as("tok"))
      .filter(length(col("tok")) > 0)
    // Distributed dense_rank over the token dictionary: range-partition the
    // distinct tokens, sort within partitions (range partitioning makes the
    // concatenation of sorted partitions globally sorted), then zipWithIndex
    // assigns contiguous global ordinals with only a small count job — no
    // value flows through a single-partition window. Codes are independent
    // of the partition count, so the signatures stay bit-for-bit equal to
    // the oracle's dense_rank() OVER (ORDER BY tok).
    val dictParts = math.max(spark.sparkContext.defaultParallelism, 1)
    val dict = toks.select(col("tok")).distinct()
      .repartitionByRange(dictParts, col("tok"))
      .sortWithinPartitions(col("tok"))
      .as[String].rdd.zipWithIndex()
      .map { case (t, i) => (t, i + 1L) }
      .toDF("tok", "code")
      // eager localCheckpoint, not persist(): same materialization for the
      // count probe below, but the backing RDD is reclaimed by the
      // ContextCleaner once unreferenced — CacheManager entries from
      // persist() leak across repeated invocations in one session
      .transform(CheckpointScratch.ckpt)
    // RDD-derived frames carry no stats, so AQE cannot see that a small
    // dictionary fits in a broadcast — probe the (already materialized)
    // SIZE and hint explicitly; large dictionaries take the shuffle join.
    // The gate is estimated bytes, not rows: 1M rows of long tokens can be
    // 100MB+ of driver memory, so count alone under-guards.
    val dictStats = dict.agg(count(lit(1)), coalesce(sum(length(col("tok"))), lit(0L))).head()
    val dictBytes = dictStats.getLong(1) + dictStats.getLong(0) * 28L // str+code+row overhead
    val dictSide = if (dictBytes <= 64L * 1024 * 1024) broadcast(dict) else dict
    val joined = toks.join(dictSide, "tok")
    val aggs = MinhashCoeffs.zipWithIndex.map { case ((a, b), j) =>
      min(pmod(col("code") * a + b, lit(MinhashP))).as(s"h$j")
    }
    joined.groupBy(col("id").as("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** 64-bit SimHash (Charikar 2002) over word tokens. */
  def simhash(text: String): Long = {
    val votes = new Array[Int](64)
    val words = (if (text == null) "" else text).split("\\s+")
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) {
        val h = fnv1a(words(i))
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** SimHash near-dup pairs within Hamming distance maxHamming, using the
    * 4×16-bit chunk pigeonhole: pairs within distance ≤ 3 share at least
    * one exact 16-bit chunk → equi-join on (chunk_idx, chunk_value). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole covers hamming <= 3")
    graft.functions.functions.register(docs.sparkSession)
    val sigs = docs.select(col(idCol).as("id"),
      graft.functions.functions.graft_simhash64(col(textCol)).as("sig"))
    val chunked = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("ci"), shiftright(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("ch"))
      .select(col("id"), col("sig"), col("ch.ci"), col("ch.cv"))
    val a = chunked.select(col("ci"), col("cv"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("ci"), col("cv"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("ci", "cv"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Resolve near-duplicate PAIRS into clusters — the step between pair
    * detection and "keep one document per near-dup group": every doc gets
    * the smallest doc id reachable through the pair graph (connected
    * components), so dedup = keep rows where cluster_id == id. Isolated
    * docs (at corpus scale, nearly all of them) never enter the graph and
    * keep cluster_id = own id. The fixpoint is unique, so both finishes
    * below return the same rows.
    *
    * The edges (both directions) are checkpointed once. When their exact
    * materialized bytes fit the 32 MB broadcast gate, the components
    * finish on the driver ([[driverClusters]]): one collect job, a
    * union-find over index arrays, and a local label frame broadcast into
    * the final join. The benchmark's graph is far below the gate (a few
    * dozen edges per 1k docs); graph sizes of larger corpora are
    * unmeasured. Above the gate, min-label propagation with pointer
    * jumping runs as Spark joins ([[pointerJumpClusters]]): O(log
    * diameter) rounds, no driver-side graph. `idCol` keeps its type on both paths (the ids are never
    * cast). Output: (idCol, cluster_id). */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 50): DataFrame = {
    val edges = edgeCheckpoint(pairs)
    val bytes = CheckpointScratch.materializedBytes(edges)
    if (bytes >= 0L && bytes <= BroadcastGateBytes) driverClusters(docs, edges, idCol)
    else pointerJumpClusters(docs, edges, idCol, maxIter)
  }

  /** Rounds the most recent [[dedupClusters]] call took to converge —
    * test/probe instrumentation (both finishes are driver-side eager, so
    * the value is final when the call returns). 0 on the driver finish;
    * on the pointer-jump loop it is O(log diameter): the OpsSpec 10k-node
    * chain asserts the bound. */
  val lastClusterRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Byte gate for anything the cluster finish holds on the driver or
    * broadcasts: the edge checkpoint it collects, the label side it
    * broadcasts into a join. */
  private val BroadcastGateBytes = 32L << 20

  /** The pair graph as an eager checkpoint of directed (src, dst) edges,
    * both directions of every pair.
    * Eager coalesced checkpoint, not persist(): a CacheManager-cached
    * plan is compiled without AQE output coalescing (canChangeCachedPlan-
    * OutputPartitioning defaults false), so every loop iteration re-read
    * the edge set as shuffle-partition-count near-empty tasks (r9
    * listener: ~900 tasks/query across the cluster family). */
  private[graft] def edgeCheckpoint(pairs: DataFrame): DataFrame =
    CheckpointScratch.ckpt(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))

  /** The driver finish of [[dedupClusters]] over an edge checkpoint that
    * fits the gate. One job collects each undirected edge once (Spark's
    * own `src < dst`; self-loops and null endpoints never lower a label).
    * The distinct endpoints are sorted by Spark's ordering of the id type,
    * so an endpoint's array index is its rank; union-find with min-index
    * roots then labels each endpoint with the smallest id of its
    * component — the same fixpoint as min-label propagation. Driver state
    * is the collected rows plus two arrays of 2·edges entries. The labels
    * return as a local frame (no job to broadcast) typed like the edges. */
  private[graft] def driverClusters(docs: DataFrame, edges: DataFrame,
      idCol: String): DataFrame = {
    val dt = edges.schema("src").dataType
    val rows = edges.filter(col("src") < col("dst")).collect()
    CheckpointScratch.drop(edges)
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val ends = new Array[AnyRef](rows.length * 2)
    var i = 0
    while (i < rows.length) {
      ends(2 * i) = toCatalyst(rows(i).get(0)).asInstanceOf[AnyRef]
      ends(2 * i + 1) = toCatalyst(rows(i).get(1)).asInstanceOf[AnyRef]
      i += 1
    }
    val cmp = ord.asInstanceOf[java.util.Comparator[AnyRef]]
    val ids = ends.clone()
    java.util.Arrays.sort(ids, cmp)
    var n = 0
    i = 0
    while (i < ids.length) {
      if (n == 0 || cmp.compare(ids(n - 1), ids(i)) != 0) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < ends.length) {
      val a = find(java.util.Arrays.binarySearch(ids, 0, n, ends(i), cmp))
      val b = find(java.util.Arrays.binarySearch(ids, 0, n, ends(i + 1), cmp))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    val labelRows = new java.util.ArrayList[Row](n)
    i = 0
    while (i < n) { labelRows.add(Row(toScala(ids(i)), toScala(ids(find(i))))); i += 1 }
    val labels = docs.sparkSession.createDataFrame(labelRows,
      StructType(Seq(StructField("id", dt), StructField("lbl", dt))))
    lastClusterRounds.set(0)
    docs.select(col(idCol).as("id")).distinct()
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("lbl"), col("id")).as("cluster_id"))
  }

  /** The Spark finish of [[dedupClusters]] for edge sets above the gate:
    * min-label propagation over the edge checkpoint. Each round is a hash
    * join + min-aggregate plus one pointer jump, so rounds are bounded by
    * O(log diameter); labels converge monotonically, so the fixpoint is
    * unique and deterministic. */
  private[graft] def pointerJumpClusters(docs: DataFrame, edges: DataFrame,
      idCol: String, maxIter: Int): DataFrame = {
    // Only edge ENDPOINTS can ever change label; isolated docs never enter
    // the iteration and rejoin at the end with cluster_id = own id.
    // localCheckpoint (eager) after every round: an iterative DataFrame
    // otherwise nests the entire previous round's plan inside the next —
    // analyzer/optimizer time grows superlinearly with rounds and dwarfs
    // the actual work. Checkpointing keeps each round's plan flat.
    val dt = edges.schema("src").dataType
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")).transform(CheckpointScratch.ckpt)
    // checkpointed (RDD-backed) frames carry no stats, so AQE never
    // broadcasts them — probe the endpoint count ONCE and hint the label
    // side explicitly when it fits, removing every per-round shuffle of
    // the (much larger) edge set; big graphs keep the shuffle join.
    // Gate on estimated BYTES like the minhash-dict path (ADVICE r3): a
    // broadcast hash relation costs ~48 B per (long, long) row with map
    // overhead, and it re-broadcasts twice per round (labels + hop) — a
    // raw 2M-row gate allowed ~100 MB per round of driver pressure.
    val nEndpoints = labels.count()
    val bcast = nEndpoints * 48L <= BroadcastGateBytes
    def side(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    var iter = 0
    var done = nEndpoints == 0 // no edges at all
    // static plan scope for the pointer-jump loop (see CheckpointScratch
    // scaladoc): the per-round plan is identical and the edge set — the
    // frame every round's shuffles are scaled by — is materialized, so
    // the layout derives once from its exact bytes and each round runs as
    // one ckpt job + one change-check job instead of ~5-7 AQE stage jobs.
    val loopBytes = CheckpointScratch.materializedBytes(edges)
    CheckpointScratch.withStaticLoopPlan(edges.sparkSession, loopBytes) {
    while (!done && iter < maxIter) {
      // one min-propagation hop along edges...
      // fresh aliases on BOTH columns: an un-aliased `lbl` keeps labels'
      // expression id, and unioning a frame with its own join re-uses that
      // id in two children — Spark's Union constraint rewrite then fails
      // ("key not found: id#...") when the union is localCheckpointed
      val viaEdges = edges.join(side(labels), edges("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl").as("lbl"), lit(null).cast(dt).as("prev"))
      // hop stays LAZY: its two uses in the pointer jump are identical
      // subtrees, so the next-frame checkpoint computes the union-agg
      // shuffle once and AQE's exchange reuse serves the second side —
      // an eager hop checkpoint here was one extra job per round for a
      // frame that dies the moment `next` materializes. Each id carries its
      // previous label through the hop (the edge side contributes null),
      // so the change check is one filter over `next`, no diff join.
      val hop =
        labels.select(col("id"), col("lbl"), col("lbl").as("prev")).unionByName(viaEdges)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl"), max(col("prev")).as("prev"))
      // ...then one pointer jump (lbl := lbl's own lbl): a label is always
      // a reachable endpoint id, so chasing it doubles the effective hop —
      // convergence in O(log component) rounds instead of O(diameter)
      val next = hop.as("a")
        .join(side(hop.select(col("id").as("jid"), col("lbl").as("jlbl"))),
          col("a.lbl") === col("jid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.lbl"), coalesce(col("jlbl"), col("a.lbl"))).as("lbl"),
          col("a.prev").as("prev"))
        .transform(CheckpointScratch.ckpt)
      // labels only ever decrease, so the fixpoint is a round with no change
      done = next.filter(col("lbl") =!= col("prev")).isEmpty
      // the superseded round's label blocks are dead the moment `next` is
      // materialized (and compared above) — drop them NOW so peak storage
      // stays O(1) label frames regardless of graph diameter
      CheckpointScratch.drop(labels)
      labels = next
      iter += 1
    }
    } // withStaticLoopPlan
    CheckpointScratch.drop(edges)
    lastClusterRounds.set(iter)
    require(done, s"dedupClusters did not converge in $maxIter rounds")
    docs.select(col(idCol).as("id")).distinct()
      .join(side(labels), Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("lbl"), col("id")).as("cluster_id"))
  }

  /** The full dedup chain as one operator — what a training-data pipeline
    * actually runs per corpus snapshot:
    *  1. exact dedup (hash-groupBy, 16-byte shuffle keys) collapses
    *     byte-identical docs to their smallest id;
    *  2. MinHash+LSH near-dup pairs over the exact representatives;
    *  3. connected components resolve pairs into clusters;
    *  4. keep the smallest id per cluster.
    * Returns one row PER INPUT DOC — (idCol, cluster_id,
    * is_representative): exact duplicates map to their representative's
    * cluster with is_representative = false, so the removal decision for
    * EVERY doc is auditable (lineage of WHY a doc was dropped); filter on
    * is_representative for the deduplicated corpus.
    *
    * EVALUATION COUNT: `docs` is evaluated once. One checkpoint holds
    * (id, text hash, text length, shingle set) per doc; the exact-
    * representative window reads only (id, hash, length) from it, so
    * neither text nor shingles cross its shuffle, and MinHash+LSH runs over
    * the representatives' rows of the same checkpoint. The trade-off:
    * exact-duplicate non-representatives are shingled too (4% of docs in
    * the benchmark corpus), which buys one full upstream evaluation. The
    * returned frame refers only to checkpoints and a local label frame, so
    * reading it never re-runs the upstream text plan. */
  def dedupCorpus(docs: DataFrame, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = CheckpointScratch.ckpt(shingleFrame(docs, LshShingleK, idCol, textCol,
      xxhash64(col(textCol)).as("h"), length(col(textCol)).as("l")))
    // per-doc exact-representative mapping (same 16-byte key discipline as
    // [[exact]]: only (hash, length) crosses the shuffle)
    val docToRep = CheckpointScratch.ckpt(base.select(col("id"),
      min(col("id")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("h"), col("l"))).as("rep")))
    val repIds = docToRep.filter(col("id") === col("rep")).select(col("id"))
    val pairs = lshPairs(base.join(repIds, Seq("id"), "left_semi")
      .select(col("id"), col("shs")), threshold, LshNumHashes, LshBands)
    // dedupClusters reads only the distinct ids of its first argument, and
    // its eager edge checkpoint is the last read of `base`
    val repClusters = dedupClusters(repIds.select(col("id").as(idCol)), pairs, idCol)
      .select(col(idCol).as("rep"), col("cluster_id"))
    CheckpointScratch.drop(base)
    docToRep.join(repClusters, Seq("rep"))
      .select(col("id").as(idCol), col("cluster_id"),
        (col("id") === col("cluster_id")).as("is_representative"))
  }

  /** QUALITY-AWARE representative selection per near-dup cluster — the
    * "keep best, drop rest" step that follows clustering. [[dedupClusters]]
    * and [[dedupCorpus]] keep the SMALLEST id per cluster (the classic
    * convention), which discards information: within a near-dup family the
    * copies differ (truncation, boilerplate injection, encoding damage) and
    * a curation pipeline wants the HIGHEST-QUALITY member, not the first
    * one crawled. Input: `clusters` = (idCol, cluster_id) from
    * [[dedupClusters]]; `quality` = (idCol, quality: BIGINT) computed
    * narrowly upstream (token count, LM score bucket — anything totally
    * ordered). Output: one row per cluster —
    * (cluster_id, rep_id, rep_quality, n_members).
    *
    * Determinism: the winner is max quality with SMALLEST id as the
    * tiebreak, expressed as `min(struct(-quality, id))` — a declarative
    * aggregate, so any engine (and the DuckDB oracle's window) reproduces
    * it exactly; no `max_by` (non-deterministic on ties).
    *
    * Scale shape: one equi-join on the 8-byte id (neither side carries
    * text), then one hash aggregate on cluster_id. The aggregate is
    * two-phase (partial per input partition, final after the shuffle), so
    * a mega-cluster — a boilerplate template with millions of members, the
    * common crawl pathology — reduces to ONE row per map task before the
    * shuffle: per-key reduce work is bounded by the partition count, never
    * by cluster size. PlanSpec pins the partial_min/partial_count pair and
    * the absence of any window exchange. */
  def clusterRepresentatives(clusters: DataFrame, quality: DataFrame,
      idCol: String = "doc_id", qualityCol: String = "quality"): DataFrame = {
    val joined = clusters.select(col(idCol).as("id"), col("cluster_id"))
      .join(quality.select(col(idCol).as("id"),
        col(qualityCol).cast("long").as("q")), Seq("id"))
    joined.groupBy(col("cluster_id"))
      .agg(min(struct((-col("q")).as("nq"), col("id").as("i"))).as("w"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("w.i").as("rep_id"),
        (-col("w.nq")).as("rep_quality"), col("n_members"))
  }

  /** Word-set Jaccard pairs, strategy chosen by a cost probe — the CBO
    * decision a real engine makes: when the largest block is small, the
    * plain blocked self-join is OPTIMAL (one shuffle, no candidate
    * machinery); when any block is large, O(block²) would never finish and
    * [[jaccardPrefixPairs]] takes over. The stats probe is one tiny
    * aggregate over the blocking column. Both paths produce the identical
    * result set. */
  def jaccardAdaptivePairs(docs: DataFrame, blockCol: String, threshold: Double,
      maxNaiveBlock: Long = 4096, maxNaivePairs: Long = 20_000_000L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // one tiny aggregate probes BOTH the worst block and the total candidate
    // count Σ block² — max-block alone let a degenerate vocabulary push the
    // prefix path (4 extra shuffles) when the naive pair count was trivial
    val statsRow = docs.groupBy(col(blockCol)).count()
      .agg(max(col("count")), sum(col("count") * col("count"))).head()
    val maxBlock = if (statsRow.isNullAt(0)) 0L else statsRow.getLong(0)
    val sumSqPairs = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    val naive = maxBlock <= maxNaiveBlock && sumSqPairs <= maxNaivePairs
    log.info(s"jaccardAdaptivePairs: maxBlock=$maxBlock " +
      s"sumSqPairs=$sumSqPairs -> ${if (naive) "naive-blocked" else "prefix-filter"}")
    if (naive)
      jaccardBlockedPairs(docs, blockCol, threshold, idCol, textCol)
    else
      jaccardPrefixPairs(docs, blockCol, threshold, idCol, textCol)
  }

  /** Incremental crawl dedup: which docs in a NEW batch are genuinely
    * unseen vs an existing corpus? Sketch-then-verify with Spark's NATIVE
    * Bloom aggregate (codegen'd `bloom_filter_agg` / `might_contain` —
    * built-in beats custom, per the operator preference order):
    *  1. build one Bloom filter over the seen side's content hashes;
    *  2. batch rows the filter rejects are DEFINITELY new (Bloom has no
    *     false negatives) — they skip the join entirely;
    *  3. only the `might_contain` candidates (≈ dup_rate + fpp of the
    *     batch) go through the exact anti-join verify.
    * Output is EXACT (= plain anti-join), but at 100 TB the expensive
    * anti-join consumes a few percent of the batch instead of all of it.
    * The single-filter form ships the Bloom bytes as a literal
    * (`fpp`≈1% → ~10 bits/item); at 10^12 seen docs you shard filters by
    * content-hash range and union — same plan shape per shard. */
  def incrementalNew(seen: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      expectedItems: Long = 0L, bitsPerItem: Int = 10): DataFrame = {
    val spark = seen.sparkSession
    graft.functions.functions.register(spark)
    // seen-side cost: up to three COLUMN-PRUNED scans (count — skipped when
    // expectedItems is given — bloom build, anti-join verify); the batch
    // side is tagged ONCE and checkpointed so derived upstream plans never
    // execute twice for the two branches (review r4-3)
    val n = if (expectedItems > 0) expectedItems else math.max(seen.count(), 64L)
    val nBits = math.max(64L, n * bitsPerItem)
    // Spark clamps BloomFilterAggregate's sizing to
    // spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,maxNumBits}
    // (defaults 4M / 64Mbit): beyond that the filter saturates and the
    // prefilter silently stops pruning. Warn — the fix at real scale is
    // sharding filters by content-hash range, not a bigger single filter.
    val maxBits = spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits").map(_.toLong)
      .getOrElse(67108864L)
    if (nBits > maxBits)
      log.warn(s"incrementalNew: requested $nBits bloom bits > " +
        s"conf cap $maxBits — filter will saturate (fpp→1) and prune " +
        "nothing; shard the seen set by content-hash range instead")
    // BloomFilterAggregate ALSO silently clamps estimatedNumItems to
    // maxNumItems (default 4M): past that the sizing math degrades fpp and
    // the prefilter stops pruning without the bit-cap warning ever firing
    val maxItems = spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems").map(_.toLong)
      .getOrElse(4000000L)
    if (n > maxItems)
      log.warn(s"incrementalNew: seen count $n > bloom item cap " +
        s"$maxItems — estimatedNumItems is silently clamped and fpp " +
        "degrades; shard the seen set by content-hash range instead")
    val bloomRow = seen
      .select(graft.functions.functions.graft_bloom_agg(
        xxhash64(col(textCol)), lit(n), lit(nBits)).as("bf"))
      .head()
    // EMPTY seen side: the aggregate yields null (no rows) and
    // might_contain(null, x) is null — which would silently drop the whole
    // batch from BOTH branches. Nothing was seen: everything is new.
    if (bloomRow.isNullAt(0)) return batch.select(col(idCol), col(textCol))
    val bloom = bloomRow.getAs[Array[Byte]]("bf")
    // hash the COALESCED text: xxhash64(null) is null and might_contain
    // propagates it, which dropped null-text rows from BOTH branches.
    // A null-text row now either misses the bloom (definitely new) or
    // reaches the anti-join, where a null key never matches — kept as new,
    // exactly the anti-join semantics (review r4-4)
    val tagged = batch.select(col(idCol), col(textCol))
      .withColumn("mc", graft.functions.functions.graft_might_contain(
        lit(bloom), xxhash64(coalesce(col(textCol), lit("")))))
      .transform(CheckpointScratch.ckpt)
    val definitelyNew = tagged.filter(!col("mc")).drop("mc")
    val verifiedNew = tagged.filter(col("mc")).drop("mc")
      .join(seen.select(col(textCol)).distinct(), Seq(textCol), "left_anti")
    definitelyNew.unionByName(verifiedNew.select(col(idCol), col(textCol)))
  }

  /** Incremental NEAR-dup crawl dedup — the MinHash analogue of
    * [[incrementalNew]]: which docs in a NEW batch have no near-duplicate
    * (k-shingle Jaccard ≥ threshold) in the existing corpus? This is the
    * cross-crawl dedup step real curation runs per snapshot (each new
    * Common-Crawl dump deduped against all prior dumps); [[incrementalNew]]
    * only catches byte-identical text, this catches the boilerplate-
    * injected / truncated re-crawls too (exact copies have Jaccard 1.0 and
    * are caught a fortiori). Batch-INTERNAL near-dups are out of scope here
    * — run [[minhashLsh]] over the batch for those.
    *
    * Shape: the [[minhashLsh]] skeleton with the self-join replaced by a
    * batch×seen band-key join — candidates are (batch, seen) pairs only,
    * never seen×seen (the quadratic blowup an all-corpus re-cluster would
    * pay per increment). Band keys carry ONLY (id, key); shingle-hash
    * arrays rejoin once per side for surviving candidates; text never
    * enters any shuffle. The seen side's signatures are recomputed here —
    * at 100 TB you persist (id, band_key) for the corpus once and join new
    * batches against the stored keys (same plan from the `keyed` frame on).
    *
    * Output: the genuinely-new batch rows (idCol, textCol), like
    * [[incrementalNew]]. */
  def incrementalNearDup(seen: DataFrame, batch: DataFrame, threshold: Double,
      numHashes: Int = LshNumHashes, bands: Int = LshBands,
      shingleK: Int = LshShingleK,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sBase = CheckpointScratch.ckpt(
      shingleFrame(seen, shingleK, idCol, textCol))
    incrementalNearDupAgainst(sBase, bandKeyFrame(sBase, numHashes, bands),
      batch, threshold, numHashes, bands, shingleK, idCol, textCol)
  }

  /** The per-doc hashed-shingle SET column ([[shingleHashes]] of the
    * null-safe text) — the one shingling every near-dup path runs. */
  private def shingleSet(text: Column, k: Int): Column =
    udf((t: String) => shingleHashes(if (t == null) "" else t, k)).apply(text)

  /** The per-doc hashed-shingle frame (id, [keep...], shs) — the ONE
    * signature prep the near-dup paths and the persisted key store share.
    * `keep` adds per-doc columns computed in the same pass over `docs`. */
  private[ops] def shingleFrame(docs: DataFrame, shingleK: Int,
      idCol: String, textCol: String, keep: Column*): DataFrame =
    docs.select((col(idCol).as("id") +: keep :+
      shingleSet(col(textCol), shingleK).as("shs")): _*)

  /** LSH band keys (id, band_key) off a shingle frame — 16 bytes + id per
    * row × bands; the exploded frame never carries text or shingles. */
  private[ops] def bandKeyFrame(base: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val bandUdf = udf((shs: Seq[Long]) =>
      lshBandKeys(minhashFromHashes(shs.toArray, numHashes), bands))
    base.select(col("id"), explode(bandUdf(col("shs"))).as("band_key"))
  }

  /** The batch×seen near-dup core over PRE-BUILT seen-side frames —
    * `seenBase(id, shs)` + `seenKeyed(id, band_key)` may be recomputed
    * from text (the [[incrementalNearDup]] wrapper) or read back from a
    * committed [[NearDupStore]] (the 100-TB path: each increment pays
    * batch-side signatures only; the corpus is never re-shingled). */
  def incrementalNearDupAgainst(seenBase: DataFrame, seenKeyed: DataFrame,
      batch: DataFrame, threshold: Double,
      numHashes: Int = LshNumHashes, bands: Int = LshBands,
      shingleK: Int = LshShingleK,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bBase = CheckpointScratch.ckpt(
      shingleFrame(batch, shingleK, idCol, textCol))
    // id_a = batch doc, id_b = seen doc
    val cands = bandKeyFrame(bBase, numHashes, bands)
      .select(col("id").as("id_a"), col("band_key"))
      .join(seenKeyed.select(col("id").as("id_b"), col("band_key")), Seq("band_key"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val dupIds = verifyPairs(cands, bBase, seenBase, "shs", threshold)
      .select(col("id_a").as(idCol)).distinct()
    batch.select(col(idCol), col(textCol))
      .join(dupIds, Seq(idCol), "left_anti")
  }

  /** LENGTH prefilter over (wa, wb) pair columns (AllPairs size bound):
    * J(A,B) ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|) — an integer compare
    * that prunes most pairs BEFORE the per-pair set intersection. The 1e-9
    * slack keeps the bound conservative under float rounding (a boundary
    * pair like |A|=40,|B|=50,t=0.8 is exactly reachable and must survive
    * to the exact verify; extra survivors are harmless). Applied in ONE
    * place, [[scorePairs]], so every near-dup pair operator prunes alike
    * and none can lose recall to it. */
  private def sizeBound(threshold: Double) =
    least(size(col("wa")), size(col("wb"))).cast("double") >=
      lit(threshold) * greatest(size(col("wa")), size(col("wb"))).cast("double") - lit(1e-9)

  /** The exact set-Jaccard rule every near-dup pair operator keeps or
    * drops a pair by, over (id_a, id_b, wa, wb) rows of hashed sets.
    * Arrays are distinct, so |a∩b| / (|a|+|b|−|a∩b|) is the exact set
    * Jaccard from one hash-set pass per pair (no union is built); two
    * empty sets score 1.0. [[sizeBound]] prunes first. Keeps pairs with
    * jaccard ≥ threshold (compared before rounding) as
    * (id_a, id_b, jaccard rounded to 4 places). */
  private def scorePairs(pairs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val (na, nb) = (size(col("wa")), size(col("wb")))
    val inter = size(array_intersect(col("wa"), col("wb"))).cast("double")
    pairs.filter(sizeBound(threshold))
      .withColumn("jac",
        when(na === 0 && nb === 0, lit(1.0)).otherwise(inter / (na + nb - inter)))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** [[scorePairs]] for candidate (id_a, id_b) pairs: re-attaches each
    * side's hashed set (column `set` of the (id, set) frames `a` and `b`)
    * once per side, only for surviving candidates — the sets never ride
    * the candidate-generation shuffles. */
  private def verifyPairs(cands: DataFrame, a: DataFrame, b: DataFrame,
      set: String, threshold: Double): DataFrame =
    scorePairs(cands
      .join(a.select(col("id").as("id_a"), col(set).as("wa")), Seq("id_a"))
      .join(b.select(col("id").as("id_b"), col(set).as("wb")), Seq("id_b")),
      threshold)

  /** The per-doc hashed WORD-set frame (blk, id, words), checkpointed —
    * q_jaccard_pairs' `array_distinct(split(text, ' '))` words, each
    * pre-hashed to 64 bits so the per-pair intersect compares 8-byte
    * longs instead of strings (xxhash64 collisions are ~2⁻⁶⁴ — far below
    * the 4-decimal jaccard rounding). Materialized because `words` is a
    * lazy projection: without the checkpoint every consumer re-tokenizes
    * (the blocked self-join once per candidate pair, ~block-size times —
    * the r2 2.2× regression). */
  private def wordSetFrame(docs: DataFrame, blockCol: String,
      idCol: String, textCol: String): DataFrame =
    CheckpointScratch.ckpt(docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
      array_distinct(transform(split(col(textCol), " "), t => xxhash64(t))).as("words")))

  /** Naive blocked self-join — optimal for small blocks. The self-join
    * already carries both word sets, so it scores directly. */
  def jaccardBlockedPairs(docs: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = wordSetFrame(docs, blockCol, idCol, textCol)
    val a = base.select(col("blk"), col("id").as("id_a"), col("words").as("wa"))
    val b = base.select(col("blk"), col("id").as("id_b"), col("words").as("wb"))
    scorePairs(a.join(b, Seq("blk")).filter(col("id_a") < col("id_b")), threshold)
  }

  /** Word-set Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin family,
    * Bayardo et al., WWW 2007) — exact-recall candidate generation, no
    * all-pairs join anywhere:
    *  1. rank every token by global frequency (rare first; ties by token);
    *  2. each doc keys only its first n − ⌈t·n⌉ + 1 tokens in that order —
    *     two sets with Jaccard ≥ t MUST share a token in this prefix, so
    *     recall is 1 (unlike MinHash banding, which is probabilistic);
    *  3. candidates = equi-join on (block, prefix token): rare tokens →
    *     small buckets, and the frequent tokens that would explode a
    *     bucket sort LAST and never enter a prefix;
    *  4. exact verify on the candidate pairs only.
    * Result set is IDENTICAL to the naive all-pairs ≥ t join (the DuckDB
    * oracle), at candidate cost instead of O(bucket²). Word semantics
    * match q_jaccard_pairs: array_distinct(split(text, ' ')). */
  def jaccardPrefixPairs(docs: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `base` is consumed three times (token explode + both verify sides).
    // Prefix filtering is order-agnostic: any consistent global token
    // order (here: frequency, ties by hash) preserves exact recall.
    val base = wordSetFrame(docs, blockCol, idCol, textCol)
    val n = size(col("words"))
    val toks = base.select(col("blk"), col("id"),
      (n - ceil(lit(threshold) * n) + 1).cast("int").as("pl"),
      explode(col("words")).as("tok"))
    val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    // per-doc window: partitions are single documents (bounded), never global
    val w = Window.partitionBy(col("id")).orderBy(col("freq"), col("tok"))
    val prefix = toks.join(tf, "tok")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("pl"))
      .select(col("blk"), col("tok"), col("id"))
    val cands = prefix.select(col("blk"), col("tok"), col("id").as("id_a"))
      .join(prefix.select(col("blk"), col("tok"), col("id").as("id_b")), Seq("blk", "tok"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyPairs(cands, base, base, "words", threshold)
  }

  /** Split-LEAKAGE scrub — benchmark decontamination applied to an
    * INTERNAL train/test split (the GPT-3 appendix-C discipline): any
    * train doc that is a verified near-duplicate of a test doc is
    * dropped from train, so eval numbers measure generalization rather
    * than memorized echoes. The test side stays untouched — it is the
    * measurement. Output: (idCol, split, kept) for every row; kept is
    * false only on leaky train docs.
    *
    * Shape at 100 TB: the split is a narrow salted-hash assignment
    * ([[Splits.hashSplit]]); near-dup pairs come from [[minhashLsh]]
    * (banded candidates, hashed-shingle verify — text never crosses a
    * shuffle); pairs are pair-scale and join the split assignment on
    * the id key twice; the leak set joins back on id. No stage touches
    * corpus text beyond the one shingling pass minhashLsh already does. */
  def splitLeakageScrub(docs: DataFrame, threshold: Double = 0.5,
      trainWeight: Double = 0.9, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(trainWeight > 0.0 && trainWeight < 1.0,
      s"trainWeight must be in (0,1), got $trainWeight")
    val split = CheckpointScratch.ckpt(
      Splits.hashSplit(docs, idCol, Seq(trainWeight, 1.0 - trainWeight),
          Seq("train", "test"))
        .select(col(idCol).cast("long").as(idCol), col("split")))
    val pairs = minhashLsh(docs, threshold, idCol = idCol, textCol = textCol)
      .select(col("id_a"), col("id_b"))
    val withSplits = pairs
      .join(split.select(col(idCol).as("id_a"), col("split").as("sa")), Seq("id_a"))
      .join(split.select(col(idCol).as("id_b"), col("split").as("sb")), Seq("id_b"))
    val leaky = withSplits
      .filter(col("sa") === "train" && col("sb") === "test")
      .select(col("id_a").as(idCol))
      .unionByName(withSplits
        .filter(col("sa") === "test" && col("sb") === "train")
        .select(col("id_b").as(idCol)))
      .distinct()
    split.join(leaky.withColumn("__lk", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("split"),
        (col("split") =!= "train" || col("__lk").isNull).as("kept"))
  }
}
