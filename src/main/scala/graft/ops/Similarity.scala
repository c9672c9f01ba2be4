package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query side, scan the
  * corpus once — correct at any scale, O(corpus × queries)). Scale path:
  * random-hyperplane LSH (Charikar 2002) — bucket join shrinks candidates
  * by ~2^bits, then exact re-rank inside buckets.
  *
  * Cosine and the LSH bucket signature are native Catalyst expressions
  * with doGenCode ([[graft.functions.CosineSim]] / [[graft.functions
  * .HyperplaneSig]]) — genuinely inside whole-stage codegen. The earlier
  * `aggregate`/`zip_with` HOF formulation had no doGenCode and ran
  * interpreted in every ANN hot path (r2 finding).
  */
object Similarity {

  private def reg(df: DataFrame): Unit =
    graft.functions.functions.register(df.sparkSession)

  /** cos(a, b) as a Column over two array<float/double> columns — resolves
    * to the native [[graft.functions.CosineSim]]. Registers the graft
    * functions on the active session first (ADVICE r3: an external caller
    * without a prior `functions.register` hit an unresolved-function
    * analysis error); callers building Columns off-session should still
    * register explicitly. */
  def cosine(a: Column, b: Column): Column = {
    // register only when missing: per-call re-registration wrote the whole
    // registry on every Column construction (review r4). getActiveSession
    // is thread-local — callers building Columns off the Spark thread must
    // still call functions.register(session) explicitly.
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      if (!s.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine")))
        graft.functions.functions.register(s)
    }
    graft.functions.functions.graft_cosine(a, b)
  }

  /** The top-k rank every vector top-k operator returns: over scored
    * (query_id, neighbor_id, scoreCol) rows, the first k neighbors per
    * query by (score desc, neighbor id asc) — deterministic on ties.
    * Output: (query_id, neighbor_id, scoreCol, rank BIGINT from 1). */
  private[ops] def rankTopK(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col(scoreCol),
        col("rank").cast("long").as("rank"))
  }

  /** Brute-force top-k cosine neighbors for each query vector.
    * `corpus(vec_id, embedding)`, `queries(vec_id, embedding)`.
    * Rank is deterministic: (rounded cosine desc, neighbor id asc). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    reg(corpus)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 4))
    rankTopK(scored, "cos", k)
  }

  /** Deterministic random hyperplanes: plane(p)(d) from splitmix64. */
  def hyperplane(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      // map to (-1, 1) uniformly
      Dedup.mix64((p.toLong << 32) ^ d.toLong ^ 0x51AB5EEDL).toDouble / Long.MaxValue
    }

  /** Sign-bucket signature column: bit p = sign(v · plane_p) — one native
    * pass over all planes instead of `bits` interpreted HOF dots. */
  def lshBucket(v: Column, dim: Int, bits: Int): Column =
    graft.functions.functions.graft_hyperplane_sig(v, lit(dim), lit(bits))

  /** LSH-bucketed approximate top-k: join on bucket, exact re-rank inside.
    * Recall < 1 by construction; the candidate set per query shrinks by
    * ~2^bits. Multi-probe: also join buckets at Hamming distance 1 when
    * `probe1` (flip each bit once) to trade compute for recall. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      bits: Int = 8, probe1: Boolean = true): DataFrame = {
    reg(corpus)
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .withColumn("bucket", lshBucket(col("cv"), dim, bits))
    val qBase = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("bucket0", lshBucket(col("qv"), dim, bits))
    val probes =
      if (!probe1) array(col("bucket0"))
      else array((col("bucket0") +: (0 until bits).map(b =>
        col("bucket0").bitwiseXOR(lit(1L << b)))): _*)
    val q = qBase.withColumn("bucket", explode(probes)).drop("bucket0")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 4))
    rankTopK(scored, "cos", k)
  }

  /** IVF-flat approximate top-k (the other classic ANN scale path next to
    * LSH): a coarse quantizer of `nCells` centroids — deterministic seeds
    * (first nCells corpus vectors by id) refined by one driver-side Lloyd
    * iteration over a bounded sample — then corpus rows live in their
    * nearest cell and queries probe the `nProbe` nearest cells with exact
    * re-ranking inside. Cell assignment and probing are pure Catalyst
    * (array_sort over per-centroid cosine structs); only the tiny centroid
    * table ever touches the driver. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCells: Int = 16, nProbe: Int = 2, sampleSize: Int = 512): DataFrame = {
    val centroids = trainCentroids(corpus, dim, nCells, sampleSize)
    ivfTopKWith(centroids, ivfAssign(corpus, centroids), queries, k, nProbe)
  }

  /** Per-centroid cosine scores sorted (cos DESC, cell ASC by stable
    * sort) — the coarse-quantizer ranking shared by corpus assignment
    * and query probing. */
  private def cellScoresFor(centroids: Array[Array[Double]])(v: Column): Column =
    array_sort(
      array(centroids.zipWithIndex.map { case (c, i) =>
        struct(cosine(v, typedLit(c.toSeq)).as("cos"), lit(i).as("cell"))
      }: _*),
      (l, r) => when(l.getField("cos") > r.getField("cos"), -1)
        .when(l.getField("cos") < r.getField("cos"), 1).otherwise(0))

  /** Assign every vector to its nearest centroid's cell:
    * (vec_id, embedding, cell) — the IVF list-build step, shared by the
    * recompute path and [[VectorStore.append]]. */
  def ivfAssign(embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    reg(embeddings)
    embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("cell",
        element_at(cellScoresFor(centroids)(col("embedding")), 1).getField("cell"))
  }

  /** [[ivfTopK]] with a FIXED centroid table and a pre-assigned corpus
    * (vec_id, embedding, cell) — the query path shared by the recompute
    * path and [[VectorStore.topK]] (a persisted index must return the
    * SAME neighbors as recomputing under its pinned centroids). */
  def ivfTopKWith(centroids: Array[Array[Double]], corpusAssigned: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    reg(queries)
    val c = corpusAssigned.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col("cell"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("cell", explode(transform(
        slice(cellScoresFor(centroids)(col("qv")), 1, nProbe),
        x => x.getField("cell"))))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 4))
    rankTopK(scored, "cos", k)
  }

  /** Deterministic coarse quantizer: seeds = first nCells vectors by id,
    * one Lloyd step over the first `sampleSize` vectors (bounded driver
    * work — at 10^9 rows this is still nCells×dim doubles on the wire). */
  def trainCentroids(corpus: DataFrame, dim: Int, nCells: Int, sampleSize: Int): Array[Array[Double]] = {
    val sample = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(sampleSize)
      .collect()
      .map(r => r.getSeq[Float](1).toArray.map(_.toDouble))
    val seeds = sample.take(nCells)
    if (seeds.length < nCells) return seeds
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d, na, nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val sums = Array.fill(nCells)(new Array[Double](dim))
    val counts = new Array[Int](nCells)
    sample.foreach { v =>
      var best = 0; var bs = Double.MinValue
      var i = 0
      while (i < nCells) { val s = cos(v, seeds(i)); if (s > bs) { bs = s; best = i }; i += 1 }
      counts(best) += 1
      var d = 0
      while (d < dim) { sums(best)(d) += v(d); d += 1 }
    }
    Array.tabulate(nCells)(i =>
      if (counts(i) == 0) seeds(i)
      else sums(i).map(_ / counts(i)))
  }

  /** Embedding-cosine near-dup pairs above a threshold, blocked by an
    * LSH bucket (the embedding analogue of Dedup.minhashLsh). One side
    * multi-probes hamming-1 neighbor buckets so pairs that straddle a
    * hyperplane still collide — recall on near-exact duplicates rises from
    * ~0.8 to ~1 at bits+1 × candidate cost. */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double, dim: Int,
      bits: Int = 6, probe1: Boolean = true): DataFrame = {
    reg(embeddings)
    // guide §8 discipline (the minhashLsh shape): the bucket join decides
    // WHICH pairs to verify, so only (bucket, id) crosses its shuffle —
    // carrying the dim×4-byte vectors through the ×(bits+1) probe explode
    // shuffled ~90% of this op's bytes (177 MB at sf0.1, r9 listener) for
    // payloads the verify could re-attach once per surviving candidate.
    val e = embeddings.select(col("vec_id").as("id"), col("embedding").as("v"))
    val keyed = e.withColumn("bucket0", lshBucket(col("v"), dim, bits))
      .select(col("id"), col("bucket0"))
    val probes =
      if (!probe1) array(col("bucket0"))
      else array((col("bucket0") +: (0 until bits).map(b =>
        col("bucket0").bitwiseXOR(lit(1L << b)))): _*)
    val a = keyed.withColumn("bucket", explode(probes))
      .select(col("bucket"), col("id").as("id_a"))
    val b = keyed.select(col("bucket0").as("bucket"), col("id").as("id_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(e.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Deterministic distributed Lloyd k-means over the embedding column —
    * the clustering stage of semantic dedup (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540). Results are a pure function of the input:
    *
    *  - seeds = the first `k` vectors by vec_id (no RNG);
    *  - assignment = argmax cosine(v, centroid), ties to the lower cell
    *    (the stable array_sort, same contract as [[ivfTopK]]); cosines are
    *    the native codegen'd [[graft.functions.CosineSim]];
    *  - centroid recompute = per-(cell, dim) mean where the double sum
    *    folds members in a fixed TWO-LEVEL tree — vec_id % foldBuckets
    *    sub-folds in vec_id order, bucket partials in bucket order (the
    *    [[Graph.pageRank]] hub-safety shape: a mega-cell folds in
    *    `foldBuckets` bounded tasks, never one giant sorted list) — then
    *    ONE IEEE division by the member count. An empty cell keeps its
    *    previous centroid.
    *
    * Per iteration: one narrow assignment pass (centroids ride along as
    * plan literals — k×dim doubles, never a join), one posexplode shuffle
    * keyed (cell, dim, bucket), one keyed (cell, dim), and a k×dim
    * centroid collect to the driver (bounded: 512 doubles at k=8,dim=64 —
    * the [[trainCentroids]] precedent). Fixed `iters`, not convergence
    * stopping, so results never depend on a mid-stream float compare.
    * At 10^9 vectors size foldBuckets so |cell|/foldBuckets rows fit one
    * task's sort (e.g. 65536). */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int, dim: Int,
      foldBuckets: Int = 16): Array[Array[Double]] = {
    require(k >= 1 && iters >= 0 && dim >= 1 && foldBuckets >= 1,
      s"bad kmeans params k=$k iters=$iters dim=$dim foldBuckets=$foldBuckets")
    reg(embeddings)
    val e = CheckpointScratch.ckpt(
      embeddings.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").as("v")))
    val seeds = e.orderBy(col("vec_id")).limit(k).collect()
      .map(r => r.getSeq[Float](1).toArray.map(_.toDouble))
    require(seeds.length == k, s"need >= $k vectors to seed k-means, got ${seeds.length}")
    var cents = seeds
    for (_ <- 1 to iters) {
      // checkpoint: the frame feeds TWO actions (sums + counts) — uncached
      // it would run the k×N cosine pass twice per iteration (review)
      val assigned = CheckpointScratch.ckpt(assignCell(e, cents))
      val comp = assigned
        .select(col("cell"), col("vec_id"),
          posexplode(col("v")).as(Seq("d", "x")))
        .select(col("cell"), col("d"),
          pmod(col("vec_id"), lit(foldBuckets.toLong)).as("bk"),
          col("vec_id"), col("x").cast("double").as("x"))
      val sums = comp.groupBy(col("cell"), col("d"), col("bk"))
        .agg(Graph.orderedFold(col("vec_id"), col("x")).as("s"))
        .groupBy(col("cell"), col("d"))
        .agg(Graph.orderedFold(col("bk"), col("s")).as("s"))
      val counts = assigned.groupBy(col("cell")).count()
      val cntArr = new Array[Long](k)
      counts.collect().foreach(r => cntArr(r.getLong(0).toInt) = r.getLong(1))
      val sumArr = Array.fill(k)(new Array[Double](dim))
      sums.collect().foreach(r =>
        sumArr(r.getLong(0).toInt)(r.getInt(1)) = r.getDouble(2))
      cents = Array.tabulate(k)(c =>
        if (cntArr(c) == 0L) cents(c)
        else Array.tabulate(dim)(d => sumArr(c)(d) / cntArr(c).toDouble))
      CheckpointScratch.drop(assigned)
    }
    CheckpointScratch.drop(e)
    cents
  }

  /** (vec_id, cell, cos) under the given centroid set — one narrow pass,
    * centroids as plan literals. cos is the UNROUNDED cosine to the own
    * centroid (callers round at their output edge). */
  private def assignCell(e: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val scores = array_sort(
      array(cents.zipWithIndex.map { case (w, i) =>
        struct(cosine(col("v"), typedLit(w.toSeq)).as("cos"), lit(i).as("cell"))
      }: _*),
      (l, r) => when(l.getField("cos") > r.getField("cos"), -1)
        .when(l.getField("cos") < r.getField("cos"), 1).otherwise(0))
    e.withColumn("best", element_at(scores, 1))
      .select(col("vec_id"), col("v"),
        col("best").getField("cell").cast("long").as("cell"),
        col("best").getField("cos").as("cos"))
  }

  /** Final k-means assignment: (vec_id, cell, cos rounded to 4dp). */
  def kmeansAssign(embeddings: DataFrame, k: Int, iters: Int, dim: Int,
      foldBuckets: Int = 16): DataFrame = {
    reg(embeddings)
    val cents = kmeansCentroids(embeddings, k, iters, dim, foldBuckets)
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").as("v"))
    assignCell(e, cents)
      .select(col("vec_id"), col("cell"), round(col("cos"), 4).as("cos"))
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    * embeddings, then inside each cluster drop every member whose rounded
    * cosine to an EARLIER-RANKED member reaches `eps` — rank = (cosine to
    * own centroid DESC, vec_id ASC), so of each near-duplicate group the
    * most centroid-proximal member survives and echoes are removed.
    *
    * Output: (vec_id, cell, kept) for every input row — a deterministic,
    * engine-independent keep decision.
    *
    * Scale shape: with `bucketBits = 0` the within-cell pair join is
    * O(|cell|²) candidate pairs — at SemDeDup's operating point k grows
    * with the corpus (the paper uses ~√N clusters) so |cell| stays
    * bounded. `bucketBits > 0` (VERDICT r7 #3) composes
    * [[cosineNearDupPairs]]' hyperplane buckets INSIDE the cell: the
    * pair-join key becomes (cell, bucket) with Hamming-1 multi-probe on
    * the earlier side, exactly like the minhash band join bounds its
    * buckets — a degenerate mega-cell (bad seeds, duplicate-heavy
    * corpora) splits into ~2^bits bounded buckets, at Hamming-≤1 recall
    * (near-exact duplicates straddle at most one hyperplane with
    * overwhelming probability; the oracle replicates the SAME bucketed
    * join bit-for-bit — the theta-band engine-parity discipline — so the
    * contract is deterministic, not probabilistic). Embedding payloads,
    * not text, cross the shuffle (dim × 4 bytes). */
  def semDedup(embeddings: DataFrame, eps: Double, k: Int, iters: Int,
      dim: Int, foldBuckets: Int = 16, bucketBits: Int = 0): DataFrame = {
    require(bucketBits >= 0 && bucketBits <= 16,
      s"bucketBits must be in [0, 16], got $bucketBits")
    reg(embeddings)
    val cents = kmeansCentroids(embeddings, k, iters, dim, foldBuckets)
    val e = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").as("v"))
    val assigned = CheckpointScratch.ckpt(assignCell(e, cents))
    // precedence = the (cos-to-centroid DESC, vec_id ASC) order, applied
    // DIRECTLY in the pair condition — no Window ever sorts a whole cell
    // in one task; a mega-cell stays a hash join + narrow filter
    val earlier = col("cos_a") > col("cos_b") ||
      (col("cos_a") === col("cos_b") && col("id_a") < col("id_b"))
    // guide §8: the (cell[, bucket]) join only DECIDES candidate pairs —
    // it carries (id, cos) and never the dim×4-byte vectors, which
    // re-attach per surviving candidate from the checkpointed `assigned`
    val removed = (if (bucketBits == 0) {
      val a = assigned.select(col("cell"), col("cos").as("cos_a"),
        col("vec_id").as("id_a"))
      val b = assigned.select(col("cell"), col("cos").as("cos_b"),
        col("vec_id").as("id_b"))
      a.join(b, Seq("cell"))
    } else {
      // Hamming-1 multi-probe on the a-side only: a pair at bucket
      // distance d ∈ {0, 1} matches exactly one probe — no pair dedup
      // shuffle needed
      val keyed = assigned.withColumn("bucket0",
        lshBucket(col("v"), dim, bucketBits))
      val probes = array((col("bucket0") +: (0 until bucketBits).map(j =>
        col("bucket0").bitwiseXOR(lit(1L << j)))): _*)
      val a = keyed.select(col("cell"), explode(probes).as("bucket"),
        col("cos").as("cos_a"), col("vec_id").as("id_a"))
      val b = keyed.select(col("cell"), col("bucket0").as("bucket"),
        col("cos").as("cos_b"), col("vec_id").as("id_b"))
      a.join(b, Seq("cell", "bucket"))
    })
      .filter(earlier)
      .join(assigned.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(assigned.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .filter(round(cosine(col("va"), col("vb")), 4) >= eps)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(removed.withColumn("rm", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("rm").isNull.as("kept"))
  }
}
