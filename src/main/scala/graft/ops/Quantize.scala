package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Int8 scalar quantization for embedding columns — the FAISS SQ8 scale
  * path (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", 2011 §2 discusses the scalar baseline): at 100 TB an
  * `array<float>` embedding column is 4× the bytes of int8 codes, and
  * the codes ride dictionary/bit-packed parquet pages. Codes are
  * per-vector symmetric: scale = max|x|/127, code_i = round(x_i/scale)
  * (round-half-up via floor(x/scale + 0.5) — exact IEEE ops, so Spark
  * and an independent SQL engine agree bit-for-bit).
  *
  * Quantized cosine is scale-FREE: cos(qa, qb) = Σqa·qb /
  * (√Σqa²·√Σqb²) approximates cos(a, b) regardless of the two scales
  * (they cancel), so the dot products are EXACT BIGINT arithmetic and
  * the only float ops are two correctly-rounded sqrts, one multiply and
  * one divide — the repo's bit-exactness discipline holds with no
  * ordered-fold machinery.
  *
  * 100-TB shape: [[int8]] is a pure narrow map (zero shuffle);
  * [[quantizedTopK]] is the brute-force verify tier (broadcast queries ×
  * corpus scan, the [[Similarity.bruteForceTopK]] plan) meant to run
  * cell- or bucket-pruned in composition with the IVF/LSH candidate
  * generators, which stay as they are. */
object Quantize {

  /** Per-vector int8 codes: (id, scale DOUBLE, qvec ARRAY<TINYINT>,
    * qnorm BIGINT). Zero vectors quantize to scale 0 / all-zero codes
    * (guarded — no division). qnorm = Σ code², precomputed because every
    * downstream cosine needs it and the codes page stays unread for
    * norm-only work. */
  def int8(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val xd = transform(col(vecCol), x => abs(x.cast("double")))
    val scale = array_max(xd) / lit(127.0d)
    val codes = transform(col(vecCol), x =>
      when(col("scale") === 0.0d, lit(0L))
        .otherwise(floor(x.cast("double") / col("scale") + lit(0.5d)))
        .cast("byte"))
    embeddings
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol), scale.as("scale"))
      .withColumn("qvec", codes)
      .withColumn("qnorm", aggregate(col("qvec"), lit(0L),
        (acc, x) => acc + x.cast("long") * x.cast("long")))
      .select(col("vec_id"), col("scale"), col("qvec"), col("qnorm"))
  }

  /** Exact BIGINT dot product of two code arrays. */
  private def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Flat PQ codebook layout: entry (s, j, d) at [(s·k + j)·dsub + d] —
    * ONE layout shared by the native encoder, the decode lookup, the
    * trainer and the DuckDB oracle. */
  private def flatIndex(s: Int, j: Int, d: Int, k: Int, dsub: Int): Int =
    (s * k + j) * dsub + d

  /** Seed codebooks for product quantization: sub-vectors of the first
    * `k` corpus vectors by vec_id — the [[Similarity.trainCentroids]] /
    * kmeansCentroids seeding convention (no RNG, engine-reproducible).
    * Bounded driver work: k×dim doubles. */
  def pqSeedCodebooks(corpus: DataFrame, dim: Int, m: Int, k: Int): Array[Double] = {
    require(dim >= m && dim % m == 0, s"dim $dim must be a multiple of m=$m")
    val dsub = dim / m
    val seeds = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(k).collect()
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))
    require(seeds.length == k, s"need >= $k vectors to seed PQ, got ${seeds.length}")
    val flat = new Array[Double](m * k * dsub)
    for (s <- 0 until m; j <- 0 until k; d <- 0 until dsub)
      flat(flatIndex(s, j, d, k, dsub)) = seeds(j)(s * dsub + d)
    flat
  }

  /** (vec_id, codes ARRAY<INT>) under a flat codebook — the native
    * [[graft.functions.PqEncode]] argmin pass (codegen'd; the codebook
    * rides the plan as one literal, never a join). m bytes of code
    * replace dim×4 bytes of floats — 32× at dim 64 / m 8 — and the codes
    * column dictionary-encodes in parquet. */
  def pqEncode(corpus: DataFrame, flat: Array[Double], dsub: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.functions.register(corpus.sparkSession)
    corpus.select(col(idCol).cast("long").as("vec_id"),
      graft.functions.functions.graft_pq_encode(col(vecCol),
        typedLit(flat.toSeq), lit(dsub), lit(k)).as("codes"))
  }

  /** Reconstruction column from a codes column: concat of the coded
    * sub-centroids in subspace order — a pure array lookup (declarative;
    * the downstream cosine is the native codegen'd kernel, so decode
    * stays off the multiply-add hot path). */
  def pqDecode(codes: Column, flat: Array[Double], dsub: Int, k: Int): Column = {
    val m = flat.length / (k * dsub)
    val cbNested: Seq[Seq[Double]] = (0 until m * k).map(i =>
      (0 until dsub).map(d => flat(i * dsub + d)))
    flatten(transform(codes, (c, s) =>
      element_at(typedLit(cbNested), s * lit(k) + c + lit(1))))
  }

  /** Asymmetric PQ top-k (the ADC query shape of Jégou et al. 2011 §4.2,
    * cosine form): queries stay full-precision, the corpus is scanned as
    * m-byte codes and scored against its reconstruction —
    * round(cos(decode(codes), q), 4), deterministic rank (cos DESC, id
    * ASC). Seeded codebooks by default; pass `flat` from
    * [[pqTrainCodebooks]] for trained ones. At scale this runs
    * cell-pruned under the IVF/LSH candidate generators exactly like
    * [[quantizedTopK]] — the brute scan here is the verify tier. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int, m: Int,
      kcb: Int = 16, flatOpt: Option[Array[Double]] = None): DataFrame = {
    require(dim >= m && dim % m == 0, s"dim $dim must be a multiple of m=$m")
    val dsub = dim / m
    val flat = flatOpt.getOrElse(pqSeedCodebooks(corpus, dim, m, kcb))
    val c = pqEncode(corpus, flat, dsub, kcb)
      .select(col("vec_id").as("neighbor_id"),
        pqDecode(col("codes"), flat, dsub, kcb).as("rv"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(Similarity.cosine(col("rv"), col("qv")), 4))
    Similarity.rankTopK(scored, "cos", k)
  }

  /** Lloyd-trained PQ codebooks — per-subspace k-means on the L2 metric
    * (the textbook PQ trainer), deterministic like
    * [[Similarity.kmeansCentroids]]: seeds = first-k sub-vectors, fixed
    * `iters`, per-(subspace, code, dim) means where the double sum folds
    * members in the two-level (vec_id % foldBuckets, bucket) ordered tree
    * (hub safety — a mega-cell folds in bounded tasks), one IEEE division
    * by the member count, empty cells keep their previous centroid.
    * Per iteration: one narrow native encode pass, one posexplode shuffle
    * keyed (s, c, d, bucket), and an m·k·dsub collect (bounded driver
    * work — 1024 doubles at m=8, k=16, dsub=8). */
  def pqTrainCodebooks(corpus: DataFrame, dim: Int, m: Int, k: Int, iters: Int,
      foldBuckets: Int = 16): Array[Double] = {
    require(dim >= m && dim % m == 0, s"dim $dim must be a multiple of m=$m")
    require(iters >= 0 && foldBuckets >= 1, s"bad iters=$iters foldBuckets=$foldBuckets")
    val dsub = dim / m
    graft.functions.functions.register(corpus.sparkSession)
    val e = CheckpointScratch.ckpt(corpus
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding").as("v")))
    var flat = pqSeedCodebooks(e.withColumnRenamed("v", "embedding"), dim, m, k)
    for (_ <- 1 to iters) {
      // consumed twice (sums + counts) — uncached the encode pass runs twice
      val enc = CheckpointScratch.ckpt(e.withColumn("codes",
        graft.functions.functions.graft_pq_encode(col("v"),
          typedLit(flat.toSeq), lit(dsub), lit(k))))
      val comp = enc
        .select(col("vec_id"), col("codes"), posexplode(col("v")).as(Seq("idx", "x")))
        .select(col("vec_id"), expr(s"idx div $dsub").cast("int").as("s"),
          pmod(col("idx"), lit(dsub)).as("d"), col("x").cast("double").as("x"),
          col("codes"))
        .withColumn("c", element_at(col("codes"), col("s") + 1))
        .select(col("s"), col("c"), col("d"),
          pmod(col("vec_id"), lit(foldBuckets.toLong)).as("bk"),
          col("vec_id"), col("x"))
      val sums = comp.groupBy(col("s"), col("c"), col("d"), col("bk"))
        .agg(Graph.orderedFold(col("vec_id"), col("x")).as("p"))
        .groupBy(col("s"), col("c"), col("d"))
        .agg(Graph.orderedFold(col("bk"), col("p")).as("sum"))
      val cnts = enc.select(posexplode(col("codes")).as(Seq("s", "c")))
        .groupBy(col("s"), col("c")).count()
      val cntArr = Array.fill(m, k)(0L)
      cnts.collect().foreach(r => cntArr(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      val sumArr = new Array[Double](m * k * dsub)
      sums.collect().foreach(r =>
        sumArr(flatIndex(r.getInt(0), r.getInt(1), r.getInt(2), k, dsub)) = r.getDouble(3))
      val next = new Array[Double](m * k * dsub)
      for (s <- 0 until m; j <- 0 until k; d <- 0 until dsub) {
        val i = flatIndex(s, j, d, k, dsub)
        next(i) = if (cntArr(s)(j) == 0L) flat(i) else sumArr(i) / cntArr(s)(j).toDouble
      }
      flat = next
      CheckpointScratch.drop(enc)
    }
    CheckpointScratch.drop(e)
    flat
  }

  /** Brute-force top-k neighbors in CODE space — symmetric quantized
    * cosine, deterministic rank (rounded cosine desc, neighbor id asc),
    * the [[Similarity.bruteForceTopK]] contract over int8 codes. Zero
    * vectors (qnorm 0) can't rank — they are excluded from both sides
    * rather than dividing by zero. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = int8(corpus, idCol, vecCol).filter(col("qnorm") > 0L)
      .select(col("vec_id").as("neighbor_id"), col("qvec").as("cq"),
        col("qnorm").as("cn"))
    val q = int8(queries, idCol, vecCol).filter(col("qnorm") > 0L)
      .select(col("vec_id").as("query_id"), col("qvec").as("qq"),
        col("qnorm").as("qn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("qcos", round(
        qdot(col("cq"), col("qq")).cast("double")
          / (sqrt(col("cn").cast("double")) * sqrt(col("qn").cast("double"))), 4))
    Similarity.rankTopK(scored, "qcos", k)
  }
}
