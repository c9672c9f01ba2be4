package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Feature hashing — the "hashing trick" (Weinberger, Dasgupta, Langford,
  * Smola, Attenberg, ICML 2009): project an unbounded token vocabulary
  * into a FIXED D-dimensional sparse vector with dim = h & (D−1) and a
  * ±1 sign drawn from an independent hash bit, so colliding tokens
  * cancel in expectation (the unbiased variant, §3). The classic
  * vocabulary-free featurizer for web-scale classifier training: no
  * dictionary build, no dictionary broadcast, a fixed model width
  * regardless of corpus growth — the property that matters when the
  * corpus is 10^12 documents and a token dictionary would itself be a
  * distributed table ([[Classifier]] keeps the dictionary as a table;
  * this is the other standard deployment).
  *
  * Scale shape: one narrow tokenize → hash pass, then one
  * (id, dim)-keyed partial-aggregating groupBy — per-doc output is
  * bounded by min(doc tokens, D) rows, shuffle keys are fine-grained,
  * and nothing is collected or broadcast. Determinism: dim and sign come
  * from mix64∘fnv1a bits (bit 62 for the sign, disjoint from the dim
  * bits for D ≤ 2^32), so any engine reproduces the exact integer
  * weights from the shared hash.
  */
object Features {

  /** Sparse signed-term-frequency vectors: (idCol, dim, weight) with
    * weight = Σ_occurrences sign(tok) — integer, exact, reproducible.
    * `dims` must be a power of two (the mask-equals-mod trick keeps the
    * signed/unsigned hash domains in agreement). */
  def hashFeatures(docs: DataFrame, dims: Int = 1024, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(dims >= 2 && (dims & (dims - 1)) == 0,
      s"dims must be a power of two >= 2, got $dims")
    graft.functions.functions.register(docs.sparkSession)
    import graft.functions.functions.{graft_fnv1a64, graft_mix64}
    docs
      .select(col(idCol), explode(
        filter(split(col(textCol), " "), w => length(w) > 0)).as("tok"))
      .select(col(idCol), graft_mix64(graft_fnv1a64(col("tok"))).as("h"))
      .select(col(idCol), expr(s"h & ${dims - 1}").as("dim"),
        (expr("shiftrightunsigned(h, 62) & 1") * 2L - 1L).as("sg"))
      .groupBy(col(idCol), col("dim"))
      .agg(sum(col("sg")).as("weight"))
  }

  /** Brute-force cosine top-k over hashed-feature vectors — TEXT
    * similarity search with no embedding model: documents become
    * D-dimensional signed-TF vectors ([[hashFeatures]]) and similarity
    * is their cosine. Everything before the final division is INTEGER:
    * dot products and squared norms are exact BIGINT sums (order-free,
    * so partition layout cannot perturb them), and the one float step is
    * dot/√(n²·n²) — sqrt is IEEE-correctly-rounded, so any engine
    * reproduces the ranking bit-for-bit (the [[Splits]] temperature
    * precedent: sqrt as the only float op).
    *
    * This is the verify/baseline tier: candidates are every doc sharing
    * a dimension with the query, which at D ≪ corpus is the whole
    * corpus — O(|queries| · N). Correct for query panels (evaluation,
    * spot-audit); the scale path for all-pairs search is the LSH/IVF
    * machinery in [[Similarity]], which this op's exact ranking
    * validates against.
    *
    * Output: (query_id, neighbor_id, rank, cos) — `k` rows per query,
    * ranked by [[Similarity.rankTopK]] on the EXACT cosine (ties broken by
    * neighbor id ascending), then rounded. A zero-norm vector has no
    * defined cosine: it gets no neighbors and is no one's neighbor. */
  def cosineTopK(feat: DataFrame, queryIds: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val n2 = feat.groupBy(col("doc_id"))
      .agg(sum(col("weight") * col("weight")).as("n2"))
      .filter(col("n2") > 0L)
    val q = feat.join(queryIds.select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as("qid"), col("dim"), col("weight").as("qw"))
    val dots = q.join(
        feat.select(col("doc_id").as("cid"), col("dim"), col("weight").as("cw")),
        Seq("dim"))
      .filter(col("cid") =!= col("qid"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("qw") * col("cw")).as("dot"))
    val scored = dots
      .join(n2.select(col("doc_id").as("qid"), col("n2").as("n2q")), Seq("qid"))
      .join(n2.select(col("doc_id").as("cid"), col("n2").as("n2c")), Seq("cid"))
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        (col("dot").cast("double") /
          sqrt(col("n2q").cast("double") * col("n2c").cast("double"))).as("cos"))
    Similarity.rankTopK(scored, "cos", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 4).as("cos"))
  }
}
