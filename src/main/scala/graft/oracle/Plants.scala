package graft.oracle

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, pmod}

/** Values the `SparkEntry` queries plant into their fixtures and the
  * oracles read back as SQL text: one definition each, so a change to a
  * plant shows up in this directory. */
private[graft] object Plants {

  /** Deterministic dyadic echo perturbation (ADVICE r7: replaces the
    * libm-dependent sin() — the one oracle input that deviated from the
    * log/exp-free bit-exactness discipline): with 0-based index j,
    * pert(j) = (((j·2654435761) mod 1024)/1024 − 1/2)/32 ∈ [−1/64, 1/64)
    * — exact dyadic rationals end to end (the /32 is a power of two), so
    * the float-cast echo is bit-identical across engines by construction,
    * not empirically. Mirrors the hashModel k/1024 weight pattern. */
  def echoPerturb(x: Column, i: Column): Column =
    (x.cast("double") +
      (pmod(i.cast("long") * lit(2654435761L), lit(1024L)).cast("double")
        / lit(1024.0) - lit(0.5)) / lit(32.0)).cast("float")

  /** The same perturbation in DuckDB terms (oracle `i` is 1-based). */
  val echoPerturbSql: String =
    "CAST(CAST(embedding[i] AS DOUBLE) + " +
      "(CAST(((i - 1) * 2654435761) % 1024 AS DOUBLE) / 1024.0 - 0.5) / 32.0 AS FLOAT)"

  /** Deterministic mixture sampling: configured per-source rates (the
    * data-mixing step); sources outside the mixture are dropped. */
  val MixtureRates: Map[String, Double] =
    Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)

  /** Shared 12-word boilerplate suffix planted on every 3rd doc, so those
    * docs carry exactly 5 duplicated 8-token spans each (the suffix's
    * interior spans; spans crossing the original↔suffix boundary embed
    * doc-specific words and stay unique). */
  val BoilerplateSuffix =
    " all rights reserved terms of service apply contact the site administrator today"

  /** The BPE merge table for q_bpe_tokens / q_bpe_budget — a rank-ordered
    * static tokenizer artifact (the merges.txt role), targeting the
    * synthetic vocabulary with MULTI-LEVEL compounding (t+a→ta, ta+ble→
    * table; da+ta→data) and a rank-priority trap: in "window" the rank-9
    * (o,w) merge must fire BEFORE the positionally-earlier rank-11 (i,n)
    * — lowest rank wins, not leftmost pair. ONE Seq feeds the Spark frame
    * AND the oracle VALUES literal. */
  val BpeMerges: Seq[(Int, String, String)] = Seq(
    (0, "t", "a"), (1, "d", "a"), (2, "da", "ta"), (3, "l", "e"),
    (4, "b", "le"), (5, "ta", "ble"), (6, "k", "e"), (7, "ke", "y"),
    (8, "e", "r"), (9, "o", "w"), (10, "j", "o"), (11, "i", "n"),
    (12, "jo", "in"), (13, "h", "a"), (14, "s", "h"), (15, "ha", "sh"),
    (16, "s", "c"), (17, "a", "n"), (18, "sc", "an"), (19, "z", "q"))

  /** Threshold LADDER for the classifier calibration sweep — exact
    * dyadic rationals (k/32) spanning the regression's working range,
    * so the `score >= t` compare is platform-independent and several
    * rungs split the score mass at every sf (the model — and hence the
    * score cluster — shifts with the corpus). ONE definition shared by
    * the engine query and the oracle VALUES list. */
  val EvalThresholds: Seq[Double] =
    (16 to 26).map(k => k / 32.0)

  /** Probe terms of the q_index_store and q_store_delete ranked search. */
  val IndexStoreTerms = Seq("data", "model", "learning")

  /** Shard count for the two-level pack fold — shared by the Spark
    * queries and the oracle CTE (one constant, zero drift). */
  val PackShards = 4
}
