package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent corpus fingerprints — the reconciliation primitive
  * for resumable multi-cluster runs: after two independent executions
  * (N vs 4N executors, resume-after-kill vs straight-through, engine A
  * vs engine B) each side folds its output to ONE row per group
  * (row count + XOR of canonical row hashes) and the comparison moves
  * group-count rows instead of re-shuffling the corpora against each
  * other. XOR is the right fold: commutative, associative,
  * self-inverse — partition order, task retries that produce identical
  * rows, and merge order all cancel out, and Catalyst partial-aggregates
  * it map-side (a SUM of 64-bit hashes would overflow under ANSI mode —
  * the [[ShardStore]] params-pin lesson).
  *
  * The hash is mix64∘fnv1a over a '|'-joined canonical string of the
  * fingerprinted columns, so an independent engine (the DuckDB oracle)
  * reproduces every fingerprint exactly. Callers choose columns that
  * have stable string forms (ids, BIGINTs, text) — floats should be
  * rounded to a fixed scale first, the repo-wide oracle discipline.
  *
  * Limitation (standard for XOR checksums): a row appearing an EVEN
  * number of times cancels to the same fingerprint as its absence —
  * `n_rows` catches every such case except simultaneous count-preserving
  * double-drop/double-add collisions, which a 64-bit XOR cannot
  * distinguish; include a row-unique id column to make duplicates
  * distinct-hash and restore detection.
  */
object Audit {

  /** One fingerprint row per group: (groupCol, n_rows, fp). `cols` are
    * fingerprinted in the given order (part of the canonical form). */
  def frameFingerprint(df: DataFrame, groupCol: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "fingerprint needs at least one column")
    graft.functions.functions.register(df.sparkSession)
    // explicit per-column coalesce: concat_ws SKIPS null elements (the
    // separator would vanish with them) — NULL canonicalizes as '' so
    // the oracle's COALESCE(col, '') form agrees
    val canon = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
    df.select(col(groupCol), graft.functions.functions.graft_mix64(
        graft.functions.functions.graft_fnv1a64(canon)).as("h"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"), bit_xor(col("h")).as("fp"))
  }

  /** Reconcile two fingerprint frames: FULL OUTER on the group key,
    * status per group — 'ok', 'count' (row counts differ), 'content'
    * (counts equal, hashes differ), 'left_only' / 'right_only'.
    * Output: (groupCol, n_left, n_right, status), one row per group
    * present on either side. */
  def reconcile(a: DataFrame, b: DataFrame, groupCol: String): DataFrame = {
    val l = a.select(col(groupCol), col("n_rows").as("n_left"),
      col("fp").as("fp_l"))
    val r = b.select(col(groupCol), col("n_rows").as("n_right"),
      col("fp").as("fp_r"))
    l.join(r, Seq(groupCol), "full_outer")
      .select(col(groupCol), col("n_left"), col("n_right"),
        when(col("n_left").isNull, lit("right_only"))
          .when(col("n_right").isNull, lit("left_only"))
          .when(col("n_left") =!= col("n_right"), lit("count"))
          .when(col("fp_l") =!= col("fp_r"), lit("content"))
          .otherwise(lit("ok")).as("status"))
  }
}
