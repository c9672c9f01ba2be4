package graft.spark

import graft.core.TextMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness-metrics stage (SURVEY §3 E2; reference
  * /root/reference/src/error_rate_detection.py).
  *
  * Text branch: golden⋈prediction on url (J2), WER/CER per doc (A7).
  * Table branch: full-outer positional cell alignment (J4 — pandas
  * df.align with fill "") then precision/recall from cell equality (A4),
  * per-doc unweighted means (A5, NaN-parity when a side is empty).
  *
  * The golden side is small in the reference (10 pages) but is NOT
  * guaranteed small for arbitrary callers — no unconditional broadcast
  * hint: AQE picks broadcast at runtime when the golden side fits
  * (spark.sql.adaptive.autoBroadcastJoinThreshold), and falls back to a
  * shuffle join instead of a driver OOM when it doesn't.
  */
object MetricsJob {

  /** Per-url WER/CER. `golden(url, text)`, `pred(url, text)`. Inner join =
    * the reference's skip-missing pairing (error_rate_detection.py:60-75). */
  def textMetrics(spark: SparkSession, golden: DataFrame, pred: DataFrame): DataFrame = {
    import spark.implicits._
    val joined = golden.select(col("url"), col("text").as("gt"))
      .join(pred.select(col("url"), col("text").as("hyp")), Seq("url"))
    joined.as[(String, String, String)].map { case (url, gt, hyp) =>
      (url, TextMetrics.wer(gt, hyp), TextMetrics.cer(gt, hyp),
        gt == hyp) // the strict byte-identity bit (SURVEY §5.2)
    }.toDF("url", "wer", "cer", "exact")
  }

  /** Cell-level precision/recall after full-outer (page, r, c) alignment.
    * Inputs: cells(url, page, r, c, v). Missing positions count as "" on
    * the other side (error_rate_detection.py:116-127). */
  def tableMetrics(goldenCells: DataFrame, predCells: DataFrame): DataFrame = {
    val g = goldenCells.select(col("url"), col("page"), col("r"), col("c"), col("v").as("gv"))
    val p = predCells.select(col("url"), col("page"), col("r"), col("c"), col("v").as("pv"))
    val aligned = g.join(p, Seq("url", "page", "r", "c"), "full_outer")
      .select(col("url"), col("page"),
        coalesce(col("gv"), lit("")).as("gv"),
        coalesce(col("pv"), lit("")).as("pv"),
        col("gv").isNotNull.as("in_g"), col("pv").isNotNull.as("in_p"))
    aligned.groupBy(col("url"), col("page"))
      .agg(
        sum(when(col("gv") === col("pv"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("in_p"), 1L).otherwise(0L)).as("n_pred"),
        sum(when(col("in_g"), 1L).otherwise(0L)).as("n_gold"))
      .withColumn("precision",
        when(col("n_pred") > 0, col("tp").cast("double") / col("n_pred")).otherwise(lit(Double.NaN)))
      .withColumn("recall",
        when(col("n_gold") > 0, col("tp").cast("double") / col("n_gold")).otherwise(lit(Double.NaN)))
  }

  /** Threshold gates mirroring the reference's pytest suite
    * (/root/reference/tests/error_test.py:12,17,22,27): WER < 0.5,
    * CER < 0.3, table precision ≥ 0.3, recall > 0.3 — per doc. Our own
    * gate is stricter (byte identity), but the reference gates stay
    * available as the compatibility surface. */
  def gates(textM: DataFrame, tableM: DataFrame): DataFrame = {
    val t = textM.groupBy(col("url"))
      .agg(avg(col("wer")).as("wer"), avg(col("cer")).as("cer"))
    val c = tableM.groupBy(col("url"))
      .agg(avg(col("precision")).as("precision"), avg(col("recall")).as("recall"))
    t.join(c, Seq("url"), "full_outer")
      .withColumn("pass_wer", col("wer") < 0.5)
      .withColumn("pass_cer", col("cer") < 0.3)
      .withColumn("pass_precision", col("precision").isNull || col("precision") >= 0.3)
      .withColumn("pass_recall", col("recall").isNull || col("recall") > 0.3)
      .withColumn("pass_all",
        col("pass_wer") && col("pass_cer") && col("pass_precision") && col("pass_recall"))
  }
}
