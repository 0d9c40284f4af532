package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ThresholdBucket

/** Evaluation-framework dataflow operators (`LR_Model_train/LR_Advanced.py:
  * 656-677`, `OOF_AUC_test.py:336-371`) as distributed aggregations — the
  * sklearn metric calls become groupBy plans with exact arithmetic (counts +
  * one final division), so the DuckDB oracle matches bit-for-bit.
  *
  * Threshold semantics: predict positive when `score >= threshold`, matching
  * the reference (`OOF_AUC_test.py:367` uses `proba >= thr`).
  *
  * Scale shape: NO global single-partition windows anywhere (round 1's
  * `aucRoc` used `rank().over(Window.orderBy(score))`, which moves every
  * scored row to one task). All rank/cumulative logic now runs over the
  * DISTINCT-SCORE table (a map-side-combined groupBy first), with global
  * prefix sums via [[PrefixSum]] (range-partitioned parallel prefix).
  */
object Metrics {

  /** Confusion matrix counts: one row per (label, prediction). */
  def confusion(df: DataFrame, label: String, pred: String): DataFrame =
    df.groupBy(col(label), col(pred)).agg(count(lit(1)).as("n"))

  /** Accuracy / precision / recall / F1 at a threshold, one output row.
    * All ratios are single divisions of exact long counts. */
  def binaryMetrics(df: DataFrame, label: String, score: String, threshold: Double): DataFrame = {
    val pred = when(col(score) >= lit(threshold), 1).otherwise(0)
    val agg = df.agg(
      sum(when(col(label) === 1 && pred === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(col(label) === 0 && pred === 1, 1L).otherwise(0L)).as("fp"),
      sum(when(col(label) === 0 && pred === 0, 1L).otherwise(0L)).as("tn"),
      sum(when(col(label) === 1 && pred === 0, 1L).otherwise(0L)).as("fn"))
    val d = (c: Column) => c.cast("double")
    // null (not error/Inf) on empty denominators — sklearn's zero_division
    // analog, and what the CASE-guarded oracle SQL produces
    def safe(num: Column, den: Column): Column = when(den > 0.0, num / den)
    agg.select(col("tp"), col("fp"), col("tn"), col("fn"),
      safe(d(col("tp")) + d(col("tn")),
        d(col("tp")) + d(col("tn")) + d(col("fp")) + d(col("fn"))).as("accuracy"),
      safe(d(col("tp")), d(col("tp")) + d(col("fp"))).as("precision"),
      safe(d(col("tp")), d(col("tp")) + d(col("fn"))).as("recall"),
      safe(lit(2.0) * d(col("tp")),
        lit(2.0) * d(col("tp")) + d(col("fp")) + d(col("fn"))).as("f1"))
  }

  /** Per grouping key, total rows `__n` and positives `__p`. The first stage
    * of every rank-based metric — map-side combined, so the shuffle carries
    * one row per key (distinct score or threshold bucket), not per row. */
  private def histogram(df: DataFrame, label: String, key: Column): DataFrame =
    df.groupBy(key).agg(
      count(lit(1)).as("__n"),
      sum(when(col(label) === 1, 1L).otherwise(0L)).as("__p"))

  /** ROC AUC via the Mann-Whitney U statistic with average ranks for ties:
    * AUC = (Σ ranks(positives) − P(P+1)/2) / (P·N).
    *
    * Plan: distinct-score histogram → [[PrefixSum]] over score order (no
    * single-partition window) → one aggregate. Every positive in a tie group
    * shares avg rank (cum_before + (n+1)/2), so the group contribution
    * p·(cum_before + (n+1)/2) is a multiple of 0.5 — exactly representable,
    * making the double sum order-independent and oracle-hash-stable. */
  def aucRoc(df: DataFrame, label: String, score: String): DataFrame = {
    val cum = PrefixSum.runningSums(histogram(df, label, col(score).as("__s")), Seq(col("__s")), Seq("__n"))
    val contrib = col("__p").cast("double") *
      ((col("__n_cum") - col("__n")).cast("double") + (col("__n").cast("double") + 1.0) / 2.0)
    cum.agg(
      sum(contrib).as("__sumR"),
      sum(col("__p")).as("__pp"),
      sum(col("__n") - col("__p")).as("__nn"))
      .select(when(col("__pp") > 0 && col("__nn") > 0,
        (col("__sumR") - col("__pp").cast("double") * (col("__pp").cast("double") + 1.0) / 2.0)
          / (col("__pp").cast("double") * col("__nn").cast("double"))).as("auc"))
  }

  /** Calibration bins (`OOF_AUC_test.py` 10 uniform bins): per bin of the
    * score, mean score / positive rate / count — exact sum/count arithmetic
    * over score values that are themselves deterministic. */
  def calibrationBins(df: DataFrame, label: String, score: String, bins: Int = 10): DataFrame = {
    val bin = least(greatest(floor(col(score) * bins), lit(0)), lit(bins - 1)).cast("int")
    df.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        (sum(when(col(label) === 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("pos_rate"))
  }

  /** F1 over a threshold grid (the 99-threshold scan, `OOF_AUC_test.py:355-
    * 364`) as one exact, lazy sweep: no job at construction, nothing cached.
    * The thresholds are sorted and deduplicated the way Spark groups doubles
    * (−0.0 = 0.0, NaN = NaN). Each row's bucket `b` = |{t : score >= t}|
    * under Spark's `>=` ([[ThresholdBucket]]; NaN is above every number); the
    * ≤ |thresholds|+2-row histogram over `b` crosses the broadcast thresholds
    * (index `i`): tp = Σp and fp = Σq over b > i, fn = Σp over b ≤ i, with
    * p / q the label = 1 / label = 0 counts. A null score is counted nowhere,
    * and so is a label other than 0 and 1 (null included), as in the oracle. */
  def thresholdScan(df: DataFrame, label: String, score: String,
                    thresholds: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ts = thresholds.map(t => java.lang.Double.doubleToLongBits(if (t == 0.0) 0.0 else t))
      .distinct.map(java.lang.Double.longBitsToDouble).sorted(Ordering.Double.TotalOrdering)
    val th = ts.zipWithIndex.toDF("threshold", "__i")
    val above = col("__b") > col("__i")
    val Seq(tp, fp, fn) = Seq("tp", "fp", "fn").map(c => col(c).cast("double"))
    val den = lit(2.0) * tp + fp + fn
    df.groupBy(ThresholdBucket.threshold_bucket(col(score).cast("double"), ts).as("__b"))
      .agg(sum(when(col(label) === 1, 1L).otherwise(0L)).as("__p"),
        sum(when(col(label) === 0, 1L).otherwise(0L)).as("__q"))
      .crossJoin(broadcast(th))
      .groupBy(col("threshold"))
      .agg(
        sum(when(above, col("__p")).otherwise(0L)).as("tp"),
        sum(when(above, col("__q")).otherwise(0L)).as("fp"),
        sum(when(col("__b") <= col("__i"), col("__p")).otherwise(0L)).as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        when(den > 0.0, (lit(2.0) * tp) / den).as("f1"))
  }

  /** Guarded cumulative score table for PR metrics: descending prefix sums
    * over the distinct-score histogram, with the continuous-score quantize
    * guard. Returns the cumulative table plus the global positive total
    * (free from the prefix pass-1 carry — no extra agg job).
    *
    * Guard: |distinct| also rides the pass-1 carry (`__one`); above
    * `maxDistinctScores` the histogram is re-aggregated onto a
    * `floor(score·quantizeBins)/quantizeBins` grid before the prefix pass,
    * bounding both the fold/collect sizes downstream AND the output row
    * count at `quantizeBins`+1. EAGER like the PrefixSum it wraps. */
  private def guardedCumulative(df: DataFrame, label: String, score: String,
                                maxDistinctScores: Long,
                                quantizeBins: Int): (DataFrame, Long) = {
    val g0 = histogram(df, label, col(score).as("__s")).withColumn("__one", lit(1L))
    val (cum0, tot0) =
      PrefixSum.runningSumsWithTotals(g0, Seq(col("__s").desc), Seq("__n", "__p", "__one"))
    if (tot0("__one") <= maxDistinctScores)
      (cum0.drop("__one", "__one_cum"), tot0("__p"))
    else {
      val gq = g0.groupBy((floor(col("__s") * quantizeBins) / quantizeBins).as("__s"))
        .agg(sum(col("__n")).as("__n"), sum(col("__p")).as("__p"))
      val (c, t) = PrefixSum.runningSumsWithTotals(gq, Seq(col("__s").desc), Seq("__n", "__p"))
      (c, t("__p"))
    }
  }

  /** OOF precision-recall curve (`OOF_AUC_test.py:336-340`): one row per
    * distinct score threshold with exact cumulative counts; precision and
    * recall are single divisions of exact longs (oracle-hash-stable).
    * Continuous scores quantize past `maxDistinctScores` (see
    * [[guardedCumulative]]) so the curve itself stays bounded — callers that
    * collect it for plotting (EvalMain) pass a small `quantizeBins`. */
  def prCurve(df: DataFrame, label: String, score: String,
              maxDistinctScores: Long = 1L << 20,
              quantizeBins: Int = 100000): DataFrame = {
    val (cum, tpTotal) =
      guardedCumulative(df, label, score, maxDistinctScores, quantizeBins)
    cum.select(
      col("__s").as("threshold"),
      col("__p_cum").as("tp"),
      col("__n_cum").as("n_pred"),
      (col("__p_cum").cast("double") / col("__n_cum").cast("double")).as("precision"),
      when(lit(tpTotal) > 0,
        col("__p_cum").cast("double") / lit(tpTotal).cast("double")).as("recall"))
  }

  /** Average precision (sklearn `average_precision_score`, the reference's
    * headline PR-AUC): AP = Σ_j ΔR_j · P_j over thresholds = distinct scores
    * descending, ΔR_j = p_j/P, P_j = tp_j/n_pred_j.
    *
    * The terms are inexact doubles, so the REDUCTION order matters for
    * bit-parity: both this plan and the DuckDB oracle fold the (tiny,
    * |distinct scores|-sized) term list sequentially in ascending-score
    * order — collect_list → sort_array → aggregate here, list(... ORDER BY
    * score) → list_reduce there — giving a bit-reproducible scalar. The
    * heavy work (histogram, prefix sums) is all distributed; only the final
    * |distinct|-element fold is single-node, and it arrives pre-aggregated.
    *
    * Continuous-score guard (round-2 fix): for continuous double scores
    * |distinct| ≈ |rows|, which would funnel every row into that one fold
    * buffer. The distinct-score count (and the positive total) come FREE
    * from the prefix pass-1 carry — no extra guard job; above
    * `maxDistinctScores` the histogram is re-aggregated onto a
    * `floor(score·quantizeBins)/quantizeBins` grid before the prefix/fold
    * stages, bounding the fold at `quantizeBins`+1 terms. Quantized AP is
    * an approximation (standard for at-scale PR metrics); the default
    * threshold (2^20 distinct) keeps every exact-oracle use on the exact
    * path. EAGER like the PrefixSum it wraps. */
  def averagePrecision(df: DataFrame, label: String, score: String,
                       maxDistinctScores: Long = 1L << 20,
                       quantizeBins: Int = 100000): DataFrame = {
    val (cum, tpTotal) =
      guardedCumulative(df, label, score, maxDistinctScores, quantizeBins)
    val term = (col("__p").cast("double") / lit(tpTotal).cast("double")) *
      (col("__p_cum").cast("double") / col("__n_cum").cast("double"))
    cum
      .filter(lit(tpTotal) > 0L) // no positives ⇒ empty term list ⇒ 0.0 (oracle-identical)
      .select(col("__s"), term.as("__term"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("__s"), col("__term")))),
        lit(0.0),
        (acc, x) => acc + x.getField("__term")).as("auc_pr"))
  }
}
