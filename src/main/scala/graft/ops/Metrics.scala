package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{ScoreCurve, ThresholdBucket}

/** Evaluation-framework dataflow operators (`LR_Model_train/LR_Advanced.py:
  * 656-677`, `OOF_AUC_test.py:336-371`) as distributed aggregations — the
  * sklearn metric calls become aggregate plans with exact arithmetic (counts
  * + one final division), so the DuckDB oracle matches bit-for-bit. Every
  * metric is lazy: building one runs no job.
  *
  * Threshold semantics: predict positive when `score >= threshold`, matching
  * the reference (`OOF_AUC_test.py:367` uses `proba >= thr`).
  *
  * Scale shape: NO global single-partition windows anywhere (round 1's
  * `aucRoc` used `rank().over(Window.orderBy(score))`, which moves every
  * scored row to one task). The rank metrics (`aucRoc`, `prCurve`,
  * `averagePrecision`) project one [[ScoreCurve]] array: a per-task
  * distinct-score histogram, merged once and bounded by its quantize guard.
  */
object Metrics {

  /** Default guard of the rank metrics: exact up to 2^20 distinct scores,
    * a 10^-5 grid above. */
  private val MaxDistinctScores = 1L << 20
  private val QuantizeBins = 100000

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

  /** One row holding the [[ScoreCurve]] `__c` of `score`; label = 1 is
    * positive, every other label (null included) negative. */
  private def curve(df: DataFrame, label: String, score: String,
                    maxDistinctScores: Long, quantizeBins: Int): DataFrame =
    df.agg(ScoreCurve.score_curve(col(score).cast("double"), col(label) === 1,
      maxDistinctScores, quantizeBins).as("__c"))

  /** The last curve point, whose `n_cum` / `p_cum` are the totals; null on an
    * empty curve (`element_at` would throw under ANSI mode). */
  private val total = try_element_at(col("__c"), lit(-1))

  /** ROC AUC via the Mann-Whitney U statistic with average ranks for ties:
    * AUC = (Σ ranks(positives) − P(P+1)/2) / (P·N), null without both
    * classes. A higher-order sum over the [[ScoreCurve]]: the positives of a
    * tie group share the rank (total − n_cum) + (n+1)/2, so each group adds
    * a multiple of 0.5 — exact, so the double sum is order-independent and
    * oracle-hash-stable.
    *
    * The curve's guard applies: exact up to 2^20 distinct scores (every
    * oracle, spec and bench input); above that, scores are ranked on the
    * `floor(s·100000)/100000` grid that `prCurve` and `averagePrecision`
    * use by default. */
  def aucRoc(df: DataFrame, label: String, score: String): DataFrame = {
    val nTot = total.getField("n_cum")
    val (pp, nn) = (col("__pp").cast("double"), col("__nn").cast("double"))
    curve(df, label, score, MaxDistinctScores, QuantizeBins)
      .select(
        aggregate(col("__c"), lit(0.0), (acc, x) => acc + x.getField("p").cast("double") *
          ((nTot - x.getField("n_cum")).cast("double") +
            (x.getField("n").cast("double") + 1.0) / 2.0)).as("__sumR"),
        total.getField("p_cum").as("__pp"),
        (nTot - total.getField("p_cum")).as("__nn"))
      .select(when(col("__pp") > 0 && col("__nn") > 0,
        (col("__sumR") - pp * (pp + 1.0) / 2.0) / (pp * nn)).as("auc"))
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

  /** OOF precision-recall curve (`OOF_AUC_test.py:336-340`): one row per
    * point of the [[ScoreCurve]], descending; precision and recall are single
    * divisions of exact longs (oracle-hash-stable), recall null without
    * positives. `threshold` is the score cast to double, whatever the score
    * column's type. Past `maxDistinctScores` distinct scores the thresholds
    * are the `floor(s·quantizeBins)/quantizeBins` grid, so the curve itself
    * stays bounded — callers that collect it for plotting (EvalMain) pass a
    * small `quantizeBins`. */
  def prCurve(df: DataFrame, label: String, score: String,
              maxDistinctScores: Long = MaxDistinctScores,
              quantizeBins: Int = QuantizeBins): DataFrame = {
    val tp = col("p_cum").cast("double")
    curve(df, label, score, maxDistinctScores, quantizeBins)
      .select(inline(col("__c")), total.getField("p_cum").as("__pt"))
      .select(col("s").as("threshold"), col("p_cum").as("tp"), col("n_cum").as("n_pred"),
        (tp / col("n_cum").cast("double")).as("precision"),
        when(col("__pt") > 0, tp / col("__pt").cast("double")).as("recall"))
  }

  /** Average precision (sklearn `average_precision_score`, the reference's
    * headline PR-AUC): AP = Σ_j ΔR_j · P_j over thresholds = distinct scores
    * descending, ΔR_j = p_j/P, P_j = tp_j/n_pred_j; 0.0 without positives.
    *
    * The terms are inexact doubles, so the REDUCTION order matters for
    * bit-parity: both this plan and the DuckDB oracle fold the term list
    * sequentially in ascending-score order — `aggregate(reverse(curve))`
    * here, list(... ORDER BY score) → list_reduce there — giving a
    * bit-reproducible scalar.
    *
    * Guard: past `maxDistinctScores` (continuous scores) the [[ScoreCurve]]
    * moves onto the `floor(score·quantizeBins)/quantizeBins` grid, bounding
    * the fold at `quantizeBins`+1 terms. Quantized AP is an approximation
    * (standard for at-scale PR metrics); the default bound (2^20 distinct)
    * keeps every exact-oracle use on the exact path. */
  def averagePrecision(df: DataFrame, label: String, score: String,
                       maxDistinctScores: Long = MaxDistinctScores,
                       quantizeBins: Int = QuantizeBins): DataFrame = {
    val pTot = total.getField("p_cum")
    curve(df, label, score, maxDistinctScores, quantizeBins)
      .select(when(pTot > 0, aggregate(reverse(col("__c")), lit(0.0), (acc, x) =>
        acc + (x.getField("p").cast("double") / pTot.cast("double")) *
          (x.getField("p_cum").cast("double") / x.getField("n_cum").cast("double"))))
        .otherwise(0.0).as("auc_pr"))
  }
}
