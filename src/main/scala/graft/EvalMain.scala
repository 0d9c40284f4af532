package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ml.Models
import graft.ops.Metrics
import graft.sinks.{Figures, Xlsx}

/** End-to-end evaluation-run artifact CLI — the engine analog of running
  * `LR_Model_train/LR_Advanced.py` to completion (per-fold metrics printout
  * `:656-684`, top-coefficient chart `:566-601`, xlsx result exports):
  *
  *   runMain graft.EvalMain <outDir> [sfDir=/root/testdata/sf0.001] [k=3]
  *
  * Writes into <outDir>:
  *   - eval_metrics.json       per-fold acc/precision/recall/F1/AUC/PR-AUC
  *                             + mean±std summary (Models.evaluationRun)
  *   - feature_importance.xlsx/.csv  top-k |coefficient| table (dual sink)
  *   - feature_importance.svg/.png  signed bar chart (SVG + raster twin)
  *   - pr_curve.svg/.png       precision-recall curve of the full-fit model
  *
  * Slot grain (the label keeps both classes at every SF) with a synthesized
  * unique numeric slot id so the stratified fold scramble stays
  * deterministic; purchase-derived features are excluded from the feature
  * set the same way the reference drops its buy-derived columns
  * (`LR_Advanced.py:484-491` leakage exclusion list).
  */
object EvalMain {

  def run(spark: SparkSession, outDir: String, sfDir: String, k: Int): Unit = {
    Files.createDirectories(Paths.get(outDir))
    // unique slot id: user_id × 8 + day_code × 4 + period_code — a pure
    // function of the slot key (2 day types × 4 periods)
    val periodCode = graft.ops.Windowize.periodsV2.zipWithIndex
      .foldLeft(lit(0)) { case (acc, ((label, _, _), i)) =>
        when(col("time_period") === label, i).otherwise(acc)
      }
    val slots = Pipelines.slots(spark, sfDir).withColumn("slot_id",
      col("user_id").cast("long") * 8L +
        when(col("day_type") === "Weekend", 4L).otherwise(0L) + periodCode.cast("long"))
    val behaviors = Pipelines.quartet.filterNot(_ == "purchase") // leakage exclusion
    val feats = behaviors.map(b => s"${b}_count")

    // 1. the composed per-fold evaluation run → JSON artifact
    val folds = Models.evaluationRun(slots, feats, "purchase_yn", "slot_id", k = k)
    Files.writeString(Paths.get(s"$outDir/eval_metrics.json"), Models.evaluationJson(folds))

    // 2. top-k |coef| importance → xlsx + csv + svg
    val (model, coefs) = Models.logistic(slots, feats, "purchase_yn", maxIter = 25)
    val fi = Models.featureImportance(coefs, topK = feats.size)
    import spark.implicits._
    Xlsx.writeWithCsv(fi.toDF("feature", "coef", "rank").orderBy("rank"),
      outDir, "feature_importance")
    Figures.save(
      Figures.importanceBarSvg(fi.map(x => x._1 -> x._2), title = "Top LR coefficients"),
      s"$outDir/feature_importance.svg")
    Figures.savePng(Figures.importanceBarPng(fi.map(x => x._1 -> x._2)),
      s"$outDir/feature_importance.png")

    // 3. PR curve of the full-fit model's scores → svg
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(feats.toArray).setOutputCol("features")
      .transform(slots.na.fill(0.0))
      .withColumn("label", col("purchase_yn").cast("double"))
    val scored = model.transform(assembled).select(col("purchase_yn").as("y"),
      org.apache.spark.ml.functions.vector_to_array(col("probability"))(1).as("score"))
    // driver-side collect bounded like every other collect in the repo
    // (Xlsx.maxRows): past 2000 distinct scores
    // the curve quantizes to a 2000-point grid — indistinguishable in an SVG
    val curve = Metrics.prCurve(scored, "y", "score",
        maxDistinctScores = 2000L, quantizeBins = 2000)
      .select("recall", "precision").na.drop()
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    Figures.save(Figures.prCurveSvg(curve), s"$outDir/pr_curve.svg")
    Figures.savePng(Figures.prCurvePng(curve), s"$outDir/pr_curve.png")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(sys.error("usage: EvalMain <outDir> [sfDir] [k]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val k = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    run(spark, out, sfDir, k)
    println(s"""{"metric":"eval_artifacts","outDir":"$out","folds":$k}""")
    spark.stop()
  }
}
