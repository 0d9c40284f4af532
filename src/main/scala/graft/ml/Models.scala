package graft.ml

import org.apache.spark.ml.classification.{DecisionTreeClassifier, GBTClassifier, LogisticRegression, LogisticRegressionModel, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{CategoricalOps, Metrics}

/** Evaluation-framework analogs (SURVEY §2.9) on spark.ml — the reference's
  * sklearn pipeline re-expressed as distributed dataflow. Documented
  * deviations (BASELINE.md): solvers differ (coefficient-level parity is not
  * promised — feature-level parity is the contract); SMOTE is replaced by a
  * deterministic within-class interpolation oversampler; XGBoost/CatBoost map
  * to GBTClassifier.
  */
object Models {

  /** Standard-scale feature columns: (x - mean) / stddev_samp, fit on `fit`
    * (train folds only — `LR_Advanced.py:621-623`), applied to `to`.
    * One aggregation pass for every column. */
  def standardScale(fit: DataFrame, to: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      avg(col(c)).as(s"__m_$c"), stddev_samp(col(c)).as(s"__s_$c")))
    val th = fit.agg(aggs.head, aggs.tail: _*)
    val joined = to.crossJoin(broadcast(th))
    joined.select(to.columns.map { c =>
      if (cols.contains(c))
        when(col(s"__s_$c") > 0, (col(c) - col(s"__m_$c")) / col(s"__s_$c"))
          .otherwise(0.0).as(c)
      else col(c)
    }.toIndexedSeq: _*)
  }

  /** Deterministic minority-class oversampler (SMOTE analog,
    * `LR_Advanced.py:626-627`): pairs each minority row with its EXACT
    * 1-nearest in-bucket neighbor (squared-euclidean over the feature
    * vector; LSH buckets via the native [[graft.functions.LshBucket]]
    * signs) and emits interpolations `a + λ·(nn − a)` until the classes
    * balance, with λ ∈ (0,1) a SEEDED per-synthetic-row hash — sklearn
    * SMOTE's uniform λ made deterministic and partition-invariant by
    * construction (λ is a pure function of (bucket, in-bucket rank,
    * replica), all three themselves deterministic).
    *
    * Remaining documented deviation from sklearn SMOTE: the neighbor search
    * is exact 1-NN restricted to the row's LSH bucket (approximate global
    * 1-NN — the standard at-scale SMOTE construction), and λ is hash-drawn
    * rather than PRNG-drawn.
    *
    * Scale shape: the per-bucket self-join is the one quadratic, bounded by
    * ADAPTIVE bucket sizing — bits grow with the minority count so expected
    * bucket size stays ~256 (B² ≈ 65k join rows per bucket); for tiny
    * minorities (< 64 rows) a single bucket is exact global 1-NN. No global
    * windows; ties in distance break to the lowest neighbor id. The
    * synthetic-row selection rank comes from per-bucket offsets: the pair
    * counts of at most 2^20 buckets are collected, prefix-summed on the
    * driver and broadcast-joined back as a table, never as an O(#buckets)
    * expression tree (round-4 advice: an analyzer blow-up at ~1M buckets).
    *
    * `bitsOverride` pins the bucket-signature width (tests / tuning) to
    * 0..20, the adaptive path's cap, which bounds the collected offsets at
    * 2^20 rows; −1 = adaptive. */
  def oversampleInterpolate(df: DataFrame, idCol: String, labelCol: String,
                            features: Seq[String], bitsOverride: Int = -1): DataFrame = {
    require(bitsOverride >= -1 && bitsOverride <= 20,
      s"oversampleInterpolate: bitsOverride=$bitsOverride must be in 0..20 (or -1 for adaptive)")
    val counts = df.groupBy(col(labelCol)).count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    if (counts.size < 2) return df
    val (minLabel, minN) = counts.minBy(_._2)
    val maxN = counts.values.max
    val need = maxN - minN
    if (need <= 0) return df
    // ~256 rows per bucket: ceil(log2(minN/256)), floored at 4 bits (16
    // buckets) to match the historical layout, capped at 20
    val bits =
      if (bitsOverride >= 0) bitsOverride
      else if (minN < 64) 0
      else math.min(20, math.max(4,
        64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, (minN - 1) / 256)).toInt))
    val bucket =
      if (bits == 0) lit(0L)
      else graft.ops.Similarity.lshBucket(
        array(features.map(c => col(c).cast("double")): _*), bits, seed = 42L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bkt"))
      .orderBy(pmod(col(idCol).cast("long") * lit(2654435761L), lit(4294967296L)), col(idCol))
    val minority = df.filter(col(labelCol) === minLabel)
      .withColumn("__bkt", bucket.cast("long"))
      .withColumn("__rn", row_number().over(w))
    // exact 1-NN within the bucket: bounded self-join + one struct-min
    // aggregation; neighbor payload rides the struct so no second join
    val bSide = minority.select(
      (Seq(col("__bkt").as("__b_bkt"), col(idCol).as("__b_id")) ++
        features.map(c => col(c).as(s"__b_$c"))).toIndexedSeq: _*)
    val dist = features.map(c =>
      (col(c).cast("double") - col(s"__b_$c").cast("double")) *
        (col(c).cast("double") - col(s"__b_$c").cast("double"))).reduce(_ + _)
    val nnStruct = struct(
      (Seq(dist.as("d"), col("__b_id").as("i")) ++
        features.map(c => col(s"__b_$c").as(s"__n_$c"))).toIndexedSeq: _*)
    val aCols = minority.columns
    val paired = minority
      .join(bSide, col("__bkt") === col("__b_bkt") && col(idCol) =!= col("__b_id"))
      .groupBy(aCols.map(col).toIndexedSeq: _*)
      .agg(min(nnStruct).as("__nn"))
      .select((aCols.map(col) ++
        features.map(c => col(s"__nn.__n_$c").as(s"__n_$c"))).toIndexedSeq: _*)
    // Deterministic-by-construction selection (the round-2 `.limit(need)` let
    // partition visit order pick the survivors): a global pair rank =
    // bucket's exclusive prefix offset + in-bucket rank, a round-robin
    // synthetic index over replicas, keep index < need — the kept rows are a
    // pure function of the input at any parallelism, and exactly `need` rows
    // survive (indices are distinct and cover [0, reps·pairs)).
    val bucketPairs = paired.groupBy(col("__bkt")).agg(count(lit(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val totalPairs = bucketPairs.map(_._2).sum
    if (totalPairs == 0) return df // minority of one row: nothing to interpolate
    val offsets = df.sparkSession.createDataFrame(
      bucketPairs.map(_._1).zip(bucketPairs.scanLeft(0L)(_ + _._2)).toSeq).toDF("__o_bkt", "__off")
    val reps = ((need + totalPairs - 1) / totalPairs).toInt
    // λ ∈ (0,1): a seeded overflow-free hash of (bucket, rank, replica) —
    // every synthetic row gets its own interpolation point on the segment,
    // deterministic at any parallelism (sklearn SMOTE's uniform λ analog)
    val lamHash = pmod(
      pmod(col("__bkt") * lit(1048573L) + col("__rn").cast("long"), lit(2654435761L))
        * lit(40503L) + col("__rep").cast("long") * lit(7919L),
      lit(1000003L))
    val lam = (lamHash.cast("double") + lit(0.5)) / lit(1000003.0)
    val rank = col("__off") + col("__rn").cast("long") - lit(1L)
    val synth = paired
      .join(broadcast(offsets), col("__bkt") === col("__o_bkt"))
      .withColumn("__rep", explode(sequence(lit(1), lit(reps))))
      .withColumn("__idx", (col("__rep") - 1).cast("long") * lit(totalPairs) + rank)
      .filter(col("__idx") < need)
      .select(df.columns.map { c =>
        if (features.contains(c))
          (col(c) + lam * (col(s"__n_$c") - col(c))).as(c) // segment point at λ
        else if (c == idCol)
          (-(col("__bkt") * 1000000L + col("__rn").cast("long")) * 1000L - col("__rep")).as(c)
        else col(c)
      }.toIndexedSeq: _*)
    df.unionByName(synth)
  }

  private def assemble(df: DataFrame, features: Seq[String], labelCol: String): DataFrame =
    new VectorAssembler().setInputCols(features.toArray).setOutputCol("features")
      .transform(df.na.fill(0.0))
      .withColumn("label", col(labelCol).cast("double"))

  /** L2 logistic regression (`LR_Advanced.py:637-644`, C=1.0 liblinear →
    * regParam = 1/(C·n)). Returns (model, weighted coefficients by name). */
  def logistic(df: DataFrame, features: Seq[String], labelCol: String,
               maxIter: Int = 100): (LogisticRegressionModel, Map[String, Double]) = {
    val data = assemble(df, features, labelCol)
    val n = data.count()
    val lr = new LogisticRegression().setMaxIter(maxIter)
      .setRegParam(1.0 / math.max(1L, n).toDouble).setElasticNetParam(0.0)
    val m = lr.fit(data)
    (m, features.zip(m.coefficients.toArray).toMap)
  }

  /** Recursive feature elimination (`LR_Advanced.py:629-634`): drop the
    * min-|coef| feature until `target` remain. Driver loop; each step one
    * distributed fit. */
  def rfe(df: DataFrame, features: Seq[String], labelCol: String, target: Int): Seq[String] = {
    var cur = features
    while (cur.size > target) {
      val (_, coefs) = logistic(df, cur, labelCol, maxIter = 25)
      val weakest = cur.minBy(c => math.abs(coefs(c)))
      cur = cur.filterNot(_ == weakest)
    }
    cur
  }

  /** Per-fold CV metrics for a model family (stratified deterministic folds).
    * Returns (fold, accuracy) rows collected — the reference's printed
    * mean±std becomes a tiny driver-side aggregate. */
  def cvAccuracy(df: DataFrame, features: Seq[String], labelCol: String, idCol: String,
                 k: Int = 5, family: String = "lr"): Seq[(Int, Double)] = {
    val folded = CategoricalOps.stratifiedFolds(df, idCol, labelCol, k)
    (0 until k).map { f =>
      val train = assemble(folded.filter(col("fold") =!= f), features, labelCol)
      val test = assemble(folded.filter(col("fold") === f), features, labelCol)
      val model = family match {
        case "lr" => new LogisticRegression().setMaxIter(50).fit(train)
        case "dt" => new DecisionTreeClassifier().setMaxDepth(6).setSeed(42L).fit(train)
        case "rf" => new RandomForestClassifier().setNumTrees(50).setMaxDepth(10).setSeed(42L).fit(train)
        case "gbt" => new GBTClassifier().setMaxIter(20).setMaxDepth(5).setSeed(42L).fit(train)
      }
      val pred = model.transform(test)
      val acc = pred.agg(
        (sum(when(col("prediction") === col("label"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("acc")).collect()(0).getDouble(0)
      (f, acc)
    }
  }

  /** Per-fold train-side preparation of the flagship evaluation run: scale
    * on TRAIN-fold statistics only, then oversample the train folds only —
    * the reference's in-fold SMOTE leakage control (`LR_Advanced.py:621-627`:
    * scaler fit on X_train, SMOTE applied after the split). Exposed as its
    * own method so the leakage property is directly testable: mutating
    * test-fold rows must never change this output. */
  def inFoldTrain(folded: DataFrame, fold: Int, features: Seq[String],
                  labelCol: String, idCol: String): DataFrame = {
    val train = folded.filter(col("fold") =!= fold)
    oversampleInterpolate(standardScale(train, train, features), idCol, labelCol, features)
  }

  final case class FoldMetrics(fold: Int, accuracy: Double, precision: Double,
                               recall: Double, f1: Double, aucRoc: Double, aucPr: Double)

  /** The composed flagship evaluation run (`LR_Model_train/LR_Advanced.py:
    * 603-687`): per stratified fold — standard-scale on train-fold stats,
    * oversample the train folds only, optional RFE down to `rfeTarget`
    * features, fit LR, score the held-out fold, and compute ALL FIVE
    * reference metrics (accuracy/precision/recall/F1 at `threshold`, ROC
    * AUC, PR AUC) with the distributed Metrics operators. Per-fold rows
    * return; mean±std via [[evaluationSummary]]/[[evaluationJson]]. */
  def evaluationRun(df: DataFrame, features: Seq[String], labelCol: String, idCol: String,
                    k: Int = 5, rfeTarget: Int = 0, threshold: Double = 0.5): Seq[FoldMetrics] = {
    val folded = CategoricalOps.stratifiedFolds(df, idCol, labelCol, k).cache()
    val out = (0 until k).map { f =>
      val train = inFoldTrain(folded, f, features, labelCol, idCol)
      val test = standardScale(
        folded.filter(col("fold") =!= f), folded.filter(col("fold") === f), features)
      val kept =
        if (rfeTarget > 0 && rfeTarget < features.size) rfe(train, features, labelCol, rfeTarget)
        else features
      val (model, _) = logistic(train, kept, labelCol)
      val scoredTest = model.transform(assemble(test, kept, labelCol))
        .select(col(labelCol),
          org.apache.spark.ml.functions.vector_to_array(col("probability"))(1).as("__score"))
      val bm = Metrics.binaryMetrics(scoredTest, labelCol, "__score", threshold).collect()(0)
      // degenerate folds (single-class test fold, no predicted positives)
      // yield NULL metrics from the CASE-guarded plans — surface as NaN,
      // not a crash (mirrors sklearn zero_division semantics)
      def d(row: org.apache.spark.sql.Row, name: String): Double = {
        val i = row.fieldIndex(name)
        if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
      }
      val aucRow = Metrics.aucRoc(scoredTest, labelCol, "__score").collect()(0)
      val auc = if (aucRow.isNullAt(0)) Double.NaN else aucRow.getDouble(0)
      val ap = Metrics.averagePrecision(scoredTest, labelCol, "__score")
        .collect()(0).getDouble(0)
      FoldMetrics(f, d(bm, "accuracy"), d(bm, "precision"),
        d(bm, "recall"), d(bm, "f1"), auc, ap)
    }
    folded.unpersist()
    out
  }

  /** Mean ± std (population σ, matching numpy's default in the reference's
    * printed `np.mean`/`np.std` per-fold summary) per metric. */
  def evaluationSummary(ms: Seq[FoldMetrics]): Map[String, (Double, Double)] = {
    def agg(vs: Seq[Double]): (Double, Double) = {
      val m = vs.sum / vs.size
      (m, math.sqrt(vs.map(v => (v - m) * (v - m)).sum / vs.size))
    }
    Map("accuracy" -> agg(ms.map(_.accuracy)), "precision" -> agg(ms.map(_.precision)),
      "recall" -> agg(ms.map(_.recall)), "f1" -> agg(ms.map(_.f1)),
      "aucRoc" -> agg(ms.map(_.aucRoc)), "aucPr" -> agg(ms.map(_.aucPr)))
  }

  /** The run's artifact form: per-fold metric rows + mean±std summary.
    * NaN (degenerate folds) renders as JSON null. */
  def evaluationJson(ms: Seq[FoldMetrics]): String = {
    def j(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    val folds = ms.map(m =>
      s"""{"fold":${m.fold},"accuracy":${j(m.accuracy)},"precision":${j(m.precision)},""" +
        s""""recall":${j(m.recall)},"f1":${j(m.f1)},"aucRoc":${j(m.aucRoc)},"aucPr":${j(m.aucPr)}}""")
      .mkString("[", ",", "]")
    val sums = evaluationSummary(ms).toSeq.sortBy(_._1)
      .map { case (k, (m, s)) => s""""$k":{"mean":${j(m)},"std":${j(s)}}""" }.mkString("{", ",", "}")
    s"""{"folds":$folds,"summary":$sums}"""
  }

  /** Top-k feature-importance artifact (`LR_Advanced.py:566-601`: top-20 by
    * |coefficient|): rank [[logistic]]'s coefficient map descending by
    * absolute weight, deterministic tie-break by feature name. Returns
    * (feature, coefficient, 1-based rank). */
  def featureImportance(coefs: Map[String, Double], topK: Int = 20): Seq[(String, Double, Int)] =
    coefs.toSeq.sortBy { case (n, c) => (-math.abs(c), n) }.take(topK)
      .zipWithIndex.map { case ((n, c), i) => (n, c, i + 1) }

  /** PCA to `k` components (`SMOTE_test/smote_visualization.py:69-103` uses
    * 2 components for visualization; here a general projection). */
  def pca(df: DataFrame, features: Seq[String], k: Int): DataFrame = {
    val data = assemble(df, features, labelCol = features.head) // label unused
    new org.apache.spark.ml.feature.PCA()
      .setInputCol("features").setOutputCol("pca").setK(k)
      .fit(data).transform(data).drop("features", "label")
  }

  /** Hyperparameter search analog of RandomizedSearchCV
    * (`directory/XGB_RF_LR_CV.py:82-100`): grid over regParam with k-fold CV
    * on AUC, returns (bestRegParam, bestAuc). Deterministic (no random
    * sampling — the full small grid is evaluated). */
  def tuneLogistic(df: DataFrame, features: Seq[String], labelCol: String,
                   grid: Seq[Double] = Seq(0.001, 0.01, 0.1), k: Int = 3): (Double, Double) = {
    val data = assemble(df, features, labelCol)
    val lr = new LogisticRegression().setMaxIter(50)
    val params = new org.apache.spark.ml.tuning.ParamGridBuilder()
      .addGrid(lr.regParam, grid.toArray).build()
    val cv = new org.apache.spark.ml.tuning.CrossValidator()
      .setEstimator(lr)
      .setEvaluator(new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator())
      .setEstimatorParamMaps(params).setNumFolds(k).setSeed(42L)
    val m = cv.fit(data)
    val best = m.avgMetrics.zip(grid).maxBy(_._1)
    (best._2, best._1)
  }

  /** RandomizedSearchCV analog (`directory/XGB_RF_LR_CV.py:43-100`): sample
    * `nIter` parameter combos with a seeded RNG from the cross-product space
    * (the reference samples 12 combos of its XGB/RF/LR spaces rather than
    * exhausting the grid), evaluate each with stratified k-fold accuracy,
    * return combos ranked best-first. `family`: "lr" (regParam /
    * elasticNetParam) or "rf" (numTrees / maxDepth). */
  def randomizedSearch(df: DataFrame, features: Seq[String], labelCol: String, idCol: String,
                       space: Map[String, Seq[Double]], nIter: Int = 12, k: Int = 3,
                       seed: Long = 42L, family: String = "lr"): Seq[(Map[String, Double], Double)] = {
    val rnd = new scala.util.Random(seed)
    val keys = space.keys.toSeq.sorted
    val combos = Seq.fill(nIter)(
      keys.map(kk => kk -> space(kk)(rnd.nextInt(space(kk).size))).toMap).distinct
    val folded = CategoricalOps.stratifiedFolds(df, idCol, labelCol, k).cache()
    val ranked = combos.map { params =>
      val accs = (0 until k).map { f =>
        val train = assemble(folded.filter(col("fold") =!= f), features, labelCol)
        val test = assemble(folded.filter(col("fold") === f), features, labelCol)
        val model = family match {
          case "lr" => new LogisticRegression().setMaxIter(30)
            .setRegParam(params.getOrElse("regParam", 0.0))
            .setElasticNetParam(params.getOrElse("elasticNetParam", 0.0)).fit(train)
          case "rf" => new RandomForestClassifier()
            .setNumTrees(params.getOrElse("numTrees", 50.0).toInt)
            .setMaxDepth(params.getOrElse("maxDepth", 5.0).toInt).setSeed(42L).fit(train)
        }
        model.transform(test).agg(
          (sum(when(col("prediction") === col("label"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double")).as("acc")).collect()(0).getDouble(0)
      }
      params -> accs.sum / accs.size
    }.sortBy(-_._2)
    folded.unpersist()
    ranked
  }

  /** OOF soft-voting / stacking base: out-of-fold probability column per
    * model family (`directory/Stacking_SMOTE_XGB_LR_RF.py:67-85`). */
  def oofProbabilities(df: DataFrame, features: Seq[String], labelCol: String, idCol: String,
                       k: Int = 5): DataFrame = {
    val folded = CategoricalOps.stratifiedFolds(df, idCol, labelCol, k).cache()
    // built-in vector accessor (no Scala UDF: keeps the zero-UDF surface)
    val p1 = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.ml.functions.vector_to_array(c)(1)
    val perFold = (0 until k).map { f =>
      val train = assemble(folded.filter(col("fold") =!= f), features, labelCol)
      val test = assemble(folded.filter(col("fold") === f), features, labelCol)
      val lr = new LogisticRegression().setMaxIter(50).fit(train)
      val rf = new RandomForestClassifier().setNumTrees(50).setSeed(42L).fit(train)
      val a = lr.transform(test).select(col(idCol), p1(col("probability")).as("p_lr"))
      val b = rf.transform(test).select(col(idCol).as("__id2"), p1(col("probability")).as("p_rf"))
      a.join(b, a(idCol) === b("__id2")).drop("__id2")
    }
    val oof = perFold.reduce(_.unionByName(_)) // OOF concat (np.concatenate analog)
    folded.join(oof, idCol)
      .withColumn("p_vote", (col("p_lr") + col("p_rf")) / 2.0)
  }

  /** Stacking meta-learner (`directory/Stacking_SMOTE_XGB_LR_RF.py:67-85`):
    * a logistic regression fit ON the out-of-fold base probabilities —
    * completing the stacking operator (soft voting alone is only half of
    * it). Adds `p_stack`, the meta-model's positive-class probability. */
  def stack(df: DataFrame, features: Seq[String], labelCol: String, idCol: String,
            k: Int = 5): DataFrame = {
    val oof = oofProbabilities(df, features, labelCol, idCol, k)
    val meta = assemble(oof, Seq("p_lr", "p_rf"), labelCol)
    val lr = new LogisticRegression().setMaxIter(50).fit(meta)
    lr.transform(meta)
      .withColumn("p_stack",
        org.apache.spark.ml.functions.vector_to_array(col("probability"))(1))
      .drop("features", "rawPrediction", "probability", "prediction", "label")
  }
}
