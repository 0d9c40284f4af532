package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Deterministic, CROSS-ENGINE BIT-EXACT logistic regression by full-batch
  * quantized-gradient descent — the engine's oracle-checkable answer to the
  * reference's LR feature-importance artifact (`LR_Advanced.py:566-601`).
  *
  * LBFGS/liblinear coefficients are solver-specific, so a solver-trained
  * model can never sit under a DuckDB hash gate (round-3's one `no_oracle`
  * row). This trainer is designed so BOTH engines produce the same IEEE-754
  * doubles at every step:
  *
  *   - min-max feature scaling: `(x - min) / (max - min)` — integer
  *     subtraction (exact) then ONE correctly-rounded division;
  *   - margin `w0 + w1·z1 + … + wk·zk` left-associated — a fixed sequence of
  *     correctly-rounded ops, identical expression shape in both engines;
  *   - rational fast-sigmoid link `σ(m) = 0.5 + (0.5·m)/(1 + |m|)` — only
  *     `+ * / abs`, all exactly rounded (library `exp` differs in ULPs
  *     across engines, so the classic logistic link cannot hash-match);
  *   - gradient terms quantized BEFORE summation:
  *     `floor(term · 2^30)` per row as int64 — the cross-row SUM becomes
  *     exact integer arithmetic, hence ORDER-INDEPENDENT (a plain double sum
  *     would round differently under different partitionings/engines);
  *   - weight update `w − lr·((Σq)/2^30/n)` — scalar double ops in a fixed
  *     order.
  *
  * Scale shape: the input is planned once into a persisted (k+1)-column
  * projection; then one min/max/count fold and `iters` gradient folds run
  * as plain RDD aggregates over it, one job each with no shuffle (each
  * partition returns k+2 longs to the driver) and no per-iteration query
  * planning or session-conf change. Exactness bound: int64→double
  * conversion of the gradient sums is exact while `n·2^30 < 2^53`, enforced
  * at [[MaxRows]] = 2^21; at larger n, lower `quantScale` (precision ↔ scale
  * trade, same knob in the oracle SQL).
  *
  * Quantized GD with a fast-sigmoid link is NOT sklearn's LR — coefficients
  * differ from the reference's numerically, but the deliverable (the
  * |coef| ranking artifact) is now value-verified across engines instead of
  * rows-only. Convergence on the ranking is what the spec pins.
  */
object QuantLR {

  val DefaultIters = 10
  val DefaultLr = 0.5
  /** 2^30 — shared with OracleSql.qFeatureImportance's unrolled SQL. */
  val QuantScale: Double = 1073741824.0

  /** Largest row count whose quantized-term sums stay exactly convertible
    * to double: n · scale ≤ 2^52, halved as a safety factor. */
  def maxRowsFor(quantScale: Double): Long =
    math.max(1L, ((1L << 52) / quantScale).toLong / 2)

  /** The bound [[fit]] actually enforces at the default scale: 2^21
    * (round-4 advice: a hand-written 2^22 here overstated it 2×). */
  val MaxRows: Long = maxRowsFor(QuantScale)

  /** Fit; returns weights with the intercept at index 0. EAGER (runs
    * 1 + iters tiny jobs over a persisted projection).
    *
    * `quantScale` is the precision ↔ scale knob the bound's error message
    * points at: lower it (in powers of two) for inputs past `maxRowsFor`;
    * the oracle SQL must then be generated with the SAME scale
    * (OracleSql.qFeatureImportance binds the default). */
  def fit(df: DataFrame, features: Seq[String], labelCol: String,
          iters: Int = DefaultIters, lr: Double = DefaultLr,
          quantScale: Double = QuantScale): Array[Double] = {
    // the min-max scaling's exactness argument (integer subtraction, then one
    // correctly-rounded division) only holds for integral features — a double
    // feature would be truncated toward zero by the long cast, silently
    // diverging from an oracle generated over the native values
    features.foreach { f =>
      val dt = df.schema(f).dataType
      require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
        s"QuantLR.fit: feature '$f' is ${dt.typeName} — only integral feature " +
          "columns keep the cross-engine bit-exactness contract (scale or " +
          "bucketize doubles to counts first)")
    }
    // ONE materialized narrow projection (k longs, then the double label):
    // the (possibly expensive) upstream plan — e.g. the full slot pivot
    // pipeline — is planned and computed once per fit; the range pass and
    // every GD iteration are plain RDD folds over this persist, so no
    // iteration plans, optimizes or codegens a query. Folds with a zero
    // value, never `reduce`: a zero-partition input must reach the "empty
    // input" guard instead of failing inside Spark.
    val k = features.size
    val rows = df.select(features.map(f => col(f).cast("long").as(f)) :+
        col(labelCol).cast("double").as("__y"): _*)
      .queryExecution.toRdd.mapPartitions(_.map(_.copy()))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // per-feature min/max over the non-null values (an all-null feature
      // keeps mn > mx) and the count of ALL rows
      val (mn, mx, n) = rows.aggregate(
          (Array.fill(k)(Long.MaxValue), Array.fill(k)(Long.MinValue), 0L))(
        { case ((lo, hi, c), row) =>
          for (i <- 0 until k if !row.isNullAt(i)) {
            lo(i) = math.min(lo(i), row.getLong(i)); hi(i) = math.max(hi(i), row.getLong(i))
          }
          (lo, hi, c + 1) },
        { case ((lo, hi, c), (lo2, hi2, c2)) =>
          (Array.tabulate(k)(i => math.min(lo(i), lo2(i))),
            Array.tabulate(k)(i => math.max(hi(i), hi2(i))), c + c2) })
      require(n > 0, "QuantLR.fit: empty input")
      features.indices.foreach { i =>
        require(mn(i) <= mx(i), s"QuantLR.fit: empty input or all-null feature '${features(i)}'")
      }
      require(n <= maxRowsFor(quantScale),
        s"QuantLR.fit: $n rows exceeds the exact-sum bound ${maxRowsFor(quantScale)} " +
          s"for quantScale=$quantScale — pass a lower quantScale (and regenerate " +
          "the oracle SQL with the same scale)")
      val span = Array.tabulate(k)(i => (mx(i) - mn(i)).toDouble) // 0.0 iff constant
      val nD = n.toDouble
      val w = Array.fill(k + 1)(0.0)
      for (_ <- 1 to iters) {
        val wi = w.clone()
        // one job: each row adds floor(term · scale) into q(0..k) and counts
        // itself in q(k+1), in the oracle SQL's IEEE op order — z-scaling
        // (0.0 for a constant feature even where x is null), left-associated
        // margin, fast sigmoid. A null label or non-constant feature drops
        // the row from every sum, as SQL's SUM skips its null terms.
        val q = rows.aggregate(new Array[Long](k + 2))({ (q, row) =>
          if (!row.isNullAt(k) && (0 until k).forall(i => span(i) == 0.0 || !row.isNullAt(i))) {
            val z = Array.tabulate(k)(i =>
              if (span(i) == 0.0) 0.0 else (row.getLong(i) - mn(i)).toDouble / span(i))
            val m = (0 until k).foldLeft(wi(0))((m, i) => m + wi(i + 1) * z(i))
            val r = (0.5 + (0.5 * m) / (1.0 + math.abs(m))) - row.getDouble(k)
            q(0) = Math.addExact(q(0), math.floor(r * quantScale).toLong)
            for (i <- 0 until k)
              q(i + 1) = Math.addExact(q(i + 1), math.floor((r * z(i)) * quantScale).toLong)
            q(k + 1) += 1
          }
          q
        }, (a, b) => { for (j <- a.indices) a(j) = Math.addExact(a(j), b(j)); a })
        require(q(k + 1) > 0, "QuantLR.fit: no row has a non-null label and " +
          "non-null values in every non-constant feature")
        for (j <- w.indices)
          w(j) = w(j) - lr * (q(j).toDouble / quantScale / nD)
      }
      w
    } finally rows.unpersist(blocking = false)
  }

  /** Top-k |coefficient| ranking artifact (`LR_Advanced.py:566-601`):
    * (feature, coef, rank), rank by |coef| descending, ties by feature name
    * — the exact ordering `ROW_NUMBER() OVER (ORDER BY abs(coef) DESC,
    * feature)` computes in the oracle. */
  def featureImportance(df: DataFrame, features: Seq[String], labelCol: String,
                        topK: Int = 20, iters: Int = DefaultIters,
                        lr: Double = DefaultLr,
                        quantScale: Double = QuantScale): DataFrame = {
    val w = fit(df, features, labelCol, iters, lr, quantScale)
    val ranked = features.zip(w.drop(1))
      .sortBy { case (f, c) => (-math.abs(c), f) }
      .take(topK)
      .zipWithIndex
      .map { case ((f, c), i) => (f, c, i + 1) }
    val spark = df.sparkSession
    import spark.implicits._
    ranked.toDF("feature", "coef", "rank")
  }
}
