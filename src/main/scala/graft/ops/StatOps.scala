package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical cleaning / screening operators from the reference's feature-
  * preparation stage, rewritten as single-pass aggregations.
  *
  * The reference loops one pandas `quantile` call per column
  * (`LR_Model_train/LR_Advanced.py:548-556`) — ~100 sequential scans. Here
  * every threshold for every column comes from ONE aggregation job whose
  * 1-row result is broadcast back (SURVEY §4 "quantile loops" rewrite).
  */
object StatOps {

  /** IQR clip: clip each column to [Q1 - 1.5·IQR, Q3 + 1.5·IQR]
    * (`LR_Advanced.py:548-556`). Exact percentiles (pandas-compatible linear
    * interpolation) by default — the oracle-checked path; single agg pass
    * for all columns.
    *
    * `approxAccuracy > 0` switches to `approx_percentile` (Greenwald-Khanna,
    * bounded-memory sketch): at 10^12 rows the exact percentile's
    * sort-based buffer per column is the wrong trade, the sketch's rank
    * error ≤ n/accuracy is not (SURVEY §7.5 "exact quantiles at scale").
    * StatOpsSpec pins the approx path within tolerance of exact. */
  def iqrClip(df: DataFrame, cols: Seq[String], factor: Double = 1.5,
              approxAccuracy: Int = 0): DataFrame = {
    val aggs = cols.flatMap { c =>
      if (approxAccuracy > 0)
        Seq(expr(s"approx_percentile($c, 0.25D, $approxAccuracy)").cast("double").as(s"__q1_$c"),
          expr(s"approx_percentile($c, 0.75D, $approxAccuracy)").cast("double").as(s"__q3_$c"))
      else
        Seq(expr(s"percentile($c, 0.25D)").as(s"__q1_$c"),
          expr(s"percentile($c, 0.75D)").as(s"__q3_$c"))
    }
    val th = df.agg(aggs.head, aggs.tail: _*)
    val clipped = df.crossJoin(broadcast(th))
    val outCols = df.columns.map { c =>
      if (!cols.contains(c)) col(c)
      else {
        val iqr = col(s"__q3_$c") - col(s"__q1_$c")
        val lo = col(s"__q1_$c") - lit(factor) * iqr
        val hi = col(s"__q3_$c") + lit(factor) * iqr
        least(greatest(col(c).cast("double"), lo), hi).as(c)
      }
    }
    clipped.select(outCols.toIndexedSeq: _*)
  }

  /** Population variance per column over INTEGRAL inputs, one row per column
    * (`LR_Advanced.py:500-504` variance screen). Computed as
    * E[x²] − E[x]² over exact integer sums — deterministic across engines
    * and partitionings (unlike streaming Welford merges). */
  def varianceScreen(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(sum(col(c).cast("long") * col(c).cast("long")).as(s"__ss_$c"),
        sum(col(c).cast("long")).as(s"__s_$c"))
    } :+ count(lit(1)).as("__n")
    val t = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(lit(c).as("feature"),
        (col(s"__ss_$c").cast("double") / col("__n").cast("double") -
          (col(s"__s_$c").cast("double") / col("__n").cast("double")) *
            (col(s"__s_$c").cast("double") / col("__n").cast("double"))).as("variance"))
    }
    t.select(explode(array(rows: _*)).as("r")).select(col("r.feature"), col("r.variance"))
  }

  /** Standard scaling ((x - mean) / stddev_samp, `LR_Advanced.py:621-623`)
    * from exact integer moments: the input must be LongType (scaled cents
    * etc.), so n/s1/s2 are exact and every engine derives the same doubles —
    * the plain avg/stddev_samp form sums doubles in partition order and is
    * not reproducible across partitionings, let alone engines. One tiny
    * broadcast agg; the scan stays map-only.
    *
    * The squared-sum accumulates as DECIMAL(38,0): a long sum of squares
    * silently wraps at ~10^7 rows of 10^6-unit values — exactly the target
    * scale (the DuckDB oracle sums into HUGEINT; both convert the same
    * exact integer to double, so parity holds). */
  def standardScaleMoments(df: DataFrame, idCol: String, valueCol: String): DataFrame = {
    require(df.schema(valueCol).dataType == org.apache.spark.sql.types.LongType,
      s"standardScaleMoments: $valueCol must be LongType (cast to exact units upfront)")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val st = df.agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s1"),
      sum(col(valueCol).cast(dec) * col(valueCol).cast(dec)).as("__s2"))
    val mean = col("__s1").cast("double") / col("__n").cast("double")
    val varS = (col("__s2").cast("double") -
      col("__s1").cast("double") * col("__s1").cast("double") / col("__n").cast("double")) /
      (col("__n") - 1).cast("double")
    df.crossJoin(broadcast(st)).select(col(idCol),
      ((col(valueCol).cast("double") - mean) / sqrt(varS)).as(s"${valueCol}_scaled"))
  }

  /** All pairwise interaction columns i*j over `cols`
    * (PolynomialFeatures degree-2 interaction-only, `LR_Advanced.py:511-528`;
    * names use `_x_` instead of sklearn's space). */
  def pairwiseInteractions(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (col(cols(i)).cast("double") * col(cols(j)).cast("double"))
      .as(s"${cols(i)}_x_${cols(j)}")
    df.select(df.columns.map(col).toIndexedSeq ++ pairs: _*)
  }
}
