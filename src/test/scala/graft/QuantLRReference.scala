package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ml.QuantLR.{DefaultIters, DefaultLr, QuantScale, maxRowsFor}

/** Reference implementation the specs compare [[graft.ml.QuantLR.fit]]
  * against: the DataFrame gradient-descent loop it replaced, kept as it was
  * except that its input leaf is built through the public RDD[Row] API.
  * Every GD iteration is a planned SQL aggregate
  * (`z.crossJoin(broadcast(wDf)).agg(...).head()`), so its null handling is
  * SQL's by construction: a null z or label makes the row's terms null and
  * SUM skips them. It pays query planning per iteration and sets
  * session-wide conf for the loop, so no query runs it; it stays as an
  * independent second implementation of the fit's null semantics. */
object QuantLRReference {

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
    // ONE materialized narrow projection, as a LEAF RDD-backed table: the
    // min/max+count agg and every GD iteration read this persisted RDD.
    //   - the (possibly expensive) upstream plan — e.g. the full slot pivot
    //     pipeline — is computed exactly once per fit (round 5 paid two full
    //     upstream computes: the min/max agg, then the z projection's count;
    //     the row count now rides the same agg as min/max);
    //   - the leaf CUTS THE LINEAGE out of the 1+iters per-iteration plans:
    //     with a plain persist, analysis/optimization re-walked the whole
    //     upstream logical plan on every iteration (~100 ms of driver time
    //     per action measured — more than the iteration's actual job).
    val spark = df.sparkSession
    val proj = df.select(features.map(f => col(f).cast("long").as(f)) :+
      col(labelCol).cast("double").as("__y"): _*)
    val projSchema = proj.schema
    // `.rdd` forces physical planning NOW, under the session's normal conf —
    // the overrides below must never reshape the upstream compute
    val rdd = proj.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val p = spark.createDataFrame(rdd, projSchema)
    // Conf scoped to the GD loop (restored in finally), both value-neutral:
    //   - AQE off: every iteration is one single-row global agg over the
    //     same cached leaf — nothing to re-optimize or coalesce, but
    //     adaptive execution materializes the exchange as its own job,
    //     doubling the driver-blocking job count of the sequential loop;
    //   - ONE reduce partition for that agg's exchange: it carries one
    //     partial-agg row per map task at any scale, and a single-partition
    //     final agg also lets head() find the row in its first take-job
    //     (with 32 reduce partitions the single group hashes to an arbitrary
    //     partition and executeTake pays a second, empty-scan job).
    val overrides = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1")
    val prev = overrides.map { case (k, _) => k -> spark.conf.get(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val mmAggs = features.flatMap(f =>
        Seq(min(col(f)), max(col(f)))) :+ count(lit(1))
      val mm = p.agg(mmAggs.head, mmAggs.tail: _*).head()
      val n = mm.getLong(2 * features.size)
      require(n > 0, "QuantLR.fit: empty input")
      // min() over an all-null feature COLUMN in a non-empty input is null;
      // check every feature's min slot and fail with the friendly message
      // rather than an opaque NPE from getLong below
      features.indices.foreach { i =>
        require(!mm.isNullAt(2 * i),
          s"QuantLR.fit: empty input or all-null feature '${features(i)}'")
      }
      require(n <= maxRowsFor(quantScale),
        s"QuantLR.fit: $n rows exceeds the exact-sum bound ${maxRowsFor(quantScale)} " +
          s"for quantScale=$quantScale — pass a lower quantScale (and regenerate " +
          "the oracle SQL with the same scale)")
      val zCols = features.indices.map { i =>
        val mn = mm.getLong(2 * i)
        val mx = mm.getLong(2 * i + 1)
        val z = if (mx == mn) lit(0.0)
          else (col(features(i)) - lit(mn)).cast("double") / lit((mx - mn).toDouble)
        z.as(s"z$i")
      }
      val z = p.select(zCols :+ col("__y"): _*)
      val nD = n.toDouble
      val w = Array.fill(features.size + 1)(0.0)
      // The per-iteration weights ride a 1-row broadcast relation instead of
      // being inlined as literals: literal weights change every iteration, so
      // each of the `iters` plans generated DIFFERENT codegen source and paid
      // a fresh Janino compile (~100 ms/iteration measured — half the round-5
      // query time was this driver-side gap between jobs). With weight
      // COLUMNS the generated source is identical across iterations and the
      // codegen cache hits after iteration 1. Arithmetic is value-identical:
      // the same IEEE doubles flow through the same op sequence.
      val wSchema = org.apache.spark.sql.types.StructType(
        w.indices.map(j => org.apache.spark.sql.types.StructField(
          s"__w$j", org.apache.spark.sql.types.DoubleType, nullable = false)))
      for (_ <- 1 to iters) {
        val wDf = spark.createDataFrame(
          java.util.Collections.singletonList(
            org.apache.spark.sql.Row.fromSeq(w.toIndexedSeq)), wSchema)
        var m: Column = col("__w0")
        features.indices.foreach(i => m = m + col(s"__w${i + 1}") * col(s"z$i"))
        val sig = lit(0.5) + (lit(0.5) * m) / (lit(1.0) + abs(m))
        val r = sig - col("__y")
        val terms = r +: features.indices.map(i => r * col(s"z$i"))
        val aggs = terms.map(t => sum(floor(t * lit(quantScale))))
        val row = z.crossJoin(broadcast(wDf)).agg(aggs.head, aggs.tail: _*).head()
        for (j <- w.indices)
          w(j) = w(j) - lr * (row.getLong(j).toDouble / quantScale / nD)
      }
      w
    } finally {
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
      rdd.unpersist(blocking = false)
    }
  }
}
