package graft

import java.lang.Double.{doubleToLongBits, longBitsToDouble}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.ScoreCurve
import graft.ops.Metrics

/** Scale-safe metrics: the aggregate plans must equal the direct row-level
  * definitions (which round 1 computed with a single-partition global
  * window — the plan shape these replaced). */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  // deterministic scores with heavy TIES (the hard case for avg-rank AUC)
  private lazy val scored = {
    val rnd = new scala.util.Random(7)
    (1 to 400).map { i =>
      val s = math.round(rnd.nextDouble() * 20) / 20.0 // 21 distinct values
      val y = if (rnd.nextDouble() < s) 1 else 0
      (i.toLong, y, s)
    }.toDF("id", "y", "score")
  }

  private type Labelled = Seq[(Option[Int], Option[Double])]

  private def labelled(df: DataFrame): Labelled =
    df.select(col("y"), col("score")).collect().toSeq.map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Int]), Option(r.get(1)).map(_.asInstanceOf[Double])))

  /** Each row as (label = 1, rank of its score in Spark's ascending order:
    * null first, NaN last, −0.0 = 0.0), plus the distinct scores by rank. */
  private def ranked(rows: Labelled): (Seq[(Boolean, Int)], IndexedSeq[Option[Double]]) = {
    val key = (s: Option[Double]) => s.map(x => doubleToLongBits(if (x == 0.0) 0.0 else x))
    val asc = rows.map(r => key(r._2)).distinct
      .sortBy(_.map(longBitsToDouble))(Ordering.Option(Ordering.Double.TotalOrdering)).toIndexedSeq
    val rank = asc.zipWithIndex.toMap
    (rows.map { case (y, s) => (y.contains(1), rank(key(s))) }, asc.map(_.map(longBitsToDouble)))
  }

  /** Mann-Whitney AUC with average ranks for ties, row by row; every row
    * whose label is not 1 is a negative. */
  private def aucRef(rows: Labelled): Option[Double] = {
    val (rs, _) = ranked(rows)
    val p = rs.count(_._1).toDouble
    val n = rs.size - p
    val sumR = rs.filter(_._1).map { case (_, k) =>
      rs.count(_._2 < k) + (rs.count(_._2 == k) + 1) / 2.0
    }.sum
    if (p > 0 && n > 0) Some((sumR - p * (p + 1) / 2.0) / (p * n)) else None
  }

  /** PR curve per distinct score, descending: (threshold, tp, n_pred,
    * precision, recall), predicting positive at score >= threshold. */
  private def curveRef(rows: Labelled): Seq[(Option[Double], Long, Long, Double, Option[Double])] = {
    val (rs, asc) = ranked(rows)
    val total = rs.count(_._1)
    asc.indices.reverse.map { k =>
      val tp = rs.count(r => r._1 && r._2 >= k).toLong
      val np = rs.count(_._2 >= k).toLong
      (asc(k), tp, np, tp.toDouble / np, if (total > 0) Some(tp.toDouble / total) else None)
    }
  }

  /** AP = Σ ΔR·P over descending thresholds; 0 without positives. */
  private def apRef(rows: Labelled): Double = {
    val total = rows.count(_._1.contains(1)).toDouble
    var prevTp = 0L
    if (total == 0) 0.0
    else curveRef(rows).map { case (_, tp, _, prec, _) =>
      val term = ((tp - prevTp) / total) * prec
      prevTp = tp
      term
    }.sum
  }

  private def assertClose(got: Option[Double], exp: Option[Double], what: String): Unit =
    assert(got.isDefined == exp.isDefined && got.zip(exp).forall { case (g, e) =>
      math.abs(g - e) < 1e-12 }, s"$what: got=$got exp=$exp")

  /** Every rank metric of `df` against the row-level references. */
  private def checkRankMetrics(df: DataFrame): Unit = {
    val rows = labelled(df)
    val auc = Metrics.aucRoc(df, "y", "score").collect()
    assert(auc.length == 1)
    assertClose(Option(auc(0).get(0)).map(_.asInstanceOf[Double]), aucRef(rows), "aucRoc")
    val bits = (s: Option[Double]) => s.map(doubleToLongBits)
    val got = Metrics.prCurve(df, "y", "score").collect().toSeq.map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Double]), r.getLong(1), r.getLong(2), r.getDouble(3),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
    val exp = curveRef(rows)
    assert(got.map(r => (bits(r._1), r._2, r._3)) == exp.map(r => (bits(r._1), r._2, r._3)),
      s"prCurve points:\n$got\n$exp")
    got.zip(exp).foreach { case (g, e) =>
      assertClose(Some(g._4), Some(e._4), s"precision@${g._1}")
      assertClose(g._5, e._5, s"recall@${g._1}")
    }
    assertClose(Some(Metrics.averagePrecision(df, "y", "score").collect()(0).getDouble(0)),
      Some(apRef(rows)), "averagePrecision")
  }

  test("aucRoc (one score-curve aggregate) equals the direct rank formula") {
    val got = Metrics.aucRoc(scored, "y", "score").collect()(0).getDouble(0)
    assertClose(Some(got), aucRef(labelled(scored)), "aucRoc")
  }

  test("thresholdScan (histogram-first) equals per-row counting at >= semantics") {
    val ths = (1 to 19).map(_ / 20.0)
    val got = Metrics.thresholdScan(scored, "y", "score", ths)
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val rows = scored.select("y", "score").collect().map(r => (r.getInt(0), r.getDouble(1)))
    ths.foreach { t =>
      val tp = rows.count(r => r._1 == 1 && r._2 >= t).toLong
      val fp = rows.count(r => r._1 == 0 && r._2 >= t).toLong
      val fn = rows.count(r => r._1 == 1 && r._2 < t).toLong
      assert(got(t) == ((tp, fp, fn)), s"t=$t")
    }
  }

  test("prCurve and averagePrecision equal the sklearn-style definition") {
    checkRankMetrics(scored)
  }

  test("rank metrics: null/NaN/-0.0 scores, null labels, empty and one-class input") {
    val mixed: Labelled = Seq(
      (Some(1), Some(0.0)), (Some(0), Some(-0.0)), (Some(1), Some(-0.0)), (None, Some(0.0)),
      (Some(1), Some(Double.NaN)), (Some(0), Some(Double.NaN)), (None, Some(Double.NaN)),
      (Some(1), None), (Some(0), None), (None, None),
      (Some(1), Some(0.7)), (None, Some(0.5)), (Some(0), Some(-1.0)),
      (Some(1), Some(Double.PositiveInfinity)), (Some(0), Some(Double.NegativeInfinity)))
    val onlyPositive: Labelled = Seq((Some(1), Some(0.3)), (Some(1), Some(0.9)), (Some(1), Some(0.3)))
    val onlyNegative: Labelled = onlyPositive.map { case (_, s) => (Some(0), s) }
    Seq(mixed, Seq.empty, onlyPositive, onlyNegative).foreach(rows =>
      checkRankMetrics(rows.toDF("y", "score").repartition(3)))
    // the degenerate values the references encode, spelled out
    val empty = Seq.empty[(Option[Int], Option[Double])].toDF("y", "score")
    assert(Metrics.aucRoc(empty, "y", "score").collect().toSeq == Seq(Row(null)))
    assert(Metrics.prCurve(empty, "y", "score").collect().isEmpty)
    assert(Metrics.averagePrecision(empty, "y", "score").collect().toSeq == Seq(Row(0.0)))
  }

  test("ScoreCurve guard: exact at the bound, the raw-score grid above it, merges included") {
    // 40 distinct scores in 4 slices of 10: with a bound of 20 every partial
    // buffer stays exact and only the merges cross it
    val rnd = new scala.util.Random(5)
    val df = spark.sparkContext.parallelize((0 until 40).map { i =>
      val s = (i + rnd.nextDouble()) / 40.0
      (if (rnd.nextDouble() < s) 1 else 0, s)
    }, 4).toDF("y", "score")
    val bins = 8
    def got(bound: Long) = df.agg(ScoreCurve.score_curve(col("score"), col("y") === 1, bound, bins))
      .collect()(0).getSeq[Row](0).map(r =>
        (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // reference: Spark's own grouping, on the raw scores or on its own
    // floor(s·bins)/bins grid, then running sums in descending order
    def ref(key: org.apache.spark.sql.Column) = {
      val g = df.groupBy(key.as("s"))
        .agg(count(lit(1)), sum(when(col("y") === 1, 1L).otherwise(0L)))
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).sortBy(-_._1)
      g.zip(g.scanLeft((0L, 0L)) { case ((n, p), r) => (n + r._2, p + r._3) }.tail)
        .map { case ((s, n, p), (nc, pc)) => (s, n, p, nc, pc) }.toSeq
    }
    val exact = ref(col("score"))
    val grid = ref(floor(col("score") * bins) / bins)
    assert(exact.length == 40 && grid.length == bins)
    assert(got(40) == exact, "at the bound")
    assert(got(39) == grid, "one above the bound")
    assert(got(20) == grid, "partials under the bound, merges over it")
    assert(got(5) == grid, "partials over the bound")
  }

  test("averagePrecision auto-quantizes continuous scores; bounded fold matches quantized reference") {
    // continuous scores: every row a distinct score — the case that would
    // otherwise funnel |rows| structs into one aggregation buffer
    val rnd = new scala.util.Random(13)
    val cont = (1 to 5000).map { i =>
      val s = rnd.nextDouble()
      (i.toLong, if (rnd.nextDouble() < s) 1 else 0, s)
    }.toDF("id", "y", "score")
    def apOf(rs: Array[(Int, Double)]): Double = {
      val total = rs.count(_._1 == 1).toDouble
      var ap = 0.0
      var prevTp = 0L
      rs.map(_._2).distinct.sorted.reverse.foreach { s =>
        val tp = rs.count(r => r._1 == 1 && r._2 >= s).toLong
        val np = rs.count(r => r._2 >= s).toLong
        ap += ((tp - prevTp) / total) * (tp.toDouble / np)
        prevTp = tp
      }
      ap
    }
    val raw = cont.select("y", "score").collect().map(r => (r.getInt(0), r.getDouble(1)))
    val expRaw = apOf(raw)
    val expQ = apOf(raw.map { case (y, s) => (y, math.floor(s * 64) / 64) })
    val got = Metrics.averagePrecision(cont, "y", "score",
      maxDistinctScores = 100, quantizeBins = 64).collect()(0).getDouble(0)
    assert(math.abs(got - expQ) < 1e-9, s"got=$got expQuantized=$expQ")
    assert(got != expRaw, "quantization did not kick in")
    // under the threshold the exact path is untouched
    val gotRaw = Metrics.averagePrecision(cont, "y", "score").collect()(0).getDouble(0)
    assert(math.abs(gotRaw - expRaw) < 1e-9, s"got=$gotRaw exp=$expRaw")
  }

  test("prCurve and thresholdScan auto-quantize continuous scores (bounded histogram)") {
    val rnd = new scala.util.Random(29)
    val cont = (1 to 4000).map { i =>
      val s = rnd.nextDouble()
      (i.toLong, if (rnd.nextDouble() < s) 1 else 0, s)
    }.toDF("id", "y", "score")
    val raw = cont.select("y", "score").collect().map(r => (r.getInt(0), r.getDouble(1)))
    val quant = raw.map { case (y, s) => (y, math.floor(s * 64) / 64) }

    // prCurve guard: output rows bounded at the grid size; counts match the
    // per-row definition over quantized scores
    val curve = Metrics.prCurve(cont, "y", "score",
      maxDistinctScores = 100, quantizeBins = 64).collect()
    assert(curve.length <= 65, s"curve not bounded: ${curve.length} rows")
    val total = quant.count(_._1 == 1).toDouble
    curve.foreach { r =>
      val (t, tp, np) = (r.getDouble(0), r.getLong(1), r.getLong(2))
      assert(tp == quant.count(x => x._1 == 1 && x._2 >= t).toLong, s"tp@$t")
      assert(np == quant.count(_._2 >= t).toLong, s"n_pred@$t")
      assert(math.abs(r.getDouble(4) - tp / total) < 1e-12, s"recall@$t")
    }
    // exact path untouched under the gate
    assert(Metrics.prCurve(cont, "y", "score").count() == raw.map(_._2).distinct.length)

    // thresholdScan needs no guard: its bucket histogram is bounded by the
    // threshold count, so the counts stay EXACT over the raw scores
    val ths = (1 to 19).map(_ / 20.0)
    val got = Metrics.thresholdScan(cont, "y", "score", ths)
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == ths.toSet)
    ths.foreach { t =>
      val tp = raw.count(r => r._1 == 1 && r._2 >= t).toLong
      val fp = raw.count(r => r._1 == 0 && r._2 >= t).toLong
      val fn = raw.count(r => r._1 == 1 && r._2 < t).toLong
      assert(got(t) == ((tp, fp, fn)), s"t=$t")
    }
  }

  test("thresholdScan counts a repeated threshold once") {
    val df = Seq((1, 0.9), (0, 0.7), (1, 0.4), (0, 0.2)).toDF("y", "score")
    def scan(ths: Seq[Double]) = Metrics.thresholdScan(df, "y", "score", ths).collect().toSeq
    assert(scan(Seq(0.5)) == Seq(org.apache.spark.sql.Row(0.5, 1L, 1L, 1L, 0.5)))
    assert(scan(Seq(0.5, 0.5)) == scan(Seq(0.5)))
  }

  test("thresholdScan matches Spark's >= on null, NaN, -0.0 and 0.0 scores and null labels") {
    val df = Seq[(Option[Int], Option[Double])](
      (Some(1), Some(0.0)), (Some(0), Some(-0.0)), (Some(1), Some(-0.0)), (None, Some(0.0)),
      (Some(1), Some(Double.NaN)), (Some(0), Some(Double.NaN)), (None, Some(Double.NaN)),
      (Some(1), None), (Some(0), None), (None, None),
      (Some(1), Some(0.7)), (None, Some(0.5)), (Some(0), Some(-1.0)),
      (Some(1), Some(Double.PositiveInfinity)), (Some(0), Some(Double.NegativeInfinity))
    ).toDF("y", "score")
    val ths = Seq(0.5, -0.0, 0.0, Double.NaN, -1.0, Double.NegativeInfinity, 0.7,
      Double.PositiveInfinity, 0.5, Double.NaN)
    val bits = java.lang.Double.doubleToLongBits _
    val got = Metrics.thresholdScan(df, "y", "score", ths).collect()
      .map(r => bits(r.getDouble(0)) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // reference: Spark's own grouping of the thresholds and its own >= filter
    // per threshold; a null label is neither positive nor negative, so it
    // counts nowhere (fp counts y = 0 only, as the DuckDB oracle does)
    val distinct = ths.toDF("t").distinct().as[Double].collect()
    assert(got.size == distinct.length && distinct.length == 7)
    distinct.foreach { t =>
      val above = df.filter(col("score") >= lit(t))
      val tp = above.filter(col("y") === 1).count()
      val fp = above.filter(col("y") === 0).count()
      val fn = df.filter(col("score") < lit(t) && col("y") === 1).count()
      assert(got(bits(t)) == ((tp, fp, fn)), s"t=$t")
    }
  }

  test("thresholdScan and rank metrics are lazy: building runs no job, nothing cached") {
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    // numCachedEntries is private[sql] in Scala but public in bytecode
    def cachedEntries = cacheManager.getClass.getMethod("numCachedEntries")
      .invoke(cacheManager).asInstanceOf[Int]
    val input = scored
    val cachedBefore = cachedEntries
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (built, jobs) = jobsDuring(Seq(
      Metrics.thresholdScan(input, "y", "score", (1 to 99).map(_ / 100.0)),
      Metrics.aucRoc(input, "y", "score"),
      Metrics.averagePrecision(input, "y", "score"),
      Metrics.prCurve(input, "y", "score")))
    assert(jobs == 0, s"building ran $jobs job(s)")
    assert(built.map(_.collect().length) == Seq(99, 1, 1, 21))
    assert(cachedEntries == cachedBefore, "cache manager entry left behind")
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore, "persistent RDD left behind")
  }

  test("approx-quantile scale path stays within tolerance of the exact path") {
    val dir = "/root/testdata/sf0.001"
    val cols = Pipelines.quartet.map(q => s"${q}_count")
    val exact = ops.StatOps.iqrClip(Pipelines.slots(spark, dir), cols)
    val approx = ops.StatOps.iqrClip(Pipelines.slots(spark, dir), cols, approxAccuracy = 10000)
    assert(exact.count() == approx.count())
    val key = Seq("user_id", "day_type", "time_period")
    val joined = exact.select((key.map(col) ++ cols.map(c => col(c).as(s"e_$c"))): _*)
      .join(approx.select((key.map(col) ++ cols.map(c => col(c).as(s"a_$c"))): _*), key)
    cols.foreach { c =>
      val maxDiff = joined.agg(max(abs(col(s"e_$c") - col(s"a_$c")))).collect()(0).getDouble(0)
      assert(maxDiff <= 2.0, s"$c approx clip drifted: $maxDiff") // counts are small ints
    }
    // bot filter: approx P99 keeps within a handful of rows of exact
    val ce = Pipelines.slotsCleaned(spark, dir).count()
    val ca = Pipelines.slotsCleaned(spark, dir, approxAccuracy = 10000).count()
    assert(math.abs(ce - ca) <= math.max(5L, ce / 100))
  }

  test("no single-partition window in any metric plan") {
    // the round-1 aucRoc planned a WindowExec with an empty partition spec;
    // the rewritten plans must not contain ANY global Window node
    Seq(
      Metrics.aucRoc(scored, "y", "score"),
      Metrics.prCurve(scored, "y", "score"),
      Metrics.averagePrecision(scored, "y", "score"),
      Metrics.thresholdScan(scored, "y", "score", Seq(0.5))
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"global window found:\n$plan")
    }
  }
}
