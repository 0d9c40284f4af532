package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Metrics, PrefixSum}

/** Scale-safe metrics: the grouped/parallel-prefix plans must equal the
  * direct row-level definitions (which round 1 computed with a
  * single-partition global window — the plan shape these replaced). */
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

  test("prefix sums match the global-window cumsum, any partitioning") {
    val df = (1 to 1000).map(i => (i.toLong, (i % 97).toLong)).toDF("k", "v")
      .repartition(7) // scramble input
    for (parts <- Seq(1, 3, 8)) {
      val got = PrefixSum.runningSums(df, Seq(col("k")), Seq("v"), numPartitions = parts)
        .select("k", "v_cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = df.withColumn("v_cum",
        sum("v").over(Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("k", "v_cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == exp, s"parts=$parts")
    }
  }

  test("aucRoc (grouped + parallel prefix) equals the direct rank formula") {
    val got = Metrics.aucRoc(scored, "y", "score").collect()(0).getDouble(0)
    // direct Mann-Whitney with average ranks, plain Scala
    val rows = scored.select("y", "score").collect().map(r => (r.getInt(0), r.getDouble(1)))
    val sorted = rows.sortBy(_._2)
    val byScore = sorted.groupBy(_._2)
    val rankOf = byScore.map { case (s, g) =>
      val before = sorted.count(_._2 < s)
      s -> (before + (g.length + 1) / 2.0)
    }
    val p = rows.count(_._1 == 1).toDouble
    val n = rows.count(_._1 == 0).toDouble
    val sumR = rows.filter(_._1 == 1).map(r => rankOf(r._2)).sum
    val exp = (sumR - p * (p + 1) / 2.0) / (p * n)
    assert(math.abs(got - exp) < 1e-12, s"got=$got exp=$exp")
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
    val rows = scored.select("y", "score").collect().map(r => (r.getInt(0), r.getDouble(1)))
    val total = rows.count(_._1 == 1).toDouble
    val descScores = rows.map(_._2).distinct.sorted.reverse
    val expCurve = descScores.map { s =>
      val tp = rows.count(r => r._1 == 1 && r._2 >= s).toLong
      val np = rows.count(r => r._2 >= s).toLong
      s -> (tp, np, tp.toDouble / np, tp / total)
    }.toMap
    val gotCurve = Metrics.prCurve(scored, "y", "score").collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(gotCurve.keySet == expCurve.keySet)
    gotCurve.foreach { case (s, (tp, np, prec, rec)) =>
      val (etp, enp, eprec, erec) = expCurve(s)
      assert(tp == etp && np == enp)
      assert(math.abs(prec - eprec) < 1e-12 && math.abs(rec - erec) < 1e-12)
    }
    // AP = Σ ΔR·P over descending thresholds
    var expAp = 0.0
    var prevTp = 0L
    descScores.foreach { s =>
      val (tp, np, prec, _) = {
        val e = expCurve(s); (e._1, e._2, e._3, e._4)
      }
      expAp += ((tp - prevTp) / total) * prec
      prevTp = tp
    }
    val gotAp = Metrics.averagePrecision(scored, "y", "score").collect()(0).getDouble(0)
    assert(math.abs(gotAp - expAp) < 1e-12, s"got=$gotAp exp=$expAp")
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

  test("thresholdScan is lazy: building runs no job, collecting caches nothing") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    // numCachedEntries is private[sql] in Scala but public in bytecode
    def cachedEntries = cacheManager.getClass.getMethod("numCachedEntries")
      .invoke(cacheManager).asInstanceOf[Int]
    val input = scored
    val cachedBefore = cachedEntries
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.marker") != null)
          markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val built =
      try {
        val df = Metrics.thresholdScan(input, "y", "score", (1 to 99).map(_ / 100.0))
        // the bus delivers events in order: once the marker job's start
        // arrives, every job started while building has been counted
        sc.setLocalProperty("graft.spec.marker", "1")
        try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.marker", null)
        assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
        df
      } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"building ran ${jobs.get} job(s)")
    assert(built.collect().length == 99)
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
