package graft

import org.apache.spark.sql.functions._
import graft.ml.Models
import graft.ops.{CategoricalOps, Skew}

class MlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val data = {
    // separable synthetic: label 1 iff x1 + x2 > 10 (deterministic)
    val rnd = new scala.util.Random(42)
    (0 until 400).map { i =>
      val x1 = rnd.nextInt(10).toDouble
      val x2 = rnd.nextInt(10).toDouble
      (i.toLong, x1, x2, rnd.nextInt(5).toDouble, if (x1 + x2 > 10) 1 else 0)
    }.toDF("id", "x1", "x2", "noise", "y").cache()
  }

  test("standard scaling: train-fit stats, zero-variance guarded") {
    val withConst = data.withColumn("c0", lit(5.0))
    val scaled = Models.standardScale(withConst, withConst, Seq("x1", "x2", "c0"))
    val stats = scaled.agg(avg("x1"), stddev_samp("x1"), avg("c0")).collect()(0)
    assert(math.abs(stats.getDouble(0)) < 1e-9)
    assert(math.abs(stats.getDouble(1) - 1.0) < 1e-9)
    assert(stats.getDouble(2) == 0.0) // constant column -> 0, not NaN
  }

  test("deterministic oversampler balances classes and interpolates") {
    val counts0 = data.groupBy("y").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val over = Models.oversampleInterpolate(data, "id", "y", Seq("x1", "x2", "noise"))
    val counts1 = over.groupBy("y").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts1.values.max == counts1.values.min ||
      math.abs(counts1.values.max - counts1.values.min) < counts0.values.max / 10)
    // deterministic
    val again = Models.oversampleInterpolate(data, "id", "y", Seq("x1", "x2", "noise"))
    assert(over.collect().map(_.toSeq).toSet == again.collect().map(_.toSeq).toSet)
    // synthetic rows (negative ids) interpolate within the minority's hull
    val minLabel = counts0.minBy(_._2)._1
    val minRows = data.filter(col("y") === minLabel).select("x1").collect().map(_.getDouble(0))
    over.filter(col("id") < 0).select("x1").collect().map(_.getDouble(0))
      .foreach(v => assert(v >= minRows.min && v <= minRows.max))
  }

  test("oversampler: every synthetic lies ON its (row, exact in-bucket 1-NN) segment at λ∈(0,1)") {
    val feats = Seq("x1", "x2", "noise")
    val counts0 = data.groupBy("y").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val minLabel = counts0.minBy(_._2)._1
    // recompute the buckets with the SAME expression the oversampler uses
    val bucketed = data.filter(col("y") === minLabel)
      .withColumn("__bkt",
        graft.ops.Similarity.lshBucket(
          array(feats.map(c => col(c).cast("double")): _*), 4, seed = 42L).cast("long"))
      .select((Seq(col("id"), col("__bkt")) ++ feats.map(col)).toIndexedSeq: _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), feats.indices.map(i => r.getDouble(2 + i))))
    // exact 1-NN per row within its bucket (ties -> lowest neighbor id)
    val segments = bucketed.flatMap { case (id, bkt, f) =>
      val cands = bucketed.filter(o => o._2 == bkt && o._1 != id)
      if (cands.isEmpty) None
      else {
        val nn = cands.minBy(o =>
          (o._3.zip(f).map { case (a, b) => (a - b) * (a - b) }.sum, o._1))
        Some((f.toList, nn._3.toList))
      }
    }
    // a synthetic s sits on segment (a, b) at a CONSISTENT λ∈(0,1):
    // s_i = a_i + λ(b_i − a_i) for every dim, s_i = a_i where the segment
    // is degenerate in that dim
    def onSegment(s: List[Double]): Option[Double] = segments.view.flatMap {
      case (a, b) =>
        val lams = s.indices.flatMap { i =>
          if (b(i) == a(i)) { if (s(i) == a(i)) None else Some(Double.NaN) }
          else Some((s(i) - a(i)) / (b(i) - a(i)))
        }
        val ok = lams.nonEmpty && !lams.exists(_.isNaN) &&
          lams.forall(l => math.abs(l - lams.head) < 1e-9) &&
          lams.head > 0.0 && lams.head < 1.0
        if (ok || (lams.isEmpty && s == a)) Some(if (lams.isEmpty) 0.5 else lams.head)
        else None
    }.headOption
    val synth = Models.oversampleInterpolate(data, "id", "y", feats)
      .filter(col("id") < 0)
      .select(feats.map(col).toIndexedSeq: _*)
      .collect().map(r => feats.indices.map(r.getDouble).toList)
    assert(synth.nonEmpty)
    val lambdas = synth.map { s =>
      val l = onSegment(s)
      assert(l.isDefined, s"synthetic $s is not on any (row, in-bucket exact 1-NN) segment")
      l.get
    }
    // λ distribution: hash-drawn per synthetic row, NOT a fixed midpoint —
    // many distinct values across the batch (round-4 missing #2 closed)
    assert(lambdas.distinct.size > math.max(2, lambdas.size / 4),
      s"λ values collapse: ${lambdas.distinct.take(5)}... (${lambdas.distinct.size} distinct)")
  }

  test("oversampler: high-bucket-count signature (bits=14) — no analyzer blow-up") {
    // the round-4 shape folded bucket→offset into a chained `when` — an
    // O(#buckets) expression tree. 8 features × 14 hyperplanes occupy
    // thousands of sign-pattern buckets; the broadcast-joined offsets table
    // must handle it in one plan of constant depth
    val rnd = new scala.util.Random(3)
    val feats = (1 to 8).map(i => s"f$i")
    val rows = (0 until 4400).map { i =>
      val y = if (i < 4000) 0 else 1 // 10:1 imbalance — minority is label 1 (400 rows)
      (i.toLong, Seq.fill(8)(rnd.nextDouble() * 10 - 5), y)
    }
    val df = rows.map { case (id, fs, y) =>
      (id, fs(0), fs(1), fs(2), fs(3), fs(4), fs(5), fs(6), fs(7), y)
    }.toDF("id" +: feats :+ "y": _*)
    val over = Models.oversampleInterpolate(df, "id", "y", feats, bitsOverride = 14)
    val c = over.groupBy("y").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(c(0) == c(1), s"classes not balanced under bits=14: $c")
    // partition invariance still holds at high bucket counts
    val a = Models.oversampleInterpolate(df.repartition(3), "id", "y", feats,
      bitsOverride = 14).filter(col("id") < 0).collect().map(_.toSeq).toSet
    val b = Models.oversampleInterpolate(df.repartition(17), "id", "y", feats,
      bitsOverride = 14).filter(col("id") < 0).collect().map(_.toSeq).toSet
    assert(a == b, "bits=14 synthetics depend on partitioning")
    // past the adaptive cap of 20 bits the offsets table could outgrow a
    // bounded collect, so the override fails before any job
    val e = intercept[IllegalArgumentException](
      Models.oversampleInterpolate(df, "id", "y", feats, bitsOverride = 21))
    assert(e.getMessage.contains("bitsOverride=21"))
  }

  test("oversampler: synthetic set is partitioning-invariant and balances exactly") {
    // the round-2 version selected survivors with an unordered .limit —
    // which rows survived depended on partition visit order
    def synths(p: Int) = Models.oversampleInterpolate(
      data.repartition(p), "id", "y", Seq("x1", "x2", "noise"))
      .filter(col("id") < 0).collect().map(_.toSeq).toSet
    assert(synths(2) == synths(32), "synthetic rows depend on partitioning")
    val c = Models.oversampleInterpolate(data, "id", "y", Seq("x1", "x2", "noise"))
      .groupBy("y").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(c.values.max == c.values.min, s"classes not exactly balanced: $c")
  }

  test("flagship evaluation run: all five reference metrics per fold + mean±std JSON") {
    val ms = Models.evaluationRun(data, Seq("x1", "x2", "noise"), "y", "id",
      k = 3, rfeTarget = 2)
    assert(ms.size == 3)
    ms.foreach { m =>
      Seq(m.accuracy, m.precision, m.recall, m.f1, m.aucRoc, m.aucPr)
        .foreach(v => assert(v >= 0.0 && v <= 1.0 + 1e-12)) // AP is a double fold: a
      // perfectly separated fold can sum to 1 + 1ulp
      assert(m.accuracy > 0.85 && m.aucRoc > 0.9, s"separable data should score high: $m")
    }
    val json = Models.evaluationJson(ms)
    Seq("accuracy", "precision", "recall", "f1", "aucRoc", "aucPr", "mean", "std", "folds")
      .foreach(k => assert(json.contains(s""""$k""""), s"metric $k missing from $json"))
    val sums = Models.evaluationSummary(ms)
    assert(sums.keySet ==
      Set("accuracy", "precision", "recall", "f1", "aucRoc", "aucPr"))
    sums.values.foreach { case (m, s) => assert(m >= 0 && m <= 1 + 1e-12 && s >= 0) }
  }

  test("in-fold-only oversampling: mutating test-fold rows never changes train synthetics") {
    val folded = CategoricalOps.stratifiedFolds(data, "id", "y", 3).cache()
    val feats = Seq("x1", "x2", "noise")
    val base = Models.inFoldTrain(folded, 0, feats, "y", "id")
    // corrupt every fold-0 (test) row — train-side prep must not notice
    val mutated = folded.withColumn("x1",
      when(col("fold") === 0, col("x1") * 100 + 7).otherwise(col("x1")))
    val again = Models.inFoldTrain(mutated, 0, feats, "y", "id")
    assert(base.collect().map(_.toSeq).toSet == again.collect().map(_.toSeq).toSet,
      "test-fold mutation leaked into train-fold scaling/synthetics")
    folded.unpersist()
  }

  test("QuantLR: bit-identical to a sequential reference; partition-invariant; learns signs") {
    // separable-ish counts: label correlates positively with a, negatively
    // with b, c is noise
    val rnd = new scala.util.Random(11)
    val rows = (1 to 800).map { i =>
      val a = rnd.nextInt(50); val b = rnd.nextInt(50); val c = rnd.nextInt(50)
      val y = if (a - b + rnd.nextInt(20) - 10 > 0) 1 else 0
      (i.toLong, a.toLong, b.toLong, c.toLong, y)
    }
    val df = rows.toDF("id", "a", "b", "c", "y")
    val w = graft.ml.QuantLR.fit(df, Seq("a", "b", "c"), "y")

    // plain-Scala reference: same scaling, same fold, same quantized sums —
    // sequential longs are exact, so any Spark partitioning must agree EXACTLY
    val feats = rows.map(r => Array(r._2, r._3, r._4))
    val ys = rows.map(_._5.toDouble)
    val mins = (0 until 3).map(j => feats.map(_(j)).min)
    val maxs = (0 until 3).map(j => feats.map(_(j)).max)
    val z = feats.map(f => (0 until 3).map(j =>
      if (maxs(j) == mins(j)) 0.0 else (f(j) - mins(j)).toDouble / (maxs(j) - mins(j)).toDouble).toArray)
    val scale = graft.ml.QuantLR.QuantScale
    val ref = Array.fill(4)(0.0)
    val nD = rows.size.toDouble
    for (_ <- 1 to graft.ml.QuantLR.DefaultIters) {
      val q = Array.fill(4)(0L)
      z.zip(ys).foreach { case (zi, y) =>
        var m = ref(0)
        for (j <- 0 until 3) m = m + ref(j + 1) * zi(j)
        val r = (0.5 + (0.5 * m) / (1.0 + math.abs(m))) - y
        q(0) += math.floor(r * scale).toLong
        for (j <- 0 until 3) q(j + 1) += math.floor((r * zi(j)) * scale).toLong
      }
      for (j <- 0 until 4) ref(j) = ref(j) - 0.5 * (q(j).toDouble / scale / nD)
    }
    assert(w.toSeq == ref.toSeq, s"got ${w.toSeq} want ${ref.toSeq}")
    // partition-invariance: the quantized integer sums are order-independent
    val w7 = graft.ml.QuantLR.fit(df.repartition(7), Seq("a", "b", "c"), "y")
    assert(w7.toSeq == w.toSeq)
    // signs: positive on a, negative on b, |noise| smallest
    assert(w(1) > 0 && w(2) < 0, s"signs wrong: ${w.toSeq}")
    assert(math.abs(w(3)) < math.abs(w(1)) && math.abs(w(3)) < math.abs(w(2)))
    // importance artifact: ranked by |coef| desc with the 1-based rank column
    val fi = graft.ml.QuantLR.featureImportance(df, Seq("a", "b", "c"), "y", topK = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
    assert(fi.length == 2 && fi(0)._3 == 1 && fi(1)._3 == 2)
    assert(math.abs(fi(0)._2) >= math.abs(fi(1)._2))
  }

  test("QuantLR guards: double features and empty input fail fast with friendly messages") {
    // a double feature would be truncated toward zero by the long cast —
    // rejected up front, not silently diverged from the oracle
    val dbl = Seq((1L, 0.5, 1), (2L, -0.5, 0)).toDF("id", "f", "y")
    val e1 = intercept[IllegalArgumentException] {
      graft.ml.QuantLR.fit(dbl, Seq("f"), "y")
    }
    assert(e1.getMessage.contains("integral"), e1.getMessage)
    // empty input: the friendly require fires before any getLong on the
    // null min/max row
    val empty = Seq.empty[(Long, Long, Int)].toDF("id", "f", "y")
    val e2 = intercept[IllegalArgumentException] {
      graft.ml.QuantLR.fit(empty, Seq("f"), "y")
    }
    assert(e2.getMessage.contains("empty input"), e2.getMessage)
    // non-empty input whose SECOND feature column is all-null: the guard
    // must check every feature's min slot, not just feature 0's
    val nullCol = Seq((1L, 1L, Option.empty[Long], 1), (2L, 2L, Option.empty[Long], 0))
      .toDF("id", "f1", "f2", "y")
    val e3 = intercept[IllegalArgumentException] {
      graft.ml.QuantLR.fit(nullCol, Seq("f1", "f2"), "y")
    }
    assert(e3.getMessage.contains("all-null feature 'f2'"), e3.getMessage)
    // the documented constant agrees with the enforced bound
    assert(graft.ml.QuantLR.MaxRows ==
      graft.ml.QuantLR.maxRowsFor(graft.ml.QuantLR.QuantScale))
  }

  test("QuantLR ≡ the SQL-form reference bit-for-bit under null features, null labels " +
    "and a constant feature with nulls; no persist left behind") {
    // each kind of null on its own, then all together; each input also
    // repartitioned, since only the quantized integer sums make it invariant
    def input(nullFeat: Boolean, nullLabel: Boolean, nullConst: Boolean) = {
      val rnd = new scala.util.Random(23)
      def maybe[T](on: Boolean, every: Int, v: T): Option[T] =
        if (on && rnd.nextInt(every) == 0) None else Some(v)
      (1 to 600).map { i =>
        val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
        val y = if (a - b + rnd.nextInt(20) - 10 > 0) 1 else 0
        (i.toLong, maybe(nullFeat, 9, a), maybe(nullFeat, 13, b), maybe(nullConst, 5, 3L),
          maybe(nullLabel, 11, y))
      }.toDF("id", "a", "b", "c", "y")
    }
    def bits(w: Array[Double]) = w.toSeq.map(java.lang.Double.doubleToRawLongBits)
    val feats = Seq("a", "b", "c")
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    for ((nf, nl, nc) <- Seq((true, false, false), (false, true, false),
                             (false, false, true), (true, true, true))) {
      val df = input(nf, nl, nc)
      val want = QuantLRReference.fit(df, feats, "y")
      assert(want.exists(_ != 0.0))
      for (in <- Seq(df, df.repartition(7)))
        assert(bits(graft.ml.QuantLR.fit(in, feats, "y")) == bits(want),
          s"nulls (features $nf, labels $nl, constant $nc), ${in.rdd.getNumPartitions} partitions")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore, "fit left a persist behind")
    // a guard firing after the persist still releases it
    val nullCol = Seq((1L, 1L, Option.empty[Long], 1), (2L, 2L, Option.empty[Long], 0))
      .toDF("id", "f1", "f2", "y")
    intercept[IllegalArgumentException](graft.ml.QuantLR.fit(nullCol, Seq("f1", "f2"), "y"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore, "guard left a persist behind")
    // no row can contribute: a friendly failure, not weights that never moved
    val noLabel = Seq((1L, 1L, Option.empty[Int]), (2L, 2L, Option.empty[Int])).toDF("id", "f", "y")
    val e = intercept[IllegalArgumentException](graft.ml.QuantLR.fit(noLabel, Seq("f"), "y"))
    assert(e.getMessage.contains("non-null label"), e.getMessage)
  }

  test("QuantLR.fit leaves session conf unchanged while its jobs run") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(k => spark.conf.get(k))
    val readings = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.marker") != null)
          markerSeen.countDown()
        else readings.add(keys.map(k => spark.conf.get(k)))
    }
    val df = (1 to 300).map(i => (i.toLong, (i % 17).toLong, i % 3 % 2)).toDF("id", "a", "y")
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      graft.ml.QuantLR.fit(df, Seq("a"), "y")
      // the bus delivers events in order on its own thread: once the marker
      // job's start arrives, every job of the fit has been read
      sc.setLocalProperty("graft.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.marker", null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
    } finally sc.removeSparkListener(listener)
    assert(!readings.isEmpty, "no job observed")
    readings.forEach(r => assert(r == before, s"a fit job saw ${keys.zip(r)}, not ${keys.zip(before)}"))
  }

  test("feature importance ranks by |coef| with deterministic name tie-break") {
    val fi = Models.featureImportance(
      Map("a" -> 0.5, "b" -> -0.9, "d" -> -0.1, "c" -> 0.1), topK = 3)
    assert(fi.map(_._1) == Seq("b", "a", "c"))
    assert(fi.map(_._3) == Seq(1, 2, 3))
    assert(fi.head._2 == -0.9) // signed coefficient preserved in the artifact
  }

  test("logistic regression learns the separable rule; RFE drops the noise feature") {
    val (_, coefs) = Models.logistic(data, Seq("x1", "x2", "noise"), "y")
    assert(coefs("x1") > 0 && coefs("x2") > 0)
    assert(math.abs(coefs("noise")) < math.min(coefs("x1"), coefs("x2")))
    val kept = Models.rfe(data, Seq("x1", "x2", "noise"), "y", target = 2)
    assert(kept.toSet == Set("x1", "x2"))
  }

  test("cv accuracy high on separable data for all model families") {
    Seq("lr", "dt").foreach { fam =>
      val accs = Models.cvAccuracy(data, Seq("x1", "x2"), "y", "id", k = 3, family = fam)
      assert(accs.size == 3)
      val mean = accs.map(_._2).sum / accs.size
      assert(mean > 0.9, s"$fam mean acc $mean")
    }
  }

  test("oof probabilities: one row per input, vote = mean of model probs") {
    val oof = Models.oofProbabilities(data, Seq("x1", "x2"), "y", "id", k = 3)
    assert(oof.count() == data.count())
    val r = oof.select("p_lr", "p_rf", "p_vote").collect()
    r.foreach(x => assert(math.abs((x.getDouble(0) + x.getDouble(1)) / 2.0 - x.getDouble(2)) < 1e-12))
    // OOF separability: mean prob of positives > mean prob of negatives
    val m = oof.groupBy("y").agg(avg("p_vote")).collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
    assert(m(1) > m(0))
  }

  test("stacking meta-LR separates at least as well as the base soft vote") {
    val stacked = Models.stack(data, Seq("x1", "x2"), "y", "id", k = 3)
    assert(stacked.count() == data.count())
    assert(stacked.columns.contains("p_stack"))
    val m = stacked.groupBy("y").agg(avg("p_stack"), avg("p_vote")).collect()
      .map(x => x.getInt(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(m(1)._1 > m(0)._1, "meta probabilities separate the classes")
    assert((m(1)._1 - m(0)._1) > 0.8 * (m(1)._2 - m(0)._2),
      "meta separation not far below the soft vote's")
  }

  test("randomized search samples the space and ranks a working combo first") {
    val space = Map("regParam" -> Seq(0.0, 0.01, 0.1, 10.0), "elasticNetParam" -> Seq(0.0, 0.5))
    val ranked = Models.randomizedSearch(data, Seq("x1", "x2"), "y", "id",
      space, nIter = 6, k = 3, seed = 42L, family = "lr")
    assert(ranked.nonEmpty && ranked.size <= 6)
    assert(ranked.head._2 >= ranked.last._2, "ranked best-first")
    assert(ranked.head._2 > 0.8, "separable data: best combo accuracy high")
    // deterministic: same seed, same combos
    val again = Models.randomizedSearch(data, Seq("x1", "x2"), "y", "id",
      space, nIter = 6, k = 3, seed = 42L, family = "lr")
    assert(again.map(_._1) == ranked.map(_._1))
  }

  test("pairwise interactions: all C(n,2) products, exact values") {
    val df = Seq((1L, 2.0, 3.0, 5.0)).toDF("id", "a", "b", "c")
    val got = graft.ops.StatOps.pairwiseInteractions(df, Seq("a", "b", "c")).collect()(0)
    assert(got.getDouble(got.fieldIndex("a_x_b")) == 6.0)
    assert(got.getDouble(got.fieldIndex("a_x_c")) == 10.0)
    assert(got.getDouble(got.fieldIndex("b_x_c")) == 15.0)
  }

  test("pca projects to k components; tuning returns a grid member") {
    val proj = Models.pca(data, Seq("x1", "x2", "noise"), k = 2)
    assert(proj.count() == data.count())
    assert(proj.select("pca").head().getAs[org.apache.spark.ml.linalg.Vector](0).size == 2)
    val (bestReg, bestAuc) = Models.tuneLogistic(data, Seq("x1", "x2"), "y")
    assert(Seq(0.001, 0.01, 0.1).contains(bestReg) && bestAuc > 0.9)
  }

  test("salted aggregation equals direct aggregation (incl. mega-key)") {
    val skewed = (0 until 5000).map { i =>
      val k = if (i % 10 == 0) i % 7 else 3 // key 3 holds 90%
      (k.toLong, i.toLong, (i % 100).toLong)
    }.toDF("k", "ts", "v")
    val direct = skewed.groupBy("k")
      .agg(sum("v").as("v"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val s2 = Skew.saltedAggregate(skewed.withColumn("one", lit(1L)), Seq("k"), "ts", 8,
      Seq(Skew.sumL("v"), Skew.sumL("one")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(s2 == direct)
  }
}
