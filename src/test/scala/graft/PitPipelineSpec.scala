package graft

import graft.gen.TranscriptGen
import graft.features.BehaviorBinding
import graft.oracle.ScalaOracle
import graft.oracle.ScalaOracle.EntityStats

/** End-to-end PIT anchor features vs an in-memory oracle + leakage property. */
class PitPipelineSpec extends SparkSpec {

  private val c = TranscriptCols.turns
  private val roles = Turn.roles
  private val binding = BehaviorBinding(pv = "user", cart = "assistant", fav = "system", buy = "tool")
  private val width = 3600L

  private lazy val turns = TranscriptGen.turns(spark, seed = 11L, nConvs = 25).cache()

  /** In-memory recomputation of the full pipeline for one conversation. */
  private def oracleAnchors(ts: Seq[Turn]): Map[Int, Option[Map[String, Double]]] = {
    val sorted = ts.sortBy(_.turn_idx)
    val winOf = (t: Turn) => Math.floorDiv(t.ts.getTime / 1000L, width)
    val winCounts: Map[Long, Map[String, Long]] = sorted.groupBy(winOf).view.mapValues { g =>
      roles.map(r => r -> g.count(_.role == r).toLong).toMap
    }.toMap
    sorted.map { t =>
      val anchorSec = t.ts.getTime / 1000L
      // completed windows: (w+1)*width <= anchorSec
      val wins = winCounts.keys.filter(w => (w + 1) * width <= anchorSec).toSeq.sorted
      val feats = if (wins.isEmpty) None else {
        val perRole = roles.map { r =>
          val vals = wins.map(w => winCounts(w)(r))
          r -> vals
        }.toMap
        val stats = EntityStats(
          counts = roles.map(r => r -> perRole(r).sum).toMap,
          min = roles.map(r => r -> perRole(r).min).toMap,
          max = roles.map(r => r -> perRole(r).max).toMap,
          avg = roles.map(r => r -> perRole(r).sum.toDouble / perRole(r).size.toDouble).toMap)
        Some(ScalaOracle.features(Seq("user", "assistant", "system", "tool"), stats).toMap)
      }
      t.turn_idx -> feats
    }.toMap
  }

  test("anchor feature vectors match the in-memory oracle exactly (allclose not even needed)") {
    val got = PitPipeline.anchorFeatures(turns.toDF(), c, roles, binding, width)
      .collect().map(r => (r.getString(r.fieldIndex("conv_id")), r.getInt(r.fieldIndex("turn_idx"))) -> r).toMap
    val featNames = graft.features.FeatureLayers.formulas(binding).map(_._1)
    val all = turns.collect()
    all.groupBy(_.conv_id).foreach { case (conv, ts) =>
      val oracle = oracleAnchors(ts.toSeq)
      ts.foreach { t =>
        val row = got((conv, t.turn_idx))
        oracle(t.turn_idx) match {
          case None =>
            assert(row.get(row.fieldIndex("user_min")) == null, s"$conv/${t.turn_idx} should have no state")
          case Some(exp) =>
            featNames.foreach { n =>
              val v = row.get(row.fieldIndex(n)) match {
                case d: Double => d
                case i: Int => i.toDouble
                case other => fail(s"$n: $other")
              }
              assert(v == exp(n), s"$conv/${t.turn_idx} feature $n: got $v exp ${exp(n)}")
            }
        }
      }
    }
  }

  test("zero leakage: appending future turns never changes existing anchors") {
    val base = TranscriptGen.turns(spark, 13L, 8)
    val df = base.toDF()
    val before = PitPipeline.anchorFeatures(df, c, roles, binding, width)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.toSeq).toMap
    // append turns strictly after every conversation's last anchor
    import spark.implicits._
    val maxTs = base.collect().map(_.ts.getTime).max
    val future = base.collect().groupBy(_.conv_id).map { case (conv, ts) =>
      val last = ts.maxBy(_.turn_idx)
      last.copy(turn_idx = last.turn_idx + 1, role = "tool",
        ts = new java.sql.Timestamp(maxTs + 7200 * 1000L))
    }.toSeq.toDF()
    val after = PitPipeline.anchorFeatures(df.unionByName(future), c, roles, binding, width)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.toSeq).toMap
    before.foreach { case (k, v) =>
      assert(after(k) == v, s"anchor $k changed when future turns were appended")
    }
  }

  test("null ts and null conv semantics of the sweep") {
    import spark.implicits._
    val t0 = 1704067200L // window-aligned at 1 h
    def at(sec: Long) = Some(new java.sql.Timestamp(sec * 1000L))
    val df = Seq[(Option[String], Int, String, Option[java.sql.Timestamp])](
      (Some("a"), 0, "user", None),
      (Some("a"), 1, "user", at(t0)),
      (Some("a"), 2, "assistant", at(t0 + 10)),
      (Some("a"), 3, "tool", at(t0 + 3605)),
      (None, 0, "user", at(t0)),
      (None, 1, "user", at(t0 + 20)),
      (None, 2, "assistant", at(t0 + 3700))).toDF("conv_id", "turn_idx", "role", "ts")
    val got = PitPipeline.anchorFeatures(df, c, roles, binding, width).collect()
      .map(r => (Option(r.getString(0)), r.getInt(1)) -> r).toMap
    def stats(k: (Option[String], Int), r: String): Seq[Any] =
      Seq("min", "max", "avg", "count").map(s => got(k).get(got(k).fieldIndex(s"${r}_$s")))
    // the null-ts anchor sits in the first window: no completed one yet
    // (the as-of merge used to see its own open window: user_count = 1)
    assert(got.keys.size == 7)
    assert((0 until got((Some("a"), 0)).size).drop(3).forall(got((Some("a"), 0)).isNullAt),
      s"null-ts anchor must get all-null features: ${got((Some("a"), 0))}")
    // every later anchor of `a` has the null window as its first completed one
    Seq(1, 2).foreach { i =>
      assert(stats((Some("a"), i), "user") == Seq(1L, 1L, 1.0, 1L))
      assert(stats((Some("a"), i), "assistant") == Seq(0L, 0L, 0.0, 0L))
    }
    assert(stats((Some("a"), 3), "user") == Seq(1L, 1L, 1.0, 2L))
    assert(stats((Some("a"), 3), "assistant") == Seq(0L, 1L, 0.5, 1L))
    // the null conv is one group of its own: its first window is not `a`'s
    Seq(0, 1).foreach(i => assert(got((None, i)).isNullAt(3), s"null conv turn $i"))
    assert(stats((None, 2), "user") == Seq(2L, 2L, 2.0, 2L))
    assert(stats((None, 2), "assistant") == Seq(0L, 0L, 0.0, 0L))
  }

  test("anchorFeatures validates its arguments before any job") {
    val df = spark.createDataFrame(Seq.empty[Turn])
    val group = "pit-validation"
    spark.sparkContext.setJobGroup(group, "validation only")
    try {
      val e1 = intercept[IllegalArgumentException](
        PitPipeline.anchorFeatures(df, c, roles, binding, 0L))
      assert(e1.getMessage.contains("widthSec must be > 0, got 0"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](
        PitPipeline.anchorFeatures(df, c, roles :+ "user", binding, width))
      assert(e2.getMessage.contains("roles must be distinct, repeated: user"), e2.getMessage)
      val e3 = intercept[IllegalArgumentException](
        PitPipeline.anchorFeatures(df, c, roles.filterNot(_ == "tool"), binding, width))
      assert(e3.getMessage.contains("binding roles tool"), e3.getMessage)
      val e4 = intercept[IllegalArgumentException](
        PitPipeline.anchorFeatures(df.withColumn("ts", org.apache.spark.sql.functions.lit("x")),
          c, roles, binding, width))
      assert(e4.getMessage.contains("got StringType") || e4.getMessage.contains("got string"), e4.getMessage)
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty, "a job ran")
    } finally spark.sparkContext.clearJobGroup()
  }

  test("maxKeyRun of both execs equals a mega-conversation's turn count") {
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val mega = TranscriptGen.turns(spark, seed = 5L, nConvs = 30, megaConvs = 1, megaTurns = 3000,
      partitions = 4).toDF().cache()
    val runs = mega.groupBy("conv_id").count().collect().map(_.getLong(1))
    val longest = runs.max
    assert(longest >= 3000 && runs.count(_ == longest) == 1)
    // keep all 4 shuffle partitions (AQE would coalesce this small input
    // into one task), so a per-task sum would exceed the longest run
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try {
      val sweep = PitPipeline.anchorFeatures(mega, c, roles, binding, width)
      sweep.collect()
      val sm = Aqe.collect(sweep.queryExecution.executedPlan) { case p: graft.plans.PitSweepExec => p }
        .head.metrics
      assert(sm("maxKeyRun").value == longest)
      assert(sm("numOutputRows").value == runs.sum)
      assert(sm("numWindows").value == PitPipeline.windowStates(mega, c, roles, width).count())
      val states = PitPipeline.windowStates(mega, c, roles, width).withColumnRenamed("window_end", "ts")
      val merge = graft.plans.AsOfPlan.asOfJoin(mega.select("conv_id", "turn_idx", "ts"), states,
        "conv_id", "ts", "window_start", Seq("user_count"))
      merge.collect()
      val mm = Aqe.collect(merge.queryExecution.executedPlan) { case p: graft.plans.AsOfMergeExec => p }
        .head.metrics
      assert(mm("maxKeyRun").value == longest)
    } finally spark.conf.set(coalesce, before)
    mega.unpersist()
  }
}
