package graft

import org.apache.spark.sql.functions._
import graft.gen.TranscriptGen
import graft.ops._
import graft.oracle.ScalaOracle

/** Sessionize / RunningStats / Windowize / LagLead vs the plain-Scala oracle
  * + the built-in session_window cross-check + generator determinism. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val cols = TranscriptCols.turns
  private lazy val turns = TranscriptGen.turns(spark, seed = 7L, nConvs = 40).cache()

  test("generator is deterministic and text round-trips byte-identically") {
    val a = TranscriptGen.turns(spark, 7L, 40).collect().sortBy(t => (t.conv_id, t.turn_idx))
    val b = TranscriptGen.turns(spark, 7L, 40).collect().sortBy(t => (t.conv_id, t.turn_idx))
    assert(a.length == b.length && a.sameElements(b))
    // stable (conv_id, turn_idx) ordering ⇒ per-turn text equality
    a.groupBy(_.conv_id).foreach { case (_, ts) =>
      assert(ts.map(_.turn_idx).sorted.sameElements(ts.map(_.turn_idx)))
    }
  }

  test("sessionize matches the scala oracle per conversation") {
    val got = Sessionize.withSessionId(turns.toDF(), cols, TranscriptGen.SessionGapSeconds)
      .select(col("conv_id"), col("turn_idx"), col("session_id"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    turns.collect().groupBy(_.conv_id).foreach { case (conv, ts) =>
      val sorted = ts.sortBy(_.turn_idx)
      val expected = ScalaOracle.sessionIds(
        sorted.map(t => t.ts.getTime * 1000L).toSeq, TranscriptGen.SessionGapSeconds * 1000000L)
      sorted.zip(expected).foreach { case (t, sid) =>
        assert(got((conv, t.turn_idx)) == sid, s"$conv turn ${t.turn_idx}")
      }
    }
  }

  test("sessionize boundaries agree with built-in session_window counts") {
    val gap = TranscriptGen.SessionGapSeconds
    val ours = Sessionize.sessions(turns.toDF(), cols, gap)
      .groupBy("conv_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val builtin = turns.toDF()
      .groupBy(col("conv_id"), session_window(col("ts"), s"$gap seconds"))
      .count()
      .groupBy("conv_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // session_window closes at gap (exclusive end) — our rule opens a new
    // session only on STRICTLY greater gaps; generator gaps never equal the
    // threshold exactly, so the two must agree on this data
    assert(ours == builtin)
  }

  test("running stats match the scala oracle and coincide with full-history at the last anchor") {
    val counted = turns.toDF().withColumn("v", length(col("text")).cast("long"))
    val pit = RunningStats.pointInTime(counted, Seq("conv_id"), cols, Seq("v"))
      .select(col("conv_id"), col("turn_idx"), col("v_run_min"), col("v_run_max"), col("v_run_avg"), col("run_cnt"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    val full = RunningStats.fullHistory(counted, Seq("conv_id"), Seq("v"))
      .collect().map(r => r.getString(r.fieldIndex("conv_id")) ->
        (r.getLong(r.fieldIndex("v_min")), r.getLong(r.fieldIndex("v_max")), r.getDouble(r.fieldIndex("v_avg")))).toMap

    turns.collect().groupBy(_.conv_id).foreach { case (conv, ts) =>
      val sorted = ts.sortBy(_.turn_idx)
      val expected = ScalaOracle.runningStats(sorted.map(_.text.length.toLong).toSeq)
      sorted.zip(expected).foreach { case (t, (mn, mx, avg, n)) =>
        assert(pit((conv, t.turn_idx)) == ((mn, mx, avg, n)), s"$conv ${t.turn_idx}")
      }
      val (fmn, fmx, favg) = full(conv)
      val lastPit = pit((conv, sorted.last.turn_idx))
      assert((fmn, fmx, favg) == ((lastPit._1, lastPit._2, lastPit._3)))
    }
  }

  test("zero leakage: mutating future turns never changes PIT stats at an anchor") {
    val base = TranscriptGen.turns(spark, 3L, 10).cache()
    val anchor = base.toDF().groupBy("conv_id")
      .agg(expr("percentile(turn_idx, 0.5)").as("mid"))
    val counted = base.toDF().withColumn("v", length(col("text")).cast("long"))
    def statsUpTo(df: org.apache.spark.sql.DataFrame) =
      RunningStats.pointInTime(df, Seq("conv_id"), cols, Seq("v"))
        .join(anchor, "conv_id").filter(col("turn_idx") <= col("mid"))
        .select("conv_id", "turn_idx", "v_run_min", "v_run_max", "v_run_avg", "run_cnt")
        .collect().map(_.toSeq).toSet
    val before = statsUpTo(counted)
    val mutated = counted.join(anchor, "conv_id")
      .withColumn("v", when(col("turn_idx") > col("mid"), col("v") * 1000 + 7).otherwise(col("v")))
      .drop("mid")
    assert(statsUpTo(mutated) == before)
  }

  test("calendar slots + pivot counts sum to the turn count") {
    val slotted = Windowize.withCalendarSlots(turns.toDF(), cols)
    val piv = PivotCounts(slotted, Seq("conv_id", "day_type", "time_period"), "role", Turn.roles)
    val total = piv.select(Turn.roles.map(r => sum(col(s"${r}_count"))).reduce(_ + _).as("n"))
      .collect()(0).getLong(0)
    assert(total == turns.count())
  }

  test("melt inverts the pivot: every (key, metric, value) cell round-trips") {
    val piv = PivotCounts(Windowize.withCalendarSlots(turns.toDF(), cols),
      Seq("conv_id", "day_type"), "role", Turn.roles)
    val metricCols = Turn.roles.map(r => s"${r}_count")
    val long = PivotCounts.melt(piv, Seq("conv_id", "day_type"), metricCols, "metric", "value")
    // row count: one long row per (wide row × melted column)
    assert(long.count() == piv.count() * metricCols.size)
    // cell-level round-trip
    val cells = piv.collect().flatMap { r =>
      metricCols.map(m => (r.getString(0), r.getString(1), m, r.getAs[Long](m)))
    }.toSet
    val got = long.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == cells)
    // plan shape: ONE Expand, no union of per-column rescans
    val plan = long.queryExecution.sparkPlan.toString
    assert(plan.contains("Expand"), s"expected Expand:\n$plan")
    assert(!plan.contains("Union"), s"melt must not union per-column scans:\n$plan")
  }

  test("input-permutation invariance of the slot pivot") {
    val shuffled = turns.toDF().orderBy(rand(99))
    val a = PivotCounts(Windowize.withCalendarSlots(turns.toDF(), cols),
      Seq("conv_id", "day_type"), "role", Turn.roles).collect().map(_.toSeq).toSet
    val b = PivotCounts(Windowize.withCalendarSlots(shuffled, cols),
      Seq("conv_id", "day_type"), "role", Turn.roles).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("labelEncode: prefix-rank codes equal alphabetical rank; cardinality guard fails fast") {
    val df = Seq("view", "click", "purchase", "view", "signup", "click")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "event_type")
    val got = CategoricalOps.labelEncode(df, "event_type")
      .select("event_type", "event_type_code").distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("click" -> 0, "purchase" -> 1, "signup" -> 2, "view" -> 3))
    // no global (unpartitioned) window anywhere in the plan
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = CategoricalOps.labelEncode(df, "event_type")
      .queryExecution.sparkPlan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globals.isEmpty, s"global window in labelEncode plan: $globals")
    // high-cardinality misuse (user-id-like column) fails at call time
    val wide = (0 until 100).map(i => (i.toLong, s"u$i")).toDF("id", "uid")
    val e = intercept[IllegalArgumentException] {
      CategoricalOps.labelEncode(wide, "uid", maxCardinality = 10)
    }
    assert(e.getMessage.contains("maxCardinality"))
  }

  test("labelEncode: a null value takes no code; codes count from 0 as in the oracle") {
    val df = Seq(Some("b"), None, Some("a"), Some("b")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "event_type")
    val got = CategoricalOps.labelEncode(df, "event_type").select("id", "event_type_code")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // a = 0, b = 1 (DuckDB ranks with NULLS LAST); the null row drops out
    // of the equi-join
    assert(got == Map(0L -> 1, 2L -> 0, 3L -> 1))
  }

  test("lag/lead: dt_prev equals gap, prev/next roles consistent") {
    val ll = LagLead.withLagLead(turns.toDF(), cols, textCol = Some("text"))
      .select("conv_id", "turn_idx", "prev_role", "next_role", "dt_prev_us", "turn_rank")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    turns.collect().groupBy(_.conv_id).foreach { case (conv, ts) =>
      val sorted = ts.sortBy(_.turn_idx)
      sorted.sliding(2).foreach {
        case Array(a, bb) =>
          val r = ll((conv, bb.turn_idx))
          assert(r.getString(2) == a.role)
          assert(r.getLong(4) == (bb.ts.getTime - a.ts.getTime) * 1000L)
        case _ =>
      }
      assert(ll((conv, sorted.head.turn_idx)).get(2) == null)
      assert(ll((conv, sorted.last.turn_idx)).get(3) == null)
      // turn_rank is 1-based and dense
      assert(sorted.zipWithIndex.forall { case (t, i) => ll((conv, t.turn_idx)).getInt(5) == i + 1 })
    }
  }
}
