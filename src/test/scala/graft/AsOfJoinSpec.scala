package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import graft.ops.AsOfJoin

/** Equivalence of the two as-of forms (declarative `windowed`, planned
  * operator) with an in-memory oracle, plus leakage properties
  * (SURVEY §7.4.5). */
case class AsOfL(user_id: Long, event_id: Long, ts: Timestamp)
case class AsOfR(user_id: Long, ts: Timestamp, event_id: Long, value: Double)
/** Variable-length columns on both sides (string, array<int>, struct<string,long>). */
case class AsOfInfo(s: String, n: Option[Long])
case class AsOfVL(user_id: Long, event_id: Long, ts: Timestamp, name: String,
                  tags: Seq[Option[Int]], info: AsOfInfo)
case class AsOfVR(user_id: Long, ts: Timestamp, event_id: Long, label: String,
                  vals: Seq[Option[Int]], meta: AsOfInfo)
/** A right side whose payload is a map: not orderable, so no form may sort
  * or aggregate by it. */
case class AsOfMR(user_id: Long, ts: Timestamp, event_id: Long, attrs: Map[String, Int])

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private type L = AsOfL
  private type R = AsOfR
  private val L = AsOfL
  private val R = AsOfR

  private def t(s: Long): Timestamp = new Timestamp(s * 1000L)

  /** Seeded random scenario incl. duplicate timestamps, keys with no right
    * rows, right rows after all left rows. */
  private def scenario(seed: Long, nKeys: Int, nLeft: Int, nRight: Int): (Seq[L], Seq[R]) = {
    val rnd = new scala.util.Random(seed)
    val left = (0 until nLeft).map(i =>
      L(rnd.nextInt(nKeys).toLong, i.toLong, t(rnd.nextInt(1000).toLong)))
    val right = (0 until nRight).map(i =>
      R(rnd.nextInt(nKeys).toLong, t(rnd.nextInt(1000).toLong), (1000 + i).toLong, rnd.nextInt(100).toDouble))
    (left, right)
  }

  private def run(f: (DataFrame, DataFrame) => DataFrame, left: Seq[L], right: Seq[R]): Map[Long, (Option[Long], Option[Double])] =
    f(left.toDF(), right.toDF()).collect().map { r =>
      val id = r.getLong(r.fieldIndex("event_id"))
      val aid = Option(r.get(r.fieldIndex("asof_event_id"))).map(_.asInstanceOf[Long])
      val av = Option(r.get(r.fieldIndex("asof_value"))).map(_.asInstanceOf[Double])
      id -> (aid, av)
    }.toMap

  private def inMemory(left: Seq[L], right: Seq[R]): Map[Long, (Option[Long], Option[Double])] =
    left.map { l =>
      val cand = right.filter(r => r.user_id == l.user_id && !r.ts.after(l.ts))
      val best = cand.sortBy(r => (r.ts.getTime, r.event_id)).lastOption
      l.event_id -> (best.map(_.event_id), best.map(_.value))
    }.toMap

  private val planned: (DataFrame, DataFrame) => DataFrame = (l, r) =>
    graft.plans.AsOfPlan.asOfJoin(l, r, "user_id", "ts", "event_id", Seq("event_id", "value"))

  private val variants: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "windowed" -> ((l, r) => AsOfJoin.windowed(l, r, "user_id", "ts", "event_id", Seq("event_id", "value"))),
    "planned" -> planned)

  test("windowed and planned equal the in-memory oracle on random scenarios") {
    for (seed <- Seq(1L, 2L, 3L, 4L, 5L)) {
      val (left, right) = scenario(seed, nKeys = 7, nLeft = 300, nRight = 120)
      val expected = inMemory(left, right)
      variants.foreach { case (name, f) =>
        assert(run(f, left, right) == expected, s"variant $name seed $seed")
      }
    }
  }

  test("mega-key: windowed and planned equal the oracle when one key holds 90% of rows") {
    // one key holds ~90% of the rows, so it fills one merge task on its own
    val rnd = new scala.util.Random(17)
    val left = (0 until 2000).map { i =>
      val k = if (i % 10 == 0) rnd.nextInt(5).toLong + 100L else 7L
      L(k, i.toLong, t(rnd.nextInt(5000).toLong))
    }
    val right = (0 until 300).map { i =>
      val k = if (i % 10 == 0) rnd.nextInt(5).toLong + 100L else 7L
      R(k, t(rnd.nextInt(5000).toLong), (10000 + i).toLong, rnd.nextInt(100).toDouble)
    }
    val expected = inMemory(left, right)
    variants.foreach { case (name, f) => assert(run(f, left, right) == expected, name) }
  }

  test("inclusive at equal timestamps; greatest-seq tiebreak among right dups") {
    val left = Seq(L(1, 10, t(100)))
    val right = Seq(R(1, t(100), 1001, 5.0), R(1, t(100), 1002, 7.0), R(1, t(101), 1003, 9.0))
    val expected = Map(10L -> (Some(1002L), Some(7.0)))
    variants.foreach { case (name, f) => assert(run(f, left, right) == expected, name) }
  }

  test("zero leakage: mutating right rows strictly after an anchor never changes it") {
    val (left, right) = scenario(9L, nKeys = 4, nLeft = 80, nRight = 40)
    // the planned operator is the one the flagship runs
    val base = run(planned, left, right)
    // shift every right row that is strictly after ALL anchors of its key
    val maxAnchor = left.groupBy(_.user_id).view.mapValues(_.map(_.ts.getTime).max).toMap
    val mutated = right.map { r =>
      if (maxAnchor.get(r.user_id).forall(a => r.ts.getTime > a))
        r.copy(value = r.value + 999.0, event_id = r.event_id + 5000)
      else r
    }
    assert(run(planned, left, mutated) == base)
  }

  test("no right rows for a key → null payload") {
    val left = Seq(L(1, 1, t(10)), L(2, 2, t(10)))
    val right = Seq(R(1, t(5), 1001, 1.0))
    val expected = Map(1L -> (Some(1001L), Some(1.0)), 2L -> (None, None))
    variants.foreach { case (name, f) => assert(run(f, left, right) == expected, name) }
  }

  test("non-long key type (int) is supported and all variants agree") {
    import org.apache.spark.sql.functions.col
    val (left, right) = scenario(11L, nKeys = 5, nLeft = 120, nRight = 60)
    val expected = inMemory(left, right)
    def asInt(df: DataFrame) = df.withColumn("user_id", col("user_id").cast("int"))
    variants.foreach { case (name, f) =>
      val got = f(asInt(left.toDF()), asInt(right.toDF())).collect().map { r =>
        val id = r.getLong(r.fieldIndex("event_id"))
        val aid = Option(r.get(r.fieldIndex("asof_event_id"))).map(_.asInstanceOf[Long])
        val av = Option(r.get(r.fieldIndex("asof_value"))).map(_.asInstanceOf[Double])
        id -> (aid, av)
      }.toMap
      assert(got == expected, s"int-key variant $name")
    }
  }

  test("null keys: payloads carry within the null group, all variants agree") {
    import org.apache.spark.sql.functions.{col, when}
    // half the anchors have a null key
    val left = (0 until 200).map(i => L(if (i % 2 == 0) 0L else 1L, i.toLong, t(i.toLong)))
    val right = Seq(R(0, t(0), 1000, 1.0), R(1, t(0), 1001, 2.0))
    def nullify(df: DataFrame) = df.withColumn("user_id",
      when(col("user_id") === 0L, null).otherwise(col("user_id")))
    def runNull(f: (DataFrame, DataFrame) => DataFrame) =
      f(nullify(left.toDF()), nullify(right.toDF())).collect().map { r =>
        r.getLong(r.fieldIndex("event_id")) ->
          Option(r.get(r.fieldIndex("asof_event_id"))).map(_.asInstanceOf[Long])
      }.toMap
    val fromWindowed = runNull((l, r) =>
      AsOfJoin.windowed(l, r, "user_id", "ts", "event_id", Seq("event_id", "value")))
    // engine semantic: null keys form ONE group (Window.partitionBy groups
    // nulls; NOT SQL equi-join NULL-never-matches) — both forms must agree
    (0 until 200 by 2).foreach(i =>
      assert(fromWindowed(i.toLong).contains(1000L), s"null anchor $i"))
    assert(fromWindowed(1L).contains(1001L))
    assert(runNull(planned) == fromWindowed, "null-key planned")
  }

  test("planned variant: EXPLAIN shows the native operator, exchanges and sorts") {
    import org.apache.spark.sql.functions.col
    val (left, right) = scenario(21L, nKeys = 5, nLeft = 100, nRight = 50)
    val df = graft.plans.AsOfPlan.asOfJoin(left.toDF(), right.toDF(),
      "user_id", "ts", "event_id", Seq("event_id", "value"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfMerge"), s"native node missing:\n$plan")
    assert(!plan.contains("!AsOfMerge"), s"unresolved references in plan:\n$plan")
    // EnsureRequirements satisfied the declared needs — no hand-built shuffle
    assert(plan.contains("Exchange") && plan.contains("Sort"), s"plan:\n$plan")
    // self-as-of (duplicate ExprIds across children) resolves via re-aliasing
    val ev = left.toDF()
    val self = graft.plans.AsOfPlan.asOfJoin(ev, ev.filter(col("event_id") % 2 === 0),
      "user_id", "ts", "event_id", Seq("event_id"))
    assert(self.count() == left.size)
  }

  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The AsOfMerge nodes of the executed plan, looking inside AQE's query
    * stages (call after an action, so the plan is the final one). */
  private def merges(df: DataFrame): Seq[graft.plans.AsOfMergeExec] =
    Aqe.collect(df.queryExecution.executedPlan) { case m: graft.plans.AsOfMergeExec => m }

  private def byEventId(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getLong(r.fieldIndex("event_id")) -> r.toSeq).toMap

  test("variable-length left and payload columns (string, array, struct; nulls inside) " +
    "join with shifted offsets, incl. anchors with no right row") {
    val rnd = new scala.util.Random(23)
    def str(): String = rnd.nextInt(5) match {
      case 0 => null
      case 1 => ""
      case n => ("abcdefghij" * n).take(rnd.nextInt(10 * n) + 1)
    }
    def arr(): Seq[Option[Int]] =
      if (rnd.nextInt(6) == 0) null
      else Seq.fill(rnd.nextInt(5))(if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(100)))
    def info(): AsOfInfo =
      if (rnd.nextInt(6) == 0) null
      else AsOfInfo(str(), if (rnd.nextInt(3) == 0) None else Some(rnd.nextLong()))
    // keys 0..7 on the left, 0..4 on the right: keys 5..7 never match, and
    // anchors earlier than their key's first right row do not either
    val left = (0 until 240).map(i =>
      AsOfVL(rnd.nextInt(8).toLong, i.toLong, t(rnd.nextInt(1000).toLong), str(), arr(), info()))
    val right = (0 until 90).map(i =>
      AsOfVR(rnd.nextInt(5).toLong, t(rnd.nextInt(1000).toLong), (1000 + i).toLong,
        str(), arr(), info()))
    val (lDf, rDf) = (left.toDF(), right.toDF())
    val payload = Seq("event_id", "label", "vals", "meta")
    // oracle: left row values ++ the best right row's payload values, as the
    // collected external Rows represent them
    val lRows = lDf.collect().map(r => r.getLong(1) -> r.toSeq).toMap
    val rPay = rDf.collect().map(r => r.getLong(2) -> payload.map(c => r.get(r.fieldIndex(c)))).toMap
    val expected = left.map { l =>
      val best = right.filter(r => r.user_id == l.user_id && !r.ts.after(l.ts))
        .sortBy(r => (r.ts.getTime, r.event_id)).lastOption
      l.event_id -> (lRows(l.event_id) ++ best.map(b => rPay(b.event_id))
        .getOrElse(Seq.fill(payload.size)(null)))
    }.toMap
    assert(expected.values.exists(_.last == null) && expected.values.exists(_.last != null))
    val windowed = byEventId(AsOfJoin.windowed(lDf, rDf, "user_id", "ts", "event_id", payload))
    assert(windowed == expected, "windowed vs in-memory oracle")
    val plannedOut = byEventId(graft.plans.AsOfPlan.asOfJoin(lDf, rDf, "user_id", "ts", "event_id", payload))
    assert(plannedOut == expected, "variable-length planned")
  }

  test("a map payload (not orderable) joins through windowed and planned, greatest seq winning ties") {
    val rnd = new scala.util.Random(29)
    val left = (0 until 150).map(i => L(rnd.nextInt(4).toLong, i.toLong, t(rnd.nextInt(200).toLong)))
    // timestamps drawn from 60 values: many right rows share a (key, ts)
    val right = (0 until 120).map { i =>
      val attrs = if (rnd.nextInt(8) == 0) null
        else (0 until rnd.nextInt(3)).map(j => s"a$j" -> rnd.nextInt(50)).toMap
      AsOfMR(rnd.nextInt(3).toLong, t(rnd.nextInt(60).toLong * 3), (1000 + i).toLong, attrs)
    }
    assert(right.groupBy(r => (r.user_id, r.ts)).exists(_._2.size > 1), "fixture has (key, ts) ties")
    val expected = left.map { l =>
      val best = right.filter(r => r.user_id == l.user_id && !r.ts.after(l.ts))
        .sortBy(r => (r.ts.getTime, r.event_id)).lastOption
      l.event_id -> (best.map(_.event_id), best.flatMap(b => Option(b.attrs)))
    }.toMap
    assert(expected.values.exists(_._2.exists(_.nonEmpty)) && expected.values.exists(_._1.isEmpty))
    val payload = Seq("event_id", "attrs")
    Seq[(String, (DataFrame, DataFrame) => DataFrame)](
      "windowed" -> ((l, r) => AsOfJoin.windowed(l, r, "user_id", "ts", "event_id", payload)),
      "planned" -> ((l, r) => graft.plans.AsOfPlan.asOfJoin(l, r, "user_id", "ts", "event_id", payload))
    ).foreach { case (name, f) =>
      val got = f(left.toDF(), right.toDF()).collect().map { r =>
        r.getLong(r.fieldIndex("event_id")) ->
          (Option(r.get(r.fieldIndex("asof_event_id"))).map(_.asInstanceOf[Long]),
            Option(r.getMap[String, Int](r.fieldIndex("asof_attrs"))).map(_.toMap))
      }.toMap
      assert(got == expected, s"map payload $name")
    }
  }

  test("chained as-of: the second merge reads the first one's rows with no exchange or sort between") {
    val (left, right1) = scenario(31L, nKeys = 6, nLeft = 200, nRight = 80)
    val right2 = scenario(32L, nKeys = 6, nLeft = 0, nRight = 70)._2
      .map(r => r.copy(event_id = r.event_id + 5000, value = r.value + 0.5))
    val (lDf, r1, r2) = (left.toDF(), right1.toDF(), right2.toDF())
    val pay = Seq("event_id", "value")
    val chained = graft.plans.AsOfPlan.asOfJoin(
      graft.plans.AsOfPlan.asOfJoin(lDf, r1, "user_id", "ts", "event_id", pay),
      r2, "user_id", "ts", "event_id", pay, prefix = "asof2_")
    val expected = byEventId(AsOfJoin.windowed(
      AsOfJoin.windowed(lDf, r1, "user_id", "ts", "event_id", pay),
      r2, "user_id", "ts", "event_id", pay, prefix = "asof2_"))
    assert(byEventId(chained) == expected)
    val ms = merges(chained)
    assert(ms.size == 2, chained.queryExecution.executedPlan.toString)
    val (outer, inner) = ms.partition(_.outPayload.exists(_.name.startsWith("asof2_")))
    assert(outer.head.left eq inner.head,
      s"expected the inner AsOfMerge directly under the outer one:\n${chained.queryExecution.executedPlan}")
  }

  test("AsOfMerge SQL metrics count output rows, right rows and matched anchors") {
    // keys 0..5 on the left, right rows only for the keys 0..2 it draws,
    // plus key 99: it sorts after every anchor key, so no anchor reaches it
    // and only the read to the end of its partition counts it
    val (left, right0) = scenario(41L, nKeys = 6, nLeft = 300, nRight = 100)
    val right = right0.filter(_.user_id < 3) ++
      Seq(R(99, t(0), 9001, 1.0), R(99, t(1), 9002, 2.0))
    val df = planned(left.toDF(), right.toDF())
    df.collect()
    val matched = inMemory(left, right).values.count(_._1.isDefined)
    assert(matched > 0 && matched < left.size)
    val m = merges(df).head.metrics
    assert(m("numOutputRows").value == left.size)
    assert(m("numRightRows").value == right.size)
    assert(m("numMatchedRows").value == matched)
  }

  test("planned fails fast on a BinaryType key") {
    val (left, right) = scenario(13L, nKeys = 3, nLeft = 20, nRight = 15)
    import org.apache.spark.sql.functions.col
    val binKey = (df: DataFrame) => df.withColumn("user_id",
      col("user_id").cast("string").cast("binary"))
    val e = intercept[IllegalArgumentException] {
      planned(binKey(left.toDF()), binKey(right.toDF()))
    }
    assert(e.getMessage.contains("unsupported key type"))
  }
}
