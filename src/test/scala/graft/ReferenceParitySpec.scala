package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops._

/** Regression against the reference's *exact* scalar semantics on its own
  * data shapes (FIXTURES.md F2): raw-log schema, epoch parse heuristic,
  * Asia/Shanghai hour floor, both period taxonomies, banker's rounding. */
class ReferenceParitySpec extends SparkSpec {
  import spark.implicits._

  test("epoch parse: seconds vs millis heuristic at the 1e10 boundary") {
    val df = Seq(
      (1L, 1511568000L),          // 2017-11-25 00:00:00 UTC in seconds
      (2L, 1511568000123L),       // same instant in millis (+123ms)
      (3L, 9999999999L),          // just below the heuristic -> seconds
      (4L, 10000000001L)          // just above -> millis
    ).toDF("id", "v")
    val got = df.select(col("id"), ScalarOps.parseEpoch(col("v")).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getAs[java.time.LocalDateTime](1).toString).toMap
    assert(got(1L) == "2017-11-25T00:00")
    assert(got(2L) == "2017-11-25T00:00:00.123")
    assert(got(3L) == "2286-11-20T17:46:39")  // seconds branch
    assert(got(4L) == "1970-04-26T17:46:40.001") // millis branch
  }

  test("Asia/Shanghai hour floor matches the +8h rule for modern dates") {
    val df = Seq(1L -> Timestamp.valueOf("2017-11-25 18:30:45")).toDF("id", "ts")
    val got = df.select(ScalarOps.toShanghaiHour(col("ts").cast("timestamp_ntz")))
      .collect()(0).getAs[java.time.LocalDateTime](0)
    assert(got.toString == "2017-11-26T02:00") // 18:30 UTC + 8h = 02:30 next day, floored
  }

  test("both period taxonomies (current script vs shipped-xlsx variant)") {
    val hours = Seq(0, 5, 6, 11, 12, 17, 18, 23)
    val df = hours.map(h => (h.toLong, Timestamp.valueOf(f"2017-11-27 $h%02d:15:00"))).toDF("h", "ts")
    val v2 = df.select(col("h"), Windowize.timePeriod(col("ts"), Windowize.periodsV2))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2(0L) == "Early Morning" && v2(5L) == "Early Morning")
    assert(v2(6L) == "Morning" && v2(12L) == "Afternoon" && v2(18L) == "Late Night")
    val v1 = df.select(col("h"), Windowize.timePeriod(col("ts"), Windowize.periodsV1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1(0L) == "Late Night" && v1(18L) == "Evening" && v1(23L) == "Evening")
  }

  test("bround = pandas/numpy banker's rounding on the stats (mean_features.py:47-48)") {
    val df = Seq(0.125, 0.135, 2.675, 1.005, 0.5, 1.5, 2.5).toDF("x")
    val got = df.select(bround(col("x"), 2)).collect().map(_.getDouble(0)).toSeq
    // expected = round-half-even on the DOUBLE value (incl. representation
    // effects: 2.675 is stored as 2.67499... so rounds down, exactly as numpy)
    val exp = Seq(0.125, 0.135, 2.675, 1.005, 0.5, 1.5, 2.5).map(v =>
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    assert(got == exp)
  }

  test("entityStats round2dp flag = bround(avg, 2) over the unrounded domain") {
    val dir = "/root/testdata/sf0.001"
    val plain = Pipelines.entityStats(spark, dir)
    val rounded = Pipelines.entityStats(spark, dir, round2dp = true)
    val expect = Pipelines.quartet.foldLeft(plain) { (df, q) =>
      df.withColumn(s"${q}_avg", bround(col(s"${q}_avg"), 2))
    }
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(key(rounded) == key(expect))
    // and the rounded domain actually differs somewhere (the flag does work)
    assert(key(rounded) != key(plain))
  }

  test("reference raw-log pipeline on the reference schema (T0→T1 shape)") {
    // raw behavior log exactly as dataset_for_prediction.py:16 imposes it
    val raw = Seq(
      (1L, 10L, 5L, "pv", 1511568000L),  // inside the window
      (1L, 11L, 5L, "buy", 1511571600L),
      (2L, 12L, 6L, "pv", 1511999999L),
      (2L, 13L, 6L, "pv", 1400000000L)   // before window -> filtered
    ).toDF("user_id", "item_id", "cate_id", "behavior", "timestamp")
    val parsed = raw
      .withColumn("ts", ScalarOps.toShanghaiHour(ScalarOps.parseEpoch(col("timestamp"))))
      .filter(col("ts").between(lit("2017-11-25 00:00:00"), lit("2017-12-03 23:59:59")))
    val slotted = Windowize.withCalendarSlots(parsed, TranscriptCols(conv = "user_id", seq = "item_id", role = "behavior", ts = "ts"))
    val t1 = PivotCounts.withLabel(slotted, Seq("user_id", "day_type", "time_period"),
      "behavior", Seq("pv", "cart", "fav", "buy"), "buy", "buy_yn")
    val rows = t1.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)) ->
      (r.getLong(r.fieldIndex("pv_count")), r.getLong(r.fieldIndex("buy_count")), r.getInt(r.fieldIndex("buy_yn")))).toMap
    assert(rows.size == 2) // user2's out-of-window row dropped
    // 2017-11-25 08:00 Shanghai = Saturday -> Weekend, Morning
    assert(rows((1L, "Weekend", "Morning")) == ((1L, 1L, 1)))
  }
}
