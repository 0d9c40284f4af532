package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew handling for aggregations (north rule: "skew from
  * mega-conversations is handled explicitly via salted repartitioning").
  *
  * Spark's hash aggregation already map-side-combines, which flattens most
  * key skew BEFORE the shuffle. Salting earns its keep where partial
  * aggregation can't compress: high-cardinality composite states
  * (collect-style aggs, exact distincts) or when a single reduce-side key
  * group must be parallelized. `saltedAggregate` is the classic two-phase
  * shape: group on (key, salt) → partial rows → group on key → final
  * combine. Only ALGEBRAIC aggregates survive this factoring; a mean is
  * `sumL` + `countAll` divided by the caller (integer sums re-associate
  * exactly, so no float drift).
  *
  * AQE's runtime skew-join splitting is enabled session-wide (Bench.session
  * and the backfill configs set spark.sql.adaptive.enabled); salting here
  * covers the aggregation side AQE does not touch.
  */
object Skew {

  /** Deterministic salt derived from a secondary column (ts bucket), so the
    * same row always gets the same salt — resumability-safe (no rand()). */
  def saltOf(c: Column, salts: Int): Column = pmod(xxhash64(c), lit(salts.toLong)).cast("int")

  final case class SaltedAgg(name: String, partial: Column => Column, combine: Column => Column)

  val sumL: String => SaltedAgg = c => SaltedAgg(c, sum, sum)
  val minL: String => SaltedAgg = c => SaltedAgg(c, min, min)
  val maxL: String => SaltedAgg = c => SaltedAgg(c, max, max)
  val countAll: String => SaltedAgg = c => SaltedAgg(c, _ => count(lit(1)), sum)

  /** Two-phase salted aggregation: phase 1 groups on (keys..., salt(saltSrc)),
    * phase 2 de-salts. Result == direct groupBy(keys).agg for algebraic aggs. */
  def saltedAggregate(df: DataFrame, keys: Seq[String], saltSrc: String, salts: Int,
                      aggs: Seq[SaltedAgg]): DataFrame = {
    val salted = df.withColumn("__salt", saltOf(col(saltSrc), salts))
    val p1 = salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(aggs.head.partial(col(aggs.head.name)).as(aggs.head.name),
        aggs.tail.map(a => a.partial(col(a.name)).as(a.name)): _*)
    p1.groupBy(keys.map(col): _*)
      .agg(aggs.head.combine(col(aggs.head.name)).as(aggs.head.name),
        aggs.tail.map(a => a.combine(col(a.name)).as(a.name)): _*)
  }
}
