package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational join surface over the driver's TPC-H-ish star schema
  * (`lineitem`/`orders`/`customer`/`nation`) — the reference has exactly one
  * join (a groupby-merge, `Preprocess/mean_features.py:51`); these queries
  * prove the engine's full join matrix on data shaped like a real warehouse:
  *
  *  - broadcast hash join (small dims: nation, and customer under AQE),
  *  - shuffled fact-fact equi-join (lineitem ⋈ orders — sort-merge at scale,
  *    AQE may elect broadcast at test SFs; both are correct plans),
  *  - left SEMI (EXISTS) and left ANTI (NOT EXISTS) — the dedup/filter joins
  *    a training-data pipeline leans on,
  *  - scan-side predicate pushdown + column pruning (the Q1-style rollup:
  *    only 6 of 11 lineitem columns are read, the shipdate filter reaches
  *    the parquet scan as a PushedFilter).
  *
  * Money arithmetic: doubles are cast to exact CENTS (round(x*100) as long)
  * BEFORE summing — a float sum is order-dependent across partitionings and
  * would break both determinism at scale and the oracle hash compare.
  */
object Relational {

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /** TPC-H Q1-style scan rollup: filter pushdown + pruning + one agg. */
  def scanAgg(lineitem: DataFrame, maxShipDate: String): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit(maxShipDate).cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price_cents"))

  /** Orders rolled up to nations through two dimension joins — nation is an
    * explicit broadcast (25 rows at any scale); customer joins by key and is
    * small enough for AQE to broadcast at test SFs, sort-merge beyond. */
  def revenueByNation(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("revenue_cents"))

  /** Fact-fact equi-join: every lineitem to its order, rolled up by the
    * order's priority. The shuffle keys (l_orderkey = o_orderkey) are both
    * high-cardinality — the sort-merge-join shape at cluster scale. */
  def revenueByPriority(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))

  /** Left SEMI: orders having at least one line item above a quantity
    * threshold (EXISTS). The filter is pushed below the join so the build
    * side shrinks before shuffling. */
  def ordersWithBigItems(orders: DataFrame, lineitem: DataFrame, minQty: Double): DataFrame =
    orders
      .join(lineitem.filter(col("l_quantity") > minQty),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderpriority"))

  /** Left ANTI: customers with no order of the given priority (NOT EXISTS). */
  def customersWithoutPriority(customer: DataFrame, orders: DataFrame, priority: String): DataFrame =
    customer
      .join(orders.filter(col("o_orderpriority") === priority),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))

  /** Hierarchical multi-grain rollup in ONE aggregation: per (entity, type)
    * → per entity → grand total, disambiguated by grouping_id. This is the
    * north-star "tiered aggregate" shape (per-turn → per-conversation →
    * global) done the Spark way: `rollup` expands each row to its grouping
    * sets (Expand) and ONE map-side-combined HashAggregate produces every
    * grain — versus the reference's one-pandas-groupby-per-tier
    * (`mean_features.py` / `pre_dataset.py` re-scan per tier; at 100 TB,
    * k separate jobs re-read the fact table k times). */
  def hierarchicalRollup(events: DataFrame): DataFrame =
    events
      .withColumn("value_c", cents(col("value")))
      .rollup(col("user_id"), col("event_type"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"), sum(col("value_c")).as("value_sum"))
      .select(col("user_id"), col("event_type"), col("gid"), col("n"), col("value_sum"))
}
