package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Backward (point-in-time) as-of join, declarative form.
  *
  * For every left row (key, ts), attach the payload of the LATEST right row
  * with the same key and right.ts <= left.ts (inclusive); null if none.
  * Among right rows sharing (key, ts), the one with the greatest `rightSeq`
  * wins; a full (key, ts, rightSeq) tie picks one of the tied rows,
  * unspecified which. Null keys form one group. Zero temporal leakage by
  * construction: no right row with ts' > ts can ever reach a left row.
  *
  * The engine's as-of join is the planned Catalyst operator
  * ([[graft.plans.AsOfPlan.asOfJoin]]); the flagship backfill picks its
  * as-of state inside its own sweep ([[graft.plans.PitSweep]]). `windowed`
  * is the reference both are property-tested against (AsOfJoinSpec), and
  * the form DuckDB's `ASOF JOIN` cross-checks.
  */
object AsOfJoin {

  /** Union-tag + `last(ignoreNulls)` over a cumulative window; Catalyst
    * plans one exchange and one sort. Both sides are packed as (key, tsUs,
    * side, seq, left STRUCT, payload STRUCT): a left row carries one null
    * payload slot, not |payload| null columns. The frame orders by (ts,
    * side, seq), so at each anchor the last non-null payload is the
    * greatest-seq right row at or before it; payload columns need not be
    * orderable. */
  def windowed(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightSeq: String, payload: Seq[String], prefix: String = "asof_"): DataFrame = {
    val pType = StructType(payload.map(p => right.schema(p).copy(nullable = true)))
    def tagged(df: DataFrame, side: Int, seq: Column, l: Column, p: Column) =
      df.select(col(key).as("__k"), micros(col(ts)).as("__t"), lit(side).as("__side"),
        seq.as("__s"), l.as("__l"), p.as("__p"))
    val union = tagged(left, 1, lit(null).cast(right.schema(rightSeq).dataType),
        struct(left.columns.map(col).toIndexedSeq: _*), lit(null).cast(pType))
      .unionByName(tagged(right, 0, col(rightSeq), lit(null).cast(left.schema),
        struct(payload.map(col): _*)))
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__side"), col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    union
      .select(col("__side"), col("__l"),
        last(col("__p"), ignoreNulls = true).over(w).as("__p"))
      .filter(col("__side") === 1)
      .select(left.columns.map(c => col(s"__l.$c")).toIndexedSeq ++
        payload.map(pc => col(s"__p.$pc").as(s"$prefix$pc")): _*)
  }
}
