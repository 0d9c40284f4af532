package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Categorical encoding + evaluation-fold assignment.
  *
  * Both are the reference's sklearn idioms re-expressed as deterministic,
  * distributed dataflow (no fit/transform object state):
  *   - `labelEncode` = sklearn LabelEncoder (`LR_Advanced.py:535-539`):
  *     alphabetical code assignment — a tiny sorted distinct dimension,
  *     numbered on the driver and joined back broadcast;
  *   - `stratifiedFolds` = StratifiedKFold(5, shuffle, seed)
  *     (`LR_Advanced.py:610`): per-label round-robin. The reference shuffles
  *     with numpy RNG (not reproducible cross-engine), so the engine orders
  *     by a deterministic hash of the id — same stratification guarantees
  *     (each fold gets ⌈n_label/k⌉ or ⌊n_label/k⌋ rows per label), stable
  *     across runs/engines; documented deviation from seed-42 numpy order.
  */
object CategoricalOps {

  /** Adds `<col>_code`: 0-based alphabetical rank among the column's
    * non-null values (null rows drop out of the join and take no code, as
    * in the oracle's NULLS LAST ranking).
    *
    * EAGER: one collect at call time of the sorted distinct values, at most
    * `maxCardinality` + 1 of them; the driver checks the guard, numbers them
    * and broadcasts the dimension back (no window ranks the values). The
    * guard fails fast instead of OOMing mid-job when someone label-encodes a
    * user-id-like column. */
  def labelEncode(df: DataFrame, c: String, maxCardinality: Long = 1000000L): DataFrame = {
    val values = df.select(col(c)).where(col(c).isNotNull).distinct().orderBy(col(c))
      .limit((math.min(maxCardinality, Int.MaxValue - 1L) + 1).toInt).collect()
    require(values.length <= maxCardinality,
      s"labelEncode($c): more than maxCardinality=$maxCardinality distinct values — " +
        "a dictionary that size should live in a table and join by shuffle, not broadcast")
    val schema = StructType(Seq(df.schema(c), StructField(s"${c}_code", IntegerType, nullable = false)))
    val dim = df.sparkSession.createDataFrame(
      values.toIndexedSeq.zipWithIndex.map { case (r, i) => Row(r.get(0), i) }.asJava, schema)
    df.join(broadcast(dim), Seq(c))
  }

  /** Adds `fold` ∈ [0, k): per-label row_number (ordered by a Knuth
    * multiplicative scramble of the numeric id — portable arithmetic, so the
    * DuckDB oracle reproduces it exactly) mod k. */
  def stratifiedFolds(df: DataFrame, idCol: String, labelCol: String, k: Int): DataFrame = {
    val scrambled = pmod(col(idCol).cast("long") * lit(2654435761L), lit(4294967296L))
    val w = Window.partitionBy(col(labelCol)).orderBy(scrambled, col(idCol))
    df.withColumn("fold", ((row_number().over(w) - 1) % k).cast("int"))
  }
}
