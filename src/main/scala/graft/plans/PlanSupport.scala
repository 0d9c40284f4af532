package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeRowJoiner
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.AccumulatorV2

/** What the engine's physical operators share: idempotent strategy
  * registration, the max-aggregated SQL metric, the key-type whitelist and
  * the output row joiner of the as-of merges ([[AsOfMergeExec]],
  * [[PitSweepExec]]). */
object PlanSupport {

  /** Key types the merges support. Their key comparisons go through the
    * typed getter of the key's type ([[KeyOrder]]); BinaryType and other
    * types have no entry there, so they fail fast here, at build time. */
  private val SupportedKeyTypes: Set[DataType] = Set(
    StringType, ByteType, ShortType, IntegerType, LongType, BooleanType,
    DateType, TimestampType, TimestampNTZType)

  def requireKeyType(df: DataFrame, key: String, op: String): Unit = {
    val dt = df.schema(key).dataType
    require(SupportedKeyTypes.contains(dt),
      s"$op: unsupported key type $dt for '$key' — supported: " +
        "string / integral / boolean / date / timestamp")
  }

  /** The all-null payload row joined to anchors with no match. */
  def nullPayload(pSchema: StructType): UnsafeRow =
    UnsafeProjection.create(pSchema)(new GenericInternalRow(pSchema.size)).copy()

  /** Idempotently add `strategy` to an existing session (sessions built
    * with `spark.sql.extensions=graft.GraftExtensions` get it injected). */
  def ensureRegistered(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val em = spark.sessionState.experimentalMethods
    if (!em.extraStrategies.contains(strategy))
      em.extraStrategies = strategy +: em.extraStrategies
  }

  /** A registered [[MaxMetric]]. */
  def maxMetric(sc: SparkContext, name: String): SQLMetric = {
    val m = new MaxMetric
    sc.register(m, name)
    m
  }
}

/** A SQL metric that keeps the MAXIMUM of its updates, for a per-task peak
  * such as the longest key run: a summing metric would report the sum of
  * the per-task peaks. Each task adds its peak once; the driver's merge
  * keeps the largest. (Spark's SQL UI re-aggregates task updates by metric
  * type and shows their sum; `value` is the peak.) */
final class MaxMetric extends SQLMetric("sum", 0L) {
  override def copy(): SQLMetric = { val m = new MaxMetric; m.set(value); m }
  override def add(v: Long): Unit = if (v > value) set(v)
  override def merge(other: AccumulatorV2[Long, Long]): Unit = add(other.value)
}

/** The output kernel of the as-of merges. One output row is the memcpy
  * concatenation of the left row and the payload row
  * (`GenerateUnsafeRowJoiner`, as CartesianProductExec uses it): it copies
  * both null bitsets, the fixed-width slots and both variable-length
  * regions, then shifts the variable-length offsets. A projection over a
  * JoinedRow instead rebuilds the row field by field. Rows that are not
  * already UnsafeRows are projected to one first; a null payload means
  * "no match" and joins `nullPay` (build it once with
  * [[PlanSupport.nullPayload]]). The returned row is reused: copy it to
  * retain it. The generated joiner is not serializable, so create one per
  * task. */
private[plans] final class RowJoiner(lSchema: StructType, pSchema: StructType,
                                     nullPay: UnsafeRow) {
  private val joiner = GenerateUnsafeRowJoiner.create(lSchema, pSchema)
  private lazy val lProj = UnsafeProjection.create(lSchema)
  private lazy val pProj = UnsafeProjection.create(pSchema)
  def apply(l: InternalRow, pay: InternalRow): UnsafeRow = joiner.join(
    l match { case u: UnsafeRow => u; case other => lProj(other) },
    pay match {
      case null => nullPay
      case u: UnsafeRow => u
      case other => pProj(other)
    })
}

/** Nulls-first three-way compare of a key column of two rows through the
  * typed getter of its type: no generic `get(ordinal, dataType)`, no boxing,
  * no interpreted ordering. One per key type of the
  * [[PlanSupport.requireKeyType]] whitelist. */
private[plans] abstract class KeyOrder {
  protected def cmp(a: InternalRow, ao: Int, b: InternalRow, bo: Int): Int

  final def compare(a: InternalRow, ao: Int, b: InternalRow, bo: Int): Int = {
    val (an, bn) = (a.isNullAt(ao), b.isNullAt(bo))
    if (an || bn) (if (an == bn) 0 else if (an) -1 else 1) else cmp(a, ao, b, bo)
  }
}

private[plans] object KeyOrder {
  def of(dt: DataType): KeyOrder = dt match {
    case StringType => (a, ao, b, bo) => a.getUTF8String(ao).binaryCompare(b.getUTF8String(bo))
    case LongType | TimestampType | TimestampNTZType =>
      (a, ao, b, bo) => java.lang.Long.compare(a.getLong(ao), b.getLong(bo))
    case IntegerType | DateType => (a, ao, b, bo) => Integer.compare(a.getInt(ao), b.getInt(bo))
    case ShortType => (a, ao, b, bo) => java.lang.Short.compare(a.getShort(ao), b.getShort(bo))
    case ByteType => (a, ao, b, bo) => java.lang.Byte.compare(a.getByte(ao), b.getByte(bo))
    case BooleanType => (a, ao, b, bo) => java.lang.Boolean.compare(a.getBoolean(ao), b.getBoolean(bo))
    case other => throw new IllegalArgumentException(s"KeyOrder: unsupported key type $other")
  }
}

/** Runs of equal keys in a key-sorted stream, one per task: says when the
  * key changes and keeps the longest run (the `maxKeyRun` skew signal).
  * Null keys form one run. The key is copied only when it changes, so the
  * stream's rows may be reused buffers. */
private[plans] final class KeyRun(dt: DataType) {
  private val order = KeyOrder.of(dt)
  private val read = InternalRow.getAccessor(dt)
  private val held = new GenericInternalRow(1)
  private var run = 0L
  private var peak = 0L

  /** Count `row`; true when its key starts a new run. */
  def next(row: InternalRow, o: Int): Boolean =
    if (run > 0 && order.compare(held, 0, row, o) == 0) { run += 1; false }
    else {
      peak = longest
      held.update(0, read(row, o) match {
        case u: UTF8String => u.clone()
        case v => v
      })
      run = 1
      true
    }

  def longest: Long = math.max(peak, run)
}
