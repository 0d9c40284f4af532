package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** A score's rank among sorted thresholds, |{t : score >= t}|, as one binary
  * search in a native codegen'd expression (the sibling of [[LshBucket]]).
  * It compares with Spark's own `>=` on doubles (`compareDoubles`): NaN is
  * above every number and equal to itself, −0.0 equals 0.0; a null score
  * gives a null bucket. `thresholds` must be ascending in that order with no
  * two equal. Equality is by bit pattern, so a NaN threshold still lets the
  * expression equal its copy under canonicalization. */
case class ThresholdBucket(child: Expression, thresholds: Seq[Double])
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(DoubleType)
  override def nullIntolerant: Boolean = true

  @transient private lazy val sorted: Array[Double] = thresholds.toArray

  protected override def nullSafeEval(s: Any): Any =
    ThresholdBucket.bucket(s.asInstanceOf[Double], sorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ts = ctx.addReferenceObj("thresholds", sorted, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.ThresholdBucket.bucket($c, $ts)")
  }

  override protected def withNewChildInternal(newChild: Expression): ThresholdBucket =
    copy(child = newChild)

  override def equals(o: Any): Boolean = o match {
    case t: ThresholdBucket => child == t.child && java.util.Arrays.equals(sorted, t.sorted)
    case _ => false
  }
  override def hashCode: Int = 31 * child.hashCode + java.util.Arrays.hashCode(sorted)
}

object ThresholdBucket {

  /** Upper bound: the first index whose threshold is above `score`. */
  def bucket(score: Double, ts: Array[Double]): Int = {
    var lo = 0
    var hi = ts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (SQLOrderingUtil.compareDoubles(score, ts(mid)) >= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  def threshold_bucket(score: Column, thresholds: Seq[Double]): Column =
    Bridge.column(ThresholdBucket(Bridge.expression(score), thresholds))
}
