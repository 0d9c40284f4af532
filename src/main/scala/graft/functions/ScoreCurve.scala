package graft.functions

import java.lang.Double.{doubleToLongBits, longBitsToDouble}
import java.nio.ByteBuffer
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The score curve of a binary classifier as one aggregate, of which every
  * rank metric (ROC AUC, PR curve, average precision) is a projection: per
  * distinct score `s`, its rows `n` and positives `p` (rows where `positive`
  * is true), and the running totals `n_cum` / `p_cum` over the scores at or
  * above it — array<struct<s, n, p, n_cum, p_cum>>, score descending in
  * Spark's order (NaN first, null last). Scores group as Spark groups
  * doubles: −0.0 is 0.0, all NaNs are one score, null is its own score.
  *
  * Guard: a buffer is exact while it holds at most `maxDistinctScores`
  * scores. Once a partial or merged buffer holds more, its scores and every
  * later one move to the grid `floor(s·quantizeBins)/quantizeBins`, computed
  * with the double operations of Spark's `floor(s * bins) / bins` and from
  * raw scores only (grid keys are never snapped again). A buffer crosses the
  * bound iff the input holds more distinct scores, so the exact-or-grid
  * choice follows the total distinct count and costs no job.
  */
case class ScoreCurve(scoreChild: Expression, positiveChild: Expression,
                      maxDistinctScores: Long, quantizeBins: Int,
                      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ScoreCurve.Buffer] with ExpectsInputTypes {
  import ScoreCurve.{key, NullKey}
  require(maxDistinctScores > 0 && quantizeBins > 0,
    "score_curve needs maxDistinctScores > 0 and quantizeBins > 0")

  override def children: Seq[Expression] = Seq(scoreChild, positiveChild)
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(DoubleType, BooleanType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(
    StructField("s", DoubleType) +:
      Seq("n", "p", "n_cum", "p_cum").map(StructField(_, LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): ScoreCurve.Buffer =
    new ScoreCurve.Buffer(maxDistinctScores, quantizeBins)

  override def update(b: ScoreCurve.Buffer, input: InternalRow): ScoreCurve.Buffer = {
    val s = scoreChild.eval(input)
    b.add(if (s == null) NullKey else key(s.asInstanceOf[Double]), 1L,
      if (positiveChild.eval(input) == true) 1L else 0L)
    b
  }

  override def merge(b: ScoreCurve.Buffer, o: ScoreCurve.Buffer): ScoreCurve.Buffer = {
    if (o.quantized) b.toGrid()
    o.counts.foreach { case (k, c) => b.add(k, c(0), c(1), onGrid = o.quantized) }
    b
  }

  override def eval(b: ScoreCurve.Buffer): Any = {
    // java.util.Arrays.sort orders doubles by Double.compare, which is
    // Spark's order once −0.0 and the NaNs are normalized: NaN sorts last
    val scores = b.counts.keysIterator.filter(_ != NullKey).map(longBitsToDouble).toArray
    java.util.Arrays.sort(scores)
    val keys = scores.reverseIterator.map(doubleToLongBits) ++ Iterator(NullKey).filter(b.counts.contains)
    var (nCum, pCum) = (0L, 0L)
    new GenericArrayData(keys.map { k =>
      val c = b.counts(k)
      nCum += c(0)
      pCum += c(1)
      val s = if (k == NullKey) null else longBitsToDouble(k)
      new GenericInternalRow(Array[Any](s, c(0), c(1), nCum, pCum)): Any
    }.toArray)
  }

  override def serialize(b: ScoreCurve.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(5 + b.counts.size * 24)
    bb.put((if (b.quantized) 1 else 0).toByte)
    bb.putInt(b.counts.size)
    b.counts.foreach { case (k, c) => bb.putLong(k); bb.putLong(c(0)); bb.putLong(c(1)) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ScoreCurve.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = createAggregationBuffer()
    b.quantized = bb.get() == 1
    (0 until bb.getInt).foreach(_ => b.counts(bb.getLong) = Array(bb.getLong, bb.getLong))
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ScoreCurve = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ScoreCurve = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ScoreCurve =
    copy(scoreChild = c(0), positiveChild = c(1))
}

object ScoreCurve {

  /** The key of a null score: a NaN bit pattern that `doubleToLongBits`
    * never returns (it maps every NaN to the canonical one). */
  val NullKey: Long = 0x7ff0000000000001L

  /** A score's key: its bits, with −0.0 as 0.0 and one NaN. */
  def key(s: Double): Long = doubleToLongBits(if (s == 0.0) 0.0 else s)

  /** Key → (rows, positives); raw keys until `quantized`, grid keys after. */
  final class Buffer(maxKeys: Long, bins: Int) {
    val counts = mutable.LongMap.empty[Array[Long]]
    var quantized = false

    /** Adds `n` rows with `p` positives at key `k`, a raw key unless `onGrid`. */
    def add(k: Long, n: Long, p: Long, onGrid: Boolean = false): Unit = {
      val snap = quantized && !onGrid && k != NullKey
      val c = counts.getOrElseUpdate(
        if (snap) key(Math.floor(longBitsToDouble(k) * bins).toLong.toDouble / bins) else k,
        new Array[Long](2))
      c(0) += n
      c(1) += p
      if (counts.size > maxKeys) toGrid()
    }

    def toGrid(): Unit = if (!quantized) {
      quantized = true
      val raw = counts.toArray
      counts.clear()
      raw.foreach { case (k, c) => add(k, c(0), c(1)) }
    }
  }

  def score_curve(score: Column, positive: Column, maxDistinctScores: Long,
                  quantizeBins: Int): Column =
    Bridge.column(ScoreCurve(Bridge.expression(score), Bridge.expression(positive),
      maxDistinctScores, quantizeBins).toAggregateExpression())
}
