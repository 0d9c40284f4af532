package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** The IVF coarse-quantizer table as a VALUE type: id-sorted centroid ids +
  * double-precision embeddings. Content-based equals/hashCode (arrays would
  * compare by reference, defeating Catalyst canonicalization and
  * common-subexpression reuse across two semantically identical
  * `cosine_argmax` calls — round-4 advice). Centroids are doubles because a
  * Lloyd-refined centroid is a mean — an exact rational both engines
  * materialize as the same IEEE double; seed centroids (float samples)
  * widen losslessly. */
final class Centroids(val ids: Array[Long], val embs: Array[Array[Double]])
    extends Serializable {
  require(ids.nonEmpty && ids.length == embs.length,
    "Centroids needs a non-empty id-aligned embedding set")
  override def equals(o: Any): Boolean = o match {
    case c: Centroids =>
      java.util.Arrays.equals(ids, c.ids) &&
        embs.length == c.embs.length &&
        embs.indices.forall(i => java.util.Arrays.equals(embs(i), c.embs(i)))
    case _ => false
  }
  override def hashCode: Int =
    31 * java.util.Arrays.hashCode(ids) +
      embs.foldLeft(0)((h, e) => 31 * h + java.util.Arrays.hashCode(e))
}

object Centroids {
  /** Sorts by id ascending so the strict improvement scan in
    * [[CosineArgMax.argmax]] resolves cosine ties to the LOWEST centroid id
    * (the oracle's `max(struct(cos, -cid))`). */
  def apply(centroids: Seq[(Long, Array[Double])]): Centroids = {
    val sorted = centroids.sortBy(_._1).toArray
    new Centroids(sorted.map(_._1), sorted.map(_._2))
  }
}

/** IVF coarse-quantizer assignment as a single codegen'd projection: the id
  * of the centroid with the highest cosine similarity to the row's embedding
  * (ties → lowest centroid id; NaN cosines sort GREATEST, matching the
  * oracle's `max(struct(cos, -cid))` under DuckDB's NaN-greatest total
  * order).
  *
  * This replaces the explode-shaped `df.join(broadcast(centroids)).groupBy
  * (id).agg(max(struct(...)))` assignment, which materializes N×nlist
  * pre-combine rows — fine at nlist=16, the dominant cost at a production
  * nlist of 4k-64k lists. Here the centroid table rides the expression as a
  * reference object (same mechanism as Spark's `InSet`), so assignment is
  * one map-only pass with zero row amplification. The reference object ships
  * once per task closure, which is cheap at the nlist `ivfLists` builds; a
  * quantizer too large for that would ship as a broadcast handle instead.
  *
  * Arithmetic parity: per centroid, EXACTLY the [[CosineSim]] sequential
  * fold (row float→double, left-to-right, independent norms; centroid
  * already double) — bit-identical to the DuckDB oracle's `list_reduce`
  * cosine, so the argmax agrees across engines.
  */
case class CosineArgMax(child: Expression, centroids: Centroids)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(ArrayType(FloatType))
  override def nullIntolerant: Boolean = true

  protected override def nullSafeEval(a: Any): Any =
    CosineArgMax.argmax(a.asInstanceOf[ArrayData], centroids.ids, centroids.embs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", centroids, "graft.functions.Centroids")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CosineArgMax.argmax($c, $cents.ids(), $cents.embs())")
  }

  override protected def withNewChildInternal(newChild: Expression): CosineArgMax =
    copy(child = newChild)
}

object CosineArgMax {

  /** Cosine numerator/denominator pieces of an ArrayData embedding vs a
    * double[] centroid — the same fold as [[CosineSim.cosine]], with the
    * row-side norm hoisted by the caller (value-identical: the norm folds
    * only over its own array). */
  private def dotAndNorm(a: ArrayData, b: Array[Double]): (Double, Double) = {
    val n = math.min(a.numElements(), b.length)
    var dot = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b(i); i += 1 }
    i = 0
    while (i < b.length) { val y = b(i); nb += y * y; i += 1 }
    (dot, nb)
  }

  def argmax(emb: ArrayData, ids: Array[Long], embs: Array[Array[Double]]): Long = {
    var na = 0.0
    var i = 0
    val an = emb.numElements()
    while (i < an) { val x = emb.getFloat(i).toDouble; na += x * x; i += 1 }
    val sna = math.sqrt(na)
    var best = Double.NegativeInfinity
    var bestNaN = false
    var bestId = ids(0)
    i = 0
    while (i < ids.length) {
      val (dot, nb) = dotAndNorm(emb, embs(i))
      val cos = dot / (sna * math.sqrt(nb))
      // NaN sorts GREATEST (a zero-norm centroid or row): the oracle's
      // max(struct(cos, -cid)) ranks NaN above +Inf in DuckDB's total
      // order, so the first NaN centroid (lowest id — ascending scan) must
      // win here too (round-4 advice: strict > silently skipped NaN, the
      // opposite of the claimed parity)
      val improves =
        if (cos.isNaN) !bestNaN
        else !bestNaN && cos > best
      if (improves) { best = cos; bestNaN = cos.isNaN; bestId = ids(i) }
      i += 1
    }
    bestId
  }

  def cosine_argmax(emb: Column, centroids: Seq[(Long, Array[Double])]): Column =
    Bridge.column(CosineArgMax(Bridge.expression(emb), Centroids(centroids)))
}
