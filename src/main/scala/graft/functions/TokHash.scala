package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Portable polynomial string hash as a native Catalyst expression.
  *
  * Semantics: fold over Unicode CODE POINTS, acc0 = 7, acc = (acc*31 + cp)
  * mod 1000003 — EXACTLY the arithmetic the DuckDB oracle writes as
  * `list_reduce(list_prepend(7, list_transform(string_split(t,''), ascii)))`,
  * and what the token-hash helper previously built from nested
  * higher-order functions.
  *
  * Why an Expression and not the HOF composition: the HOF form allocates an
  * array element per character and (worse) can knock the whole projection out
  * of codegen; this version is a tight generated loop (`doGenCode`), keeping
  * minhash/simhash/fingerprint scans inside whole-stage codegen — the
  * difference is ~2 orders of magnitude on document-scale text.
  */
case class TokHash(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)
  override def nullIntolerant: Boolean = true

  protected override def nullSafeEval(input: Any): Any =
    TokHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): TokHash = copy(newChild)
}

object TokHash {
  val Mod: Long = 1000003L

  def hash(s: UTF8String): Long = {
    val str = s.toString
    hashRange(str, 0, str.length)
  }

  /** Code-point fold over str[from, until) (UTF-16 indices). Iterating code
    * points — not chars — matches DuckDB's `ascii(ch)` per split element for
    * supplementary-plane text (emoji, rare CJK); see TokHashSpec non-BMP
    * parity test. */
  def hashRange(str: String, from: Int, until: Int): Long = {
    var acc = 7L
    var i = from
    while (i < until) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** Column-level entry point. */
  def tok_hash(c: Column): Column = Bridge.column(TokHash(Bridge.expression(c)))
}
