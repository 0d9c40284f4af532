package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst text expressions for the training-data operators.
  *
  * Why native and not Spark higher-order functions: HOFs (`filter`,
  * `transform`, `aggregate`) are CodegenFallback — each element is an
  * interpreted lambda invocation plus an array allocation. Round-1 measured
  * the HOF forms of these exact operators at 5–95 s for 5,000 documents
  * (q_lang_id 74.6 s, q_lsh_pairs 94.5 s); the per-character native fold in
  * [[TokHash]] was ~2 orders of magnitude faster. Every expression here is
  * one pass over the string inside whole-stage codegen, no per-token
  * allocation beyond the (short-lived) token substring where a set lookup
  * needs it.
  *
  * Tokenization contract shared by all of them (and by the DuckDB oracle's
  * `string_split(text, ' ')`): split on single spaces, KEEPING empty tokens —
  * so the token list is an exact partition of the string and any k adjacent
  * tokens joined by ' ' reproduce the original substring. [[MinHashSig]]
  * exploits that: a shingle hash is just a code-point fold over a substring
  * range, no shingle string is ever materialized.
  *
  * All hashing is the portable [[TokHash]] arithmetic (code-point fold,
  * acc0=7, acc*31+cp mod 1000003) so results are reproducible bit-for-bit in
  * the DuckDB oracle and the plain-Scala test oracle.
  */
object TextExprs {

  private val SP = ' '

  /** Number of ' '-separated tokens = spaces + 1 (split keeps empties). */
  def tokenCount(s: UTF8String): Int = {
    val n = s.numBytes
    var i = 0
    var cnt = 1
    while (i < n) {
      if (s.getByte(i) == 0x20) cnt += 1 // ' ' is never part of a UTF-8 multibyte sequence
      i += 1
    }
    cnt
  }

  /** Count of tokens that are members of `set`. */
  def tokenSetCount(s: UTF8String, set: java.util.HashSet[String]): Int = {
    val str = s.toString
    val n = str.length
    var start = 0
    var cnt = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == SP) {
        if (set.contains(str.substring(start, i))) cnt += 1
        start = i + 1
      }
      i += 1
    }
    cnt
  }

  /** Argmax language by marker-token hits; first maximal language with a
    * score > 0 wins (the order langNames encodes), else the last entry of
    * `langNames` ("und"). `masks` maps marker word -> bitmask of language
    * indices (a word may mark several languages). */
  def langId(s: UTF8String, masks: java.util.HashMap[String, Integer],
             langNames: Array[UTF8String]): UTF8String = {
    val str = s.toString
    val nLangs = langNames.length - 1
    val counts = new Array[Int](nLangs)
    val n = str.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == SP) {
        val m = masks.get(str.substring(start, i))
        if (m != null) {
          val mask = m.intValue()
          var b = 0
          while (b < nLangs) {
            if ((mask & (1 << b)) != 0) counts(b) += 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var best = nLangs // default: "und"
    var bestC = 0
    var j = nLangs - 1
    while (j >= 0) { // scan backwards so ties resolve to the FIRST maximal
      if (counts(j) >= bestC && counts(j) > 0) { best = j; bestC = counts(j) }
      j -= 1
    }
    langNames(best)
  }

  /** Number of DISTINCT ' '-separated tokens (split keeps empties). */
  def distinctTokenCount(s: UTF8String): Int = {
    val str = s.toString
    val set = new java.util.HashSet[String]()
    val n = str.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == SP) {
        set.add(str.substring(start, i))
        start = i + 1
      }
      i += 1
    }
    set.size
  }

  /** Occurrence count of the most frequent ' '-token (the Gopher-style
    * repetition signal: a high max-frequency token marks boilerplate /
    * keyword-stuffed text). One pass, per-row hash map sized by distinct
    * tokens of THIS row only — no shuffle, no explode. */
  def topTokenFreq(s: UTF8String): Int = {
    val str = s.toString
    val m = new java.util.HashMap[String, Integer]()
    val n = str.length
    var best = 0
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == SP) {
        val t = str.substring(start, i)
        val prev = m.get(t)
        val c = if (prev == null) 1 else prev.intValue() + 1
        m.put(t, Integer.valueOf(c))
        if (c > best) best = c
        start = i + 1
      }
      i += 1
    }
    best
  }

  private val P: Long = 2147483647L // 2^31-1 Mersenne prime (minhash universe)

  /** MinHash signature: word-k-shingles (joined by ' ' = original substring
    * ranges), TokHash each, then per permutation j the min of
    * (h*a(j)+b(j)) mod p. Empty-string shingles are skipped (mirrors the
    * `filter(length > 0)` in the HOF/oracle form); if no shingle survives the
    * signature is all-null (array_min of an empty array). */
  def minHashSig(s: UTF8String, k: Int, a: Array[Long], b: Array[Long]): ArrayData = {
    val str = s.toString
    val n = str.length
    val nh = a.length
    // token start positions (split keeps empties: one token per space + 1)
    var nTok = 1
    var i = 0
    while (i < n) { if (str.charAt(i) == SP) nTok += 1; i += 1 }
    val starts = new Array[Int](nTok + 1)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < n) {
      if (str.charAt(i) == SP) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTok) = n + 1 // sentinel: end(tok) = starts(tok+1) - 1
    val nShingles = if (nTok >= k) nTok - k + 1 else 1
    val mins = new Array[Long](nh)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var sIdx = 0
    while (sIdx < nShingles) {
      val from = starts(sIdx)
      val lastTok = math.min(sIdx + k, nTok) - 1
      val until = starts(lastTok + 1) - 1
      if (until > from) {
        any = true
        val h = TokHash.hashRange(str, from, until)
        var x = 0
        while (x < nh) {
          val v = (h * a(x) + b(x)) % P // h < 2^20, a < 2^31: no overflow
          if (v < mins(x)) mins(x) = v
          x += 1
        }
      }
      sIdx += 1
    }
    if (any) ArrayData.toArrayData(mins)
    else new GenericArrayData(new Array[Any](nh)) // all-null signature
  }

  /** 32-bit SimHash: per token, spread = TokHash(token) * 2654435761; each of
    * the 32 low bits votes +1/-1; bit set where votes > 0. */
  def simHash32(s: UTF8String): Long = {
    val str = s.toString
    val n = str.length
    val votes = new Array[Int](32)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == SP) {
        val h = TokHash.hashRange(str, start, i) * 2654435761L
        var b = 0
        while (b < 32) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Order-sensitive document fingerprint: fold over ' '-tokens (keeping
    * empties), acc = (acc·131 + tokHash(token)) mod 1000003, acc0 = 0 —
    * the rolling-hash analog, identical arithmetic to the HOF reference form
    * (HofReference.fingerprintHof, test sources) and the DuckDB oracle. */
  def docFingerprint(s: UTF8String): Long = {
    val str = s.toString
    val n = str.length
    var acc = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == SP) {
        acc = (acc * 131L + TokHash.hashRange(str, start, i)) % 1000003L
        start = i + 1
      }
      i += 1
    }
    acc
  }

  /** Join an array<long> as a separator-delimited string, skipping null
    * elements (array_join semantics) — keeps signature rendering inside
    * codegen where `array_join(transform(...))` would fall back. */
  def longArrayJoin(a: ArrayData, sep: UTF8String): UTF8String = {
    val n = a.numElements()
    val sb = new java.lang.StringBuilder
    var first = true
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        if (!first) sb.append(sep.toString)
        sb.append(a.getLong(i))
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  // ── Column-level entry points ──────────────────────────────────────────
  def token_count(c: Column): Column = Bridge.column(TokenCount(Bridge.expression(c)))
  def distinct_token_count(c: Column): Column =
    Bridge.column(DistinctTokenCount(Bridge.expression(c)))
  def top_token_freq(c: Column): Column = Bridge.column(TopTokenFreq(Bridge.expression(c)))
  def token_set_count(c: Column, words: Seq[String]): Column =
    Bridge.column(TokenSetCount(Bridge.expression(c), words))
  def lang_id(c: Column, markers: Seq[(String, Seq[String])]): Column =
    Bridge.column(LangId(Bridge.expression(c), markers))
  def minhash_sig(c: Column, k: Int, numHashes: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(c), k, numHashes))
  def simhash32(c: Column): Column = Bridge.column(SimHash32(Bridge.expression(c)))
  def doc_fingerprint(c: Column): Column = Bridge.column(DocFingerprint(Bridge.expression(c)))
  def long_array_join(c: Column, sep: String): Column =
    Bridge.column(LongArrayJoin(Bridge.expression(c), sep))
}

/** array_join(transform(longs, cast string), sep) as one native pass. */
case class LongArrayJoin(child: Expression, sep: String)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = StringType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(ArrayType(LongType))
  override def nullIntolerant: Boolean = true
  @transient private lazy val sepU = UTF8String.fromString(sep)
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.longArrayJoin(input.asInstanceOf[ArrayData], sepU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sep", sepU, "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.longArrayJoin($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): LongArrayJoin =
    copy(child = newChild)
}

/** size(split(text, ' ')) without materializing the token array. */
case class TokenCount(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.tokenCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.tokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenCount = copy(newChild)
}

/** size(array_distinct(split(text, ' '))) without materializing the array. */
case class DistinctTokenCount(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.distinctTokenCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.distinctTokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): DistinctTokenCount =
    copy(newChild)
}

/** max per-token occurrence count (repetition signal) as one native pass —
  * the explode→groupBy→max form would shuffle every token of the corpus. */
case class TopTokenFreq(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.topTokenFreq(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.topTokenFreq($c)")
  override protected def withNewChildInternal(newChild: Expression): TopTokenFreq =
    copy(newChild)
}

/** size(filter(split(text,' '), t -> t IN words)) as one native pass. */
case class TokenSetCount(child: Expression, words: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.tokenSetCount(input.asInstanceOf[UTF8String], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokset", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.tokenSetCount($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): TokenSetCount =
    copy(child = newChild)
}

/** Stopword-profile language ID: one tokenization pass scores every language
  * at once (the HOF form re-tokenized per language — 5 interpreted passes). */
case class LangId(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression with ExpectsInputTypes {
  require(markers.size < 32, "bitmask language index")
  override def dataType: DataType = StringType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  @transient private lazy val masks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    markers.zipWithIndex.foreach { case ((_, ws), i) =>
      ws.foreach { w =>
        val prev = m.get(w)
        m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }
  @transient private lazy val names: Array[UTF8String] =
    (markers.map(_._1) :+ "und").map(UTF8String.fromString).toArray
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.langId(input.asInstanceOf[UTF8String], masks, names)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("langmasks", masks, "java.util.HashMap")
    val nRef = ctx.addReferenceObj("langnames", names,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.langId($c, $mRef, $nRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

/** MinHash signature (array<long>, null element iff no non-empty shingle). */
case class MinHashSig(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  // seeded affine permutations — SAME constants as the DuckDB oracle
  // (OracleSql.qMinHashSig) and the HOF reference form
  // (HofReference.minHashSigFromHashes, test sources)
  @transient private lazy val as: Array[Long] =
    (0 until numHashes).map(j => (1223543677L + 2654435761L * j) % 2147483647L).toArray
  @transient private lazy val bs: Array[Long] =
    (0 until numHashes).map(j => (1327217885L + 40503L * j) % 2147483647L).toArray
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.minHashSig(input.asInstanceOf[UTF8String], shingleK, as, bs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", as, "long[]")
    val bRef = ctx.addReferenceObj("mhB", bs, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextExprs.minHashSig($c, $shingleK, $aRef, $bRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Rolling document fingerprint (one pass; the HOF `aggregate` fold it
  * replaces was the last CodegenFallback on a raw document scan). */
case class DocFingerprint(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.docFingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.docFingerprint($c)")
  override protected def withNewChildInternal(newChild: Expression): DocFingerprint =
    copy(newChild)
}

/** 32-bit SimHash over token hashes (one pass; the HOF form ran 32
  * interpreted aggregate votes per row). */
case class SimHash32(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(StringType)
  override def nullIntolerant: Boolean = true
  protected override def nullSafeEval(input: Any): Any =
    TextExprs.simHash32(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.simHash32($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash32 = copy(newChild)
}
