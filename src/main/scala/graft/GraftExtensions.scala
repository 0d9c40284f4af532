package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions._

/** SparkSessionExtensions entry point — makes the engine's native
  * expression family available to plain SQL users (the "switch from the
  * reference without learning a new API" story):
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   spark.sql("SELECT tok_hash(text), simhash32(text) FROM docs")
  *   spark.sql("SELECT cosine_sim(a.emb, b.emb) FROM ...")
  *   spark.sql("SELECT minhash_sig(text, 3, 12) FROM docs")
  *
  * plus the native as-of join and point-in-time sweep operators (logical
  * node → physical exec).
  * For an already-built session (tests, notebooks) use
  * [[GraftFunctions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(e.injectFunction)
    // the native as-of join and point-in-time sweep operators (logical
    // node -> physical exec)
    e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    e.injectPlannerStrategy(_ => graft.plans.PitSweepStrategy)
  }
}

object GraftFunctions {

  /** Literal-int argument of a SQL call (e.g. `minhash_sig(text, 3, 12)`);
    * analysis-time error otherwise — the shingle/hash counts shape the
    * expression tree, so they cannot be data-dependent. */
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$fn: argument <$arg> must be an integer literal, got $e")
  }

  /** Integer OR long literal — for arguments whose expression surface takes a
    * full Long (lsh_bucket's seed): SQL callers can pass `42` or `4200000000L`
    * interchangeably (round-5 advice: litInt(...).toLong silently capped the
    * SQL surface at Int range while the Column API took a Long). */
  private def litLong(e: Expression, fn: String, arg: String): Long = e match {
    case Literal(v: Long, org.apache.spark.sql.types.LongType) => v
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v.toLong
    case _ => throw new IllegalArgumentException(
      s"$fn: argument <$arg> must be an integer or long literal, got $e")
  }

  private def d(name: String, arity: Int, builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name),
      (exprs: Seq[Expression]) => {
        // arity check BEFORE indexing: a missing argument must surface as a
        // readable analysis error, not IndexOutOfBoundsException
        if (exprs.length != arity) throw new IllegalArgumentException(
          s"$name expects $arity argument(s), got ${exprs.length}")
        builder(exprs)
      })

  /** The whole registrable native family. Marker/stopword-parameterized
    * expressions (lang_id, token_set_count) bind the engine's default
    * profiles — the Column API takes custom profiles. */
  private[graft] val descriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    d("tok_hash", 1, exprs => TokHash(exprs.head)),
    d("token_count", 1, exprs => TokenCount(exprs.head)),
    d("distinct_token_count", 1, exprs => DistinctTokenCount(exprs.head)),
    d("top_token_freq", 1, exprs => TopTokenFreq(exprs.head)),
    d("simhash32", 1, exprs => SimHash32(exprs.head)),
    d("doc_fingerprint", 1, exprs => DocFingerprint(exprs.head)),
    d("cosine_sim", 2, exprs => CosineSim(exprs(0), exprs(1))),
    d("minhash_sig", 3, exprs => MinHashSig(exprs(0),
      litInt(exprs(1), "minhash_sig", "shingleK"),
      litInt(exprs(2), "minhash_sig", "numHashes"))),
    d("lsh_bucket", 3, exprs => LshBucket(exprs(0),
      litInt(exprs(1), "lsh_bucket", "bits"),
      litLong(exprs(2), "lsh_bucket", "seed"))),
    d("lang_id", 1, exprs => LangId(exprs.head, graft.ops.TextAnalysis.LangMarkers)),
    d("stopword_count", 1, exprs => TokenSetCount(exprs.head, graft.ops.TextAnalysis.Stopwords)),
    // aggregate: SELECT qid, cos_topk(score, id, 5) ... GROUP BY qid
    d("cos_topk", 3, exprs => CosTopK(exprs(0), exprs(1),
      litInt(exprs(2), "cos_topk", "k")).toAggregateExpression()))

  /** Runtime registration into an existing session's function registry. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "scala_udf")
    }
}
