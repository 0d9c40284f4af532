package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** The as-of join as a FIRST-CLASS Catalyst operator: a logical node, a
  * planner strategy, and a physical merge exec.
  *
  * Why a physical plan and not a Dataset-level merge that builds its
  * shuffle+sort by hand and wraps its RDD as a DataFrame: such a merge shows up in EXPLAIN as an opaque scan, AQE cannot
  * re-plan around it, and Catalyst cannot push projections/filters through
  * it. Here the physical node just DECLARES what it needs —
  *
  *   requiredChildDistribution: both children clustered by the join key;
  *   requiredChildOrdering:     (key, ts[, seq]) ascending
  *
  * — and EnsureRequirements inserts the exchanges and sorts, exactly as for
  * SortMergeJoin. The merge itself is a single-pass last-seen-payload sweep
  * (one sequential pass per co-partition; work proportional to partition
  * size). The right-side (key, ts) dedup falls out of the sort for free:
  * ordering by (key, ts, seq) means the LAST row seen for a (key, ts) group
  * has the greatest seq — the documented tiebreak — and simply overwrites
  * the carried payload. Only a right row of the anchor's own key becomes
  * carried state (a row of an earlier key can reach no later anchor), and
  * it is copied into one reused buffer. Each output row is the memcpy
  * concatenation of the left UnsafeRow and the payload UnsafeRow
  * ([[RowJoiner]]), not a field-by-field projection;
  * unmatched anchors join one all-null payload row built on the driver.
  * The output is emitted in left order, clustered and sorted like the left
  * child, so a second as-of on the same key and ts reads these rows with no
  * exchange or sort between. Keys are compared through the typed getter
  * of their type, nulls first; the carried payload is dropped when the left
  * key changes, and a key is copied only then. SQL metrics: output rows,
  * right rows (the partition is read to its end, so the count is exact),
  * matched anchors and `maxKeyRun`, the longest run of left rows with one
  * key in a task (max-aggregated: the skew signal).
  *
  * Semantics (property-tested identical to the declarative
  * [[graft.ops.AsOfJoin.windowed]] in AsOfJoinSpec): for each left row,
  * the payload of the latest right row with the same key and right.ts <=
  * left.ts; null if none; the greatest seq wins a (key, ts) tie, and a full
  * (key, ts, seq) tie picks one of the tied rows, unspecified which; null
  * keys form one group (Window.partitionBy semantics, NOT SQL equi-join
  * nulls).
  *
  * Skew and task count: ClusteredDistribution keeps a key inside one
  * partition, so a mega-key lands on one task. Unlike SortMergeJoin, AQE's
  * skew-join rewrite does not apply (it splits only sort-merge and
  * shuffled-hash joins), so the key stays on one task; `maxKeyRun` reports
  * its length. When the merge input is small (a few MB shuffled), AQE also
  * coalesces every partition into one task, so the per-row cost of the
  * sweep and the output row build sits on the critical path for all keys,
  * not only the skewed one.
  *
  * This is the engine's only as-of join operator. The flagship backfill
  * picks its as-of state inside its own sweep ([[PitSweep]]); this one
  * serves the registered q_asof_* queries and direct callers (perfbench's
  * merge layer). Against the hand-built Dataset-level merges it was the
  * fastest form measured (sf0.1: 0.6 s vs 1.0 s).
  */
object AsOfPlan {

  /** Build the as-of join DataFrame over the custom logical node. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightSeq: String, payload: Seq[String], prefix: String = "asof_"): DataFrame = {
    val spark = left.sparkSession
    // fail fast at build time: whitelisted key types (typed key compares)
    // and long-backed timestamps (the merge compares raw micros)
    PlanSupport.requireKeyType(left, key, "AsOfPlan.asOfJoin")
    Seq(left.schema(ts).dataType, right.schema(ts).dataType).foreach { dt =>
      require(dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.TimestampNTZType ||
        dt == org.apache.spark.sql.types.LongType,
        s"AsOfPlan.asOfJoin: ts must be timestamp/long (internally long micros), got $dt")
    }
    PlanSupport.ensureRegistered(spark, AsOfStrategy)
    val rProj = right.select((Seq(key, ts, rightSeq) ++ payload).distinct.map(col): _*)
    val lPlan = left.queryExecution.analyzed
    // fresh ExprIds on the right side: left and right frequently derive from
    // the SAME base table (self as-of), and a binary node with duplicate
    // attribute ids across children is ambiguous (the analyzer dedups only
    // built-in Join nodes)
    val rAnalyzed = rProj.queryExecution.analyzed
    val rAliases = rAnalyzed.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, rAnalyzed)
    def lAttr(n: String) = lPlan.output.find(_.name == n)
      .getOrElse(sys.error(s"asOfJoin: left column $n missing"))
    def rAttr(n: String) = rAliases.find(_.name == n)
      .getOrElse(sys.error(s"asOfJoin: right column $n missing")).toAttribute
    val payAttrs = payload.map(rAttr)
    val outPay = payAttrs.map(a =>
      AttributeReference(s"$prefix${a.name}", a.dataType, nullable = true)())
    val node = AsOfJoinNode(lPlan, rPlan, lAttr(key), rAttr(key),
      lAttr(ts), rAttr(ts), rAttr(rightSeq), payAttrs, outPay)
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, node)
  }
}

/** Logical as-of join: output = left columns ++ freshly-minted prefixed
  * payload attributes (producedAttributes, so resolution passes). */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute, rightSeq: Attribute,
    payload: Seq[Attribute],
    outPayload: Seq[AttributeReference]) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ outPayload
  override def producedAttributes: AttributeSet = AttributeSet(outPayload)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans AsOfJoinNode → AsOfMergeExec (children via planLater). */
object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, rseq, pay, outPay) =>
      AsOfMergeExec(lk, rk, lts, rts, rseq, pay, outPay, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical single-pass merge over co-partitioned, co-sorted children. */
case class AsOfMergeExec(
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute, rightSeq: Attribute,
    payload: Seq[Attribute], outPayload: Seq[AttributeReference],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ outPayload
  override def producedAttributes: AttributeSet = AttributeSet(outPayload)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightSeq, Ascending)))

  // rows are emitted in left order, one per left row
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  protected override def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeExec =
    copy(left = newLeft, right = newRight)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numRightRows" -> SQLMetrics.createMetric(sparkContext, "number of right rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched anchors"),
    "maxKeyRun" -> PlanSupport.maxMetric(sparkContext, "longest key run in a task"))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    def ordinal(a: Attribute, out: Seq[Attribute]): Int = out.indexWhere(_.exprId == a.exprId)
    val (lKeyO, lTsO) = (ordinal(leftKey, lOut), ordinal(leftTs, lOut))
    val (rKeyO, rTsO) = (ordinal(rightKey, rOut), ordinal(rightTs, rOut))
    val keyDt = leftKey.dataType
    def schemaOf(as: Seq[Attribute]) = StructType(as.map(a => StructField(a.name, a.dataType, a.nullable)))
    val (lSchema, pSchema) = (schemaOf(lOut), schemaOf(outPayload))
    val payB = payload.map(p => BindReferences.bindReference(p: Expression, rOut))
    val nullPay = PlanSupport.nullPayload(pSchema)
    val (numOut, numRight, numMatched, maxKeyRun) = (longMetric("numOutputRows"),
      longMetric("numRightRows"), longMetric("numMatchedRows"), longMetric("maxKeyRun"))

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val payProj = GenerateUnsafeProjection.generate(payB)
      val join = new RowJoiner(lSchema, pSchema, nullPay)
      val keys = KeyOrder.of(keyDt)
      val run = new KeyRun(keyDt)
      val rBuf = rIt.buffered
      val lastPay = nullPay.copy() // byte-array backed, refilled by copyFrom
      var haveLast = false // lastPay holds a right row of the current left key
      var nOut, nRight, nMatched = 0L
      var done = false
      def tsOf(row: InternalRow, o: Int): Long =
        if (row.isNullAt(o)) Long.MinValue else row.getLong(o) // nulls sort first
      // count the right rows no anchor reached too, then publish the
      // task-local counts once per partition
      def finish(): Unit = if (!done) {
        done = true
        while (rBuf.hasNext) { rBuf.next(); nRight += 1 }
        numOut += nOut; numRight += nRight; numMatched += nMatched; maxKeyRun += run.longest
      }
      new Iterator[InternalRow] {
        override def hasNext: Boolean = lIt.hasNext || { finish(); false }
        override def next(): InternalRow = {
          val l = lIt.next()
          if (run.next(l, lKeyO)) haveLast = false
          val lt = tsOf(l, lTsO)
          var scanning = true
          while (scanning && rBuf.hasNext) {
            val r = rBuf.head
            val c = keys.compare(r, rKeyO, l, lKeyO)
            if (c > 0 || (c == 0 && tsOf(r, rTsO) > lt)) scanning = false
            else {
              // a right row of an earlier key can reach no anchor (the left
              // side is sorted too): only same-key rows become state
              if (c == 0) { lastPay.copyFrom(payProj(r)); haveLast = true }
              rBuf.next()
              nRight += 1
            }
          }
          nOut += 1
          if (haveLast) { nMatched += 1; join(l, lastPay) }
          else join(l, null)
        }
      }
    }
  }
}
