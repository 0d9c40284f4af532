package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

/** The point-in-time backfill as ONE physical pass: a logical node, a
  * planner strategy and a sweep exec.
  *
  * The exec declares `ClusteredDistribution(key)` and the child ordering
  * (key, window_start) ascending, nulls first, so EnsureRequirements plans
  * one shuffle and one sort. Each partition is then swept once:
  *
  *   - a new key resets the state;
  *   - a new window_start closes the open window: per role, the window's
  *     count updates the running min, max and sum, and `windows` grows by
  *     one. The stats row (`${r}_min`, `_max`, `_avg`, `_count` per role,
  *     `_avg` = sum / windows over doubles) is then projected through the
  *     payload (stats ++ features) ONCE, into one reused buffer;
  *   - every input row emits its anchor columns joined ([[RowJoiner]]) to
  *     the payload of its key's last completed window, or to the shared
  *     all-null payload when there is none; only then is its role counted
  *     into the open window. So a row never sees its own still-open
  *     window, let alone a later one.
  *
  * All anchors of one window see the same state, so ts and seq are not sort
  * keys. The exec compares window starts for equality only and never
  * computes a window boundary: the window_start column comes from the
  * child. Null keys form one group; a null window_start sorts first, so it
  * is the first completed window of every later row of its key.
  *
  * SQL metrics: output rows, windows (one per (key, window_start) group)
  * and `maxKeyRun`, the longest key run in a task (rows per key).
  */
object PitSweep {

  /** The stats columns of `roles`, in `windowStates` order. */
  private def statAttributes(roles: Seq[String]): Seq[AttributeReference] = roles.flatMap(r => Seq(
    AttributeReference(s"${r}_min", LongType)(), AttributeReference(s"${r}_max", LongType)(),
    AttributeReference(s"${r}_avg", DoubleType)(), AttributeReference(s"${r}_count", LongType)()))

  /** Sweep `child` (already carrying `windowStart`) into `anchor` columns ++
    * stats ++ `features`, each feature a Column over the stats columns.
    * Fails before any job on duplicate or empty roles, a key type the typed
    * reads do not cover, a non-string role, a window start that is not
    * long-backed, or anchor columns without the key. */
  def apply(child: DataFrame, key: String, windowStart: String, role: String,
            anchor: Seq[String], roles: Seq[String], features: Seq[Column]): DataFrame = {
    require(roles.nonEmpty, "PitSweep: roles must be non-empty")
    val dups = roles.diff(roles.distinct).distinct
    require(dups.isEmpty, s"PitSweep: roles must be distinct, repeated: ${dups.mkString(", ")}")
    PlanSupport.requireKeyType(child, key, "PitSweep")
    val roleDt = child.schema(role).dataType
    require(roleDt == StringType, s"PitSweep: role column '$role' must be a string, got $roleDt")
    val wsDt = child.schema(windowStart).dataType
    require(Seq(TimestampType, TimestampNTZType, LongType).contains(wsDt),
      s"PitSweep: window start '$windowStart' must be timestamp/long, got $wsDt")
    require(anchor.contains(key), s"PitSweep: anchor columns must include the key '$key'")
    val spark = child.sparkSession
    PlanSupport.ensureRegistered(spark, PitSweepStrategy)
    val stats = statAttributes(roles)
    // resolve the feature Columns against the stats attributes themselves,
    // so the payload expressions reference them by ExprId
    val named = Bridge.ofRows(spark, LocalRelation(stats)).select(features: _*)
      .queryExecution.analyzed match {
      case Project(list, _) => list
      case other => sys.error(s"PitSweep: features did not resolve to a projection:\n$other")
    }
    // all nullable: anchors with no completed window get the null payload
    val featureAttrs = named.map(f => AttributeReference(f.name, f.dataType, nullable = true)())
    val plan = child.queryExecution.analyzed
    def attr(n: String) = plan.output.find(_.name == n)
      .getOrElse(sys.error(s"PitSweep: column $n missing"))
    Bridge.ofRows(spark, PitSweepNode(attr(key), attr(windowStart), attr(role), roles,
      anchor.map(attr), stats, named.map { case a: Alias => a.child; case e => e }, featureAttrs, plan))
  }
}

/** Logical sweep: output = anchors ++ stats ++ features, where `features`
  * are expressions over `statAttrs` and `featureAttrs` their freshly minted
  * output columns (both produced here, so resolution passes). */
case class PitSweepNode(
    key: Attribute, windowStart: Attribute, role: Attribute, roles: Seq[String],
    anchor: Seq[Attribute], statAttrs: Seq[AttributeReference], features: Seq[Expression],
    featureAttrs: Seq[AttributeReference], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = anchor ++ statAttrs ++ featureAttrs
  override def producedAttributes: AttributeSet = AttributeSet(statAttrs ++ featureAttrs)
  // the payload by name: its inlined feature expressions fill pages of EXPLAIN
  override protected def stringArgs: Iterator[Any] =
    Iterator(key, windowStart, role, roles, anchor, statAttrs ++ featureAttrs)
  override protected def withNewChildInternal(newChild: LogicalPlan): PitSweepNode =
    copy(child = newChild)
}

/** Plans PitSweepNode → PitSweepExec (child via planLater). */
object PitSweepStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PitSweepNode(k, ws, r, roles, a, st, fs, fAttrs, child) =>
      PitSweepExec(k, ws, r, roles, a, st, fs, fAttrs, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical single-pass sweep over a key-clustered, (key, window)-sorted
  * child. */
case class PitSweepExec(
    key: Attribute, windowStart: Attribute, role: Attribute, roles: Seq[String],
    anchor: Seq[Attribute], statAttrs: Seq[AttributeReference], features: Seq[Expression],
    featureAttrs: Seq[AttributeReference], child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = anchor ++ statAttrs ++ featureAttrs
  override def producedAttributes: AttributeSet = AttributeSet(statAttrs ++ featureAttrs)
  override protected def stringArgs: Iterator[Any] =
    Iterator(key, windowStart, role, roles, anchor, statAttrs ++ featureAttrs)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending), SortOrder(windowStart, Ascending)))

  // one output row per input row, in input order; the key is an anchor column
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(key, Ascending))

  override protected def withNewChildInternal(newChild: SparkPlan): PitSweepExec =
    copy(child = newChild)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numWindows" -> SQLMetrics.createMetric(sparkContext, "number of windows"),
    "maxKeyRun" -> PlanSupport.maxMetric(sparkContext, "longest key run in a task"))

  protected override def doExecute(): RDD[InternalRow] = {
    val in = child.output
    def ordinal(a: Attribute): Int = in.indexWhere(_.exprId == a.exprId)
    val (keyO, wsO, roleO) = (ordinal(key), ordinal(windowStart), ordinal(role))
    val keyDt = key.dataType
    def schemaOf(as: Seq[Attribute]) = StructType(as.map(a => StructField(a.name, a.dataType, a.nullable)))
    val anchorSchema = schemaOf(anchor)
    val paySchema = schemaOf(statAttrs ++ featureAttrs)
    val statSchema = schemaOf(statAttrs)
    val boundAnchor = anchor.map(a => BindReferences.bindReference(a: Expression, in))
    val boundPay = (statAttrs ++ features).map(BindReferences.bindReference(_, statAttrs))
    val nullPay = PlanSupport.nullPayload(paySchema)
    val names = roles.map(UTF8String.fromString).toArray
    val nr = names.length
    val (numOut, numWindows, maxKeyRun) =
      (longMetric("numOutputRows"), longMetric("numWindows"), longMetric("maxKeyRun"))

    child.execute().mapPartitions { it =>
      val anchorProj = UnsafeProjection.create(boundAnchor)
      val payProj = GenerateUnsafeProjection.generate(boundPay, true)
      val join = new RowJoiner(anchorSchema, paySchema, nullPay)
      val run = new KeyRun(keyDt)
      val statRow = PlanSupport.nullPayload(statSchema) // fixed-width, set in place
      val pay = nullPay.copy() // byte-array backed, refilled by copyFrom
      // the open window: its start and per-role counts
      var wsNull = false
      var ws = 0L
      val cur = new Array[Long](nr)
      // completed windows of the current key and their running stats
      var windows = 0L
      val lo, hi, sum = new Array[Long](nr)
      var nOut, nWindows = 0L
      var done = false

      def open(row: InternalRow): Unit = {
        wsNull = row.isNullAt(wsO)
        if (!wsNull) ws = row.getLong(wsO)
        java.util.Arrays.fill(cur, 0L)
        nWindows += 1
      }
      def close(): Unit = {
        windows += 1
        var i = 0
        while (i < nr) {
          val c = cur(i)
          if (windows == 1) { lo(i) = c; hi(i) = c; sum(i) = c }
          else { lo(i) = math.min(lo(i), c); hi(i) = math.max(hi(i), c); sum(i) += c }
          statRow.setLong(4 * i, lo(i))
          statRow.setLong(4 * i + 1, hi(i))
          statRow.setDouble(4 * i + 2, sum(i).toDouble / windows.toDouble)
          statRow.setLong(4 * i + 3, sum(i))
          i += 1
        }
        pay.copyFrom(payProj(statRow))
      }
      def finish(): Unit = if (!done) {
        done = true
        numOut += nOut; numWindows += nWindows; maxKeyRun += run.longest
      }
      new Iterator[InternalRow] {
        override def hasNext: Boolean = it.hasNext || { finish(); false }
        override def next(): InternalRow = {
          val row = it.next()
          if (run.next(row, keyO)) { windows = 0; open(row) }
          else if (row.isNullAt(wsO) != wsNull || (!wsNull && row.getLong(wsO) != ws)) {
            close(); open(row)
          }
          nOut += 1
          val out = join(anchorProj(row), if (windows > 0) pay else null)
          if (!row.isNullAt(roleO)) {
            val r = row.getUTF8String(roleO)
            var i = 0
            while (i < nr && !names(i).equals(r)) i += 1
            if (i < nr) cur(i) += 1
          }
          out
        }
      }
    }
  }
}
