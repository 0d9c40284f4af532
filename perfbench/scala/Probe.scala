package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished Spark task, as the listener saw it. */
final case class TaskRec(stageId: Int, jobGroup: String, runMs: Long, gcMs: Long,
                         durationMs: Long, shuffleWrite: Long, spill: Long)

/** One finished SQL execution: its planning phases and shuffle count. */
final case class ExecRec(startMs: Long, planMs: Long, exchanges: Int)

/** A timed call into one layer. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Everything the benchmark observes from outside the engine.
  *
  * Untraced (`traced = false`) it registers nothing and `span` is a plain
  * call, so the end-to-end numbers carry no instrumentation. Traced, it
  * records spans from the benchmark's own call sites and, while `listen(true)`
  * is in force, a SparkListener and a QueryExecutionListener. Each span sets
  * a job group on the calling thread (Spark's local properties are inherited
  * by threads the caller creates, such as the backfill pool), so jobs, stages
  * and tasks are tied to the innermost open span.
  */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val wallAtStart = System.currentTimeMillis() - System.nanoTime() / 1000000L

  private val tasks = ArrayBuffer.empty[TaskRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val jobGroup = scala.collection.mutable.Map.empty[Int, String]
  private val execs = ArrayBuffer.empty[ExecRec]

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobGroup(e.jobId) = g
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val g = stageJob.get(e.stageId).flatMap(jobGroup.get).getOrElse("")
        tasks += TaskRec(e.stageId, g, m.executorRunTime, m.jvmGCTime, e.taskInfo.duration,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
      }
    }
  }

  private object ExecListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = Probe.this.synchronized {
      val phases = qe.tracker.phases
      val start = if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min
      execs += ExecRec(start, phases.values.map(_.durationMs).sum, Probe.exchanges(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
  private var listening = false

  /** Register (`on`) or remove both listeners; a traced run turns them off
    * for the untraced reps it times beside the traced ones. The bus is
    * drained first, so no event of earlier work is lost or misattributed. */
  def listen(on: Boolean): Unit = if (traced && on != listening) {
    drain()
    if (on) { sc.addSparkListener(Listener); listeners.register(ExecListener) }
    else { sc.removeSparkListener(Listener); listeners.unregister(ExecListener) }
    listening = on
  }

  /** Time `f` as a span named `name`; returns its result. */
  def span[A](name: String)(f: => A): A =
    if (!traced) f
    else {
      val s = Span(spans.size, name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
      spans += s
      open = s.id :: open
      sc.setJobGroup(s"span-${s.id}", name)
      try f
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", spans(p).name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (traced) org.apache.spark.graftbench.ListenerBus.drain(sc)

  private def subtree(ids: Seq[Int]): Set[String] = {
    val all = scala.collection.mutable.Set.empty[Int] ++ ids
    spans.foreach(s => if (all.contains(s.parent)) all += s.id) // children follow parents
    all.map(i => s"span-$i").toSet
  }

  /** Tasks run under the given spans or any span nested in them. */
  def tasksOf(ss: Seq[Span]): Seq[TaskRec] = synchronized {
    val groups = subtree(ss.map(_.id)); tasks.filter(t => groups.contains(t.jobGroup)).toSeq
  }

  /** Number of Spark jobs started under the given spans (nested included). */
  def jobsOf(ss: Seq[Span]): Int = synchronized {
    val groups = subtree(ss.map(_.id)); jobGroup.values.count(groups.contains)
  }

  /** SQL executions whose planning started inside one of the spans. */
  def execsOf(ss: Seq[Span]): Seq[ExecRec] = synchronized {
    val windows = ss.map(s => (wallAtStart + s.startNs / 1000000L, wallAtStart + s.endNs / 1000000L))
    execs.filter(e => windows.exists { case (a, b) => e.startMs >= a && e.startMs <= b }).toSeq
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def spansJson(runId: String): String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run":${Json.str(runId)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Probe {
  /** Shuffle exchanges in an executed plan, looking inside adaptive plans and
    * their query stages (a reused exchange is not a new shuffle). */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum
  }
}

/** `/proc/stat` CPU counters, to show host contention over a timed region. */
final case class CpuStat(total: Long, iowait: Long, steal: Long) {
  def since(a: CpuStat): (Double, Double) = {
    val d = math.max(1L, total - a.total).toDouble
    ((iowait - a.iowait) / d, (steal - a.steal) / d)
  }
}

object CpuStat {
  def now(): CpuStat = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val xs = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    CpuStat(xs.take(8).sum, xs(4), if (xs.length > 7) xs(7) else 0L)
  } catch { case _: Exception => CpuStat(0L, 0L, 0L) }
}

/** Host contention over the timed regions of a run.
  *
  * A VM's vCPUs can be taken away by the hypervisor (on the 4-vCPU VM the
  * benchmark was calibrated on: storms of a minute or more, with steal at
  * 20-30 % of all CPU time), which stretches every wall time of a run alike.
  * The metrics are the wall times as measured; the steal and iowait shares
  * of each region are recorded beside them, so a stormy run shows. */
final class Host {
  private val iowait = ArrayBuffer.empty[Double]
  private val steal = ArrayBuffer.empty[Double]

  /** Run `f`; returns its wall time in seconds. */
  def timed(f: => Unit): Double = {
    val a = CpuStat.now()
    val t0 = System.nanoTime()
    f
    val wall = (System.nanoTime() - t0) / 1e9
    val (io, st) = CpuStat.now().since(a)
    iowait += io
    steal += st
    wall
  }

  def json: String = {
    def mean(x: Seq[Double]) = if (x.isEmpty) 0.0 else x.sum / x.size
    def max(x: Seq[Double]) = if (x.isEmpty) 0.0 else x.max
    s""""regions":${steal.size},"steal_frac_mean":${mean(steal.toSeq)},"steal_frac_max":${max(steal.toSeq)},""" +
      s""""iowait_frac_mean":${mean(iowait.toSeq)},"iowait_frac_max":${max(iowait.toSeq)}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
