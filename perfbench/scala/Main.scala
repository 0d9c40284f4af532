package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Bench, PitPipeline, SparkEntry, TranscriptCols, Turn}
import graft.backfill.Backfill
import graft.features.BehaviorBinding
import graft.gen.TranscriptGen
import graft.ops.{AsOfJoin, PivotCounts, Windowize}
import graft.plans.AsOfPlan
import graft.tables.IcebergLite

/** Command line of one benchmark run (see run.py, which builds and calls it). */
final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
                      smoke: Boolean, work: String, tables: String, out: String)

/** What one run measured and checked. */
final class Report {
  val metrics = LinkedHashMap.empty[String, (Double, String)]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val errors = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, detail))
  }

  /** Run one operation; an exception counts as a failed operation. */
  def attempt(name: String)(f: => Unit): Unit = {
    attempted += 1
    try f
    catch { case e: Exception => failed += 1; errors += s"$name: $e" }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

object Main {
  import Stats._

  val Cores = 4
  val C: TranscriptCols = TranscriptCols.turns
  val Binding: BehaviorBinding = BehaviorBinding("user", "assistant", "system", "tool")
  val WidthSec = 3600L
  /** Input preparation is repeated this many times; setup_s counts its median. */
  val PrepReps = 3

  def exec(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  def anchor(turns: DataFrame): DataFrame =
    PitPipeline.anchorFeatures(turns, C, Turn.roles, Binding, WidthSec)

  def pitColumns(df: DataFrame): DataFrame =
    df.select(col(C.conv), col(C.seq), col(C.role), col(C.ts))

  /** Order-independent content hash: row count and the sum of per-row
    * xxhash64 over all columns (by name, so column order does not matter). */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Untimed warm-up: repeat `f` for at least `seconds` and `minReps` times.
    * Rep times keep falling for the first ten seconds or so of a fresh JVM
    * (JIT compilation of the engine and of Spark's generated code), and a
    * timed loop that starts earlier measures how warm the JVM happened to be. */
  def warmUp(seconds: Double, minReps: Int)(f: => Unit): Unit = timedLoop(seconds, minReps)(_ => f)

  /** Run `rep` at least `minReps` times, then while one more rep (assumed
    * as long as the last) still ends within `seconds`. */
  def timedLoop(seconds: Double, minReps: Int)(rep: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var last = 0.0
    while (i < minReps || elapsed + last <= seconds) {
      val a = elapsed
      rep(i)
      last = elapsed - a
      i += 1
    }
  }

  /** Phase marks for the run's log (stderr), to see where a run spends time. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] $uptimeS%.2f s $what")

  def uptimeS: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def peakRssMb: Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally f.close()
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv.get("smoke").contains("1"), kv("work"), kv.getOrElse("tables", ""), kv("out"))
    val spark = Bench.session(Cores.toString)
    val probe = new Probe(spark, a.traced)
    val host = new Host
    val r = new Report
    val w: Workload = a.workload match {
      case "pit_megaconv" => new PitMegaconv(spark, a, probe, host, r)
      case "query_library" => new QueryLibrary(spark, a, probe, host, r)
      case other => sys.error(s"unknown workload $other")
    }
    w.run()
    r.metric("jvm.peak_rss_mb", peakRssMb, "MB")
    probe.drain()
    val heapFlags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.matches("-Xm[xsn].*")).mkString(" ")
    val env = s""""nproc":${Runtime.getRuntime.availableProcessors},"cores":$Cores,""" +
      s""""heap":${Json.str(heapFlags)},"jdk":${Json.str(System.getProperty("java.version"))},""" +
      s""""spark":${Json.str(spark.version)}"""
    val metrics = r.metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${if (v.isNaN || v.isInfinite) "null" else v.toString},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val checks = r.checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString("[", ",", "]")
    val json = s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},"traced":${a.traced},""" +
      s""""attempted":${r.attempted},"failed":${r.failed},"checks":$checks,""" +
      s""""errors":${r.errors.map(Json.str).mkString("[", ",", "]")},"metrics":$metrics,""" +
      s""""host":{${host.json}},"env":{$env}}"""
    Files.writeString(Paths.get(a.out), json)
    if (a.traced) Files.writeString(Paths.get(a.out + ".spans.json"), probe.spansJson(s"${a.workload}-${a.seed}"))
    spark.stop()
  }
}

/** Shared shape of the workloads. */
abstract class Workload(val spark: SparkSession, val a: Args, val probe: Probe, val host: Host, val r: Report) {
  import Main._
  import Stats._

  def run(): Unit

  /** A traced run alternates untraced and traced reps, with the listeners
    * registered only for the traced ones; the ratio of their medians, less
    * one, is the tracing overhead. */
  def tracedRep(i: Int): Boolean = probe.traced && i % 2 == 1

  def overhead(untraced: Seq[Double], traced: Seq[Double]): Double = median(traced) / median(untraced) - 1

  /** setup_s: JVM start to the first timed operation, with the repeated
    * input preparation counted once, at its median. */
  def setupDone(preps: Seq[Double]): Unit =
    r.metric("setup_s", uptimeS - preps.sum + median(preps), "s")

  /** Spark-level readings over units of work, each unit the spans of one
    * traced rep or pass. Counts and bytes are per unit. */
  def sparkLayer(units: Seq[Seq[Span]]): Unit = {
    probe.drain()
    val all = units.flatten
    val ts = probe.tasksOf(all)
    val wallMs = all.map(_.seconds).sum * 1000
    val run = ts.map(_.runMs).sum.toDouble
    r.metric("spark.shuffle_bytes", ts.map(_.shuffleWrite).sum.toDouble / units.size, "B")
    r.metric("spark.spill_bytes", ts.map(_.spill).sum.toDouble / units.size, "B")
    r.metric("spark.core_busy_frac", run / (wallMs * Cores), "ratio")
    r.metric("spark.gc_frac", if (run == 0) 0.0 else ts.map(_.gcMs).sum / run, "ratio")
    r.metric("spark.plan_ms", median(units.map(u => probe.execsOf(u).map(_.planMs).sum.toDouble)), "ms")
    r.metric("spark.exchanges", median(units.map(u => probe.execsOf(u).map(_.exchanges).sum.toDouble)), "count")
    r.metric("spark.jobs", probe.jobsOf(all).toDouble / units.size, "count")
  }

  /** Cross-check of spark.plan_ms: wall time of building fresh DataFrames
    * and of forcing their physical plans, summed over one unit of work. */
  def planCheck(build: () => Seq[DataFrame]): Unit = {
    val (b, p) = (0 until 3).map { _ =>
      var dfs: Seq[DataFrame] = Nil
      val tb = time { dfs = build() }
      (tb, time(dfs.foreach(_.queryExecution.executedPlan)))
    }.unzip
    r.metric("spark.build_ms", median(b) * 1000, "ms")
    r.metric("spark.plan_wall_ms", median(p) * 1000, "ms")
  }

  /** Per-stage cost of the flagship over a cached turn table: each stage
    * prefix is materialised on its own and the previous prefix subtracted. */
  def stageLayers(turns: DataFrame): Unit = {
    def prefix(name: String)(mk: => DataFrame): Double =
      median((0 until 3).map(_ => probe.span(name)(time(exec(mk)))))
    val w = prefix("ops.windowize")(Windowize.withTumblingWindow(turns, C, WidthSec))
    val pv = prefix("ops.pivot")(PivotCounts(Windowize.withTumblingWindow(turns, C, WidthSec),
      Seq(C.conv, "window_start"), C.role, Turn.roles, suffix = "_wc"))
    val st = prefix("ops.states")(PitPipeline.windowStates(turns, C, Turn.roles, WidthSec))
    val fs = prefix("features.layers")(PitPipeline.featureStates(turns, C, Turn.roles, Binding, WidthSec))
    r.metric("ops.windowize_s", w, "s")
    r.metric("ops.pivot_s", pv - w, "s")
    r.metric("ops.states_s", st - pv, "s")
    r.metric("features.layers_s", fs - st, "s")
    val states = PitPipeline.featureStates(turns, C, Turn.roles, Binding, WidthSec)
      .withColumnRenamed("window_end", C.ts).cache()
    val anchors = turns.select(col(C.conv), col(C.seq), col(C.ts)).cache()
    states.count(); anchors.count()
    val payload = states.columns.filterNot(Set(C.conv, "window_start", C.ts).contains).toSeq
    val merge = prefix("plans.asof_merge")(AsOfPlan.asOfJoin(anchors, states, C.conv, C.ts,
      "window_start", payload, prefix = ""))
    r.metric("plans.asof_merge_s", merge, "s")
    probe.drain()
    // the merge runs in the last stage of its execution: slowest ÷ median task
    val lastStages = probe.named("plans.asof_merge").map { s =>
      val ts = probe.tasksOf(Seq(s))
      ts.filter(_.stageId == ts.map(_.stageId).max).map(_.durationMs.toDouble)
    }
    r.metric("plans.asof_task_skew", median(lastStages.map(d => d.max / math.max(1.0, median(d)))), "ratio")
    r.metric("plans.asof_merge_tasks", median(lastStages.map(_.size.toDouble)), "count")
    states.unpersist(); anchors.unpersist()
  }
}

/** Flagship over a cached, skewed transcript table. */
final class PitMegaconv(spark: SparkSession, a: Args, probe: Probe, host: Host, r: Report)
    extends Workload(spark, a, probe, host, r) {
  import Main._
  import Stats._

  val (convs, megaConvs, megaTurns) = if (a.smoke) (2000, 1, 8000) else (4000, 1, 185000)
  val (buckets, pool) = if (a.smoke) (4, 2) else (8, Cores)
  val crashAfter: Int = buckets / 2

  def run(): Unit = {
    var turns: DataFrame = null
    var n = 0L
    val preps = (0 until PrepReps).map { _ =>
      if (turns != null) turns.unpersist(blocking = true)
      time {
        turns = pitColumns(TranscriptGen.turns(spark, a.seed, convs, megaConvs, megaTurns,
          partitions = 2 * Cores).toDF()).cache()
        n = turns.count()
      }
    }
    mark(s"prepared ${preps.mkString(",")}")
    // the first warm-up rep hashes the output for the check at the end
    val got = fingerprint(anchor(turns))
    warmUp(10.0, 2)(exec(anchor(turns)))
    setupDone(preps)
    mark("setup done")

    val untraced, traced = ArrayBuffer.empty[Double]
    val repSpans = ArrayBuffer.empty[Span]
    timedLoop(a.seconds, if (probe.traced) 4 else 3) { i =>
      val tr = tracedRep(i)
      probe.listen(tr)
      r.attempt("anchorFeatures") {
        val t = host.timed(if (tr) probe.span("rep")(exec(anchor(turns))) else exec(anchor(turns)))
        (if (tr) traced else untraced) += t
      }
      if (tr) repSpans ++= probe.named("rep").lastOption
    }
    probe.listen(true)
    val repS = median(untraced.toSeq)
    r.metric("turns_per_s", n / repS, "turns/s")
    r.metric("total_s", repS, "s")
    r.metric("geomean_s", repS, "s")
    r.metric("reps", untraced.size.toDouble, "count")
    mark(s"timed done ${untraced.mkString(",")} traced ${traced.mkString(",")}")
    if (probe.traced) {
      r.metric("trace.overhead_frac", overhead(untraced.toSeq, traced.toSeq), "ratio")
      sparkLayer(repSpans.toSeq.map(Seq(_)))
      planCheck(() => Seq(anchor(turns)))
      stageLayers(turns)
      backfillLayers(turns, n)
      mark("layers done")
    }

    // output check: the planned merge against the declarative as-of window
    // over the same feature states
    val states = PitPipeline.featureStates(turns, C, Turn.roles, Binding, WidthSec)
    val payload = states.columns.filterNot(Set(C.conv, "window_start", "window_end").contains).toSeq
    val reference = AsOfJoin.windowed(turns.select(col(C.conv), col(C.seq), col(C.ts)),
      states.withColumnRenamed("window_end", C.ts), C.conv, C.ts, "window_start", payload, prefix = "")
    val want = fingerprint(reference)
    mark("check done")
    r.check("pit_vs_windowed", got == want && got._1 == n, s"got=$got want=$want turns=$n")
    turns.unpersist()
  }

  /** Tables and backfill layers (traced runs): the cached table is committed
    * as an IcebergLite snapshot and backfilled bucket by bucket, once
    * uninterrupted and once through an injected crash and a resume. Both
    * outputs are checked against the in-memory flagship. */
  def backfillLayers(turns: DataFrame, n: Long): Unit = {
    val work = Paths.get(a.work)
    val tableRoot = work.resolve("table").toString
    var snap: IcebergLite.Snapshot = null
    r.metric("tables.append_s", probe.span("tables.append")(time {
      snap = IcebergLite.append(spark, tableRoot, turns, C.conv, buckets)
    }), "s")
    r.metric("tables.read_bucket_s", probe.span("tables.read_bucket")(time(
      (0 until buckets).foreach(b => exec(IcebergLite.readBucket(spark, tableRoot, snap, b))))), "s")

    def compute(df: DataFrame): DataFrame = anchor(pitColumns(df))
    val (full, resumed) = (work.resolve("backfill-full").toString, work.resolve("backfill-resumed").toString)
    var cs: Seq[Backfill.Checkpoint] = Nil
    val runS = probe.span("backfill.run")(time {
      cs = Backfill.run(spark, tableRoot, snap, full, compute, maxConcurrent = pool)
    })
    // sequential, so the crash always leaves exactly `crashAfter` commits
    val crashed = probe.span("backfill.crash")(time {
      try Backfill.run(spark, tableRoot, snap, resumed, compute, crashAfter = crashAfter)
      catch { case _: Backfill.InjectedCrash => () }
    })
    val before = commits(resumed)
    val resumeS = probe.span("backfill.resume")(time {
      Backfill.run(spark, tableRoot, snap, resumed, compute, maxConcurrent = pool)
    })
    val after = commits(resumed)
    val committed = before.size
    val redone = after.count { case (b, id) => !before.get(b).contains(id) }
    probe.drain()
    val el = cs.map(_.elapsedMs / 1e3)
    r.metric("backfill.turns_per_s", n / runS, "turns/s")
    r.metric("backfill.bucket_s_p50", median(el), "s")
    r.metric("backfill.bucket_s_max", el.max, "s")
    r.metric("backfill.pool_busy_frac", el.sum / (runS * pool), "ratio")
    r.metric("backfill.jobs_per_bucket", probe.jobsOf(probe.named("backfill.run")).toDouble / buckets, "count")
    r.metric("backfill.crash_run_s", crashed, "s")
    r.metric("backfill.resume_s", resumeS, "s")
    r.metric("backfill.redone_buckets", redone.toDouble, "count")
    val bytes = scala.util.Using.resource(Files.walk(Paths.get(full))) { st =>
      st.filter(_.getFileName.toString.endsWith(".parquet")).mapToLong(p => Files.size(p)).sum()
    }.toDouble
    r.metric("backfill.output_bytes", bytes, "B")
    r.metric("backfill.output_bytes_per_turn", bytes / n, "B/turn")

    val want = fingerprint(anchor(pitColumns(IcebergLite.read(spark, tableRoot, snap))))
    val gotFull = fingerprint(Backfill.readCommitted(spark, full, snap))
    val gotResumed = fingerprint(Backfill.readCommitted(spark, resumed, snap))
    r.check("backfill_vs_in_memory", gotFull == want && gotFull._1 == n, s"got=$gotFull want=$want turns=$n")
    r.check("resumed_vs_uninterrupted", gotResumed == gotFull, s"resumed=$gotResumed uninterrupted=$gotFull")
    r.check("redone_buckets", committed == crashAfter && after.size == buckets && redone == buckets - crashAfter,
      s"committed at crash=$committed after resume=${after.size} redone=$redone expected ${buckets - crashAfter}")
  }

  /** Identity of each committed bucket of a backfill root: the file key and
    * modification time of its output directory and of its checkpoint. A
    * bucket the engine computes again gets a new directory and checkpoint
    * (each written beside the old one, then renamed over it), so a new
    * identity; a bucket it keeps has the same one. */
  def commits(root: String): Map[Int, Seq[AnyRef]] = Backfill.completed(root).keys.map { b =>
    def id(p: java.nio.file.Path): Seq[AnyRef] = {
      val at = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      Seq(at.fileKey(), at.lastModifiedTime())
    }
    b -> (id(Paths.get(root, s"bucket=$b")) ++ id(Paths.get(root, "checkpoints", s"bucket-$b.json")))
  }.toMap
}

/** Queries of SparkEntry over generated star-schema and event tables. */
final class QueryLibrary(spark: SparkSession, a: Args, probe: Probe, host: Host, r: Report)
    extends Workload(spark, a, probe, host, r) {
  import Main._
  import Stats._

  def run(): Unit = {
    val dir = a.tables
    val names = QueryLibrary.Queries
    val events = spark.read.parquet(s"$dir/events.parquet").count()
    // untimed output pass: every result goes to parquet for the DuckDB oracle
    // check in run.py; it also warms the JIT and code generation
    val outDir = Paths.get(a.work, "out")
    names.foreach { q =>
      try SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(outDir.resolve(q).toString)
      catch { case e: Exception => r.errors += s"$q (output pass): $e" }
      Bench.resetStorage(spark)
    }
    val oracle = names.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    Files.writeString(outDir.resolve("oracle_sql.json"), oracle.mkString("{", ",", "}"))
    warmUp(0.0, 1)(names.foreach { q => exec(SparkEntry.queries(q)(spark, dir)); Bench.resetStorage(spark) })
    setupDone(Seq(0.0))
    mark("setup done")

    // a traced run times each query twice per pass, untraced and traced, in
    // alternating order; the metrics come from the untraced executions
    val times, tracedTimes = LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val passSpans = ArrayBuffer.empty[Seq[Span]]
    // at least four passes (two traced), so that every query time is a median
    // of four or more: one execution of a query varies by a fifth or more
    timedLoop(a.seconds, if (probe.traced) 2 else 4) { pass =>
      val order = new scala.util.Random(a.seed * 1000 + pass).shuffle(names)
      val modes = if (!probe.traced) Seq(false) else if (pass % 2 == 0) Seq(false, true) else Seq(true, false)
      val spans = ArrayBuffer.empty[Span]
      order.foreach { q =>
        modes.foreach { tr =>
          probe.listen(tr)
          r.attempt(q) {
            val t = host.timed(
              if (tr) probe.span(s"q.$q")(exec(SparkEntry.queries(q)(spark, dir)))
              else exec(SparkEntry.queries(q)(spark, dir)))
            (if (tr) tracedTimes else times).getOrElseUpdate(q, ArrayBuffer.empty) += t
          }
          if (tr) spans ++= probe.named(s"q.$q").lastOption
          Bench.resetStorage(spark)
        }
      }
      if (spans.nonEmpty) passSpans += spans.toSeq
    }
    probe.listen(true)
    val med = names.flatMap(q => times.get(q).map(ts => q -> median(ts.toSeq))).toMap
    mark(s"timed done ${times.map { case (q, ts) => s"$q=${ts.mkString(",")}" }.mkString(" ")}")
    r.metric("total_s", med.values.sum, "s")
    r.metric("geomean_s", geomean(med.values.toSeq), "s")
    r.metric("turns_per_s", events / med.getOrElse("q_pit_backfill", Double.NaN), "turns/s")
    r.metric("reps", times.values.map(_.size).maxOption.getOrElse(0).toDouble, "count")
    r.metric("events_rows", events.toDouble, "count")
    names.foreach(q => r.metric(s"q.${q}_s", med.getOrElse(q, Double.NaN), "s"))

    if (probe.traced) {
      // per query, so that one slow query cannot stand for the library
      r.metric("trace.overhead_frac", median(names.flatMap(q =>
        times.get(q).zip(tracedTimes.get(q)).map { case (u, t) => overhead(u.toSeq, t.toSeq) })), "ratio")
      sparkLayer(passSpans.toSeq)
      val qSpans = passSpans.flatten.toSeq
      r.metric("lib.plan_frac",
        probe.execsOf(qSpans).map(_.planMs).sum / (qSpans.map(_.seconds).sum * 1000), "ratio")
      planCheck(() => names.map(q => SparkEntry.queries(q)(spark, dir)))
    }
  }
}

object QueryLibrary {
  /** The timed queries: the flagship over the events table, and one query
    * for each operator family that only the query library reaches (Metrics,
    * Dedup, Similarity, ml.QuantLR, Relational); the Metrics one is average
    * precision, whose heap use is an open item. A warm pass over all 67 queries takes
    * 43-65 s on 4 cores even at sf 0.001, more than a whole run of this
    * benchmark may take, so the full sweep stays with graft.Bench. */
  val Queries: Seq[String] = Seq("q_pit_backfill", "q_auc_pr",
    "q_jaccard_verify", "q_similarity_topk", "q_feature_importance", "q_join_fact")
}
