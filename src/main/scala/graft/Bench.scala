package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Driver-contract benchmark: one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Timing forces FULL materialization through the noop sink —
  * `df.count()` would let Catalyst prune every projected column and measure
  * an empty aggregate instead of the query.
  *
  * Extra keys (ignored by consumers that only read the contract fields):
  *   - `turns_per_sec`: throughput of the flagship PIT anchor backfill over a
  *     deterministic generated transcript table (the north-rule metric);
  *   - `bench_turns`: the table size used for that measurement.
  */
object Bench {

  def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Return the session to zero retained storage: drop operator-scoped
    * persists (the IVF lists), the SQL cache, and any stray RDD persists.
    * Round 4's `graft.Bench` run showed why this matters:
    * caches pinned by earlier queries in the 60×2-rep shared JVM slowed two
    * UNRELATED mid-pack queries ~3× and depressed the TPS loop — every rep
    * now starts from the same clean-session state a fresh JVM would give. */
  def resetStorage(spark: SparkSession): Unit = {
    graft.ops.StorageScope.global.release()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Generate + cache the TPS input once per JVM — generation is excluded
    * from timing anyway, and at 70M turns it dominates per-rep wall-clock;
    * reps measure the pipeline over the SAME cached table (what steady-state
    * throughput means). Cache only the columns the pipeline reads — a real
    * parquet scan would be column-pruned the same way (text/tool never reach
    * this pipeline). */
  def tpsInput(spark: SparkSession, nConvs: Int, parts: Int): (DataFrame, Long) = {
    val turns = gen.TranscriptGen.turns(spark, seed = 42L, nConvs = nConvs,
      megaConvs = 2, megaTurns = 20000, partitions = parts)
      .toDF().select("conv_id", "turn_idx", "role", "ts").cache()
    (turns, turns.count())
  }

  /** One timed rep of the flagship PIT anchor backfill over a cached table. */
  def pitRep(turns: DataFrame, n: Long): Double = {
    import graft.features.BehaviorBinding
    val binding = BehaviorBinding("user", "assistant", "system", "tool")
    val sec = time(exec(
      PitPipeline.anchorFeatures(turns, TranscriptCols.turns, Turn.roles, binding, 3600L)))
    n / sec
  }

  /** PIT anchor-backfill throughput (turns/sec) over a generated table. */
  def pitThroughput(spark: SparkSession, nConvs: Int, parts: Int): (Long, Double) = {
    val (turns, n) = tpsInput(spark, nConvs, parts)
    val tps = pitRep(turns, n)
    turns.unpersist()
    (n, tps)
  }

  private val jvmT0 = System.nanoTime()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus)

    if (sys.env.contains("SPARK_GRAFT_TPS_ONLY")) {
      val convs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "4000").toInt
      val minReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
      val maxReps = math.max(minReps, 10)
      // warm-up sized to actually reach C2 JIT of the hot loops (the old
      // 200-conv warm-up left steady state 4-6 measured reps away at high
      // core counts); still excluded from the measurement
      Bench.pitThroughput(spark, nConvs = 20000, parts = cpus.toInt)
      Bench.pitThroughput(spark, nConvs = 20000, parts = cpus.toInt)
      // adaptive steady state: keep measuring while throughput still improves
      // >10% over the best so far (JIT/codegen/GC warm-up length varies).
      // The input generates ONCE — reps re-run only the measured pipeline.
      val (turns, n) = tpsInput(spark, convs, cpus.toInt * 2)
      val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var continue = true
      while (continue && runs.size < maxReps) {
        val r = pitRep(turns, n)
        val prevBest = if (runs.isEmpty) 0.0 else runs.max
        runs += r
        continue = runs.size < minReps || r > prevBest * 1.10
      }
      turns.unpersist()
      val best = runs.max
      val all = runs.mkString("[", ",", "]")
      println(s"""{"metric":"turns_per_sec","value":$best,"all":$all,"turns":$n,"cpus":$cpus}""")
      spark.stop()
      return
    }

    // warm the JIT/codegen once with the cheapest query
    try exec(SparkEntry.queries("q_tumbling_hour")(spark, sfDir)) catch { case NonFatal(_) => }

    // min-of-2 reps per query: single-shot times in a shared JVM carry
    // GC-debt outliers (round 3's driver run read q_pr_curve at 7.1 s where
    // 3 fresh-JVM runs read 1.1-1.4 s). Two full reps (construction included
    // — some queries run jobs while they are built) bound that noise while keeping
    // the pass ~2x, and pass-1 totals are reported alongside so the variance
    // is visible, not hidden.
    //
    // SPARK_GRAFT_BENCH_ISOLATE=1: each query additionally gets a FRESH
    // SparkContext (stop + rebuild) — the cross-check distribution for
    // BASELINE.md against the shared-JVM numbers; not the driver default
    // because 60 context restarts add minutes of non-query wall-clock.
    val isolate = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").contains("1")
    // diagnostic: run only a comma-separated subset of queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    var cur = spark
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def rep(name: String, pass: Int): Double = {
      if (isolate) { cur.stop(); cur = session(cpus) }
      val fn = SparkEntry.queries(name)
      val w0 = System.nanoTime()
      val t = try time(exec(fn(cur, sfDir))) catch { case NonFatal(_) => -1.0 }
      System.err.println(f"[bench] $name pass=$pass t=$t%.2f at=${(w0 - jvmT0) / 1e9}%.1f")
      // reset retained storage after every rep so no rep ever times against
      // another query's (or its own earlier rep's) caches — every measurement
      // starts from the clean-session state a fresh JVM would give. If the
      // failed query took the shared SparkContext down with it, recreate the
      // session instead of letting the reset's IllegalStateException abort
      // the whole bench (the remaining queries' numbers still get written)
      try resetStorage(cur)
      catch { case NonFatal(_) if cur.sparkContext.isStopped => cur = session(cpus) }
      t
    }
    // The two reps of a query run in two SEPARATED full passes, not
    // back-to-back. This box sits on a hypervisor with bursty CPU steal
    // (measured storms: 1-3 min where guest-usable CPU drops near zero and
    // /proc/stat steal spikes to 13% — one storm inflated q_corpus_curation
    // 4 s -> 42/71 s on BOTH back-to-back reps). Min-of-2 only defends
    // against that if the two samples are farther apart than a storm is
    // long; a full pass (~2 min) is. Queries whose two samples still
    // disagree >2x get one adaptive third rep at the end of the run —
    // by then the storm that hit them has passed.
    // The TPS reps are spread across THREE groups interleaved with the query
    // passes (before pass 1, between passes, after the rescue pass) for the
    // same storm-immunity reason: a single back-to-back TPS loop fits inside
    // one steal storm (one measured run: reps [450k, 1.17M, 1.47M, 381k,
    // 223k] — the last two inside a storm, dragging the median to 450k).
    // best/median are computed over all groups; the per-group input table is
    // regenerated (generation is excluded from timing) so the cached TPS
    // table never coexists with a timed query rep.
    val convs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "400000").toInt
    val groupReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var nTurns = 0L
    def tpsGroup(g: Int, adaptive: Boolean): Unit = {
      if (isolate) { cur.stop(); cur = session(cpus) }
      resetStorage(cur)
      val (turns, n) = tpsInput(cur, convs, cpus.toInt * 2)
      nTurns = n
      var i = 0
      var continue = true
      while (continue) {
        val r = pitRep(turns, n)
        System.err.println(f"[bench] tps group=$g rep=$i tps=$r%.0f at=${(System.nanoTime() - jvmT0) / 1e9}%.1f")
        val prevBest = if (runs.isEmpty) 0.0 else runs.max
        runs += r
        i += 1
        // the last group keeps going while throughput still improves >10%
        // (JIT/codegen warm-up length varies), bounded at +5 extra reps
        continue = i < groupReps || (adaptive && r > prevBest * 1.10 && i < groupReps + 5)
      }
      turns.unpersist()
      resetStorage(cur)
    }
    // JIT/codegen warm-up for the PIT pipeline (excluded from measurement) —
    // group 1 runs on the coldest JVM of the three
    pitThroughput(cur, nConvs = 20000, parts = cpus.toInt)
    tpsGroup(1, adaptive = false)
    val p1 = names.map { case (n, _) => n -> rep(n, 1) }.toMap
    tpsGroup(2, adaptive = false)
    val p2 = names.map { case (n, _) => n -> rep(n, 2) }.toMap
    def minValid(ts: Seq[Double]): Double = {
      val v = ts.filter(_ >= 0); if (v.isEmpty) -1.0 else v.min
    }
    val suspect = names.map(_._1).filter { n =>
      val (a, b) = (p1(n), p2(n))
      a < 0 || b < 0 || math.max(a, b) > 2.0 * math.min(a, b)
    }
    val p3 = suspect.map(n => n -> rep(n, 3)).toMap
    val results = names.map { case (n, _) =>
      n -> (minValid(Seq(p1(n), p2(n)) ++ p3.get(n)), p1(n))
    }
    tpsGroup(3, adaptive = true)
    val tps = runs.max
    val tpsMedian = runs.sorted.apply(runs.size / 2)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v._1 }.mkString("{", ",", "}")
    val qs1 = results.map { case (k, v) => "\"" + k + "\":" + v._2 }.mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val totalRep1 = results.map(_._2._2).filter(_ >= 0).sum
    val policy = if (isolate) "min_of_2_passes_isolated" else "min_of_2_passes"
    val rescued = suspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    val tpsReps = runs.mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","rep_policy":"$policy","rescued":$rescued,"total_rep1":$totalRep1,"queries_rep1":$qs1,"turns_per_sec":$tps,"turns_per_sec_median":$tpsMedian,"tps_reps":$tpsReps,"bench_turns":$nTurns,"cpus":$cpus}"""
    // belt-and-braces for the driver's parser: a well-known file AND the
    // final bare stdout line (build.sbt StdoutOutput keeps it unprefixed).
    // cwd-relative (forked run cwd = repo root) so it works from any checkout
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), json)
    catch { case NonFatal(e) => System.err.println(s"[bench] bench.json write failed: $e") }
    cur.stop()
    println(json)
  }
}
