package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audits: the scale properties that make queries survive a
  * 100× data blow-up, asserted on the actual plans (SURVEY §4). These catch
  * regressions that row-level correctness tests cannot — a query can stay
  * value-correct while silently losing its pushed filter or broadcasting the
  * wrong side. Runs against sf0.001 (plan shape is scale-independent). */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every node of `df`'s pre-AQE physical plan. The walk must see THROUGH
    * InMemoryRelation: an operator that persists an intermediate during
    * construction (only `ivfLists` does) gets its upstream plan swapped for
    * a cached scan by the CacheManager, and whether that swap happens
    * depends on what ran before, so an allowlist entry would flip
    * needed/stale with test order. Walking the cachedPlan makes the sweeps
    * deterministic and audits the plan that actually produced the cached
    * data. */
  private def nodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // explicit recursion: AdaptiveSparkPlanExec / QueryStageExec /
    // InMemoryTableScanExec all hide their real subtree from `children`
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
      case _ => p.children.flatMap(walk)
    })
    walk(df.queryExecution.sparkPlan)
  }

  private def planOf(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q_scan_agg: shipdate filter reaches the parquet scan; columns pruned") {
    val p = planOf("q_scan_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    // 6 of 11 lineitem columns needed — the scan must not read the rest
    assert(!p.contains("l_orderkey") && !p.contains("l_shipinstruct") && !p.contains("l_partkey"),
      s"column pruning lost:\n$p")
  }

  test("document-scan queries prune to (doc_id, text) — lang/source/n_chars never read") {
    // documents.parquet carries 5 columns; the text operators need 2. A scan
    // that reads all 5 wastes 40%+ of the 100 TB corpus read.
    Seq("q_token_stats", "q_lang_id", "q_simhash", "q_fingerprint", "q_minhash_sig",
      "q_dedup_exact", "q_doc_quality", "q_binary_meta").foreach { q =>
      val p = planOf(q)
      val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
      assert(read.nonEmpty, s"$q: no parquet ReadSchema found:\n$p")
      Seq("lang", "source", "n_chars").foreach(c =>
        assert(!read.contains(c), s"$q reads unused column $c: $read"))
    }
  }

  test("q_join_broadcast: nation joins as BroadcastHashJoin") {
    val p = planOf("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"no broadcast in dim join:\n$p")
  }

  test("q_join_semi / q_join_anti plan semi/anti joins with pushed-down filters") {
    val semi = planOf("q_join_semi")
    assert(semi.contains("LeftSemi"), s"semi join missing:\n$semi")
    assert(semi.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"build-side filter not pushed:\n$semi")
    val anti = planOf("q_join_anti")
    assert(anti.contains("LeftAnti"), s"anti join missing:\n$anti")
  }

  test("hot text queries stay inside whole-stage codegen (no CodegenFallback)") {
    // the HOF forms these replaced were CodegenFallback — assert every
    // Project in these queries carries the `*(n)` codegen marker
    Seq("q_lang_id", "q_token_stats", "q_simhash", "q_minhash_sig").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val executed = df.queryExecution.executedPlan.toString
      val projLines = executed.linesIterator.filter(_.contains("Project [")).toSeq
      assert(projLines.nonEmpty, s"$q: no projection found:\n$executed")
      projLines.foreach(l =>
        assert(l.contains("*("), s"$q projection fell out of codegen: $l"))
    }
  }

  test("q_pit_backfill EXPLAIN shows the whole pipeline through the native as-of") {
    Seq("q_pit_backfill", "q_asof_join").foreach { q =>
      val p = planOf(q)
      assert(p.contains("AsOfMerge"), s"$q: native as-of missing:\n$p")
      assert(!p.contains("Scan ExistingRDD"), s"$q: opaque RDD boundary present:\n$p")
    }
    // the stages BEHIND the flagship's as-of are visible (no opaque RDD scan
    // boundary)
    val p = planOf("q_pit_backfill")
    assert(p.contains("HashAggregate") && p.contains("Window"),
      s"upstream stages hidden behind a scan boundary:\n$p")
  }

  test("ANN top-k: single-query forms rank globally, batch forms rank per query") {
    // one query row ranks with a TakeOrderedAndProject (k rows per
    // partition, no shuffle); a batch of one through the per-query CosTopK
    // aggregate measured ~1.5× slower, so the split is pinned here
    Seq("q_similarity_topk", "q_ann_lsh", "q_ann_ivf").foreach { q =>
      val p = planOf(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: no global top-k:\n$p")
      assert(!p.contains("ObjectHashAggregate"), s"$q: per-query aggregate:\n$p")
      assert(!p.contains("hashpartitioning"), s"$q: shuffle exchange:\n$p")
    }
    Seq("q_ann_batch", "q_ann_lsh_batch", "q_ann_ivf_batch").foreach { q =>
      val p = planOf(q)
      assert(p.contains("ObjectHashAggregate") && p.contains("costopk"),
        s"$q: no CosTopK aggregate:\n$p")
    }
  }

  // q_feature_importance constructs by TRAINING a model (driver-side
  // artifact; its final plan is a LocalTableScan) — pointless to plan-audit
  // and expensive to build twice, so both full-surface sweeps skip it.
  private val constructsByTraining = Set("q_feature_importance")

  test("NO registered query plans a single-partition global window") {
    // WindowExec with an empty partition spec moves ALL rows to one task —
    // inspect the pre-AQE physical plan programmatically, over the ENTIRE
    // registered surface (round 2 audited a named subset and missed
    // q_label_encode's global dimension rank)
    import org.apache.spark.sql.execution.window.WindowExec
    def globalWindows(df: DataFrame): Seq[WindowExec] =
      df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    // self-check the detector against a deliberately-global window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bad = Seq((1, 2)).toDF("a", "b").withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("a"))))
    assert(globalWindows(bad).nonEmpty, "detector failed its self-check")
    SparkEntry.queries.keys.toSeq.sorted.filterNot(constructsByTraining).foreach { q =>
      val offenders = globalWindows(SparkEntry.queries(q)(spark, dir))
      assert(offenders.isEmpty, s"$q has a global window: ${offenders.mkString("; ")}")
    }
  }

  test("no registered query carries CodegenFallback expressions (justified allowlist)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    // every allowlisted query names WHY its fallback is bounded: the
    // interpreted expression runs over a tiny post-aggregation/broadcast
    // input, never the raw scan
    // the exact-Percentile aggregate (P99 bot filter / IQR clip in the shared
    // pipeline) is ImperativeAggregate+CodegenFallback by construction; its
    // documented scale path is approxAccuracy → approx_percentile (SURVEY
    // §2.3), so the exact default stays allowlisted where the pipeline runs
    val pct = "exact Percentile agg (slot-grain; approx_percentile scale path)"
    // the rank metrics' one aggregate: a TypedImperativeAggregate, so
    // CodegenFallback by construction like CosTopK, whose array holds at
    // most maxDistinctScores (or quantizeBins + 1) points
    val curve = "the ScoreCurve aggregate (bounded by its quantize guard)"
    val allow: Map[String, String] = Map(
      "q_lsh_pairs" -> "banding transform over the 12-element signature of DISTINCT texts",
      "q_jaccard_verify" -> "same banding + set ops over LSH candidate pairs only",
      "q_dedup_clusters" -> "same banding, read by the lazy union-find's edge fold",
      "q_corpus_curation" -> "same banding, read by the lazy union-find's edge fold",
      "q_slot_clean" -> pct, "q_entity_stats" -> pct, "q_entity" -> pct,
      "q_entity_features" -> pct, "q_interactions" -> pct, "q_stratified_folds" -> pct,
      "q_top_entities" -> pct, "q_variance_screen" -> pct, "q_iqr_clip" -> pct,
      "q_confusion" -> pct, "q_binary_metrics" -> pct, "q_calibration" -> pct,
      "q_threshold_scan" -> pct, "q_impute" -> pct, "q_unpivot" -> pct,
      "q_auc_roc" -> s"$pct, plus $curve and the higher-order rank sum over its points",
      "q_pr_curve" -> s"$pct, plus $curve",
      "q_auc_pr" -> s"$pct, plus $curve and the ascending higher-order fold over its points",
      "q_ann_batch" -> ("native CosTopK bounded-heap aggregate — O(k) state per " +
        "buffer, partial-aggregated (TypedImperativeAggregate is CodegenFallback " +
        "by construction, like Percentile)"),
      "q_ann_ivf_batch" -> "same CosTopK bounded-heap aggregate (probed candidates only)",
      "q_ann_lsh_batch" -> ("same CosTopK bounded-heap aggregate (the bucket " +
        "projection is now the native codegen'd LshBucket)")
    )
    def fallbacks(df: DataFrame): Seq[String] = nodes(df).flatMap(_.expressions.flatMap(
      _.collect { case f: CodegenFallback => f.getClass.getSimpleName }))
    // self-check: a HOF aggregate is CodegenFallback (over a non-foldable
    // input — a literal would be constant-folded into a LocalRelation)
    import org.apache.spark.sql.functions._
    val bad = spark.range(2)
      .select(aggregate(array(col("id")), lit(0L), (acc, x) => acc + x))
    assert(fallbacks(bad).nonEmpty, "detector failed its self-check")
    val offending = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(constructsByTraining)
      .flatMap { q =>
        val fb = fallbacks(SparkEntry.queries(q)(spark, dir))
        if (fb.isEmpty) None else Some(q -> fb.distinct)
      }.toMap
    val unjustified = offending.keySet -- allow.keySet
    assert(unjustified.isEmpty,
      s"queries with unjustified CodegenFallback: ${unjustified.map(q => q -> offending(q))}")
    // allowlist hygiene: drop entries that no longer fall back
    val stale = allow.keySet -- offending.keySet
    assert(stale.isEmpty, s"allowlist entries no longer needed: $stale")
  }

  test("only the allowlisted queries end at an RDD leaf (justified allowlist)") {
    // An RDD wrapped as a DataFrame is a leaf that hides the plan which built
    // it from EXPLAIN, AQE and every audit in this suite, and it usually
    // means jobs ran while the query was built. Each allowlisted query names
    // why its operator still needs one.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.{ExternalRDDScanExec, RDDScanExec}
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    import spark.implicits._
    val allow: Map[String, String] = Map(
      "q_asof_bcast" -> ("AsOfJoin.broadcastIndex: a map-only probe of a collected, " +
        "size-guarded right-side index"),
      "q_asof_scalable" -> ("AsOfJoin.mergedScalable: a seeded merge over range partitions, " +
        "stitched by a driver-side carry pass"))
    def rddLeaves(df: DataFrame): Seq[String] = nodes(df).collect {
      case r: RDDScanExec => r.nodeName
      case r: ExternalRDDScanExec[_] => r.nodeName
    }
    // self-check: both ways of wrapping an RDD
    val rows = spark.sparkContext.parallelize(Seq(Row(1)))
    assert(rddLeaves(spark.createDataFrame(rows, StructType(Seq(StructField("x", IntegerType))))).nonEmpty &&
      rddLeaves(spark.sparkContext.parallelize(Seq(1)).toDF("x")).nonEmpty,
      "detector failed its self-check")
    val found = SparkEntry.queries.keys.toSeq.sorted.filterNot(constructsByTraining)
      .filter(q => rddLeaves(SparkEntry.queries(q)(spark, dir)).nonEmpty).toSet
    assert(found -- allow.keySet == Set.empty, s"queries with an unjustified RDD leaf: ${found -- allow.keySet}")
    assert(allow.keySet -- found == Set.empty, s"allowlist entries no longer needed: ${allow.keySet -- found}")
  }

  test("every top-level main object is named in main code outside its own declaration, or is an entry point") {
    // A module that no query, pipeline or main reaches is dead code. Scan
    // the main sources (comment lines skipped) for each top-level object's
    // name outside its own body, to a fixpoint: an object named only from
    // dead objects is dead too. Entry points are objects with a `main`, and
    // GraftExtensions, which Spark loads by class name.
    import scala.jdk.CollectionConverters._
    type Decl = (String, String, Int, Int) // name, file, first and last line
    def unreferenced(srcs: Map[String, IndexedSeq[String]]): Set[String] = {
      def code(l: String) = { val t = l.trim; !Seq("//", "*", "/*").exists(t.startsWith) }
      val Obj = "object (\\w+)\\b.*".r
      val decls: Seq[Decl] = for {
        (f, ls) <- srcs.toSeq
        (Obj(name), i) <- ls.zipWithIndex
        end = ls.indexWhere(_.startsWith("}"), i + 1)
      } yield (name, f, i, if (end < 0) i else end)
      def isEntry(d: Decl) = d._1 == "GraftExtensions" ||
        srcs(d._2).slice(d._3, d._4 + 1).exists(_.contains("def main("))
      var dead = Set.empty[Decl]
      var grew = true
      while (grew) {
        val found = decls.filterNot(d => dead(d) || isEntry(d)).filter { d =>
          val word = s"\\b${d._1}\\b".r
          val skip = dead + d
          !srcs.exists { case (f, ls) =>
            ls.indices.exists(k => code(ls(k)) && word.findFirstIn(ls(k)).isDefined &&
              !skip.exists(o => o._2 == f && o._3 <= k && k <= o._4))
          }
        }
        grew = found.nonEmpty
        dead ++= found
      }
      dead.map(_._1)
    }
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: no $root")
    val main = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq).toMap
    // self-check: an unreferenced object, and one named only by it
    val synthetic = Map("Synthetic.scala" -> IndexedSeq(
      "object SelfCheckOrphan {", "  val x = SelfCheckOrphanDep.y", "}",
      "object SelfCheckOrphanDep {", "  val y = 1", "}"))
    assert(unreferenced(main ++ synthetic) -- unreferenced(main) ==
      Set("SelfCheckOrphan", "SelfCheckOrphanDep"), "detector failed its self-check")
    val dead = unreferenced(main)
    assert(dead.isEmpty, s"main objects with no caller: ${dead.toSeq.sorted.mkString(", ")}")
  }
}
