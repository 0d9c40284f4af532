package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The reference's 3-layer feature hierarchy, as a declarative formula table.
  *
  * Layer 1 (Basic) is produced upstream by PivotCounts + RunningStats: four
  * behavior count columns pivoted per slot, with per-entity min/max/avg stats
  * (`/root/reference/Preprocess/dataset_for_prediction.py:68-97`,
  * `mean_features.py:20-26`). Layers 2 (Conversion) and 3 (Advanced) are the
  * ~35 engineered columns of `LR_Model_train/LR_Advanced.py:394-473`,
  * reproduced formula-for-formula below with the behavior quartet
  * parameterized: the reference's (pv, cart, fav, buy) binds to any four
  * role/event values (e.g. events: view, click, signup, purchase; transcripts:
  * user, assistant, tool, ...).
  *
  * Formulas are inlined down to base columns at render time, so evaluation
  * order (and therefore IEEE double bit patterns) is frozen across the Spark
  * engine, the DuckDB oracle, and the plain-Scala oracle.
  */
final case class BehaviorBinding(pv: String, cart: String, fav: String, buy: String) {
  def stats: Seq[String] = Seq(pv, cart, fav, buy).flatMap(p => Seq(s"${p}_min", s"${p}_max", s"${p}_avg"))
  def pvCount: String = s"${pv}_count"
}

object FeatureLayers {
  private val EPS = Lit(1e-6)
  private def avg_(p: String) = Ref(s"${p}_avg")
  private def min_(p: String) = Ref(s"${p}_min")
  private def max_(p: String) = Ref(s"${p}_max")

  /** Ordered (name, formula) pairs — order matches `add_conversion_features`
    * top-to-bottom (`LR_Advanced.py:399-471`). */
  def formulas(b: BehaviorBinding): Seq[(String, Ex)] = {
    import b.{pv, cart, fav, buy}
    Seq(
      // Conversion layer: epsilon-guarded rates off the averages (:399-404)
      s"${cart}_to_${pv}_rate" -> avg_(cart) / (avg_(pv) + EPS),
      s"${fav}_to_${pv}_rate"  -> avg_(fav) / (avg_(pv) + EPS),
      s"${buy}_to_${pv}_rate"  -> avg_(buy) / (avg_(pv) + EPS),
      s"${buy}_to_${cart}_rate" -> avg_(buy) / (avg_(cart) + EPS),
      s"${buy}_to_${fav}_rate"  -> avg_(buy) / (avg_(fav) + EPS),
      s"intent_to_${pv}_rate"   -> (avg_(cart) + avg_(fav)) / (avg_(pv) + EPS),
      // rates against the raw pv_count (:410-413)
      s"${cart}_to_${pv}_count_rate" -> avg_(cart) / (Ref(b.pvCount) + EPS),
      s"${fav}_to_${pv}_count_rate"  -> avg_(fav) / (Ref(b.pvCount) + EPS),
      s"${buy}_to_${pv}_count_rate"  -> avg_(buy) / (Ref(b.pvCount) + EPS),
      // ranges (:416-419)
      s"${pv}_range"   -> (max_(pv) - min_(pv)),
      s"${cart}_range" -> (max_(cart) - min_(cart)),
      s"${fav}_range"  -> (max_(fav) - min_(fav)),
      s"${buy}_range"  -> (max_(buy) - min_(buy)),
      // stabilities (:422-425)
      s"${pv}_stability"   -> Ref(s"${pv}_range") / (avg_(pv) + EPS),
      s"${cart}_stability" -> Ref(s"${cart}_range") / (avg_(cart) + EPS),
      s"${fav}_stability"  -> Ref(s"${fav}_range") / (avg_(fav) + EPS),
      s"${buy}_stability"  -> Ref(s"${buy}_range") / (avg_(buy) + EPS),
      // Advanced layer: totals (:428-429)
      "total_avg_activity" -> (avg_(pv) + avg_(cart) + avg_(fav) + avg_(buy)),
      "total_max_activity" -> (max_(pv) + max_(cart) + max_(fav) + max_(buy)),
      // preference distribution (:432-435)
      s"${cart}_ratio" -> avg_(cart) / (Ref("total_avg_activity") + EPS),
      s"${fav}_ratio"  -> avg_(fav) / (Ref("total_avg_activity") + EPS),
      s"${pv}_ratio"   -> avg_(pv) / (Ref("total_avg_activity") + EPS),
      s"${buy}_ratio"  -> avg_(buy) / (Ref("total_avg_activity") + EPS),
      // pairwise interactions (:438-442)
      s"${pv}_${cart}_interaction"  -> avg_(pv) * avg_(cart),
      s"${pv}_${fav}_interaction"   -> avg_(pv) * avg_(fav),
      s"${cart}_${fav}_interaction" -> avg_(cart) * avg_(fav),
      s"${cart}_${buy}_interaction" -> avg_(cart) * avg_(buy),
      s"${fav}_${buy}_interaction"  -> avg_(fav) * avg_(buy),
      // preference intensities (:445-447)
      s"${fav}_${cart}_preference" -> avg_(fav) / (avg_(cart) + EPS),
      "intent_intensity"   -> (avg_(cart) + avg_(fav)) / (avg_(pv) + EPS),
      "purchase_intensity" -> avg_(buy) / (avg_(cart) + avg_(fav) + EPS),
      // peaks (:450-451)
      "max_engagement" -> GreatestOf(Seq(max_(pv), max_(cart), max_(fav))),
      "peak_purchase_ratio" -> max_(buy) / (Ref("max_engagement") + EPS),
      // activity tiers: pd.cut bins (0,2,8,20,inf], include_lowest (:454-459)
      "activity_level" -> CaseOf(Seq(
        (Ref("total_avg_activity") <= LitI(2))  -> LitI(0),
        (Ref("total_avg_activity") <= LitI(8))  -> LitI(1),
        (Ref("total_avg_activity") <= LitI(20)) -> LitI(2)), LitI(3)),
      // balance / dominance / potential (:462-467)
      "balance_score" -> (LitI(1) - AbsOf(Ref(s"${cart}_ratio") - Ref(s"${fav}_ratio"))),
      "dominance_feature" -> CaseOf(Seq(
        (Ref(s"${pv}_ratio") > Lit(0.7)) -> LitI(0),
        (Ref(s"${cart}_ratio") > Ref(s"${fav}_ratio")) -> LitI(1)), LitI(2)),
      "conversion_potential" ->
        (Ref(s"${cart}_to_${pv}_rate") + Ref(s"${fav}_to_${pv}_rate")
          - Ref(s"${cart}_to_${pv}_rate") * Ref(s"${fav}_to_${pv}_rate")),
      // consistency reciprocals (:470-471)
      "behavior_consistency" -> (LitI(1) /
        (LitI(1) + Ref(s"${pv}_stability") + Ref(s"${cart}_stability") + Ref(s"${fav}_stability"))),
      "purchase_consistency" -> (LitI(1) / (LitI(1) + Ref(s"${buy}_stability")))
    )
  }

  /** Target-correlated columns excluded from model inputs
    * (`LR_Advanced.py:484-491`) — kept as policy data, parameterized. */
  def leakageCols(b: BehaviorBinding): Seq[String] = {
    import b.{pv, cart, fav, buy}
    Seq(buy, s"${buy}_yn", s"${buy}_min", s"${buy}_max", s"${buy}_avg",
      s"${buy}_to_${cart}_rate", s"${buy}_to_${fav}_rate", s"${buy}_to_${pv}_rate",
      s"${buy}_to_${pv}_count_rate", s"${cart}_${buy}_interaction",
      s"${fav}_${buy}_interaction", "purchase_intensity",
      s"${buy}_range", s"${buy}_stability", "purchase_consistency",
      "peak_purchase_ratio", "total_avg_activity", "total_max_activity", s"${buy}_ratio")
  }

  private def resolver(b: BehaviorBinding): String => Ex = {
    val byName = formulas(b).toMap
    (n: String) => byName.getOrElse(n, Ref(n))
  }

  /** Append all engineered features to a Basic-layer DataFrame (must carry
    * the 12 stat columns + pv_count). Features reference earlier features as
    * STORED columns (not re-inlined): the runtime arithmetic is bit-identical
    * to the fully-inlined form (same op sequence per value), but the
    * codegen'd projection stays small — the inlined variant produced
    * pathological whole-stage-codegen sizes.
    *
    * Built as a handful of dependency-leveled `select`s rather than 39
    * chained `withColumn`s: each withColumn adds a Project node and a full
    * analyzer pass (O(n²) analysis — round 1 paid multi-second plan analysis
    * in every downstream metric query). Zero shuffles either way. */
  def applyTo(df: DataFrame, b: BehaviorBinding): DataFrame = {
    val fs = formulas(b)
    val names = fs.map(_._1).toSet
    val level = scala.collection.mutable.Map.empty[String, Int]
    fs.foreach { case (n, ex) =>
      val deps = Formula.refsOf(ex).intersect(names) // formulas only ref earlier ones
      level(n) = if (deps.isEmpty) 0 else deps.map(level).max + 1
    }
    val asAttribute: String => Ex = n => Ref(n) // never inline; read the column
    val staged = (0 to level.values.max).foldLeft(df) { (acc, l) =>
      val stage = fs.collect { case (n, ex) if level(n) == l =>
        Formula.toColumn(ex, asAttribute).as(n)
      }
      acc.select(col("*") +: stage.toIndexedSeq: _*)
    }
    // restore the reference's column order (leveling appends out of order)
    staged.select((df.columns.map(col) ++ fs.map(f => col(f._1))).toIndexedSeq: _*)
  }

  /** The features inlined down to the Basic-layer columns, one named Column
    * each, in formula order: the form [[sqlProjections]] renders as SQL and
    * the point-in-time sweep evaluates once per completed window. Inlining
    * keeps every value's op sequence, so the doubles are bit-identical to
    * [[applyTo]]'s staged columns. */
  def inlined(b: BehaviorBinding): Seq[Column] = {
    val r = resolver(b)
    formulas(b).map { case (n, ex) => Formula.toColumn(ex, r).as(n) }
  }

  /** The same features as SQL projection snippets: name -> expression text. */
  def sqlProjections(b: BehaviorBinding): Seq[(String, String)] = {
    val r = resolver(b)
    formulas(b).map { case (n, ex) => n -> Formula.toSql(ex, r) }
  }
}
