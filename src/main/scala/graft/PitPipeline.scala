package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.ops._
import graft.features.{BehaviorBinding, FeatureLayers}

/** The flagship point-in-time pipeline: every turn is an anchor; its feature
  * vector summarizes ONLY completed tumbling windows of its conversation.
  *
  * Stages (each a named operator from SURVEY §2):
  *   1. windowize: tumbling windows of `widthSec` per conversation;
  *   2. pivot: per-(conv, window) role counts (`${role}_wc`);
  *   3. running states: per conversation ordered by window, cumulative
  *      min/max/avg and total of each role count — the reference's
  *      entity-stats hierarchy (`mean_features.py:20-26`) made point-in-time;
  *   4. engineered layers over the running states (`LR_Advanced.py:394-473`);
  *   5. as-of pick: each anchor (conv, ts) takes the feature state of the
  *      latest window with window_end <= ts (strictly completed windows —
  *      zero leakage: a turn never sees counts from its own still-open
  *      window, let alone future ones).
  *
  * `windowStates` and `featureStates` build stages 1-3 and 1-4 at window
  * grain from Spark's own aggregate and window operators; they are the
  * independent reference the backfill is checked against.
  *
  * Scale shape of `anchorFeatures`: ONE shuffle and ONE sweep. Stage 1 is a
  * projection; the turns are then hash-partitioned by conv once, sorted by
  * (conv, window_start), and [[graft.plans.PitSweep]] runs stages 2-5 in a
  * single pass per partition: it counts each window's roles, folds the
  * closed window into the running stats, evaluates the feature layers once
  * per completed window and emits every turn with its conversation's last
  * completed state. No per-window table is materialised or shuffled, and
  * the anchors are not shuffled a second time. A conversation stays on one
  * task (the `maxKeyRun` metric of the sweep shows the longest).
  */
object PitPipeline {

  /** Stages 1-3: per-(conv, window) running stats of role counts.
    * Output grain: one row per (conv, window_start), with `window_end`,
    * `${r}_min/_max/_avg` (over windows so far) and `${r}_count`
    * (cumulative total so far) for each role. */
  def windowStates(turns: DataFrame, c: TranscriptCols, roles: Seq[String],
                   widthSec: Long): DataFrame = {
    val windowed = Windowize.withTumblingWindow(turns, c, widthSec)
    val counts = PivotCounts(windowed, Seq(c.conv, "window_start"), c.role, roles, suffix = "_wc")
    val w = Window.partitionBy(col(c.conv)).orderBy(col("window_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cnt = count(lit(1)).over(w)
    val statCols = roles.flatMap { r =>
      Seq(
        min(col(s"${r}_wc")).over(w).as(s"${r}_min"),
        max(col(s"${r}_wc")).over(w).as(s"${r}_max"),
        (sum(col(s"${r}_wc")).over(w).cast("double") / cnt.cast("double")).as(s"${r}_avg"),
        sum(col(s"${r}_wc")).over(w).as(s"${r}_count"))
    }
    counts.select(
      Seq(col(c.conv), col("window_start"),
        (col("window_start") + expr(s"INTERVAL $widthSec SECONDS")).as("window_end")) ++
        statCols: _*)
  }

  /** Stages 1-4: engineered feature vector per (conv, window). */
  def featureStates(turns: DataFrame, c: TranscriptCols, roles: Seq[String],
                    binding: BehaviorBinding, widthSec: Long): DataFrame =
    FeatureLayers.applyTo(windowStates(turns, c, roles, widthSec), binding)

  /** Full backfill: feature vector at every turn anchor (stages 1-5), as
    * (conv, seq, ts) ++ the `featureStates` payload (stats ++ features, all
    * nullable). Anchors with no completed window yet get null features
    * (first-window turns) — exactly the zero-history case.
    *
    * Null semantics: null convs form one conversation. A null ts falls in a
    * null window that sorts first: it is the first completed window of every
    * later turn of its conversation, and the null-ts anchor itself gets null
    * features. (Until the sweep, such an anchor saw its own still-open null
    * window — e.g. `user_count = 1` for one null-ts user turn; the DuckDB
    * ASOF form, which never matches a null ts, agrees with the sweep.)
    *
    * Fails before any job on `widthSec <= 0`, empty or repeated roles, a
    * binding role missing from `roles`, a key type outside the as-of
    * whitelist, or a ts that is not a timestamp. */
  def anchorFeatures(turns: DataFrame, c: TranscriptCols, roles: Seq[String],
                     binding: BehaviorBinding, widthSec: Long): DataFrame = {
    require(widthSec > 0, s"PitPipeline.anchorFeatures: widthSec must be > 0, got $widthSec")
    val unbound = Seq(binding.pv, binding.cart, binding.fav, binding.buy).filterNot(roles.contains)
    require(unbound.isEmpty, s"PitPipeline.anchorFeatures: binding roles ${unbound.mkString(", ")} " +
      s"are not among roles ${roles.mkString(", ")}")
    val tsDt = turns.schema(c.ts).dataType
    require(tsDt == TimestampType || tsDt == TimestampNTZType,
      s"PitPipeline.anchorFeatures: ts '${c.ts}' must be timestamp or timestamp_ntz, got $tsDt")
    val input = turns.select(col(c.conv), col(c.seq), col(c.ts), col(c.role),
      Windowize.tumblingStart(col(c.ts), widthSec).as("window_start"))
    graft.plans.PitSweep(input, key = c.conv, windowStart = "window_start", role = c.role,
      anchor = Seq(c.conv, c.seq, c.ts), roles = roles, features = FeatureLayers.inlined(binding))
  }
}
