package graft

import graft.gen.TranscriptGen
import graft.features.BehaviorBinding
import graft.oracle.ScalaOracle
import graft.oracle.ScalaOracle.EntityStats

/** End-to-end PIT anchor features vs an in-memory oracle + leakage property. */
class PitPipelineSpec extends SparkSpec {

  private val c = TranscriptCols.turns
  private val roles = Turn.roles
  private val binding = BehaviorBinding(pv = "user", cart = "assistant", fav = "system", buy = "tool")
  private val width = 3600L

  private lazy val turns = TranscriptGen.turns(spark, seed = 11L, nConvs = 25).cache()

  /** In-memory recomputation of the full pipeline for one conversation. */
  private def oracleAnchors(ts: Seq[Turn]): Map[Int, Option[Map[String, Double]]] = {
    val sorted = ts.sortBy(_.turn_idx)
    val winOf = (t: Turn) => Math.floorDiv(t.ts.getTime / 1000L, width)
    val winCounts: Map[Long, Map[String, Long]] = sorted.groupBy(winOf).view.mapValues { g =>
      roles.map(r => r -> g.count(_.role == r).toLong).toMap
    }.toMap
    sorted.map { t =>
      val anchorSec = t.ts.getTime / 1000L
      // completed windows: (w+1)*width <= anchorSec
      val wins = winCounts.keys.filter(w => (w + 1) * width <= anchorSec).toSeq.sorted
      val feats = if (wins.isEmpty) None else {
        val perRole = roles.map { r =>
          val vals = wins.map(w => winCounts(w)(r))
          r -> vals
        }.toMap
        val stats = EntityStats(
          counts = roles.map(r => r -> perRole(r).sum).toMap,
          min = roles.map(r => r -> perRole(r).min).toMap,
          max = roles.map(r => r -> perRole(r).max).toMap,
          avg = roles.map(r => r -> perRole(r).sum.toDouble / perRole(r).size.toDouble).toMap)
        Some(ScalaOracle.features(Seq("user", "assistant", "system", "tool"), stats).toMap)
      }
      t.turn_idx -> feats
    }.toMap
  }

  test("anchor feature vectors match the in-memory oracle exactly (allclose not even needed)") {
    val got = PitPipeline.anchorFeatures(turns.toDF(), c, roles, binding, width)
      .collect().map(r => (r.getString(r.fieldIndex("conv_id")), r.getInt(r.fieldIndex("turn_idx"))) -> r).toMap
    val featNames = graft.features.FeatureLayers.formulas(binding).map(_._1)
    val all = turns.collect()
    all.groupBy(_.conv_id).foreach { case (conv, ts) =>
      val oracle = oracleAnchors(ts.toSeq)
      ts.foreach { t =>
        val row = got((conv, t.turn_idx))
        oracle(t.turn_idx) match {
          case None =>
            assert(row.get(row.fieldIndex("user_min")) == null, s"$conv/${t.turn_idx} should have no state")
          case Some(exp) =>
            featNames.foreach { n =>
              val v = row.get(row.fieldIndex(n)) match {
                case d: Double => d
                case i: Int => i.toDouble
                case other => fail(s"$n: $other")
              }
              assert(v == exp(n), s"$conv/${t.turn_idx} feature $n: got $v exp ${exp(n)}")
            }
        }
      }
    }
  }

  test("zero leakage: appending future turns never changes existing anchors") {
    val base = TranscriptGen.turns(spark, 13L, 8)
    val df = base.toDF()
    val before = PitPipeline.anchorFeatures(df, c, roles, binding, width)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.toSeq).toMap
    // append turns strictly after every conversation's last anchor
    import spark.implicits._
    val maxTs = base.collect().map(_.ts.getTime).max
    val future = base.collect().groupBy(_.conv_id).map { case (conv, ts) =>
      val last = ts.maxBy(_.turn_idx)
      last.copy(turn_idx = last.turn_idx + 1, role = "tool",
        ts = new java.sql.Timestamp(maxTs + 7200 * 1000L))
    }.toSeq.toDF()
    val after = PitPipeline.anchorFeatures(df.unionByName(future), c, roles, binding, width)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.toSeq).toMap
    before.foreach { case (k, v) =>
      assert(after(k) == v, s"anchor $k changed when future turns were appended")
    }
  }
}
