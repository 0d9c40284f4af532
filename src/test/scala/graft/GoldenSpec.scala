package graft

import graft.features.BehaviorBinding

/** Golden-fixture regression (SURVEY §5 mechanism 1): the engine's PIT anchor
  * feature vectors over a pinned seeded transcript table must EXACTLY equal
  * the committed parquet — any semantic drift (formula change, window rule,
  * as-of boundary) fails here before it can silently change results.
  * Regenerate deliberately with `runMain graft.GoldenGen`. */
class GoldenSpec extends SparkSpec {

  test("PIT anchor features equal the committed golden parquet exactly") {
    val golden = spark.read.parquet("src/test/resources/golden/pit_anchor_features")
    val turns = gen.TranscriptGen.turns(spark, seed = 77L, nConvs = 15)
    val binding = BehaviorBinding("user", "assistant", "system", "tool")
    val got = PitPipeline.anchorFeatures(turns.toDF(), TranscriptCols.turns, Turn.roles, binding, 3600L)
    assert(got.columns.toSeq == golden.columns.toSeq, "schema drift")
    val g = golden.collect().map(_.toSeq).toSet
    val c = got.collect().map(_.toSeq).toSet
    assert(c.size == golden.count())
    assert(c == g, "feature vectors drifted from the golden fixture")
  }
}
