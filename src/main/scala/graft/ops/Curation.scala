package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Terminal corpus-curation deliverable — the composed query a
  * training-data pipeline actually ships: quality-gate → dedup among the
  * survivors → emit one representative per near-dup component with a
  * deterministic output-shard assignment.
  *
  * Stage order is the scale order: the cheap map-only quality gate
  * ([[TextAnalysis.qualityFiltered]] — one codegen'd pass over `text`) runs
  * BEFORE the expensive LSH+Jaccard+connected-components dedup, so the
  * banded join only ever sees documents worth keeping. The whole query is
  * one lazy plan: nothing runs at construction and nothing is cached (the
  * gate is a map-only pass, recomputed by each of its readers).
  *
  * Shard assignment is a pure projection — `pmod(pmod(id, 2654435761) ·
  * 40503, nShards)`: the inner mod bounds the product at ~2^48, so it can NEVER
  * overflow int64 in either engine (a bare `id · 2654435761` would wrap in
  * Spark but raise in DuckDB for ids ≥ 2^63/2654435761 ≈ 3.5e9 — reachable
  * corpus ids), keeping the oracle mirror exact at any id. The output can
  * be written `partitionBy("shard")` with no extra shuffle beyond the
  * write.
  *
  * Output: one row per kept document — (id, quality_score, n_tokens,
  * n_dups = size of its near-dup component inside the quality-clean set,
  * shard). A row survives iff its id equals its component's min id.
  */
object Curation {

  def curate(df: DataFrame, idCol: String, textCol: String, nShards: Int,
             minScore: Int = 2, shingleK: Int = 3, numHashes: Int = 12,
             bands: Int = 4, maxBucket: Int = Dedup.DefaultMaxBucket,
             jaccardThreshold: Double = 0.6): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val clean = TextAnalysis.qualityFiltered(
      df.select(col(idCol), col(textCol)), textCol, minScore)
    val clusters = Dedup.clusters(clean, idCol, textCol,
      shingleK, numHashes, bands, maxBucket, jaccardThreshold)
    val sizes = clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_dups"))
    clean.join(clusters, idCol)
      .filter(col(idCol) === col("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col(idCol), col("quality_score"), col("n_tokens"), col("n_dups"),
        pmod(pmod(col(idCol).cast("long"), lit(2654435761L)) * lit(40503L),
          lit(nShards.toLong)).cast("int").as("shard"))
  }
}
