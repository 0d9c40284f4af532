package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Top-k search has three candidate generators — brute force (corpus ×
  * broadcast query), LSH buckets, IVF inverted lists — and two rankers: a
  * global top-k for one query row, a per-query bounded heap for a batch.
  * All vector math is native codegen'd expressions over doubles with a
  * sequential left-fold, so results are deterministic and bit-identical to
  * the DuckDB `list_reduce` oracle.
  */
object Similarity {

  /** Default hot-block cap for [[nearDupPairs]] — shared with the DuckDB
    * oracle SQL so both engines skip exactly the same blocks. */
  val DefaultMaxBlock: Int = 100000

  /** Cosine similarity — native one-pass codegen'd expression (identical
    * sequential-fold arithmetic; see CosineSim's parity contract). */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim.cosine_sim(a, b)

  /** Blocked near-duplicate pairs: equi-join on a blocking key (cluster
    * label, LSH bucket, …) then exact cosine filter — the standard
    * candidate-then-verify shape that avoids the O(N²) cross product. The
    * blocking side is a plain shuffle join, so it scales with the block-size
    * distribution, not the table square — and `maxBlock` bounds the one
    * residual quadratic (a hot block of B members emits B² join rows):
    * blocks over the cap are skipped deterministically via a keyed window
    * count (same bound as Dedup.minHashLshPairs' hot buckets), with
    * truncation observable through the `embed_block_cap` query metrics. */
  def nearDupPairs(df: DataFrame, idCol: String, embCol: String, blockCol: String,
                   threshold: Double, maxBlock: Int = DefaultMaxBlock): DataFrame = {
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("__blk"))
    val capped = df.select(col(idCol), col(blockCol).as("__blk"), col(embCol))
      .withColumn("__bn", count(lit(1)).over(wb))
      .observe("embed_block_cap",
        sum(when(col("__bn") > maxBlock, 1L).otherwise(0L)).as("rows_in_skipped_blocks"),
        max(col("__bn")).as("max_block_size"))
      .filter(col("__bn") <= maxBlock)
    val a = capped.select(col(idCol).as("id_a"), col("__blk"), col(embCol).as("__ea"))
    val b = capped.select(col(idCol).as("id_b"), col("__blk"), col(embCol).as("__eb"))
    a.join(b, "__blk")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("__ea"), col("__eb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }


  /** Random-hyperplane (SimHash-style) signature for LSH bucketing: `bits`
    * pseudo-hyperplanes derived from a seeded deterministic weight pattern;
    * bucket id packs the sign bits. Same-bucket vectors are cosine-close with
    * high probability — candidate pairs come from a bucket equi-join.
    * Native one-pass codegen'd expression (identical arithmetic to the HOF
    * reference form the specs compare against and the DuckDB oracle's
    * `sqlLshBucket`). */
  def lshBucket(emb: Column, bits: Int, seed: Long): Column =
    graft.functions.LshBucket.lsh_bucket(emb, bits, seed)

  /** Quantization scale for the Lloyd refinement's per-dimension sums —
    * 2^20, shared bit-for-bit with the DuckDB oracle (OracleSql binds the
    * same literal). Exactness bound: per-list element sums stay exactly
    * convertible to double while `rows_per_list · 2^20 · max|x| < 2^53`
    * — ~8.6e9 unit-scale rows per inverted list; beyond that, lower the
    * scale (and regenerate the oracle) exactly as with QuantLR.quantScale. */
  val LloydQuantScale: Double = 1048576.0

  /** IVF coarse quantizer: a deterministic scramble-ordered seed sample of
    * `nlist` corpus vectors, refined by `lloydIters` k-means (Lloyd) steps.
    *
    * The refinement is CROSS-ENGINE BIT-EXACT (the reason it can sit under
    * the DuckDB hash gate): each step assigns every vector to its nearest
    * centroid with the codegen'd [[graft.functions.CosineArgMax]] projection
    * (one map-only pass, zero row amplification), then recomputes each
    * centroid as the mean of its list — with the per-dimension sums
    * QUANTIZED to int64 (`floor(x · 2^20)`) BEFORE summation, so the sums
    * are exact integers (order-independent under any partitioning) and the
    * final mean `(Σq / n) / 2^20` is the same IEEE double in both engines
    * (QuantLR's trick applied to k-means). Empty lists keep their seed
    * centroid. Returns double-precision centroids keyed by the seed ids.
    *
    * Plan shape per step: one codegen'd assignment projection + a
    * posexplode to (list, dim) keyed sums — map-side combined, so the
    * shuffle carries nlist·dim partials per task, and the collect is
    * nlist·dim tiny rows. The ×dim row amplification is a one-off quantizer
    * build cost, standard for IVF training. */
  def ivfCentroids(df: DataFrame, idCol: String, embCol: String, nlist: Int,
                   lloydIters: Int = 1): Seq[(Long, Array[Double])] = {
    val centRows = df
      .orderBy(pmod(col(idCol).cast("long") * lit(2654435761L), lit(4294967296L)), col(idCol))
      .limit(nlist)
      .select(col(idCol).cast("long"), col(embCol)).collect()
    var cents: Seq[(Long, Array[Double])] =
      centRows.map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toSeq
    for (_ <- 1 to lloydIters) {
      val sums = df
        .select(graft.functions.CosineArgMax.cosine_argmax(col(embCol), cents).as("__list"),
          posexplode(col(embCol)))
        .groupBy(col("__list"), col("pos"))
        .agg(sum(floor(col("col").cast("double") * lit(LloydQuantScale))).as("__sq"),
          count(lit(1)).as("__cnt"))
        .collect()
      val byList = sums.groupBy(_.getLong(0))
      cents = cents.map { case (cid, old) =>
        byList.get(cid) match {
          case Some(rows) =>
            val next = old.clone()
            // mean = (Σ floor(x·S) / n) / S — exact int64 sum, then two
            // correctly-rounded double divisions in the SAME order as the
            // oracle's (CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE)) / S
            rows.foreach { r =>
              next(r.getInt(1)) =
                (r.getLong(2).toDouble / r.getLong(3).toDouble) / LloydQuantScale
            }
            (cid, next)
          case None => (cid, old) // empty inverted list keeps its seed
        }
      }
    }
    cents
  }

  // — ANN top-k: each public form composes one candidate generator (brute
  // force `df.join(broadcast(q))`, [[lshCands]], [[ivfLists]]) with one
  // ranker ([[rankOne]], [[rankPerQuery]]). The broadcast query side `q`
  // carries the query vector `__q`, plus the query id `__qid` in a batch.

  /** Brute-force cosine top-k of `df.embCol` against the single query row
    * `queryDf` (one row, one array column). Query side is broadcast; the big
    * side is never shuffled. */
  def bruteForceTopK(df: DataFrame, idCol: String, embCol: String,
                     queryDf: DataFrame, k: Int): DataFrame =
    rankOne(df.join(broadcast(queryDf.select(col(embCol).as("__q")))), idCol, embCol, k)

  /** PER-QUERY top-k for a BATCH of query vectors keyed by `qidCol` — the
    * multi-query shape the single-query forms deliberately don't blend:
    * corpus × broadcast(queries) scored map-only, then one keyed
    * [[rankPerQuery]] aggregation. Output (qid, rank, id, cos_sim); ties
    * break (cos desc, id asc) — the ROW_NUMBER oracle's order. */
  def bruteForceTopKBatch(df: DataFrame, idCol: String, embCol: String,
                          queryDf: DataFrame, qidCol: String, k: Int): DataFrame = {
    val q = queryDf.select(col(qidCol).as("__qid"), col(embCol).as("__q"))
    rankPerQuery(df.join(broadcast(q)), idCol, embCol, qidCol, k)
  }

  /** Bucketed ANN top-k: probe only the query's bucket — at scale an
    * O(N / 2^bits) bucket read instead of an O(N) scan when the table is
    * written bucketed/partitioned by the signature. Contract (as for
    * [[bruteForceTopK]] and [[ivfTopK]]): `queryDf` is a SINGLE query row —
    * the top-k is global, so a multi-row batch would blend queries
    * ([[lshTopKBatch]] ranks per query id instead). */
  def lshTopK(df: DataFrame, idCol: String, embCol: String,
              queryDf: DataFrame, k: Int, bits: Int = 8, seed: Long = 42L): DataFrame =
    rankOne(lshCands(df, embCol, queryDf.select(col(embCol).as("__q")), bits, seed),
      idCol, embCol, k)

  /** Batch LSH top-k: bucket equi-join against the broadcast query set,
    * bounded-heap reduce per query. O(N/2^bits) candidates per query when
    * the table is written bucketed by the signature. */
  def lshTopKBatch(df: DataFrame, idCol: String, embCol: String, queryDf: DataFrame,
                   qidCol: String, k: Int, bits: Int = 8, seed: Long = 42L): DataFrame = {
    val q = queryDf.select(col(qidCol).cast("long").as("__qid"), col(embCol).as("__q"))
    rankPerQuery(lshCands(df, embCol, q, bits, seed), idCol, embCol, qidCol, k)
  }

  /** IVF-flat ANN top-k — the inverted-file scale path next to [[lshTopK]]:
    * a coarse quantizer of `nlist` centroids ([[ivfCentroids]]), every
    * vector assigned to its nearest centroid's inverted list, the query
    * probing only the `nprobe` nearest lists — an O(N·nprobe/nlist)
    * candidate read instead of O(N) when the table is written
    * partitioned/bucketed by `list_id` at ingest. Assignment ties (equal
    * cosine) break to the LOWEST centroid id; NaN cosines sort greatest —
    * both matching the oracle's struct-max (see
    * [[graft.functions.CosineArgMax]]).
    *
    * Plan shape: the probe pick is nlist driver-side cosines (same fold —
    * bit-identical to the oracle), so the final plan is the codegen'd
    * assignment, an `isin` filter, one broadcast of the query row and a
    * TakeOrderedAndProject — no aggregate.
    *
    * Contract: `queryDf` is a SINGLE query row (enforced), collected and
    * checked BEFORE the corpus is persisted and the quantizer built; per-query
    * top-k over a batch is [[ivfTopKBatch]]. EAGER: the query row and the
    * centroids are collected at construction. */
  def ivfTopK(df: DataFrame, idCol: String, embCol: String, queryDf: DataFrame,
              k: Int, nlist: Int = 16, nprobe: Int = 4, lloydIters: Int = 1,
              scope: StorageScope = StorageScope.global): DataFrame = {
    val q = queryDf.select(col(embCol).as("__q"))
    val qRows = q.limit(2).collect()
    require(qRows.length == 1, "ivfTopK probes a single query row; got " + qRows.length)
    val qv = qRows(0).getSeq[Float](0).toArray
    val (lists, cents) = ivfLists(df, idCol, embCol, nlist, lloydIters, scope)
    // (cos desc, cid asc) with NaN sorting greatest — the oracle's
    // ORDER BY qc DESC, cid under DuckDB's NaN-greatest total order (a
    // plain sortBy(-c) would put NaN LAST: Scala's total order ranks NaN
    // above +Inf, and negation keeps it there)
    val probeIds = cents
      .map { case (cid, ce) => (graft.functions.CosineSim.cosine(qv, ce), cid) }
      .sortWith { case ((ca, ia), (cb, ib)) =>
        graft.functions.CosTopK.Buffer.worse(cb, ib, ca, ia)
      }
      .take(nprobe).map(_._2)
    rankOne(lists.filter(col("__list").isin(probeIds: _*)).join(broadcast(q)), idCol, embCol, k)
  }

  /** Batch IVF top-k over the same inverted lists as [[ivfTopK]], with
    * per-query probe lists computed DISTRIBUTED: query × broadcast(centroids)
    * scored map-only and reduced by the CosTopK aggregate with k = nprobe
    * (no driver-side loop, no query-count cap); probed candidates then go
    * through [[rankPerQuery]]. Candidate work is Σ_q |probed lists(q)| —
    * exactly the IVF read amplification. Residual bound: the query SET (and
    * its |Q|·nprobe probe table) must fit a broadcast — the batch contract. */
  def ivfTopKBatch(df: DataFrame, idCol: String, embCol: String, queryDf: DataFrame,
                   qidCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
                   lloydIters: Int = 1,
                   scope: StorageScope = StorageScope.global): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (lists, cents) = ivfLists(df, idCol, embCol, nlist, lloydIters, scope)
    val q = queryDf.select(col(qidCol).cast("long").as("__qid"), col(embCol).as("__q"))
    // per-query nprobe nearest centroids: (cos desc, cid asc) with NaN
    // sorting greatest — CosTopK's keep-order, = the oracle's ROW_NUMBER
    // (ORDER BY qc DESC, cid)
    val probes = q.join(broadcast(cents.toDF("__cid", "__cemb")))
      .groupBy(col("__qid"))
      .agg(graft.functions.CosTopK.cos_topk(
        cosine(col("__q"), col("__cemb")), col("__cid"), nprobe).as("__top"))
      .select(col("__qid").as("__pqid"), explode(col("__top.i")).as("__probe"))
    val cand = lists
      .join(broadcast(probes), col("__list") === col("__probe"))
      .join(broadcast(q), col("__pqid") === col("__qid"))
    rankPerQuery(cand, idCol, embCol, qidCol, k)
  }

  /** LSH candidates: the corpus rows whose [[lshBucket]] signature equals
    * their query's — a bucket equi-join against the broadcast query side. */
  private def lshCands(df: DataFrame, embCol: String, q: DataFrame,
                       bits: Int, seed: Long): DataFrame =
    df.withColumn("__b", lshBucket(col(embCol), bits, seed))
      .join(broadcast(q.withColumn("__qb", lshBucket(col("__q"), bits, seed))),
        col("__b") === col("__qb"))

  /** IVF inverted lists, shared by both IVF forms: the corpus projected and
    * persisted ONCE per call (the seed sample, the Lloyd pass and the probe
    * read all reuse it instead of re-scanning the source), the
    * [[ivfCentroids]] quantizer, and every vector's nearest list `__list`
    * from one codegen'd map-only [[graft.functions.CosineArgMax]]
    * projection. The persist is transient index-BUILD state released via
    * `scope` by the session owner, not a cross-call index. */
  private def ivfLists(df: DataFrame, idCol: String, embCol: String, nlist: Int,
                       lloydIters: Int, scope: StorageScope)
      : (DataFrame, Seq[(Long, Array[Double])]) = {
    val base = scope.retain(df.select(col(idCol), col(embCol)).persist())
    val cents = ivfCentroids(base, idCol, embCol, nlist, lloydIters)
    (base.withColumn("__list", graft.functions.CosineArgMax.cosine_argmax(col(embCol), cents)),
      cents)
  }

  /** Global ranker of the single-query forms: one (cos desc, id asc) top-k
    * over all candidates — a TakeOrderedAndProject, so each partition ships
    * only k rows and nothing is shuffled. A batch of one through
    * [[rankPerQuery]] measured ~1.5× slower (sf0.01, `local[4]`). */
  private def rankOne(cand: DataFrame, idCol: String, embCol: String, k: Int): DataFrame =
    cand.select(col(idCol), cosine(col(embCol), col("__q")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** Per-query ranker of the batch forms: ONE keyed aggregation with the
    * native bounded-heap [[graft.functions.CosTopK]] aggregate — O(k) state
    * per buffer, partial-aggregated, so each map task ships at most k
    * entries per query across the one shuffle (a `row_number()` window
    * would move all N candidates of a query onto one task) — exploded to
    * (qid, rank, id, cos_sim). */
  private def rankPerQuery(cand: DataFrame, idCol: String, embCol: String, qidCol: String,
                           k: Int): DataFrame =
    cand.groupBy(col("__qid"))
      .agg(graft.functions.CosTopK.cos_topk(
        cosine(col(embCol), col("__q")), col(idCol).cast("long"), k).as("__top"))
      .select(col("__qid").as(qidCol), posexplode(col("__top")))
      .select(col(qidCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.i").as(idCol), col("col.c").as("cos_sim"))
}
