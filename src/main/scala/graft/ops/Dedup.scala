package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * - `exact`: hash-groupBy on the text (or any key expression); one shuffle,
  *   map-side combined. Survivor = smallest id (deterministic).
  * - `minHashLsh`: shingle → minhash signature → band buckets → bucket join.
  *   Signatures/hashes are portable arithmetic (no JVM/murmur dependence), so
  *   results are reproducible across engines and in the plain-Scala oracle.
  * - `simHash`: 64-bit simhash over token hashes; near-dups = small hamming
  *   distance within a bucket.
  * - `ngramJaccard`: exact n-gram Jaccard verification for candidate pairs
  *   (the precision pass after LSH recall).
  *
  * Scale shape: every stage is (project → groupBy/join on a bounded-size
  * key), never a cross product; LSH banding bounds candidate-pair fan-out.
  */
object Dedup {

  /** Exact dedup: one survivor row (min id) per distinct text + dup count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .select(col(idCol), col("n_dups"))

  /** MinHash signature — native one-pass codegen'd expression (same
    * arithmetic as the HOF reference form and the DuckDB oracle). */
  def minHashSig(text: Column, k: Int, numHashes: Int): Column =
    graft.functions.TextExprs.minhash_sig(text, k, numHashes)

  /** Default hot-bucket cap for [[minHashLshPairs]] — shared with the DuckDB
    * oracle SQL so both engines skip exactly the same buckets. */
  val DefaultMaxBucket: Int = 100000

  /** MinHash+LSH near-dup candidate pairs: exact-dedup pre-pass, then band
    * the signature, bucket-join, emit (id_a < id_b) pairs.
    * `bands * rowsPerBand` must equal the signature length.
    *
    * Scale shape (the round-2 hot-bucket fix): a banded self-join emits B²
    * candidate rows for a bucket of B members, and dup-heavy corpora — the
    * actual target of dedup — concentrate thousands of identical docs in the
    * same buckets. Two standard production bounds:
    *
    *   1. EXACT pre-pass: identical texts collapse to one representative
    *      (min id) BEFORE hashing; each exact-dup group re-attaches as
    *      linear "star" edges (rep, member) instead of the B² clique. Near
    *      dups across groups pair rep-to-rep (transitively equivalent for
    *      clustering; a group of 100k identical docs now costs 10^5 edges,
    *      not 10^10).
    *   2. Hot-bucket cap: buckets with more than `maxBucket` DISTINCT texts
    *      are skipped deterministically (a keyed per-bucket count — never a
    *      global window). Truncation is observable via the `lsh_bucket_cap`
    *      observed metrics (rows_in_skipped_buckets / max_bucket_size) on
    *      the query execution.
    *
    * Both bounds are mirrored bit-for-bit in the DuckDB oracle
    * (OracleSql.lshPairsCte), so q_lsh_pairs stays under the hash gate. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 3, numHashes: Int = 12, bands: Int = 4,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    require(maxBucket >= 2, "maxBucket must allow at least one pair")
    // exact pre-pass: one keyed window shuffle yields both the representative
    // set (distinct texts) and the linear star edges of each exact-dup group.
    // NULL texts are dropped first: SQL windows treat nulls as EQUAL, so the
    // pre-pass would otherwise star-pair unrelated no-text documents
    // (round-3 advice); they carry no content to near-dup against.
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(col(textCol))
    val withRep = df.select(col(idCol), col(textCol))
      .filter(col(textCol).isNotNull)
      .withColumn("__rep", min(col(idCol)).over(wt))
    val exactEdges = withRep.filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
    val reps = withRep.filter(col(idCol) === col("__rep")).select(col(idCol), col(textCol))
    // native one-pass signature; banding over the 12-element array is cheap
    val sig = reps.select(col(idCol), minHashSig(col(textCol), shingleK, numHashes).as("__sig"))
    val banded = sig.select(col(idCol), posexplode(
      array((0 until bands).map(b =>
        array_join(transform(slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand),
          x => x.cast("string")), "_")): _*)))
      .toDF(idCol, "band", "bucket")
    // per-bucket member count via a KEYED window; hot buckets skipped
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))
    val capped = banded.withColumn("__bn", count(lit(1)).over(wb))
      .observe("lsh_bucket_cap",
        sum(when(col("__bn") > maxBucket, 1L).otherwise(0L)).as("rows_in_skipped_buckets"),
        max(col("__bn")).as("max_bucket_size"))
      .filter(col("__bn") <= maxBucket)
      .select(col(idCol), col("band"), col("bucket"))
    val l = capped.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val r = capped.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .union(exactEdges)
      .distinct()
  }

  /** 32-bit SimHash — native one-pass codegen'd expression. */
  def simHash(text: Column): Column = graft.functions.TextExprs.simhash32(text)

  def withSimHash(df: DataFrame, textCol: String = "text", out: String = "simhash"): DataFrame =
    df.withColumn(out, simHash(col(textCol)))

  /** Connected components by min-label propagation (BSP rounds, the
    * GraphX/GraphFrames CC algorithm shape): every node starts labeled with
    * its own id; each round, a node adopts the min of its label and its
    * neighbors' labels; converged when a round changes nothing. Rounds =
    * graph diameter — dedup graphs are near-stars (exact groups attach to a
    * representative), so 2-3 rounds in practice.
    *
    * Scale shape: each round is one keyed join + one map-side-combined
    * groupBy, materialized by ONE job — the changed-row count rides that
    * materialization on a LongAccumulator instead of a second scan (the
    * round-3 shape ran localCheckpoint + a `count()` per round). A task
    * retry can only over-count the accumulator (transformation-stage
    * semantics), which at worst runs one extra no-op round — convergence is
    * still proven by the final `changed == 0` require. Superseded rounds are
    * unpersisted as soon as the next round lands (executor storage stays
    * O(1) in the round count); the FINAL label RDD stays persisted because
    * the returned DataFrame reads it — it is registered with `scope`
    * (default [[StorageScope.global]]) so the session owner releases it
    * deterministically once the result is consumed (Bench does this between
    * reps). On ANY failure — non-convergence or a job error — every RDD this
    * operator persisted is unpersisted before the exception escapes.
    *
    * `reliable = true` swaps the MEMORY_AND_DISK persist for a real RDD
    * checkpoint (requires `sparkContext.setCheckpointDir`) — the
    * executor-loss-safe cluster path; default stays local-fast.
    * Deterministic: min is order-independent. Fails fast (require) if
    * `maxIter` rounds don't converge rather than returning partial labels.
    *
    * Rounds: one-hop min propagation needs DIAMETER rounds — right for the
    * near-star graphs dedup produces (2-3), wrong for adversarial chains.
    * `shortcut = true` adds pointer doubling (`lab ← lab[lab[x]]`, one extra
    * keyed self-join per round), which converges in O(log diameter) rounds:
    * labels only decrease and every label is a same-component node id, so
    * the shortcut preserves the invariant and no-ops exactly at the
    * fixpoint. Default OFF: the extra join costs more than it saves on
    * star-like dedup graphs; turn it on for general graph clustering.
    *
    * Returns (idCol, cluster_id) for EVERY node; cluster_id = min id in the
    * component, so a row is its cluster's survivor iff id == cluster_id. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, idCol: String,
                          maxIter: Int = 20, reliable: Boolean = false,
                          shortcut: Boolean = false,
                          scope: StorageScope = StorageScope.global): DataFrame = {
    val spark = nodes.sparkSession
    val sc = spark.sparkContext
    if (reliable) require(sc.getCheckpointDir.isDefined,
      "reliable=true needs sparkContext.setCheckpointDir")
    // materialize a plan into a leaf RDD-backed DataFrame (cuts lineage like
    // localCheckpoint, but hands back the RDD so superseded rounds can be
    // unpersisted exactly); optionally counts rows with __chg=true during
    // the same pass via an accumulator
    def materialize(df: DataFrame, chgIdx: Int)
        : (org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow], Long, DataFrame) = {
      val acc = sc.longAccumulator("cc_changed")
      val base = df.queryExecution.toRdd.mapPartitions { it =>
        it.map { r =>
          if (chgIdx >= 0 && r.getBoolean(chgIdx)) acc.add(1L)
          r.copy()
        }
      }
      val rdd = base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (reliable) rdd.checkpoint()
      // the round's ONE job: persist + checkpoint + change count. If it
      // fails partway, some tasks may already have cached their partitions —
      // drop them before rethrowing so a failed round leaks nothing (the
      // caller's finally only knows about COMPLETED rounds' RDDs)
      try rdd.count()
      catch { case t: Throwable => rdd.unpersist(blocking = false); throw t }
      (rdd, acc.value,
        org.apache.spark.sql.graftbridge.Bridge.internalCreateDataFrame(spark, rdd, df.schema))
    }
    // materialize the symmetric edge list ONCE — it is re-joined every
    // round, and recomputing a lazy upstream (e.g. the whole LSH + Jaccard
    // candidate pipeline) per round would multiply the dominant cost by the
    // round count. Symmetrization is a map-only explode of each edge into
    // both directions — the round-5 self-UNION planned the (expensive)
    // upstream subtree twice and only partially deduped it via exchange
    // reuse; the explode evaluates it exactly once.
    val (symRdd, _, sym) = materialize(
      edges.select(explode(array(
          struct(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b")),
          struct(col("id_b").cast("long").as("a"), col("id_a").cast("long").as("b"))))
          .as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b")),
      chgIdx = -1)
    var labRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = null
    var labels: DataFrame = null
    var ok = false
    try {
    val m0 = materialize(
      nodes.select(col(idCol).cast("long").as("__node")).withColumn("__lab", col("__node")),
      chgIdx = -1)
    labRdd = m0._1
    labels = m0._3
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neigh = sym.join(labels, col("a") === col("__node"))
        .groupBy(col("b")).agg(min(col("__lab")).as("__nlab"))
      val onehop = labels.join(neigh, labels("__node") === neigh("b"), "left")
        .select(col("__node").as("__n1"),
          least(col("__lab"), coalesce(col("__nlab"), col("__lab"))).as("__l1"),
          col("__lab").as("__l0"))
      val stepped =
        if (!shortcut)
          onehop.select(col("__n1").as("__node"), col("__l1").as("__lab"),
            (col("__l1") < col("__l0")).as("__chg"))
        else {
          // pointer doubling: re-read the label OF my new label from the
          // same one-hop table (lab[x] is always a node id, so the inner
          // lookup hits; left join + coalesce only guards the self row)
          val byNode = onehop.select(col("__n1").as("__n2"), col("__l1").as("__l2"))
          onehop.join(byNode, col("__l1") === col("__n2"), "left")
            .select(col("__n1").as("__node"),
              least(col("__l1"), coalesce(col("__l2"), col("__l1"))).as("__lab"),
              (least(col("__l1"), coalesce(col("__l2"), col("__l1"))) < col("__l0")).as("__chg"))
        }
      val (rdd, chg, df) = materialize(stepped, chgIdx = 2)
      changed = chg
      labRdd.unpersist(blocking = false) // superseded round: free its blocks now
      labRdd = rdd
      labels = df.select("__node", "__lab")
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    ok = true
    } finally {
      // edges are never read by the result; the FINAL label RDD survives
      // only on success (registered with the caller's scope below) — on any
      // failure nothing this operator persisted outlives the exception
      symRdd.unpersist(blocking = false)
      if (!ok && labRdd != null) labRdd.unpersist(blocking = false)
    }
    scope.retain(labRdd)
    labels.select(col("__node").as(idCol), col("__lab").as("cluster_id"))
  }

  /** The terminal dedup deliverable: cluster id per document. Edges =
    * LSH candidate pairs (already bounded by the exact pre-pass + hot-bucket
    * cap) verified by exact token-set Jaccard >= `jaccardThreshold`; the
    * clusters are the connected components, so exact dups, transitive
    * near-dup chains, and singletons all land correctly. Survivor = the row
    * with id == cluster_id. */
  def clusters(df: DataFrame, idCol: String, textCol: String,
               shingleK: Int = 3, numHashes: Int = 12, bands: Int = 4,
               maxBucket: Int = DefaultMaxBucket,
               jaccardThreshold: Double = 0.6, maxIter: Int = 20,
               scope: StorageScope = StorageScope.global): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol, shingleK, numHashes, bands, maxBucket)
    val verified = ngramJaccard(df, pairs, idCol, textCol)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"))
    connectedComponents(df.select(col(idCol)), verified, idCol, maxIter, scope = scope)
  }

  /** Exact token-set Jaccard for candidate pairs (precision verification).
    * `pairs` carries (id_a, id_b); texts joined in from `df`. Both joins are
    * plain equi-joins on the id — broadcastable when the candidate set or the
    * dictionary side is small. */
  def ngramJaccard(df: DataFrame, pairs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withSets = df.select(col(idCol), array_distinct(split(col(textCol), " ")).as("__g"))
    pairs
      .join(withSets.select(col(idCol).as("id_a"), col("__g").as("__ga")), "id_a")
      .join(withSets.select(col(idCol).as("id_b"), col("__g").as("__gb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("__ga"), col("__gb"))).cast("double") /
          size(array_union(col("__ga"), col("__gb"))).cast("double")).as("jaccard"))
  }
}
