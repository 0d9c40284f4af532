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

  /** Connected components as one lazy union-find: (idCol, cluster_id) for
    * EVERY node, cluster_id = min id in its component (a row is its
    * cluster's survivor iff id == cluster_id). Building runs no job and
    * nothing is cached.
    *
    * The edges (cast to long, null endpoints dropped) fold per partition
    * into a forest of (node, root) pairs, node != root; a `repartition(1)`
    * shuffle gathers the forests for the same fold once more; the nodes
    * left-join the roots, so a node no edge touches is its own cluster. The
    * fold is a `LongMap` union-find with path compression where the smaller
    * root wins: every root is its component's min id whatever the edge
    * order, so the output is identical under task retry.
    *
    * Edge contract: endpoints are node ids, as every caller produces them;
    * an edge to a non-node still joins its two sides through that id.
    * Scale: the one global task holds at most one `LongMap` entry per
    * edge-touched node (the forests' non-root nodes). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, idCol: String): DataFrame = {
    import nodes.sparkSession.implicits._
    val roots = edges.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .na.drop().as[(Long, Long)]
      .mapPartitions(forest).repartition(1).mapPartitions(forest)
      .toDF("__node", "__root")
    nodes.select(col(idCol).cast("long").as(idCol))
      .join(roots, col(idCol) === col("__node"), "left")
      .select(col(idCol), coalesce(col("__root"), col(idCol)).as("cluster_id"))
  }

  /** Union-find fold of an edge stream: (node, root) for every non-root
    * node it touches, root = the min id of the node's component. */
  private def forest(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long] // non-roots only
    def find(x: Long): Long = {
      var r = x
      while (parent.contains(r)) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.map(x => (x, find(x)))
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
               jaccardThreshold: Double = 0.6): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol, shingleK, numHashes, bands, maxBucket)
    val verified = ngramJaccard(df, pairs, idCol, textCol)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"))
    connectedComponents(df.select(col(idCol)), verified, idCol)
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
