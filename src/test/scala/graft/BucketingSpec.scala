package graft

import org.apache.spark.sql.functions._

/** Rest layouts the planner exploits: `bucketBy` the high-cardinality join
  * key (co-bucketed tables join and aggregate without an Exchange, and a
  * bucket-key equality prunes the scan to one bucket); `partitionBy` a
  * low-cardinality filter column (the reader prunes whole directories). */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body`, then drop the named catalog tables UNCONDITIONALLY — a
    * failed assertion must not leak tables into the shared test session
    * (round-5 advice: cleanup ran only on the success path). */
  private def withTables[A](names: String*)(body: => A): A =
    try body
    finally names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed co-located join: zero Exchange; plain parquet join: two") {
    withTables("b_facts", "b_dims") {
    val base = java.nio.file.Files.createTempDirectory("bucketing").toString
    val facts = (0L until 2000L).map(i => (i % 97, i, i * 3 % 1000)).toDF("user_id", "event_id", "v")
    val dims = (0L until 97L).map(i => (i, s"seg${i % 5}")).toDF("user_id", "segment")
    // same key, same bucket count on both sides — the co-location contract
    facts.write.mode("overwrite").option("path", s"$base/facts")
      .bucketBy(8, "user_id").sortBy("user_id").saveAsTable("b_facts")
    dims.write.mode("overwrite").option("path", s"$base/dims")
      .bucketBy(8, "user_id").sortBy("user_id").saveAsTable("b_dims")
    // force a sort-merge join so the ONLY thing that can elide the shuffle
    // is the bucket layout (a broadcast would trivially avoid it)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
             "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.table("b_facts")
        .join(spark.table("b_dims"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"scan did not use the bucket layout:\n$plan")
      // control: identical join over PLAIN parquet shuffles both sides
      facts.write.mode("overwrite").parquet(s"$base/plain_facts")
      dims.write.mode("overwrite").parquet(s"$base/plain_dims")
      val plainPlan = spark.read.parquet(s"$base/plain_facts")
        .join(spark.read.parquet(s"$base/plain_dims"), "user_id")
        .queryExecution.executedPlan.toString
      assert(plainPlan.linesIterator.count(_.contains("Exchange")) >= 2,
        s"control join should shuffle both sides:\n$plainPlan")
      // and the bucketed join still computes the right answer
      assert(joined.count() == 2000L)
      val seg = joined.groupBy("segment").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      assert(seg.values.sum == 2000L && seg.size == 5)
    }
    }
  }

  test("partitioned layout: the reader prunes directories via PartitionFilters") {
    val base = java.nio.file.Files.createTempDirectory("partitioned").toString
    val events = (0L until 3000L)
      .map(i => (i, Seq("view", "click", "purchase")(i.toInt % 3), i % 17))
      .toDF("event_id", "event_type", "user_id")
    events.write.mode("overwrite").partitionBy("event_type").parquet(s"$base/events")
    val read = spark.read.parquet(s"$base/events")
      .filter(col("event_type") === "purchase")
    val plan = read.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (directory pruning before
    // any file IO), not merely PushedFilters (per-file footer evaluation)
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*event_type[^\\]]*\\].*"),
      s"partition predicate did not prune directories:\n$plan")
    assert(read.count() == 1000L)
    // a shard-partitioned curation-style write round-trips with shard intact
    val curated = (0L until 100L).map(i => (i, i % 8)).toDF("doc_id", "shard")
    curated.write.mode("overwrite").partitionBy("shard").parquet(s"$base/curated")
    val one = spark.read.parquet(s"$base/curated").filter(col("shard") === 3)
    assert(one.select("doc_id").as[Long].collect().toSet ==
      (0L until 100L).filter(_ % 8 == 3).toSet)
  }

  test("ANN probe over an lsh_bucket-bucketed table reads ONE bucket, zero Exchange") {
    withTables("b_ann") {
    // the "O(N/2^bits) when bucketed at write" claim as a plan-asserted fact
    // (round-5 advice #8): write embeddings bucketed BY the LSH signature,
    // probe the query's bucket — the scan itself prunes to 1 of 8 buckets
    // (SelectedBucketsCount) and the top-k needs no Exchange at all.
    val base = java.nio.file.Files.createTempDirectory("bucketing_ann").toString
    val bits = 3
    val seed = 42L
    val emb = (0L until 400L).map { i =>
      (i, Array.tabulate(8)(j => (((i * 31 + j * 17) % 97).toFloat / 97f) - 0.5f))
    }.toDF("vec_id", "embedding")
    val bucketed = emb.withColumn("lsh_b",
      graft.ops.Similarity.lshBucket(col("embedding"), bits, seed))
    bucketed.write.mode("overwrite").option("path", s"$base/t")
      .bucketBy(8, "lsh_b").sortBy("lsh_b").saveAsTable("b_ann")
    val query = emb.filter(col("vec_id") === 0L)
    val qb = bucketed.filter(col("vec_id") === 0L)
      .select(col("lsh_b")).head().getLong(0)
    // autoBucketedScan would disable the bucketed layout here because no
    // JOIN/AGG needs the hash distribution — but the point of this read IS
    // bucket PRUNING (the planner's heuristic only models distribution
    // reuse), so pin the bucketed scan on for the probe
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
             "spark.sql.adaptive.enabled" -> "false",
             "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val qv = query.select(col("embedding")).as[Array[Float]].head()
      val probe = spark.table("b_ann")
        .filter(col("lsh_b") === qb && col("vec_id") =!= 0L)
        .select(col("vec_id"),
          graft.ops.Similarity.cosine(col("embedding"),
            typedLit(qv)).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(5)
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"probe did not prune to the query's bucket:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed ANN probe must not shuffle:\n$plan")
      // parity: the probe equals lshTopK over the PLAIN table restricted to
      // the same bucket semantics (same bits/seed, k within one bucket)
      val expected = graft.ops.Similarity.lshTopK(
        emb.filter(col("vec_id") =!= 0L), "vec_id", "embedding",
        queryDf = query, k = 5, bits = bits, seed = seed)
        .select("vec_id").as[Long].collect().toSeq
      assert(probe.select("vec_id").as[Long].collect().toSeq == expected)
    }
    }
  }

  test("bucketed groupBy on the bucket key aggregates without a shuffle") {
    withTables("b_agg") {
    val base = java.nio.file.Files.createTempDirectory("bucketing_agg").toString
    val facts = (0L until 2000L).map(i => (i % 53, i)).toDF("user_id", "event_id")
    facts.write.mode("overwrite").option("path", s"$base/t")
      .bucketBy(8, "user_id").sortBy("user_id").saveAsTable("b_agg")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val agg = spark.table("b_agg")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"groupBy on the bucket key must not shuffle:\n$plan")
      assert(agg.as[(Long, Long)].collect().toMap.values.sum == 2000L)
    }
    }
  }
}
