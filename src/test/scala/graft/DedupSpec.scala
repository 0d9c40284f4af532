package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),          // exact dup of 0
    (2L, "the quick brown fox leaps over the lazy dog"),          // near dup (1 token)
    (3L, "completely different content about spark shuffles"),
    (4L, "completely different content about spark shuffles"),    // exact dup of 3
    (5L, "sessionize windows over conversation transcripts now")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts dups") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 2L -> 1L, 3L -> 2L, 5L -> 1L))
  }

  test("minhash LSH surfaces exact and near dups as candidate pairs") {
    // unigram shingles + 2-row bands: token-Jaccard 0.8 for the near-dup pair
    // gives ≥1 colliding band with near-certainty (deterministic seeded hashes)
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
      shingleK = 1, numHashes = 12, bands = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair 0-1")
    assert(pairs.contains((3L, 4L)), "exact dup pair 3-4")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)), "near-dup pair with doc 2")
    // unrelated docs never pair with the fox docs
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((0L, 5L)))
  }

  test("lsh pairs: dup-heavy corpus emits linear star edges, not a quadratic clique") {
    // 1,200 byte-identical docs — the corpus shape dedup exists for, and the
    // one that made the round-2 banded self-join quadratic (C(1200,2) = 719,400
    // candidate rows). The exact pre-pass collapses them to one representative
    // and re-attaches the group as 1,199 star edges.
    val heavy = (0 until 1200).map(i =>
      (i.toLong, "all these documents say exactly the same thing today")) ++
      Seq((2000L, "completely unrelated content about catalyst optimizer rules"),
          (2001L, "all these documents say exactly the same words today")) // near dup of the clique
    val df = heavy.toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(df, "doc_id", "text",
      shingleK = 1, numHashes = 12, bands = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size >= 1199 && pairs.size < 1199 + 10,
      s"candidate count ${pairs.size} not linear in dup-group size")
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 1199L)), "star edges to the rep")
    // near-dup attaches to the representative only, never the whole clique
    assert(!pairs.exists { case (a, b) => a >= 1 && a < 1200 && b >= 1 && b < 1200 },
      "clique edges between non-representative members leaked")
  }

  test("hot-bucket cap deterministically skips oversized buckets; small buckets unaffected") {
    // 40 DISTINCT texts that are permutations of one token set: with k=1
    // shingles they share the entire minhash signature, so all 40 land in the
    // same bucket of every band — a hot bucket the cap must bound
    val toks = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val rnd = new scala.util.Random(7)
    val perms = Iterator.continually(rnd.shuffle(toks).mkString(" ")).distinct.take(40).toSeq
    val base = perms.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val ctrl = Seq((100L, "spark shuffle partition tuning works well here"),
                   (101L, "spark shuffle partition tuning works badly here"))
    val df = (base ++ ctrl).toDF("doc_id", "text")
    val capped = Dedup.minHashLshPairs(df, "doc_id", "text",
      shingleK = 1, numHashes = 12, bands = 6, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a < 40 && b < 40 },
      "hot-bucket pairs leaked through the cap")
    assert(capped.contains((100L, 101L)), "small-bucket near-dup pair must survive the cap")
    // without the cap the same corpus yields the full quadratic candidate set
    val uncapped = Dedup.minHashLshPairs(df, "doc_id", "text",
      shingleK = 1, numHashes = 12, bands = 6)
      .filter(col("id_a") < 40 && col("id_b") < 40).count()
    assert(uncapped == 40L * 39 / 2)
  }

  test("jaccard verification: exact dup = 1.0, near dup high, unrelated low") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 2L)) > 0.7 && j((0L, 2L)) < 1.0)
    assert(j((0L, 3L)) == 0.0)
  }

  test("simhash: identical texts identical hashes; near dups close in hamming") {
    val h = Dedup.withSimHash(docs).select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(1L) && h(3L) == h(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0L), h(2L)) < ham(h(0L), h(3L)), "near dup closer than unrelated")
  }

  test("text stats + langid + fingerprint are deterministic and sane") {
    val ts = TextAnalysis.withTokenStats(docs).where(col("doc_id") === 0).collect()(0)
    assert(ts.getInt(ts.fieldIndex("n_tokens")) == 9)
    assert(ts.getInt(ts.fieldIndex("n_stopwords")) == 2) // 'the' twice
    val lang = TextAnalysis.withLangId(docs).select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lang(0L) == "en")
    val fp = TextAnalysis.withFingerprint(docs).select("doc_id", "fingerprint")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L) && fp(0L) != fp(2L))
  }

  test("tok_hash registered as a SQL function matches the Column API") {
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT tok_hash('the quick brown fox') AS h").collect()(0).getLong(0)
    val viaCol = docs.limit(1).select(graft.functions.TokHash.tok_hash(lit("the quick brown fox")))
      .collect()(0).getLong(0)
    assert(viaSql == viaCol)
    // and equals the plain-Scala fold (same arithmetic the oracle SQL uses)
    val expected = "the quick brown fox".foldLeft(7L)((a, c) => (a * 31 + c) % 1000003L)
    assert(viaSql == expected)
  }

  test("full native family registered for SQL; literal-arg validation") {
    GraftFunctions.register(spark)
    docs.limit(3).createOrReplaceTempView("__docs_sqlfn")
    val row = spark.sql(
      """SELECT doc_id, simhash32(text) AS sh, doc_fingerprint(text) AS fp,
        |  token_count(text) AS tc, stopword_count(text) AS sc,
        |  lang_id(text) AS lg, minhash_sig(text, 3, 12) AS ms
        |FROM __docs_sqlfn""".stripMargin).collect()
    assert(row.length == 3)
    // SQL results match the Column API on the same rows
    val viaCol = docs.limit(3).select(col("doc_id"),
      Dedup.simHash(col("text")).as("sh"),
      graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    row.foreach(r => assert(viaCol(r.getLong(0)) == ((r.getLong(1), r.getLong(2)))))
    // cosine_sim via SQL
    val cs = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").collect()(0).getDouble(0)
    assert(cs == 1.0)
    // non-literal shingle count is an analysis-time error, not silent garbage
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(text, CAST(doc_id AS INT), 12) FROM __docs_sqlfn").collect()
    }
    assert(e.getMessage.contains("integer literal"))
    // missing arguments surface as a readable error naming the function
    val ea = intercept[Exception] {
      spark.sql("SELECT cosine_sim(text) FROM __docs_sqlfn").collect()
    }
    assert(ea.getMessage.contains("cosine_sim expects 2"))
    // the bounded-heap top-k aggregate is SQL-callable too
    val tk = spark.sql(
      """SELECT doc_id % 2 AS g, cos_topk(CAST(doc_id AS DOUBLE), doc_id, 2) AS t
        |FROM __docs_sqlfn GROUP BY doc_id % 2""".stripMargin).collect()
    assert(tk.forall(_.getSeq[org.apache.spark.sql.Row](1).size <= 2))
    // the spark.sql.extensions class path (what spark-submit --conf uses)
    // wires the same family into a fresh session's registry
    val ext = new graft.GraftExtensions()
    val se = new org.apache.spark.sql.SparkSessionExtensions()
    ext(se) // must not throw; descriptors resolvable
    assert(GraftFunctions.descriptors.map(_._1.funcName).toSet ==
      Set("tok_hash", "token_count", "distinct_token_count", "top_token_freq",
        "simhash32", "doc_fingerprint", "cosine_sim", "minhash_sig", "lang_id",
        "stopword_count", "cos_topk", "lsh_bucket"))
    // lsh_bucket via SQL matches the Column API
    val lb = spark.sql(
      "SELECT lsh_bucket(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 4, 42) AS b")
      .collect()(0).getLong(0)
    val lbCol = Seq(Tuple1(Array(1.0f, -2.0f))).toDF("e")
      .select(Similarity.lshBucket(col("e"), 4, 42L)).collect()(0).getLong(0)
    assert(lb == lbCol)
  }

  test("native text expressions ≡ HOF reference forms, incl. edge cases") {
    val edge = Seq((10L, ""), (11L, " "), (12L, "a"), (13L, "a  b"),
      (14L, "the the the le le la"), (15L, "x y z w v u t s r q")).toDF("doc_id", "text")
    val all = docs.union(edge)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    // minhash: native one-pass expression ≡ HOF shingle/permutation chain
    val natSig = m(all.select(col("doc_id"),
      transform(Dedup.minHashSig(col("text"), 3, 12), _.cast("string")).as("s")))
    val hofSig = m(all.select(col("doc_id"),
      transform(HofReference.minHashSigFromHashes(HofReference.shingleHashes(col("text"), 3), 12),
        _.cast("string")).as("s")))
    assert(natSig == hofSig)
    // simhash
    val natSim = m(all.select(col("doc_id"), Dedup.simHash(col("text")).as("h")))
    val hofSim = m(all.select(col("doc_id"),
      HofReference.simHashFromHashes(HofReference.tokenHashes(col("text"))).as("h")))
    assert(natSim == hofSim)
    // lang-id
    val natLang = m(TextAnalysis.withLangId(all).select(col("doc_id"), col("lang_pred")))
    val hofLang = m(HofReference.withLangIdHof(all).select(col("doc_id"), col("lang_pred")))
    assert(natLang == hofLang)
    // fingerprint (rolling hash)
    val natFp = m(all.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("f")))
    val hofFp = m(all.select(col("doc_id"), HofReference.fingerprintHof(col("text")).as("f")))
    assert(natFp == hofFp)
    // token counts
    val natTok = m(all.select(col("doc_id"),
      graft.functions.TextExprs.token_count(col("text")).as("n")))
    val sizTok = m(all.select(col("doc_id"), size(split(col("text"), " ")).as("n")))
    assert(natTok == sizTok)
    val natStop = m(all.select(col("doc_id"),
      graft.functions.TextExprs.token_set_count(col("text"), TextAnalysis.Stopwords).as("n")))
    val hofStop = m(all.select(col("doc_id"),
      size(filter(split(col("text"), " "),
        t => t.isin(TextAnalysis.Stopwords.map(lit): _*))).as("n")))
    assert(natStop == hofStop)
  }

  test("tok_hash folds Unicode code points (non-BMP parity with DuckDB ascii)") {
    // U+1F600 (😀) is one code point but two UTF-16 chars; DuckDB's
    // string_split(t,'') + ascii folds code points — so must we.
    val texts = Seq("😀", "a😀b", "汉字 test")
    texts.foreach { t =>
      val got = docs.limit(1).select(graft.functions.TokHash.tok_hash(lit(t)))
        .collect()(0).getLong(0)
      var expected = 7L
      t.codePoints().forEach(cp => expected = (expected * 31 + cp) % 1000003L)
      assert(got == expected, s"code-point fold mismatch for '$t'")
    }
  }

  test("native cosine expression ≡ HOF fold, bit-for-bit") {
    val rnd = new scala.util.Random(11)
    val emb = (0 until 100).map(i =>
      (i.toLong, Array.fill(24)(rnd.nextFloat() - 0.5f), Array.fill(24)(rnd.nextFloat() - 0.5f)))
      .toDF("id", "a", "b")
    val nat = emb.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val hof = emb.select(col("id"), HofReference.cosineHof(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nat == hof) // exact double equality — same fold order
  }

  test("dedup clusters: transitivity, exact groups, singletons, survivors") {
    // a near-dup chain where the far ends are NOT direct near-dups
    // (token-Jaccard 100↔103 = 7/13 ≈ 0.54 < 0.6, adjacent links ≥ 0.67),
    // an exact-dup group, and an unrelated singleton
    val docs2 = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota KAPPA2"),
      (102L, "alpha beta gamma delta epsilon zeta eta theta IOTA2 KAPPA2"),
      (103L, "alpha beta gamma delta epsilon zeta eta THETA2 IOTA2 KAPPA2"),
      (200L, "identical purchase conversation transcript about nothing else"),
      (201L, "identical purchase conversation transcript about nothing else"),
      (300L, "totally standalone document with unique vocabulary entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.clusters(docs2, "doc_id", "text", shingleK = 1, numHashes = 12,
      bands = 6, jaccardThreshold = 0.6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(100L) == 100L && got(101L) == 100L && got(102L) == 100L,
      s"near-dup chain did not merge: $got")
    assert(got(103L) == 100L, "transitive member (direct Jaccard below threshold) must still join")
    assert(got(200L) == 200L && got(201L) == 200L, "exact group clusters on its min id")
    assert(got(300L) == 300L, "singleton keeps its own id")
    // survivors = rows whose id equals their cluster id
    assert(got.filter { case (id, c) => id == c }.keySet == Set(100L, 200L, 300L))
  }

  test("connectedComponents persists nothing; null-text docs never pair and stay singletons") {
    val n = 12
    val nodesDf = (0L until n.toLong).toDF("doc_id")
    val edgesDf = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val got = Dedup.connectedComponents(nodesDf, edgesDf, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(0L), "chain must collapse to one component")
    val leftover = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leftover.isEmpty, s"pinned ${leftover.size} RDDs")
    // null texts: no star pairs among no-text documents (round-3 advice) —
    // and clusters() still assigns them singleton components
    val withNulls = Seq((1L, "same text here"), (2L, "same text here"),
      (3L, null: String), (4L, null: String)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(withNulls, "doc_id", "text", shingleK = 1,
      numHashes = 12, bands = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"null-text docs must not pair: $pairs")
    val cl = Dedup.clusters(withNulls, "doc_id", "text", shingleK = 1, numHashes = 12,
      bands = 6).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("corpus curation: quality gate before dedup, survivors + component sizes + shards") {
    // en1a/en1b: exact dups (both pass quality); en2: near-dup of en1a (one
    // token changed, jaccard 9/11 > 0.6); bad_short fails the token gate;
    // es fails the language gate; en3: clean singleton
    val base = "the cat and the dog walked to a small house"
    val docs = Seq(
      (10L, base),
      (11L, base),
      (12L, "the cat and the dog walked to a small barn"),
      (13L, "short"),
      (14L, "el gato y el perro de la casa que ladra mucho y"),
      (20L, "the quick brown fox jumps over a lazy sleeping dog today")
    ).toDF("doc_id", "text")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val got = graft.ops.Curation.curate(docs, "doc_id", "text", nShards = 8,
      shingleK = 1, numHashes = 12, bands = 6)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))
      .toMap
    // cache lifecycle: curate is one lazy plan, so consuming it pins nothing
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet -- pinnedBefore
    assert(pinned.isEmpty, s"curate pinned ${pinned.size} RDDs")
    // survivors: 10 (component {10,11,12}) and 20 (singleton); 13/14 gated out
    assert(got.keySet == Set(10L, 20L), s"wrong survivors: $got")
    assert(got(10L)._3 == 3L, s"component size wrong: ${got(10L)}")
    assert(got(20L)._3 == 1L)
    // shard = pmod(pmod(id, 2654435761) * 40503, 8) — overflow-free in
    // BOTH engines at any id (the review caught the bare id*prime wrapping
    // in Spark but raising in DuckDB past ~3.5e9)
    def shard(id: Long) =
      java.lang.Math.floorMod(java.lang.Math.floorMod(id, 2654435761L) * 40503L, 8L).toInt
    assert(got(10L)._4 == shard(10L))
    assert(got(20L)._4 == shard(20L))
    // quality metadata rides through
    assert(got(10L)._1 >= 2 && got(10L)._2 == 10)
  }

  test("connectedComponents: jobs do not grow with chain length; building runs no job") {
    // a path of n nodes has diameter n - 1: round-based label propagation
    // would run a job per hop
    val counts = Seq(4, 64).map { n =>
      val nodesDf = (0L until n.toLong).toDF("doc_id")
      val edgesDf = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val (cc, built) = jobsDuring(Dedup.connectedComponents(nodesDf, edgesDf, "doc_id"))
      assert(built == 0, s"building ran $built job(s) at n=$n")
      val (labels, ran) = jobsDuring(cc.collect().map(r => r.getLong(0) -> r.getLong(1)))
      assert(labels.length == n && labels.forall(_._2 == 0L), s"n=$n: ${labels.toSeq}")
      ran
    }
    assert(counts(0) == counts(1), s"jobs grew with the path: 4 nodes ${counts(0)}, 64 nodes ${counts(1)}")
  }

  test("native expressions reject wrong input types at analysis time") {
    // CosineSim accepts array<float|double> per side (mixed float/double is
    // the Lloyd-centroid scoring path) — but a non-array input must be an
    // analysis error, not silently-garbage similarities
    val dbl = Seq((1L, Array(1.0, 2.0), Array(1.0f, 2.0f))).toDF("id", "a", "b")
    val mixed = dbl.select(Similarity.cosine(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(mixed - 1.0) < 1e-12)
    intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(Similarity.cosine(col("text"), col("text"))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(graft.functions.TextExprs.token_count(col("doc_id"))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(graft.functions.TokHash.tok_hash(col("doc_id"))).collect()
    }
  }

  test("native LshBucket equals the HOF fold on float and double arrays") {
    val rnd = new scala.util.Random(17)
    val fvecs = (0L until 64L).map(i => (i, Array.fill(9)(rnd.nextFloat() * 4 - 2)))
      .toDF("id", "emb")
    Seq(1, 4, 8, 20).foreach { bits =>
      val mismatch = fvecs.select(
        Similarity.lshBucket(col("emb"), bits, 42L).as("n"),
        HofReference.lshBucketHof(col("emb"), bits, 42L).as("h"))
        .filter(col("n") =!= col("h")).count()
      assert(mismatch == 0, s"float path diverges at bits=$bits")
    }
    // double path (the oversampler's feature vectors)
    val dvecs = (0L until 64L).map(i => (i, Array.fill(5)(rnd.nextDouble() * 6 - 3)))
      .toDF("id", "emb")
    val dMismatch = dvecs.select(
      Similarity.lshBucket(col("emb"), 10, 7L).as("n"),
      HofReference.lshBucketHof(col("emb"), 10, 7L).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(dMismatch == 0, "double path diverges")
    // analysis-time rejection of non-array input
    intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(Similarity.lshBucket(col("text"), 4, 42L)).collect()
    }
    // the projection stays inside whole-stage codegen (the point of the
    // native expression — the HOF form was CodegenFallback)
    val plan = fvecs.select(Similarity.lshBucket(col("emb"), 8, 42L))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.filter(_.contains("Project ["))
      .forall(_.contains("*(")), s"LshBucket fell out of codegen:\n$plan")
  }

  test("blocked near-dup pairs: hot blocks skipped deterministically, small blocks pair") {
    val rnd = new scala.util.Random(9)
    def vec() = Array.fill(8)(rnd.nextFloat() - 0.5f)
    val near = vec()
    val hot = (0 until 30).map(i => (i.toLong, "hot", vec()))
    val small = Seq((100L, "ok", near), (101L, "ok", near.map(x => x * 1.1f)))
    val emb = (hot ++ small).toDF("vec_id", "label", "embedding")
    val capped = Similarity.nearDupPairs(emb, "vec_id", "embedding", "label",
      threshold = -1.0, maxBlock = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a < 100 && b < 100 }, "hot-block pairs leaked")
    assert(capped == Set((100L, 101L)), s"small block must still pair: $capped")
    // default cap: hot block passes through untouched
    val full = Similarity.nearDupPairs(emb, "vec_id", "embedding", "label", threshold = -1.0)
      .filter(col("id_a") < 100).count()
    assert(full == 30L * 29 / 2)
  }

  test("ivf topk: probed-list scores equal brute force; full probe = exact top-k") {
    val rnd = new scala.util.Random(5)
    val emb = (0 until 200).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val base = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
    val brute = Similarity.bruteForceTopK(base, "vec_id", "embedding", q, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.ivfTopK(base, "vec_id", "embedding", q, 5, nlist = 8, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, s) => brute.get(id).foreach(bs => assert(bs == s)) }
    // probing EVERY list degenerates to exact brute-force top-k
    val full = Similarity.ivfTopK(base, "vec_id", "embedding", q, 5, nlist = 8, nprobe = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(full == brute)
    // scale shape: assignment is a single codegen'd projection — no join or
    // groupBy row amplification (the round-3 plan materialized N×nlist rows);
    // the only remaining broadcast is the single-row query attach
    // a real parquet scan — on the in-memory fixture Catalyst const-folds
    // the whole assignment into the LocalRelation, hiding the plan shape
    val tmp = java.nio.file.Files.createTempDirectory("ivf_plan").toString
    base.write.mode("overwrite").parquet(tmp)
    val plan = Similarity.ivfTopK(spark.read.parquet(tmp), "vec_id", "embedding", q, 5,
        nlist = 8, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cosineargmax"), s"native argmax missing:\n$plan")
    assert(!plan.contains("HashAggregate"), s"assignment aggregate resurfaced:\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).size == 1, s"extra broadcasts:\n$plan")
  }

  test("ivfTopK rejects a multi-row query before persisting or building anything") {
    val rnd = new scala.util.Random(29)
    val emb = (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    graft.ops.StorageScope.global.release()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emb.filter(col("vec_id") >= 2), "vec_id", "embedding",
        emb.filter(col("vec_id") < 2), 5, nlist = 4, nprobe = 2)
    }
    assert(e.getMessage.contains("single query row"), e.getMessage)
    assert(graft.ops.StorageScope.global.size == 0, "corpus persist retained")
    assert(emb.filter(col("vec_id") >= 2).select(col("vec_id"), col("embedding"))
      .storageLevel == org.apache.spark.storage.StorageLevel.NONE, "corpus cache entry added")
    assert(spark.sparkContext.getPersistentRDDs.size == rddsBefore, "persistent RDD added")
  }

  test("ivf Lloyd refinement: recall improves on a clustered corpus, deterministic") {
    // 8 tight, well-separated direction clusters: the scramble-ordered seed
    // sample lands multiple seeds in some clusters and none in others, so
    // probing misses; one Lloyd step pulls each non-empty list's centroid to
    // its cluster mean, tightening the quantizer
    val rnd = new scala.util.Random(11)
    val protos = (0 until 8).map(_ => Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val emb = (0 until 400).map { i =>
      val p = protos(i % 8)
      (i.toLong, p.map(x => x + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val base = emb.filter(col("vec_id") >= 8)
    def recall(lloyd: Int): Double = {
      val qs = (0L until 8L).map { qid =>
        val q = emb.filter(col("vec_id") === qid)
        val brute = Similarity.bruteForceTopK(base, "vec_id", "embedding", q, 10)
          .collect().map(_.getLong(0)).toSet
        val ivf = Similarity.ivfTopK(base, "vec_id", "embedding", q, 10,
          nlist = 8, nprobe = 1, lloydIters = lloyd)
          .collect().map(_.getLong(0)).toSet
        (ivf & brute).size.toDouble / brute.size
      }
      qs.sum / qs.size
    }
    val r0 = recall(0)
    val r1 = recall(1)
    assert(r1 >= r0, s"Lloyd step must not hurt recall: $r0 -> $r1")
    assert(r1 >= 0.9, s"refined quantizer should near-solve the clustered fixture: $r1")
    // deterministic: same input -> bit-identical centroids on repeat runs
    val c1 = Similarity.ivfCentroids(base, "vec_id", "embedding", 8, 1)
    val c2 = Similarity.ivfCentroids(base.repartition(7), "vec_id", "embedding", 8, 1)
    assert(c1.map(_._1) == c2.map(_._1))
    c1.zip(c2).foreach { case ((_, a), (_, b)) =>
      assert(java.util.Arrays.equals(a, b), "Lloyd centroids not partition-invariant")
    }
  }

  test("NaN cosine sorts greatest across the family (oracle ORDER BY ... DESC order)") {
    // zero-norm vectors make cosine NaN; DuckDB and Spark both rank NaN
    // FIRST on a descending sort, so the heap/argmax must agree (round-4
    // advice: they used to skip NaN — the opposite of the claimed parity)
    val b = new graft.functions.CosTopK.Buffer(2)
    Seq((0.9, 1L), (Double.NaN, 7L), (0.5, 2L), (Double.NaN, 3L))
      .foreach { case (c, i) => b.insert(c, i) }
    val kept = (0 until b.size).map(j => (b.cs(j), b.ids(j)))
    assert(kept.forall(_._1.isNaN) && kept.map(_._2).toSet == Set(3L, 7L),
      s"NaN must evict finite scores: $kept")
    val agg = graft.functions.CosTopK(
      org.apache.spark.sql.catalyst.expressions.Literal(1.0),
      org.apache.spark.sql.catalyst.expressions.Literal(1L), 2)
    val out = agg.eval(b).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    // NaN ties break id-asc like the oracle's ROW_NUMBER
    assert(out.getStruct(0, 2).getLong(1) == 3L && out.getStruct(1, 2).getLong(1) == 7L)
    // argmax: a zero-norm (NaN-cosine) centroid wins over any finite one,
    // NaN ties to the lowest centroid id
    val e = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "emb")
    val cents = Seq(5L -> Array(1.0, 0.0), 9L -> Array(0.0, 0.0), 4L -> Array(0.0, 0.0))
    val got = e.select(graft.functions.CosineArgMax.cosine_argmax(col("emb"), cents))
      .collect()(0).getLong(0)
    assert(got == 4L, s"NaN centroid (lowest id) must win: got $got")
    // end-to-end: a zero-norm corpus vector ranks first in batch top-k,
    // matching Spark's own orderBy(desc) on the same scores
    val corpus = Seq((10L, Array(1.0f, 0.0f)), (11L, Array(0.0f, 0.0f)),
      (12L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val qdf = Seq((0L, Array(1.0f, 0.0f))).toDF("qid", "embedding")
    val batch = Similarity.bruteForceTopKBatch(corpus, "vec_id", "embedding",
      qdf, "qid", 3).collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(batch(1) == 11L, s"NaN row must rank 1: $batch")
  }

  test("batch ivf: distributed probe selection handles query sets past the old 4096 cap") {
    val rnd = new scala.util.Random(23)
    val emb = (0 until 200).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val queries = (1000L until 6000L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
      .toDF("qid", "embedding")
    val got = Similarity.ivfTopKBatch(emb, "vec_id", "embedding", queries, "qid",
      k = 3, nlist = 8, nprobe = 8)
    // nprobe = nlist: every query probes everything, so each of the 5,000
    // queries gets exactly k exact-brute-force rows
    assert(got.count() == 5000L * 3)
    // spot-check one query against single-query brute force
    val one = got.filter(col("qid") === 1234L)
      .collect().map(r => r.getLong(2)).toSet
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries.filter(col("qid") === 1234L), 3).collect().map(_.getLong(0)).toSet
    assert(one == brute)
  }

  test("CosineArgMax canonicalizes by centroid CONTENT; broadcast variant matches") {
    val cents1 = Seq(1L -> Array(1.0, 0.0), 2L -> Array(0.0, 1.0))
    val cents2 = Seq(1L -> Array(1.0, 0.0), 2L -> Array(0.0, 1.0)) // distinct arrays
    import org.apache.spark.sql.graftbridge.Bridge
    val e = Bridge.expression(col("emb"))
    val a = graft.functions.CosineArgMax(e, graft.functions.Centroids(cents1))
    val b = graft.functions.CosineArgMax(e, graft.functions.Centroids(cents2))
    assert(a == b && a.hashCode == b.hashCode,
      "semantically identical argmax expressions must compare equal (CSE/canonicalization)")
  }

  test("CosineArgMax breaks cosine ties to the lowest centroid id") {
    val e = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "emb")
    // two identical centroids (cos ties exactly) + one orthogonal
    val cents = Seq(9L -> Array(2.0, 0.0), 3L -> Array(2.0, 0.0), 5L -> Array(0.0, 1.0))
    val got = e.select(graft.functions.CosineArgMax.cosine_argmax(col("emb"), cents))
      .collect()(0).getLong(0)
    assert(got == 3L)
    // null embedding → null assignment (nullIntolerant)
    val n = Seq((1L, null: Array[Float])).toDF("id", "emb")
      .select(graft.functions.CosineArgMax.cosine_argmax(col("emb"), cents)).collect()(0)
    assert(n.isNullAt(0))
  }

  test("batch topk: per-query results equal single-query brute force, partitioning-invariant") {
    val rnd = new scala.util.Random(5)
    val emb = (0 until 200).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id") >= 3)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding"))
    def run(df: org.apache.spark.sql.DataFrame) = Similarity
      .bruteForceTopKBatch(df, "vec_id", "embedding", queries, "qid", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batch = run(corpus)
    (0L until 3L).foreach { qid =>
      val single = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        emb.filter(col("vec_id") === qid), 5)
        .collect().zipWithIndex.map { case (r, i) => (qid, i + 1) -> (r.getLong(0), r.getDouble(1)) }
      single.foreach { case (key, v) => assert(batch(key) == v, s"mismatch at $key") }
    }
    assert(batch.size == 15)
    // the (score, -id) total order makes the kept set merge-order-invariant
    assert(run(corpus.repartition(13)) == batch)
    // scale shape: ONE keyed aggregation, partial-aggregated (map side ships
    // at most k entries per query) — no window, no collect_list
    val plan = Similarity
      .bruteForceTopKBatch(corpus.repartition(4), "vec_id", "embedding", queries, "qid", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_costopk"), s"no partial aggregation:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("collect_list"))
  }

  test("batch ivf/lsh topk agree with their single-query operators per query") {
    val rnd = new scala.util.Random(5)
    val emb = (0 until 200).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id") >= 3)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding"))
    // full probe (nprobe = nlist) degenerates to exact per-query brute force
    val ivfFull = Similarity.ivfTopKBatch(corpus, "vec_id", "embedding", queries, "qid",
      k = 5, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    (0L until 3L).foreach { qid =>
      val single = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        emb.filter(col("vec_id") === qid), 5)
        .collect().zipWithIndex.map { case (r, i) => (qid, i + 1) -> (r.getLong(0), r.getDouble(1)) }
      single.foreach { case (key, v) => assert(ivfFull(key) == v, s"ivf mismatch at $key") }
    }
    // partial probe returns a subset with brute-force-equal scores
    val ivfPart = Similarity.ivfTopKBatch(corpus, "vec_id", "embedding", queries, "qid",
      k = 5, nlist = 8, nprobe = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    assert(ivfPart.nonEmpty)
    // lsh batch ≡ single-query lshTopK per query
    val lshBatch = Similarity.lshTopKBatch(corpus, "vec_id", "embedding", queries, "qid",
      k = 5, bits = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    (0L until 3L).foreach { qid =>
      val single = Similarity.lshTopK(corpus, "vec_id", "embedding",
        emb.filter(col("vec_id") === qid), 5, bits = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(lshBatch.getOrElse(qid, Set.empty) == single, s"lsh mismatch at $qid")
    }
  }

  test("CosTopK heap: eviction, ties to lowest id, serde round-trip") {
    val b = new graft.functions.CosTopK.Buffer(3)
    Seq((0.5, 10L), (0.9, 3L), (0.1, 7L), (0.9, 2L), (0.7, 5L), (0.1, 1L))
      .foreach { case (c, i) => b.insert(c, i) }
    val agg = graft.functions.CosTopK(
      org.apache.spark.sql.catalyst.expressions.Literal(1.0),
      org.apache.spark.sql.catalyst.expressions.Literal(1L), 3)
    def entries(buf: graft.functions.CosTopK.Buffer) =
      (0 until buf.size).map(j => (buf.cs(j), buf.ids(j))).toSet
    // kept: 0.9@2, 0.9@3, 0.7@5 (0.9 ties keep BOTH; 0.5/0.1s evicted)
    assert(entries(b) == Set((0.9, 2L), (0.9, 3L), (0.7, 5L)))
    // serde round-trip preserves the kept set
    assert(entries(agg.deserialize(agg.serialize(b))) == entries(b))
    // eval order: score desc, id asc
    val out = agg.eval(b).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val rows = (0 until out.numElements()).map { j =>
      val r = out.getStruct(j, 2); (r.getDouble(0), r.getLong(1))
    }
    assert(rows == Seq((0.9, 2L), (0.9, 3L), (0.7, 5L)))
    // NaN scores (zero-norm cosine) sort GREATEST — the oracle's
    // ORDER BY cos_sim DESC order in both DuckDB and Spark — and stay
    // merge-order-invariant because the comparison is a total order
    val bn = new graft.functions.CosTopK.Buffer(2)
    Seq((Double.NaN, 9L), (0.5, 1L), (Double.NaN, 8L), (0.8, 2L), (0.6, 3L))
      .foreach { case (c, i) => bn.insert(c, i) }
    assert(entries(bn).map(_._2) == Set(8L, 9L) && entries(bn).forall(_._1.isNaN))
  }

  test("lsh topk agrees with brute force on the shared candidates") {
    val rnd = new scala.util.Random(5)
    val emb = (0 until 200).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0)
    val brute = Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.lshTopK(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 5, bits = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // lsh returns a subset of the space; every returned score must equal brute-force's
    lsh.foreach { case (id, s) => brute.get(id).foreach(bs => assert(bs == s)) }
    assert(lsh.nonEmpty)
  }
}
