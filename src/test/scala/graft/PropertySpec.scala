package graft

import java.sql.Timestamp
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.ops._

/** scalacheck property suite (FIXTURES.md F3): random transcript tables with
  * adversarial shapes — empty conversations, single turns, duplicate
  * timestamps, all-tool conversations. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic scalacheck sampling (no scalatestplus bridge offline):
    * one seeded batch of cases per property. */
  private def cases[A](g: Gen[A], n: Int = 15): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(42L))

  private val cols = TranscriptCols.turns

  private val genConv: Gen[Seq[Turn]] = for {
    convId <- Gen.alphaLowerStr.map(s => "c" + s.take(6))
    n <- Gen.choose(1, 40)
    roles <- Gen.listOfN(n, Gen.oneOf(Turn.roles))
    gaps <- Gen.listOfN(n, Gen.oneOf(0L, 1L, 30L, 1799L, 1800L, 1801L, 7200L))
  } yield {
    var t = 1704067200L
    roles.zip(gaps).zipWithIndex.map { case ((r, g), i) =>
      t += g
      Turn(convId, i, r, s"$convId:t$i", if (r == "tool") "exec" else null, new Timestamp(t * 1000L))
    }
  }

  private val genTable: Gen[Seq[Turn]] =
    Gen.choose(0, 8).flatMap(k => Gen.listOfN(k, genConv)).map(_.flatten)

  test("property: session count = gap count + 1 per non-empty conversation (strict > threshold)") {
    cases(genTable).filter(_.nonEmpty).foreach { turns =>
      {
        val got = Sessionize.sessions(turns.toDF(), cols, 1800L)
          .groupBy("conv_id").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        turns.groupBy(_.conv_id).foreach { case (cid, ts) =>
          val sorted = ts.sortBy(_.turn_idx)
          val expected = 1 + sorted.sliding(2).count {
            case Seq(a, b) => (b.ts.getTime - a.ts.getTime) > 1800L * 1000L
            case _ => false
          }
          assert(got(cid) == expected, s"conv $cid")
        }
      }
    }
  }

  test("property: pivot counts sum to the table size; min <= avg <= max in running stats") {
    cases(genTable).filter(_.nonEmpty).foreach { turns =>
      {
        val df = turns.toDF()
        val piv = PivotCounts(df, Seq("conv_id"), "role", Turn.roles)
        val total = piv.select(Turn.roles.map(r => sum(col(s"${r}_count"))).reduce(_ + _))
          .collect()(0).getLong(0)
        assert(total == turns.size)
        val counted = df.withColumn("v", length(col("text")).cast("long"))
        RunningStats.pointInTime(counted, Seq("conv_id"), cols, Seq("v"))
          .select("v_run_min", "v_run_avg", "v_run_max").collect().foreach { r =>
            assert(r.getLong(0) <= r.getDouble(1) + 1e-9 && r.getDouble(1) <= r.getLong(2) + 1e-9)
          }
      }
    }
  }

  test("property: input permutation never changes the PIT anchor vectors") {
    cases(genTable, 8).filter(_.size > 1).foreach { turns =>
      {
        val binding = graft.features.BehaviorBinding("user", "assistant", "system", "tool")
        def result(df: org.apache.spark.sql.DataFrame) =
          PitPipeline.anchorFeatures(df, cols, Turn.roles, binding, 3600L)
            .collect().map(_.toSeq).toSet
        val base = turns.toDF()
        assert(result(base) == result(base.orderBy(rand(7))))
      }
    }
  }

  test("property: as-of join result never references a right row after the anchor") {
    val genRight: Gen[Seq[(Long, Long, Double)]] =
      Gen.listOf(Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 100L), Gen.choose(0, 99).map(_.toDouble)))
    val genLeft: Gen[Seq[(Long, Long)]] =
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 100L)))
    cases(Gen.zip(genLeft, genRight), 10).foreach { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (k, i.toLong, new Timestamp(t * 1000)) }
        .toDF("user_id", "event_id", "ts")
      val right = rs.zipWithIndex.map { case ((k, t, v), i) => (k, new Timestamp(t * 1000), (1000 + i).toLong, v) }
        .toDF("user_id", "ts", "event_id", "value")
      val out = graft.plans.AsOfPlan.asOfJoin(left, right, "user_id", "ts", "event_id", Seq("event_id", "value"))
        .collect()
      val rightTs = rs.zipWithIndex.map { case ((k, t, _), i) => (1000L + i) -> (k, t) }.toMap
      val leftTs = ls.zipWithIndex.map { case ((k, t), i) => i.toLong -> (k, t) }.toMap
      out.foreach { r =>
        Option(r.get(r.fieldIndex("asof_event_id"))).foreach { rid =>
          val (rk, rt) = rightTs(rid.asInstanceOf[Long])
          val (lk, lt) = leftTs(r.getLong(r.fieldIndex("event_id")))
          assert(rk == lk && rt <= lt, "leakage: matched right row after anchor or wrong key")
        }
      }
    }
  }

  test("property: native text expressions ≡ HOF forms on arbitrary unicode text") {
    // adversarial strings the curated fixtures can't cover: leading/trailing/
    // repeated spaces, empty, non-BMP code points, mixed CJK/emoji/ascii
    val genText: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumStr.map(_.take(6)),
      3 -> Gen.const(""),
      2 -> Gen.oneOf("the", "la", "und", "le5"),
      1 -> Gen.oneOf("😀", "汉字", "a😀b", "ñé"),
      1 -> Gen.const(" ") // doubles a separator when joined
    )).map(_.mkString(" "))
    val texts = cases(genText, n = 120).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text").repartition(4).cache()
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    import graft.functions.TextExprs
    assert(m(df.select(col("doc_id"), TextExprs.token_count(col("text")).as("v"))) ==
      m(df.select(col("doc_id"), size(split(col("text"), " ")).as("v"))), "token_count")
    assert(m(df.select(col("doc_id"),
        TextExprs.token_set_count(col("text"), TextAnalysis.Stopwords).as("v"))) ==
      m(df.select(col("doc_id"), size(filter(split(col("text"), " "),
        t => t.isin(TextAnalysis.Stopwords.map(lit): _*))).as("v"))), "token_set_count")
    assert(m(TextAnalysis.withLangId(df).select(col("doc_id"), col("lang_pred"))) ==
      m(HofReference.withLangIdHof(df).select(col("doc_id"), col("lang_pred"))), "lang_id")
    assert(m(df.select(col("doc_id"),
        transform(Dedup.minHashSig(col("text"), 3, 12), _.cast("string")).as("v"))) ==
      m(df.select(col("doc_id"),
        transform(HofReference.minHashSigFromHashes(HofReference.shingleHashes(col("text"), 3), 12),
          _.cast("string")).as("v"))), "minhash")
    assert(m(df.select(col("doc_id"), Dedup.simHash(col("text")).as("v"))) ==
      m(df.select(col("doc_id"),
        HofReference.simHashFromHashes(HofReference.tokenHashes(col("text"))).as("v"))), "simhash")
    df.unpersist()
  }

  test("property: connectedComponents equals union-find on arbitrary graphs") {
    // random graphs incl. isolated nodes, self-loops, chains, duplicate and
    // reversed edges, spread over several partitions — the per-partition
    // forests + global fold must equal the sequential union-find every time
    val genGraph: Gen[(Seq[Long], Seq[(Long, Long)])] = for {
      n <- Gen.choose(1, 30)
      m <- Gen.choose(0, 40)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
      d <- Gen.choose(0, m)
    } yield ((0L until n.toLong), edges ++ edges.take(d) ++ edges.takeRight(d).map(_.swap))
    def find(p: scala.collection.mutable.Map[Long, Long], x: Long): Long =
      if (p(x) == x) x else { val r = find(p, p(x)); p(x) = r; r }
    cases(genGraph, n = 10).foreach { case (nodes, edges) =>
      val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(parent, a), find(parent, b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = nodes.map(x => x -> find(parent, x)).toMap
      val nodesDf = nodes.toDF("doc_id")
      val edgesDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        else edges.toDF("id_a", "id_b").repartition(3)
      val got = Dedup.connectedComponents(nodesDf, edgesDf, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"edges=$edges")
    }
    // an edge with a null endpoint joins nothing
    val withNulls = Seq[(Option[Long], Option[Long])]((Some(0L), Some(1L)), (None, Some(2L)),
      (Some(3L), None), (Some(4L), Some(3L)), (None, None)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents((0L to 4L).toDF("doc_id"), withNulls, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 3L), s"null endpoints: $got")
  }
}
