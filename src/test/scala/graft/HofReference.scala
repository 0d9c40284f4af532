package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TokHash
import graft.ops.TextAnalysis

/** Reference implementations the specs compare the native codegen'd
  * expressions against: the Spark higher-order-function (HOF) forms each
  * native expression replaced. They are CodegenFallback and 1–2 orders of
  * magnitude slower, so no query runs them; they stay as an independent
  * second implementation of each fold's arithmetic. */
object HofReference {

  // — Similarity (native: graft.functions.CosineSim, LshBucket)

  /** Deterministic left-to-right double dot product of two float arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** HOF cosine — reference for `Similarity.cosine`. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** HOF form of `Similarity.lshBucket` (the `bits` per-plane
    * `aggregate(transform(...))` folds are CodegenFallback and re-walk the
    * array per bit; the native expression replaced them on every hot path). */
  def lshBucketHof(emb: Column, bits: Int, seed: Long): Column = {
    val sig = (0 until bits).map { b =>
      // deterministic pseudo-random hyperplane: w_i = mix(seed,b,i) mapped to ±1
      val proj = aggregate(
        transform(emb, (x, i) =>
          x.cast("double") *
            (pmod(((i + lit(1)) * lit(2654435761L) + lit(seed + b * 7919L)) * lit(40503L), lit(1000003L))
              .cast("double") / lit(500001.5) - lit(1.0))),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    sig.reduce((a, b) => a + b)
  }

  // — TextAnalysis (native: graft.functions.TextExprs LangId, DocFingerprint)

  /** HOF reference form of `TextAnalysis.withLangId` (slow). */
  def withLangIdHof(df: DataFrame, textCol: String = "text", out: String = "lang_pred"): DataFrame = {
    import TextAnalysis.LangMarkers
    val toks = split(col(textCol), " ")
    val scored = LangMarkers.foldLeft(df) { case (acc, (lang, markers)) =>
      acc.withColumn(s"__s_$lang", size(filter(toks, t => t.isin(markers.map(lit): _*))))
    }
    // fold builds last-wins, so iterate reversed: the FIRST maximal language wins
    val best = LangMarkers.map(_._1).reverse.foldLeft(lit("und")) { (acc, lang) =>
      when(col(s"__s_$lang") === greatest(LangMarkers.map(l => col(s"__s_${l._1}")): _*) &&
        col(s"__s_$lang") > 0, lit(lang)).otherwise(acc)
    }
    scored.withColumn(out, best).drop(LangMarkers.map(l => s"__s_${l._1}"): _*)
  }

  /** HOF reference form of `TextAnalysis.fingerprint`. */
  def fingerprintHof(text: Column): Column =
    aggregate(split(text, " "), lit(0L),
      (acc, t) => pmod(acc * lit(131L) + TokHash.tok_hash(t), lit(1000003L)))

  // — Dedup (native: graft.functions.TextExprs MinHashSig, SimHash32)

  /** Word k-shingles of a text column. */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    // shingle i = tokens[i..i+k): build via transform over 0..n-k
    filter(
      transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => array_join(slice(toks, i + 1, lit(k)), " ")),
      s => length(s) > 0)
  }

  /** Shingle-hash array (the native path is the `MinHashSig` expression). */
  def shingleHashes(text: Column, k: Int): Column =
    transform(shingles(text, k), s => TokHash.tok_hash(s))

  /** MinHash signature from a stored shingle-hash array: for each of
    * `numHashes` seeded affine permutations, the min of (a*h + b) mod p. */
  def minHashSigFromHashes(hashes: Column, numHashes: Int): Column = {
    val p = 2147483647L // 2^31-1 (Mersenne prime)
    val sig = (0 until numHashes).map { j =>
      val a = 1223543677L + 2654435761L * j
      val b = 1327217885L + 40503L * j
      array_min(transform(hashes, h => pmod(h * lit(a % p) + lit(b % p), lit(p))))
    }
    array(sig: _*)
  }

  /** 32-bit SimHash from a stored token-hash array (bit votes ±1). */
  def simHashFromHashes(hashes: Column): Column = {
    val bits = (0 until 32).map { b =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** Token-hash array with bit spreading. */
  def tokenHashes(text: Column): Column =
    transform(split(text, " "), t => TokHash.tok_hash(t) * lit(2654435761L))
}
