package graft

import graft.features.FeatureLayers

/** DuckDB oracle SQL for every SQL-expressible query in SparkEntry.queries.
  *
  * Built programmatically from the same quartet/binding (and, for the
  * engineered layers, from the SAME formula AST that builds the Catalyst
  * plan — `graft.features.Formula.toSql`), so engine and oracle cannot drift.
  *
  * Numeric-parity rules used throughout (SURVEY §7.5 float-parity plan):
  *   - counts stay integral end-to-end (BIGINT);
  *   - every mean is written as CAST(SUM AS DOUBLE)/CAST(COUNT AS DOUBLE) —
  *     one IEEE division of exact integers, no order-dependent float sums;
  *   - engineered features are pure double expression trees, identical
  *     shape in both engines → bit-identical results.
  */
object OracleSql {
  import Pipelines.quartet

  private val countCols = quartet.map(q => s"${q}_count")

  /** T1 slot CTE chain (mirrors Pipelines.slots). */
  val slotsCte: String = {
    val pivots = quartet.map(q =>
      s"CAST(SUM(CASE WHEN event_type = '$q' THEN 1 ELSE 0 END) AS BIGINT) AS ${q}_count").mkString(", ")
    s"""slotted AS (
       |  SELECT user_id,
       |    CASE WHEN isodow(ts) >= 6 THEN 'Weekend' ELSE 'Weekday' END AS day_type,
       |    CASE WHEN hour(ts) BETWEEN 0 AND 5 THEN 'Early Morning'
       |         WHEN hour(ts) BETWEEN 6 AND 11 THEN 'Morning'
       |         WHEN hour(ts) BETWEEN 12 AND 17 THEN 'Afternoon'
       |         WHEN hour(ts) BETWEEN 18 AND 23 THEN 'Late Night' END AS time_period,
       |    event_type
       |  FROM events
       |  WHERE event_type IN (${quartet.map(q => s"'$q'").mkString(", ")})
       |),
       |slots AS (
       |  SELECT user_id, day_type, time_period, $pivots
       |  FROM slotted GROUP BY user_id, day_type, time_period
       |)""".stripMargin
  }

  val slotsSelect: String =
    s"SELECT user_id, day_type, time_period, ${countCols.mkString(", ")}, " +
      "CASE WHEN purchase_count > 0 THEN 1 ELSE 0 END AS purchase_yn FROM slots"

  val qCalendarSlots: String = s"WITH $slotsCte\n$slotsSelect"

  /** T2 bot filter (mirrors Pipelines.slotsCleaned). */
  val cleanedCte: String =
    s"""$slotsCte,
       |labeled AS ($slotsSelect),
       |thr AS (
       |  SELECT quantile_cont(view_count, 0.99) AS p99v,
       |         quantile_cont(purchase_count, 0.99) AS p99b
       |  FROM labeled
       |),
       |cleaned AS (
       |  SELECT s.* FROM labeled s, thr t
       |  WHERE NOT ((s.view_count > t.p99v AND s.purchase_count = 0)
       |          OR (s.purchase_count > t.p99b AND s.view_count < 5))
       |)""".stripMargin

  val qSlotClean: String = s"WITH $cleanedCte\nSELECT * FROM cleaned"

  private val statAggs: String = quartet.map { q =>
    s"CAST(MIN(${q}_count) AS BIGINT) AS ${q}_min, CAST(MAX(${q}_count) AS BIGINT) AS ${q}_max, " +
      s"CAST(SUM(${q}_count) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ${q}_avg"
  }.mkString(",\n    ")

  /** T3 entity stats (mirrors Pipelines.entityStats). */
  val qEntityStats: String =
    s"WITH $cleanedCte\nSELECT user_id,\n    $statAggs\nFROM cleaned GROUP BY user_id"

  /** T4 entity grain (mirrors Pipelines.entity — single agg, no join). */
  val entityCte: String = {
    val sums = quartet.map(q => s"CAST(SUM(${q}_count) AS BIGINT) AS ${q}_count").mkString(", ")
    s"""$cleanedCte,
       |entity0 AS (
       |  SELECT user_id, $sums,
       |    $statAggs
       |  FROM cleaned GROUP BY user_id
       |),
       |entity AS (
       |  SELECT *, CASE WHEN purchase_count > 0 THEN 1 ELSE 0 END AS purchase_yn FROM entity0
       |)""".stripMargin
  }

  val qEntity: String = s"WITH $entityCte\nSELECT * FROM entity"

  /** T4 + engineered layers — feature SQL generated from the shared AST. */
  val qEntityFeatures: String = {
    val feats = FeatureLayers.sqlProjections(Pipelines.binding)
      .map { case (n, sql) => s"$sql AS $n" }.mkString(",\n  ")
    s"WITH $entityCte\nSELECT entity.*,\n  $feats\nFROM entity"
  }

  /** Sessionization (mirrors Sessionize.sessions, gap = 1800 s). */
  val qSessionize: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_start
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |),
      |sid AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session_id
      |  FROM g
      |)
      |SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_turns,
      |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
      |FROM sid GROUP BY user_id, session_id""".stripMargin

  /** Point-in-time running stats over value-cents (mirrors q_running_stats). */
  val qRunningStats: String =
    """WITH c AS (
      |  SELECT user_id, event_id, ts, CAST(round(value * 100) AS BIGINT) AS value_c
      |  FROM events
      |)
      |SELECT user_id, event_id,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS run_cnt,
      |  CAST(MIN(value_c) OVER w AS BIGINT) AS value_c_run_min,
      |  CAST(MAX(value_c) OVER w AS BIGINT) AS value_c_run_max,
      |  CAST(SUM(value_c) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE) AS value_c_run_avg
      |FROM c
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Lag/lead turn features (mirrors LagLead.withLagLead). */
  val qLagLead: String =
    """SELECT user_id, event_id,
      |  LAG(event_type) OVER w AS prev_role,
      |  LEAD(event_type) OVER w AS next_role,
      |  epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS dt_prev_us,
      |  LEAD(epoch_us(ts)) OVER w - epoch_us(ts) AS dt_next_us,
      |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS turn_rank
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  /** Backward as-of join: every event ← latest purchase at-or-before it
    * (mirrors AsOfJoin semantics; DuckDB's native ASOF JOIN is the oracle). */
  val qAsofJoin: String =
    """WITH p0 AS (
      |  SELECT user_id, ts, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      |  FROM events WHERE event_type = 'purchase'
      |),
      |p AS (SELECT user_id, ts, event_id, value FROM p0 WHERE rn = 1)
      |SELECT e.user_id, e.event_id, p.event_id AS asof_event_id, p.value AS asof_value
      |FROM events e
      |ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin

  /** Sliding last-3-rows per-entity stats (mirrors q_sliding_stats). */
  val qSlidingStats: String =
    """WITH c AS (
      |  SELECT user_id, event_id, ts, CAST(round(value * 100) AS BIGINT) AS value_c
      |  FROM events
      |)
      |SELECT user_id, event_id,
      |  CAST(COUNT(*) OVER w AS BIGINT) AS win_n,
      |  CAST(MIN(value_c) OVER w AS BIGINT) AS win_min,
      |  CAST(MAX(value_c) OVER w AS BIGINT) AS win_max,
      |  CAST(SUM(value_c) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE) AS win_avg
      |FROM c
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Per-group top-3 by value (mirrors q_topk_per_group). */
  val qTopkPerGroup: String =
    """WITH c AS (
      |  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS value_c
      |  FROM events
      |),
      |r AS (
      |  SELECT user_id, event_id, value_c,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY value_c DESC, event_id) AS INTEGER) AS rk
      |  FROM c
      |)
      |SELECT user_id, event_id, value_c, rk FROM r WHERE rk <= 3""".stripMargin

  /** Hourly tumbling windows (mirrors Windowize.withTumblingWindow(3600)). */
  val qTumblingHour: String =
    """SELECT user_id, date_trunc('hour', ts) AS window_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      |FROM events GROUP BY user_id, date_trunc('hour', ts)""".stripMargin

  /** Quality-gate CTE chain (t → s → scored) over `src` — shared by
    * qDocQuality and qCorpusCuration (mirrors TextAnalysis.qualityFiltered:
    * integer-exact rule stack, cross-multiplied ratio bounds). */
  private def qualityCtes(src: String): String = {
    val markers = graft.ops.TextAnalysis.LangMarkers
    val scores = markers.map { case (l, ws) =>
      s"len(list_filter(tk, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$l"
    }.mkString(",\n    ")
    val greatestS = markers.map { case (l, _) => s"s_$l" }.mkString("GREATEST(", ", ", ")")
    val langCases = markers.map { case (l, _) =>
      s"WHEN s_$l = $greatestS AND s_$l > 0 THEN '$l'"
    }.mkString("\n      ")
    val stop = graft.ops.TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM $src
       |),
       |s AS (
       |  SELECT doc_id,
       |    CAST(len(tk) AS INTEGER) AS n_tokens,
       |    CAST(len(list_filter(tk, x -> x IN ($stop))) AS INTEGER) AS n_stop,
       |    $scores
       |  FROM t
       |),
       |scored AS (
       |  SELECT doc_id, n_tokens,
       |    (CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 1 ELSE 0 END
       |     + CASE WHEN n_stop * 100 >= n_tokens AND n_stop * 10 <= n_tokens * 6 THEN 1 ELSE 0 END
       |     + CASE WHEN (CASE $langCases ELSE 'und' END) = 'en' THEN 1 ELSE 0 END) AS quality_score
       |  FROM s
       |)""".stripMargin
  }

  /** Composite document-quality gate. */
  val qDocQuality: String =
    s"""WITH ${qualityCtes("documents")}
       |SELECT doc_id, CAST(quality_score AS INTEGER) AS quality_score, n_tokens
       |FROM scored WHERE quality_score >= 2""".stripMargin

  /** Opaque-binary metadata over utf-8 blobs (mirrors q_binary_meta). */
  val qBinaryMeta: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      |  hex(encode(text))[1:16] AS head_hex,
      |  hex(encode(text))[33:48] AS frame_hex
      |FROM documents""".stripMargin

  /** Exact dedup over documents (hash-groupBy semantics). */
  val qDedupExact: String =
    """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, COUNT(*) AS n_dups
      |FROM documents GROUP BY text""".stripMargin

  /** Token/quality text stats over documents. */
  val qTokenStats: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |  CAST(length(text) AS INTEGER) AS n_chars_seen,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS INTEGER) AS n_stopwords,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
      |  (CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) AS DOUBLE) + CAST(1 AS DOUBLE))
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
      |FROM documents""".stripMargin

  /** Flagship PIT backfill over events: tumbling-hour window states →
    * running per-entity stats → engineered layers → ASOF join to every event
    * anchor (completed windows only). Mirrors PitPipeline.anchorFeatures. */
  val qPitBackfill: String = {
    val wcs = quartet.map(q =>
      s"CAST(SUM(CASE WHEN event_type = '$q' THEN 1 ELSE 0 END) AS BIGINT) AS ${q}_wc").mkString(",\n    ")
    val stats = quartet.map { q =>
      s"""CAST(MIN(${q}_wc) OVER w AS BIGINT) AS ${q}_min,
         |    CAST(MAX(${q}_wc) OVER w AS BIGINT) AS ${q}_max,
         |    CAST(SUM(${q}_wc) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE) AS ${q}_avg,
         |    CAST(SUM(${q}_wc) OVER w AS BIGINT) AS ${q}_count""".stripMargin
    }.mkString(",\n    ")
    val feats = FeatureLayers.sqlProjections(Pipelines.binding)
      .map { case (n, sql) => s"$sql AS $n" }.mkString(",\n    ")
    val outStats = quartet.flatMap(q =>
      Seq(s"f.${q}_min", s"f.${q}_max", s"f.${q}_avg", s"f.${q}_count")).mkString(", ")
    val outFeats = FeatureLayers.sqlProjections(Pipelines.binding)
      .map { case (n, _) => s"f.$n" }.mkString(", ")
    s"""WITH wc AS (
       |  SELECT user_id, date_trunc('hour', ts) AS window_start,
       |    $wcs
       |  FROM events GROUP BY user_id, date_trunc('hour', ts)
       |),
       |states AS (
       |  SELECT user_id, window_start, window_start + INTERVAL 1 HOUR AS window_end,
       |    $stats
       |  FROM wc
       |  WINDOW w AS (PARTITION BY user_id ORDER BY window_start
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |),
       |feat AS (
       |  SELECT states.*,
       |    $feats
       |  FROM states
       |)
       |SELECT e.user_id, e.event_id, $outStats, $outFeats
       |FROM events e
       |ASOF LEFT JOIN feat f ON e.user_id = f.user_id AND e.ts >= f.window_end""".stripMargin
  }

  /** IQR clip of the slot counts (single-pass thresholds). */
  val qIqrClip: String = {
    val clips = countCols.map { c =>
      s"""LEAST(GREATEST(CAST(s.$c AS DOUBLE),
         |    t.q1_$c - 1.5 * (t.q3_$c - t.q1_$c)),
         |    t.q3_$c + 1.5 * (t.q3_$c - t.q1_$c)) AS $c""".stripMargin
    }.mkString(",\n  ")
    val qs = countCols.map(c =>
      s"quantile_cont($c, 0.25) AS q1_$c, quantile_cont($c, 0.75) AS q3_$c").mkString(", ")
    s"""WITH $slotsCte,
       |labeled AS ($slotsSelect),
       |t AS (SELECT $qs FROM labeled)
       |SELECT s.user_id, s.day_type, s.time_period,
       |  $clips,
       |  s.purchase_yn
       |FROM labeled s, t""".stripMargin
  }

  /** Per-column population variance (exact integer-moment form). */
  val qVarianceScreen: String = {
    val rows = countCols.map { c =>
      s"""SELECT '$c' AS feature,
         |  CAST(SUM(CAST($c AS BIGINT) * CAST($c AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |  - (CAST(SUM(CAST($c AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
         |    * (CAST(SUM(CAST($c AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS variance
         |FROM entity""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $entityCte\n$rows"
  }

  /** Alphabetical label encode of event_type. */
  val qLabelEncode: String =
    """WITH dim AS (
      |  SELECT event_type,
      |    CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS INTEGER) AS event_type_code
      |  FROM (SELECT DISTINCT event_type FROM events)
      |)
      |SELECT e.event_id, e.event_type, d.event_type_code
      |FROM events e JOIN dim d USING (event_type)""".stripMargin

  /** Stratified k-fold assignment at entity grain (k=5, Knuth scramble). */
  val qStratifiedFolds: String =
    s"""WITH $entityCte
       |SELECT user_id, purchase_yn,
       |  CAST((ROW_NUMBER() OVER (PARTITION BY purchase_yn
       |    ORDER BY (user_id * 2654435761) % 4294967296, user_id) - 1) % 5 AS INTEGER) AS fold
       |FROM entity""".stripMargin

  /** Epoch parse heuristic + Asia/Shanghai hour floor + calendar encode. */
  val qTsParse: String =
    """WITH raw AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 2 = 0 THEN epoch_us(ts) // 1000000
      |         ELSE epoch_us(ts) // 1000 END AS v
      |  FROM events
      |),
      |parsed AS (
      |  SELECT event_id,
      |    CASE WHEN v > 10000000000 THEN make_timestamp(v * 1000)
      |         ELSE make_timestamp(v * 1000000) END AS ts_utc
      |  FROM raw
      |)
      |SELECT event_id,
      |  date_trunc('hour', ts_utc + INTERVAL 8 HOUR) AS bj_hour,
      |  CASE WHEN isodow(ts_utc + INTERVAL 8 HOUR) >= 6 THEN 'Weekend' ELSE 'Weekday' END AS day_type,
      |  CASE WHEN hour(ts_utc + INTERVAL 8 HOUR) BETWEEN 0 AND 5 THEN 'Early Morning'
      |       WHEN hour(ts_utc + INTERVAL 8 HOUR) BETWEEN 6 AND 11 THEN 'Morning'
      |       WHEN hour(ts_utc + INTERVAL 8 HOUR) BETWEEN 12 AND 17 THEN 'Afternoon'
      |       ELSE 'Late Night' END AS time_period
      |FROM parsed""".stripMargin

  /** Portable char-fold token hash as SQL (mirrors functions.TokHash:
    * acc0=7, acc*31+ascii mod 1000003). */
  private def sqlTokHash(tokenExpr: String): String =
    s"""list_reduce(list_prepend(CAST(7 AS BIGINT),
       |      list_transform(string_split($tokenExpr, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (a, c) -> (a * 31 + c) % 1000003)""".stripMargin

  /** Rolling document fingerprint (mirrors TextAnalysis.fingerprint). */
  val qFingerprint: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ' '),
       |      t -> ${sqlTokHash("t")})),
       |    (acc, h) -> (acc * 131 + h) % 1000003) AS fingerprint
       |FROM documents""".stripMargin

  /** 32-bit SimHash (mirrors Dedup.simHash). */
  val qSimHash: String = {
    val bits = (0 until 32).map { b =>
      s"""CASE WHEN list_sum(list_transform(th,
         |    h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |  THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END""".stripMargin
    }.mkString(" +\n  ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    list_transform(string_split(text, ' '),
       |      t -> ${sqlTokHash("t")} * 2654435761) AS th
       |  FROM documents
       |)
       |SELECT doc_id, $bits AS simhash FROM h""".stripMargin
  }

  /** Language-ID by stopword profile (mirrors TextAnalysis.withLangId). */
  val qLangId: String = {
    val markers = graft.ops.TextAnalysis.LangMarkers
    val scores = markers.map { case (l, ws) =>
      s"len(list_filter(string_split(text, ' '), x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS s_$l"
    }.mkString(",\n    ")
    val greatest = markers.map { case (l, _) => s"s_$l" }.mkString("GREATEST(", ", ", ")")
    val cases = markers.map { case (l, _) =>
      s"WHEN s_$l = $greatest AND s_$l > 0 THEN '$l'"
    }.mkString("\n    ")
    s"""WITH s AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM documents
       |)
       |SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM s""".stripMargin
  }

  /** Shared CTE chain: k=3 word shingles → portable hashes → 12-permutation
    * MinHash signature list `sig(doc_id, sg)` (mirrors Dedup.minHashSig /
    * the native graft.functions.MinHashSig arithmetic exactly). */
  private def minHashSigCteFrom(src: String): String = {
    val p = 2147483647L
    val mins = (0 until 12).map { j =>
      val a = (1223543677L + 2654435761L * j) % p
      val b = (1327217885L + 40503L * j) % p
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $p))"
    }.mkString("[", ",\n    ", "]")
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM $src
       |),
       |sh AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(range(0, GREATEST(len(tk) - 3, 0) + 1),
       |      i -> array_to_string(list_slice(tk, i + 1, i + 3), ' ')),
       |      s -> length(s) > 0) AS shingles
       |  FROM toks
       |),
       |hashes AS (
       |  SELECT doc_id, list_transform(shingles, t -> ${sqlTokHash("t")}) AS hs FROM sh
       |),
       |sig AS (
       |  SELECT doc_id, $mins AS sg FROM hashes
       |)""".stripMargin
  }

  /** MinHash signature (k=3 shingles, 12 hashes) rendered as a joined string
    * (string form keeps the compare portable). */
  val qMinHashSig: String =
    s"""WITH ${minHashSigCteFrom("documents")}
       |SELECT doc_id,
       |  array_to_string(list_transform(sg, x -> CAST(x AS VARCHAR)), '_') AS sig
       |FROM sig""".stripMargin

  /** LSH candidate-pair CTE (mirrors Dedup.minHashLshPairs, incl. its two
    * scale bounds): exact-dup groups collapse to a min-id representative and
    * re-attach as linear star edges; the 12-hash signature of each
    * representative is banded into 4 bands of 3 and bucket-joined, skipping
    * buckets over Dedup.DefaultMaxBucket members. Produces
    * `pairs(id_a, id_b)`. */
  private def lshPairsCteFrom(src: String): String =
    s"""wr AS (
       |  SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY text) AS rep
       |  FROM $src WHERE text IS NOT NULL
       |),
       |exact_edges AS (SELECT rep AS id_a, doc_id AS id_b FROM wr WHERE doc_id <> rep),
       |reps AS (SELECT doc_id, text FROM wr WHERE doc_id = rep),
       |${minHashSigCteFrom("reps")},
       |banded AS (
       |  SELECT doc_id, b.band,
       |    array_to_string(list_transform(
       |      list_slice(sg, b.band * 3 + 1, b.band * 3 + 3),
       |      x -> CAST(x AS VARCHAR)), '_') AS bucket
       |  FROM sig, (SELECT CAST(i AS INTEGER) AS band FROM range(4) t(i)) b
       |),
       |counted AS (
       |  SELECT doc_id, band, bucket, COUNT(*) OVER (PARTITION BY band, bucket) AS bn
       |  FROM banded
       |),
       |pairs AS (
       |  SELECT DISTINCT id_a, id_b FROM (
       |    SELECT l.doc_id AS id_a, r.doc_id AS id_b
       |    FROM counted l JOIN counted r
       |      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
       |    WHERE l.bn <= ${graft.ops.Dedup.DefaultMaxBucket}
       |    UNION ALL
       |    SELECT id_a, id_b FROM exact_edges
       |  ) u
       |)""".stripMargin

  private val lshPairsCte: String = lshPairsCteFrom("documents")

  val qLshPairs: String = s"WITH $lshPairsCte\nSELECT id_a, id_b FROM pairs"

  /** Candidate-then-verify dedup pipeline: LSH candidate pairs → exact
    * token-set Jaccard (mirrors Dedup.ngramJaccard over minHashLshPairs —
    * set sizes are exact ints, one double division). */
  val qJaccardVerify: String =
    s"""WITH $lshPairsCte,
       |g AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS gr FROM documents)
       |SELECT p.id_a, p.id_b,
       |  CAST(len(list_intersect(ga.gr, gb.gr)) AS DOUBLE)
       |    / CAST(len(list_distinct(list_concat(ga.gr, gb.gr))) AS DOUBLE) AS jaccard
       |FROM pairs p
       |JOIN g ga ON ga.doc_id = p.id_a
       |JOIN g gb ON gb.doc_id = p.id_b""".stripMargin

  /** Dedup cluster assignment: min id per connected component over the
    * Jaccard-verified LSH candidate edges — the recursive label closure
    * computes every (node, reachable-id) pair, so MIN(lab) per node equals
    * the component's min id, the root Dedup.connectedComponents' union-find
    * keeps. */
  val qDedupClusters: String =
    s"""WITH RECURSIVE $lshPairsCte,
       |g AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS gr FROM documents),
       |verified AS (
       |  SELECT p.id_a, p.id_b
       |  FROM pairs p
       |  JOIN g ga ON ga.doc_id = p.id_a
       |  JOIN g gb ON gb.doc_id = p.id_b
       |  WHERE CAST(len(list_intersect(ga.gr, gb.gr)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(ga.gr, gb.gr))) AS DOUBLE) >= 0.6
       |),
       |sym AS (
       |  SELECT id_a AS a, id_b AS b FROM verified
       |  UNION
       |  SELECT id_b AS a, id_a AS b FROM verified
       |),
       |reach(node, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node
       |)
       |SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node""".stripMargin

  /** Terminal corpus curation (mirrors ops.Curation.curate, nShards = 8):
    * quality gate → LSH+Jaccard dedup among the CLEAN set → component
    * closure → one survivor per component with its component size and a
    * portable integer shard hash. Stage order matches the engine exactly
    * (dedup sees only quality-passing docs), so survivors/sizes agree. */
  val qCorpusCuration: String =
    s"""WITH RECURSIVE ${qualityCtes("documents")},
       |clean AS (
       |  SELECT d.doc_id, d.text,
       |    CAST(sc.quality_score AS INTEGER) AS quality_score, sc.n_tokens
       |  FROM documents d JOIN scored sc USING (doc_id)
       |  WHERE sc.quality_score >= 2
       |),
       |${lshPairsCteFrom("clean")},
       |g AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS gr FROM clean),
       |verified AS (
       |  SELECT p.id_a, p.id_b
       |  FROM pairs p
       |  JOIN g ga ON ga.doc_id = p.id_a
       |  JOIN g gb ON gb.doc_id = p.id_b
       |  WHERE CAST(len(list_intersect(ga.gr, gb.gr)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(ga.gr, gb.gr))) AS DOUBLE) >= 0.6
       |),
       |symc AS (
       |  SELECT id_a AS a, id_b AS b FROM verified
       |  UNION
       |  SELECT id_b AS a, id_a AS b FROM verified
       |),
       |reach(node, lab) AS (
       |  SELECT doc_id, doc_id FROM clean
       |  UNION
       |  SELECT s2.b, r.lab FROM reach r JOIN symc s2 ON s2.a = r.node
       |),
       |cl AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
       |sizes AS (SELECT cluster_id, COUNT(*) AS n_dups FROM cl GROUP BY cluster_id)
       |SELECT c.doc_id, c.quality_score, c.n_tokens, z.n_dups,
       |  CAST(mod(mod(CAST(c.doc_id AS BIGINT), 2654435761) * 40503, 8) AS INTEGER) AS shard
       |FROM cl
       |JOIN clean c USING (doc_id)
       |JOIN sizes z ON cl.cluster_id = z.cluster_id
       |WHERE cl.doc_id = cl.cluster_id""".stripMargin

  /** Degree-2 interaction-only polynomial features over the entity stats
    * (PolynomialFeatures interaction_only, `LR_Advanced.py:511-528`) —
    * products of deterministic doubles, generated for all C(8,2) pairs of
    * the avg/count columns. */
  val qInteractions: String = {
    val cols = quartet.map(q => s"${q}_avg") ++ quartet.map(q => s"${q}_count")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size } yield
      s"CAST(${cols(i)} AS DOUBLE) * CAST(${cols(j)} AS DOUBLE) AS ${cols(i)}_x_${cols(j)}"
    s"WITH $entityCte\nSELECT user_id,\n  ${pairs.mkString(",\n  ")}\nFROM entity"
  }

  /** Scored-entity CTE: conversion_potential feature as score + label
    * (input to the metrics-operator oracles). */
  private val scoredCte: String = {
    val cp = FeatureLayers.sqlProjections(Pipelines.binding).toMap.apply("conversion_potential")
    s"""$entityCte,
       |scored AS (
       |  SELECT user_id, purchase_yn AS y, $cp AS score FROM entity
       |)""".stripMargin
  }

  /** Confusion-matrix counts at threshold 0.5 (predict 1 when score >= thr,
    * matching the reference's `proba >= thr`, OOF_AUC_test.py:367). */
  val qConfusion: String =
    s"""WITH $scoredCte
       |SELECT y, CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS pred, COUNT(*) AS n
       |FROM scored GROUP BY 1, 2""".stripMargin

  /** Accuracy / precision / recall / F1 at threshold 0.5 (exact counts). */
  val qBinaryMetrics: String =
    s"""WITH $scoredCte,
       |c AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN y = 1 AND score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN y = 0 AND score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN y = 0 AND score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |    CAST(SUM(CASE WHEN y = 1 AND score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM scored
       |)
       |SELECT tp, fp, tn, fn,
       |  CASE WHEN CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE) > 0.0
       |    THEN (CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE)) /
       |      (CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)) END AS accuracy,
       |  CASE WHEN CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) > 0.0
       |    THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) END AS precision,
       |  CASE WHEN CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE) > 0.0
       |    THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) END AS recall,
       |  CASE WHEN 2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE) > 0.0
       |    THEN (2.0 * CAST(tp AS DOUBLE)) /
       |      (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)) END AS f1
       |FROM c""".stripMargin

  /** Distinct-score histogram CTE shared by the rank-based metric oracles
    * (mirrors the per-score counts of the ScoreCurve aggregate). */
  private val scoreHistCte: String =
    """g AS (
      |  SELECT score AS s, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p
      |  FROM scored GROUP BY score
      |)""".stripMargin

  /** ROC AUC via Mann-Whitney with average ranks for ties, in the grouped
    * form Metrics.aucRoc computes: per tie group the positives contribute
    * p·(cum_before + (n+1)/2) — a multiple of 0.5, so the double sum is
    * order-independent and hash-stable. */
  val qAucRoc: String =
    s"""WITH $scoredCte,
       |$scoreHistCte,
       |w AS (
       |  SELECT p, n, CAST(SUM(n) OVER (ORDER BY s) AS BIGINT) AS cum_n FROM g
       |),
       |agg AS (
       |  SELECT
       |    SUM(CAST(p AS DOUBLE) *
       |      (CAST(cum_n - n AS DOUBLE) + (CAST(n AS DOUBLE) + 1.0) / 2.0)) AS sumr,
       |    CAST(SUM(p) AS BIGINT) AS p,
       |    CAST(SUM(n - p) AS BIGINT) AS n
       |  FROM w
       |)
       |SELECT CASE WHEN p > 0 AND n > 0
       |  THEN (sumr - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1.0) / 2.0)
       |    / (CAST(p AS DOUBLE) * CAST(n AS DOUBLE)) END AS auc
       |FROM agg""".stripMargin

  /** OOF precision-recall curve: one row per distinct score threshold
    * (predict positive when score >= s); exact cumulative counts
    * (mirrors Metrics.prCurve). */
  val qPrCurve: String =
    s"""WITH $scoredCte,
       |$scoreHistCte,
       |c AS (
       |  SELECT s, p, n,
       |    CAST(SUM(p) OVER w AS BIGINT) AS tp,
       |    CAST(SUM(n) OVER w AS BIGINT) AS n_pred
       |  FROM g WINDOW w AS (ORDER BY s DESC)
       |),
       |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS tpt FROM g)
       |SELECT c.s AS threshold, c.tp, c.n_pred,
       |  CAST(c.tp AS DOUBLE) / CAST(c.n_pred AS DOUBLE) AS precision,
       |  CASE WHEN t.tpt > 0 THEN CAST(c.tp AS DOUBLE) / CAST(t.tpt AS DOUBLE) END AS recall
       |FROM c, tot t""".stripMargin

  /** Average precision (PR-AUC): sequential ascending-score fold of the same
    * term list Metrics.averagePrecision folds — identical fp order, so the
    * inexact-double scalar is still bit-reproducible across engines. */
  val qAucPr: String =
    s"""WITH $scoredCte,
       |$scoreHistCte,
       |c AS (
       |  SELECT s, p, n,
       |    CAST(SUM(p) OVER w AS BIGINT) AS tp,
       |    CAST(SUM(n) OVER w AS BIGINT) AS n_pred
       |  FROM g WINDOW w AS (ORDER BY s DESC)
       |),
       |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS tpt FROM g),
       |terms AS (
       |  SELECT c.s,
       |    (CAST(c.p AS DOUBLE) / CAST(t.tpt AS DOUBLE))
       |      * (CAST(c.tp AS DOUBLE) / CAST(c.n_pred AS DOUBLE)) AS term
       |  FROM c, tot t WHERE t.tpt > 0
       |)
       |SELECT list_reduce(
       |  list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY s)),
       |  (a, b) -> a + b) AS auc_pr
       |FROM terms""".stripMargin

  /** Calibration bins (10 uniform score bins, clamped). */
  val qCalibration: String =
    s"""WITH $scoredCte
       |SELECT CAST(LEAST(GREATEST(FLOOR(score * 10), 0), 9) AS INTEGER) AS bin,
       |  COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
       |FROM scored GROUP BY 1""".stripMargin

  /** F1 over the 99-threshold grid (predict 1 when score >= threshold). */
  val qThresholdScan: String =
    s"""WITH $scoredCte,
       |th AS (SELECT (i + 1) / 100.0 AS threshold FROM range(99) t(i)),
       |c AS (
       |  SELECT threshold,
       |    CAST(SUM(CASE WHEN y = 1 AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN y = 0 AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN y = 1 AND score < threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM scored, th GROUP BY threshold
       |)
       |SELECT threshold, tp, fp, fn,
       |  CASE WHEN 2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE) > 0.0
       |    THEN (2.0 * CAST(tp AS DOUBLE)) /
       |      (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)) END AS f1
       |FROM c""".stripMargin

  /** Median/mode imputation over synthesized nulls. */
  val qImpute: String =
    """WITH e AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_n,
      |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS event_type_n
      |  FROM events
      |),
      |med AS (SELECT quantile_cont(value_n, 0.5) AS m FROM e),
      |mo AS (
      |  SELECT event_type_n AS mv FROM e WHERE event_type_n IS NOT NULL
      |  GROUP BY 1 ORDER BY COUNT(*) DESC, event_type_n ASC LIMIT 1
      |)
      |SELECT event_id, COALESCE(CAST(value_n AS DOUBLE), med.m) AS value_n,
      |  COALESCE(e.event_type_n, mo.mv) AS event_type_n
      |FROM e, med, mo""".stripMargin

  /** Salted two-phase aggregation == plain GROUP BY (mirrors q_salted_agg;
    * the oracle is the direct form — equality IS the correctness claim). */
  val qSaltedAgg: String =
    """WITH c AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS value_c FROM events
      |)
      |SELECT user_id, COUNT(*) AS n, CAST(SUM(value_c) AS BIGINT) AS value_c,
      |  CAST(MIN(value_c) AS BIGINT) AS value_c_min,
      |  CAST(MAX(value_c) AS BIGINT) AS value_c_max
      |FROM c GROUP BY user_id""".stripMargin

  /** StandardScaler from exact integer moments (mirrors
    * StatOps.standardScaleMoments over value cents). */
  val qStandardScale: String =
    """WITH c AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS value_c FROM events
      |),
      |st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(value_c) AS BIGINT) AS s1,
      |    SUM(CAST(value_c AS HUGEINT) * value_c) AS s2
      |  FROM c
      |)
      |SELECT c.event_id,
      |  (CAST(c.value_c AS DOUBLE) - CAST(st.s1 AS DOUBLE) / CAST(st.n AS DOUBLE))
      |    / sqrt((CAST(st.s2 AS DOUBLE)
      |        - CAST(st.s1 AS DOUBLE) * CAST(st.s1 AS DOUBLE) / CAST(st.n AS DOUBLE))
      |      / CAST(st.n - 1 AS DOUBLE)) AS value_c_scaled
      |FROM c, st""".stripMargin

  /** JSON path extraction over the events props column + rollup
    * (mirrors q_json_extract; exact BIGINT sums). */
  val qJsonExtract: String =
    """SELECT user_id, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
      |FROM events GROUP BY user_id""".stripMargin

  /** Top-20 entities by total activity (TakeOrderedAndProject analog of the
    * reference's top-20 importance listing). */
  val qTopEntities: String =
    s"""WITH $entityCte
       |SELECT user_id,
       |  view_count + click_count + signup_count + purchase_count AS total_activity
       |FROM entity
       |ORDER BY total_activity DESC, user_id LIMIT 20""".stripMargin

  // ── Relational join surface (graft.Relational) ─────────────────────────
  // Money arithmetic: identical expression trees to the Spark plans — the
  // double product is computed first, then round(x*100) to exact cents,
  // then BIGINT sums (order-independent).

  /** TPC-H Q1-style pushdown scan rollup (mirrors Relational.scanAgg). */
  val qScanAgg: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Orders → customer → nation dim joins (mirrors Relational.revenueByNation). */
  val qJoinBroadcast: String =
    """SELECT n.n_name, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name""".stripMargin

  /** Fact-fact lineitem ⋈ orders rollup (mirrors Relational.revenueByPriority). */
  val qJoinFact: String =
    """SELECT o.o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderpriority""".stripMargin

  /** Left semi (EXISTS) — mirrors Relational.ordersWithBigItems(minQty=45). */
  val qJoinSemi: String =
    """SELECT o_orderkey, o_orderpriority FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""".stripMargin

  /** Left anti (NOT EXISTS) — mirrors Relational.customersWithoutPriority. */
  val qJoinAnti: String =
    """SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin

  /** Deterministic double cosine between two list expressions (left-to-right
    * folds — mirrors Similarity.cosine exactly). */
  private def sqlCosine(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)
       |    / (sqrt(list_reduce(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
       |       * sqrt(list_reduce(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)))""".stripMargin

  /** Blocked (label-keyed) near-duplicate pairs with exact cosine verify. */
  val qEmbedSimilar: String =
    s"""WITH e0 AS (SELECT vec_id, label, embedding FROM embeddings),
       |e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, label, embedding,
       |      COUNT(*) OVER (PARTITION BY label) AS bn
       |    FROM e0
       |  ) WHERE bn <= ${graft.ops.Similarity.DefaultMaxBlock}
       |),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${sqlCosine("a.embedding", "b.embedding")} AS cos_sim
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |)
       |SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.4""".stripMargin

  /** LSH-bucket SQL for an embedding list expression (mirrors
    * Similarity.lshBucket bit-for-bit: same long weight arithmetic, same
    * sequential double fold, same sign threshold). */
  private def sqlLshBucket(e: String, bits: Int, seed: Long): String = {
    val planes = (0 until bits).map { b =>
      s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(1, len($e) + 1),
         |      i -> CAST($e[i] AS DOUBLE) *
         |        (CAST((i * 2654435761 + ${seed + b * 7919L}) * 40503 % 1000003 AS DOUBLE)
         |          / 500001.5 - 1.0))),
         |    (a, x) -> a + x) >= 0
         |  THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END""".stripMargin
    }
    planes.mkString("(", " +\n  ", ")")
  }

  /** Bucketed ANN top-k (mirrors Similarity.lshTopK, bits=4, seed=42):
    * candidates = rows in the query's hyperplane-sign bucket, exact cosine,
    * top 10. */
  val qAnnLsh: String =
    s"""WITH q AS (
       |  SELECT embedding AS qe, ${sqlLshBucket("embedding", 4, 42L)} AS qb
       |  FROM embeddings WHERE vec_id = 0
       |),
       |cand AS (
       |  SELECT e.vec_id, e.embedding, q.qe
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> 0 AND ${sqlLshBucket("e.embedding", 4, 42L)} = q.qb
       |)
       |SELECT vec_id, ${sqlCosine("embedding", "qe")} AS cos_sim
       |FROM cand ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** Shared IVF quantizer CTE chain (mirrors Similarity.ivfCentroids with
    * lloydIters = 1): `cents0` = the scramble-ordered seed sample widened to
    * double; `assigned0` = nearest-seed assignment (struct-max = lowest-cid
    * ties, NaN-greatest under DuckDB's total order — CosineArgMax's scan
    * rule); `lsums` = per-(list, dim) element sums QUANTIZED to BIGINT
    * before summation (`floor(x · 2^20)` — exact integer sums, so the mean
    * `(Σq / n) / 2^20` is the same IEEE double Spark computes under any
    * partitioning); `cents` = the refined quantizer, empty lists keeping
    * their seed centroid; `assigned` = the final assignment over it. */
  private def ivfCentsCtes(base: String): String =
    s"""base AS ($base),
       |cents0 AS (
       |  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb
       |  FROM base
       |  ORDER BY (vec_id * 2654435761) % 4294967296, vec_id LIMIT 16
       |),
       |assigned0 AS (
       |  SELECT b.vec_id,
       |    (max(struct_pack(c := ${sqlCosine("b.embedding", "c.cemb")},
       |                     n := -c.cid, i := c.cid))).i AS list_id,
       |    first(b.embedding) AS embedding
       |  FROM base b, cents0 c GROUP BY b.vec_id
       |),
       |lx AS (
       |  SELECT list_id,
       |    unnest(range(1, len(embedding) + 1)) AS dim,
       |    unnest(list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))) AS qx
       |  FROM assigned0
       |),
       |lsums AS (SELECT list_id, dim, SUM(qx) AS sq, COUNT(*) AS cnt
       |  FROM lx GROUP BY list_id, dim),
       |cents AS (
       |  SELECT c.cid, COALESCE(m.emb, c.cemb) AS cemb
       |  FROM cents0 c LEFT JOIN (
       |    SELECT list_id,
       |      list((CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE)) / 1048576.0 ORDER BY dim) AS emb
       |    FROM lsums GROUP BY list_id) m ON c.cid = m.list_id
       |),
       |assigned AS (
       |  SELECT b.vec_id,
       |    (max(struct_pack(c := ${sqlCosine("b.embedding", "c.cemb")},
       |                     n := -c.cid, i := c.cid))).i AS list_id,
       |    first(b.embedding) AS embedding
       |  FROM base b, cents c GROUP BY b.vec_id
       |)""".stripMargin

  /** IVF-flat ANN top-k (mirrors Similarity.ivfTopK, nlist=16, nprobe=4,
    * lloydIters=1): scramble-sampled seed centroids + one bit-exact
    * quantized Lloyd refinement, nearest-centroid assignment with a
    * lexicographic (cos, -cid) struct-max tie-break, probe the query's 4
    * nearest lists, exact cosine top 10. */
  val qAnnIvf: String =
    s"""WITH ${ivfCentsCtes("SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0")},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |probes AS (
       |  SELECT c.cid AS probe FROM cents c, q
       |  ORDER BY ${sqlCosine("q.qe", "c.cemb")} DESC, c.cid LIMIT 4
       |)
       |SELECT a.vec_id, ${sqlCosine("a.embedding", "q.qe")} AS cos_sim
       |FROM assigned a JOIN probes p ON a.list_id = p.probe, q
       |ORDER BY cos_sim DESC, a.vec_id LIMIT 10""".stripMargin

  /** Per-query batch top-k (mirrors Similarity.bruteForceTopKBatch, queries
    * = vec_id 0-2, k = 5): the oracle ranks with a qid-partitioned
    * ROW_NUMBER — same (cos desc, id asc) tie rule as the engine's
    * two-phase struct sort. */
  val qAnnBatch: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
       |s AS (
       |  SELECT q.qid, e.vec_id, ${sqlCosine("e.embedding", "q.qe")} AS cos_sim
       |  FROM embeddings e, q WHERE e.vec_id NOT IN (0, 1, 2)
       |),
       |r AS (SELECT qid, vec_id, cos_sim,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk FROM s)
       |SELECT qid, CAST(rk AS INTEGER) AS "rank", vec_id, cos_sim FROM r WHERE rk <= 5""".stripMargin

  /** Batch IVF top-k (mirrors Similarity.ivfTopKBatch, queries = vec_id
    * 0-2, k = 5, nlist = 16, nprobe = 4, lloydIters = 1): shared
    * Lloyd-refined quantizer + struct-max assignment as qAnnIvf; per-query
    * probe selection and the final top-k rank with qid-partitioned
    * ROW_NUMBERs (the engine's CosTopK keep-order, NaN-greatest). */
  val qAnnIvfBatch: String =
    s"""WITH ${ivfCentsCtes("SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3")},
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
       |pc AS (
       |  SELECT q.qid, c.cid, ${sqlCosine("q.qe", "c.cemb")} AS qc
       |  FROM q, cents c
       |),
       |pr AS (
       |  SELECT qid, cid AS probe FROM (
       |    SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qc DESC, cid) AS rk
       |    FROM pc) WHERE rk <= 4
       |),
       |cand AS (
       |  SELECT p.qid, a.vec_id, ${sqlCosine("a.embedding", "q.qe")} AS cos_sim
       |  FROM assigned a JOIN pr p ON a.list_id = p.probe JOIN q ON q.qid = p.qid
       |),
       |r AS (SELECT qid, vec_id, cos_sim,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk FROM cand)
       |SELECT qid, CAST(rk AS INTEGER) AS "rank", vec_id, cos_sim FROM r WHERE rk <= 5""".stripMargin

  /** Batch LSH top-k (mirrors Similarity.lshTopKBatch, bits = 4, seed = 42,
    * k = 5): per-query bucket equi-join + qid-partitioned rank. */
  val qAnnLshBatch: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qe, ${sqlLshBucket("embedding", 4, 42L)} AS qb
       |  FROM embeddings WHERE vec_id < 3
       |),
       |cand AS (
       |  SELECT q.qid, e.vec_id, ${sqlCosine("e.embedding", "q.qe")} AS cos_sim
       |  FROM embeddings e, q
       |  WHERE e.vec_id >= 3 AND ${sqlLshBucket("e.embedding", 4, 42L)} = q.qb
       |),
       |r AS (SELECT qid, vec_id, cos_sim,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk FROM cand)
       |SELECT qid, CAST(rk AS INTEGER) AS "rank", vec_id, cos_sim FROM r WHERE rk <= 5""".stripMargin

  /** Brute-force cosine top-k over embeddings vs vec_id 0 (deterministic
    * left-to-right double folds in both engines). */
  val qSimilarityTopk: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |s AS (
      |  SELECT e.vec_id,
      |    list_reduce(list_transform(range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a, b) -> a + b)
      |    / (sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
      |       * sqrt(list_reduce(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)))
      |    AS cos_sim
      |  FROM embeddings e, q
      |  WHERE e.vec_id <> 0
      |)
      |SELECT vec_id, cos_sim FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** Feature-importance ranking over QuantLR's deterministic quantized-GD
    * logistic regression (mirrors `graft.ml.QuantLR` step for step): the 10
    * gradient iterations UNROLL into CTE pairs (qtN = quantized gradient
    * sums, wtN = updated weights). Every arithmetic op is exactly rounded
    * and executed in the same order as QuantLR.fit's per-row fold (min-max
    * scaling, one division; left-associated margin; rational fast-sigmoid;
    * per-row terms quantized to BIGINT before the sum), so the coefficients — not just the
    * ranking — hash-match bit for bit. */
  val qFeatureImportance: String = {
    val feats = Seq("view_count", "click_count", "signup_count")
    val iters = graft.ml.QuantLR.DefaultIters
    val scale = "1073741824.0" // QuantLR.QuantScale = 2^30
    val lr = "0.5"             // QuantLR.DefaultLr
    val mmSel = feats.zipWithIndex.map { case (f, i) =>
      s"MIN($f) AS mn$i, MAX($f) AS mx$i"
    }.mkString(", ")
    val zSel = feats.zipWithIndex.map { case (f, i) =>
      s"CASE WHEN s.mx$i = s.mn$i THEN 0.0 ELSE " +
        s"CAST(l.$f - s.mn$i AS DOUBLE) / CAST(s.mx$i - s.mn$i AS DOUBLE) END AS z$i"
    }.mkString(",\n    ")
    val zNames = feats.indices.map(i => s"z$i").mkString(", ")
    val w0Sel = (Seq("0.0 AS w0") ++ feats.indices.map(i => s"0.0 AS wf$i")).mkString(", ")
    val iterCtes = (1 to iters).map { t =>
      val margin = "w0 + " + feats.indices.map(i => s"wf$i * z$i").mkString(" + ")
      val qSel = (Seq(s"SUM(CAST(floor(r * $scale) AS BIGINT)) AS g0") ++
        feats.indices.map(i => s"SUM(CAST(floor((r * z$i) * $scale) AS BIGINT)) AS gf$i"))
        .mkString(",\n    ")
      val wSel = (Seq(s"w0 - $lr * (CAST(g0 AS DOUBLE) / $scale / CAST(n AS DOUBLE)) AS w0") ++
        feats.indices.map(i =>
          s"wf$i - $lr * (CAST(gf$i AS DOUBLE) / $scale / CAST(n AS DOUBLE)) AS wf$i"))
        .mkString(",\n    ")
      // MATERIALIZED is load-bearing: DuckDB inlines CTEs by default, and
      // each wtN is referenced twice by level N+1 — inlining would double
      // the plan per level (2^iters planning blow-up, observed as a hang)
      s"""qt$t AS MATERIALIZED (
         |  SELECT COUNT(*) AS n,
         |    $qSel
         |  FROM (SELECT $zNames, ((0.5 + ((0.5 * m) / (1.0 + abs(m)))) - y) AS r
         |        FROM (SELECT z.*, ($margin) AS m FROM z, wt${t - 1}))
         |),
         |wt$t AS MATERIALIZED (
         |  SELECT $wSel
         |  FROM wt${t - 1}, qt$t
         |)""".stripMargin
    }.mkString(",\n")
    val unions = feats.zipWithIndex.map { case (f, i) =>
      s"SELECT '$f' AS feature, wf$i AS coef FROM wt$iters"
    }.mkString("\n  UNION ALL ")
    s"""WITH $slotsCte,
       |labeled AS ($slotsSelect),
       |sc AS (SELECT $mmSel FROM labeled),
       |z AS MATERIALIZED (
       |  SELECT CAST(l.purchase_yn AS DOUBLE) AS y,
       |    $zSel
       |  FROM labeled l, sc s
       |),
       |wt0 AS (SELECT $w0Sel),
       |$iterCtes,
       |coefs AS (
       |  $unions
       |)
       |SELECT feature, coef,
       |  CAST(ROW_NUMBER() OVER (ORDER BY abs(coef) DESC, feature) AS INT) AS rank
       |FROM coefs""".stripMargin
  }

  // ── corpus-shaping operators (CorpusOps) ─────────────────────────────────
  // All share the engine's Knuth scramble ((id * 2654435761) % 2^32) so the
  // "random" order/sample is bit-identical across engines.

  /** Mirrors CorpusOps.capPerGroup(documents, doc_id, lang, 100): the
    * two-phase engine form (pass-through under-cap groups + rank window on
    * over-cap groups) is exactly the plain rank-filter below. */
  val qGroupCap: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk
      |  FROM documents) WHERE rk <= 100""".stripMargin

  /** Mirrors CorpusOps.stratifiedSample(documents, doc_id, lang,
    * en→100‰ zh→500‰, default 1000‰). */
  val qSampleStratified: String =
    """SELECT doc_id, lang FROM documents
      |WHERE (doc_id * 2654435761) % 1000 <
      |  (CASE WHEN lang = 'zh' THEN 500 WHEN lang = 'en' THEN 100 ELSE 1000 END)""".stripMargin

  /** Mirrors CorpusOps.repetitionStats: the engine computes the per-row
    * signals in one native pass; the oracle takes the explode→groupBy road
    * to the same numbers. string_split(text, ' ') keeps empty tokens — the
    * engine's shared tokenization contract (TextExprs scaladoc). */
  val qRepetition: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
      |), cnt AS (
      |  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
      |), agg AS (
      |  SELECT doc_id,
      |    CAST(sum(c) AS INTEGER) AS n_tokens,
      |    CAST(count(*) AS INTEGER) AS n_distinct,
      |    CAST(max(c) AS INTEGER) AS top_freq
      |  FROM cnt GROUP BY doc_id
      |)
      |SELECT doc_id, n_tokens, n_distinct, top_freq,
      |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
      |  CAST(top_freq AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_ratio
      |FROM agg""".stripMargin

  /** Mirrors Relational.hierarchicalRollup: every grain of the
    * (user_id, event_type) hierarchy from one GROUP BY ROLLUP, grains
    * disambiguated by the same grouping bitmask Spark's grouping_id emits. */
  val qRollup: String =
    """WITH c AS (
      |  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS value_c
      |  FROM events
      |)
      |SELECT user_id, event_type,
      |  CAST(GROUPING(user_id, event_type) AS INTEGER) AS gid,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(value_c) AS BIGINT) AS value_sum
      |FROM c GROUP BY ROLLUP(user_id, event_type)""".stripMargin

  /** Mirrors PivotCounts.melt over the entity count columns (the engine
    * plans ONE Expand; the portable SQL form re-reads the CTE per column). */
  val qUnpivot: String = {
    val arms = quartet.map(q =>
      s"SELECT user_id, '${q}_count' AS metric, ${q}_count AS value FROM entity")
      .mkString("\n  UNION ALL ")
    s"WITH $entityCte\n$arms"
  }

  /** Mirrors RangeJoin.bandCounts(events, purchases, user_id, ts, 1800 s):
    * the engine's bin-replicated equi-join is exactly this theta join —
    * banding is a physical rewrite, not a semantic. */
  val qRangeJoin: String =
    """WITH p AS (
      |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
      |)
      |SELECT e.event_id,
      |  CAST(count(*) AS BIGINT) AS n_in_band,
      |  CAST(min(p.event_id) AS BIGINT) AS min_right_seq
      |FROM events e JOIN p ON e.user_id = p.user_id
      |  AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 1800000000
      |GROUP BY e.event_id""".stripMargin

  /** Mirrors CorpusOps.packSequences(documents, doc_id, text, 2048, 8):
    * offset packing — bin = floor(tokens_before / budget), integer division
    * written as the engine's pmod-subtract so both sides divide exact
    * doubles. */
  val qPackSequences: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |    (doc_id * 2654435761) % 4294967296 AS scr,
      |    CAST(((doc_id * 2654435761) % 4294967296) % 8 AS INTEGER) AS shard
      |  FROM documents
      |), cum AS (
      |  SELECT shard, tok,
      |    SUM(tok) OVER (PARTITION BY shard ORDER BY scr, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS before
      |  FROM base
      |)
      |SELECT shard,
      |  CAST((before - (before % 2048)) / 2048 AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(tok) AS BIGINT) AS bin_tokens
      |FROM cum GROUP BY shard, bin""".stripMargin
}
