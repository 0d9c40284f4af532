package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeRowJoiner
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Backward (point-in-time) as-of join.
  *
  * For every left row (key, ts), attach the payload of the LATEST right row
  * with the same key and right.ts <= left.ts (inclusive); null if none.
  * Among right rows sharing (key, ts), the one with the greatest `rightSeq`
  * wins (deterministic tiebreak). Zero temporal leakage by construction:
  * no right row with ts' > ts can ever reach a left row.
  *
  * Spark has no built-in as-of join. The native Catalyst operator
  * ([[graft.plans.AsOfPlan.asOfJoin]]: a logical node, a strategy and a
  * hash-partitioned single-pass merge exec) is the engine's as-of join; the
  * flagship backfill picks its as-of state inside its own sweep
  * ([[graft.plans.PitSweep]]). This object holds the variants that serve
  * inputs the planned exec does not (property-tested identical in
  * AsOfJoinSpec):
  *
  *  1. `windowed` — union-tag + `last(ignoreNulls)` over a cumulative window.
  *     Declarative; Catalyst plans one exchange + one sort. The SQL-oracle
  *     form (DuckDB `ASOF JOIN` cross-checks it).
  *  2. `mergedScalable` — RANGE-partitioned on (key, ts) + boundary
  *     stitching: the explicit skew path for mega-keys (see its doc).
  *  3. `broadcastIndex` — when the right side is a SMALL timestamp index:
  *     broadcast sorted per-key arrays and binary-search per left row. No
  *     shuffle of the big side at all — the 100 TB scan stays map-only.
  *
  * Shuffle-volume note: both sides are packed as (key, tsUs, side, payload
  * STRUCT) before the union — a left row carries ONE null struct slot, not
  * |payload| null columns, which at 50+ payload columns cuts the sorted
  * bytes by ~5× versus the naive wide union.
  *
  * At cluster scale the choice is mechanical: (3) if right fits the
  * broadcast threshold; (2) when a key can dominate a partition; else the
  * planned operator; (1) as the semantic oracle.
  */
object AsOfJoin {

  /** Key types the InternalRow merges support. The merges detect
    * key-group changes with Java equals on InternalRow-extracted values,
    * which is value-equality for UTF8String and boxed primitives but
    * REFERENCE equality for BinaryType (Array[Byte]) — and broadcastIndex
    * additionally compares external-Row values against internal ones.
    * Restricting to these types makes both comparisons sound; anything else
    * fails fast instead of silently dropping payloads. */
  private val SupportedKeyTypes: Set[DataType] = Set(
    StringType, ByteType, ShortType, IntegerType, LongType, BooleanType,
    DateType, TimestampType, TimestampNTZType)

  private[graft] def requireKeyType(df: DataFrame, key: String, op: String): Unit = {
    val dt = df.schema(key).dataType
    require(SupportedKeyTypes.contains(dt),
      s"AsOfJoin.$op: unsupported key type $dt for '$key' — supported: " +
        "string / integral / boolean / date / timestamp (BinaryType keys would " +
        "compare by reference and silently mismatch)")
  }

  /** The output kernel all three as-of merges share. One output row is the
    * memcpy concatenation of the left row and the payload row
    * (`GenerateUnsafeRowJoiner`, as CartesianProductExec uses it): it copies
    * both null bitsets, the fixed-width slots and both variable-length
    * regions, then shifts the variable-length offsets. A projection over a
    * JoinedRow instead rebuilds the row field by field. Rows that are not
    * already UnsafeRows are projected to one first; a null payload means
    * "no match" and joins `nullPay` (build it once with [[nullPayload]]).
    * The returned row is reused: copy it to retain it. The generated joiner
    * is not serializable, so create one per task. */
  private[graft] final class RowJoiner(lSchema: StructType, pSchema: StructType,
                                       nullPay: UnsafeRow) {
    private val joiner = GenerateUnsafeRowJoiner.create(lSchema, pSchema)
    private lazy val lProj = UnsafeProjection.create(lSchema)
    private lazy val pProj = UnsafeProjection.create(pSchema)
    def apply(l: InternalRow, pay: InternalRow): UnsafeRow = joiner.join(
      l match { case u: UnsafeRow => u; case other => lProj(other) },
      pay match {
        case null => nullPay
        case u: UnsafeRow => u
        case other => pProj(other)
      })
  }

  /** The all-null payload row joined to anchors with no match. */
  private[graft] def nullPayload(pSchema: StructType): UnsafeRow =
    UnsafeProjection.create(pSchema)(new GenericInternalRow(pSchema.size)).copy()

  /** Deduplicate right to one row per (key, ts): greatest rightSeq wins.
    *
    * One map-side-combined aggregate (`max(struct(rightSeq, payload...))`)
    * instead of the round-5 rank window: the window form shuffled EVERY
    * right row and then sorted each (key, ts) group; the agg form collapses
    * duplicate groups before the exchange (guide §2.3 "aggregate before you
    * shuffle"). It still sorts: `max` over a struct buffer is not
    * hash-aggregatable, so Spark plans a SortAggregate on each side of the
    * exchange. Deterministic: the struct compares rightSeq first, so the
    * greatest-seq row wins exactly as before; a duplicate-seq tie resolves
    * by payload order (the window's row_number tie was input-order, i.e.
    * nondeterministic). Every payload column must therefore be orderable. */
  private def dedupRight(right: DataFrame, key: String, ts: String, rightSeq: String,
                         payload: Seq[String]): DataFrame = {
    val packedCols = (rightSeq +: payload.filterNot(_ == rightSeq)).map(col)
    val winner = right.select((Seq(key, ts, rightSeq) ++ payload).distinct.map(col): _*)
      .groupBy(col(key), col(ts))
      .agg(max(struct(packedCols: _*)).as("__win"))
    winner.select(col(key) +: col(ts) +: payload.map(p => col(s"__win.$p").as(p)): _*)
  }

  /** Internal: both sides packed to (__k, __t, __side, __l struct, __p struct). */
  private final case class Packed(
      union: DataFrame, lStructType: StructType, pStructType: StructType)

  private def pack(left: DataFrame, right: DataFrame, key: String, ts: String,
                   rightSeq: String, payload: Seq[String]): Packed = {
    val r = dedupRight(right, key, ts, rightSeq, payload)
    val lTagged = left.select(
      col(key).as("__k"), micros(col(ts)).as("__t"), lit(1).as("__side"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("__l"),
      lit(null).cast(StructType(payload.map(p =>
        StructField(p, r.schema(p).dataType, nullable = true)))).as("__p"))
    val lStructType = lTagged.schema("__l").dataType.asInstanceOf[StructType]
    val pStructType = lTagged.schema("__p").dataType.asInstanceOf[StructType]
    val rTagged = r.select(
      col(key).as("__k"), micros(col(ts)).as("__t"), lit(0).as("__side"),
      lit(null).cast(lStructType).as("__l"),
      struct(payload.map(col): _*).as("__p"))
    Packed(lTagged.unionByName(rTagged), lStructType, pStructType)
  }

  private def outSchema(lt: StructType, pt: StructType, prefix: String): StructType =
    StructType(lt.fields ++ pt.fields.map(f => f.copy(name = s"$prefix${f.name}", nullable = true)))

  /** Variant 1 — declarative window fill. Payload columns must be
    * orderable; a duplicate-`rightSeq` tie within one (key, ts) resolves to
    * the greatest payload (see `dedupRight`). */
  def windowed(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightSeq: String, payload: Seq[String], prefix: String = "asof_"): DataFrame = {
    val p = pack(left, right, key, ts, rightSeq, payload)
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.union
      .select(col("__side"), col("__l"),
        last(col("__p"), ignoreNulls = true).over(w).as("__p"))
      .filter(col("__side") === 1)
      .select(left.columns.map(c => col(s"__l.$c")).toIndexedSeq ++
        payload.map(pc => col(s"__p.$pc").as(s"$prefix$pc")): _*)
  }

  /** Variant 2 — SKEW-PROOF range-partitioned merge with boundary stitching.
    *
    * The planned exec keeps each key in one partition, so one mega-conversation (a
    * key holding, say, 50% of all rows) lands on ONE task — the classic skew
    * failure the north rule calls out. This variant range-partitions by
    * (key, ts), letting a huge key span MANY partitions, and repairs
    * correctness with a two-pass prefix carry:
    *
    *   pass 1 (cheap scan): each partition reports the last-seen right-row
    *     payload of its LAST key — the only state that can flow across a
    *     range boundary;
    *   driver: prefix-combines the P summaries (O(P), tiny) into an incoming
    *     state per partition;
    *   pass 2: the normal single-pass merge, seeded with the incoming state.
    *
    * Parallel-prefix-sum shape: work is proportional to rows per PARTITION,
    * not rows per KEY. Both passes scan the same sorted shuffle output,
    * persisted and retained in [[StorageScope.global]]: the returned plan
    * reads it, so the session owner frees it with
    * `StorageScope.global.release()` once the result is consumed.
    * Property-tested identical to the planned exec incl.
    * mega-key fixtures.
    *
    * Payload columns must be orderable; a duplicate-`rightSeq` tie within one
    * (key, ts) resolves to the greatest payload (see `dedupRight`).
    */
  def mergedScalable(left: DataFrame, right: DataFrame, key: String, ts: String,
                     rightSeq: String, payload: Seq[String], prefix: String = "asof_",
                     numPartitions: Int = 0): DataFrame = {
    val spark = left.sparkSession
    requireKeyType(left, key, "mergedScalable")
    val p = pack(left, right, key, ts, rightSeq, payload)
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = StorageScope.global.retain(p.union
      .repartitionByRange(parts, col("__k"), col("__t"), col("__side"))
      .sortWithinPartitions(col("__k"), col("__t"), col("__side"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    import org.apache.spark.unsafe.types.UTF8String
    val keyType = sorted.schema("__k").dataType
    val nL = p.lStructType.size
    val nP = p.pStructType.size
    def retainKey(k: Any): Any = k match {
      case u: UTF8String => u.clone()
      case other => other
    }

    // pass 1 (InternalRow scan): per-partition (pid, lastKey, lastPayload or
    // null) — the only state that can flow over a range boundary
    val summaries: Array[(Int, Any, InternalRow)] =
      sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        var curKey: Any = null
        var haveKey = false
        var lastPay: InternalRow = null
        var any = false
        it.foreach { row =>
          val k = row.get(0, keyType)
          if (!haveKey || k != curKey) { curKey = retainKey(k); haveKey = true; lastPay = null }
          if (row.getInt(2) == 0) lastPay = row.getStruct(4, nP).copy()
          any = true
        }
        if (!any) Iterator.empty else Iterator.single((pid, curKey, lastPay))
      }.collect()

    // driver prefix-combine: incoming state per partition. An explicit
    // haveCarry flag (NOT key-null-ness) marks "no carry": a genuinely null
    // join key sorts first under range partitioning and must still carry its
    // payload across a boundary like any other key.
    val incoming = new Array[(Any, InternalRow)](parts)
    var haveCarry = false
    var carryKey: Any = null
    var carryPay: InternalRow = null
    val byPid = summaries.map(s => s._1 -> s).toMap
    (0 until parts).foreach { pi =>
      incoming(pi) = if (haveCarry) (carryKey, carryPay) else null
      byPid.get(pi).foreach { case (_, lastKey, lastPay) =>
        if (lastPay != null) { haveCarry = true; carryKey = lastKey; carryPay = lastPay }
        else if (haveCarry && lastKey != carryKey) {
          haveCarry = false; carryKey = null; carryPay = null
        }
        // else: same key continues with no new state -> carry unchanged
      }
    }

    // pass 2: the seeded single-pass InternalRow merge. `incoming` holds P
    // entries (P = range partitions), so it ships inside the task closure;
    // a broadcast would outlive the call with no owner to destroy it.
    val nullPay = nullPayload(p.pStructType)
    val rdd = sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val join = new RowJoiner(p.lStructType, p.pStructType, nullPay)
      val inc = incoming(pid)
      var curKey: Any = null
      var haveKey = false
      var lastPay: InternalRow = null
      var firstGroup = true
      it.flatMap { row =>
        val k = row.get(0, keyType)
        if (!haveKey || k != curKey) {
          curKey = retainKey(k); haveKey = true
          lastPay = if (firstGroup && inc != null && k == inc._1) inc._2 else null
          firstGroup = false
        }
        if (row.getInt(2) == 0) {
          lastPay = row.getStruct(4, nP).copy()
          Iterator.empty
        } else Iterator.single(join(row.getStruct(3, nL), lastPay): InternalRow)
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.internalCreateDataFrame(spark, rdd,
      outSchema(p.lStructType, p.pStructType, prefix))
  }

  /** Variant 3 — broadcast per-key sorted timestamp index + binary search.
    * Right side must be collect-ably small (an INDEX, not a fact table):
    * `maxIndexRows` guards the driver — exceeding it fails fast with a
    * pointer at the planned exec/mergedScalable instead of OOMing at 100×
    * data. Key must be string/integral (external-Row index values are
    * compared against InternalRow probe values; date/timestamp/decimal
    * externals don't equal their internal representations). Payload
    * columns must be orderable; a duplicate-`rightSeq` tie within one
    * (key, ts) resolves to the greatest payload (see `dedupRight`). */
  def broadcastIndex(left: DataFrame, right: DataFrame, key: String, ts: String,
                     rightSeq: String, payload: Seq[String], prefix: String = "asof_",
                     maxIndexRows: Int = 2000000): DataFrame = {
    val spark = left.sparkSession
    val keyDt = left.schema(key).dataType
    require(Set[DataType](StringType, ByteType, ShortType, IntegerType, LongType)
        .contains(keyDt),
      s"AsOfJoin.broadcastIndex: unsupported key type $keyDt — string/integral only")
    val r = dedupRight(right, key, ts, rightSeq, payload)
      .select(col(key), micros(col(ts)).as("__t"), struct(payload.map(col): _*).as("__p"))
    // driver-side build of the index: key -> (sorted tsUs, payload rows).
    // limit(max+1) bounds what ever reaches the driver, even on violation.
    val collected = r.limit(maxIndexRows + 1).collect()
    require(collected.length <= maxIndexRows,
      s"AsOfJoin.broadcastIndex: right side exceeds maxIndexRows=$maxIndexRows " +
        "(deduped) — this variant is for small indexes; use AsOfPlan.asOfJoin/mergedScalable")
    val index: Map[Any, (Array[Long], Array[Row])] =
      collected.groupBy(_.get(0)).map { case (k, rows) =>
        val sortedRows = rows.sortBy(_.getLong(1))
        (k, (sortedRows.map(_.getLong(1)), sortedRows.map(_.getStruct(2))))
      }
    val bc = spark.sparkContext.broadcast(index)

    val pStructType = r.schema("__p").dataType.asInstanceOf[StructType]
    val pTypes = payload.map(pc => StructField(s"$prefix$pc",
      pStructType(pc).dataType, nullable = true))
    val lSchema = left.schema
    val outSch = StructType(lSchema.fields ++ pTypes)
    val nL = lSchema.size
    val keyType = left.schema(key).dataType
    // probe side stays InternalRow: tag (__kp, __tp) with a projection, then
    // binary-search the broadcast index per row — map-only, no shuffle, and
    // no external-Row boxing on the 100 TB side
    val tagged = left.select(
      struct(left.columns.map(col).toIndexedSeq: _*).as("__l"),
      col(key).as("__kp"), micros(col(ts)).as("__tp"))
    val nullPay = nullPayload(pStructType)
    val rdd = tagged.queryExecution.toRdd.mapPartitions { it =>
      val idx = bc.value
      val join = new RowJoiner(lSchema, pStructType, nullPay)
      // broadcast payload Rows -> UnsafeRows once per partition
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(pStructType)
      val toUnsafe = UnsafeProjection.create(pStructType)
      val internIdx: Map[Any, (Array[Long], Array[UnsafeRow])] =
        idx.map { case (k, (tsArr, rows)) =>
          k -> (tsArr, rows.map(r0 => toUnsafe(conv(r0).asInstanceOf[InternalRow]).copy()))
        }
      it.map { row =>
        val l = row.getStruct(0, nL)
        val k = row.get(1, keyType) match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case other => other
        }
        val tUs = row.getLong(2)
        val pay = internIdx.get(k) match {
          case Some((tsArr, payArr)) =>
            // greatest j with tsArr(j) <= tUs
            var lo = 0; var hi = tsArr.length - 1; var ans = -1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (tsArr(mid) <= tUs) { ans = mid; lo = mid + 1 } else hi = mid - 1
            }
            if (ans >= 0) payArr(ans) else null
          case None => null
        }
        join(l, pay): InternalRow
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.internalCreateDataFrame(spark, rdd, outSch)
  }
}
