package graft.ops

import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame

/** Deterministic release of persists that must OUTLIVE their operator.
  *
  * Some operators return plans that read a persist made at construction
  * (the IVF inverted lists in [[Similarity]]) — unpersisting before return
  * would force that work to recompute on first consumption, but never
  * unpersisting leaks executor storage in long-lived sessions (the round-4
  * `graft.Bench` run measurably slowed two unrelated queries ~3× after such
  * caches accumulated across 60×2 reps). This scope is the middle path:
  * operators register the handles they intentionally leave persisted; the
  * session owner (Bench between reps, a spec's afterAll, a production job
  * between pipeline stages) calls [[release]] once the results are consumed.
  *
  * Operators take a `scope: StorageScope = StorageScope.global` parameter —
  * callers that manage lifetimes per-job pass their own scope; everyone else
  * inherits the process-wide one, which is exactly as leaky as round 4's
  * behavior until someone calls `StorageScope.global.release()`.
  *
  * Thread-safe; releasing is idempotent and swallows per-handle failures
  * (an already-unpersisted handle must not mask the others).
  */
final class StorageScope {
  private val handles = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  def retain(df: DataFrame): DataFrame = synchronized { handles += df; df }

  /** Unpersist everything retained since the last release. */
  def release(): Unit = synchronized {
    handles.foreach(df => try df.unpersist(blocking = false) catch { case NonFatal(_) => })
    handles.clear()
  }

  def size: Int = synchronized(handles.size)
}

object StorageScope {
  /** Process-wide default scope — drained by Bench between reps and by any
    * caller that wants a clean session (`StorageScope.global.release()`). */
  val global = new StorageScope
}
