package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Session-lifetime cache registry for persisted frames inside driver
  * queries (q33/q45's match graph, q49's vertex/edge frames).
  *
  * A query that persists an intermediate cannot safely unpersist it
  * before returning — the returned plan still references it lazily and
  * the HARNESS (Verify's parquet write, Bench's count) decides when it
  * materializes. But never unpersisting leaks: one Verify session runs
  * all ~50 queries back-to-back and MEMORY_AND_DISK blocks accumulate
  * across them. So queries register their persists here and the harness
  * drains the registry after each query's sink action completes — the
  * same cache-scope-follows-sink discipline er.Pipeline uses internally,
  * applied at the query boundary.
  *
  * CONTRACT: one query in flight per JVM. The registry is global, so a
  * concurrent caller (parallel test suites, a second query sharing the
  * session) draining [[releaseAll]] can unpersist another query's frames
  * mid-action — still CORRECT (a released plan recomputes), but the
  * persist's speedup is lost. The harness mains (Verify/Bench) run
  * queries strictly sequentially and drain between them; library
  * callers embedding these queries outside that harness should either
  * call releaseAll() after each consuming action themselves or accept
  * session-lifetime persists.
  */
object Caches {
  private val reg = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` at `level` and register it for the next [[releaseAll]]. */
  def persist(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    reg.synchronized { reg += df.persist(level); df }

  /** Unpersist every registered frame (non-blocking) and clear the
    * registry. Call after the consuming sink action — a later recompute
    * of a released plan is correct, just uncached. */
  def releaseAll(): Unit = reg.synchronized {
    reg.foreach(df => try df.unpersist(false) catch { case _: Throwable => () })
    reg.clear()
  }
}
