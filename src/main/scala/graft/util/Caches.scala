package graft.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/**
 * Registry for intermediate DataFrames persisted inside operators (e.g. the
 * LSH bucket table that feeds a self-join — persisting it halves the
 * pipeline cost because Spark re-executes shared lineage once per join
 * side). Operators can't unpersist eagerly themselves: the cache must stay
 * alive until the *caller* consumes the lazily-evaluated result. Long-lived
 * sessions (ApiServer, Bench) release caches after each query so they
 * don't accumulate; short-lived CLI runs can ignore it (the context
 * cleaner reclaims them on JVM exit).
 *
 * **Ownership** (r15): the registry is scope-aware. Single-threaded
 * callers (Bench, Verify, CLI) use the process-global bin and call
 * [[drain]] between queries; each scale probe runs in its own scope
 * (`graft.Probe`) and drains that scope between its sizes. A server
 * executing queries CONCURRENTLY (ApiServer's async/stream paths each run
 * on their own thread) wraps each query in [[scoped]]: every frame the
 * query retains lands in a bin owned by that query's thread, and leaving
 * the scope drains ONLY that bin — one request finishing can no longer
 * unpersist another in-flight request's shared candidate-pass table
 * (which silently degraded the r14 shared-pass win back to per-frame
 * recomputation under concurrent load). One trade-off remains by design:
 * [[retain]] is idempotent on already-persisted frames, so two concurrent
 * PLAN-EQUAL queries share one cache entry owned by whichever query
 * persisted it first — the owner's exit can still force the other to
 * recompute. That costs performance only (MEMORY_AND_DISK lineage
 * recomputes deterministically) and only for identical concurrent plans.
 */
object Caches {
  private val bin = ArrayBuffer.empty[Dataset[_]]

  /** Innermost active per-thread scope; null = use the global bin. Not
    * inheritable: a Spark action's internal threads never call retain —
    * only driver-side operator code on the scope-owning thread does. */
  private val scope = new ThreadLocal[ArrayBuffer[Dataset[_]]]

  private def currentBin: ArrayBuffer[Dataset[_]] =
    Option(scope.get).getOrElse(bin)

  /** Run `body` with a private cache bin bound to the calling thread, then
    * unpersist everything `body` retained — and nothing anyone else did.
    * Nests: an inner scope restores the outer one on exit. The drain is
    * blocking for the same measurement-hygiene reason [[drain]]'s is. */
  def scoped[T](body: => T): T = {
    val outer = scope.get
    val mine = ArrayBuffer.empty[Dataset[_]]
    scope.set(mine)
    try body
    finally {
      if (outer == null) scope.remove() else scope.set(outer)
      mine.foreach { ds =>
        ds.unpersist(blocking = true)
        freeCheckpoint(ds)
      }
    }
  }

  /** Persist `ds` (memory-and-disk) and remember it for a later [[drain]].
    * Idempotent: an already-persisted frame (a query re-executed inside the
    * same session — warmup + timed bench runs) is left at its current level
    * rather than re-persisted, so CacheManager stops warning "asked to cache
    * already cached data" and real double-caching bugs stay visible. */
  def retain[T](ds: Dataset[T]): Dataset[T] = synchronized {
    if (ds.storageLevel == StorageLevel.NONE) {
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      currentBin += ds
    }
    ds
  }

  /** Register `ds` for release WITHOUT persisting it — for frames whose
    * storage is already bound elsewhere (localCheckpoint blocks). */
  def track[T](ds: Dataset[T]): Dataset[T] = synchronized {
    currentBin += ds
    ds
  }

  /** Release the blocks behind a localCheckpoint-backed frame. A local
    * checkpoint IS its lineage — the blocks cannot be recomputed — so call
    * this only once nothing will read the frame again. Matches the plan
    * ROOT only: a tree-wide sweep would also destroy caller-owned
    * checkpoint blocks buried deeper in a derived plan's lineage, killing
    * the caller's still-live frame. No-op for plans not rooted in a
    * checkpoint/RDD. Blocking, for the same reason [[drain]] is: async
    * block cleanup from one query otherwise lands inside the next one's
    * measurement. */
  def freeCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = true)
      case _ => ()
    }

  /** Unpersist every dataset in the calling thread's bin — its innermost
    * [[scoped]] bin if one is active, else the global one — and clear that
    * bin; other scopes' frames are untouched. Blocking: callers drain
    * between measured queries (Bench, the probes) or between batches
    * (Verify), and a non-blocking unpersist lets one query's block cleanup
    * churn leak into the next measurement (observed 1.5-4x in-battery
    * inflation at sf0.1). */
  def drain(): Unit = synchronized {
    val mine = currentBin
    mine.foreach { ds =>
      ds.unpersist(blocking = true)
      freeCheckpoint(ds) // tracked checkpoint-backed frames free here
    }
    mine.clear()
  }
}
