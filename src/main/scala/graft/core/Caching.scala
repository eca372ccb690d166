package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Idempotent persist/materialize helpers for shared derived frames.
  *
  * Registry helpers re-derive shared frames (gram caches, vocabulary
  * tables, signature sets) on every call; `Dataset.storageLevel`
  * consults the session CacheManager by CANONICALIZED plan, so a
  * repeat derivation of an already-cached frame can skip both the
  * persist call (which would only log an "already cached" warning)
  * and — for the eagerly-materialized frames — the marker count job.
  * Without the guard, a query that chains several shared helpers pays
  * one cached-scan job per helper per call (~50 ms each on local[32]),
  * which is pure overhead on every bench pass after the first
  * consumer. After an external clearCache/unpersist the next call
  * transparently re-persists (and re-counts).
  */
object Caching {
  /** Persist lazily, once per cache generation.
    *
    * CACHE BUDGET (long-lived sessions): the suite's persist-before-sort
    * result frames are never explicitly unpersisted, so a session that
    * runs many queries accumulates cached result frames until the next
    * `clearCache` (the bench clears between passes). MEMORY_AND_DISK
    * spills rather than OOMs, but sustained pressure can evict the
    * shared token/gram caches — a service embedding this engine should
    * clear or unpersist per request batch, or cap the storage pool
    * (`spark.memory.storageFraction`). */
  def persistOnce(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    df
  }

  /** Persist AND materialize (count), once per cache generation — for
    * frames whose consumers fan into multiple plan branches in the
    * SAME job, where lazy materialization would recompute the subtree
    * per branch (Catalyst does not CSE plan subtrees). */
  def matOnce(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) df.persist().count()
    df
  }

  /** Materialize INDEPENDENT shared frames concurrently (guide §2.6:
    * overlap independent jobs — actions submitted from separate driver
    * threads back-fill executor capacity that a serial pin chain leaves
    * idle during its small stages). Callers pass thunks that each pin
    * one dependency chain (typically an eager memoDf access); any
    * SHARED upstream (e.g. the token cache) must be pinned BEFORE the
    * concurrent block so racing threads don't double-compute it. Waits
    * for all; the first failure rethrows its cause. Bounded pool, one
    * thread per thunk (pin fan-out is 2-4 in practice).
    *
    * Every thunk runs in one job group of this call, so the first
    * failure cancels the siblings' Spark jobs — running ones with their
    * tasks interrupted, and any they would still submit — and interrupts
    * the sibling threads. A cancelled pin re-materializes lazily at its
    * next access (persistOnce/matOnce are idempotent). */
  def pinConcurrently(spark: SparkSession)(builds: (() => Unit)*): Unit = {
    if (builds.sizeIs <= 1) builds.foreach(_.apply())
    else {
      val sc = spark.sparkContext
      val group = s"graft-pin-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
      try {
        // taken in completion order, so the first failure is seen while
        // its siblings still run
        val done = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
        builds.foreach { b =>
          done.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              sc.setJobGroup(group, "Caching.pinConcurrently",
                interruptOnCancel = true)
              b()
            }
          })
        }
        try builds.foreach { _ =>
          try done.take().get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw Option(e.getCause).getOrElse(e)
          }
        } catch {
          case t: Throwable =>
            sc.cancelJobGroupAndFutureJobs(group)
            pool.shutdownNow()
            throw t
        }
      } finally pool.shutdown()
    }
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** get-then-putIfAbsent, NOT computeIfAbsent: a memoized build may
    * itself derive other memoized frames (docGramStats → gramHashes),
    * and a nested computeIfAbsent on the same ConcurrentHashMap throws
    * `IllegalStateException: Recursive update` when the keys share a
    * bin. A lost race builds twice and keeps the winner — benign for
    * immutable plans. */
  private def getOrBuild(s: SparkSession, key: String)(
      build: => DataFrame): DataFrame = {
    val k = (s, key)
    val existing = memo.get(k)
    if (existing != null) existing
    else {
      val built = build
      val prev = memo.putIfAbsent(k, built)
      if (prev != null) prev else built
    }
  }

  /** Memoize a derived frame's CONSTRUCTION per (session, key).
    *
    * Dataset construction is not free: every transformation runs the
    * Analyzer over the whole subtree, so a helper that rebuilds a deep
    * shared pipeline (e.g. a 64-slot signature aggregate) costs real
    * driver time on every call — measured ~0.9 s per query invocation
    * for the dedup family's chain, with execution fully cached. The
    * memo returns the SAME analyzed Dataset object, and the
    * [[persistOnce]] guard at the access point (not inside the build)
    * keeps re-persist-after-clearCache working: `Dataset.storageLevel`
    * consults the CacheManager live, so a cleared cache is re-marked
    * on the next access and rebuilt by the next action.
    *
    * Entries hold analyzed plans only (no data; the data lives in the
    * session cache) and are keyed by session — a long-lived service
    * holds one entry per (helper, table dir).
    *
    * SOURCE MUTATION: a memoized plan pins its parquet file listing,
    * so plain source directories are immutable: nothing rewrites one in
    * place. Every mutation flows through a [[graft.sources.TxLog]]
    * table, which is read through its log and never memoized here. */
  def memoDf(s: SparkSession, key: String, eager: Boolean = false)(
      build: => DataFrame): DataFrame = {
    val df = getOrBuild(s, key)(build)
    if (eager) matOnce(df) else persistOnce(df)
  }

  /** Memoize a derived frame whose RESULT (not just its construction)
    * should be computed once per cache generation — e.g. an iterative
    * fixpoint whose output lives in checkpoint blocks rather than the
    * session cache, where [[memoDf]]'s storage-level guard cannot see a
    * `clearCache`. Validity is tied to a tiny persisted MARKER frame:
    * while the marker is live in the session cache the memoized result
    * is returned as-is; once the cache is cleared the marker drops out,
    * the entry is rebuilt, and the marker is re-persisted — so
    * consumers inside one cache generation share one computation, and
    * an explicit cache clear restores from-scratch semantics (the
    * superseded result's blocks are released by the ContextCleaner
    * when the old frame is dropped). */
  def memoDfEpoch(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    epochGate(s, key)
    getOrBuild(s, key)(build)
  }

  /** The epoch marker of [[memoDfEpoch]]: drops the entry when the
    * session cache no longer holds the key's marker frame (i.e. after
    * a clearCache), then re-persists it. */
  private def epochGate(s: SparkSession, key: String): Unit = {
    import org.apache.spark.sql.functions.lit
    val marker = s.range(1).select(lit(key).as("memo_epoch_key"))
    if (marker.storageLevel == StorageLevel.NONE) {
      memo.remove((s, key))
      marker.persist().count()
    }
  }
}
