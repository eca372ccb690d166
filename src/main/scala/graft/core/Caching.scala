package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Shared derived frames: one memo rule, one lazy persist, one
  * concurrent pin.
  *
  * THE MEMO RULE ([[memoDf]]): an entry is valid exactly while its frame
  * is in the session cache. Otherwise the next access re-runs `build`,
  * persists the result (and counts it when `eager`), and stores it. The
  * frame is its own marker — `Dataset.storageLevel` consults the
  * CacheManager live — so a `clearCache` or an `unpersist` starts a new
  * generation for exactly the entries it dropped, and everything a
  * build derives (other memoized frames, checkpointed fixpoints,
  * eagerly counted side frames) is re-derived with it. Within one
  * generation every consumer shares one analyzed frame and one
  * computation.
  */
object Caching {
  /** Persist lazily, once per cache generation — the unkeyed guard for
    * result frames persisted before a global sort.
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
    * the sibling threads. A cancelled pin stores no memo entry, so its
    * next access builds it again. */
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

  /** Memoize a derived frame per (session, key) under the memo rule
    * above.
    *
    * Dataset construction is not free: every transformation runs the
    * Analyzer over the whole subtree, so a helper that rebuilds a deep
    * shared pipeline (e.g. a 64-slot signature aggregate) costs real
    * driver time on every call — measured ~0.9 s per query invocation
    * for the dedup family's chain, with execution fully cached. Within
    * a generation the memo returns the SAME analyzed Dataset object.
    * `eager` counts a fresh entry at once, for frames whose consumers
    * fan into several branches of one job, where a lazy mark can still
    * compute the subtree per branch (Catalyst does not CSE plan
    * subtrees).
    *
    * Get-then-put, NOT computeIfAbsent: a build may itself derive other
    * memoized frames (docGramStats → gramHashes), and a nested
    * computeIfAbsent on the same ConcurrentHashMap throws
    * `IllegalStateException: Recursive update` when the keys share a
    * bin. A lost race builds twice; both frames carry one plan, so the
    * second persist finds the first's cache entry.
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
    val k = (s, key)
    val cur = memo.get(k)
    if (cur != null && cur.storageLevel != StorageLevel.NONE) cur
    else {
      val df = build
      if (df.storageLevel == StorageLevel.NONE) {
        df.persist()
        if (eager) df.count()
      }
      memo.put(k, df)
      df
    }
  }
}
