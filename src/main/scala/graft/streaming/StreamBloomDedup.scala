package graft.streaming

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.sources.TxLog

/** Incremental EXACT dedup of a document stream against everything seen
  * so far — the streaming twin of [[graft.llmops.BloomDedup]], with the
  * Bloom filter itself as mergeable state.
  *
  * Per micro-batch (drive from `foreachBatch`, like [[DocMaintenance]]):
  *  1. redelivery guard: rows whose `doc_id` is already in the key
  *     index are dropped (anti-join), so at-least-once delivery of an
  *     already-INDEXED batch never re-emits or re-indexes a document.
  *     The fold is two commits, bloom first: a crash after the bloom
  *     commit but before the index commit leaves those doc_ids
  *     unindexed, and a replay of that micro-batch re-emits them
  *     (exactness is preserved — this write order can only re-emit,
  *     never silently drop, which is why the bloom goes first);
  *  2. screen: the batch probes the STANDING Bloom blob — a foldable
  *     binary literal in the plan, so the probe is a codegen'd filter,
  *     no join, no state read for the no-hit majority;
  *  3. confirm: only screen hits (true dups + fpp false positives)
  *     equi-join the key index; the index at 100 TB is the
  *     bucketed-by-key side table (see [[graft.sources.Bucketing]]),
  *     and only candidates shuffle to it;
  *  4. state fold: every processed (doc_id, key) appends to the index,
  *     and the BATCH's Bloom (built by the same tree-aggregated pass
  *     as batch mode) OR-merges into the standing blob — Bloom filters are a
  *     semilattice, so the fold is associative, idempotent under
  *     replay, and the blob never shrinks.
  *
  * The cumulative fresh set after any prefix of batches equals the
  * batch-mode exact dedup over the union of those batches
  * (StreamBloomDedupSpec asserts equality against the full recompute).
  *
  * Both states are [[TxLog]] tables under `stateDir`: the key index
  * (`key_index`, [[TxLog.append]] in [[CurationStream]]'s `_shard` /
  * `_docId` shape) and the blob (`bloom`, one binary row of
  * `numBits/8` bytes replaced by [[TxLog.merge]]). Each commit is
  * atomic, so a crash never leaves a half-written or missing blob
  * beside a populated index.
  */
object StreamBloomDedup {

  private def indexPath(stateDir: String) = s"$stateDir/key_index"
  private def bloomPath(stateDir: String) = s"$stateDir/bloom"

  private def bytesOf(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Standing blob, or None before the first fold. */
  def readBloom(spark: SparkSession, stateDir: String): Option[BloomFilter] =
    if (!TxLog.isTable(spark, bloomPath(stateDir))) None
    else TxLog.read(spark, bloomPath(stateDir)).select("bf").collect()
      .headOption.map(r => BloomFilter.readFrom(r.getAs[Array[Byte]](0)))

  /** Read-only screen of one micro-batch of (doc_id, k): replayed
    * (already-indexed) doc_ids are dropped; the rest come back flagged
    * `is_dup` exactly as [[processBatch]] would flag them, but NO state
    * is written. Callers that sequence their own idempotent writes
    * between verdict and state fold (see [[CurationStream]]'s crash
    * ordering) call [[foldState]] on the returned frame afterwards;
    * everyone else uses [[processBatch]]. */
  def screenBatch(
      spark: SparkSession,
      batch: DataFrame,
      stateDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val existing = Option.when(TxLog.isTable(spark, indexPath(stateDir)))(
      TxLog.read(spark, indexPath(stateDir)))
    val standing = readBloom(spark, stateDir)

    // 1. redelivery guard on doc_id
    val fresh0 = (existing match {
      case Some(idx) => batch.join(idx.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      case None => batch
    }).persist()
    fresh0.count()

    // 2+3. screen against the standing blob, confirm hits on the index.
    // The blob enters the plan as a binary literal — same foldable shape
    // Spark's own runtime filters inject, so the screen is a plain
    // codegen'd filter.
    val flaggedVsSeen = (standing, existing) match {
      case (Some(bf), Some(idx)) =>
        val cand = fresh0.withColumn("__cand", call_function(
          "graft_bloom_contains", lit(bytesOf(bf)), xxhash64(col("k"))))
        val misses = cand.filter(!col("__cand")).withColumn("dup_seen", lit(false))
        val hits = cand.filter(col("__cand"))
          .join(idx.select(col("k").as("__ik")).distinct()
            .withColumn("__hit", lit(true)), col("k") === col("__ik"), "left")
          .withColumn("dup_seen", coalesce(col("__hit"), lit(false)))
          .drop("__ik", "__hit")
        misses.unionByName(hits).drop("__cand")
      case _ => fresh0.withColumn("dup_seen", lit(false))
    }

    // within-batch: first doc_id with a key wins, later ones are dups
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("doc_id")
    val flagged = flaggedVsSeen
      .withColumn("__rk", row_number().over(w))
      .withColumn("is_dup", col("dup_seen") || col("__rk") > 1)
      .drop("dup_seen", "__rk")

    val out = flagged.localCheckpoint(true)
    fresh0.unpersist()
    out
  }

  /** Fold a screened batch into the standing state: EVERY processed
    * doc_id is indexed (the redelivery guard keys on doc_id, so dup
    * rows must be remembered too — their keys are already members, the
    * confirm join's distinct() absorbs the repeats); the batch's Bloom
    * OR-merges into the standing blob (associative + idempotent —
    * replaying a folded batch changes nothing). The bloom goes FIRST: a
    * crash between it and the index append can only cause false screen
    * candidates, which the confirm join absorbs.
    *
    * @param estItems expected keys per batch; with `numBits` it fixes
    *                 the filter's hash-function count, and
    *                 `mergeInPlace` requires every blob under one
    *                 stateDir to agree on BOTH — keep them constant
    * @param numBits  Bloom size in bits (blob = numBits/8 bytes)
    */
  def foldState(
      spark: SparkSession,
      screened: DataFrame,
      stateDir: String,
      estItems: Long = 1L << 16,
      numBits: Long = 1L << 20): Unit = {
    val processed = screened.select("doc_id", "k")
    val batchBlob = processed
      .agg(call_function("graft_bloom_agg",
        xxhash64(col("k")), lit(estItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (batchBlob != null) {
      val batchBf = BloomFilter.readFrom(batchBlob)
      val merged = readBloom(spark, stateDir) match {
        case Some(bf) => bf.mergeInPlace(batchBf)
        case None => batchBf
      }
      import spark.implicits._
      TxLog.merge(spark, bloomPath(stateDir),
        Seq(("bloom#", bytesOf(merged), "bloom")).toDF("_key", "bf", "_part"),
        keyCol = "_key", partitionCol = "_part")
    }
    TxLog.append(spark, indexPath(stateDir), CurationStream.keyed(processed),
      keyCol = "_docId", partitionCol = "_shard")
  }

  /** Process one micro-batch of (doc_id, k): returns the batch rows
    * flagged `is_dup` (duplicate of anything seen in PRIOR batches or
    * earlier in this one — first occurrence wins by doc_id order), then
    * folds the fresh keys into the standing state — [[screenBatch]]
    * followed by [[foldState]]. */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      stateDir: String,
      estItems: Long = 1L << 16,
      numBits: Long = 1L << 20): DataFrame = {
    val out = screenBatch(spark, batch, stateDir)
    foldState(spark, out, stateDir, estItems, numBits)
    out
  }
}
