package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llmops.Text
import graft.sources.TxLog

/** Incremental (streaming) corpus profiling — the micro-batch twin of
  * `llm_profile_vocab`: per-source document / posting counts and the
  * distinct-gram vocabulary, maintained as MERGEABLE state so the
  * profile is always current without ever recomputing the corpus.
  *
  * Reference analogue: the indexer's change-driven incremental update
  * (`backend/backend/handlers/indexing/assetIndexer.py:602-737` — new
  * truth folds into standing state, never a full rebuild); applied to
  * the profiling surface.
  *
  * The distinct-gram count is the part that cannot be a plain counter:
  * grams repeat across batches, so exact maintenance would need the
  * full gram set as state (corpus-sized). The scale answer is a
  * DataSketches HLL sketch per source (`hll_sketch_agg` /
  * `hll_union_agg`, codegen'd Spark built-ins): constant-size state,
  * mergeable across batches, and re-adding already-seen grams is a
  * no-op by set semantics. The streamed estimate is NOT bit-identical
  * to a one-shot sketch (a small one-shot sketch can still be in exact
  * sparse mode where the union has promoted to dense HLL); both sit
  * within the standard HLL error of the true vocabulary, which is what
  * `StreamProfileSpec` asserts. Doc/posting counters are exact longs
  * and match the batch recompute exactly. Like `llm_profile_vocab`,
  * a document with no shingles (under 3 tokens) is NOT part of the
  * profile — both sides count shingled docs only.
  *
  * STATE = two [[TxLog]] tables under `stateDir`: a delta log with one
  * row per (batch, source) `(batch_id, source, n_docs, n_postings,
  * gram_sketch)`, merged keyed on `(batch_id, source)`, and a doc-id
  * ledger `(batch_id, doc_id)` merged keyed on `doc_id`. The profile is
  * merge-on-read (counters sum, sketches `hll_union_agg`; sources ×
  * batches rows, trivially re-foldable offline if the log ever gets
  * long). Each merge is one atomic commit:
  *
  *  - exactly-once across batches: docs seen under OTHER batch ids are
  *    anti-joined away; within-batch redelivery is dropped by a
  *    `dropDuplicates(doc_id)`;
  *  - idempotent retry of the SAME batch id (foreachBatch redelivery):
  *    the ledger filter EXCLUDES the current batch id, so a retry
  *    re-derives the same delta and both keyed merges rewrite identical
  *    rows. A crash between the ledger and the delta commit therefore
  *    re-runs cleanly, and the delta lands exactly once.
  */
object StreamProfile {

  private def deltaPath(stateDir: String) = s"$stateDir/profile_deltas"
  private def ledgerPath(stateDir: String) = s"$stateDir/doc_ledger"

  /** The materialized (source, doc_id, grams) frame — persisted and
    * eagerly built BEFORE any explode, because
    * `Generate(explode(<HOF expr>))` re-evaluates the higher-order
    * shingle expression per OUTPUT row (the measured 55× blowup
    * documented at LlmQueries.gramHashes); exploding a materialized
    * array column is linear. The CALLER owns the unpersist. */
  private def shingleArrays(docs: DataFrame): DataFrame = {
    val arrays = docs
      .select(col("source"), col("doc_id"),
        Text.shingleHashes(Text.tokens(col("text"))).as("grams"))
      .filter(size(col("grams")) > 0)
      .persist()
    arrays.count()
    arrays
  }

  private def profileOf(arrays: DataFrame): DataFrame =
    arrays
      .select(col("source"), col("doc_id"), explode(col("grams")).as("g"))
      .groupBy("source").agg(
        count_distinct(col("doc_id")).as("n_docs"),
        count(col("g")).as("n_postings"),
        hll_sketch_agg(col("g")).as("gram_sketch"))

  /** Per-source (source, n_docs, n_postings, gram_sketch) of one
    * (doc_id, source, text) frame; docs with no shingles emit nothing
    * (the llm_profile_vocab convention). Runs `body` while the shingle
    * arrays are pinned, then releases them — repeated micro-batches
    * must not accumulate cache entries. */
  def withBatchProfile[A](docs: DataFrame)(body: DataFrame => A): A = {
    val arrays = shingleArrays(docs)
    try body(profileOf(arrays)) finally arrays.unpersist(false)
  }

  /** Spec/batch-mode convenience: the profile with the arrays cache
    * left to the ContextCleaner (fine for one-shot use; streaming uses
    * [[withBatchProfile]] for deterministic release). */
  def batchProfile(docs: DataFrame): DataFrame = profileOf(shingleArrays(docs))

  /** Fold one micro-batch of (doc_id, source, text) into the delta log
    * (drive from `foreachBatch(batch, batchId)`); returns the merged
    * standing profile. Safe to re-invoke with the same batchId. */
  def processBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
      batchId: Long): DataFrame = {
    // exclude the CURRENT batch id from the dedup ledger: a retry of
    // this batch must re-derive the same delta, not an empty one
    val seen = Option.when(TxLog.isTable(spark, ledgerPath(stateDir)))(
      TxLog.read(spark, ledgerPath(stateDir))
        .filter(col("batch_id") =!= batchId).select("doc_id"))
    val fresh = seen.fold(batch)(batch.join(_, Seq("doc_id"), "left_anti"))
      .dropDuplicates("doc_id").persist()
    TxLog.merge(spark, ledgerPath(stateDir), CurationStream.keyed(
        fresh.select(lit(batchId).as("batch_id"), col("doc_id"))),
      keyCol = "_docId", partitionCol = "_shard")
    withBatchProfile(fresh) { profile =>
      val batchPart = lit(batchId.toString)
      TxLog.merge(spark, deltaPath(stateDir),
        profile.select(lit(batchId).as("batch_id"), col("source"),
          col("n_docs"), col("n_postings"), col("gram_sketch"),
          concat(batchPart, lit("#"), col("source")).as("_key"),
          batchPart.as("_batch")),
        keyCol = "_key", partitionCol = "_batch")
    }
    fresh.unpersist()
    readProfile(spark, stateDir)
  }

  /** Merge-on-read of the delta log, with the vocabulary estimate
    * evaluated: (source, n_docs, n_postings, n_grams_est). Before any
    * batch has committed a delta the log does not exist; that is a
    * valid empty profile, not an error. */
  def readProfile(spark: SparkSession, stateDir: String): DataFrame =
    (if (TxLog.isTable(spark, deltaPath(stateDir)))
      TxLog.read(spark, deltaPath(stateDir))
    else
      spark.range(0).select(lit("").as("source"),
        lit(0L).as("n_docs"), lit(0L).as("n_postings"),
        lit(Array.emptyByteArray).as("gram_sketch")))
      .groupBy("source").agg(
        sum("n_docs").as("n_docs"),
        sum("n_postings").as("n_postings"),
        hll_union_agg(col("gram_sketch")).as("gram_sketch"))
      .select(col("source"), col("n_docs"), col("n_postings"),
        hll_sketch_estimate(col("gram_sketch")).as("n_grams_est"))
      .orderBy("source")
}
