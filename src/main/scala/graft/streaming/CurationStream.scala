package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llmops.{IncrementalDedup, Text}
import graft.sources.TxLog

/** The INCREMENTAL corpus build: the batch curation funnel
  * (`llm_curate_pipeline`: quality gate → exact dedup → near-dup drop →
  * split assignment, with per-(source, stage) accounting) maintained
  * from a document STREAM. This is what a 100 TB ingest actually runs:
  * the corpus is never recomputed — each micro-batch pays costs
  * proportional to the delta, and the curated table, the quarantine,
  * and the decision ledger are all transactional TxLog tables.
  *
  * Tiers per micro-batch (each doc lands in exactly ONE stage — the
  * first tier that rejects it — mirroring the batch pipeline's stage
  * order contract):
  *  1. QUALITY — the gate phrased as [[Expectations]] rules
  *     (integer-exact stopword ratio, same thresholds as the batch
  *     pipeline); violating rows quarantine with their rule names.
  *  2. EXACT — content-hash screen against everything seen so far via
  *     [[StreamBloomDedup]]: standing Bloom probe as a codegen'd
  *     in-plan literal, hits confirmed on the key index, within-batch
  *     min-doc_id wins.
  *  3. NEAR — MinHash signature screen against the corpus BAND store
  *     via [[IncrementalDedup.screenStore]] (pruned probe: only the
  *     batch's band shards and key-clustered files are read; batch
  *     bands broadcast, store never broadcast or self-joined, cells
  *     capped) plus the batch self-screen;
  *     arrival order defines who is "first" between batches (the CDC
  *     consumers' convention), doc id within one.
  *  4. SPLIT — survivors assign train/val/test by the same hash
  *     thresholds as the batch pipeline and merge into the curated
  *     table.
  *
  * CRASH ORDERING (why at-least-once replay converges): the screens are
  * READS; the business merges (quarantine, decisions, curated) are
  * idempotent keyed TxLog merges and happen BEFORE the dedup state
  * folds, which go signature store → Bloom blob → key index. Replay
  * after a crash in any window re-derives the same verdicts: before the
  * folds the state is unchanged; after the signature fold the store
  * screen sees the batch's own signatures, which the self-pair filter
  * (`b_id =!= c_id`) cancels; after the Bloom commit the probe's false
  * candidates die in the index-confirm join; after the index append the
  * doc_id redelivery guard makes the whole batch a no-op — and a doc in
  * the index implies its business rows committed, because business
  * precedes every fold.
  *
  * At 100 TB: nothing here scans the corpus — the merges are
  * delta-keyed and shard-partitioned, the Bloom probe is one in-plan
  * literal, the signature screen touches only batch-banded cells, and
  * [[accounting]] is a rollup a reader aggregates (or maintains with
  * [[IncrementalAgg]]), never a history rescan inside the hot loop.
  */
object CurationStream {

  /** Stage labels, identical to `llm_curate_pipeline`'s. */
  val Stages = Seq("quality_fail", "exact_dup", "near_dup",
    "train", "val", "test")

  /** Quality thresholds shared with the batch pipeline's oracle:
    * ≥ 20 tokens and a stopword ratio ≥ 0.02, the ratio in exact
    * integer form (n_stop/n_tokens ≥ 1/50). */
  def qualityRules: Map[String, String] = Map(
    "min_tokens" -> "n_tokens >= 20",
    "stop_ratio" -> "n_stop * 50 >= n_tokens")

  private val Shards = 16
  private val stops = Seq("the", "a", "of", "and", "to", "in", "is")

  def decisionsPath(root: String): String = s"$root/decisions"
  def quarantinePath(root: String): String = s"$root/quarantine"
  def curatedPath(root: String): String = s"$root/curated"
  def sigStorePath(root: String): String = s"$root/sigs"
  def exactStatePath(root: String): String = s"$root/exact_state"

  /** The quality features the rules read, derived once per row
    * (narrow; the shared `tk` subtree evaluates once under codegen). */
  def featurize(docs: DataFrame): DataFrame =
    docs.withColumn("tk", Text.tokens(col("text")))
      .withColumn("n_tokens", when(length(trim(col("text"))) === 0, 0L)
        .otherwise(size(col("tk")).cast("long")))
      .withColumn("n_stop",
        size(filter(col("tk"), x => x.isInCollection(stops))).cast("long"))
      .drop("tk")

  private[streaming] def keyed(df: DataFrame): DataFrame =
    df.withColumn("_shard", pmod(col("doc_id"), lit(Shards)).cast("string"))
      .withColumn("_docId",
        concat(col("_shard"), lit("#"), col("doc_id").cast("string")))

  /** Split thresholds = the batch pipeline's (90/5/5 on the doc-id
    * hash). */
  private def splitOf(idCol: org.apache.spark.sql.Column) = {
    // double compares, not truncated longs — the exact form the batch
    // pipeline (and its oracle) uses, so the boundary hash behaves
    // identically
    val h = Text.hash60(idCol.cast("string"))
    when(h < 0.9 * 2147483647L, "train")
      .when(h < 0.95 * 2147483647L, "val")
      .otherwise("test")
  }

  /** One micro-batch of `(doc_id, source, text)` through the funnel.
    * Idempotent under replay (see class doc's crash ordering). */
  def processBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long): Unit = {
    val feat = featurize(batch).persist()
    try {
      // ── tier 1: quality (split only; the quarantine merge happens
      //    with the other business writes below)
      val gate = Expectations.split(feat, qualityRules, batchId)

      // ── tier 2: exact content hash, replayed doc_ids dropped
      val exactIn = gate.pass.withColumn("k", md5(col("text")))
      val exactFlagged = StreamBloomDedup
        .screenBatch(spark, exactIn, exactStatePath(root))
      val exactKeep = exactFlagged.filter(!col("is_dup"))
        .persist()
      exactKeep.count()

      // ── tier 3: near-dup signatures vs the band store (pruned probe:
      //    only the batch's band shards/files are read) + self-screen
      val sigs = IncrementalDedup.signaturesOf(exactKeep).persist()
      // self-pairs cancel replayed signatures (see crash ordering) —
      // and double as the already-stored set, so the append-only fold
      // below re-inserts nothing when a batch replays after its fold
      val probe = IncrementalDedup.screenStore(sigs, sigStorePath(root))
        .localCheckpoint(true)
      val alreadyStored = probe.filter(col("b_id") === col("c_id"))
        .select(col("b_id").as("doc_id"))
      val nearHits = probe
          .filter(col("b_id") =!= col("c_id"))
        .unionByName(IncrementalDedup.screen(sigs, sigs)
          .filter(col("b_id") > col("c_id")))
        .select(col("b_id").as("doc_id")).distinct()
        .localCheckpoint(true)

      // ── stage assignment (one frame covering every batch doc)
      val decisions = keyed(
        gate.quarantined.select(col("doc_id"), col("source"),
            col("n_tokens"), lit("quality_fail").as("stage"))
        .unionByName(exactFlagged.filter(col("is_dup"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            lit("exact_dup").as("stage")))
        .unionByName(exactKeep.join(nearHits, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("source"), col("n_tokens"),
            lit("near_dup").as("stage")))
        .unionByName(exactKeep.join(nearHits, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("n_tokens"),
            splitOf(col("doc_id")).as("stage")))
        .withColumn("batch_id", lit(batchId)))

      // ── business merges FIRST (all idempotent keyed merges)
      if (!gate.quarantined.isEmpty)
        TxLog.merge(spark, quarantinePath(root),
          keyed(gate.quarantined.drop("k")),
          keyCol = "_docId", partitionCol = "_shard")
      TxLog.merge(spark, decisionsPath(root), decisions,
        keyCol = "_docId", partitionCol = "_shard")
      val curated = keyed(exactKeep
        .join(nearHits, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("text"),
          col("n_tokens"), splitOf(col("doc_id")).as("split")))
      TxLog.merge(spark, curatedPath(root), curated,
        keyCol = "_docId", partitionCol = "_shard")

      // ── state folds LAST: signature store → bloom → key index
      val novel = sigs.join(nearHits, Seq("doc_id"), "left_anti")
        .join(alreadyStored, Seq("doc_id"), "left_anti")
      IncrementalDedup.mergeSignatures(spark, sigStorePath(root), novel)
      StreamBloomDedup.foldState(spark, exactFlagged, exactStatePath(root))
      sigs.unpersist(); exactKeep.unpersist(); ()
    } finally { feat.unpersist(); () }
  }

  /** Wire the funnel onto a document stream (`doc_id, source, text`). */
  def start(docs: DataFrame, root: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, root, batch, batchId)
      }
      .start()

  /** Per-(source, stage) doc/token accounting over the decision ledger
    * — the same sheet as the batch pipeline's output, aggregated from
    * the maintained table (partial-aggregated rollup; a deployment that
    * wants it always-on maintains it with [[IncrementalAgg]] from the
    * decisions table's change feed). */
  def accounting(spark: SparkSession, root: String): DataFrame =
    TxLog.read(spark, decisionsPath(root))
      .groupBy("source", "stage")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("source", "stage")
}
