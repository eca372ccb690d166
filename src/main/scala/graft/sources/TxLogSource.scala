package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Spark DataSource registration for [[TxLog]] tables — the idiomatic
  * read/write surface on top of the transactional log:
  *
  * {{{
  *   spark.read.format("txlog").load(path)                   // head
  *   spark.read.format("txlog").option("asOfVersion", 3)...  // time travel
  *   spark.read.format("txlog").option("tag", "train-v1")... // pinned tag
  *   spark.read.format("txlog").option("timestampAsOf", ms)... // as of time
  *   df.write.format("txlog").mode("append").save(path)      // MERGE upsert
  *   df.write.format("txlog").mode("overwrite").save(path)   // tx replace
  * }}}
  *
  * Reads surface TxLog's LOG-LEVEL data skipping through the standard
  * `PrunedFilteredScan` contract: equality/range filters on the key
  * column become the footer-stats `keyRange` (files whose min/max
  * bounds exclude the range are never opened), and equality/IN filters
  * on the partition column prune partitions before any file is listed.
  * Filters on any other column skip no files. Both prunings are
  * SUPERSETS of the exact predicate, and the relation reports every
  * filter as unhandled, so Spark re-applies the row-level predicate on
  * top — pushdown can only skip I/O, never change results.
  *
  * Writes map `append` to [[TxLog.merge]] (last-writer-wins upsert, one
  * atomic commit) and `overwrite` to a transactional full replace (the
  * current snapshot's keys become the batch's removedKeys in the SAME
  * commit — readers see the old table or the new one, never a mix).
  *
  * Reference analogue: the system-of-record tables behind
  * `backend/backend/handlers/assets/assetService.py` reads — here as a
  * first-class Spark format instead of a bespoke client.
  */
class TxLogSource extends RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "txlog"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "txlog: the 'path' option (or load(path)) is required"))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    TxLogRelation(
      sqlContext,
      pathOf(parameters),
      parameters.get("asOfVersion").map(_.toLong),
      parameters.get("tag"),
      parameters.get("timestampAsOf").map(_.toLong),
      parameters.getOrElse("keyColumn", "_docId"),
      parameters.getOrElse("partitionColumn", "str_databaseid"))

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val keyCol = parameters.getOrElse("keyColumn", "_docId")
    val partCol = parameters.getOrElse("partitionColumn", "str_databaseid")
    val spark = sqlContext.sparkSession
    mode match {
      case SaveMode.Append =>
        TxLog.merge(spark, path, data, keyCol = keyCol, partitionCol = partCol)
      case SaveMode.Overwrite =>
        // transactional replace: delete every CURRENT key and apply the
        // batch in one commit (merge dedups keys that reappear in the
        // batch, so replaced rows update rather than bounce)
        val current = TxLog.snapshot(spark, path)
        val removed =
          if (current.version < 0 || current.files.isEmpty) null
          else TxLog.read(spark, path).select(col(keyCol))
        TxLog.merge(spark, path, data, removedKeys = removed,
          keyCol = keyCol, partitionCol = partCol)
      case SaveMode.ErrorIfExists | SaveMode.Ignore =>
        val exists = TxLog.snapshot(spark, path).version >= 0
        if (exists && mode == SaveMode.ErrorIfExists)
          throw new IllegalStateException(
            s"txlog: table already exists at $path (mode ErrorIfExists)")
        if (!exists)
          TxLog.merge(spark, path, data, keyCol = keyCol,
            partitionCol = partCol)
    }
    createRelation(sqlContext, parameters)
  }

  /** `readStream.format("txlog")` — the CHANGE-FEED streaming read
    * (Delta CDF's `readChangeFeed` analogue): commit VERSIONS are the
    * stream offsets, so each micro-batch is `changes(from, to]` —
    * row-level insert/delete/update images — with the first batch
    * emitting the starting snapshot as inserts. Offsets are durable log
    * versions: a checkpointed restart resumes exactly where it left
    * off, and a follower that falls below the vacuum horizon fails
    * loud at resolve (same contract as `ChangeFeed.follow`). */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = pathOf(parameters)
    val base = TxLog.read(sqlContext.sparkSession, path).schema
    (shortName(), base.add("_change_type",
      org.apache.spark.sql.types.StringType, nullable = false))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new TxLogStreamSource(sqlContext,
      pathOf(parameters),
      parameters.getOrElse("keyColumn", "_docId"),
      parameters.get("maxVersionsPerTrigger").map(_.toLong).getOrElse(100L))

  /** `writeStream.format("txlog")` — each micro-batch is one atomic
    * MERGE commit. At-least-once redelivery of a batch converges (the
    * upsert is last-writer-wins on the key), so the table state is
    * effectively exactly-once under checkpointed restarts — the same
    * contract `DocMaintenance.streamMaintainTx` implements imperatively,
    * here as the declarative sink. Append and Update modes are the
    * upsert; Complete replaces the table per batch. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val path = pathOf(parameters)
    val keyCol = parameters.getOrElse("keyColumn", "_docId")
    val partCol = parameters.getOrElse("partitionColumn", "str_databaseid")
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // the incoming frame is the micro-batch's streaming Dataset
        // view; re-base it as a plain batch frame (standard connector
        // shim) before handing it to the transactional merge
        val batch = org.apache.spark.sql.graftshim.BatchFrames
          .asBatch(data)
        if (outputMode == OutputMode.Complete()) {
          val spark = batch.sparkSession
          val current = TxLog.snapshot(spark, path)
          val removed =
            if (current.version < 0 || current.files.isEmpty) null
            else TxLog.read(spark, path).select(col(keyCol))
          TxLog.merge(spark, path, batch, removedKeys = removed,
            keyCol = keyCol, partitionCol = partCol)
        } else {
          TxLog.merge(batch.sparkSession, path, batch,
            keyCol = keyCol, partitionCol = partCol)
        }
      }
      override def toString: String = s"TxLogSink[$path]"
    }
  }
}

/** Version-offset change-feed source: `getOffset` is the committed head
  * version (rate-limited to `maxVersionsPerTrigger` ahead of the last
  * batch), `getBatch(from, to)` is the net row-level change frame over
  * `(from, to]` — or the pinned snapshot AT `to` as inserts for the
  * first batch. Reads only the files the two snapshots don't share
  * ([[TxLog.changes]]), so a quiet table costs a log listing, not a
  * scan. */
final class TxLogStreamSource(
    sqlContext: SQLContext,
    path: String,
    keyColumn: String,
    maxVersionsPerTrigger: Long) extends Source {

  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private val spark = sqlContext.sparkSession
  // the version already emitted (start of the next batch's range);
  // -1 = nothing emitted yet. Recovered from the engine's checkpoint
  // via getBatch's `start` on restart — this field is only the
  // in-process high-water mark for rate limiting.
  @volatile private var lastEmitted: Long = -1L

  override def schema: StructType = TxLog.read(spark, path).schema
    .add("_change_type", org.apache.spark.sql.types.StringType,
      nullable = false)

  // offsets round-trip through the checkpoint as json — on restart the
  // engine hands back SerializedOffset, so parse by json, not by type
  private def versionOf(o: OffsetV1): Long = o.json.trim.toLong

  override def getOffset: Option[OffsetV1] = {
    val head = TxLog.snapshot(spark, path).version
    if (head < 0) None
    else {
      val capped = math.min(head, lastEmitted + maxVersionsPerTrigger)
      if (capped <= lastEmitted && lastEmitted >= 0) Some(LongOffset(lastEmitted))
      else Some(LongOffset(capped))
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val to = versionOf(end)
    val from = start.map(versionOf)
    lastEmitted = math.max(lastEmitted, to)
    val batch = from match {
      case Some(f) if f >= to =>
        // engine replay of an empty range (e.g. restart alignment)
        TxLog.read(spark, path, asOfVersion = Some(to)).limit(0)
          .withColumn("_change_type",
            org.apache.spark.sql.functions.lit("insert"))
      case Some(f) =>
        TxLog.changes(spark, path, f, to, keyColumn)
      case None =>
        // initial load: the snapshot AT `to`, all rows as inserts
        TxLog.read(spark, path, asOfVersion = Some(to))
          .withColumn("_change_type",
            org.apache.spark.sql.functions.lit("insert"))
    }
    // v1 Source contract: the returned frame must be streaming-tagged
    org.apache.spark.sql.graftshim.BatchFrames.asStreaming(batch)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TxLogStreamSource[$path]"
}

/** Read relation: snapshot-consistent scan with column pruning and
  * log-level file skipping derived from the pushed filters. */
final case class TxLogRelation(
    sqlContext: SQLContext,
    path: String,
    asOfVersion: Option[Long],
    tag: Option[String],
    timestampAsOf: Option[Long],
    keyColumn: String,
    partitionColumn: String) extends BaseRelation with PrunedFilteredScan
    with InsertableRelation {

  /** SQL `INSERT INTO` (overwrite=false) = transactional MERGE upsert;
    * `INSERT OVERWRITE` = one-commit full replace. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    val spark = sqlContext.sparkSession
    require(tag.isEmpty && asOfVersion.isEmpty && timestampAsOf.isEmpty,
      "txlog: cannot INSERT into a time-travel/tag-pinned relation")
    if (overwrite) {
      val current = TxLog.snapshot(spark, path)
      val removed =
        if (current.version < 0 || current.files.isEmpty) null
        else TxLog.read(spark, path).select(col(keyColumn))
      TxLog.merge(spark, path, data, removedKeys = removed,
        keyCol = keyColumn, partitionCol = partitionColumn)
    } else {
      TxLog.merge(spark, path, data, keyCol = keyColumn,
        partitionCol = partitionColumn)
    }
  }

  private def resolvedVersion: Option[Long] = tag match {
    case Some(t) =>
      val spark = sqlContext.sparkSession
      Some(TxLog.tags(spark, path).getOrElse(t,
        throw new NoSuchElementException(s"txlog: tag '$t' not found at $path")))
    case None => timestampAsOf match {
      case Some(ts) =>
        Some(TxLog.versionAt(sqlContext.sparkSession, path, ts))
      case None => asOfVersion
    }
  }

  private def load(partitions: Option[Set[String]],
      keyRange: Option[(String, String)]): DataFrame =
    TxLog.read(sqlContext.sparkSession, path, partitions, resolvedVersion,
      keyRange)

  override def schema: StructType = load(None, None).schema

  /** The key range implied by the pushed filters on `keyColumn` —
    * inclusive bounds; None when unbounded on that side. Exposed for
    * the spec. */
  private[sources] def keyRangeOf(
      filters: Array[Filter]): Option[(String, String)] = {
    var lo: Option[String] = None
    var hi: Option[String] = None
    def tightenLo(v: String): Unit =
      if (lo.forall(_ < v)) lo = Some(v)
    def tightenHi(v: String): Unit =
      if (hi.forall(_ > v)) hi = Some(v)
    filters.foreach {
      case EqualTo(`keyColumn`, v: String) => tightenLo(v); tightenHi(v)
      case GreaterThanOrEqual(`keyColumn`, v: String) => tightenLo(v)
      case GreaterThan(`keyColumn`, v: String) => tightenLo(v)
      case LessThanOrEqual(`keyColumn`, v: String) => tightenHi(v)
      case LessThan(`keyColumn`, v: String) => tightenHi(v)
      case _ => ()
    }
    // file skipping needs BOTH bounds (TxLog.read's contract); an
    // open-ended range widens to the UTF-8 extremes
    (lo, hi) match {
      case (None, None) => None
      case _ => Some((lo.getOrElse(""), hi.getOrElse("￿" * 8)))
    }
  }

  /** Partition set implied by equality/IN filters on `partitionColumn`. */
  private[sources] def partitionsOf(
      filters: Array[Filter]): Option[Set[String]] = {
    val sets = filters.collect {
      case EqualTo(`partitionColumn`, v: String) => Set(v)
      case In(`partitionColumn`, vs) =>
        vs.collect { case s: String => s }.toSet
    }
    if (sets.isEmpty) None
    else Some(sets.reduce(_ intersect _))
  }

  // every filter is reported unhandled: pushdown only SKIPS FILES
  // (superset-safe), Spark re-applies the exact row predicate above
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val base = load(partitionsOf(filters), keyRangeOf(filters))
    val projected =
      if (requiredColumns.isEmpty) base.select()
      else base.select(requiredColumns.map(col).toSeq: _*)
    projected.rdd
  }
}
