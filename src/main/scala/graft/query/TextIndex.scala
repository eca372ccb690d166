package graft.query

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F3 at 100 TB — trigram-postings side table pruning substring scans.
  *
  * The reference's text search is an OpenSearch inverted-index query
  * (`handlers/search/search.py:1074-1121`); the round-1 engine compiled
  * it to a full `contains` scan — correct, but every search touches
  * every row. This component is the lakehouse analogue of the inverted
  * index at FILE granularity: a side table `(file, trigram)` of the
  * distinct lowercase trigrams per parquet file of a text column. A
  * substring search must match every trigram of its literal, so the
  * candidate file set is `files ⊇ all trigrams of the literal` — the
  * scan then reads ONLY those files (the same containment logic an
  * n-gram bloom filter applies per row group; file grain keeps it a
  * plain DataFrame join).
  *
  * Scale notes: the postings table is ≤ |files| × |trigram vocab| rows
  * (thousands of × smaller than the corpus), is built in one narrow
  * pass + one map-side-combined aggregation, and in production is
  * maintained incrementally by the same indexer that writes the files
  * (a new file appends its trigram rows; a deleted file removes them).
  * Wildcard patterns prune with the trigrams of every literal segment
  * ≥ 3 chars; patterns with no such segment fall back to the full scan
  * — never wrong, only unpruned.
  */
object TextIndex {

  /** path+column → postings side-TABLE location. The postings are a
    * maintained index in production (the indexer appends a file's
    * trigram rows when it writes the file), so they persist as a
    * [[graft.sources.TxLog]] table, not as an in-session cache — queries
    * pay the lookup join, never the build, and a cleared session cache
    * cannot silently re-charge the build to the next search. */
  private val cache = new ConcurrentHashMap[String, String]()

  /** Per-process scope token for the ad-hoc side-table directory. The
    * in-memory location cache is per-JVM, so a second JVM rebuilds the
    * postings anyway (its cache map starts empty); scoping the directory
    * per process keeps that rebuild from deleting a location the first
    * JVM could be mid-read. In production the postings are a
    * writer-maintained table at a [[manage]]d location, not a tmpdir
    * artifact. */
  private val processScope =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9]", "-")

  /** Drop the cached postings for a table — the full-rebuild fallback.
    * Writers that know WHICH files changed should use [[addFiles]] /
    * [[removeFiles]] instead: they update the side table incrementally,
    * so the next search pays a lookup join, not a corpus rebuild. */
  def invalidate(path: String, textCol: String): Unit = {
    val loc = cache.remove(s"$path:$textCol")
    if (loc != null) postingsSnapshots.remove(loc)
  }

  /** Active postings directory of (path, textCol) in this process —
    * None if nothing has been built or attached yet. Introspection for
    * tests and operators; searches resolve it internally. */
  def activeLocation(path: String, textCol: String): Option[String] =
    Option(cache.get(s"$path:$textCol"))

  private[query] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** `(file, tri)`: the distinct trigrams of `textCol` per data file of
    * `df` — the postings rows of a build and of an [[addFiles]]. */
  private def fileTrigrams(df: DataFrame, textCol: String): DataFrame =
    df.select(input_file_name().as("file"), trigrams(col(textCol)).as("ts"))
      .select(col("file"), explode(col("ts")).as("tri"))
      .distinct()

  /** Postings rows shaped for the TxLog postings table: one partition
    * (`bucket` = md5 of the data-file URI) per indexed data file, row
    * key `bucket#trigram`. Partition-per-file is what makes maintenance
    * O(changed file): append = merge into the new file's own partition,
    * remove = [[graft.sources.TxLog.deletePartitions]] — metadata only,
    * never a postings-table rewrite. */
  private def txRows(rows: DataFrame): DataFrame =
    rows.select(
      concat(md5(col("file")), lit("#"), col("tri")).as("_docId"),
      col("file"), col("tri"), md5(col("file")).as("bucket"))

  private def mergePostings(spark: SparkSession, location: String,
      rows: DataFrame): Unit =
    graft.sources.TxLog.merge(spark, location, txRows(rows),
      keyCol = "_docId", partitionCol = "bucket")

  /** Index every file of the table at `path` into a new postings table at
    * `location`. An empty corpus still commits the table (the merge of
    * an empty batch is a schema-only v0), so later [[addFiles]] and
    * searches go through the TxLog path uniformly. Touches no [[cache]]
    * entry: [[postings]] runs it inside `computeIfAbsent`, where a
    * nested `cache.put` would throw. */
  private def build(spark: SparkSession, path: String, textCol: String,
      location: String): Unit =
    mergePostings(spark, location, fileTrigrams(tableDf(spark, path), textCol))

  /** Pin the postings side table of (path, textCol) to a MANAGED
    * location (the production shape: the table's writer owns both the
    * data files and the postings, and maintains the latter with
    * [[addFiles]]/[[removeFiles]] as it writes). The location is a
    * [[graft.sources.TxLog]] table partitioned by a per-data-file
    * bucket: readers are snapshot-isolated against concurrent
    * maintenance, a restarted driver re-attaches to the committed head
    * (no re-index), appends after a removal are ordinary later commits,
    * and removal is a METADATA-ONLY partition drop. A location with no
    * committed table is built from the indexed table. */
  def manage(spark: SparkSession, path: String, textCol: String,
      location: String): Unit = {
    if (!graft.sources.TxLog.isTable(spark, location))
      build(spark, path, textCol, location)
    cache.put(s"$path:$textCol", location)
  }

  /** Incremental APPEND: index `newFiles` (paths of data files just
    * added to the table) into the postings side table — one narrow pass
    * over the new files only, committed as one merge into the new
    * files' own partitions (duplicate delivery converges: the rows are
    * keyed, LWW). No-op (beyond a build) if the postings don't exist
    * yet — the build indexes everything anyway. */
  def addFiles(spark: SparkSession, path: String, textCol: String,
      newFiles: Seq[String]): Unit = {
    val loc = cache.get(s"$path:$textCol")
    if (loc == null) { postings(spark, path, textCol); return }
    if (newFiles.isEmpty) return
    mergePostings(spark, loc, fileTrigrams(
      spark.read.schema(tableDf(spark, path).schema).parquet(newFiles: _*),
      textCol))
  }

  /** Incremental DELETE: drop the postings of removed data files.
    * Searches remain CORRECT even before this runs — [[candidateFiles]]
    * intersects with the table's live file listing, so a stale posting
    * row can never resurrect a deleted file into a scan; removal is
    * hygiene that keeps the side table proportional to the live corpus.
    * The removed files' partitions drop as one METADATA-ONLY commit
    * (nothing read or rewritten — the 100 TB shape). */
  def removeFiles(spark: SparkSession, path: String, textCol: String,
      removed: Seq[String]): Unit = {
    val loc = cache.get(s"$path:$textCol")
    if (loc == null || removed.isEmpty) return
    graft.sources.TxLog.deletePartitions(spark, loc, removed.map(md5Hex).toSet)
  }

  /** Schema of the indexed table, cached per (session, path): the FILE
    * LISTING must stay fresh (append/delete mutate the table), but the
    * schema is stable across appends — caching it skips a parquet
    * footer read on every search/list call. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      org.apache.spark.sql.types.StructType]()
  private def tableDf(spark: SparkSession, path: String): DataFrame = {
    // a TxLog table must be read at its committed snapshot: the raw
    // directory also holds files superseded-but-retained for time
    // travel, and indexing or scanning those would resurrect old rows
    if (graft.sources.TxLog.isTable(spark, path))
      graft.sources.TxLog.read(spark, path)
    else {
      val sch = schemaCache.get((spark, path))
      if (sch != null) spark.read.schema(sch).parquet(path)
      else {
        val df = spark.read.parquet(path)
        schemaCache.put((spark, path), df.schema)
        df
      }
    }
  }

  /** Maintain the postings of a [[graft.sources.TxLog]] doc table from
    * its commit history — the search-index half of the CDC lifecycle
    * (change feed → doc merge → index sync → pruned search). Diffs the
    * indexed version against the committed head: files added since
    * `fromVersion` are indexed incrementally; postings of files no
    * committed version references anymore are dropped. Returns the head
    * version — the caller's next cursor, exactly a CDC consumer's
    * contract. A cursor below the vacuum horizon throws (see
    * [[graft.sources.TxLog.vacuumHorizon]]); recover by re-attaching
    * ([[invalidate]] + [[manage]]) for a fresh build. */
  def syncTx(spark: SparkSession, tablePath: String, textCol: String,
      fromVersion: Long): Long = {
    val head = graft.sources.TxLog.snapshot(spark, tablePath)
    if (head.version <= fromVersion) return head.version
    val fromFiles = graft.sources.TxLog
      .snapshotAt(spark, tablePath, fromVersion).files.map(_.path).toSet
    val added = head.files.map(_.path).filterNot(fromFiles)
    if (added.nonEmpty)
      addFiles(spark, tablePath, textCol, added.map(r => s"$tablePath/$r"))
    // hygiene: drop postings of de-referenced files. Staleness is
    // compared in the postings' own URI form (input_file_name) against
    // the snapshot read's listing — never string-rebuilt, so the forms
    // always match
    val liveUri = tableDf(spark, tablePath).inputFiles.toSet
    val stale = postings(spark, tablePath, textCol).select("file").distinct()
      .collect().map(_.getString(0)).filterNot(liveUri)
    if (stale.nonEmpty) removeFiles(spark, tablePath, textCol, stale.toSeq)
    // postings are DERIVED data: nobody time-travels them, so the sync
    // loop doubles as their vacuum — superseded postings files older
    // than the default grace are reclaimed here, keeping the side table
    // proportional to the live corpus across unbounded maintenance
    graft.sources.TxLog.vacuum(spark, cache.get(s"$tablePath:$textCol"))
    head.version
  }

  /** Distinct lowercase trigrams of a string column. Strings shorter
    * than 3 chars yield an empty array (a naive sequence(1, n-2) would
    * DESCEND for n < 3 and emit the short string itself as junk rows). */
  def trigrams(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.GraftFunctions.TrigramsExpr(
      GraftColumnBridge.expression(c)))
  }

  /** The HOF reference form of [[trigrams]] (spec cross-checks the
    * codegen kernel against it): O(len²) — every `substr` re-walks the
    * UTF-8 bytes — which is why the kernel exists. */
  private[query] def trigramsHof(c: Column): Column = {
    val t = lower(c)
    when(length(t) < 3, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(t) - 2),
        i => t.substr(i, lit(3)))))
  }

  /** `(file, tri)` postings of `textCol` over a parquet directory —
    * built once per (path, column) and stored as a side table: the
    * committed snapshot of a [[manage]]d TxLog postings table, or of the
    * same TxLog table built ad hoc under the tmpdir on first use. */
  def postings(spark: SparkSession, path: String, textCol: String): DataFrame = {
    val loc = cache.computeIfAbsent(s"$path:$textCol", { key =>
      // full-width digest of the key — a 32-bit hashCode could collide
      // across tables sharing the tmpdir and silently cross postings
      val out = new org.apache.hadoop.fs.Path(System.getProperty("java.io.tmpdir"),
        s"graft-triidx-${md5Hex(key)}-$processScope")
      // a table left here by an earlier build (before an invalidate, or
      // by a previous process with the same pid) is rebuilt from scratch
      out.getFileSystem(spark.sessionState.newHadoopConf()).delete(out, true)
      build(spark, path, textCol, out.toString)
      out.toString
    })
    graft.sources.TxLog.read(spark, loc).select("file", "tri")
  }

  /** Trigrams the pattern REQUIRES: every literal segment (between
    * `*`/`?` wildcards) of length ≥ 3 contributes its trigrams. Empty ⇒
    * the pattern cannot prune. */
  def requiredTrigrams(pattern: String): Set[String] =
    pattern.toLowerCase.split("[*?]").filter(_.length >= 3)
      .flatMap(seg => seg.sliding(3)).toSet

  /** Driver-side postings snapshot: `loc → (version, tri → files)`.
    * The pruning decision is index METADATA — exactly what a lakehouse
    * keeps on the driver (Delta's per-file stats live in the driver
    * snapshot the same way), and re-running a small Spark job per query
    * to consult it charged every search a fixed ~0.3 s of datasource
    * setup. Bounded: snapshots above [[SnapshotMaxRows]] postings rows
    * fall back to the join path (a 100 TB corpus with millions of files
    * keeps the index distributed); staleness is caught by the postings
    * table's committed version, so an [[addFiles]]/[[removeFiles]]
    * commit invalidates the cached map. */
  private final val SnapshotMaxRows = 2000000L
  private val postingsSnapshots =
    new ConcurrentHashMap[String, (Long, Map[String, Array[String]])]()

  private def postingsMap(spark: SparkSession, path: String,
      textCol: String): Option[Map[String, Array[String]]] = {
    val df = postings(spark, path, textCol) // ensures the loc is populated
    val key = cache.get(s"$path:$textCol")
    val fp = graft.sources.TxLog.snapshot(spark, key).version
    val hit = postingsSnapshots.get(key)
    if (hit != null && hit._1 == fp) Some(hit._2)
    else if (df.limit((SnapshotMaxRows + 1).toInt).count() > SnapshotMaxRows)
      None
    else {
      val m = df.collect()
        .groupBy(_.getString(1))
        .map { case (tri, rows) => tri -> rows.map(_.getString(0)).sorted }
      postingsSnapshots.put(key, (fp, m))
      Some(m)
    }
  }

  /** Candidate files of the table at `path` that can contain a match of
    * `pattern` on `textCol` — files whose postings hold EVERY required
    * trigram. None ⇒ the pattern has no literal segment ≥ 3 chars and
    * cannot prune. Only the file LIST (or the bounded driver snapshot)
    * reaches the driver, never rows — the same driver-side footprint as
    * partition pruning. */
  def candidateFiles(spark: SparkSession, path: String, textCol: String,
      pattern: String): Option[Array[String]] = {
    val required = requiredTrigrams(pattern)
    if (required.isEmpty) None
    else {
      val fromIndex = postingsMap(spark, path, textCol) match {
        case Some(m) =>
          required.toSeq.map(tri => m.getOrElse(tri, Array.empty[String]).toSet)
            .reduce(_ intersect _).toArray
        case None =>
          postings(spark, path, textCol)
            .filter(col("tri").isin(required.toSeq: _*))
            .groupBy("file")
            .agg(countDistinct(col("tri")).as("hits"))
            .filter(col("hits") === required.size)
            .select("file")
            .collect().map(_.getString(0))
      }
      // intersect with the table's LIVE listing: postings of a deleted
      // file (not yet cleaned by removeFiles) must never steer the scan
      // onto a missing path — staleness degrades to hygiene, not errors
      val live = tableDf(spark, path).inputFiles.toSet
      Some(fromIndex.filter(live))
    }
  }

  /** Substring/wildcard search over `textCol` of the parquet table at
    * `path`, reading only files whose postings contain every required
    * trigram. Result is identical to filtering the full table with
    * [[QueryCompiler.wildcard]]. */
  def prunedSearch(spark: SparkSession, path: String, textCol: String,
      pattern: String): DataFrame = {
    val full = tableDf(spark, path)
    val pred = QueryCompiler.wildcard(col(textCol), pattern)
    candidateFiles(spark, path, textCol, pattern) match {
      case None => full.filter(pred)
      case Some(files) => readFiles(spark, path, full, files).filter(pred)
    }
  }

  /** Read `files` of the table at `path` under the table's own schema
    * — the pruned-scan reader shared by [[prunedSearch]] and
    * [[prunedTable]]. */
  private def readFiles(spark: SparkSession, path: String,
      full: DataFrame, files: Array[String]): DataFrame = {
    if (files.isEmpty) return full.filter(lit(false))
    // basePath restores hive-partition columns when the table is
    // partitioned — without it an explicit file list reads partition
    // columns as null and the "identical to the full scan" contract
    // breaks on partitioned tables. (Only valid when the root is a
    // directory; a single-file table has no partition columns.)
    val hPath = new org.apache.hadoop.fs.Path(path)
    // glob/pattern paths don't resolve to a single status — treat
    // them as non-directories (no basePath), same behavior they had
    // before partition-column support
    val isDir =
      try hPath.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(hPath).isDirectory
      catch { case _: java.io.IOException => false }
    val reader = if (isDir) spark.read.option("basePath", path)
      else spark.read
    reader.schema(full.schema).parquet(files.toIndexedSeq: _*)
  }

  /** Pruned TABLE read for a CONJUNCTION of wildcard demands, each an
    * OR over columns (the search façade's route: the free-text
    * substring over all scored fields is one demand; each AND-token
    * wildcard is another). Files kept = ∩ over demands of (∪ over the
    * demand's columns of [[candidateFiles]]); a demand whose pattern
    * cannot prune on EVERY column (no ≥3-char literal) restricts
    * nothing and is skipped — the union over columns is only
    * superset-safe when every column's candidate set is known. Returns
    * None when no demand prunes (callers keep their own frame); the
    * returned frame is schema-identical to the full table and a
    * SUPERSET of the rows matching the demands, so callers re-apply
    * their predicates unchanged. */
  def prunedTable(spark: SparkSession, path: String,
      demands: Seq[(Seq[String], String)]): Option[DataFrame] = {
    val fileSets = demands.flatMap { case (cols, pattern) =>
      val perCol = cols.map(c => candidateFiles(spark, path, c, pattern))
      if (perCol.isEmpty || perCol.exists(_.isEmpty)) None
      else Some(perCol.flatMap(_.get).toSet)
    }
    if (fileSets.isEmpty) None
    else Some(readFiles(spark, path, tableDf(spark, path),
      fileSets.reduce(_ intersect _).toArray))
  }
}
