package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Minimal transaction-log table format — Delta-style ACID on plain
  * parquet, with optimistic concurrency control.
  *
  * Why it exists: the reference's indexer upsert is atomic per doc
  * (`backend/backend/handlers/indexing/assetIndexer.py:534-596` — a
  * DynamoDB put_item). The parquet-lake equivalent of that guarantee is
  * a transactional table format; Delta/Iceberg are the production
  * choices, but neither ships in this environment, so the commit
  * protocol they rely on is implemented here directly (the same design
  * as the Delta transaction log: an ordered directory of commit files,
  * each atomically published, every reader resolving a snapshot from
  * committed metadata only — Armbrust et al., "Delta Lake: High-
  * Performance ACID Table Storage over Cloud Object Stores", VLDB 2020).
  *
  * Layout:
  * {{{
  * table/
  *   _txlog/00000000000000000000.json   commit 0: {"adds":[...],"removes":[...]}
  *   _txlog/00000000000000000005.checkpoint.json   full snapshot at v5
  *   str_databaseid=db1/part-<uuid>.parquet        data files
  * }}}
  *
  * Guarantees:
  *  - ATOMIC commits: a commit is one log file published via
  *    write-to-temp + rename-without-overwrite. Readers list the log,
  *    not the data directory, so data files are invisible until the
  *    commit that references them lands; a writer crash before commit
  *    leaves only unreferenced files (removed by [[vacuum]]).
  *  - SNAPSHOT ISOLATION for readers: the file set is resolved once per
  *    read from committed versions; concurrent commits cannot make a
  *    running scan see half a merge.
  *  - OPTIMISTIC writers: a commit names the version it expects to
  *    create. Losing the race (rename fails because the version exists)
  *    re-reads the log and RETRIES if the winning commits touched
  *    disjoint partitions, else rebuilds the merge from the new
  *    snapshot — lost updates are impossible, not just unlikely.
  *
  * Scale notes: the log holds file METADATA only (path, partition, row
  * count, per-file key min/max) — driver-sized by design, same as
  * Delta's; checkpoints every [[CheckpointInterval]] commits bound log
  * replay to O(interval) small reads. Partition pruning AND stats-based
  * key skipping both happen against the log before any parquet footer
  * is opened. The atomic-publish step is pluggable per table
  * ([[CommitCoordinator]]): rename-without-overwrite on HDFS/local by
  * default; object stores without atomic rename register a
  * conditional-put coordinator (as Delta's S3 LogStore documents).
  */
/** Atomic publish of a single log file: exactly one concurrent caller
  * per destination may return true (the losers return false and retry
  * at the next version). This is THE seam that decides multi-writer
  * safety per storage backend — HDFS/local get it from
  * rename-without-overwrite ([[LocalAtomicCoordinator]]); an object
  * store without atomic rename plugs in a conditional-put coordinator
  * here (the same seam Delta's S3 LogStore documents), registered per
  * table via [[TxLog.setCoordinator]]. Implementations must publish
  * ALL-OR-NOTHING: `dest` may never be visible partially written
  * (write-to-temp + rename, or a PUT that is atomic on the store) —
  * concurrent readers list the log mid-commit. */
trait CommitCoordinator {
  def tryPublish(fs: FileSystem, dest: Path, body: String): Boolean
}

/** Default coordinator: write-to-temp + rename-without-overwrite.
  * HDFS rename already refuses an existing destination; the LOCAL
  * filesystem's File.renameTo overwrites, so same-JVM racers (the only
  * kind local tests can produce) are serialized by a JVM-wide lock.
  * Multi-JVM writers on a non-atomic store need a conditional-put
  * coordinator instead — that's why this is a trait. */
object LocalAtomicCoordinator extends CommitCoordinator {
  private val commitLock = new Object
  def tryPublish(fs: FileSystem, dest: Path, body: String): Boolean = {
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // rename-without-overwrite is the atomic publish: exactly one writer
    // of a given version wins; the loser's temp file is removed
    val ok = commitLock.synchronized {
      !fs.exists(dest) && fs.rename(tmp, dest)
    }
    if (!ok) fs.delete(tmp, false)
    ok
  }
}

/** Lease-file coordinator: the multi-JVM / object-store reference
  * implementation of [[CommitCoordinator]] (the second impl the trait
  * was designed for — rename-without-overwrite is only atomic within
  * HDFS, and only within one JVM on the local filesystem).
  *
  * Protocol: a commit first takes a short exclusive LEASE — a file
  * `_commit.lease` beside the log entries, created atomically
  * (`CREATE_NEW`/O_EXCL through java.nio on `file://`, which the OS
  * arbitrates across processes; Hadoop's create-no-overwrite
  * elsewhere) and carrying `owner expiryMillis`. Under the lease the
  * destination-exists check and the publish rename form one critical
  * section, so plain (overwriting) rename is safe. The lease is
  * released by deleting the file; a holder that crashes mid-commit is
  * TAKEN OVER once its expiry passes (steal = delete + re-acquire), so
  * a dead writer can never wedge the table — the same recovery story
  * as DynamoDB-lease LogStores for S3 documented by Delta (VLDB 2020
  * §3.2; public design, no vendor code). Fencing: expiry is wall-clock
  * with `leaseMs` slack, so `leaseMs` must exceed the worst-case
  * publish time by a wide margin (the publish under lease is two
  * metadata ops, milliseconds — the default leaves 30 s).
  *
  * Scale note: the lease serializes only the metadata publish (one
  * small file write + rename), never data staging — writers stage
  * parquet concurrently and contend only for the final rename, so
  * writer throughput is bounded by log-publish latency, not data
  * volume, exactly as in Delta's design. */
final class LeaseFileCoordinator(
    leaseMs: Long = 30000,
    acquireTimeoutMs: Long = 60000) extends CommitCoordinator {

  private val owner = java.util.UUID.randomUUID().toString

  def tryPublish(fs: FileSystem, dest: Path, body: String): Boolean = {
    val lease = new Path(dest.getParent, "_commit.lease")
    if (!acquire(fs, lease))
      throw new IllegalStateException(
        s"commit lease not acquired within ${acquireTimeoutMs} ms " +
          s"(holder info in $lease); a live writer is publishing or a " +
          "crashed holder's lease has not expired yet")
    try {
      if (fs.exists(dest)) false // lost the version race — caller retries
      else {
        val tmp = new Path(dest.getParent,
          s".${dest.getName}.$owner.tmp")
        val out = fs.create(tmp, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        // plain rename is safe HERE ONLY: the exists-check and rename
        // run under the exclusive lease
        val ok = fs.rename(tmp, dest)
        if (!ok) fs.delete(tmp, false)
        ok
      }
    } finally release(fs, lease)
  }

  /** Atomic create-no-overwrite of the lease file; loops with takeover
    * of expired leases until acquired or `acquireTimeoutMs` elapses. */
  private def acquire(fs: FileSystem, lease: Path): Boolean = {
    val deadline = System.currentTimeMillis() + acquireTimeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (tryCreate(fs, lease,
          s"$owner ${System.currentTimeMillis() + leaseMs}")) return true
      // occupied: steal only once the holder's self-declared expiry passed
      readExpiry(fs, lease).foreach { exp =>
        if (System.currentTimeMillis() > exp) fs.delete(lease, false)
      }
      Thread.sleep(10)
    }
    false
  }

  private def tryCreate(fs: FileSystem, lease: Path, body: String): Boolean =
    try {
      if (fs.getUri.getScheme == "file") {
        // O_EXCL via the OS: atomic across JVMs on a local/posix mount,
        // which Hadoop's check-then-create on RawLocalFileSystem is not
        val local = java.nio.file.Paths.get(lease.toUri.getPath)
        java.nio.file.Files.createDirectories(local.getParent)
        val ch = java.nio.channels.FileChannel.open(local,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        try ch.write(java.nio.ByteBuffer.wrap(body.getBytes("UTF-8")))
        finally ch.close()
        true
      } else {
        // HDFS create(no-overwrite) is atomic; object stores plug in
        // their conditional-put here if they lack it
        val out = fs.create(lease, false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        true
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException => false
    }

  private def readExpiry(fs: FileSystem, lease: Path): Option[Long] =
    try {
      val in = fs.open(lease)
      val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      new String(bytes, "UTF-8").trim.split(' ') match {
        case Array(_, exp) => exp.toLongOption
        case _ => None
      }
    } catch { case _: Exception => None }

  /** Delete the lease ONLY if still ours: after an expiry-takeover our
    * file may have been replaced by the stealer's — deleting that would
    * break their critical section. (Read-then-delete is not atomic; the
    * wide leaseMs-vs-publish-time margin is what makes the window moot,
    * as documented on the class.) */
  private def release(fs: FileSystem, lease: Path): Unit =
    try {
      val in = fs.open(lease)
      val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      if (new String(bytes, "UTF-8").startsWith(owner))
        fs.delete(lease, false)
    } catch { case _: Exception => () }
}

object TxLog {

  /** One committed data file: `partition` is the RAW partition value
    * (unescaped); `path` is relative to the table root; `rows` and the
    * key min/max are per-file stats collected from the parquet footer
    * at stage time (the Delta-style data-skipping inputs — `rows < 0`
    * or `None` bounds mean "written before stats" and disable skipping
    * for that file, never wrong results). */
  case class AddFile(path: String, partition: String, rows: Long,
      minKey: Option[String] = None, maxKey: Option[String] = None)

  /** Resolved table state: committed version + live file set + the
    * table schema as of that version (DDL string; carried by commits
    * so an EMPTIED table keeps its shape — absent only on logs written
    * before schema tracking). */
  case class Snapshot(version: Long, files: Seq[AddFile],
      schemaDdl: Option[String] = None)

  val CheckpointInterval = 10

  private def logDir(table: Path) = new Path(table, "_txlog")
  private def commitPath(table: Path, v: Long) =
    new Path(logDir(table), f"$v%020d.json")
  private def checkpointPath(table: Path, v: Long) =
    new Path(logDir(table), f"$v%020d.checkpoint.json")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** True iff `path` has a transaction log (≥1 committed version). */
  def isTable(spark: SparkSession, path: String): Boolean = {
    val t = new Path(path)
    val fs = fsOf(spark, t)
    fs.exists(logDir(t)) && latestVersion(fs, t) >= 0
  }

  private def listLog(fs: FileSystem, table: Path): Seq[Path] = {
    val dir = logDir(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath)
      // commits and checkpoints only — _vacuum.json and other
      // underscore-prefixed control files are not part of the version chain
      .filter(p => p.getName.endsWith(".json") && !p.getName.startsWith("_"))
      .toSeq
  }

  private def latestVersion(fs: FileSystem, table: Path): Long = {
    val vs = listLog(fs, table).map(_.getName)
      .filter(!_.contains("checkpoint"))
      .map(_.stripSuffix(".json").toLong)
    if (vs.isEmpty) -1L else vs.max
  }

  // ---- commit (de)serialization ------------------------------------

  private def renderFiles(files: Seq[AddFile]): JValue =
    JArray(files.map { f =>
      val base = List(
        "path" -> (JString(f.path): JValue),
        "partition" -> (JString(f.partition): JValue),
        "rows" -> (JLong(f.rows): JValue))
      val stats = f.minKey.map(m => "minKey" -> (JString(m): JValue)).toList ++
        f.maxKey.map(m => "maxKey" -> (JString(m): JValue)).toList
      JObject(base ++ stats: _*)
    }.toList)

  private def parseFiles(j: JValue): Seq[AddFile] = j match {
    case JArray(items) => items.collect { case it: JObject =>
      def opt(k: String) = (it \ k).toOption.collect { case JString(s) => s }
      AddFile(
        (it \ "path").values.toString,
        (it \ "partition").values.toString,
        (it \ "rows").values.toString.toLong,
        opt("minKey"), opt("maxKey"))
    }
    case _ => Seq.empty
  }

  /** Per-table commit coordinator override (see [[CommitCoordinator]]);
    * tables without one use [[LocalAtomicCoordinator]]. */
  private val coordinators =
    new java.util.concurrent.ConcurrentHashMap[String, CommitCoordinator]()

  def setCoordinator(tablePath: String, c: CommitCoordinator): Unit =
    coordinators.put(tablePath, c)
  def clearCoordinator(tablePath: String): Unit =
    coordinators.remove(tablePath)
  private def coordinatorOf(tablePath: String): CommitCoordinator =
    coordinators.getOrDefault(tablePath, LocalAtomicCoordinator)

  private def readJson(fs: FileSystem, p: Path): JValue = {
    val in = fs.open(p)
    try JsonMethods.parse(new java.io.InputStreamReader(in, "UTF-8"))
    finally in.close()
  }

  // ---- vacuum horizon ------------------------------------------------

  private def horizonPath(table: Path) = new Path(logDir(table), "_vacuum.json")

  /** Oldest version guaranteed fully readable after vacuums: [[vacuum]]
    * records the head version whenever it deletes a committed-then-
    * superseded data file, because any version below that head may now
    * reference deleted files. -1 = never vacuumed. */
  def vacuumHorizon(spark: SparkSession, path: String): Long = {
    val table = new Path(path)
    val fs = fsOf(spark, table)
    if (!fs.exists(horizonPath(table))) -1L
    else (readJson(fs, horizonPath(table)) \ "horizon").values.toString.toLong
  }

  private def recordHorizon(fs: FileSystem, table: Path, version: Long): Unit = {
    val prior =
      if (!fs.exists(horizonPath(table))) -1L
      else (readJson(fs, horizonPath(table)) \ "horizon").values.toString.toLong
    if (version > prior) {
      // plain overwrite, not the commit coordinator: the horizon is a
      // monotonic watermark, not a versioned commit — a racing write
      // loses nothing but a tighter bound, and the next vacuum restores it
      val out = fs.create(horizonPath(table), true)
      try out.write(JsonMethods.compact(JsonMethods.render(
        JObject("horizon" -> JLong(version)))).getBytes("UTF-8"))
      finally out.close()
    }
  }

  // ---- version tags --------------------------------------------------

  private def tagPath(table: Path, name: String) =
    new Path(logDir(table), s"_tag-$name.json")

  private val TagName = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  private def tagsOf(fs: FileSystem, table: Path): Map[String, Long] = {
    val dir = logDir(table)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("_tag-") && n.endsWith(".json"))
      .map { n =>
        n.stripPrefix("_tag-").stripSuffix(".json") ->
          (readJson(fs, new Path(dir, n)) \ "version").values.toString.toLong
      }.toMap
  }

  /** Pin a committed version under a NAME — the dataset-freeze a
    * training run needs for reproducibility ("train on corpus@v42"):
    * [[vacuum]] RETAINS every file a tagged snapshot references, and
    * [[snapshotAt]]/[[readTag]] of a tagged version stay readable below
    * the vacuum horizon, so the pinned data survives table maintenance
    * until the tag is removed. One control file per tag
    * (`_txlog/_tag-<name>.json`, overwrite-atomic, invisible to the
    * version chain and the [[graft.streaming.ChangeFeed]] source);
    * re-tagging a name moves it. Defaults to the current head; tagging
    * a version whose files vacuum already deleted fails at resolve.
    * Returns the pinned version. */
  def tag(spark: SparkSession, path: String, name: String,
      version: Long = -1L): Long = {
    require(TagName.matches(name), s"tag: invalid name '$name' " +
      "(allowed: alphanumeric plus . _ -, not starting with a separator)")
    val table = new Path(path)
    val fs = fsOf(spark, table)
    val v = if (version >= 0L) version else latestVersion(fs, table)
    require(v >= 0L, s"tag: no committed version at $path")
    resolveSnapshot(spark, path, Some(v)) // validates existence + horizon
    val out = fs.create(tagPath(table, name), true)
    try out.write(JsonMethods.compact(JsonMethods.render(
      JObject("version" -> JLong(v)))).getBytes("UTF-8"))
    finally out.close()
    v
  }

  /** All tags of the table, name → pinned version. */
  def tags(spark: SparkSession, path: String): Map[String, Long] = {
    val table = new Path(path)
    tagsOf(fsOf(spark, table), table)
  }

  /** Drop a tag. The pinned files stay on disk until the next [[vacuum]]
    * (and the version stays readable until one runs). */
  def removeTag(spark: SparkSession, path: String, name: String): Unit = {
    val table = new Path(path)
    fsOf(spark, table).delete(tagPath(table, name), false)
  }

  /** TIMESTAMP-based time travel (Delta's `timestampAsOf` analogue):
    * the newest committed version whose commit file's modification time
    * is ≤ `tsMillis`. Commit mtimes are the only clock the log has —
    * monotone per table because versions publish in order — so the
    * mapping is deterministic for any timestamp between two commits.
    * Throws when `tsMillis` predates the first commit (same contract
    * as Delta: no table state existed to read). */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val table = new Path(path)
    val fs = fsOf(spark, table)
    val commits = listLog(fs, table)
      .filter(!_.getName.contains("checkpoint"))
    require(commits.nonEmpty, s"versionAt: no table at $path")
    val timed = commits.map(p =>
      p.getName.stripSuffix(".json").toLong -> fs.getFileStatus(p)
        .getModificationTime).sortBy(_._1)
    val at = timed.takeWhile(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"versionAt: $tsMillis predates the first commit " +
        s"(v${timed.head._1} at ${timed.head._2})")
    at.last._1
  }

  /** [[read]] pinned to the newest version committed at-or-before the
    * timestamp (partition/key pruning included). */
  def readAsOfTimestamp(spark: SparkSession, path: String, tsMillis: Long,
      partitions: Option[Set[String]] = None,
      keyRange: Option[(String, String)] = None): DataFrame =
    read(spark, path, partitions, Some(versionAt(spark, path, tsMillis)),
      keyRange)

  /** [[read]] pinned to a tag (partition/key pruning included). */
  def readTag(spark: SparkSession, path: String, name: String,
      partitions: Option[Set[String]] = None,
      keyRange: Option[(String, String)] = None): DataFrame = {
    val v = tags(spark, path).getOrElse(name,
      throw new NoSuchElementException(
        s"tag '$name' not found at $path (have: " +
          s"${tags(spark, path).keys.toSeq.sorted.mkString(", ")})"))
    read(spark, path, partitions, Some(v), keyRange)
  }

  // ---- snapshot resolution ------------------------------------------

  /** Resolve the current committed snapshot: newest checkpoint (if any)
    * plus the commits after it, applied in version order. Missing table
    * → version -1, empty file set. */
  def snapshot(spark: SparkSession, path: String): Snapshot =
    resolveSnapshot(spark, path, None)

  /** TIME TRAVEL: the snapshot as of a past `version` — the newest
    * checkpoint ≤ version plus the commits up to and including it. The
    * log is append-only, so a pinned version is immutable; the DATA
    * files of superseded versions survive until a [[vacuum]] older than
    * its grace window removes them (the grace window IS the time-travel
    * retention, same contract as Delta's `VACUUM ... RETAIN`). Throws
    * if `version` exceeds the committed head. */
  def snapshotAt(spark: SparkSession, path: String, version: Long): Snapshot =
    resolveSnapshot(spark, path, Some(version))

  private def resolveSnapshot(spark: SparkSession, path: String,
      asOf: Option[Long]): Snapshot = {
    val table = new Path(path)
    val fs = fsOf(spark, table)
    val names = listLog(fs, table).map(_.getName)
    if (names.isEmpty) {
      require(asOf.isEmpty, s"time travel to v$asOf on a table with no log")
      return Snapshot(-1L, Seq.empty)
    }
    val commitVersions = names.filter(!_.contains("checkpoint"))
      .map(_.stripSuffix(".json").toLong)
    asOf.foreach { v =>
      require(v >= 0 && commitVersions.nonEmpty && v <= commitVersions.max,
        s"time travel to v$v but committed head is " +
          (if (commitVersions.isEmpty) "empty" else s"v${commitVersions.max}"))
      // fail at RESOLVE time, not mid-scan: a vacuum past its grace
      // window deletes the data files of superseded versions, so a read
      // pinned below the recorded horizon would surface as a raw
      // FileNotFoundException deep inside the scan. Diagnose it here.
      // TAGGED versions are exempt: vacuum retains their files.
      val horizon = vacuumHorizon(spark, path)
      if (v < horizon && !tagsOf(fs, table).values.exists(_ == v))
        throw new IllegalStateException(
          s"version $v vacuumed (horizon $horizon): vacuum removed data " +
            s"files of versions below v$horizon — the vacuum grace window " +
            "(plus tags, which vacuum retains) is the time-travel retention")
    }
    val ckVersions = names.filter(_.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".checkpoint.json").toLong)
      .filter(cv => asOf.forall(cv <= _))
    val fromCk = if (ckVersions.isEmpty) -1L else ckVersions.max
    var schema: Option[String] = None
    var files = if (fromCk < 0) Map.empty[String, AddFile]
    else {
      val ck = readJson(fs, checkpointPath(table, fromCk))
      schema = (ck \ "schema").toOption.collect { case JString(d) => d }
      parseFiles(ck \ "files").map(f => f.path -> f).toMap
    }
    val commits = commitVersions
      .filter(cv => cv > fromCk && asOf.forall(cv <= _)).sorted
    var v = fromCk
    commits.foreach { cv =>
      val j = readJson(fs, commitPath(table, cv))
      (j \ "schema").toOption.foreach {
        case JString(d) => schema = Some(d)
        case _ => ()
      }
      parseFiles(j \ "removes").foreach(f => files -= f.path)
      // removes may also arrive as plain path strings
      (j \ "removes") match {
        case JArray(items) => items.foreach {
          case JString(p) => files -= p
          case _ => ()
        }
        case _ => ()
      }
      parseFiles(j \ "adds").foreach(f => files += (f.path -> f))
      v = cv
    }
    Snapshot(v, files.values.toSeq.sortBy(_.path), schema)
  }

  /** Unsigned lexicographic compare of UTF-8 bytes — the order parquet
    * binary statistics are maintained in; key-skipping must compare the
    * same way or a non-ASCII key could skip a file that holds it. */
  private def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Read a set of committed files (paths relative to `table`) under
    * the committed schema when the log carries one. */
  private def readAddFiles(spark: SparkSession, table: String,
      files: Seq[AddFile], schemaDdl: Option[String]): DataFrame = {
    val rd = spark.read.option("basePath", table)
    schemaDdl
      .map(ddl => rd.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl)))
      .getOrElse(rd)
      .parquet(files.map(f => s"$table/${f.path}"): _*)
  }

  /** Read the table (optionally pruned to `partitions` and/or a key
    * range) at a consistent snapshot — the committed head, or a pinned
    * past version when `asOfVersion` is set (time travel; see
    * [[snapshotAt]] for the retention contract). Pruning is LOG-level:
    * files of other partitions, and files whose footer min/max key
    * stats exclude `keyRange` (both bounds inclusive — a point lookup
    * passes `(k, k)`), are never opened — the 100 TB analogue of
    * Delta's stats-based data skipping. Files written before stats
    * tracking have no bounds and are always read; key-skipping only
    * drops files, so the caller still applies its row filter. */
  def read(spark: SparkSession, path: String,
      partitions: Option[Set[String]] = None,
      asOfVersion: Option[Long] = None,
      keyRange: Option[(String, String)] = None,
      // key-PREFIX data skipping (the multi-point probe complement of
      // `keyRange`): a file is kept iff some prefix's key interval
      // [p, p+"￿") can intersect the file's committed
      // [minKey, maxKey]. Driver cost is #files × log(#prefixes) over
      // the sorted prefix list; files without key stats always read
      // (superset-safe; callers re-apply their predicate). This is what
      // an index probe with MANY keys uses — a single keyRange spanning
      // hash-scattered probe keys would prune nothing.
      keyPrefixes: Option[Seq[String]] = None): DataFrame = {
    val snap = asOfVersion match {
      case Some(v) => snapshotAt(spark, path, v)
      case None => snapshot(spark, path)
    }
    val byPart = partitions match {
      case Some(ps) => snap.files.filter(f => ps(f.partition))
      case None => snap.files
    }
    val byKey = keyRange match {
      case Some((lo, hi)) => byPart.filter(f => (f.minKey, f.maxKey) match {
        case (Some(mn), Some(mx)) =>
          cmpUtf8(mx, lo) >= 0 && cmpUtf8(mn, hi) <= 0
        case _ => true // no stats → cannot skip
      })
      case None => byPart
    }
    val live = keyPrefixes match {
      case Some(ps) =>
        // all keys with prefix p lie in [p, p + '￿'): a file's
        // [mn, mx] overlaps that interval iff p <= mx AND p + '￿'
        // >= mn, which decomposes EXACTLY into: p ∈ [mn, mx] (plain
        // range — binary search), OR p < mn while mn still starts
        // with p (p's interval reaches past mn). The naive "largest
        // p <= mx" shortcut is WRONG here: p + '￿' is not monotone
        // in p when one probe prefix string-prefixes another ("a" vs
        // "am" against a file at [az, az9] would drop the file while
        // "a"-keys live in it).
        // sorted in UTF-8 BYTE order to match cmpUtf8's binary search —
        // String's default UTF-16 order diverges for chars >= U+E000 vs
        // supplementary (emoji) code points, and a mis-ordered list breaks
        // the lower-bound invariant → files wrongly skipped (missed rows)
        val sorted = ps.distinct.sorted(utf8Ordering).toIndexedSeq
        val set = sorted.toSet
        // the degenerate empty prefix covers every key
        if (set.contains("")) byKey
        else byKey.filter(f => (f.minKey, f.maxKey) match {
          case (Some(mn), Some(mx)) =>
            // any prefix in [mn, mx]: first p >= mn, check <= mx
            var lo = 0
            var hi = sorted.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (cmpUtf8(sorted(mid), mn) < 0) lo = mid + 1 else hi = mid
            }
            val inRange = lo < sorted.length &&
              cmpUtf8(sorted(lo), mx) <= 0
            // or some proper prefix of mn is probed (p < mn, covers mn)
            inRange || (1 until mn.length)
              .exists(i => set.contains(mn.substring(0, i)))
          case _ => true // no stats → cannot skip
        })
      case None => byKey
    }
    if (live.isEmpty) {
      // an emptied (or fully-pruned) table still reads with its full
      // schema: commits carry the table DDL, so projections and
      // filters on the empty frame resolve. Only a log written before
      // schema tracking degrades to the 0-column frame.
      snap.schemaDdl match {
        case Some(ddl) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
        case None => spark.emptyDataFrame
      }
    } else {
      // read under the COMMITTED schema when the log carries one: files
      // written before a column was added (schema evolution via merge)
      // null-fill it, and the footer-inference pass is skipped entirely
      readAddFiles(spark, path, live, snap.schemaDdl)
    }
  }

  /** Per-partition metadata-only aggregates of [[statsAggregate]]:
    * `rows` is always exact; the key bounds are Some only when EVERY
    * file of the partition carries bounds. */
  case class PartitionStats(partition: String, rows: Long, files: Int,
      minKey: Option[String], maxKey: Option[String])

  /** METADATA-ONLY aggregates from the committed log — row counts, file
    * counts, and key bounds per partition WITHOUT opening a single data
    * file (the same free-at-write-time stats answer Delta/Iceberg give
    * `SELECT count(*)`). At 100 TB this turns the most common catalog
    * probes — table size, partition sizes, key coverage — into a
    * driver-sized log read.
    *
    * Fail-safe, never wrong: returns None when any selected live file
    * predates row stats (`rows < 0`) — the caller must fall back to a
    * scan; a partition whose files lack KEY bounds still gets its exact
    * row count, with `minKey`/`maxKey` = None. Output sorted by
    * partition. */
  def statsAggregate(spark: SparkSession, path: String,
      partitions: Option[Set[String]] = None,
      asOfVersion: Option[Long] = None): Option[Seq[PartitionStats]] = {
    val snap = asOfVersion match {
      case Some(v) => snapshotAt(spark, path, v)
      case None => snapshot(spark, path)
    }
    val live = partitions match {
      case Some(ps) => snap.files.filter(f => ps(f.partition))
      case None => snap.files
    }
    if (live.exists(_.rows < 0)) None
    else Some(live.groupBy(_.partition).toSeq.sortBy(_._1).map {
      case (p, fs) =>
        val bounds =
          if (fs.forall(f => f.minKey.isDefined && f.maxKey.isDefined))
            Some((fs.flatMap(_.minKey).min(Ordering.fromLessThan[String](
                   cmpUtf8(_, _) < 0)),
                  fs.flatMap(_.maxKey).max(Ordering.fromLessThan[String](
                   cmpUtf8(_, _) < 0))))
          else None
        PartitionStats(p, fs.map(_.rows).sum, fs.size,
          bounds.map(_._1), bounds.map(_._2))
    })
  }

  /** CHANGE FEED between two committed versions (Delta CDF analogue):
    * row-level inserts, deletes, and update pre/post-images keyed on
    * `keyCol`, derived from the two pinned snapshots. Only the files
    * that CHANGED between the versions are read — the merge rewrites
    * whole partitions, so unchanged partitions' files are shared by
    * both snapshots and never opened; rows carried over unchanged
    * inside a rewritten partition are detected by full-row comparison
    * and not emitted. Output schema = table schema + `_change_type` ∈
    * insert | delete | update_preimage | update_postimage, aggregated
    * over the (from, to] range (net effect, not per-commit replay).
    * An incremental consumer (e.g. the search-doc indexer's CDC
    * contract, ST1) polls `snapshot().version` and feeds
    * `changes(lastSeen, head)` into its micro-batch. Same retention
    * contract as [[snapshotAt]]. */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, keyCol: String = "_docId"): DataFrame = {
    require(fromVersion <= toVersion,
      s"changes: from v$fromVersion > to v$toVersion")
    val fromS = snapshotAt(spark, path, fromVersion)
    val toS = snapshotAt(spark, path, toVersion)
    val fromPaths = fromS.files.map(_.path).toSet
    val toPaths = toS.files.map(_.path).toSet
    val removed = fromS.files.filterNot(f => toPaths(f.path))
    val added = toS.files.filterNot(f => fromPaths(f.path))
    def readFiles(fs: Seq[AddFile]): Option[DataFrame] =
      if (fs.isEmpty) None
      else {
        // BOTH sides read under the newer snapshot's schema so the
        // full-row comparison resolves across a schema evolution
        // boundary (pre-evolution files null-fill the added columns)
        Some(readAddFiles(spark, path, fs,
          toS.schemaDdl.orElse(fromS.schemaDdl)))
      }
    (readFiles(removed), readFiles(added)) match {
      case (None, None) =>
        // no files differ (idle poll, from == to): still honor the
        // documented output schema so a CDC consumer's projections and
        // filters resolve on the empty batch — from any live file, or
        // (for an emptied table) the schema the commits carry; only a
        // schema-tracking-free legacy log with no files yields the
        // 0-column frame
        readFiles(toS.files.take(1)).orElse(readFiles(fromS.files.take(1)))
          .orElse(toS.schemaDdl.orElse(fromS.schemaDdl).map(ddl =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType.fromDDL(ddl)))) match {
          case Some(any) => any.filter(lit(false))
            .withColumn("_change_type", lit(""))
          case None => spark.emptyDataFrame
        }
      case (None, Some(a)) => a.withColumn("_change_type", lit("insert"))
      case (Some(b), None) => b.withColumn("_change_type", lit("delete"))
      case (Some(b), Some(a)) =>
        val cols = a.columns.toSeq
        def keyed(df: DataFrame) = df.select(col(keyCol).as("_k"),
          struct(cols.map(col): _*).as("_row"))
        val chType = org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("ct",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("r", a.schema))))
        keyed(b).as("b")
          .join(keyed(a).as("a"), col("b._k") === col("a._k"), "full_outer")
          .select(explode(
            when(col("b._k").isNull,
              array(struct(lit("insert").as("ct"), col("a._row").as("r"))))
            .when(col("a._k").isNull,
              array(struct(lit("delete").as("ct"), col("b._row").as("r"))))
            .when(col("a._row") =!= col("b._row"), array(
              struct(lit("update_preimage").as("ct"), col("b._row").as("r")),
              struct(lit("update_postimage").as("ct"), col("a._row").as("r"))))
            .otherwise(array().cast(chType))).as("c"))
          .select(col("c.r.*"), col("c.ct").as("_change_type"))
    }
  }

  private val utf8Ordering: Ordering[String] =
    (a: String, b: String) => cmpUtf8(a, b)

  /** TYPE STABILITY: a batch column sharing a name with a committed
    * column must match its type exactly — shared by [[merge]] and
    * [[append]] so both mutation paths reject the same silent-retyping
    * hazard (a committed `string` column arriving as `int` would stage
    * parquet that explodes, or mis-casts, only when later READ under
    * the committed DDL). catalogString comparison: nullability-
    * insensitive (an all-null array arrives as array<void>
    * containsNull=false against a committed containsNull=true — same
    * type). void-typed sides are exempt: an all-null column is the
    * degenerate bottom type, and refining array<void> to array<string>
    * (or merging more nulls into it) is the union widening this engine
    * has always allowed. */
  private def checkTypeStability(op: String, committedDdl: String,
      batch: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    // RECURSIVE void detection, not a catalogString substring test: a
    // field NAMED "avoid" would otherwise exempt its column from the
    // whole check
    def hasVoid(dt: DataType): Boolean = dt match {
      case NullType => true
      case a: ArrayType => hasVoid(a.elementType)
      case m: MapType => hasVoid(m.keyType) || hasVoid(m.valueType)
      case s: StructType => s.fields.exists(f => hasVoid(f.dataType))
      case _ => false
    }
    val committed = StructType
      .fromDDL(committedDdl).fields.map(f => f.name -> f.dataType).toMap
    batch.fields.foreach { f =>
      committed.get(f.name)
        .filter(t => t.catalogString != f.dataType.catalogString &&
          !hasVoid(t) && !hasVoid(f.dataType))
        .foreach { t =>
          require(requirement = false,
            s"$op: column ${f.name} arrives as " +
              s"${f.dataType.simpleString} but the table committed " +
              s"${t.simpleString} — type changes are not supported")
        }
    }
  }

  /** Row count and (when `statsCol` is a string column with complete
    * row-group statistics) its min/max, from the parquet FOOTER only —
    * no data pages are read, the same free-at-write-time stats Delta
    * records per file. Bounds are claimed only when EVERY row group
    * carries them: a partial bound could wrongly skip the file. */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
      file: Path, statsCol: Option[String])
      : (Long, Option[String], Option[String]) = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val bounds = statsCol.toSeq.flatMap { colName =>
        blocks.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == colName)
            .flatMap { c =>
              val st: org.apache.parquet.column.statistics.Statistics[_] =
                c.getStatistics
              if (st == null || st.isEmpty || !st.hasNonNullValue) None
              else (st.genericGetMin, st.genericGetMax) match {
                case (mn: org.apache.parquet.io.api.Binary,
                      mx: org.apache.parquet.io.api.Binary) =>
                  Some((mn.toStringUsingUTF8, mx.toStringUsingUTF8))
                case _ => None
              }
            }
        }
      }
      if (statsCol.isEmpty || bounds.size != blocks.size) (rows, None, None)
      else (rows, Some(bounds.map(_._1).min(utf8Ordering)),
        Some(bounds.map(_._2).max(utf8Ordering)))
    } finally reader.close()
  }

  /** Write `df`'s rows as new UNCOMMITTED data files under the table
    * root (hive-partitioned by `partitionCol`), returning their AddFile
    * records — row count and, when `statsCol` is set, per-file key
    * bounds, all read from parquet footers (metadata-only; one footer
    * read per staged file, proportional to the batch, not the table).
    * Files are invisible to readers until a commit references them. */
  def stageData(spark: SparkSession, path: String, df: DataFrame,
      partitionCol: String, statsCol: Option[String] = None): Seq[AddFile] = {
    val table = new Path(path)
    val fs = fsOf(spark, table)
    val conf = spark.sessionState.newHadoopConf()
    val stage = new Path(table, s"_staged-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(stage.toString)
    val adds = fs.listStatus(stage).filter(_.isDirectory).flatMap { pd =>
      val escaped = pd.getPath.getName // partitionCol=escapedValue
      val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(escaped.substring(escaped.indexOf('=') + 1))
      val destDir = new Path(table, escaped)
      fs.mkdirs(destDir)
      fs.listStatus(pd.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map { f =>
          // job-UUID file names are globally unique — no rename clash
          val dest = new Path(destDir, f.getPath.getName)
          if (!fs.rename(f.getPath, dest))
            throw new java.io.IOException(s"stage move failed: $dest")
          val (rows, mn, mx) = footerStats(conf, dest, statsCol)
          AddFile(s"$escaped/${dest.getName}", raw, rows, mn, mx)
        }
    }.toSeq
    fs.delete(stage, true)
    adds
  }

  /** Attempt to publish one commit at `version`. Returns false when the
    * version was taken by a concurrent writer (caller re-reads and
    * retries). Writes a checkpoint every [[CheckpointInterval]] commits
    * (best-effort — a checkpoint failure never fails the commit). */
  def tryCommit(spark: SparkSession, path: String, version: Long,
      adds: Seq[AddFile], removes: Seq[AddFile],
      schemaDdl: Option[String] = None): Boolean = {
    val table = new Path(path)
    val fs = fsOf(spark, table)
    fs.mkdirs(logDir(table))
    val fields = List(
      "version" -> (JLong(version): JValue),
      "adds" -> renderFiles(adds),
      "removes" -> renderFiles(removes)) ++
      schemaDdl.map(d => "schema" -> (JString(d): JValue)).toList
    val body = JsonMethods.compact(JsonMethods.render(JObject(fields: _*)))
    val coordinator = coordinatorOf(path)
    val dest = commitPath(table, version)
    val ok = coordinator.tryPublish(fs, dest, body)
    if (!ok) awaitPublished(fs, dest)
    if (ok && version > 0 && version % CheckpointInterval == 0) {
      try {
        val snap = snapshot(spark, path)
        if (snap.version >= version)
          coordinator.tryPublish(fs, checkpointPath(table, snap.version),
            JsonMethods.compact(JsonMethods.render(JObject(
              (List("files" -> renderFiles(snap.files)) ++
                snap.schemaDdl.map(d =>
                  "schema" -> (JString(d): JValue)).toList): _*))))
      } catch { case _: Exception => () }
    }
    ok
  }

  /** How long a writer that lost a version waits for the winner's commit
    * file to become visible before re-reading the log anyway. */
  private val PublishWaitMs = 10000L

  /** A lost publish means another writer owns `dest`, but a conditional-put
    * coordinator decides the winner BEFORE its file is written. A loser
    * that re-read the log at once would still see the old head, race the
    * same version again and burn one retry per re-read — a winner stalled
    * for a GC pause could exhaust a merge's `maxAttempts` on nothing. So
    * wait (bounded, backing off) until the winning commit is visible.
    * Rename-based coordinators only lose to an existing file: no wait. */
  private def awaitPublished(fs: FileSystem, dest: Path): Unit = {
    val deadline = System.nanoTime() + PublishWaitMs * 1000000L
    var sleepMs = 1L
    while (!fs.exists(dest) && System.nanoTime() < deadline) {
      Thread.sleep(sleepMs)
      sleepMs = math.min(sleepMs * 2, 50L)
    }
  }

  /** MERGE INTO with last-writer-wins semantics, keyed on `keyCol`:
    * rows of `updates` replace current rows with the same key;
    * `removedKeys` (nullable) are deleted. Only partitions present in
    * the batch are read or rewritten — and inside them, only the FILES
    * whose committed [minKey, maxKey] can hold one of the batch's keys
    * (see below).
    *
    * WRITE AMPLIFICATION (the 100 TB contract): a file that provably
    * holds none of the batch's update/remove keys cannot change under
    * LWW, so it is neither read nor rewritten — its AddFile carries
    * over. For a protocol-sized batch (keys collect under
    * [[MergeKeyProbeCap]] — every streaming micro-batch) the merge
    * cost is Θ(key-overlapping files + batch), NOT Θ(touched
    * partitions): the difference between a per-trigger rewrite of a
    * key-clustered shard's tail file and a per-trigger rewrite of the
    * whole store. Files without key stats, and batches over the cap,
    * degrade to the partition-level rewrite (superset-safe).
    *
    * KEY SHAPE CONTRACT (ENFORCED): a removed key's partition is
    * derived from the key itself — everything before the first `#`
    * (the engine's composite doc-id form, `databaseId#assetId[#path]`).
    * Keys must embed the partition value as that prefix and partition
    * values must not contain `#`. Both are checked before any commit:
    * a partition value containing `#`, or a delete key whose derived
    * partition is neither committed nor present in the batch's updates,
    * throws instead of silently missing its row (a silent no-op delete
    * is indistinguishable from the mis-derivation, so both fail loud).
    * (Updates carry the partition column explicitly and are not
    * affected.) Retries on commit conflict:
    * partition-disjoint concurrent commits are re-applied verbatim
    * (their base did not change); overlapping ones rebuild the merge
    * from the fresh snapshot. Every retry path re-derives from committed
    * state, so the result is as if the merges ran serially. */
  /** Thrown by [[merge]] when `expectedVersion` is set and the head
    * moved — the caller's read set may be stale, so the merge must NOT
    * silently restage (conflict-checked DML; [[deleteWhere]] re-derives
    * its victims and retries). */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** Batch-key cap for [[merge]]'s file-level victim probe: under it,
    * the batch's distinct keys collect to the driver (sorted; ~30 B
    * each ⇒ ≤ ~2 MB) and prune the rewrite set per file; over it the
    * merge falls back to whole-partition rewrites — by then the batch
    * is bulk-load-sized and touches most files anyway. */
  private val MergeKeyProbeCap = 65536

  def merge(spark: SparkSession, path: String, updates: DataFrame,
      removedKeys: DataFrame = null, keyCol: String = "_docId",
      partitionCol: String = "str_databaseid",
      maxAttempts: Int = 20,
      expectedVersion: Option[Long] = None): Unit = {
    val updPartsRaw = updates.select(partitionCol).distinct()
      .collect().map(_.getString(0))
    // KEY SHAPE CONTRACT, half 0: a NULL partition value cannot
    // round-trip through the "partition#key" delete convention (and
    // would land in parquet's default-partition limbo) — refuse it up
    // front, like the '#' check below, instead of silently staging
    // rows no delete can ever reach
    require(!updPartsRaw.contains(null),
      s"merge: NULL value in partition column '$partitionCol' — " +
        "partition values must be non-null strings (KEY SHAPE " +
        "CONTRACT); filter or default them before merging")
    val updParts: Set[String] = updPartsRaw.toSet
    val rmParts: Set[String] = Option(removedKeys)
      .map(_.select(split(col(keyCol), "#").getItem(0)).distinct()
        .collect().map(_.getString(0)).filter(_ != null).toSet)
      .getOrElse(Set.empty)
    val touched = updParts ++ rmParts
    if (touched.isEmpty) {
      // Delta semantics: creating a table from an EMPTY frame still
      // creates it — commit v0 with the schema and zero files, so
      // readers, time travel (asOfVersion = 0), and later merges see a
      // table instead of "no log" (a fresh tenant / dry-run pipeline is
      // the normal first caller). An empty merge on an EXISTING table
      // stays the no-op it always was.
      if (snapshot(spark, path).version < 0) {
        val ddl = Some(org.apache.spark.sql.types.StructType(
          updates.schema.filter(_.name != partitionCol) ++
            updates.schema.find(_.name == partitionCol)).toDDL)
        var attempt = 0
        var done = false
        while (!done && attempt < maxAttempts) {
          attempt += 1
          // a racing writer creating the table concurrently wins; our
          // empty create then has nothing to add
          if (snapshot(spark, path).version >= 0) done = true
          else done = tryCommit(spark, path, 0L, Seq.empty, Seq.empty, ddl)
        }
      }
      return
    }
    // KEY SHAPE CONTRACT, half 1: a `#` inside a partition value makes
    // every later delete of that partition derive a wrong (prefix)
    // partition — refuse to commit such values at all
    updParts.foreach(p => require(!p.contains("#"),
      s"merge: partition value '$p' contains '#' — delete keys derive " +
        "their partition as the prefix before the first '#', so rows in " +
        "this partition could never be deleted (KEY SHAPE CONTRACT)"))
    // micro-batch inputs are re-read on every retry; pin them once
    val up = updates.localCheckpoint()
    val rm = Option(removedKeys).map(_.select(keyCol).localCheckpoint())
    // file-level victim probe (see the class doc's WRITE AMPLIFICATION
    // note): the batch's distinct keys, sorted, when protocol-sized.
    // Collected ONCE off the pinned inputs — retries re-derive victims
    // from each fresh snapshot against this same set.
    val probeKeys: Option[Array[String]] = {
      // null keys match no stored row — excluded from the probe (they
      // would NPE the sort; their rows still stage like any other)
      val uk = up.select(col(keyCol).cast("string"))
        .filter(col(keyCol).isNotNull).distinct()
        .limit(MergeKeyProbeCap + 1).collect().map(_.getString(0))
      val rk = rm.map(_.select(col(keyCol).cast("string"))
          .filter(col(keyCol).isNotNull).distinct()
          .limit(MergeKeyProbeCap + 1).collect().map(_.getString(0)))
        .getOrElse(Array.empty[String])
      if (uk.length > MergeKeyProbeCap || rk.length > MergeKeyProbeCap) None
      // UTF-8 byte order — holdsAKey binary-searches with cmpUtf8, and a
      // UTF-16-sorted array breaks its invariant for keys with chars >=
      // U+E000 vs supplementary code points (wrongly non-overlapping
      // victim → stale row never rewritten, silent duplicate key)
      else Some((uk ++ rk).sorted(utf8Ordering))
    }
    // victim test: does any probed key fall inside [mn, mx]?
    def holdsAKey(ks: Array[String], mn: String, mx: String): Boolean = {
      var lo = 0
      var hi = ks.length
      while (lo < hi) { // lower bound: first key >= mn
        val mid = (lo + hi) >>> 1
        if (cmpUtf8(ks(mid), mn) < 0) lo = mid + 1 else hi = mid
      }
      lo < ks.length && cmpUtf8(ks(lo), mx) <= 0
    }
    var attempt = 0
    var done = false
    var staged: Seq[AddFile] = Seq.empty
    var stagedDdl: Option[String] = None
    // the BASE fileset the staged merge was computed from: staged files
    // are valid to commit ONLY while the touched partitions' live files
    // are exactly this set. Checked at LOOP TOP against the snapshot we
    // are about to commit on — not merely after a failed commit —
    // because between a non-conflicting failure and the retry another
    // writer can rewrite a touched partition, and committing the stale
    // staged files over it would silently drop that writer's rows.
    var stagedBase: Set[AddFile] = Set.empty
    while (!done) {
      attempt += 1
      require(attempt <= maxAttempts, s"merge: $maxAttempts commit conflicts")
      val snap = snapshot(spark, path)
      expectedVersion.filter(_ != snap.version).foreach { v =>
        throw new ConcurrentCommitException(
          s"merge: expected to commit on version $v but the head is " +
            s"${snap.version} — caller's read set may be stale")
      }
      if (attempt == 1) {
        // KEY SHAPE CONTRACT, half 2: every delete key's derived
        // partition must be committed or introduced by this batch's
        // updates — anything else is either a mis-shaped key (the
        // silent data-loss edge) or a delete of a row that cannot
        // exist; both fail loud instead of silently dropping the delete
        val known = updParts ++ snap.files.map(_.partition)
        val unknown = rmParts -- known
        require(unknown.isEmpty,
          s"merge: delete keys derive partition(s) ${unknown.mkString(", ")} " +
            s"not committed to the table and absent from the batch's " +
            "updates — keys must be '<partition>#<id>' with a partition " +
            "value free of '#' (KEY SHAPE CONTRACT)")
      }
      // victims: touched partitions' files that can hold a batch key —
      // stats-less files always qualify (superset-safe); a non-victim
      // provably keeps every row under LWW, so its AddFile carries over
      val partFiles = snap.files.filter(f => touched(f.partition))
      val oldFiles = probeKeys match {
        case Some(ks) => partFiles.filter(f => (f.minKey, f.maxKey) match {
          case (Some(mn), Some(mx)) => holdsAKey(ks, mn, mx)
          case _ => true
        })
        case None => partFiles
      }
      if (staged.nonEmpty && oldFiles.toSet != stagedBase)
        staged = Seq.empty // base moved — restage from this snapshot
      if (staged.isEmpty) {
        // TYPE STABILITY (checked explicitly, not left to union
        // coercion): a batch column sharing a name with a committed
        // column must match its type exactly. Before file-level victim
        // pruning this failed incidentally — ANSI union widened
        // string+int to BIGINT and the CAST blew up only when a
        // conflicting VALUE was actually read; a batch whose victims
        // held no conflicting values would have committed a silently
        // RE-TYPED column whose old files explode at read time.
        snap.schemaDdl.foreach { ddl =>
          checkTypeStability("merge", ddl, up.schema)
        }
        val current =
          if (oldFiles.isEmpty)
            // no victim files — the merge still runs AGAINST the
            // committed schema (an empty frame of that shape), or a
            // batch missing a table column would commit a DEMOTED
            // DDL and a type-changed batch would land unvalidated;
            // the empty union keeps the widening/rejection semantics
            // identical to the read path below
            snap.schemaDdl.map(ddl => spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType.fromDDL(ddl))).orNull
          else {
            // base rows read under the COMMITTED schema, not footer
            // inference: a partition whose files predate a schema
            // evolution must surface the added columns (null-filled) or
            // this merge would commit a DEMOTED table schema
            readAddFiles(spark, path, oldFiles, snap.schemaDdl)
              .withColumn(partitionCol, col(partitionCol).cast("string"))
          }
        val merged = current match {
          case null => up
          case cur =>
            val afterRemove = rm match {
              case Some(r) => cur.join(r, Seq(keyCol), "left_anti")
              case None => cur
            }
            afterRemove
              .join(up.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
              // SCHEMA EVOLUTION (add-column): a batch carrying columns
              // the table lacks widens the table — existing rows
              // null-fill them (read() applies the committed DDL, so
              // pre-evolution files resolve); a batch MISSING table
              // columns null-fills its own rows. Type changes stay a
              // loud failure (unionByName rejects them).
              .unionByName(up, allowMissingColumns = true)
        }
        // stage once per BASE: a partition-disjoint conflict re-commits
        // the same files; any movement of the base restages above.
        // CLUSTER before staging (guide §6 — small files hurt twice):
        // un-clustered, every upstream task writes its own file into
        // every partition it holds (measured: 279 live files for a
        // 16-shard ledger after 3 micro-batch merges — the whole state
        // table re-listed and re-opened per read). One hash exchange by
        // the partition column makes each touched partition ONE file
        // per commit (a merge rewrites touched partitions wholesale, so
        // the live set stays one file per shard regardless of commit
        // count); the within-file key sort keeps footer min/max stats
        // tight for the read path's key skipping. Oversized partitions
        // remain [[compact]]'s job, which re-slots by target size.
        val clustered = merged
          .repartition(col(partitionCol))
          .sortWithinPartitions(col(partitionCol), col(keyCol))
        staged = stageData(spark, path, clustered, partitionCol, Some(keyCol))
        stagedBase = oldFiles.toSet
        // the commit carries the table schema (partition column last,
        // mirroring the partitioned read's column order) so an emptied
        // table keeps its shape
        stagedDdl = Some(org.apache.spark.sql.types.StructType(
          merged.schema.filter(_.name != partitionCol) ++
            merged.schema.find(_.name == partitionCol)).toDDL)
      }
      if (tryCommit(spark, path, snap.version + 1, staged, oldFiles,
        stagedDdl)) done = true
      // on failure: loop re-snapshots; the loop-top base check decides
      // whether the staged files are still valid or must be rebuilt
    }
  }

  /** INSERT-only commit (Delta's blind APPEND): stage `df`'s rows as
    * new files and commit them as pure adds — no read-modify-write, so
    * the write cost is Θ(batch) REGARDLESS of table size, where [[merge]]
    * reads and rewrites every touched partition (correct for keyed LWW
    * upserts; a full-store rewrite per micro-batch for an insert-only
    * table whose batches touch all shards). Duplicate keys are NOT
    * collapsed: append is for content-addressed rows where a
    * redelivered batch re-inserts byte-identical rows and readers
    * tolerate (or dedup) replays. Rows are range-clustered and sorted
    * on (partition, key) before staging, so every staged file carries
    * tight min/max key stats — the layout [[read]]'s
    * `keyRange`/`keyPrefixes` skipping feeds on. Small-file buildup
    * from per-batch appends is [[compact]]'s job, as for merge.
    *
    * Schema: the table's committed DDL is preserved; a batch whose
    * column-name set differs from it fails loud (append never widens —
    * use merge for schema evolution), and same-named columns keep
    * their committed types, exactly like [[merge]]. */
  def append(spark: SparkSession, path: String, df: DataFrame,
      keyCol: String = "_docId", partitionCol: String = "str_databaseid",
      maxAttempts: Int = 20): Unit = {
    // the batch is validated against a snapshot's committed DDL: names
    // must match exactly (append never widens) AND same-named columns
    // must keep their committed types (same silent-retyping hazard
    // merge checks — an int batch under a committed string column
    // would stage parquet that explodes only at read time)
    def validate(committedDdl: Option[String]): Option[String] =
      committedDdl match {
        case Some(d) =>
          val committed = org.apache.spark.sql.types.StructType.fromDDL(d)
            .fieldNames.toSet
          require(committed == df.columns.toSet,
            s"append: batch columns ${df.columns.sorted.mkString(",")} != " +
              s"table columns ${committed.toSeq.sorted.mkString(",")}")
          checkTypeStability("append", d, df.schema)
          Some(d)
        case None => Some(org.apache.spark.sql.types.StructType(
          df.schema.filter(_.name != partitionCol) ++
            df.schema.find(_.name == partitionCol)).toDDL)
      }
    validate(snapshot(spark, path).schemaDdl)
    val clustered = df
      .repartitionByRange(col(partitionCol), col(keyCol))
      .sortWithinPartitions(col(partitionCol), col(keyCol))
    val staged = stageData(spark, path, clustered, partitionCol, Some(keyCol))
    if (staged.isEmpty) return
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= maxAttempts, s"append: $maxAttempts commit conflicts")
      val snap = snapshot(spark, path)
      // pure adds conflict with nothing: any concurrent commit just
      // moves the version; re-read and re-commit the same files. The
      // DDL is RE-READ from the snapshot being committed on (and the
      // batch re-validated against it): committing a pre-stage copy
      // would silently revert a concurrent merge's schema widening
      // (e.g. array<void> -> array<string>) landed between staging and
      // the winning commit.
      if (tryCommit(spark, path, snap.version + 1, staged, Seq.empty,
        validate(snap.schemaDdl))) return
    }
  }

  /** Row-level `DELETE WHERE` (Delta's predicate delete): keys of the
    * rows matching `condition` are resolved with one read — the
    * predicate pushes into the parquet scan; pass `partitions` /
    * `keyRange` to ALSO prune at the log level like [[read]] — and
    * removed through the same MERGE path as every other mutation
    * (ACID, retry on conflict, change-feed visible as deletes).
    * Returns the number of rows deleted. A predicate matching nothing
    * commits nothing.
    *
    * CONFLICT-CHECKED (serializable delete, Delta's semantics): the
    * victim key set is resolved against a pinned version and committed
    * through [[merge]] with `expectedVersion` — if any writer commits
    * in between, the merge fails with [[ConcurrentCommitException]] and
    * the predicate is RE-EVALUATED against the fresh snapshot before
    * retrying. A row concurrently updated to no longer match
    * `condition` is therefore never deleted (no write skew: every
    * committed delete saw the table state it committed over). */
  def deleteWhere(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column,
      keyCol: String = "_docId",
      partitionCol: String = "str_databaseid",
      partitions: Option[Set[String]] = None,
      keyRange: Option[(String, String)] = None,
      maxAttempts: Int = 20): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= maxAttempts,
        s"deleteWhere: $maxAttempts conflict retries exhausted")
      // pin the version FIRST: if the head moves before the victim read,
      // the read sees a newer state and the expectedVersion check fails
      // the commit — a spurious retry, never a stale delete
      val v0 = snapshot(spark, path).version
      val victims = read(spark, path, partitions = partitions,
          keyRange = keyRange).filter(condition)
        .select(keyCol).localCheckpoint()
      val n = victims.count()
      if (n == 0) return 0
      try {
        merge(spark, path, updates = victims.limit(0).select(col(keyCol),
            split(col(keyCol), "#").getItem(0).as(partitionCol)),
          removedKeys = victims, keyCol = keyCol, partitionCol = partitionCol,
          expectedVersion = Some(v0))
        return n
      } catch {
        case _: ConcurrentCommitException => () // re-derive and retry
      }
    }
    -1L // unreachable
  }

  /** Row-level `UPDATE WHERE` (Delta's predicate update): rows matching
    * `condition` get the `set` expressions applied (each evaluated over
    * the OLD row, like SQL UPDATE ... SET) and merge back through the
    * same upsert path. CONFLICT-CHECKED like [[deleteWhere]]: the read
    * set is pinned to a version and the commit refuses if the head
    * moved, re-evaluating the predicate before retrying — a row
    * concurrently changed to no longer match is never updated from
    * stale state. `set` may not touch the key or partition column (that
    * would be a move, not an update — delete + insert explicitly).
    * Returns the number of rows updated. */
  def updateWhere(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column,
      set: Seq[(String, org.apache.spark.sql.Column)],
      keyCol: String = "_docId",
      partitionCol: String = "str_databaseid",
      partitions: Option[Set[String]] = None,
      keyRange: Option[(String, String)] = None,
      maxAttempts: Int = 20): Long = {
    require(set.nonEmpty, "updateWhere: empty SET")
    set.foreach { case (c, _) =>
      require(c != keyCol && c != partitionCol,
        s"updateWhere: SET may not touch '$c' (key/partition) — a key " +
          "move is a delete + insert, do it explicitly")
    }
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= maxAttempts,
        s"updateWhere: $maxAttempts conflict retries exhausted")
      val v0 = snapshot(spark, path).version
      val base = read(spark, path, partitions = partitions,
        keyRange = keyRange).filter(condition)
      val setMap = set.toMap
      setMap.keys.foreach(c => require(base.columns.contains(c),
        s"updateWhere: SET column '$c' not in the table schema"))
      // every SET expression evaluates over the OLD row (SQL UPDATE
      // semantics) — one select, not chained withColumns, so a later
      // assignment never sees an earlier one's result
      val updated = base.select(base.columns.map(c =>
          setMap.get(c).map(_.as(c)).getOrElse(col(c))): _*)
        .localCheckpoint()
      val n = updated.count()
      if (n == 0) return 0
      try {
        merge(spark, path, updates = updated, keyCol = keyCol,
          partitionCol = partitionCol, expectedVersion = Some(v0))
        return n
      } catch {
        case _: ConcurrentCommitException => () // re-derive and retry
      }
    }
    -1L // unreachable
  }

  /** Roll the table BACK to `version` as a NEW commit (the Delta
    * RESTORE analogue): the head becomes row-identical to the target
    * snapshot by re-referencing its files — metadata only, nothing
    * copied or rewritten, and the rolled-back versions stay in the
    * history (a restore of a restore works; [[changes]] across the
    * restore commit shows the rollback as ordinary row changes). The
    * target's schema restores with its files, so `read()` after the
    * restore is indistinguishable from `read(asOfVersion = target)`.
    * The target must still be readable: at-or-above the vacuum
    * horizon, or pinned by a [[tag]]. Optimistic like every commit. */
  def restore(spark: SparkSession, path: String, version: Long,
      maxAttempts: Int = 20): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      require(attempt <= maxAttempts, s"restore: $maxAttempts commit conflicts")
      val target = snapshotAt(spark, path, version) // horizon/tag-checked
      val head = snapshot(spark, path)
      if (head.version == version) return
      val targetPaths = target.files.map(_.path).toSet
      val headPaths = head.files.map(_.path).toSet
      val adds = target.files.filterNot(f => headPaths(f.path))
      val removes = head.files.filterNot(f => targetPaths(f.path))
      done = tryCommit(spark, path, head.version + 1, adds, removes,
        target.schemaDdl.orElse(head.schemaDdl))
    }
  }

  /** [[restore]] to the version a [[tag]] pins. */
  def restoreTag(spark: SparkSession, path: String, name: String): Unit =
    restore(spark, path, tags(spark, path).getOrElse(name,
      throw new NoSuchElementException(s"tag '$name' not found at $path")))

  /** One row per commit, newest first: (version, commit time ms, files
    * added, files removed, rows added) — the DESCRIBE HISTORY
    * introspection surface, read from the log only (no data IO). */
  def history(spark: SparkSession, path: String)
      : Seq[(Long, Long, Int, Int, Long)] = {
    val table = new Path(path)
    val fs = fsOf(spark, table)
    listLog(fs, table)
      .filter(!_.getName.contains("checkpoint"))
      .map { p =>
        val v = p.getName.stripSuffix(".json").toLong
        val j = readJson(fs, p)
        val adds = parseFiles(j \ "adds")
        val removes = (j \ "removes") match {
          case JArray(items) => items.size
          case _ => 0
        }
        (v, fs.getFileStatus(p).getModificationTime, adds.size, removes,
          adds.map(f => math.max(f.rows, 0L)).sum)
      }
      .sortBy(-_._1)
  }

  /** Drop whole partitions as ONE metadata-only commit: every live file
    * of `partitionValues` is removed, nothing is added, no data is read
    * or rewritten — the partition-level delete a retention sweep, a
    * GDPR-style source purge, or per-file index maintenance needs
    * (contrast [[merge]]'s removedKeys, which deletes by ROW key and
    * must rewrite the partition). Optimistic like every commit; the
    * table schema is carried so an emptied table keeps its shape.
    * Returns the number of files dropped (0 if nothing matched). */
  def deletePartitions(spark: SparkSession, path: String,
      partitionValues: Set[String], maxAttempts: Int = 20): Int = {
    if (partitionValues.isEmpty) return 0
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= maxAttempts,
        s"deletePartitions: $maxAttempts commit conflicts")
      val snap = snapshot(spark, path)
      val victims = snap.files.filter(f => partitionValues(f.partition))
      if (victims.isEmpty) return 0
      if (tryCommit(spark, path, snap.version + 1, Seq.empty, victims,
        snap.schemaDdl)) return victims.size
    }
    0
  }

  /** OPTIMIZE: rewrite each fragmented partition's live files into
    * size-targeted, KEY-CLUSTERED files, as an ordinary optimistic
    * COMMIT (adds the compacted files, removes the inputs). This is the
    * compaction for maintained tables, the answer to small-file buildup
    * from per-batch merges. Unlike a filesystem-level rewrite, which can
    * only detect-and-abort around concurrent writers, a concurrent
    * merge here CONFLICTS at commit time: whoever loses the version
    * race re-reads the log; a compaction whose inputs were replaced
    * restarts from the fresh snapshot, so no concurrent writer's file
    * is ever silently dropped.
    *
    * Scale shape (the Delta OPTIMIZE analogue, VLDB 2020 §4.3): output
    * is range-partitioned on (partition, key) with one slot per
    * `targetRowsPerFile` rows — a 10-file 500 GB partition compacts to
    * N right-sized files in parallel, never to one giant single-task
    * file — and each slot is sorted, so every output file covers a
    * DISJOINT key range and carries tight min/max key stats
    * ([[stageData]] reads them from the footers). After compaction a
    * point lookup through [[read]]'s `keyRange` prunes to exactly one
    * file per partition (see TxLogSpec). A partition is left alone once
    * it is already right-sized: >1 fragment below half the target, an
    * oversized file, or a legacy stats-less file triggers the rewrite;
    * re-running compact on its own output is a no-op, so maintenance
    * loops don't churn rewrites.
    *
    * Row-identical by construction; superseded files remain for time
    * travel until [[vacuum]]'s grace window passes. Returns the number
    * of partitions compacted. */
  def compact(spark: SparkSession, path: String,
      partitionCol: String = "str_databaseid", keyCol: String = "_docId",
      maxAttempts: Int = 20,
      targetRowsPerFile: Long = 4L * 1024 * 1024): Int = {
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= maxAttempts, s"compact: $maxAttempts commit conflicts")
      val snap = snapshot(spark, path)
      val needsWork = snap.files.groupBy(_.partition).filter { case (_, fs) =>
        val smallFragments = fs.count(f =>
          f.rows < 0 || f.rows < targetRowsPerFile / 2)
        val oversized = fs.exists(f => f.rows > 2 * targetRowsPerFile)
        (fs.size > 1 && smallFragments > 1) || oversized
      }
      if (needsWork.isEmpty) return 0
      val inputs = needsWork.values.flatten.toSeq
      val totalRows = inputs.map(f => math.max(f.rows, 0L)).sum
      val slots = math.ceil(totalRows.toDouble / targetRowsPerFile).toInt
      val raw = readAddFiles(spark, path, inputs, snap.schemaDdl)
        .withColumn(partitionCol, col(partitionCol).cast("string"))
      val hasKey = raw.columns.contains(keyCol)
      // two clustering regimes, both key-sorted so every output file
      // carries tight min/max key stats (read from the footers by
      // stageData) and internally ordered row groups:
      //  - fragments-only (all partitions fit the target): one task —
      //    and one output file — per partition, parallel across
      //    partitions;
      //  - splitting demand (some partition exceeds the target): range-
      //    cluster on (partition, key), one slot per targetRowsPerFile
      //    rows — an oversized partition compacts to N right-sized
      //    KEY-DISJOINT files in parallel instead of one giant
      //    single-task file, and a point lookup through read()'s
      //    keyRange later opens exactly one of them.
      // Tables without the key column (plain layouts adopted into the
      // log) keep partition clustering, unsorted.
      val compacted =
        if (hasKey && slots > needsWork.size)
          raw.repartitionByRange(slots, col(partitionCol), col(keyCol))
            .sortWithinPartitions(col(partitionCol), col(keyCol))
        else if (hasKey)
          raw.repartition(col(partitionCol))
            .sortWithinPartitions(col(partitionCol), col(keyCol))
        else raw.repartition(col(partitionCol))
      val staged = stageData(spark, path, compacted, partitionCol,
        Some(keyCol).filter(compacted.columns.contains))
      if (tryCommit(spark, path, snap.version + 1, staged, inputs))
        return needsWork.size
      // conflict: a writer landed first — its commit may have replaced
      // some of our inputs; restart from the fresh snapshot (our staged
      // files stay unreferenced and are reclaimed by vacuum)
    }
    0
  }

  /** Remove data files neither the HEAD nor any TAGGED snapshot
    * references, plus stale staging directories, `olderThanMs` old
    * (grace for in-flight writers); [[tag]]ged versions' files are
    * retained so pinned datasets survive maintenance. When a DATA file
    * is removed, the current head version is recorded as the
    * [[vacuumHorizon]]: untagged versions below it may now reference
    * deleted files, so [[snapshotAt]]/[[changes]] there fail with a
    * clean diagnostic at resolve time instead of a FileNotFoundException
    * mid-scan. (Staging-dir cleanup never moves the horizon — those
    * files were never committed.) */
  def vacuum(spark: SparkSession, path: String,
      olderThanMs: Long = 3600L * 1000): Seq[String] = {
    val table = new Path(path)
    val fs = fsOf(spark, table)
    if (!fs.exists(table)) return Seq.empty
    val snap = snapshot(spark, path)
    // the HEAD's files plus every file a TAGGED snapshot references —
    // a pinned dataset version survives maintenance until untagged
    // (O(tags) metadata-only log replays)
    val live = snap.files.map(_.path).toSet ++
      tagsOf(fs, table).values.toSet.flatMap((v: Long) =>
        resolveSnapshot(spark, path, Some(v)).files.map(_.path))
    // files some COMMIT ever referenced: deleting one of these breaks
    // the versions that referenced it (→ horizon moves); deleting a
    // crashed writer's never-committed orphan breaks nothing. The log
    // is driver-sized metadata, so this replay is O(commits) small reads.
    val everCommitted: Set[String] = listLog(fs, table)
      .filter(!_.getName.contains("checkpoint"))
      .flatMap(p => parseFiles(readJson(fs, p) \ "adds").map(_.path)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    var committedRemoved = false
    fs.listStatus(table).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("_staged-")) {
        if (st.getModificationTime < cutoff) {
          fs.delete(st.getPath, true); removed += name
        }
      } else if (st.isDirectory && name.contains("=")) {
        fs.listStatus(st.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .foreach { f =>
            val rel = s"$name/${f.getPath.getName}"
            if (!live(rel) && f.getModificationTime < cutoff) {
              fs.delete(f.getPath, false); removed += rel
              if (everCommitted(rel)) committedRemoved = true
            }
          }
      }
    }
    if (committedRemoved) recordHorizon(fs, table, snap.version)
    removed.toSeq
  }
}
