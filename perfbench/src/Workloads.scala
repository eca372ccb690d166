package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.query.{TermIndex, TextIndex}
import graft.sources.TxLog
import graft.streaming.DocMaintenance
import perfbench.Gen._

/** What a workload hands back to [[Main]]. */
final case class RunResult(correct: Boolean, attempted: Long, failed: Long,
    endToEnd: Map[String, (Double, String)], perLayer: Map[String, (Double, String)],
    spans: Seq[Tracer.Span], notes: Seq[String])

/** What the timed phase measured: whole rounds, their wall seconds,
  * GC milliseconds and process CPU seconds, and `opCpuNanos`, the CPU
  * the operations took: the calling thread's plus the executor CPU of
  * every Spark stage they started. */
final case class Timed(rounds: Int, seconds: Double, gcMs: Double, cpuS: Double,
    opCpuNanos: Long)

/** Shared run plumbing: set-up, warm-up, and the closed timed loop over
  * whole rounds. */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val seconds: Int, val dataDir: String, val trace: Boolean) {
  /** Untraced tracer for set-up and warm-up; the timed phase uses
    * `timedTracer`, which records spans only in traced mode. */
  val quiet = new Tracer(false, spark.sparkContext)
  lazy val timedTracer = if (trace) new Tracer(true, spark.sparkContext) else quiet
  val cpuListener = new Tracer.CpuListener
  spark.sparkContext.addSparkListener(cpuListener)

  def dirBytes(paths: String*): Long = paths.map { p =>
    val f = new java.io.File(p)
    if (!f.exists()) 0L
    else java.nio.file.Files.walk(f.toPath).filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
  }.sum

  val log = ArrayBuffer.empty[String]
  /** Note a phase's end, in seconds since the JVM started. */
  def mark(what: String): Unit = log += f"$what at " +
    f"${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s"

  def inputs(e: Entities): Unit = log += s"inputs: ${e.assets.size} assets, " +
    s"${e.files.size} files, ${e.meta.size} metadata, ${e.versions.size} versions, " +
    s"${e.links.size} links"
  val Assets = 1000

  /** Run `build` in `$dataDir/setup`; return the process CPU seconds it
    * took. */
  def setup(build: String => Unit): Double = {
    val (c0, t0) = (Jvm.cpuNanos, System.nanoTime())
    build(s"$dataDir/setup")
    log += f"set-up: ${(System.nanoTime() - t0) / 1e9}%.2f s wall, " +
      f"${(Jvm.cpuNanos - c0) / 1e9}%.2f s cpu"
    (Jvm.cpuNanos - c0) / 1e9
  }

  /** One untimed round of the workload's operations, so the JIT and
    * Spark's lazy state are warm. Code generation does not settle under
    * the session's default 100-entry codegen cache (a round needs more
    * classes than that), so the compile counts are logged, not awaited. */
  def warmUp(pass: => Unit): Unit = {
    val before = Jvm.codegenCompiles
    val t0 = System.nanoTime()
    pass
    log += f"warm-up: ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
      s"${Jvm.codegenCompiles - before} codegen compiles"
  }

  /** Whole rounds until `seconds` of them have passed. `afterFirst`
    * (bookkeeping) runs after the first round, outside the measured
    * wall and operation CPU time. Spark jobs started inside a round
    * carry the `perfbench.op` local property, which `cpuListener`
    * counts. */
  def timedRounds(round: Int => Unit)(afterFirst: => Unit): Timed = {
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBus.drain(sc)
    val exec0 = cpuListener.cpuNanos
    val gc0 = Jvm.gcMillis
    val cpu0 = Jvm.cpuNanos
    var wall = 0L
    var thread = 0L
    var rounds = 0
    while (rounds == 0 || wall / 1e9 < seconds) {
      val (t0, c0) = (System.nanoTime(), Jvm.threadCpuNanos)
      sc.setLocalProperty(Tracer.OpProp, "1")
      try round(rounds) finally sc.setLocalProperty(Tracer.OpProp, null)
      wall += System.nanoTime() - t0
      thread += Jvm.threadCpuNanos - c0
      org.apache.spark.PerfbenchBus.drain(sc)
      log += f"round $rounds: ${(System.nanoTime() - t0) / 1e9}%.2f s wall, " +
        f"${(Jvm.threadCpuNanos - c0) / 1e6}%.0f ms thread cpu, " +
        f"executor cpu so far ${(cpuListener.cpuNanos - exec0) / 1e6}%.0f ms"
      if (rounds == 0) afterFirst
      rounds += 1
    }
    org.apache.spark.PerfbenchBus.drain(sc)
    Timed(rounds, wall / 1e9, (Jvm.gcMillis - gc0).toDouble,
      (Jvm.cpuNanos - cpu0) / 1e9, thread + cpuListener.cpuNanos - exec0)
  }

  def run(): RunResult
}

object Workload {
  def spanName(r: Req): String = r match {
    case q: SearchReq if q.cls == "bm25" => s"request.bm25.${q.route}"
    case _ => s"request.${r.cls}"
  }
}

/** Governed interactive search over static doc tables. */
final class SearchWorkload(spark: SparkSession, seed: Long, seconds: Int,
    dataDir: String, trace: Boolean)
    extends Workload(spark, seed, seconds, dataDir, trace) {

  def run(): RunResult = {
    val e = Gen.entities(seed, Assets)
    inputs(e)
    val round = Gen.searchRound(seed, e)
    val cs = Gen.constraints(seed)
    var dir = ""
    var termV = 0L
    var textV = 0L
    // the system of record is input, written before set-up is timed
    val ent = s"$dataDir/entities"
    Frames.assets(spark, e).write.parquet(s"$ent/assets")
    Frames.files(spark, e).write.parquet(s"$ent/files")
    Frames.edges(spark, e).write.parquet(s"$ent/edges")
    val assetsE = spark.read.parquet(s"$ent/assets")
    val filesE = spark.read.parquet(s"$ent/files")
    val edgesE = spark.read.parquet(s"$ent/edges")
    mark("entities written")
    val setupS = setup { d =>
      DocMaintenance.mergeDocsTx(spark, s"$d/asset_docs",
        Frames.assetDocs(spark, assetsE, e))
      termV = TermIndex.syncTx(spark, s"$d/asset_docs", s"$d/term_index", -1L,
        "doc_num", "bm25_text")
      TextIndex.manage(spark, s"$d/asset_docs", "str_description", s"$d/text_index")
      textV = TxLog.snapshot(spark, s"$d/asset_docs").version
      dir = d
    }
    val storedMb = dirBytes(s"$dir/asset_docs", s"$dir/term_index",
      s"$dir/text_index") / 1048576.0
    val view = DocView.open(spark, s"$dir/asset_docs",
      Some((s"$dir/term_index", termV)), textV)

    def runRound(s: Searcher, sink: ArrayBuffer[Outcome], tr: Tracer): Unit =
      round.foreach { r =>
        tr.request += 1
        sink += tr.timed(Workload.spanName(r)) {
          r match {
            case q: SearchReq => s.search(q, s.principal(q), view, 0)
            case b: BrowseReq => s.browse(b, assetsE, filesE, edgesE)
          }
        }
      }

    val warm = new Searcher(spark, quiet, cs, Gen.hotPrincipals(seed))
    warmUp(runRound(warm, ArrayBuffer.empty, quiet))
    val tr = timedTracer
    val searcher = new Searcher(spark, tr, cs, Gen.hotPrincipals(seed))
    searcher.preload()
    mark("timed start")
    val out = ArrayBuffer.empty[Outcome]
    val t = timedRounds(_ => runRound(searcher, out, tr))(())
    mark("timed end")
    val heapMb = Jvm.liveHeapMb

    // ── checks, outside the timed window ───────────────────────────────
    val assetRef = Reference.assetDocs(e)
    val byNum = assetRef.map(d => Reference.docNum(d.docId).toString -> d).toMap
    // the same principals, whose policies are still cached
    val checker = new Searcher(spark, quiet, cs, Gen.hotPrincipals(seed))
    val otherRoute = scala.collection.mutable.Map.empty[Gen.Req, Outcome]
    val failures = out.flatMap { o =>
      (o.req match {
        case r: SearchReq if r.req.scorer == "bm25" =>
          Checks.bm25(o, r, byNum, cs).orElse {
            // the other route must return the identical page and total
            val alt = otherRoute.getOrElseUpdate(r, checker.search(
              r.copy(route = if (r.route == "scan") "index" else "scan"),
              checker.principal(r), view, 0))
            if (alt.hits != o.hits || alt.total != o.total)
              Some(s"bm25 routes differ: ${o.hits.take(2)} vs ${alt.hits.take(2)}")
            else None
          }
        case r: SearchReq => Checks.exact(o, r, assetRef, cs)
        case b: BrowseReq => Checks.browse(o, b, e)
      }).map(msg => s"${o.req.cls}: $msg")
    }

    mark("checks end")
    val searches = out.filter(_.req.isInstanceOf[SearchReq]).toSeq
    val e2e = Map(
      "setup_s" -> (Main.sessionCpuSeconds + setupS, "s"),
      "heap_mb" -> (heapMb, "MB"),
      "stored_mb" -> (storedMb, "MB"),
      "op_cpu_ms" -> (t.opCpuNanos / 1e6 / out.size, "ms"))
    val layers =
      if (!trace) Map.empty[String, (Double, String)]
      else PerLayer.search(tr, round.size, searches.map(_.nanos / 1e6), out.size / t.seconds,
        out.take(round.size).filter(_.req.isInstanceOf[SearchReq]).map(_.hits.size.toLong).sum,
        t.gcMs, t.cpuS, TxLog.snapshot(spark, s"$dir/asset_docs").files.size)
    RunResult(true, out.size.toLong, failures.size.toLong, e2e, layers, tr.spans.toSeq,
      failures.take(5).toSeq ++ log ++ Seq(f"timed rounds: ${t.rounds} in ${t.seconds}%.1f s, " +
        s"requests: ${out.size}, failed: ${failures.size}"))
  }
}

/** The streaming indexer: CDC batches rebuild and merge the changed
  * docs, the term and text indexes catch up, a governed search proves
  * each batch is visible, and reads land beside the writes. */
final class MaintainWorkload(spark: SparkSession, seed: Long, seconds: Int,
    dataDir: String, trace: Boolean)
    extends Workload(spark, seed, seconds, dataDir, trace) {

  val BatchesPerRound = 1

  /** `termErr`: why the term index sync failed, if it did. */
  final case class BatchStat(changes: Int, keys: Int, found: Boolean,
      marked: String, termErr: Option[String])

  def run(): RunResult = {
    val e0 = Gen.entities(seed, Assets)
    inputs(e0)
    val cs = Gen.constraints(seed)
    var dir = ""
    var termV = 0L
    val setupS = setup { d =>
      DocMaintenance.mergeDocsTx(spark, s"$d/asset_docs",
        Frames.assetDocs(spark, Frames.assets(spark, e0), e0))
      termV = TermIndex.syncTx(spark, s"$d/asset_docs", s"$d/term_index", -1L,
        "doc_num", "bm25_text")
      TextIndex.manage(spark, s"$d/asset_docs", "str_description", s"$d/text_index")
      dir = d
    }
    val docsPath = s"$dir/asset_docs"
    var textV = TxLog.snapshot(spark, docsPath).version
    var state = e0
    val snapshots = ArrayBuffer(e0)
    val rnd = new scala.util.Random(seed * 7 + 11)
    var serial = 0
    val nextId = () => { serial += 1; serial }
    val reads = Gen.maintainReads(seed)
    val buckets = Frames.buckets(spark)

    def cdcFrame(changes: Seq[Change]): DataFrame = {
      import spark.implicits._
      changes.zipWithIndex.map { case (c, i) =>
        val l = c.link
        (i.toLong, c.op, c.table, c.key._1, c.key._2,
          l.map(_.fromDb).orNull, l.map(_.fromAsset).orNull,
          l.map(_.toDb).orNull, l.map(_.toAsset).orNull, l.map(_.id).orNull)
      }.toDF("sequence", "op", "table", "databaseId", "assetId",
        "fromDatabaseId", "fromAssetId", "toDatabaseId", "toAssetId", "assetLinkId")
    }

    def batch(s: Searcher, tr: Tracer, sink: ArrayBuffer[Outcome],
        stats: ArrayBuffer[BatchStat]): Unit = {
      val marker = "qzx" + Integer.toString(snapshots.size, 26)
        .map(c => ('a' + Character.digit(c, 26)).toChar)
      val (changes, next, marked) = Gen.batch(rnd, state, marker, nextId)
      state = next
      snapshots += next
      tr.request += 1
      val view = tr.timed("batch") {
        val (rebuilt, removed) = tr.timed("streaming.plan") {
          val links = Frames.links(spark, next)
          val keys = DocMaintenance.affectedKeysWithLinkMeta(cdcFrame(changes), links)
          val rm = changes.filter(_.op == "REMOVE").map(c => s"${c.key._1}#${c.key._2}")
          (Frames.decorate(DocMaintenance.rebuildChanged(keys,
            Frames.assets(spark, next), buckets, Frames.metadata(spark, next),
            Frames.versions(spark, next), links)),
            if (rm.isEmpty) null else { import spark.implicits._; rm.toDF("_docId") })
        }
        tr.timed("sources.merge") {
          DocMaintenance.mergeDocsTx(spark, docsPath, rebuilt, removed)
        }
        val termErr = tr.timed("query.termsync") {
          try {
            termV = TermIndex.syncTx(spark, docsPath, s"$dir/term_index", termV,
              "doc_num", "bm25_text")
            None
          } catch { case NonFatal(x) => Some(s"${x.getClass.getSimpleName}: " +
            String.valueOf(x.getMessage).linesIterator.next().take(120)) }
        }
        textV = tr.timed("query.textsync") {
          TextIndex.syncTx(spark, docsPath, "str_description", textV)
        }
        val view = DocView.open(spark, docsPath, None, textV)
        val fresh = tr.timed("api.fresh") {
          s.search(SearchReq("fresh", graft.query.SearchRequest(
            tokens = Seq(graft.query.Token("str_description", ":", marker)),
            size = 10), "text", -1, Set.empty),
            Gen.Maintainer, view, snapshots.size - 1)
        }
        sink += fresh
        val keys = changes.flatMap(c => Seq(c.key) ++
          c.link.toSeq.flatMap(l => Seq((l.fromDb, l.fromAsset), (l.toDb, l.toAsset)))).distinct
        stats += BatchStat(changes.size, keys.size,
          fresh.hits.exists(_._1 == marked.docId), marked.docId, termErr)
        view
      }
      reads.foreach { r =>
        tr.request += 1
        sink += tr.timed(Workload.spanName(r)) {
          s.search(r, s.principal(r), view, snapshots.size - 1)
        }
      }
    }

    val warm = new Searcher(spark, quiet, cs, Gen.hotPrincipals(seed))
    warmUp(batch(warm, quiet, ArrayBuffer.empty, ArrayBuffer.empty))
    val tr = timedTracer
    val searcher = new Searcher(spark, tr, cs, Gen.hotPrincipals(seed))
    searcher.preload()
    mark("timed start")
    val out = ArrayBuffer.empty[Outcome]
    val stats = ArrayBuffer.empty[BatchStat]
    var storedMb = 0.0
    var round1: PerLayer.MaintainRound = null
    val commits0 = TxLog.snapshot(spark, docsPath)
    val t = timedRounds { _ =>
      (0 until BatchesPerRound).foreach(_ => batch(searcher, tr, out, stats))
    } {
      // after the first round, a fixed number of commits in
      storedMb = dirBytes(docsPath, s"$dir/term_index", s"$dir/text_index") / 1048576.0
      if (trace) round1 = PerLayer.maintainRound(spark, docsPath, commits0,
        BatchesPerRound, stats.take(BatchesPerRound).map(_.keys).sum)
    }
    mark("timed end")
    val heapMb = Jvm.liveHeapMb

    // ── checks, outside the timed window ───────────────────────────────
    val refDocs = scala.collection.mutable.Map.empty[Int, Seq[Reference.Doc]]
    def docsAt(i: Int) = refDocs.getOrElseUpdate(i, Reference.assetDocs(snapshots(i)))
    val failures = ArrayBuffer.empty[String]
    out.foreach { o =>
      val r = o.req.asInstanceOf[SearchReq]
      val err = r.cls match {
        case "fresh" => None // judged by its batch below
        case "bm25" => Checks.bm25(o, r, docsAt(o.snapshot)
          .map(d => Reference.docNum(d.docId).toString -> d).toMap, cs)
        case _ => Checks.exact(o, r, docsAt(o.snapshot), cs)
      }
      err.foreach(m => failures += s"${r.cls}@${o.snapshot}: $m")
    }
    stats.filterNot(_.found).foreach(b => failures += s"batch lost ${b.marked}")
    stats.zipWithIndex.foreach { case (b, i) =>
      b.termErr.foreach(m => failures += s"termsync@${i + 1}: $m") }
    // the incrementally maintained table equals a full rebuild
    val full = Frames.assetDocs(spark, Frames.assets(spark, state), state)
    val cols = full.columns.toSeq
    val ivm = Checks.canonical(TxLog.read(spark, docsPath), cols)
    val rebuilt = Checks.canonical(full, cols)
    val ivmOk = ivm == rebuilt
    if (!ivmOk) failures += s"IVM != full rebuild: ${(ivm diff rebuilt).size} extra, " +
      s"${(rebuilt diff ivm).size} missing"

    mark("checks end")
    // operations: per batch the commit, the term and text index syncs
    // and the fresh search (failed when it misses the batch), then the
    // reads; the whole-table check decides `correct`
    val attempted = out.size.toLong + 3L * stats.size
    val e2e = Map(
      "setup_s" -> (Main.sessionCpuSeconds + setupS, "s"),
      "heap_mb" -> (heapMb, "MB"),
      "stored_mb" -> (storedMb, "MB"),
      "op_cpu_ms" -> (t.opCpuNanos / 1e6 / attempted, "ms"))
    val roundSize = BatchesPerRound * (1 + reads.size)
    val layers =
      if (!trace) Map.empty[String, (Double, String)]
      else PerLayer.maintain(tr, round1, roundSize, BatchesPerRound,
        out.map(_.nanos / 1e6).toSeq, out.size / t.seconds,
        out.take(roundSize).map(_.hits.size.toLong).sum,
        stats.map(_.changes.toLong).sum, t.seconds, t.gcMs, t.cpuS)
    val perOp = failures.count(f => !f.startsWith("IVM"))
    RunResult(ivmOk, attempted, perOp.toLong, e2e,
      layers, tr.spans.toSeq,
      failures.take(5).toSeq ++ log ++
        Seq(f"timed rounds: ${t.rounds} in ${t.seconds}%.1f s, batches: ${stats.size}, " +
          s"operations: $attempted, failed: $perOp, ivm ok: $ivmOk"))
  }
}
