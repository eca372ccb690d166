package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.DocMaintenance

class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (String, String, String)*) =
    rows.toSeq.toDF("_docId", "str_databaseid", "payload")

  private def tableRows(dir: String): Set[(String, String)] =
    TxLog.read(spark, dir)
      .select("_docId", "payload").as[(String, String)].collect().toSet

  test("merge creates, updates (LWW), and deletes atomically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx1").toString
    TxLog.merge(spark, dir,
      docs(("dbA#a1", "dbA", "a1v1"), ("dbA#a2", "dbA", "a2v1"),
        ("dbB#b1", "dbB", "b1v1")))
    assert(TxLog.isTable(spark, dir))
    assert(tableRows(dir) == Set(("dbA#a1", "a1v1"), ("dbA#a2", "a2v1"),
      ("dbB#b1", "b1v1")))
    TxLog.merge(spark, dir,
      docs(("dbA#a1", "dbA", "a1v2"), ("dbC#c1", "dbC", "c1v1")),
      Seq("dbA#a2").toDF("_docId"))
    assert(tableRows(dir) == Set(("dbA#a1", "a1v2"), ("dbB#b1", "b1v1"),
      ("dbC#c1", "c1v1")))
    // redelivery of the same batch converges (idempotent at-least-once)
    TxLog.merge(spark, dir,
      docs(("dbA#a1", "dbA", "a1v2"), ("dbC#c1", "dbC", "c1v1")),
      Seq("dbA#a2").toDF("_docId"))
    assert(tableRows(dir) == Set(("dbA#a1", "a1v2"), ("dbB#b1", "b1v1"),
      ("dbC#c1", "c1v1")))
  }

  test("log-level partition pruning reads only the asked partition's files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx2").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "x"), ("dbB#b1", "dbB", "y")))
    val pruned = TxLog.read(spark, dir, Some(Set("dbB")))
    assert(pruned.select("_docId").as[String].collect().toSeq == Seq("dbB#b1"))
    // the pruned scan's file list never mentions the other partition
    assert(pruned.inputFiles.forall(_.contains("str_databaseid=dbB")))
  }

  test("readers are snapshot-isolated: an old snapshot stays readable through a merge") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx3").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1")))
    val before = TxLog.snapshot(spark, dir)
    // a reader that resolved `before` now scans lazily...
    val lazyRead = spark.read.option("basePath", dir)
      .parquet(before.files.map(f => s"$dir/${f.path}"): _*)
    // ...while a merge rewrites the same partition
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v2")))
    // old files are superseded but NOT deleted until vacuum → the
    // in-flight scan still sees exactly the old version, never a mix
    assert(lazyRead.select("payload").as[String].collect().toSeq == Seq("v1"))
    assert(tableRows(dir) == Set(("dbA#a1", "v2")))
  }

  test("a writer crash before commit is invisible; vacuum removes the orphans") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx4").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1")))
    // simulate a crash: data files staged into the table, no commit
    val orphans = TxLog.stageData(spark, dir,
      docs(("dbA#a1", "dbA", "CRASHED")), "str_databaseid")
    assert(orphans.nonEmpty)
    assert(tableRows(dir) == Set(("dbA#a1", "v1"))) // readers unaffected
    val removed = TxLog.vacuum(spark, dir, olderThanMs = -1)
    assert(orphans.map(_.path).toSet.subsetOf(removed.toSet))
    assert(tableRows(dir) == Set(("dbA#a1", "v1")))
    // live files survive vacuum
    assert(TxLog.vacuum(spark, dir, olderThanMs = -1).isEmpty)
  }

  test("concurrent merges to DISJOINT partitions both land without rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx5").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "a"), ("dbB#b1", "dbB", "b")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "a2"))))
    val fb = Future(TxLog.merge(spark, dir, docs(("dbB#b2", "dbB", "b2"))))
    Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
    assert(tableRows(dir) == Set(("dbA#a1", "a2"), ("dbB#b1", "b"),
      ("dbB#b2", "b2")))
    assert(TxLog.snapshot(spark, dir).version == 2L)
  }

  test("concurrent merges to the SAME partition serialize; no lost update") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx6").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "seed")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 4).map { i =>
      Future(TxLog.merge(spark, dir, docs((s"dbA#k$i", "dbA", s"v$i"))))
    }
    futures.foreach(Await.result(_, 300.seconds))
    // every writer's row survives — the conflict path rebuilt from the
    // winning base instead of clobbering it
    assert(tableRows(dir) == Set(("dbA#a1", "seed"), ("dbA#k1", "v1"),
      ("dbA#k2", "v2"), ("dbA#k3", "v3"), ("dbA#k4", "v4")))
  }

  test("checkpointing bounds log replay and preserves the snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx7").toString
    (0 until 12).foreach { i =>
      TxLog.merge(spark, dir, docs((s"dbA#k$i", "dbA", s"v$i")))
    }
    val cks = new java.io.File(dir, "_txlog").listFiles()
      .filter(_.getName.endsWith(".checkpoint.json"))
    assert(cks.nonEmpty, "no checkpoint written after 12 commits")
    assert(tableRows(dir) == (0 until 12).map(i => (s"dbA#k$i", s"v$i")).toSet)
    assert(TxLog.snapshot(spark, dir).version == 11L)
  }

  test("time travel: every committed version stays readable at its pinned state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-tt").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1")))
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v2"), ("dbB#b1", "dbB", "b1")))
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v3")),
      Seq("dbB#b1").toDF("_docId"))
    val head = TxLog.snapshot(spark, dir).version
    assert(head == 2)
    def at(v: Long) = TxLog.read(spark, dir, asOfVersion = Some(v))
      .select("_docId", "payload").as[(String, String)].collect().toSet
    assert(at(0) == Set(("dbA#a1", "v1")))
    assert(at(1) == Set(("dbA#a1", "v2"), ("dbB#b1", "b1")))
    assert(at(2) == Set(("dbA#a1", "v3")))
    assert(at(head) == tableRows(dir).map { case (k, p) => (k, p) })
    // beyond the head or on a log-less table → explicit failure
    intercept[IllegalArgumentException](TxLog.snapshotAt(spark, dir, head + 1))
    // vacuum inside the grace window preserves time travel; with zero
    // grace the superseded files go away and only the head survives —
    // the grace window IS the retention contract
    TxLog.vacuum(spark, dir) // default 1h grace: nothing removed
    assert(at(0) == Set(("dbA#a1", "v1")))
    val removed = TxLog.vacuum(spark, dir, olderThanMs = -1)
    assert(removed.nonEmpty)
    assert(tableRows(dir) == Set(("dbA#a1", "v3")))
  }

  test("change feed classifies inserts, updates (pre+post), deletes; carried rows silent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-cdf").toString
    // v0: two docs in dbA (same partition file), one in dbB
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "a1v1"),
      ("dbA#a2", "dbA", "keep"), ("dbB#b1", "dbB", "b1")))
    // v1: update a1, delete b1, insert dbC#c1; a2 carried unchanged
    // inside dbA's rewritten partition
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "a1v2"), ("dbC#c1", "dbC", "c1")),
      Seq("dbB#b1").toDF("_docId"))
    val ch = TxLog.changes(spark, dir, 0, 1)
      .select("_docId", "payload", "_change_type")
      .as[(String, String, String)].collect().toSet
    assert(ch == Set(
      ("dbA#a1", "a1v1", "update_preimage"),
      ("dbA#a1", "a1v2", "update_postimage"),
      ("dbB#b1", "b1", "delete"),
      ("dbC#c1", "c1", "insert")))
    // the carried row dbA#a2 produced NO change row, and dbB's file was
    // the only extra one opened (dbA rewritten, dbC added)
    assert(!ch.exists(_._1 == "dbA#a2"))
    // empty range → no changes
    assert(TxLog.changes(spark, dir, 1, 1).isEmpty)
  }

  test("compaction racing concurrent merges loses no update and stays row-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-race").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "seed"), ("dbB#b1", "dbB", "b1")))
    TxLog.merge(spark, dir, docs(("dbA#a2", "dbA", "x")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // merges and compactions interleave freely; every merge must
    // survive and the table must stay consistent throughout
    val writers = (1 to 3).map { i =>
      Future(TxLog.merge(spark, dir, docs((s"dbA#m$i", "dbA", s"v$i"))))
    }
    val compactors = (1 to 2).map { _ => Future(TxLog.compact(spark, dir)) }
    (writers ++ compactors).foreach(Await.result(_, 300.seconds))
    TxLog.compact(spark, dir)
    assert(tableRows(dir) == Set(("dbA#a1", "seed"), ("dbA#a2", "x"),
      ("dbB#b1", "b1"), ("dbA#m1", "v1"), ("dbA#m2", "v2"), ("dbA#m3", "v3")))
    assert(TxLog.snapshot(spark, dir).files.groupBy(_.partition)
      .forall(_._2.size == 1))
    // every committed version back to 0 still resolves (log replay is
    // linear even through interleaved compactions)
    val head = TxLog.snapshot(spark, dir).version
    (0L to head).foreach(v => TxLog.snapshotAt(spark, dir, v))
  }

  test("compact folds multi-file partitions into one file as a commit; merge conflict is safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-opt").toString
    // three merges → dbA accumulates 3 files, dbB 1
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1"), ("dbB#b1", "dbB", "b1")))
    TxLog.merge(spark, dir, docs(("dbA#a2", "dbA", "v2")))
    TxLog.merge(spark, dir, docs(("dbA#a3", "dbA", "v3")))
    val before = tableRows(dir)
    val preSnap = TxLog.snapshot(spark, dir)
    assert(preSnap.files.count(_.partition == "dbA") > 1)
    assert(TxLog.compact(spark, dir) >= 1)
    val snap = TxLog.snapshot(spark, dir)
    // rows identical, one live file per compacted partition, ONE commit
    assert(tableRows(dir) == before)
    assert(snap.files.count(_.partition == "dbA") == 1)
    assert(snap.version == preSnap.version + 1)
    // a merge AFTER compaction lands normally on the compacted base
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1b")))
    assert(tableRows(dir) == before - (("dbA#a1", "v1")) + (("dbA#a1", "v1b")))
    // nothing left to compact for single-file partitions
    TxLog.compact(spark, dir)
    assert(TxLog.snapshot(spark, dir).files.groupBy(_.partition)
      .forall(_._2.size == 1))
  }

  test("compact splits an oversized partition into key-disjoint right-sized files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-split").toString
    // one partition, 4000 keys, committed as ONE oversized file
    val big = spark.range(4000)
      .select(concat(lit("dbA#k"), format_string("%05d", col("id")))
          .as("_docId"),
        lit("dbA").as("str_databaseid"),
        col("id").cast("string").as("payload"))
    TxLog.merge(spark, dir, big)
    TxLog.compact(spark, dir) // fold the merge's task-scattered files
    val before = TxLog.snapshot(spark, dir)
    assert(before.files.size == 1 && before.files.head.rows == 4000)

    // splitting regime: the single 4000-row file exceeds 2x the target
    assert(TxLog.compact(spark, dir, targetRowsPerFile = 1000) == 1)
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.files.size >= 3, s"expected a split, got ${snap.files.size}")
    assert(snap.files.map(_.rows).sum == 4000)
    // key ranges are pairwise DISJOINT (range clustering, not hashing)
    val bounds = snap.files.map(f => (f.minKey.get, f.maxKey.get))
      .sortBy(_._1)
    bounds.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $hi >= $lo2")
      case _ =>
    }
    // a point lookup through the stats opens exactly ONE of the splits
    val hit = TxLog.read(spark, dir,
      keyRange = Some(("dbA#k02000", "dbA#k02000")))
    assert(hit.inputFiles.length == 1)
    // keyRange prunes FILES; the row predicate stays with the caller
    assert(hit.filter(col("_docId") === "dbA#k02000")
      .select("payload").as[String].collect().toSeq == Seq("2000"))
    // right-sized output is left alone: no rewrite churn on re-run
    assert(TxLog.compact(spark, dir, targetRowsPerFile = 1000) == 0)
    assert(TxLog.snapshot(spark, dir).version == snap.version)
  }

  test("model-based: 40 random merge/delete/dropPartition/compact ops match an in-memory model; pinned versions stay immutable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-model").toString
    val rnd = new scala.util.Random(20260813L) // deterministic — no flake
    val parts = Vector("dbA", "dbB", "dbC")
    val model = scala.collection.mutable.Map[String, String]() // key -> payload
    val pinned = scala.collection.mutable.Map[Long, Set[(String, String)]]()
    def key() = s"${parts(rnd.nextInt(parts.size))}#k${rnd.nextInt(12)}"
    for (step <- 1 to 40) {
      rnd.nextInt(10) match {
        case n if n <= 5 => // merge: 1-4 upserts, sometimes deletes
          val ups = Seq.fill(1 + rnd.nextInt(4))(key()).distinct
            .map(k => (k, k.split("#")(0), s"p$step-${rnd.nextInt(100)}"))
          val dels = if (rnd.nextBoolean() && model.nonEmpty)
            Seq.fill(1 + rnd.nextInt(2))(
              model.keys.toSeq(rnd.nextInt(model.size))).distinct
          else Seq.empty
          TxLog.merge(spark, dir, docs(ups: _*),
            if (dels.isEmpty) null else dels.toDF("_docId"))
          dels.foreach(model.remove)
          ups.foreach { case (k, _, p) => model(k) = p }
        case 6 | 7 => // drop a whole partition
          if (TxLog.isTable(spark, dir)) {
            val p = parts(rnd.nextInt(parts.size))
            TxLog.deletePartitions(spark, dir, Set(p))
            model.keys.filter(_.startsWith(s"$p#")).toSeq.foreach(model.remove)
          }
        case 8 => // OPTIMIZE is row-invisible
          if (TxLog.isTable(spark, dir))
            TxLog.compact(spark, dir, targetRowsPerFile = 4)
        case _ => // pin the current version for the immutability check
          if (TxLog.isTable(spark, dir))
            pinned(TxLog.snapshot(spark, dir).version) = model.toSet
      }
      if (TxLog.isTable(spark, dir))
        assert(tableRows(dir) == model.toSet, s"divergence at step $step")
    }
    // no vacuum ran: every pinned version must replay exactly as frozen
    pinned.foreach { case (v, want) =>
      val got = TxLog.read(spark, dir, asOfVersion = Some(v))
        .select("_docId", "payload").as[(String, String)].collect().toSet
      assert(got == want, s"time travel to v$v diverged")
    }
    assert(pinned.nonEmpty)
  }

  test("restore rolls back to a prior version as a new commit; history lists the chain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-restore").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1")))           // v0
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v2"),
      ("dbB#b1", "dbB", "w1")))                                     // v1
    TxLog.merge(spark, dir, docs(), Seq("dbA#a1").toDF("_docId"))   // v2
    assert(tableRows(dir) == Set(("dbB#b1", "w1")))

    // metadata-only rollback: head becomes row-identical to v0, the
    // rolled-back versions stay in the history
    TxLog.restore(spark, dir, 0)
    assert(TxLog.snapshot(spark, dir).version == 3)
    assert(tableRows(dir) == Set(("dbA#a1", "v1")))
    // the restore commit reads as ordinary changes
    val ch = TxLog.changes(spark, dir, 2, 3)
      .select("_docId", "_change_type").as[(String, String)].collect().toSet
    assert(ch == Set(("dbA#a1", "insert"), ("dbB#b1", "delete")))
    // restoring forward to the pre-rollback state also works
    TxLog.restore(spark, dir, 2)
    assert(tableRows(dir) == Set(("dbB#b1", "w1")))
    // no-op restore to the current head commits nothing
    val v = TxLog.snapshot(spark, dir).version
    TxLog.restore(spark, dir, v)
    assert(TxLog.snapshot(spark, dir).version == v)

    // restore via tag
    TxLog.tag(spark, dir, "golden", 1)
    TxLog.restoreTag(spark, dir, "golden")
    assert(tableRows(dir) == Set(("dbA#a1", "v2"), ("dbB#b1", "w1")))

    // history: newest first, contiguous, with add/remove counts
    val h = TxLog.history(spark, dir)
    assert(h.map(_._1) == (0L to TxLog.snapshot(spark, dir).version).reverse)
    assert(h.forall { case (_, ts, _, _, _) => ts > 0 })
    assert(h.last == h.filter(_._1 == 0L).head)
    val v0row = h.find(_._1 == 0L).get
    assert(v0row._3 >= 1 && v0row._4 == 0 && v0row._5 == 1L)
  }

  test("deletePartitions drops whole partitions as one metadata-only commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-dp").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1"),
      ("dbB#b1", "dbB", "w1"), ("dbC#c1", "dbC", "x1")))
    val before = TxLog.snapshot(spark, dir)
    assert(TxLog.deletePartitions(spark, dir, Set("dbA", "dbC")) >= 2)
    val after = TxLog.snapshot(spark, dir)
    // one commit, nothing added, only the victims' files removed
    assert(after.version == before.version + 1)
    assert(after.files.toSet.subsetOf(before.files.toSet))
    assert(after.files.forall(_.partition == "dbB"))
    assert(tableRows(dir) == Set(("dbB#b1", "w1")))
    // idempotent: nothing left to drop → no empty commit
    assert(TxLog.deletePartitions(spark, dir, Set("dbA")) == 0)
    assert(TxLog.snapshot(spark, dir).version == after.version)
    // dropping the LAST partition keeps the table typed (schema carried)
    TxLog.deletePartitions(spark, dir, Set("dbB"))
    val emptied = TxLog.read(spark, dir)
    assert(emptied.isEmpty &&
      emptied.columns.toSeq == Seq("_docId", "payload", "str_databaseid"))
  }

  test("schema evolution: a merge widens the table; old rows null-fill; time travel keeps the old shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-evo").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1"), ("dbB#b1", "dbB", "w1")))
    // the batch carries a column the table lacks
    TxLog.merge(spark, dir,
      docs(("dbA#a2", "dbA", "v2")).withColumn("lang", lit("en")))
    val head = TxLog.read(spark, dir)
    assert(head.columns.toSeq ==
      Seq("_docId", "payload", "lang", "str_databaseid"))
    assert(head.select("_docId", "lang").as[(String, String)].collect().toSet
      == Set(("dbA#a1", null), ("dbA#a2", "en"), ("dbB#b1", null)))
    // pre-evolution snapshot reads with the pre-evolution shape
    assert(TxLog.read(spark, dir, asOfVersion = Some(0)).columns.toSeq ==
      Seq("_docId", "payload", "str_databaseid"))
    // the change feed resolves across the evolution boundary
    val ch = TxLog.changes(spark, dir, 0, 1)
    assert(ch.filter(col("_change_type") === "insert")
      .select("_docId", "lang").as[(String, String)].collect().toSeq ==
      Seq(("dbA#a2", "en")))
    // a batch MISSING a table column null-fills its own rows
    TxLog.merge(spark, dir, docs(("dbB#b2", "dbB", "w2")))
    assert(TxLog.read(spark, dir).filter(col("_docId") === "dbB#b2")
      .select("lang").as[String].collect().toSeq == Seq(null))
    // type changes stay loud
    intercept[Exception] {
      TxLog.merge(spark, dir,
        docs(("dbA#a3", "dbA", "x")).withColumn("lang", lit(7)))
    }
  }

  test("tags pin dataset versions through vacuum; untagged versions expire") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-tag").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1")))         // v0
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v2")))         // v1
    assert(TxLog.tag(spark, dir, "train-2026-08", version = 0) == 0L)
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v3")))         // v2
    assert(TxLog.tags(spark, dir) == Map("train-2026-08" -> 0L))

    TxLog.vacuum(spark, dir, olderThanMs = -1)
    // the tagged snapshot's files were RETAINED: the pinned dataset
    // still reads exactly as frozen, below the vacuum horizon
    assert(TxLog.vacuumHorizon(spark, dir) == 2L)
    assert(TxLog.readTag(spark, dir, "train-2026-08")
      .select("payload").as[String].collect().toSeq == Seq("v1"))
    // the UNTAGGED superseded version is gone, with the clean diagnostic
    intercept[IllegalStateException] {
      TxLog.read(spark, dir, asOfVersion = Some(1)).collect()
    }
    // tagging a vacuumed version fails at resolve, not mid-scan
    intercept[IllegalStateException] { TxLog.tag(spark, dir, "late", 1) }

    // untag → the next vacuum reclaims the pinned files
    TxLog.removeTag(spark, dir, "train-2026-08")
    assert(TxLog.vacuum(spark, dir, olderThanMs = -1).nonEmpty)
    intercept[IllegalStateException] {
      TxLog.read(spark, dir, asOfVersion = Some(0)).collect()
    }
    assert(TxLog.read(spark, dir)
      .select("payload").as[String].collect().toSeq == Seq("v3"))
    intercept[NoSuchElementException] {
      TxLog.readTag(spark, dir, "train-2026-08")
    }
  }

  test("an emptied table keeps its schema: reads and change feeds stay typed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-empty").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1")))
    // delete the only row — the live file set becomes empty
    TxLog.merge(spark, dir,
      docs(), Seq("dbA#a1").toDF("_docId"))
    val emptied = TxLog.read(spark, dir)
    assert(emptied.isEmpty)
    // full schema survives (partition column last, like a partitioned
    // read), so consumer projections resolve on the empty table
    assert(emptied.columns.toSeq == Seq("_docId", "payload", "str_databaseid"))
    assert(emptied.select("_docId", "payload").count() == 0)
    // idle change feed is also schema-correct
    val head = TxLog.snapshot(spark, dir).version
    val idle = TxLog.changes(spark, dir, head, head)
    assert(idle.columns.contains("_change_type") && idle.isEmpty)
  }

  test("merge fails loud on delete keys that violate the key-shape contract") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-contract").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1")))
    // a delete key whose derived partition is neither committed nor in
    // the batch's updates would previously miss its row SILENTLY
    val e = intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v2")),
        Seq("strayKeyWithoutPartitionPrefix").toDF("_docId"))
    }
    assert(e.getMessage.contains("KEY SHAPE CONTRACT"))
    // a partition value containing '#' breaks delete derivation forever
    // after — refused at write time, not at the eventual delete
    val e2 = intercept[IllegalArgumentException] {
      TxLog.merge(spark, dir, docs(("db#x#k1", "db#x", "v")))
    }
    assert(e2.getMessage.contains("KEY SHAPE CONTRACT"))
    // both failures left the table untouched (no partial commit)
    assert(tableRows(dir) == Set(("dbA#a1", "v1")))
    // a delete whose partition arrives in the SAME batch's updates is legal
    TxLog.merge(spark, dir, docs(("dbB#b1", "dbB", "b1")),
      Seq("dbB#b0").toDF("_docId"))
    assert(tableRows(dir) == Set(("dbA#a1", "v1"), ("dbB#b1", "b1")))
  }

  test("time travel below the vacuum horizon fails at resolve with a clean diagnostic") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-hz").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v1")))
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "v2")))
    assert(TxLog.vacuumHorizon(spark, dir) == -1L)
    // grace window respected → no horizon move, v0 still readable
    TxLog.vacuum(spark, dir)
    assert(TxLog.vacuumHorizon(spark, dir) == -1L)
    assert(TxLog.read(spark, dir, asOfVersion = Some(0))
      .select("payload").as[String].collect().toSeq == Seq("v1"))
    // zero grace removes v0's superseded file → horizon = head (1)
    assert(TxLog.vacuum(spark, dir, olderThanMs = -1).nonEmpty)
    assert(TxLog.vacuumHorizon(spark, dir) == 1L)
    val e = intercept[IllegalStateException](TxLog.snapshotAt(spark, dir, 0))
    assert(e.getMessage.contains("version 0 vacuumed (horizon 1)"))
    // the change feed resolves through the same gate
    intercept[IllegalStateException](TxLog.changes(spark, dir, 0, 1))
    // the head stays fully readable
    assert(tableRows(dir) == Set(("dbA#a1", "v2")))
    assert(TxLog.read(spark, dir, asOfVersion = Some(1))
      .select("payload").as[String].collect().toSeq == Seq("v2"))
  }

  test("per-file key stats are logged and skip files on point lookups") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-stats").toString
    // two commits into the SAME partition with disjoint key ranges →
    // two live files distinguished only by their footer stats
    val a = TxLog.stageData(spark, dir,
      docs(("dbA#a1", "dbA", "x"), ("dbA#a2", "dbA", "y")).repartition(1),
      "str_databaseid", Some("_docId"))
    assert(TxLog.tryCommit(spark, dir, 0, a, Seq.empty))
    val b = TxLog.stageData(spark, dir,
      docs(("dbA#m1", "dbA", "z")).repartition(1),
      "str_databaseid", Some("_docId"))
    assert(TxLog.tryCommit(spark, dir, 1, b, Seq.empty))
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.files.size == 2)
    // rows and bounds populated from the parquet footers (no -1 residue)
    assert(snap.files.map(f => (f.rows, f.minKey.get, f.maxKey.get)).toSet ==
      Set((2L, "dbA#a1", "dbA#a2"), (1L, "dbA#m1", "dbA#m1")))
    // a point lookup opens ONLY the file whose bounds contain the key
    val hit = TxLog.read(spark, dir, keyRange = Some(("dbA#m1", "dbA#m1")))
    assert(hit.inputFiles.length == 1 &&
      hit.inputFiles.head.endsWith(b.head.path))
    assert(hit.select("payload").as[String].collect().toSeq == Seq("z"))
    val hit2 = TxLog.read(spark, dir, keyRange = Some(("dbA#a2", "dbA#a2")))
    assert(hit2.inputFiles.length == 1 &&
      hit2.inputFiles.head.endsWith(a.head.path))
    // ranges spanning both files read both; merge-written files carry
    // stats too (the default path, not just explicit stageData)
    assert(TxLog.read(spark, dir,
      keyRange = Some(("dbA#a1", "dbA#m1"))).inputFiles.length == 2)
    TxLog.merge(spark, dir, docs(("dbB#b1", "dbB", "w")))
    assert(TxLog.snapshot(spark, dir).files
      .forall(f => f.rows > 0 && f.minKey.isDefined && f.maxKey.isDefined))
  }

  test("append commits pure adds (Θ(batch) writes) and keyPrefixes skip non-overlapping files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-app").toString
    TxLog.append(spark, dir, docs(("p0#a1", "p0", "x"), ("p1#b1", "p1", "y")))
    TxLog.append(spark, dir, docs(("p0#a2", "p0", "z")))
    // second commit added files without touching the first commit's:
    // every live file is still referenced, none was rewritten
    val h = TxLog.history(spark, dir)
    assert(h.size == 2, s"expected 2 commits: $h")
    assert(h.forall(_._4 == 0), s"append must remove nothing: $h")
    assert(tableRows(dir) == Set(("p0#a1", "x"), ("p1#b1", "y"), ("p0#a2", "z")))
    val snap = TxLog.snapshot(spark, dir)
    assert(snap.files.size >= 3, "appends must not coalesce prior files")
    // append replays duplicate rows rather than collapsing keys (the
    // insert-only contract; LWW stays merge's job)
    TxLog.append(spark, dir, docs(("p0#a2", "p0", "z")))
    assert(TxLog.read(spark, dir).filter(col("_docId") === "p0#a2").count() == 2)
    // schema-mismatched batches fail loud instead of demoting the table
    intercept[IllegalArgumentException] {
      TxLog.append(spark, dir, Seq(("p0#q", "p0"))
        .toDF("_docId", "str_databaseid"))
    }
    // keyPrefixes: only files whose [minKey, maxKey] can hold a probed
    // prefix are opened; stats-less behavior is covered by keyRange's
    // superset-safe contract (same code path)
    val probe = TxLog.read(spark, dir, keyPrefixes = Some(Seq("p1#b")))
    assert(probe.select("payload").as[String].collect().toSeq == Seq("y"))
    assert(probe.inputFiles.length <
      TxLog.read(spark, dir).inputFiles.length,
      "prefix probe must open fewer files than the full read")
    // a prefix matching nothing prunes everything
    assert(TxLog.read(spark, dir, keyPrefixes = Some(Seq("zz#"))).isEmpty)
  }

  test("keyPrefixes: nested probe prefixes never drop a covered file") {
    // regression: with prefixes {a, am} and a file at [az1, az9], the
    // "largest prefix <= maxKey" shortcut picked "am", whose interval
    // ends before az1, and WRONGLY dropped the file — while "a"-keys
    // (az1...) live in it. The exact decomposition (prefix in range OR
    // proper-prefix-of-minKey) must keep it.
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-nest").toString
    val a = TxLog.stageData(spark, dir,
      docs(("az1", "p0", "x"), ("az9", "p0", "y")).repartition(1),
      "str_databaseid", Some("_docId"))
    assert(TxLog.tryCommit(spark, dir, 0, a, Seq.empty))
    val got = TxLog.read(spark, dir, keyPrefixes = Some(Seq("a", "am")))
      .select("payload").as[String].collect().toSet
    assert(got == Set("x", "y"),
      s"nested prefixes dropped a covered file: $got")
    // and the reverse nesting with a genuinely non-overlapping file
    assert(TxLog.read(spark, dir,
      keyPrefixes = Some(Seq("am", "b"))).isEmpty,
      "no probed prefix covers [az1, az9]")
  }

  test("keyPrefixes probe sorts in UTF-8 byte order (BMP >= U+E000 vs emoji)") {
    // regression: probes were sorted with String's UTF-16 order but
    // binary-searched with cmpUtf8 (UTF-8 byte order). The orders
    // diverge for BMP chars >= U+E000 ("" = EE 80 80) vs
    // supplementary code points ("😀" = F0 9F 98 80): UTF-16 puts the
    // emoji (surrogate 0xD83D) FIRST, UTF-8 puts it LAST. With probes
    // {"", "😀"} mis-sorted, the lower-bound search for a file
    // at ["", "z"] landed on "😀" > maxKey and WRONGLY
    // skipped the file — silently missing rows.
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-u8").toString
    val a = TxLog.stageData(spark, dir,
      docs(("", "p0", "x"), ("z", "p0", "y")).repartition(1),
      "str_databaseid", Some("_docId"))
    assert(TxLog.tryCommit(spark, dir, 0, a, Seq.empty))
    val got = TxLog.read(spark, dir,
        keyPrefixes = Some(Seq("😀", "")))
      .select("payload").as[String].collect().toSet
    assert(got == Set("x", "y"),
      s"UTF-16-sorted probe list skipped a covered file: $got")
  }

  test("merge victim probe sorts in UTF-8 byte order (no stale-row duplicates)") {
    // same divergence on the write path: the victim file [mn, mx] =
    // ["p0#", "p0#"] holds a batch key, but holdsAKey's
    // cmpUtf8 lower bound over a UTF-16-sorted probe array landed on
    // "p0#😀" > mx → file judged non-victim → its old row never
    // rewritten → duplicate key committed silently.
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-u8m").toString
    TxLog.merge(spark, dir, docs(("p0#", "p0", "v1")))
    TxLog.merge(spark, dir,
      docs(("p0#", "p0", "v2"), ("p0#😀", "p0", "w1")))
    val rows = TxLog.read(spark, dir)
      .select("_docId", "payload").as[(String, String)].collect().toSeq
    assert(rows.count(_._1 == "p0#") == 1,
      s"stale row survived LWW merge: $rows")
    assert(rows.toSet == Set(("p0#", "v2"), ("p0#😀", "w1")), s"$rows")
  }

  test("append rejects a silently-retyped column (merge's TYPE STABILITY)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-aty").toString
    TxLog.append(spark, dir, docs(("p0#a1", "p0", "x")))
    // same column-name SET, but payload arrives as int — committing it
    // would stage parquet that explodes (or mis-casts) only when later
    // read under the committed string DDL
    val ex = intercept[IllegalArgumentException] {
      TxLog.append(spark, dir, Seq(("p0#a2", "p0", 7))
        .toDF("_docId", "str_databaseid", "payload"))
    }
    assert(ex.getMessage.contains("type changes are not supported"),
      ex.getMessage)
    assert(tableRows(dir) == Set(("p0#a1", "x")))
  }

  test("append: a narrow batch gets the column-set diagnosis") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-anb").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "x")))
    // append never widens or null-fills: a batch missing a table column
    // is a caller error and must say so before anything stages
    val narrow = Seq(("dbA#a2", "dbA")).toDF("_docId", "str_databaseid")
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, dir, narrow)
    }
    assert(e.getMessage.contains("batch columns"),
      s"expected the column-set diagnosis, got: ${e.getMessage}")
    assert(tableRows(dir) == Set(("dbA#a1", "x")))
  }

  test("timestamp time travel resolves the newest commit at-or-before ts") {
    def docs(rows: (String, String, Int)*) =
      rows.toSeq.toDF("_docId", "str_databaseid", "qty")
    val dir = java.nio.file.Files.createTempDirectory("graft-ts1").toString
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", 1)))
    // commit mtimes have second-ish granularity on some filesystems —
    // separate the two commits by a comfortable margin
    Thread.sleep(1100)
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", 2)))
    assert(TxLog.versionAt(spark, dir, between) == 0L)
    assert(TxLog.versionAt(spark, dir, System.currentTimeMillis()) == 1L)
    assert(TxLog.readAsOfTimestamp(spark, dir, between)
      .select("qty").as[Int].collect().toSeq == Seq(1))
    // the format option resolves the same way
    assert(spark.read.format("txlog")
      .option("timestampAsOf", between.toString).load(dir)
      .select("qty").as[Int].collect().toSeq == Seq(1))
    // before the first commit: no table state existed — loud failure
    intercept[IllegalArgumentException] {
      TxLog.versionAt(spark, dir, 1000L)
    }
  }

  test("type stability: a field NAMED 'avoid' is not exempt; real void still widens") {
    // regression: the void exemption was a catalogString substring
    // test, so struct<avoid:int> vs struct<avoid:string> slipped the
    // check entirely — the recursive NullType walk must reject it
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-avd").toString
    import org.apache.spark.sql.functions.struct
    TxLog.append(spark, dir, Seq(("p0#a1", "p0", 7))
      .toDF("_docId", "str_databaseid", "x")
      .select(col("_docId"), col("str_databaseid"),
        struct(col("x").as("avoid")).as("payload")))
    val ex = intercept[IllegalArgumentException] {
      TxLog.append(spark, dir, Seq(("p0#a2", "p0", "s"))
        .toDF("_docId", "str_databaseid", "x")
        .select(col("_docId"), col("str_databaseid"),
          struct(col("x").as("avoid")).as("payload")))
    }
    assert(ex.getMessage.contains("type changes are not supported"),
      ex.getMessage)
    // genuine void still passes (the union-widening contract): an
    // all-null array column against a committed array<string>
    val dir2 = java.nio.file.Files.createTempDirectory("graft-tx-avd2").toString
    TxLog.append(spark, dir2, Seq(("p0#a1", "p0", Seq("t")))
      .toDF("_docId", "str_databaseid", "tags"))
    TxLog.append(spark, dir2, Seq(("p0#a2", "p0"))
      .toDF("_docId", "str_databaseid")
      .withColumn("tags", lit(null).cast("array<void>")))
    assert(TxLog.read(spark, dir2).count() == 2)
  }

  test("merge rewrites only the files whose key bounds hold a batch key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-mfp").toString
    // three key-disjoint files in ONE partition (the key-clustered
    // layout compact maintains), via separate commits
    val a = TxLog.stageData(spark, dir,
      docs(("p0#a1", "p0", "x1"), ("p0#a2", "p0", "x2")).repartition(1),
      "str_databaseid", Some("_docId"))
    assert(TxLog.tryCommit(spark, dir, 0, a, Seq.empty))
    val b = TxLog.stageData(spark, dir,
      docs(("p0#m1", "p0", "y1"), ("p0#m2", "p0", "y2")).repartition(1),
      "str_databaseid", Some("_docId"))
    assert(TxLog.tryCommit(spark, dir, 1, b, Seq.empty))
    val c = TxLog.stageData(spark, dir,
      docs(("p0#z1", "p0", "w1")).repartition(1),
      "str_databaseid", Some("_docId"))
    assert(TxLog.tryCommit(spark, dir, 2, c, Seq.empty))
    val before = TxLog.snapshot(spark, dir).files.map(_.path).toSet
    assert(before.size == 3)
    // a one-key update overlaps ONLY the middle file: the other two
    // AddFiles must carry over untouched (no read, no rewrite)
    TxLog.merge(spark, dir, docs(("p0#m1", "p0", "y1v2")))
    val after = TxLog.snapshot(spark, dir).files.map(_.path).toSet
    assert((before -- after) == b.map(_.path).toSet,
      s"only the overlapping file may be replaced: removed ${before -- after}")
    assert((a ++ c).map(_.path).forall(after),
      "non-overlapping files must survive the merge untouched")
    assert(tableRows(dir) == Set(("p0#a1", "x1"), ("p0#a2", "x2"),
      ("p0#m1", "y1v2"), ("p0#m2", "y2"), ("p0#z1", "w1")))
    // deletes prune the same way: removing p0#z1 touches only file c
    TxLog.merge(spark, dir, docs().limit(0)
      .select(col("_docId"), col("str_databaseid"), col("payload")),
      Seq("p0#z1").toDF("_docId"))
    val after2 = TxLog.snapshot(spark, dir).files.map(_.path).toSet
    assert((a.map(_.path).toSet -- after2).isEmpty,
      "delete of z1 must not rewrite the a-file")
    assert(tableRows(dir) == Set(("p0#a1", "x1"), ("p0#a2", "x2"),
      ("p0#m1", "y1v2"), ("p0#m2", "y2")))
  }

  test("a conditional-put coordinator carries multi-writer commits through the seam") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-coord").toString
    // stands in for an object store WITHOUT atomic rename: the winner
    // of a version is decided by an external conditional put (here an
    // in-memory claim set playing the DynamoDB-style lock table Delta's
    // S3 LogStore uses), after which the file is written plainly
    val claims = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val conditionalPut = new CommitCoordinator {
      def tryPublish(fs: org.apache.hadoop.fs.FileSystem,
          dest: org.apache.hadoop.fs.Path, body: String): Boolean = {
        if (!claims.add(dest.toString)) false
        else {
          // the claim replaces the no-overwrite race check, but the
          // PUBLISH must still be write-temp + rename: creating dest in
          // place would expose a zero-byte commit to concurrent readers
          // listing the log mid-write
          val tmp = new org.apache.hadoop.fs.Path(dest.getParent,
            s".${dest.getName}.cput.tmp")
          val out = fs.create(tmp, false)
          try out.write(body.getBytes("UTF-8")) finally out.close()
          fs.rename(tmp, dest)
        }
      }
    }
    TxLog.setCoordinator(dir, conditionalPut)
    try {
      TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "seed")))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = (1 to 4).map { i =>
        Future(TxLog.merge(spark, dir, docs((s"dbA#k$i", "dbA", s"v$i"))))
      }
      writers.foreach(Await.result(_, 300.seconds))
      // serializable history: every writer's row survives, the version
      // chain is contiguous, and every version resolves
      assert(tableRows(dir) == Set(("dbA#a1", "seed"), ("dbA#k1", "v1"),
        ("dbA#k2", "v2"), ("dbA#k3", "v3"), ("dbA#k4", "v4")))
      val head = TxLog.snapshot(spark, dir).version
      assert(head == 4L)
      (0L to head).foreach(v => TxLog.snapshotAt(spark, dir, v))
      assert(claims.size >= 5) // the seam, not rename, decided every commit
    } finally TxLog.clearCoordinator(dir)
  }

  test("a loser waits out a conditional-put winner that is slow to publish") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tx-slowput").toString
    // the claim for v1 is granted at once but its file lands only after
    // the loser has raced v1 three times (or 2 s): a loser that re-read
    // the log straight away would still see v0 and spend every retry on
    // the same claimed version
    val claims = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val claimed = new java.util.concurrent.CountDownLatch(1)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val slowPut = new CommitCoordinator {
      def tryPublish(fs: org.apache.hadoop.fs.FileSystem,
          dest: org.apache.hadoop.fs.Path, body: String): Boolean = {
        val isV1 = dest.getName == f"${1L}%020d.json"
        if (!claims.add(dest.toString)) {
          if (isV1) losses.incrementAndGet()
          false
        } else {
          if (isV1) {
            claimed.countDown()
            val until = System.nanoTime() + 2000000000L
            while (losses.get() < 3 && System.nanoTime() < until)
              Thread.sleep(5)
          }
          val tmp = new org.apache.hadoop.fs.Path(dest.getParent,
            s".${dest.getName}.cput.tmp")
          val out = fs.create(tmp, false)
          try out.write(body.getBytes("UTF-8")) finally out.close()
          fs.rename(tmp, dest)
        }
      }
    }
    TxLog.setCoordinator(dir, slowPut)
    try {
      TxLog.merge(spark, dir, docs(("dbA#a1", "dbA", "seed")))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val winner = Future(TxLog.merge(spark, dir, docs(("dbA#k1", "dbA", "v1"))))
      assert(claimed.await(120, java.util.concurrent.TimeUnit.SECONDS))
      TxLog.merge(spark, dir, docs(("dbA#k2", "dbA", "v2")), maxAttempts = 3)
      Await.result(winner, 120.seconds)
      assert(losses.get() >= 1) // the loser really raced the claimed version
      assert(tableRows(dir) == Set(("dbA#a1", "seed"), ("dbA#k1", "v1"),
        ("dbA#k2", "v2")))
      assert(TxLog.snapshot(spark, dir).version == 2L)
    } finally TxLog.clearCoordinator(dir)
  }

  test("mergeDocsTx matches the in-memory mergeDocs reference on the same batches") {
    val txDir = java.nio.file.Files.createTempDirectory("graft-tx8a").toString
    val seed = docs(("dbA#a1", "dbA", "a1v1"), ("dbA#a2", "dbA", "a2v1"),
      ("dbB#b1", "dbB", "b1v1"))
    val batch = docs(("dbA#a1", "dbA", "a1v2"), ("dbC#c1", "dbC", "c1v1"))
    val removed = Seq("dbA#a2").toDF("_docId")
    DocMaintenance.mergeDocsTx(spark, txDir, seed)
    DocMaintenance.mergeDocsTx(spark, txDir, batch, removed)
    val reference = DocMaintenance.mergeDocs(seed, batch, removed)
      .select("_docId", "payload").as[(String, String)].collect().toSet
    assert(reference == Set(("dbA#a1", "a1v2"), ("dbB#b1", "b1v1"),
      ("dbC#c1", "c1v1")))
    assert(tableRows(txDir) == reference)
    // and the tx table's partition column round-trips through the read
    assert(TxLog.read(spark, txDir).select("str_databaseid").distinct()
      .as[String].collect().toSet == Set("dbA", "dbB", "dbC"))
  }
}
