package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Model-based interleaving fuzz for the WHOLE TxLog mutation surface.
  *
  * The per-op specs (TxLogSpec, TxLogUnicodeFuzzSpec, …) pin each
  * operation in isolation; the bugs the advisor keeps finding live in
  * the SEAMS — a probe sorted one way and searched another, an append
  * committing a stale DDL a concurrent merge widened, maintenance
  * rewriting files a reader is pruning over. This spec drives random
  * SEQUENCES of merge / append / deleteWhere / updateWhere / restore /
  * compact / vacuum / tag / deletePartitions against an in-memory
  * reference model and, after every step, requires the full table read to equal the model exactly
  * (no duplicate keys, no stale rows, no lost rows). At the end of each
  * round it replays the whole history through the three derived
  * surfaces that must agree with the log:
  *   - time travel: `read(asOfVersion = v)` == the model as recorded
  *     right after the commit that produced `v`;
  *   - CDC: folding `changes(v1, v2)` (deletes and update preimages
  *     first, then keyed inserts and update postimages) over the model
  *     at v1 must reproduce the model at v2 —
  *     across merge, delete, RESTORE and COMPACT boundaries (a compact
  *     rewrites every row into fresh files; the file-diff CDC must
  *     cancel out);
  *   - stats: `statsAggregate` per-partition row counts == the model's
  *     partition histogram without reading any data file.
  * Keys are drawn from a SMALL pool so merges genuinely collide with
  * earlier generations, and ops hit two partitions so partition
  * derivation from the key prefix stays honest. Seeded rounds —
  * failures reproduce. */
class TxLogModelFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def rng(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L)
      .drop(1).map(x => x & Long.MaxValue) // nonneg: % below must match the model's

  test("random op interleavings track the reference model exactly") {
    (1 to 4).foreach { round =>
      val r = rng(round * 104729L)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-modelfz-$round").toString
      var model = Map.empty[String, Long] // key -> payload; partition = key prefix
      val versionModels = scala.collection.mutable.LinkedHashMap.empty[Long, Map[String, Long]]
      val opsLog = scala.collection.mutable.ArrayBuffer.empty[String]
      var floor = 0L // oldest version time travel may probe after a vacuum
      var appendSeq = 0
      // tag name -> model pinned at tag time
      val tagModels = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Long]]

      def partOf(k: String): String = k.substring(0, k.indexOf('#'))
      def poolKey(): String = s"p${r.next() % 2}#k${"%02d".format(r.next() % 20)}"
      def headVersion(): Long = TxLog.snapshot(spark, dir).version
      def toRows(m: Map[String, Long]): Set[(String, String, Long)] =
        m.map { case (k, v) => (k, partOf(k), v) }.toSet

      def checkReadEqualsModel(step: Int): Unit = {
        val got = TxLog.read(spark, dir)
          .select(col("_docId"), col("str_databaseid"), col("payload"))
          .as[(String, String, Long)].collect().toSeq
        assert(got.length == got.map(_._1).distinct.length,
          s"round $round step $step: duplicate keys " +
            got.groupBy(_._1).filter(_._2.length > 1).keys.take(5))
        assert(got.toSet == toRows(model),
          s"round $round step $step: state diverged " +
            s"missing=${(toRows(model) -- got.toSet).take(3)} " +
            s"extra=${(got.toSet -- toRows(model)).take(3)}")
      }

      // step 0 always seeds via merge so later ops find a table
      val seed = (1 to 6).map(_ => poolKey() -> r.next() % 1000).toMap
      TxLog.merge(spark, dir,
        seed.toSeq.map { case (k, v) => (k, partOf(k), v) }
          .toDF("_docId", "str_databaseid", "payload"))
      model = seed
      versionModels(headVersion()) = model
      checkReadEqualsModel(0)

      (1 to 12).foreach { step =>
        val opKind = r.next() % 12
        opKind match {
          case 0 | 1 | 2 => // merge: colliding upserts + disjoint removals
            val ups = (1 to (1 + (r.next() % 5)).toInt)
              .map(_ => poolKey() -> r.next() % 1000).toMap
            val rmPool = (model.keySet -- ups.keySet).toVector.sorted
            val rms =
              if (rmPool.nonEmpty && r.next() % 3 == 0)
                Seq(rmPool((r.next() % rmPool.length).toInt))
              else Seq.empty
            TxLog.merge(spark, dir,
              ups.toSeq.map { case (k, v) => (k, partOf(k), v) }
                .toDF("_docId", "str_databaseid", "payload"),
              removedKeys =
                if (rms.isEmpty) null else rms.toDF("_docId"))
            model = (model -- rms) ++ ups
          case 3 => // append: insert-only, fresh keys
            val rows = (1 to (1 + (r.next() % 3)).toInt).map { _ =>
              appendSeq += 1
              val k = s"p${r.next() % 2}#a${"%04d".format(appendSeq)}"
              (k, partOf(k), r.next() % 1000)
            }
            TxLog.append(spark, dir,
              rows.toDF("_docId", "str_databaseid", "payload"))
            model = model ++ rows.map(t => t._1 -> t._3)
          case 4 => // deleteWhere on a payload residue
            val c = r.next() % 4
            val n = TxLog.deleteWhere(spark, dir, col("payload") % 4 === c)
            val expected = model.filter(_._2 % 4 == c)
            assert(n == expected.size,
              s"round $round step $step: deleteWhere reported $n, " +
                s"model expected ${expected.size}")
            model = model -- expected.keySet
          case 5 => // updateWhere: SQL UPDATE over the old rows
            val c = r.next() % 3
            val n = TxLog.updateWhere(spark, dir,
              col("payload") % 3 === c,
              set = Seq("payload" -> (col("payload") * 2 + 1)))
            val hit = model.filter(_._2 % 3 == c)
            assert(n == hit.size,
              s"round $round step $step: updateWhere reported $n, " +
                s"model expected ${hit.size}")
            model = model ++ hit.map { case (k, v) => k -> (v * 2 + 1) }
          case 6 => // row-invisible maintenance
            TxLog.compact(spark, dir, targetRowsPerFile = 8L)
          case 7 => // vacuum: physical cleanup; time travel floor moves
            TxLog.vacuum(spark, dir, olderThanMs = 0L)
            floor = headVersion()
          case 8 => // restore to a random recorded version >= floor
            val candidates = versionModels.keys.filter(_ >= floor).toVector
            if (candidates.nonEmpty) {
              val target = candidates((r.next() % candidates.length).toInt)
              TxLog.restore(spark, dir, target)
              // read() after the restore must equal read(asOfVersion = target)
              model = versionModels(target)
            }
          case 9 => // stats surface: counts from metadata only
            TxLog.statsAggregate(spark, dir).foreach { stats =>
              val got = stats.map(s => s.partition -> s.rows).toMap
              val exp = model.groupBy { case (k, _) => partOf(k) }
                .map { case (p, m) => p -> m.size.toLong }
              assert(got == exp,
                s"round $round step $step: statsAggregate $got != model $exp")
            }
          case 10 => // tag: pin this state; must survive vacuum + restore
            TxLog.tag(spark, dir, s"t$step")
            tagModels(s"t$step") = model
          case 11 => // drop one whole partition (metadata-only delete)
            val p = s"p${r.next() % 2}"
            TxLog.deletePartitions(spark, dir, Set(p))
            model = model.filter { case (k, _) => partOf(k) != p }
        }
        val hv = headVersion()
        opsLog += s"step $step: op=$opKind -> v$hv"
        versionModels(hv) = model
        checkReadEqualsModel(step)
      }

      // ── end-of-round: derived surfaces must agree with the history
      val probeVersions = versionModels.keys.filter(_ >= floor).toVector
      // time travel: every surviving recorded version reads back exactly
      probeVersions.foreach { v =>
        val got = TxLog.read(spark, dir, asOfVersion = Some(v))
          .select(col("_docId"), col("payload"))
          .as[(String, Long)].collect().toMap
        assert(got == versionModels(v),
          s"round $round: asOfVersion($v) diverged from the recorded model")
      }
      // CDC fold: changes(v1, v2) applied to model@v1 reproduces model@v2
      if (probeVersions.length >= 2) {
        (1 to 4).foreach { _ =>
          val i = (r.next() % probeVersions.length).toInt
          val j = (r.next() % probeVersions.length).toInt
          val (v1, v2) = (probeVersions(math.min(i, j)),
            probeVersions(math.max(i, j)))
          val ch = TxLog.changes(spark, dir, v1, v2)
            .select(col("_docId"), col("payload"), col("_change_type"))
            .as[(String, Long, String)].collect()
          // the feed speaks the Delta CDC vocabulary: a key changed in
          // place arrives as an update_preimage/update_postimage pair,
          // not a delete+insert — fold both spellings
          val deleted = ch.collect {
            case (k, _, "delete" | "update_preimage") => k
          }.toSet
          val inserted = ch.collect {
            case (k, v, "insert" | "update_postimage") => k -> v
          }.toMap
          val folded = (versionModels(v1) -- deleted) ++ inserted
          assert(folded == versionModels(v2),
            s"round $round: changes($v1,$v2) fold diverged " +
              s"missing=${(versionModels(v2).toSet -- folded.toSet).take(3)} " +
              s"extra=${(folded.toSet -- versionModels(v2).toSet).take(3)} " +
              s"ops=${opsLog.mkString("; ")}")
        }
      }
      // tagged states read back exactly — including tags pinned BELOW a
      // later vacuum's horizon (vacuum retains tagged versions' files)
      tagModels.foreach { case (name, m) =>
        val got = TxLog.readTag(spark, dir, name)
          .select(col("_docId"), col("payload")).as[(String, Long)].collect().toMap
        assert(got == m, s"round $round: readTag($name) diverged")
      }
      info(s"round $round: ${opsLog.mkString("; ")}")
      // partition-pruned read: exact per-partition content
      Seq("p0", "p1").foreach { p =>
        val got = TxLog.read(spark, dir, partitions = Some(Set(p)))
          .select(col("_docId"), col("payload"))
          .as[(String, Long)].collect().toMap
        assert(got == model.filter { case (k, _) => partOf(k) == p },
          s"round $round: partition-pruned read of $p diverged")
      }
    }
  }
}
