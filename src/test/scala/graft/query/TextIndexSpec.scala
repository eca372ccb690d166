package graft.query

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The trigram-postings side table must prune the files a substring scan
  * reads while returning exactly the full scan's rows. */
class TextIndexSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-ti").toString
    graft.core.Tables.load(spark, sf("sf0.01"), "documents")
      .repartition(64)
      .write.mode("overwrite").parquet(d)
    d
  }

  private def fullScan(pattern: String) =
    spark.read.parquet(dir)
      .filter(QueryCompiler.wildcard(col("text"), pattern))
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet

  private def pruned(pattern: String) =
    TextIndex.prunedSearch(spark, dir, "text", pattern)

  test("pruned substring search reads fewer files, identical rows") {
    val exact = fullScan("dup")
    assert(exact.nonEmpty)
    val df = pruned("dup")
    val got = df.select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    assert(got == exact)
    val allFiles = spark.read.parquet(dir).inputFiles.length
    assert(allFiles == 64)
    assert(df.inputFiles.length < allFiles,
      s"no pruning: ${df.inputFiles.length} of $allFiles files read")
  }

  test("metadata value catch-all prunes a range-clustered KV table (F7 indexed)") {
    // the f7_metadata_kv_indexed layout: long-form (entity, key, value)
    // rows written range-clustered on the value, searched through the
    // index on the value column — the 'MD_._value' catch-all shape
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-ti-kv").toString
    (1 to 4000).map { i => (i.toLong % 500, i.toLong % 7, s"qty-${i % 50}") }
      .toDF("entity_id", "key_id", "v")
      .repartitionByRange(16, col("v"))
      .write.mode("overwrite").parquet(d)
    val full = spark.read.parquet(d)
      .filter(QueryCompiler.wildcard(col("v"), "qty-4"))
      .select("entity_id", "key_id").as[(Long, Long)].collect().sorted.toSeq
    val df = TextIndex.prunedSearch(spark, d, "v", "qty-4")
    val got = df.select("entity_id", "key_id")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == full && full.nonEmpty)
    val allFiles = spark.read.parquet(d).inputFiles.length
    assert(df.inputFiles.length < allFiles,
      s"value catch-all did not prune: ${df.inputFiles.length} of $allFiles")
  }

  test("wildcard patterns prune with every literal segment's trigrams") {
    val exact = fullScan("*dup*join*")
    val got = pruned("*dup*join*")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    assert(got == exact)
  }

  test("un-prunable short pattern falls back to the full scan, still correct") {
    val exact = fullScan("up")
    val df = pruned("up")
    val got = df.select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    assert(got == exact && got.nonEmpty)
  }

  test("literal absent from every file yields an empty result without reading rows") {
    assert(pruned("zzzqqq").count() == 0)
  }

  test("pruned search preserves hive-partition columns on a partitioned table") {
    import spark.implicits._
    val pdir = java.nio.file.Files.createTempDirectory("graft-tip").toString
    Seq((1L, "the quick brown fox", "en"), (2L, "der schnelle fuchs", "de"),
      (3L, "quick silver", "en"))
      .toDF("id", "text", "lang")
      .write.mode("overwrite").partitionBy("lang").parquet(pdir)
    val got = TextIndex.prunedSearch(spark, pdir, "text", "quick")
      .select("id", "lang").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "en"), (3L, "en")),
      s"partition column lost or wrong rows: $got")
  }

  test("strings shorter than 3 chars produce no postings") {
    import spark.implicits._
    val sdir = java.nio.file.Files.createTempDirectory("graft-tis").toString
    Seq((1L, "ab"), (2L, ""), (3L, "abcd")).toDF("id", "text")
      .write.mode("overwrite").parquet(sdir)
    val tris = TextIndex.postings(spark, sdir, "text")
      .select("tri").as[String].collect().toSet
    assert(tris == Set("abc", "bcd"), tris.toString)
  }

  /** Append, duplicate append and removal on the postings of a fresh
    * two-file table: `managed` attaches a TxLog location first, else the
    * first search builds the ad-hoc postings under the tmpdir. */
  private def incrementalMaintenance(managed: Boolean): Unit = {
    import spark.implicits._
    import graft.sources.TxLog
    val tdir = java.nio.file.Files.createTempDirectory("graft-tinc").toString
    Seq((1L, "alpha bravo charlie"), (2L, "delta echo foxtrot"))
      .toDF("id", "text").repartition(2)
      .write.mode("overwrite").parquet(tdir)
    def hits(p: String) = TextIndex.prunedSearch(spark, tdir, "text", p)
      .select("id").as[Long].collect().toSet
    if (managed) TextIndex.manage(spark, tdir, "text",
      java.nio.file.Files.createTempDirectory("graft-tinc-idx").toString)
    else assert(hits("alpha") == Set(1L))
    // either way the postings live as a TxLog table partitioned per
    // data file
    val pdir = TextIndex.activeLocation(tdir, "text").get
    assert(TxLog.isTable(spark, pdir))
    def idxFiles() = TxLog.snapshot(spark, pdir)
      .files.map(f => f.path -> f.rows).toMap
    val builtFiles = idxFiles()
    assert(builtFiles.nonEmpty)

    // a new data file arrives; the stale index cannot see it yet
    val before = new java.io.File(tdir).listFiles().map(_.getName).toSet
    Seq((3L, "golf hotel zebrafish")).toDF("id", "text").coalesce(1)
      .write.mode("append").parquet(tdir)
    val appended = new java.io.File(tdir).listFiles().map(_.getName).toSet
      .diff(before).filter(_.endsWith(".parquet"))
      .map(n => s"$tdir/$n").toSeq
    assert(appended.size == 1)
    assert(hits("zebrafish").isEmpty, "stale index should miss the new file")

    // incremental append: only the new file is indexed, old postings
    // files are untouched (no rewrite — the new partition's files are
    // the only addition in the commit)
    TextIndex.addFiles(spark, tdir, "text", appended)
    assert(hits("zebrafish") == Set(3L))
    val afterAdd = idxFiles()
    assert(builtFiles.toSet.subsetOf(afterAdd.toSet),
      "append rewrote the existing postings")
    assert(afterAdd.size > builtFiles.size)

    // duplicate delivery is harmless
    TextIndex.addFiles(spark, tdir, "text", appended)
    assert(hits("zebrafish") == Set(3L))

    // delete the file from the table; candidate intersection keeps the
    // search correct even BEFORE the postings are cleaned...
    appended.foreach(f => new java.io.File(f).delete())
    val crcs = appended.map(f => new java.io.File(
      new java.io.File(f).getParent, "." + new java.io.File(f).getName + ".crc"))
    crcs.foreach(c => if (c.exists()) c.delete())
    assert(hits("zebrafish").isEmpty)
    // ...and removeFiles is the hygiene pass that drops the stale rows,
    // as one metadata-only partition drop (the commit adds nothing)
    val liveUri = spark.read.parquet(tdir).inputFiles.toSet
    val stale = TextIndex.postings(spark, tdir, "text")
      .select("file").distinct().as[String].collect().filterNot(liveUri)
    assert(stale.nonEmpty)
    val vBefore = TxLog.snapshot(spark, pdir)
    TextIndex.removeFiles(spark, tdir, "text", stale.toSeq)
    val vAfter = TxLog.snapshot(spark, pdir)
    assert(vAfter.version == vBefore.version + 1)
    assert(vAfter.files.toSet.subsetOf(vBefore.files.toSet),
      "partition drop rewrote postings data")
    val remaining = TextIndex.postings(spark, tdir, "text")
      .select("file").distinct().as[String].collect().toSet
    assert(remaining.subsetOf(liveUri))
    assert(hits("alpha") == Set(1L)) // searches still work after the drop
  }

  test("incremental maintenance: append indexes only the new file; delete swaps without rebuild") {
    incrementalMaintenance(managed = true)
  }

  test("incremental maintenance on ad-hoc postings built by the first search") {
    incrementalMaintenance(managed = false)
  }

  test("ad-hoc postings over an empty table: a schema-only TxLog table, no rows") {
    import spark.implicits._
    import graft.sources.TxLog
    import org.apache.spark.sql.types.StringType
    val edir = java.nio.file.Files.createTempDirectory("graft-tie").toString
    Seq.empty[(Long, String)].toDF("id", "text")
      .write.mode("overwrite").parquet(edir)
    val df = TextIndex.prunedSearch(spark, edir, "text", "quick")
    assert(df.count() == 0)
    assert(df.schema == spark.read.parquet(edir).schema)
    val loc = TextIndex.activeLocation(edir, "text").get
    assert(TxLog.isTable(spark, loc))
    val snap = TxLog.snapshot(spark, loc)
    assert(snap.version == 0L && snap.files.isEmpty)
    assert(TxLog.read(spark, loc).schema.map(f => f.name -> f.dataType) ==
      Seq("_docId", "file", "tri", "bucket").map(_ -> StringType))
  }

  test("managed postings survive restart; removal is metadata-only; appends after removal persist") {
    import spark.implicits._
    val tdir = java.nio.file.Files.createTempDirectory("graft-trst").toString
    val pdir = java.nio.file.Files.createTempDirectory("graft-trst-idx").toString
    // two separate writes → id 1 and id 2 land in DIFFERENT files
    Seq((1L, "alpha bravo")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(tdir)
    Seq((2L, "charlie delta")).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(tdir)
    TextIndex.manage(spark, tdir, "text", pdir)
    def hits(p: String) = TextIndex.prunedSearch(spark, tdir, "text", p)
      .select("id").as[Long].collect().toSet
    import graft.sources.TxLog

    // delete one data file and run the hygiene pass → the removed
    // file's postings PARTITION is dropped as one metadata-only commit
    // (no postings data read or rewritten — the commit adds NOTHING)
    val victim = spark.read.parquet(tdir).inputFiles
      .find(f => spark.read.parquet(f).filter(col("id") === 2L).count() > 0).get
    val vf = new java.io.File(new java.net.URI(victim))
    assert(vf.delete())
    val crc = new java.io.File(vf.getParent, "." + vf.getName + ".crc")
    if (crc.exists()) crc.delete()
    val vBefore = TxLog.snapshot(spark, pdir)
    TextIndex.removeFiles(spark, tdir, "text", Seq(victim))
    val vAfter = TxLog.snapshot(spark, pdir)
    assert(vAfter.version == vBefore.version + 1)
    assert(vAfter.files.toSet.subsetOf(vBefore.files.toSet),
      "partition drop rewrote postings data")
    assert(TextIndex.postings(spark, tdir, "text")
      .filter(col("file") === victim).count() == 0)

    // postings appended AFTER the removal are ordinary later commits
    val before = new java.io.File(tdir).listFiles().map(_.getName).toSet
    Seq((3L, "zebrafish quay")).toDF("id", "text").coalesce(1)
      .write.mode("append").parquet(tdir)
    val appended = new java.io.File(tdir).listFiles().map(_.getName).toSet
      .diff(before).filter(_.endsWith(".parquet")).map(n => s"$tdir/$n").toSeq
    TextIndex.addFiles(spark, tdir, "text", appended)
    assert(hits("zebrafish") == Set(3L))

    // "driver restart": the in-memory pointers are gone; manage() must
    // re-attach to the committed table head — post-removal appends
    // intact, NO re-index (adoption is read-only: version unchanged)
    val headBefore = TxLog.snapshot(spark, pdir).version
    TextIndex.invalidate(tdir, "text")
    assert(TextIndex.activeLocation(tdir, "text").isEmpty)
    TextIndex.manage(spark, tdir, "text", pdir)
    assert(TextIndex.activeLocation(tdir, "text").contains(pdir))
    assert(TxLog.snapshot(spark, pdir).version == headBefore,
      "re-attach rebuilt the postings")
    assert(hits("zebrafish") == Set(3L), "post-removal postings lost on re-attach")
    assert(hits("alpha") == Set(1L))
  }

  test("requiredTrigrams: segments under 3 chars contribute nothing") {
    assert(TextIndex.requiredTrigrams("ab*cd") == Set.empty[String])
    assert(TextIndex.requiredTrigrams("*scan?batch*") ==
      Set("sca", "can", "bat", "atc", "tch"))
  }
}
