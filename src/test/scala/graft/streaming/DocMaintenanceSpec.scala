package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DocMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def mkAssets(rows: (String, String, String)*) =
    rows.toSeq.toDF("databaseId", "assetId", "assetName")
      .withColumn("description", lit("d"))
      .withColumn("assetType", lit("gltf"))
      .withColumn("bucketId", lit("b1"))
      .withColumn("isDistributable", lit(true))
      .withColumn("tags", array())
      .withColumn("assetLocationKey", lit("k"))
      .withColumn("previewLocationKey", lit(null).cast("string"))
      .withColumn("currentVersionId", lit(null).cast("string"))
      .withColumn("archived", lit(false))

  private lazy val buckets =
    Seq(("b1", "bkt", "/", true))
      .toDF("bucketId", "bucketName", "baseAssetsPrefix", "isVersioningEnabled")
  private lazy val emptyMd = Seq.empty[(String, String, String, String, String, String)]
    .toDF("databaseId", "assetId", "filePath", "metadataKey",
      "metadataValue", "metadataValueType")
  private lazy val emptyVer =
    Seq.empty[(String, String, String, String, String, java.sql.Timestamp, Boolean, String)]
      .toDF("databaseId", "assetId", "assetVersionId", "versionAlias",
        "comment", "dateCreated", "isCurrentVersion", "createdBy")
  private lazy val emptyLinks =
    Seq.empty[(String, String, String, String, String, String, String)]
      .toDF("assetLinkId", "fromDatabaseId", "fromAssetId", "toDatabaseId",
        "toAssetId", "relationshipType", "assetLinkAliasId")

  test("affectedKeys fans link changes to both endpoints (ST4)") {
    val batch = Seq(
      (1L, "MODIFY", "metadata", "db1", "a1", null, null, null, null),
      (2L, "INSERT", "assetLinks", null, null, "db1", "a2", "db2", "a9"))
      .toDF("sequence", "op", "table", "databaseId", "assetId",
        "fromDatabaseId", "fromAssetId", "toDatabaseId", "toAssetId")
    val keys = DocMaintenance.affectedKeys(batch)
      .as[(String, String)].collect().toSet
    assert(keys == Set(("db1", "a1"), ("db1", "a2"), ("db2", "a9")))
  }

  test("affectedKeysWithLinkMeta resolves a link-metadata change to both endpoints (ST4)") {
    // a link-METADATA row carries only its assetLinkId (the table's PK);
    // the endpoints come from the links table — the structural-sniffing
    // route of assetIndexer.py:1077-1081
    val links = Seq(
      ("l1", "db1", "a2", "db2", "a9", "related", null),
      ("l2", "db3", "a5", "db3", "a6", "parentChild", null))
      .toDF("assetLinkId", "fromDatabaseId", "fromAssetId", "toDatabaseId",
        "toAssetId", "relationshipType", "assetLinkAliasId")
    val batch = Seq(
      (1L, "MODIFY", "metadata", "db1", "a1", null, null, null, null, null),
      (2L, "MODIFY", "assetLinkMetadata", null, null, null, null, null, null, "l1"))
      .toDF("sequence", "op", "table", "databaseId", "assetId",
        "fromDatabaseId", "fromAssetId", "toDatabaseId", "toAssetId",
        "assetLinkId")
    val keys = DocMaintenance.affectedKeysWithLinkMeta(batch, links)
      .as[(String, String)].collect().toSet
    // l1's both endpoints rebuild; l2 (untouched) contributes nothing
    assert(keys == Set(("db1", "a1"), ("db1", "a2"), ("db2", "a9")))
  }

  test("rebuildChanged touches only the changed keys (keyed semi-join)") {
    val assets = mkAssets(("db1", "a1", "One"), ("db1", "a2", "Two"),
      ("db2", "a3", "Three"))
    val changed = Seq(("db1", "a2")).toDF("databaseId", "assetId")
    val rebuilt = DocMaintenance.rebuildChanged(changed, assets, buckets,
      emptyMd, emptyVer, emptyLinks)
    assert(rebuilt.select("_docId").as[String].collect().toSeq == Seq("db1#a2"))
  }

  test("rebuildChanged keeps INCOMING edges: metadata change on X preserves parent flag") {
    // P→X parentChild edge; a metadata change to X rebuilds X's doc. The
    // semi-join must keep the edge whose *to* endpoint is X, or the rebuilt
    // doc loses bool_has_asset_parents (assetIndexer.py re-reads both GSIs).
    val assets = mkAssets(("db1", "p1", "Parent"), ("db1", "x1", "Child"))
    val links = Seq(("l1", "db1", "p1", "db1", "x1", "parentChild", null: String))
      .toDF("assetLinkId", "fromDatabaseId", "fromAssetId", "toDatabaseId",
        "toAssetId", "relationshipType", "assetLinkAliasId")
    val changed = Seq(("db1", "x1")).toDF("databaseId", "assetId")
    val rebuilt = DocMaintenance.rebuildChanged(changed, assets, buckets,
      emptyMd, emptyVer, links)
    val row = rebuilt.filter(col("_docId") === "db1#x1")
      .select("bool_has_asset_parents", "bool_has_asset_children").as[(Boolean, Boolean)]
      .collect()
    assert(row.toSeq == Seq((true, false)))
  }

  test("rebuildChanged does not duplicate an edge when both endpoints changed") {
    val assets = mkAssets(("db1", "p1", "Parent"), ("db1", "x1", "Child"))
    val links = Seq(
      ("l1", "db1", "p1", "db1", "x1", "parentChild", null: String),
      ("l2", "db1", "x1", "db1", "p1", "related", null: String))
      .toDF("assetLinkId", "fromDatabaseId", "fromAssetId", "toDatabaseId",
        "toAssetId", "relationshipType", "assetLinkAliasId")
    val changed = Seq(("db1", "p1"), ("db1", "x1")).toDF("databaseId", "assetId")
    val rebuilt = DocMaintenance.rebuildChanged(changed, assets, buckets,
      emptyMd, emptyVer, links)
    val rows = rebuilt
      .select("_docId", "bool_has_asset_parents", "bool_has_asset_children",
        "bool_has_assets_related")
      .as[(String, Boolean, Boolean, Boolean)].collect().toSet
    assert(rows == Set(
      ("db1#p1", false, true, true),
      ("db1#x1", true, false, true)))
  }

  test("reconcileUnknownAssets auto-creates rows for unknown keys (ST7/S8)") {
    val s3 = Seq(
      ("db1", "a1", "scene.gltf"),
      ("db1", "aNew", "fresh.obj"),
      ("db1", "aNew", "fresh.mtl"))
      .toDF("databaseId", "assetId", "objectKey")
    val assets = Seq(("db1", "a1")).toDF("databaseId", "assetId")
    val created = DocMaintenance.reconcileUnknownAssets(s3, assets)
      .orderBy("assetType")
      .as[(String, String, String, String, Boolean)].collect().toSeq
    assert(created.map(_._2).toSet == Set("aNew"))
    assert(created.map(_._4).sorted == Seq("mtl", "obj"))
  }

  test("autoExecOnArrival submits one workflow per (db, asset) batch (ST8/W7)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-arrival").toString
    val files = Seq(("db1", "a1", "f1"), ("db1", "a1", "f2"), ("db2", "a2", "g1"))
      .toDF("databaseId", "assetId", "fileKey")
    files.write.mode("overwrite").parquet(dir)
    val submitted = scala.collection.concurrent.TrieMap.empty[(String, String), Int]
    val stream = spark.readStream.schema(files.schema).parquet(dir)
    val q = DocMaintenance.autoExecOnArrival(stream,
      (db, a) => { submitted.updateWith((db, a))(v => Some(v.getOrElse(0) + 1)); () })
    try q.processAllAvailable() finally q.stop()
    assert(submitted.keySet == Set(("db1", "a1"), ("db2", "a2")))
    assert(submitted.values.forall(_ == 1))
  }

  test("autoExecOnArrival caps the per-trigger collect and drains a backfill via spill (ST8)") {
    // a pathological 10^5-key backfill batch must NOT collect to the
    // driver at once: with cap 30k, the first trigger submits exactly
    // 30k, the remainder spills, and subsequent triggers drain it
    val dir = java.nio.file.Files.createTempDirectory("graft-backfill").toString
    val spill = java.nio.file.Files.createTempDirectory("graft-spill").toString + "/keys"
    val n = 100000
    val files = spark.range(n).selectExpr(
      "concat('db', id % 7) AS databaseId",
      "concat('asset', id) AS assetId",
      "concat('f', id) AS fileKey")
    files.write.mode("overwrite").parquet(dir)
    val submitted = scala.collection.concurrent.TrieMap.empty[(String, String), Int]
    val perTrigger = scala.collection.mutable.ArrayBuffer.empty[Int]
    val stream = spark.readStream.schema(files.schema).parquet(dir)
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = DocMaintenance.autoExecOnArrival(stream,
      (db, a) => {
        submitted.updateWith((db, a))(v => Some(v.getOrElse(0) + 1))
        counter.incrementAndGet(); ()
      },
      maxSubmitsPerTrigger = 30000, spillDir = Some(spill))
    try {
      q.processAllAvailable()
      perTrigger += counter.getAndSet(0)
      assert(perTrigger.head == 30000, s"cap not enforced: ${perTrigger.head}")
      // marker batches fire further triggers that drain the spill
      var round = 0
      while (submitted.size < n + round && round < 6) {
        round += 1
        Seq((s"zz$round", s"marker$round", "m"))
          .toDF("databaseId", "assetId", "fileKey")
          .write.mode("append").parquet(dir)
        q.processAllAvailable()
        perTrigger += counter.getAndSet(0)
      }
      assert(perTrigger.forall(_ <= 30000), s"a trigger broke the cap: $perTrigger")
      assert(submitted.size == n + round,
        s"backfill not fully drained: ${submitted.size} of ${n + round}")
      assert(submitted.values.forall(_ == 1), "a key was submitted twice")
    } finally q.stop()
  }

  test("mergeDocsTx rewrites only touched partitions; redelivery converges") {
    import graft.sources.TxLog
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    def docs(rows: (String, String, String)*) =
      rows.toSeq.toDF("_docId", "str_databaseid", "payload")
    // seed: two partitions
    DocMaintenance.mergeDocsTx(spark, dir,
      docs(("dbA#a1", "dbA", "a1v1"), ("dbA#a2", "dbA", "a2v1"),
        ("dbB#b1", "dbB", "b1v1")))
    def partFiles(p: String) =
      TxLog.snapshot(spark, dir).files.filter(_.partition == p).toSet
    val dbBBefore = partFiles("dbB")
    assert(dbBBefore.nonEmpty)
    // update touches dbA only (+ a brand-new partition dbC)
    val batch = docs(("dbA#a1", "dbA", "a1v2"), ("dbC#c1", "dbC", "c1v1"))
    val removed = Seq("dbA#a2").toDF("_docId")
    DocMaintenance.mergeDocsTx(spark, dir, batch, removed)
    def rows() = TxLog.read(spark, dir)
      .select("_docId", "payload").as[(String, String)].collect().toSet
    val read = rows()
    assert(read == Set(("dbA#a1", "a1v2"), ("dbB#b1", "b1v1"),
      ("dbC#c1", "c1v1")))
    // the untouched partition's snapshot files were not rewritten
    assert(partFiles("dbB") == dbBBefore,
      s"dbB files changed: ${partFiles("dbB")} vs $dbBBefore")
    // redelivery of the same batch converges to the same table
    DocMaintenance.mergeDocsTx(spark, dir, batch, removed)
    assert(rows() == read)
  }

  test("end-to-end: CDC stream → affected keys → incremental rebuild → partition-scoped merge") {
    import graft.sources.TxLog
    val cdcDir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val docsDir = java.nio.file.Files.createTempDirectory("graft-docstore").toString
    val assets = mkAssets(("db1", "a1", "One"), ("db1", "a2", "Two"),
      ("db2", "b1", "Bee"))
    val links = Seq(("l1", "db1", "a1", "db1", "a2", "parentChild", null: String))
      .toDF("assetLinkId", "fromDatabaseId", "fromAssetId", "toDatabaseId",
        "toAssetId", "relationshipType", "assetLinkAliasId")
    // seed the doc table with a full build
    DocMaintenance.mergeDocsTx(spark, docsDir,
      graft.docs.DocBuilder.buildAssetDocs(assets, buckets, emptyMd, emptyVer, links))
    def dbFiles(p: String) =
      TxLog.snapshot(spark, docsDir).files.filter(_.partition == p).toSet
    val db2Before = dbFiles("db2")
    assert(db2Before.nonEmpty)
    // stream one CDC batch: metadata change on db1/a2 (child of a1)
    val batch = Seq((1L, "MODIFY", "metadata", "db1", "a2",
      null: String, null: String, null: String, null: String))
      .toDF("sequence", "op", "table", "databaseId", "assetId",
        "fromDatabaseId", "fromAssetId", "toDatabaseId", "toAssetId")
    batch.write.mode("overwrite").parquet(cdcDir)
    val cdc = spark.readStream.schema(batch.schema).parquet(cdcDir)
    val q = DocMaintenance.streamMaintainTx(spark, docsDir, cdc,
      () => (assets, buckets, emptyMd, emptyVer, links))
    try q.processAllAvailable() finally q.stop()
    // the rebuilt child doc kept its parent flag (incoming edge survived)
    val row = TxLog.read(spark, docsDir)
      .filter(col("_docId") === "db1#a2")
      .select("bool_has_asset_parents").as[Boolean].collect().toSeq
    assert(row == Seq(true))
    // db2's partition was never rewritten by the db1-only batch
    assert(dbFiles("db2") == db2Before)
  }

  test("end-to-end Tx: CDC stream merges through the transaction log; readers see atomic snapshots") {
    import graft.sources.TxLog
    val cdcDir = java.nio.file.Files.createTempDirectory("graft-cdc-tx").toString
    val docsDir = java.nio.file.Files.createTempDirectory("graft-docstore-tx").toString
    val assets = mkAssets(("db1", "a1", "One"), ("db1", "a2", "Two"),
      ("db2", "b1", "Bee"))
    val links = Seq(("l1", "db1", "a1", "db1", "a2", "parentChild", null: String))
      .toDF("assetLinkId", "fromDatabaseId", "fromAssetId", "toDatabaseId",
        "toAssetId", "relationshipType", "assetLinkAliasId")
    // seed through the same Tx path the stream uses
    DocMaintenance.mergeDocsTx(spark, docsDir,
      graft.docs.DocBuilder.buildAssetDocs(assets, buckets, emptyMd, emptyVer, links))
    assert(TxLog.isTable(spark, docsDir))
    val v0 = TxLog.snapshot(spark, docsDir).version
    // a reader pinned to the pre-stream snapshot must keep seeing it
    // unchanged regardless of commits the stream adds afterwards
    val pinned = TxLog.read(spark, docsDir, asOfVersion = Some(v0))
      .select("_docId", "bool_has_asset_parents").as[(String, Boolean)]
      .collect().toMap
    val batch = Seq((1L, "MODIFY", "metadata", "db1", "a2",
      null: String, null: String, null: String, null: String))
      .toDF("sequence", "op", "table", "databaseId", "assetId",
        "fromDatabaseId", "fromAssetId", "toDatabaseId", "toAssetId")
    batch.write.mode("overwrite").parquet(cdcDir)
    val cdc = spark.readStream.schema(batch.schema).parquet(cdcDir)
    val q = DocMaintenance.streamMaintainTx(spark, docsDir, cdc,
      () => (assets, buckets, emptyMd, emptyVer, links))
    try q.processAllAvailable() finally q.stop()
    // exactly one atomic commit per micro-batch
    val v1 = TxLog.snapshot(spark, docsDir).version
    assert(v1 == v0 + 1)
    // current snapshot has the rebuilt child doc, parent flag intact
    val row = TxLog.read(spark, docsDir)
      .filter(col("_docId") === "db1#a2")
      .select("bool_has_asset_parents").as[Boolean].collect().toSeq
    assert(row == Seq(true))
    // the pinned pre-stream snapshot is bit-stable (snapshot isolation)
    val pinnedAgain = TxLog.read(spark, docsDir, asOfVersion = Some(v0))
      .select("_docId", "bool_has_asset_parents").as[(String, Boolean)]
      .collect().toMap
    assert(pinnedAgain == pinned)
    // redelivery of the same CDC batch converges (at-least-once is safe)
    val q2 = DocMaintenance.streamMaintainTx(spark, docsDir, cdc,
      () => (assets, buckets, emptyMd, emptyVer, links))
    try q2.processAllAvailable() finally q2.stop()
    val after = TxLog.read(spark, docsDir)
      .select("_docId", "bool_has_asset_parents").as[(String, Boolean)]
      .collect().toMap
    assert(after.keySet == pinned.keySet && after("db1#a2"))
  }

  test("a link-metadata CDC record rebuilds BOTH endpoint docs through the Tx stream") {
    import graft.sources.TxLog
    val cdcDir = java.nio.file.Files.createTempDirectory("graft-cdc-lm").toString
    val docsDir = java.nio.file.Files.createTempDirectory("graft-docstore-lm").toString
    val links = Seq(("l1", "db1", "a1", "db2", "b1", "related", null: String))
      .toDF("assetLinkId", "fromDatabaseId", "fromAssetId", "toDatabaseId",
        "toAssetId", "relationshipType", "assetLinkAliasId")
    // seed docs from assets-v1
    val assetsV1 = mkAssets(("db1", "a1", "One"), ("db2", "b1", "Bee"),
      ("db3", "c1", "Sea"))
    DocMaintenance.mergeDocsTx(spark, docsDir,
      graft.docs.DocBuilder.buildAssetDocs(assetsV1, buckets, emptyMd, emptyVer, links))
    // truth moves on: every asset renamed — but only docs the CDC batch
    // touches may pick the rename up
    val assetsV2 = mkAssets(("db1", "a1", "One2"), ("db2", "b1", "Bee2"),
      ("db3", "c1", "Sea2"))
    // the CDC record carries ONLY the link-metadata PK (assetLinkId):
    // the endpoints must resolve through the links snapshot
    val batch = Seq((1L, "MODIFY", "assetLinkMetadata",
      null: String, null: String, null: String, null: String,
      null: String, null: String, "l1"))
      .toDF("sequence", "op", "table", "databaseId", "assetId",
        "fromDatabaseId", "fromAssetId", "toDatabaseId", "toAssetId",
        "assetLinkId")
    batch.write.mode("overwrite").parquet(cdcDir)
    val cdc = spark.readStream.schema(batch.schema).parquet(cdcDir)
    val q = DocMaintenance.streamMaintainTx(spark, docsDir, cdc,
      () => (assetsV2, buckets, emptyMd, emptyVer, links))
    try q.processAllAvailable() finally q.stop()
    val names = TxLog.read(spark, docsDir)
      .select("_docId", "str_assetname").as[(String, String)].collect().toMap
    // both endpoints of l1 rebuilt against current truth; the unlinked
    // db3 doc was NOT rebuilt by a batch that never touched it
    assert(names == Map("db1#a1" -> "One2", "db2#b1" -> "Bee2",
      "db3#c1" -> "Sea"), names.toString)
  }

  test("end-to-end CDC lifecycle: change feed → Tx doc merge → index sync → pruned search hit") {
    // the reference's §3.2 lifecycle as ONE chain: an entity edit lands
    // as a CDC record (assetIndexer stream), the affected doc is rebuilt
    // and merged ATOMICALLY into the doc table, the search index ingests
    // exactly the changed files, and the next search resolves through
    // the pruned path to the new content
    import graft.sources.TxLog
    import graft.query.TextIndex
    val cdcDir = java.nio.file.Files.createTempDirectory("graft-cdc-e2e").toString
    val docsDir = java.nio.file.Files.createTempDirectory("graft-docstore-e2e").toString
    val idxDir = java.nio.file.Files.createTempDirectory("graft-idx-e2e").toString
    def assetsWith(desc2: String) = Seq(
      ("db1", "a1", "One", "walrus colony"),
      ("db1", "a2", "Two", desc2),
      ("db2", "b1", "Bee", "benthic survey"))
      .toDF("databaseId", "assetId", "assetName", "description")
      .withColumn("assetType", lit("gltf"))
      .withColumn("bucketId", lit("b1"))
      .withColumn("isDistributable", lit(true))
      .withColumn("tags", array())
      .withColumn("assetLocationKey", lit("k"))
      .withColumn("previewLocationKey", lit(null).cast("string"))
      .withColumn("currentVersionId", lit(null).cast("string"))
      .withColumn("archived", lit(false))
    DocMaintenance.mergeDocsTx(spark, docsDir, graft.docs.DocBuilder
      .buildAssetDocs(assetsWith("ptarmigan nest"), buckets, emptyMd,
        emptyVer, emptyLinks))
    var cursor = TxLog.snapshot(spark, docsDir).version
    TextIndex.manage(spark, docsDir, "str_description", idxDir)
    def hits(p: String) = TextIndex
      .prunedSearch(spark, docsDir, "str_description", p)
      .select("_docId").as[String].collect().toSet
    assert(hits("*ptarmigan*") == Set("db1#a2"))

    // the asset edit arrives as a CDC record; the stream rebuilds the
    // doc and commits ONE atomic merge
    val updated = assetsWith("quokka habitat")
    val batch = Seq((1L, "MODIFY", "assets", "db1", "a2",
      null: String, null: String, null: String, null: String))
      .toDF("sequence", "op", "table", "databaseId", "assetId",
        "fromDatabaseId", "fromAssetId", "toDatabaseId", "toAssetId")
    batch.write.mode("overwrite").parquet(cdcDir)
    val cdc = spark.readStream.schema(batch.schema).parquet(cdcDir)
    val q = DocMaintenance.streamMaintainTx(spark, docsDir, cdc,
      () => (updated, buckets, emptyMd, emptyVer, emptyLinks))
    try q.processAllAvailable() finally q.stop()

    // the indexer advances its version cursor over the commit history:
    // only the rewritten partition's files are (re)indexed
    cursor = TextIndex.syncTx(spark, docsDir, "str_description", cursor)
    assert(cursor == TxLog.snapshot(spark, docsDir).version)
    assert(hits("*quokka*") == Set("db1#a2"), "new content not searchable")
    assert(hits("*ptarmigan*").isEmpty, "superseded content resurfaced")
    assert(hits("*walrus*") == Set("db1#a1")) // carried row, rewritten file
    assert(hits("*benthic*") == Set("db2#b1")) // untouched partition, v0 postings
    // and the hit is PRUNED: fewer files opened than the table holds
    val liveN = TxLog.read(spark, docsDir).inputFiles.length
    val cand = TextIndex
      .candidateFiles(spark, docsDir, "str_description", "*quokka*").get
    assert(liveN >= 2 && cand.length < liveN,
      s"no pruning: $liveN live files, ${cand.length} candidates")
    // an idle re-sync is a no-op (CDC consumer redelivery is safe)
    assert(TextIndex.syncTx(spark, docsDir, "str_description", cursor) == cursor)
  }

  test("mergeDocs: updates win, removes drop, redelivery converges (S9/ST3)") {
    val current = Seq(("d1", "old1"), ("d2", "old2"), ("d3", "old3"))
      .toDF("_docId", "payload")
    val updates = Seq(("d2", "new2"), ("d4", "new4")).toDF("_docId", "payload")
    val removed = Seq("d3").toDF("_docId")
    val once = DocMaintenance.mergeDocs(current, updates, removed)
    val expect = Set(("d1", "old1"), ("d2", "new2"), ("d4", "new4"))
    assert(once.as[(String, String)].collect().toSet == expect)
    // idempotence: applying the same batch to the merged state is a no-op
    val twice = DocMaintenance.mergeDocs(once, updates, removed)
    assert(twice.as[(String, String)].collect().toSet == expect)
  }
}
