package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llmops.Text

/** [[TermIndex]] — the BM25-serving inverted index: score parity with
  * the corpus-scan ranker, incremental add/remove maintenance with
  * stats tracking, and shard-level read pruning.
  */
class TermIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))

  private def corpus(n: Int, offset: Int = 0): Seq[(Long, String)] =
    (1 to n).map { i =>
      val words = (1 to 20 + i % 30).map { k =>
        val r = (i + offset) * 131 + k * 17
        if (r % 11 == 0) "alpha" else if (r % 7 == 0) "beta" else s"w${r % 997}"
      }
      ((i + offset).toLong, words.mkString(" "))
    }

  private def ranked(df: DataFrame): Seq[(Long, Long)] =
    df.as[(Long, Long)].collect().toSeq

  private def fresh(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  test("index-served rank equals the corpus-scan ranker, term by term") {
    val docs = docsOf(corpus(120))
    val root = fresh("graft-ti")
    TermIndex.indexDocs(spark, root, docs)
    for (terms <- Seq(Seq("alpha"), Seq("alpha", "beta"),
        Seq("beta", "w131", "nosuchterm"))) {
      val viaIndex = ranked(TermIndex.rank(spark, root, terms, 50))
      val viaScan = ranked(Bm25.rank(docs, "doc_id", "tk", terms, 50))
      assert(viaIndex == viaScan, s"terms=$terms")
    }
  }

  test("incremental adds and keyed removes match a fresh rebuild; stats track") {
    val a = corpus(60)
    val b = corpus(40, offset = 1000)
    val root = fresh("graft-ti2")
    TermIndex.indexDocs(spark, root, docsOf(a))
    TermIndex.indexDocs(spark, root, docsOf(b))
    val full = fresh("graft-ti2f")
    TermIndex.indexDocs(spark, full, docsOf(a ++ b))
    val terms = Seq("alpha", "beta")
    assert(ranked(TermIndex.rank(spark, root, terms, 100)) ==
      ranked(TermIndex.rank(spark, full, terms, 100)))
    // remove half of batch b with its before-image tokens
    val removed = b.filter(_._1 % 2 == 0)
    TermIndex.removeDocs(spark, root, docsOf(removed))
    val expect = fresh("graft-ti2r")
    TermIndex.indexDocs(spark, expect,
      docsOf(a ++ b.filterNot(_._1 % 2 == 0)))
    assert(ranked(TermIndex.rank(spark, root, terms, 100)) ==
      ranked(TermIndex.rank(spark, expect, terms, 100)))
    // and the scan ranker agrees with the maintained index end-to-end
    assert(ranked(TermIndex.rank(spark, root, terms, 100)) ==
      ranked(Bm25.rank(docsOf(a ++ b.filterNot(_._1 % 2 == 0)),
        "doc_id", "tk", terms, 100)))
  }

  test("replaying an index batch is idempotent: no stats drift, same ranking") {
    val batch = docsOf(corpus(80))
    val once = fresh("graft-ti-i1")
    TermIndex.indexDocs(spark, once, batch)
    val thrice = fresh("graft-ti-i3")
    // redelivery: the same batch indexed three times (crash-replay shape)
    TermIndex.indexDocs(spark, thrice, batch)
    TermIndex.indexDocs(spark, thrice, batch)
    TermIndex.indexDocs(spark, thrice, batch)
    val terms = Seq("alpha", "beta")
    // scores embed (n, sumdl): equal rankings prove the stats did not
    // double-count (an incremental +delta counter would have tripled them)
    assert(ranked(TermIndex.rank(spark, thrice, terms, 100)) ==
      ranked(TermIndex.rank(spark, once, terms, 100)))
    // and double-removal converges too
    val removed = corpus(80).filter(_._1 % 3 == 0)
    TermIndex.removeDocs(spark, thrice, docsOf(removed))
    TermIndex.removeDocs(spark, thrice, docsOf(removed))
    val expect = fresh("graft-ti-i1r")
    TermIndex.indexDocs(spark, expect,
      docsOf(corpus(80).filterNot(_._1 % 3 == 0)))
    assert(ranked(TermIndex.rank(spark, thrice, terms, 100)) ==
      ranked(TermIndex.rank(spark, expect, terms, 100)))
  }

  test("a query's postings read prunes to its terms' shards") {
    val root = fresh("graft-ti3")
    TermIndex.indexDocs(spark, root, docsOf(corpus(200)))
    val all = graft.sources.TxLog.read(spark, s"$root/postings")
    val shard = math.floorMod(Text.hash60Value("alpha"),
      TermIndex.Shards.toLong).toString
    val pruned = graft.sources.TxLog.read(spark, s"$root/postings",
      partitions = Some(Set(shard)))
    assert(all.inputFiles.length > 1, "fixture must span multiple shards")
    assert(pruned.inputFiles.length < all.inputFiles.length,
      s"pruned ${pruned.inputFiles.length} vs ${all.inputFiles.length}")
    // the pruned shard serves alpha completely: same posting rows
    val a1 = all.filter(col("term") === "alpha").select("doc_id", "tf")
      .as[(Long, Long)].collect().toSet
    val a2 = pruned.filter(col("term") === "alpha").select("doc_id", "tf")
      .as[(Long, Long)].collect().toSet
    assert(a1 == a2 && a1.nonEmpty)
    // and on a MAINTAINED (key-clustered) index the scores() probe
    // skips below shard granularity: the `shard#term#` key-prefix
    // pruning opens only the files holding the query term's postings.
    // A small compaction target forces several key-disjoint files per
    // shard so the skipping is OBSERVABLE, not just plausible.
    graft.sources.TxLog.compact(spark, s"$root/postings",
      partitionCol = "shard", keyCol = "_docId", targetRowsPerFile = 8)
    val scored = TermIndex.scores(spark, root, Seq("alpha"))
    val scanned = scored.inputFiles.filter(_.contains("/postings/"))
    val shardFiles = graft.sources.TxLog.read(spark, s"$root/postings",
      partitions = Some(Set(shard))).inputFiles.length
    assert(scanned.nonEmpty && scanned.length < shardFiles,
      s"probe opened ${scanned.length} files vs $shardFiles in the shard")
    // row-level result unchanged by the file skipping
    assert(scored.select("doc_id").as[Long].collect().toSet ==
      a1.map(_._1))
  }

  test("syncTx maintains the index from the document table's change feed") {
    import graft.sources.TxLog
    val docsTable = fresh("graft-ti4-docs")
    val root = fresh("graft-ti4-idx")
    def docRows(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text").select(
        concat(lit("p"), (col("doc_id") % 4).cast("string"), lit("#"),
          col("doc_id").cast("string")).as("_docId"),
        concat(lit("p"), (col("doc_id") % 4).cast("string")).as("_p"),
        col("doc_id"), col("text"))
    def truth(): DataFrame = docsOf(
      TxLog.read(spark, docsTable).select("doc_id", "text")
        .as[(Long, String)].collect().toSeq)
    val terms = Seq("alpha", "beta")
    // v1: initial corpus → index catches up from 0
    TxLog.merge(spark, docsTable, docRows(corpus(50)),
      keyCol = "_docId", partitionCol = "_p")
    var v = TermIndex.syncTx(spark, docsTable, root, -1L)
    assert(ranked(TermIndex.rank(spark, root, terms, 100)) ==
      ranked(Bm25.rank(truth(), "doc_id", "tk", terms, 100)))
    // v2: update one doc's text, delete one, insert one → feed-driven
    // remove (pre-image) + add (post-image) must keep exact parity
    TxLog.merge(spark, docsTable,
      docRows(Seq((7L, "alpha alpha beta only"), (1001L, "beta alpha new doc"))),
      docRows(Seq((12L, ""))).select("_docId").limit(1),
      keyCol = "_docId", partitionCol = "_p")
    v = TermIndex.syncTx(spark, docsTable, root, v)
    assert(ranked(TermIndex.rank(spark, root, terms, 100)) ==
      ranked(Bm25.rank(truth(), "doc_id", "tk", terms, 100)))
    // idle poll: version unchanged, index untouched
    assert(TermIndex.syncTx(spark, docsTable, root, v) == v)
  }

  test("live follower + optimize: CDC-maintained index stays exact; compaction defragments") {
    import graft.sources.TxLog
    val docsTable = fresh("graft-ti5-docs")
    val root = fresh("graft-ti5-idx")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ti5-ck").toString
    def docRows(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text").select(
        concat(lit("p"), (col("doc_id") % 4).cast("string"), lit("#"),
          col("doc_id").cast("string")).as("_docId"),
        concat(lit("p"), (col("doc_id") % 4).cast("string")).as("_p"),
        col("doc_id"), col("text"))
    TxLog.merge(spark, docsTable, docRows(corpus(20)),
      keyCol = "_docId", partitionCol = "_p")
    // live follower: the change feed drives syncTx exactly like the
    // TextIndex chain — cursor state is the index's reflected version
    var cursor = -1L
    val q = graft.streaming.ChangeFeed.follow(spark, docsTable, ckpt) {
      (_, _, _) => cursor = TermIndex.syncTx(spark, docsTable, root, cursor)
    }
    try {
      q.processAllAvailable()
      // five more commits arriving while the follower runs — each adds
      // a file per touched shard (fragmentation under maintenance)
      (1 to 5).foreach { i =>
        TxLog.merge(spark, docsTable,
          docRows(corpus(6, offset = 1000 * i)),
          keyCol = "_docId", partitionCol = "_p")
        q.processAllAvailable()
      }
    } finally q.stop()
    val truth = docsOf(TxLog.read(spark, docsTable).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq)
    val terms = Seq("alpha", "beta")
    val before = ranked(TermIndex.rank(spark, root, terms, 100))
    assert(before == ranked(Bm25.rank(truth, "doc_id", "tk", terms, 100)))
    val filesBefore = TxLog.read(spark, s"$root/postings").inputFiles.length
    TermIndex.optimize(spark, root)
    val filesAfter = TxLog.read(spark, s"$root/postings").inputFiles.length
    assert(filesAfter < filesBefore,
      s"compaction did not shrink the postings: $filesBefore -> $filesAfter")
    assert(ranked(TermIndex.rank(spark, root, terms, 100)) == before,
      "optimize changed ranking results")
  }

  test("attach gives corpora whose keys share an 80-character prefix their own roots") {
    // two keys equal in their first 80 characters (e.g. two long data-dir
    // paths) and in every character that sanitizes to '_'
    val prefix = "spec:attach:" + "x" * 80
    val keyA = prefix + "/a"
    val keyB = prefix + "/b"
    val docsA = docsOf(corpus(30))
    val docsB = docsOf(corpus(30, offset = 5000))
    val rootA = TermIndex.attach(spark, keyA, docsA)
    val rootB = TermIndex.attach(spark, keyB, docsB)
    assert(rootA != rootB)
    val terms = Seq("alpha", "beta")
    val idsA = ranked(TermIndex.rank(spark, rootA, terms, 100)).map(_._1)
    val idsB = ranked(TermIndex.rank(spark, rootB, terms, 100)).map(_._1)
    assert(idsA.nonEmpty && idsA.forall(_ <= 30L), s"corpus A ranked $idsA")
    assert(idsB.nonEmpty && idsB.forall(_ > 5000L), s"corpus B ranked $idsB")
    assert(ranked(TermIndex.rank(spark, rootA, terms, 100)) ==
      ranked(Bm25.rank(docsA, "doc_id", "tk", terms, 100)))
  }

  test("hash60Value is bit-identical to the hash60 column") {
    val samples = Seq("alpha", "beta", "dup", "merge", "scan", "w131",
      "Ünïcode-émoji", "", "a b", "0", "zzz")
    val viaCol = samples.toDF("s")
      .select(Text.hash60(col("s")).as("h")).as[Long].collect().toSeq
    assert(viaCol == samples.map(Text.hash60Value))
  }
}
