package graft.api

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.authz.Abac
import graft.query.{SearchRequest, SortField, Token}

class SearchApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val assetDocs = Seq(
    ("db1#a1", "db1", "a1", "Red Rocket", "a toy rocket", "gltf", false),
    ("db1#a2", "db1", "a2", "Blue Car", "a toy car", "obj", false),
    ("db2#a3", "db2", "a3", "Red Car", "vehicle scan", "gltf", false),
    ("db2#a4", "db2", "a4", "Old Red", "archived thing", "obj", true))
    .toDF("_docId", "str_databaseid", "str_assetid", "str_assetname",
      "str_description", "str_assettype", "bool_archived")

  private lazy val fileDocs = Seq(
    ("db1#a1#f1", "db1", "a1", "model.gltf", "gltf", false))
    .toDF("_docId", "str_databaseid", "str_assetid", "str_key",
      "str_fileext", "bool_archived")

  test("dual-index union tags provenance and fills missing columns (U1)") {
    val dual = SearchApi.dualIndex(assetDocs, fileDocs)
    assert(dual.count() == 5)
    assert(dual.filter(col("_index_type") === "file")
      .select("str_key").as[String].collect().toSeq == Seq("model.gltf"))
    assert(dual.filter(col("_index_type") === "asset")
      .filter(col("str_key").isNull).count() == 4)
  }

  test("explain=true decorates hits with highlights and match explanation") {
    val res = SearchApi.search(assetDocs,
      SearchRequest(query = Some("red"), explain = true))
    val row = res.hits
      .filter(col("str_assetid") === "a1")
      .select(col("str_assetname_highlight"),
        array_join(col("_explanation.matched_fields"), ",").as("mf"),
        col("_explanation.score"))
      .as[(String, String, Double)].collect().head
    assert(row._1 == "[Red] Rocket")
    assert(row._2 == "str_assetname")
    assert(row._3 == 3.0)
  }

  test("free text scores, cuts by min-score, and excludes archived") {
    val res = SearchApi.search(assetDocs, SearchRequest(query = Some("red")))
    val hits = res.hits.select("str_assetid", "_score")
      .as[(String, Double)].collect().toMap
    assert(hits.keySet == Set("a1", "a3")) // a4 archived
    assert(hits("a1") == 3.0 && hits("a3") == 3.0)
    assert(res.total() == 2)
  }

  test("accessible-database restriction + ABAC deny compose (F10+F11)") {
    val policy = Abac.Policy(
      allow = Seq(Seq(Abac.Criterion("str_databaseid", "is_one_of",
        values = Seq("db1", "db2")))),
      deny = Seq(Seq(Abac.Criterion("str_assetname", "starts_with", "Blue"))))
    val res = SearchApi.search(assetDocs,
      SearchRequest(accessibleDatabases = Some(Seq("db1"))),
      Some(policy))
    assert(res.hits.select("str_assetid").as[String].collect().toSeq ==
      Seq("a1")) // db2 filtered by access, Blue Car denied by policy
  }

  test("token predicates + filters + sort + pagination in one plan") {
    val res = SearchApi.search(assetDocs, SearchRequest(
      tokens = Seq(Token("str_description", ":", "toy")),
      sort = Seq(SortField("str_assetname", descending = false)),
      from = 0, size = 10))
    assert(res.hits.select("str_assetname").as[String].collect().toSeq ==
      Seq("Blue Car", "Red Rocket"))
  }

  test("facets computed on the filtered frame with cap + tiebreak (A1)") {
    val res = SearchApi.search(assetDocs, SearchRequest())
    val facets = res.facets.as[(String, Long)].collect().toSeq
    assert(facets == Seq(("gltf", 2L), ("obj", 1L)))
  }

  test("includeArchived restores archived docs (F9)") {
    val res = SearchApi.search(assetDocs,
      SearchRequest(query = Some("red"), includeArchived = true))
    assert(res.total() == 3)
  }

  test("request guards reject out-of-envelope pages like the reference") {
    // models/search.py:126-147,170-181: size ∈ [1,2000], from+size ≤ 10000
    intercept[IllegalArgumentException] {
      SearchApi.search(assetDocs, SearchRequest(size = 0))
    }
    intercept[IllegalArgumentException] {
      SearchApi.search(assetDocs, SearchRequest(size = 2001))
    }
    intercept[IllegalArgumentException] {
      SearchApi.search(assetDocs, SearchRequest(from = 9000, size = 1001))
    }
    intercept[IllegalArgumentException] {
      SearchApi.search(assetDocs, SearchRequest(from = -1))
    }
    // boundary accepted: from + size == 10000
    assert(SearchApi.search(assetDocs,
      SearchRequest(from = 8000, size = 2000)).total() >= 0)
  }

  // ── API-level authorization (enforceAPI twin) ──────────────────────

  private val constraintCols = Seq("constraintId", "objectType",
    "criteriaAnd", "criteriaOr", "criteria", "groupPermissions",
    "userPermissions")

  // one constraints table drives BOTH gates: POST on /search* routes for
  // the searchers group, plus a db1-only row grant for the same group
  private lazy val constraints = Seq(
    ("api1#group#searchers", "api",
      """[{"field":"route__path","operator":"starts_with","value":"/search"}]""",
      null: String, null: String,
      """[{"groupId":"searchers","permission":"POST","permissionType":"allow"}]""",
      """[]"""),
    ("api2#group#searchers", "api",
      """[{"field":"route__path","operator":"equals","value":"/search/forbidden"}]""",
      null: String, null: String,
      """[{"groupId":"searchers","permission":"POST","permissionType":"deny"}]""",
      """[]"""),
    ("row1#group#searchers", "asset",
      """[{"field":"databaseId","operator":"equals","value":"db1"}]""",
      null: String, null: String,
      """[{"groupId":"searchers","permission":"GET","permissionType":"allow"}]""",
      """[]"""))
    .toDF(constraintCols: _*)

  private def caller(userId: String, roles: Set[String] = Set("searchers")) =
    SearchApi.Caller(
      graft.authz.PolicyLoader.UserContext(userId, roles), constraints)

  test("F3/F7 route chooser: fresh trigram binding prunes the scan, stale falls back, rows identical") {
    // parquet-backed doc table in TWO range-clustered files: the
    // alphabetic split puts "Blue Car"/"Old Red" in one file and
    // "Red Car"/"Red Rocket" in the other, so a wildcard's required
    // trigrams can exonerate a file
    val dir = java.nio.file.Files.createTempDirectory("graft-f3route").toString + "/docs"
    assetDocs.repartitionByRange(2, col("str_assetname"))
      .write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val allFiles = docs.inputFiles.length
    assert(allFiles == 2, s"fixture wants 2 data files, got $allFiles")
    val cols = Set("str_assetname", "str_description", "str_assetid",
      "str_databaseid", "str_assettype")
    def binding(fresh: Boolean) = Some(SearchApi.TextIndexBinding(
      dir, cols, indexedVersion = if (fresh) 5 else 3, tableVersion = 5))

    // F3 — free-text wildcard over the scored fields ("rocket" lives
    // only in the second file's name/description trigrams)
    val f3 = SearchRequest(query = Some("rocket"))
    val f3Scan = SearchApi.search(docs, f3).hits
      .select("_docId", "_score").as[(String, Double)].collect().toSet
    val f3Routed = SearchApi.search(docs, f3, textIndex = binding(fresh = true)).hits
    assert(f3Routed.select("_docId", "_score").as[(String, Double)]
      .collect().toSet == f3Scan, "F3 pruned route diverged from the scan")
    val f3Files = f3Routed.inputFiles.filter(_.contains("/docs/"))
    assert(f3Files.length == 1,
      s"F3 route did not prune the scan: ${f3Files.length} of $allFiles files")

    // F7 — metadata-value token (assettype : gltf); only the second
    // file's assettype column carries the 'glt'/'ltf' trigrams
    val f7 = SearchRequest(tokens = Seq(Token("str_assettype", ":", "gltf")))
    val f7Scan = SearchApi.search(docs, f7).hits
      .select("_docId").as[String].collect().toSet
    val f7Routed = SearchApi.search(docs, f7, textIndex = binding(fresh = true)).hits
    assert(f7Routed.select("_docId").as[String].collect().toSet == f7Scan,
      "F7 pruned route diverged from the scan")
    val f7Files = f7Routed.inputFiles.filter(_.contains("/docs/"))
    assert(f7Files.length == 1,
      s"F7 route did not prune the scan: ${f7Files.length} of $allFiles files")

    // STALE binding → full scan (fresh-but-slower, never stale rows)
    val stale = SearchApi.search(docs, f3, textIndex = binding(fresh = false)).hits
    assert(stale.select("_docId", "_score").as[(String, Double)]
      .collect().toSet == f3Scan)
    assert(stale.inputFiles.count(_.contains("/docs/")) == allFiles,
      "stale binding must fall back to the full scan")

    // GOVERNED search through the pruned route: the ABAC predicate must
    // compile against the re-read frame (a policy resolved against the
    // caller's frame would fail analysis with new expression ids) —
    // row security + index acceleration is the combination the route
    // exists for
    val pol = Abac.Policy(
      allow = Seq(Seq(Abac.Criterion("str_databaseid", "is_one_of",
        values = Seq("db2")))),
      deny = Nil)
    val gov = SearchApi.search(docs, f3, policy = Some(pol),
      textIndex = binding(fresh = true)).hits
    assert(gov.select("_docId").as[String].collect().toSet
      == f3Scan.map(_._1).filter(_.startsWith("db2")),
      "governed pruned route returned wrong rows")
    assert(gov.inputFiles.count(_.contains("/docs/")) == 1,
      "policy disabled the pruned route")

    // negated / OR-composed tokens must NOT prune (not conjuncts)
    val negReq = SearchRequest(
      tokens = Seq(Token("str_assettype", "!:", "gltf"),
        Token("str_assetname", ":", "car")), operation = "OR")
    val negScan = SearchApi.search(docs, negReq).hits
      .select("_docId").as[String].collect().toSet
    val negRouted = SearchApi.search(docs, negReq, textIndex = binding(fresh = true)).hits
    assert(negRouted.select("_docId").as[String].collect().toSet == negScan)
    assert(negRouted.inputFiles.count(_.contains("/docs/")) == allFiles,
      "OR/negated tokens wrongly pruned the scan")
  }

  test("bm25 route chooser: fresh index serves pruned postings, stale falls back, rows identical") {
    val fields = Seq("str_assetname", "str_description", "str_assetid",
      "str_databaseid", "str_assettype")
    val tk = split(trim(lower(concat_ws(" ", fields.map(col): _*))), "\\s+")
    // the index mirrors the WHOLE doc table (archived rows included —
    // exclusion is a filter on the hit set, not an index property), so
    // its corpus stats equal the scan path's
    val root = graft.query.TermIndex.attach(spark, "spec:chooser",
      assetDocs.select(hash(col("_docId")).cast("long").as("doc_id"),
        tk.as("tk")))
    // the spec corpus keys docs by string ids; re-key numerically the
    // way the binding contract requires
    val docsNum = assetDocs
      .withColumn("_docId", hash(col("_docId")).cast("long").cast("string"))
    val req = SearchRequest(query = Some("red car"), scorer = "bm25")
    val scan = SearchApi.search(docsNum, req).hits
      .select("_docId", "_score").as[(String, Double)].collect().toSet
    // FRESH binding → the facade must pick the indexed route...
    val fresh = SearchApi.search(docsNum, req,
      index = Some(SearchApi.IndexBinding(root, indexedVersion = 7,
        tableVersion = 7)))
    val freshHits = fresh.hits
    assert(freshHits.select("_docId", "_score").as[(String, Double)]
      .collect().toSet == scan, "indexed route diverged from the scan route")
    // ...observable in the plan: the postings table is read (pruned to
    // the query terms' shards) and the corpus-side BM25 kernel is gone.
    // The route is decided from the scanned files, not the plan string,
    // whose scan locations Spark cuts to maxMetadataStringLength
    val planStr = freshHits.queryExecution.executedPlan.toString
    val postingsFiles = freshHits.inputFiles.filter(_.contains("/postings/"))
    assert(postingsFiles.nonEmpty,
      s"fresh binding did not route to the index:\n${planStr.take(1500)}")
    assert(!planStr.contains("graft_log2_fp"),
      "indexed route still evaluates the scan-path BM25 kernel")
    val allPostings = graft.sources.TxLog
      .snapshot(spark, s"$root/postings").files.size
    assert(postingsFiles.nonEmpty && postingsFiles.length < allPostings,
      s"postings read not pruned: ${postingsFiles.length} of $allPostings")
    // STALE binding (index behind the table) → scan fallback: correct
    // rows even though the index was never told about a4's un-archive
    val stale = SearchApi.search(docsNum, req,
      index = Some(SearchApi.IndexBinding(root, indexedVersion = 6,
        tableVersion = 7)))
    assert(!stale.hits.inputFiles.exists(_.contains("/postings/")),
      "stale binding must not serve from the index")
    assert(stale.hits.select("_docId", "_score").as[(String, Double)]
      .collect().toSet == scan)
    // a repeated query term counts once on BOTH routes (the index route
    // matches postings by term SET), so "red red car" scores as "red car"
    val rep = SearchRequest(query = Some("red red car"), scorer = "bm25")
    val repScan = SearchApi.search(docsNum, rep).hits
      .select("_docId", "_score").as[(String, Double)].collect().toSet
    val repIndexed = SearchApi.search(docsNum, rep,
      index = Some(SearchApi.IndexBinding(root, indexedVersion = 7,
        tableVersion = 7))).hits
      .select("_docId", "_score").as[(String, Double)].collect().toSet
    assert(repIndexed == repScan, "routes disagree on a repeated term")
    assert(repScan == scan, "a repeated term changed the scores")
  }

  test("searchEnforced denies an unauthorized operation before any query compiles") {
    graft.authz.PolicyLoader.invalidateCache()
    // wrong method on an allowed route
    val e1 = intercept[SearchApi.AccessDeniedException] {
      SearchApi.searchEnforced(assetDocs, SearchRequest(),
        caller("u-api-1"), method = "DELETE")
    }
    assert(e1.getMessage.contains("DELETE"))
    // unknown route for a user with no matching api rule
    intercept[SearchApi.AccessDeniedException] {
      SearchApi.searchEnforced(assetDocs, SearchRequest(),
        caller("u-api-2", roles = Set("strangers")), routePath = "/search")
    }
    // deny overrides the prefix allow on the specific route
    intercept[SearchApi.AccessDeniedException] {
      SearchApi.searchEnforced(assetDocs, SearchRequest(),
        caller("u-api-3"), routePath = "/search/forbidden")
    }
  }

  test("searchEnforced: allowed call applies the caller's row policy from the same table") {
    graft.authz.PolicyLoader.invalidateCache()
    val res = SearchApi.searchEnforced(assetDocs, SearchRequest(),
      caller("u-api-4"))
    // the asset-object row grant (db1 only) reached the scan predicate
    assert(res.hits.select("str_databaseid").as[String].collect().toSet ==
      Set("db1"))
  }

  test("searchEnforced: trusted cross-call bypasses the API gate, not the row gate") {
    graft.authz.PolicyLoader.invalidateCache()
    val c = caller("u-api-5").copy(trustedCrossCall = true)
    // route that would be denied — cross-call is auto-approved
    val res = SearchApi.searchEnforced(assetDocs, SearchRequest(),
      c, routePath = "/search/forbidden")
    assert(res.hits.select("str_databaseid").as[String].collect().toSet ==
      Set("db1")) // row policy still enforced
  }
}
