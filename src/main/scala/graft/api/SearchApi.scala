package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.authz.Abac
import graft.query.{QueryCompiler => QC, SearchRequest}

/** The search entry point — lifecycle SURVEY §3.1 as ONE logical plan.
  *
  * The reference splits this across API Gateway, a query-builder lambda,
  * two sequential OpenSearch requests, a per-hit Casbin post-filter and a
  * re-slice (`backend/backend/handlers/search/search.py:1931-1991` →
  * `:949-1000` → `:197-292` → `:1515-1567`). Here: compile once, push
  * everything (including the ABAC predicate) into the scan, union the two
  * doc tables, and derive hits + facets + totals from the same filtered
  * frame. The reference's ×2 over-fetch buffer and post-pagination pass
  * (search.py:969-976,1739-1748) have no equivalent — they exist only
  * because its row security cannot be pushed down.
  */
object SearchApi {

  /** `total` is lazy (A4 — the authoritative post-filter count) so
    * callers that only page hits don't pay the count job. */
  final case class SearchResult(
      hits: DataFrame, facets: DataFrame, total: () => Long)

  /** Thrown by [[searchEnforced]] when the API-level gate denies the
    * call — the 403-before-any-query of the reference
    * (`search.py:1949-1951`). */
  final class AccessDeniedException(msg: String)
    extends RuntimeException(msg)

  /** Everything the façade needs to authorize a caller: identity +
    * the constraints table both gates read their policies from. */
  final case class Caller(
      user: graft.authz.PolicyLoader.UserContext,
      constraints: DataFrame,
      trustedCrossCall: Boolean = false)

  /** Criterion-field → doc-column mapping for the asset/file doc
    * tables (constraints speak entity names, docs speak column names). */
  val DocFieldMap: Map[String, String] = Map(
    "databaseId" -> "str_databaseid",
    "assetName" -> "str_assetname",
    "assetType" -> "str_assettype",
    "tags" -> "list_tags")

  /** The GOVERNED search entry point — both of the reference's gates, in
    * its order (`search.py:1944-1991`):
    *
    *  1. API-level: is `method routePath` allowed for this caller at
    *     all? Checked BEFORE any query compilation or scan; denial
    *     throws [[AccessDeniedException]] and Spark never sees a plan.
    *  2. Row-level: the caller's "GET" policy for the doc object type
    *     compiles into the scan predicate via [[search]]'s `policy`
    *     hook (pushed down, not post-filtered).
    *
    * Both policies come from the same constraints table, so one grant
    * surface drives both decisions, like the reference's single Casbin
    * enforcer. */
  def searchEnforced(
      docs: DataFrame,
      req: graft.query.SearchRequest,
      caller: Caller,
      routePath: String = "/search",
      method: String = "POST",
      rowObjectType: String = "asset"): SearchResult = {
    import graft.authz.PolicyLoader
    if (!PolicyLoader.enforceApi(caller.constraints, caller.user, method,
        routePath, caller.trustedCrossCall))
      throw new AccessDeniedException(
        s"${caller.user.userId}: $method $routePath not authorized")
    val rowPolicy = PolicyLoader.loadCached(caller.constraints, caller.user,
      "GET", rowObjectType, f => DocFieldMap.getOrElse(f, f))
    search(docs, req, Some(rowPolicy))
  }

  /** Text-searchable fields of the doc tables, with O3 score weights. */
  val ScoredFields: Seq[(String, Double)] = Seq(
    "str_assetname" -> 3.0, "str_description" -> 2.0, "str_assetid" -> 1.0,
    "str_databaseid" -> 1.0, "str_assettype" -> 1.0)

  /** An inverted-index attachment ([[graft.query.TermIndex]] over the
    * doc table's scored fields) plus the freshness evidence the route
    * chooser needs: `indexedVersion` is what the maintainer's last
    * `TermIndex.syncTx` returned, `tableVersion` the doc-table version
    * the caller is querying. The reference always serves text search
    * from its index (OpenSearch, `search.py:197-292`) and accepts its
    * refresh lag; this engine can do better — [[search]] serves from
    * the index exactly when it provably reflects the queried version
    * and silently falls back to the scan path otherwise, so results
    * are never stale, only (rarely) slower. */
  final case class IndexBinding(
      root: String, indexedVersion: Long, tableVersion: Long) {
    def fresh: Boolean = indexedVersion >= tableVersion
  }

  /** Trigram-postings attachment for the SCAN-pruning routes — F3
    * wildcard free text and F7 metadata-value tokens — the reference
    * serves BOTH from its index (`search.py:197-292,787,893-899`), not
    * just ranked text. `path` must be the parquet root the caller's
    * `docs` frame reads UNMODIFIED (the pruned route re-reads the
    * table from candidate files under the same schema); `textCols` the
    * columns with maintained trigram postings
    * ([[graft.query.TextIndex.manage]]/`syncTx`). Freshness contract =
    * [[IndexBinding]]'s: serve from the index exactly when it provably
    * reflects the queried version, silently fall back to the full scan
    * otherwise — results never stale, only (rarely) slower. */
  final case class TextIndexBinding(
      path: String, textCols: Set[String],
      indexedVersion: Long, tableVersion: Long) {
    def fresh: Boolean = indexedVersion >= tableVersion
  }

  /** U1 — union the asset and file doc tables with provenance. */
  def dualIndex(assetDocs: DataFrame, fileDocs: DataFrame): DataFrame =
    assetDocs.withColumn("_index_type", lit("asset"))
      .unionByName(fileDocs.withColumn("_index_type", lit("file")),
        allowMissingColumns = true)

  def search(
      docs: DataFrame,
      req0: SearchRequest,
      policy: Option[Abac.Policy] = None,
      index: Option[IndexBinding] = None,
      textIndex: Option[TextIndexBinding] = None): SearchResult = {

    val req = graft.query.SearchLimits.validate(req0)
    val fieldsPresent = docs.columns.toSet
    def fieldCol(f: String): Column = col(f)
    val scoredPresent = ScoredFields.map(_._1).filter(fieldsPresent)

    // ROUTE CHOICE (F3/F7, automatic like the bm25 chooser): a FRESH
    // trigram binding prunes the SCAN to the candidate files of the
    // query's wildcard demands before any predicate runs. Only
    // CONJUNCTS of the final predicate may prune: the free-text
    // substring (non-bm25) is one, and each ':' token is one when the
    // operation is AND (or there is a single token, where AND ≡ OR).
    // Negated tokens never prune (a file with no match is exactly what
    // they keep), and a demand prunes only when EVERY column it ORs
    // over is indexed — otherwise it restricts nothing. The pruned
    // frame is a superset of the demands' matches under the same
    // schema, so every predicate below applies unchanged: the choice
    // changes the plan, never the rows. Stale/absent binding → full
    // scan, same fresh-but-slower contract as the bm25 route.
    val scanDocs = textIndex.filter(_.fresh) match {
      case Some(tb) =>
        val qDemand = req.query match {
          case Some(q) if req.scorer != "bm25" &&
              scoredPresent.nonEmpty && scoredPresent.forall(tb.textCols) =>
            Seq((scoredPresent, q))
          case _ => Nil
        }
        val conjunctiveTokens =
          req.operation.equalsIgnoreCase("AND") || req.tokens.sizeIs == 1
        val tokenDemands =
          if (!conjunctiveTokens) Nil
          else req.tokens.collect {
            case graft.query.Token("all", ":", v)
                if scoredPresent.nonEmpty && scoredPresent.forall(tb.textCols) =>
              (scoredPresent, v)
            case graft.query.Token(pk, ":", v)
                if pk != "all" && fieldsPresent(pk) && tb.textCols(pk) =>
              (Seq(pk), v)
          }
        graft.query.TextIndex
          .prunedTable(docs.sparkSession, tb.path, qDemand ++ tokenDemands)
          .getOrElse(docs)
      case _ => docs
    }

    // F9 + F10 + F2 filters + F12 tokens + free text, one predicate tree.
    val archived = QC.archivedExclusion(col("bool_archived"), req.includeArchived)
    val access = QC.accessibleDatabases(col("str_databaseid"),
      req.accessibleDatabases)
    val termFilters = req.filters.map { case (f, v) => QC.term(col(f), v) }.toSeq
    val tokenPred = QC.tokens(req.tokens, req.operation, {
      case "all" => ScoredFields.map(_._1).filter(fieldsPresent).map(col)
      case f     => Seq(col(f))
    })
    val textPred = req.query match {
      // bm25 mode is OpenSearch's `match` semantics: terms OR-combined,
      // membership decided by relevance (> min_score) — the substring
      // predicate would wrongly demand the whole query string verbatim
      case Some(_) if req.scorer == "bm25" => lit(true)
      case Some(q) =>
        QC.multiField(ScoredFields.map(_._1).filter(fieldsPresent).map(col), q)
      case None => lit(true)
    }
    // compiled against scanDocs, NOT docs: the pruned route re-reads
    // the table as a fresh frame with new expression ids, and a policy
    // predicate resolved against docs' attributes would fail analysis
    // the moment a governed search takes the pruned route — the exact
    // combination (row security + index acceleration) the route is for
    val policyPred = policy.map(p => Abac.compile(scanDocs, p))
      .getOrElse(lit(true))

    val filtered = scanDocs.filter(QC.boolQuery(
      must = Seq(tokenPred, textPred),
      filter = Seq(archived, access, policyPred) ++ termFilters))

    // O3 scoring + F13 cut when a free-text query is present. Two
    // scorers: the weighted match count (filter-style, the original
    // deterministic deviation) and fixed-point BM25 (query/Bm25.scala)
    // — the reference's actual `_score` ordering, with corpus stats
    // from the FULL doc table like OpenSearch's index-wide idf.
    val scored = req.query match {
      case Some(q) if req.scorer == "bm25" =>
        // ROUTE CHOICE (automatic): a FRESH index binding serves the
        // score from the postings of the query's own terms — a
        // shard-pruned index read joined onto the filtered hit set,
        // never a corpus tokenize. Scores are the identical fixed-point
        // integers the scan path computes (TermIndex and Bm25 share the
        // one arithmetic; search_advanced_bm25[_indexed] gate both
        // routes against the same oracle), so the choice changes the
        // plan, never the rows. A stale or absent index falls back to
        // the scan path: fresh-but-slower beats fast-but-stale, and the
        // next maintenance cycle restores the indexed route.
        val terms = graft.query.Bm25.queryTerms(q)
        index.filter(_.fresh) match {
          case Some(ib) if terms.nonEmpty =>
            val sc = graft.query.TermIndex
              .scores(docs.sparkSession, ib.root, terms)
              .select(col("doc_id").cast("string").as("_docId"),
                col("score_fp").cast("double").as("_score"))
            filtered.join(sc, "_docId")
              .filter(col("_score") > QC.MinScore)
          case _ =>
            graft.query.Bm25.scoreSearch(docs,
                filtered, ScoredFields.map(_._1).filter(fieldsPresent), q)
              .filter(col("_score") > QC.MinScore)
        }
      case Some(q) =>
        filtered.withColumn("_score", QC.score(
            ScoredFields.filter(f => fieldsPresent(f._1))
              .map { case (f, w) => (col(f), w) }, q))
          .filter(col("_score") > QC.MinScore)
      case None => filtered.withColumn("_score", lit(0.0))
    }

    // F15/F16 — optional per-hit highlight fragments and the
    // match-explanation struct (matched fields + score contribution),
    // derived columns on the already-filtered frame.
    val decorated = (req.query, req.explain) match {
      case (Some(q), true) =>
        val withExp = scored.withColumn("_explanation",
          graft.query.Fields.explanation(
            ScoredFields.filter(f => fieldsPresent(f._1)), q))
        ScoredFields.map(_._1).filter(fieldsPresent)
          .foldLeft(withExp) { (df, f) =>
            df.withColumn(s"${f}_highlight", QC.highlight(col(f), q))
          }
      case _ => scored
    }

    // Deterministic total order: requested sort, then score, then doc id
    // (SURVEY §7.5.4 — the reference's dual-index ordering is broken).
    val sortCols = QC.sortCols(req.sort, fieldCol) ++
      Seq(col("_score").desc, col("_docId").asc)
    val page = QC.paginate(decorated.orderBy(sortCols: _*), req.from, req.size)

    // A1-A3 facets on the SAME filtered frame (single plan reuse).
    val facetField =
      if (fieldsPresent("str_assettype")) "str_assettype" else "str_databaseid"
    val facets = QC.facet(scored, col(facetField))
    SearchResult(page, facets, () => scored.count())
  }
}
