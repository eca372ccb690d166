package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.SearchApi
import graft.authz.PolicyLoader
import graft.sources.TxLog
import perfbench.Gen._

/** The frames one governed search reads: the asset doc table as the
  * library reads it, the same docs re-keyed by numeric id (the bm25
  * index binding's contract), and the index bindings at the doc table's
  * current version. */
final case class DocView(assets: DataFrame, numeric: DataFrame,
    index: Option[SearchApi.IndexBinding], text: SearchApi.TextIndexBinding)

object DocView {
  /** `term` is the term index root and the doc-table version it reflects. */
  def open(spark: SparkSession, docsPath: String, term: Option[(String, Long)],
      textVersion: Long): DocView = {
    val v = TxLog.snapshot(spark, docsPath).version
    val assets = TxLog.read(spark, docsPath)
    DocView(assets,
      assets.withColumn("_docId", col("doc_num").cast("string")),
      term.map { case (root, tv) => SearchApi.IndexBinding(root, tv, v) },
      SearchApi.TextIndexBinding(docsPath, Set("str_description"), textVersion, v))
  }
}

/** What one request returned. `hits` are (docId, score) in page order;
  * browse requests return their keys in `hits` with score 0. `nanos` is
  * wall time. */
final case class Outcome(req: Req, roles: Set[String], nanos: Long,
    hits: Seq[(String, Double)],
    facets: Seq[(Option[String], Long)], total: Long, snapshot: Int)

/** Runs requests the way a VAMS API front end does: the api gate, the
  * caller's row policy (both from the 60 s policy cache), then the
  * search or the catalog/graph call, collecting hits, facets and total.
  * The two authz calls are made first so their time shows apart;
  * `searchEnforced` then finds both policies cached. */
final class Searcher(spark: SparkSession, tracer: Tracer,
    val cs: Vector[Constraint], val hot: Vector[Principal]) {
  val constraintsDf: DataFrame = Frames.constraints(spark, cs).cache()
  private var coldSerial = 0
  private val fieldMap: String => String = f => SearchApi.DocFieldMap.getOrElse(f, f)

  def principal(r: SearchReq): Principal =
    if (r.who >= 0) hot(r.who)
    else if (r.who == MaintainerSlot) Maintainer
    else { coldSerial += 1; Principal(s"u-cold-$coldSerial", r.coldRoles) }

  def user(p: Principal) = PolicyLoader.UserContext(p.userId, p.roles)

  /** Loads the api and row policies of every hot principal, so a hot
    * principal hits the cache throughout the timed phase. */
  def preload(): Unit = {
    PolicyLoader.invalidateCache()
    (hot :+ Maintainer).foreach { p =>
      PolicyLoader.enforceApi(constraintsDf, user(p), "POST", "/search")
      PolicyLoader.loadCached(constraintsDf, user(p), "GET", "asset", fieldMap)
    }
  }

  def search(r: SearchReq, p: Principal, v: DocView, snapshot: Int): Outcome = {
    val u = user(p)
    val t0 = System.nanoTime()
    val allowed = tracer.timed("authz.api") {
      PolicyLoader.enforceApi(constraintsDf, u, "POST", "/search")
    }
    if (!allowed) throw new SearchApi.AccessDeniedException(s"${p.userId} denied")
    val policy = tracer.timed("authz.policy") {
      PolicyLoader.loadCached(constraintsDf, u, "GET", "asset", fieldMap)
    }
    val res = tracer.timed("api.build") {
      r.route match {
        case "scan" if r.req.scorer != "bm25" =>
          SearchApi.searchEnforced(v.assets, r.req,
            SearchApi.Caller(u, constraintsDf))
        case "scan" => SearchApi.search(v.numeric, r.req, Some(policy))
        case "index" => SearchApi.search(v.numeric, r.req, Some(policy),
          index = v.index)
        case "text" => SearchApi.search(v.assets, r.req, Some(policy),
          textIndex = Some(v.text))
      }
    }
    val hits = tracer.timed("api.hits") { res.hits.collect() }
      .map(h => (h.getAs[String]("_docId"), h.getAs[Double]("_score"))).toSeq
    val facets = tracer.timed("api.facets") { res.facets.collect() }
      .map(f => (Option(f.getString(0)), f.getLong(1))).toSeq
    val total = tracer.timed("api.total") { res.total() }
    Outcome(r, p.roles, System.nanoTime() - t0, hits,
      facets, total, snapshot)
  }

  def browse(r: BrowseReq, assets: DataFrame, files: DataFrame,
      edges: DataFrame): Outcome = {
    import graft.catalog.Catalog
    val t0 = System.nanoTime()
    val keys: Seq[String] = r.kind match {
      case "get" => tracer.timed("catalog.get") {
        Catalog.getAsset(assets, r.db, r.assetId).collect()
      }.map(a => s"${a.getAs[String]("assetId")}|${a.getAs[String]("assetName")}").toSeq
      case "list_assets" => tracer.timed("catalog.list") {
        Catalog.listAssets(assets, r.db, r.token.map(Catalog.nextToken), r.size)
          .collect()
      }.map(_.getAs[String]("assetId")).toSeq
      case "list_files" => tracer.timed("catalog.list") {
        Catalog.listFiles(files, r.db, r.assetId, None, r.size).collect()
      }.map(_.getAs[String]("fileKey")).toSeq
      case "descendants" => tracer.timed("graph.descendants") {
        graft.graph.Traversal.descendants(edges, r.assetId, r.size).collect()
      }.map(x => s"${x.getString(0)}|${x.getInt(1)}|${x.getString(2)}").toSeq.sorted
    }
    Outcome(r, Set.empty, System.nanoTime() - t0,
      keys.map(_ -> 0.0), Nil, keys.size.toLong, 0)
  }
}

/** Checks made after the timed phase, each against the benchmark's own
  * evaluation (never against a stored copy of earlier output). */
object Checks {
  import Reference._

  /** A weighted-scorer search against the reference, exactly. */
  def exact(o: Outcome, r: SearchReq, docs: Seq[Doc], cs: Seq[Constraint]): Option[String] = {
    if (!apiAllowed(cs, o.roles, "/search")) return Some("api gate allowed a denied caller")
    val ref = Reference.search(docs, r.req, rules(cs, o.roles, "GET", "asset"))
    if (o.hits != ref.hits) Some(s"hits ${o.hits.take(3)} != ${ref.hits.take(3)}")
    else if (o.total != ref.total) Some(s"total ${o.total} != ${ref.total}")
    else if (o.facets != ref.facets) Some(s"facets ${o.facets.take(3)} != ${ref.facets.take(3)}")
    else None
  }

  /** bm25 by properties: every hit visible and holding a query term,
    * order (score desc, docId), facets summing to the total, and the
    * total bounded by the candidate count. */
  def bm25(o: Outcome, r: SearchReq, byNum: Map[String, Doc],
      cs: Seq[Constraint]): Option[String] = {
    val pol = rules(cs, o.roles, "GET", "asset")
    val terms = r.req.query.get.toLowerCase.trim.split("\\s+").toSet
    val candidates = byNum.values.count(d =>
      matches(d, r.req, pol) && bm25Tokens(d).exists(terms))
    val bad = o.hits.find { case (id, s) =>
      byNum.get(id).forall(d => !matches(d, r.req, pol) ||
        !bm25Tokens(d).exists(terms)) || s <= 0.01
    }
    val ordered = o.hits.zip(o.hits.drop(1)).forall { case ((i1, s1), (i2, s2)) =>
      s1 > s2 || (s1 == s2 && i1 < i2)
    }
    if (bad.nonEmpty) Some(s"hit ${bad.get} not visible or without a query term")
    else if (!ordered) Some("hits not in (score desc, docId) order")
    else if (o.facets.map(_._2).sum != o.total) Some("facets do not sum to total")
    else if (o.total > candidates) Some(s"total ${o.total} > candidates $candidates")
    else if (o.hits.size != math.min(o.total, r.req.size.toLong))
      Some(s"page of ${o.hits.size} for total ${o.total}")
    else None
  }

  def browse(o: Outcome, r: BrowseReq, e: Entities): Option[String] = {
    val got = o.hits.map(_._1)
    val want: Seq[String] = r.kind match {
      case "get" => e.assets.get(r.assetId).filter(_.databaseId == r.db)
        .map(a => s"${a.assetId}|${a.assetName}").toSeq
      case "list_assets" => listAssets(e, r.db, r.token, r.size)
      case "list_files" => listFiles(e, r.db, r.assetId, r.size)
      case "descendants" => descendants(e, r.assetId, r.size).toSeq
        .map { case (n, d, p) => s"$n|$d|$p" }.sorted
    }
    if (got != want) Some(s"${r.kind}: ${got.take(3)} != ${want.take(3)}") else None
  }

  /** Canonical rows of a doc table (the MD map as sorted entries). */
  def canonical(df: DataFrame, columns: Seq[String]): Set[String] =
    df.select(columns.map(c =>
      if (c == "MD") to_json(array_sort(map_entries(col(c)))).as(c) else col(c)): _*)
      .collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
        case x => String.valueOf(x)
      }.mkString("\u0001")).toSet
}
