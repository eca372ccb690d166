package perfbench

import graft.query.{SearchRequest, Token}
import perfbench.Gen._

/** Plain-Scala evaluation of governed search over the generated rows.
  * It shares no code with the program: search docs are projected from
  * the entity rows here, policies come from the generator's own
  * constraint model, and predicates follow SQL three-valued logic
  * (`None` = NULL) the way a filter sees them. */
object Reference {

  /** The searchable projection of one asset doc. Options are the
    * columns a NULL can reach. */
  final case class Doc(docId: String, db: String, assetId: String,
      name: Option[String], desc: Option[String], atype: Option[String],
      tags: Option[Seq[String]], archived: Boolean) {
    def str(col: String): Option[String] = col match {
      case "str_databaseid" => Some(db)
      case "str_assetid"    => Some(assetId)
      case "str_assetname"  => name
      case "str_description" => desc
      case "str_assettype"  => atype
      case c => throw new IllegalArgumentException(s"no reference column $c")
    }
  }

  def assetDoc(a: Asset): Doc = Doc(a.docId, a.databaseId, a.assetId,
    Some(a.assetName), Some(a.description), Some(a.assetType), Some(a.tags),
    a.archived)

  def assetDocs(e: Entities): Vector[Doc] =
    e.assets.values.toVector.sortBy(_.assetId).map(assetDoc)

  // ── three-valued logic ──────────────────────────────────────────────
  type TV = Option[Boolean]
  def and3(a: TV, b: TV): TV = (a, b) match {
    case (Some(false), _) | (_, Some(false)) => Some(false)
    case (Some(true), Some(true)) => Some(true)
    case _ => None
  }
  def or3(a: TV, b: TV): TV = (a, b) match {
    case (Some(true), _) | (_, Some(true)) => Some(true)
    case (Some(false), Some(false)) => Some(false)
    case _ => None
  }
  def not3(a: TV): TV = a.map(!_)

  val Scored: Seq[(String, Double)] = Seq("str_assetname" -> 3.0,
    "str_description" -> 2.0, "str_assetid" -> 1.0, "str_databaseid" -> 1.0,
    "str_assettype" -> 1.0)

  private def contains(v: Option[String], p: String): TV =
    v.map(_.toLowerCase.contains(p.toLowerCase))

  // ── policy ──────────────────────────────────────────────────────────
  private val docField = Map("databaseId" -> "str_databaseid",
    "assetType" -> "str_assettype", "assetName" -> "str_assetname")

  /** (allow rules, deny rules) of a principal for `action` on
    * `objectType`, each rule a conjunction. */
  def rules(cs: Seq[Constraint], roles: Set[String], action: String,
      objectType: String): (Seq[Seq[Crit]], Seq[Seq[Crit]]) = {
    val applicable = cs.filter(_.objectType == objectType).flatMap { c =>
      val rs = (if (c.and.nonEmpty) Seq(c.and) else Nil) ++ c.or.map(Seq(_))
      c.grants.filter(g => roles(g._1) && g._2 == action)
        .map(g => (g._3, rs))
    }
    (applicable.filter(_._1 == "allow").flatMap(_._2),
      applicable.filter(_._1 == "deny").flatMap(_._2))
  }

  private def crit(d: Doc, c: Crit): TV = c.field match {
    case "tags" =>
      // arrays_overlap over a NULL array is NULL
      d.tags.map(ts => ts.exists(c.values.contains))
    case f =>
      val v = d.str(docField(f))
      c.op match {
        case "equals" => v.map(_ == c.value)
        case "is_one_of" => v.map(c.values.contains)
        case "starts_with" => v.map(_.startsWith(c.value))
        case op => throw new IllegalArgumentException(s"no reference op $op")
      }
  }

  def visible(d: Doc, pol: (Seq[Seq[Crit]], Seq[Seq[Crit]])): TV = {
    def any(rs: Seq[Seq[Crit]]): TV =
      if (rs.isEmpty) Some(false)
      else rs.map(r => r.map(crit(d, _)).reduce(and3)).reduce(or3)
    val deny = any(pol._2).orElse(Some(false))
    and3(any(pol._1), not3(deny))
  }

  /** The api gate: the request object has only `route__path`. */
  def apiAllowed(cs: Seq[Constraint], roles: Set[String], route: String): Boolean = {
    val (allow, deny) = rules(cs, roles, "POST", "api")
    def ok(r: Seq[Crit]) = r.nonEmpty && r.forall(c =>
      c.field == "route__path" && c.op == "starts_with" && route.startsWith(c.value))
    allow.exists(ok) && !deny.exists(ok)
  }

  // ── search ──────────────────────────────────────────────────────────
  final case class Result(hits: Seq[(String, Double)], facets: Seq[(Option[String], Long)],
      total: Long)

  private def tokenPred(d: Doc, t: Token): TV = {
    val cols = if (t.propertyKey == "all") Scored.map(_._1) else Seq(t.propertyKey)
    def anyOf(f: Option[String] => TV): TV = cols.map(c => f(d.str(c))).reduce(or3)
    t.operator match {
      case "="  => anyOf(_.map(_ == t.value))
      case ":"  => anyOf(contains(_, t.value))
      case "!=" => not3(anyOf(_.map(_ == t.value)))
      case "!:" => not3(anyOf(contains(_, t.value)))
    }
  }

  /** Row predicate of a request without its free-text score cut. */
  def matches(d: Doc, req: SearchRequest,
      pol: (Seq[Seq[Crit]], Seq[Seq[Crit]])): Boolean = {
    val toks: TV =
      if (req.tokens.isEmpty) Some(true)
      else {
        val per = req.tokens.map(tokenPred(d, _))
        if (req.operation.equalsIgnoreCase("OR")) per.reduce(or3) else per.reduce(and3)
      }
    val text: TV = req.query match {
      case Some(q) if req.scorer != "bm25" =>
        Scored.map(f => contains(d.str(f._1), q)).reduce(or3)
      case _ => Some(true)
    }
    val access: TV = req.accessibleDatabases match {
      case None => Some(true)
      case Some(s) => Some(s.contains(d.db))
    }
    Seq(toks, text, Some(!d.archived), access, visible(d, pol))
      .reduce(and3).contains(true)
  }

  private def nullsFirst(a: Option[String], b: Option[String]): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => -1
    case (_, None) => 1
    case (Some(x), Some(y)) => x.compareTo(y)
  }

  /** The full weighted-scorer search: filter, score, sort, page, facet. */
  def search(docs: Seq[Doc], req: SearchRequest,
      pol: (Seq[Seq[Crit]], Seq[Seq[Crit]])): Result = {
    val scored = docs.filter(matches(_, req, pol)).map { d =>
      val s = req.query match {
        case Some(q) => Scored.map { case (f, w) =>
          if (contains(d.str(f), q).contains(true)) w else 0.0 }.sum
        case None => 0.0
      }
      (d, s)
    }.filter { case (_, s) => req.query.isEmpty || s > 0.01 }
    val ord: Ordering[(Doc, Double)] = (x, y) => {
      val bySort = req.sort.iterator.map { sf =>
        val (a, b) = (x._1.str(sf.field), y._1.str(sf.field))
        // ascending puts NULLs first, descending puts them last
        if (sf.descending) nullsFirst(b, a) else nullsFirst(a, b)
      }.find(_ != 0)
      bySort.getOrElse {
        val c = java.lang.Double.compare(y._2, x._2)
        if (c != 0) c else x._1.docId.compareTo(y._1.docId)
      }
    }
    val page = scored.sorted(ord).slice(req.from, req.from + req.size)
    val facets = scored.groupBy(_._1.atype).toSeq
      .map { case (k, v) => (k, v.size.toLong) }
      .sortWith { (a, b) =>
        if (a._2 != b._2) a._2 > b._2 else nullsFirst(a._1, b._1) < 0
      }.take(graft.query.SearchLimits.FacetBuckets)
    Result(page.map(h => (h._1.docId, h._2)), facets, scored.size.toLong)
  }

  /** Whitespace tokens of the scored fields, as the bm25 routes see them. */
  def bm25Tokens(d: Doc): Set[String] =
    Scored.flatMap(f => d.str(f._1)).mkString(" ").toLowerCase.trim
      .split("\\s+").toSet

  /** Spark's `xxhash64(str)` (seed 42), the benchmark's numeric doc id. */
  def docNum(docId: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(docId), 42L)

  // ── catalog and graph ───────────────────────────────────────────────
  def listAssets(e: Entities, db: String, after: Option[String],
      size: Int): Seq[String] =
    e.assets.values.filter(a => a.databaseId == db && !a.archived &&
      after.forall(a.assetId < _)).map(_.assetId).toSeq.sorted.reverse.take(size)

  def listFiles(e: Entities, db: String, asset: String, size: Int): Seq[String] =
    e.files.filter(f => f.databaseId == db && f.assetId == asset && !f.archived)
      .map(_.fileKey).sorted.take(size)

  /** Every simple path of length ≤ `maxDepth` from `root`:
    * (node, depth, path). */
  def descendants(e: Entities, root: String, maxDepth: Int): Set[(String, Int, String)] = {
    val kids = e.links.filter(_.rel == "parentChild")
      .groupBy(_.fromAsset).map { case (k, v) => k -> v.map(_.toAsset) }
    var frontier = Seq((root, 0, root))
    val out = scala.collection.mutable.Set(frontier: _*)
    var depth = 0
    while (depth < maxDepth && frontier.nonEmpty) {
      frontier = frontier.flatMap { case (n, d, p) =>
        kids.getOrElse(n, Nil)
          .filterNot(c => s"/$p/".contains(s"/$c/"))
          .map(c => (c, d + 1, s"$p/$c"))
      }
      out ++= frontier
      depth += 1
    }
    out.toSet
  }
}
