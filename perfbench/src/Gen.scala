package perfbench

import scala.util.Random

/** Seeded generator of VAMS entity rows, ABAC constraints, principals
  * and request streams. Every input of a run comes from here; the
  * program under test only ever sees the DataFrames built from these
  * rows. The vocabulary is fixed (it does not depend on the seed), so
  * runs with different seeds draw from the same word distribution. */
object Gen {

  final case class Asset(databaseId: String, assetId: String,
      assetName: String, description: String, assetType: String,
      bucketId: String, isDistributable: Boolean, tags: Seq[String],
      archived: Boolean) {
    def docId: String = s"$databaseId#$assetId"
  }
  final case class FileRow(databaseId: String, assetId: String,
      fileKey: String, fileSize: Long, isPrimary: Boolean, archived: Boolean)
  final case class Meta(databaseId: String, assetId: String, key: String,
      value: String)
  final case class Version(databaseId: String, assetId: String,
      versionId: String, comment: String, createdMs: Long, current: Boolean)
  final case class Link(id: String, fromDb: String, fromAsset: String,
      toDb: String, toAsset: String, rel: String)

  /** The whole system of record of one run. */
  final case class Entities(assets: Map[String, Asset], files: Vector[FileRow],
      meta: Map[(String, String, String), Meta], versions: Vector[Version],
      links: Vector[Link])

  // ── vocabulary: fixed, Zipf-weighted ────────────────────────────────
  val Vocab: Vector[String] = {
    val r = new Random(7L)
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 400) {
      val syll = 2 + r.nextInt(2)
      seen += (0 until syll).map { _ =>
        s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}"
      }.mkString + cons(r.nextInt(cons.length))
    }
    seen.toVector
  }
  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(i => 1.0 / (i + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  def word(r: Random): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    Vocab(math.min(Vocab.size - 1, if (i >= 0) i else -i - 1))
  }
  /** A word of middling frequency (ranks 16–47, within a factor of
    * three of each other): present in some docs, not most. */
  def midWord(r: Random): String = Vocab(16 + r.nextInt(32))

  val Databases: Vector[String] = (0 until 8).map(i => f"db$i%02d").toVector
  val AssetTypes: Vector[String] =
    Vector("gltf", "gltf", "obj", "e57", "las", "usd", "png", "fbx")
  val Tags: Vector[String] = Vector("red", "blue", "green", "survey", "scan",
    "cad", "restricted")
  val Buckets: Vector[(String, String)] =
    Vector("bk0" -> "vams-assets-0", "bk1" -> "vams-assets-1")
  val MetaKeys: Vector[String] = Vector("material", "project", "site", "lod",
    "owner")

  def description(r: Random): String =
    (0 until 6 + r.nextInt(7)).map(_ => word(r)).mkString(" ")

  def newAsset(r: Random, db: String, id: String): Asset = Asset(db, id,
    s"${word(r)} ${word(r)} ${r.nextInt(1000)}", description(r),
    AssetTypes(r.nextInt(AssetTypes.size)), Buckets(r.nextInt(2))._1,
    r.nextBoolean(),
    (0 until r.nextInt(3)).map(_ => Tags(r.nextInt(Tags.size))).distinct,
    r.nextInt(20) == 0)

  /** `nAssets` assets over 8 databases. 10 % of descriptions are
    * near-duplicates of an earlier one (one word replaced). Links form
    * a parentChild forest (a parent always precedes its child) plus
    * random `related` edges. */
  def entities(seed: Long, nAssets: Int): Entities = {
    val r = new Random(seed)
    val assets = Vector.newBuilder[Asset]
    val files = Vector.newBuilder[FileRow]
    val meta = Vector.newBuilder[Meta]
    val versions = Vector.newBuilder[Version]
    val links = Vector.newBuilder[Link]
    val made = scala.collection.mutable.ArrayBuffer.empty[Asset]
    for (i <- 0 until nAssets) {
      val db = Databases(i % Databases.size)
      val a0 = newAsset(r, db, f"a$i%05d")
      val a =
        if (made.nonEmpty && r.nextInt(10) == 0) {
          val src = made(r.nextInt(made.size)).description.split(" ")
          src(r.nextInt(src.length)) = word(r)
          a0.copy(description = src.mkString(" "))
        } else a0
      made += a
      assets += a
      for (f <- 0 until r.nextInt(6)) {
        val ext = Seq("glb", "obj", "e57", "png", "json")(r.nextInt(5))
        files += FileRow(db, a.assetId, s"/${a.assetId}/${word(r)}_$f.$ext",
          1000L + r.nextInt(5000000), f == 0, r.nextInt(25) == 0)
      }
      for (k <- MetaKeys.indices if r.nextInt(3) == 0)
        meta += Meta(db, a.assetId, MetaKeys(k), word(r))
      val nv = 1 + r.nextInt(3)
      for (v <- 0 until nv)
        versions += Version(db, a.assetId, s"v$v", s"rev ${word(r)}",
          1700000000000L + r.nextInt(100000000) * 1000L, v == nv - 1)
      // a parent in the same database, earlier in the list
      if (i >= Databases.size && r.nextInt(10) < 4) {
        val p = i - Databases.size * (1 + r.nextInt(math.min(20, i / Databases.size)))
        links += Link(f"l$i%05dp", db, f"a$p%05d", db, a.assetId, "parentChild")
      }
      if (i > 0 && r.nextInt(4) == 0) {
        val o = r.nextInt(i)
        links += Link(f"l$i%05dr", Databases(o % Databases.size), f"a$o%05d",
          db, a.assetId, "related")
      }
    }
    Entities(assets.result().map(a => a.assetId -> a).toMap, files.result(),
      meta.result().map(m => (m.databaseId, m.assetId, m.key) -> m).toMap,
      versions.result(), links.result())
  }

  // ── ABAC model ──────────────────────────────────────────────────────
  final case class Crit(field: String, op: String, value: String = "",
      values: Seq[String] = Nil)
  /** One constraint: `and` is one conjunctive rule, each `or` criterion
    * its own rule; `grants` are (role, permission, allow|deny). */
  final case class Constraint(id: String, objectType: String,
      and: Seq[Crit], or: Seq[Crit], grants: Seq[(String, String, String)])
  final case class Principal(userId: String, roles: Set[String])

  val Roles: Vector[String] = (0 until 7).map(i => s"r$i").toVector

  def constraints(seed: Long): Vector[Constraint] = {
    val r = new Random(seed * 31 + 5)
    val api = Constraint("c-api", "api",
      Seq(Crit("route__path", "starts_with", "/")), Nil,
      Roles.map(g => (g, "POST", "allow")))
    val perRole = Roles.zipWithIndex.flatMap { case (g, i) =>
      val dbs = r.shuffle(Databases).take(2 + r.nextInt(4)).sorted
      val base = Constraint(s"c-db-$g", "asset",
        Seq(Crit("databaseId", "is_one_of", values = dbs)), Nil,
        Seq((g, "GET", "allow")))
      val types = r.shuffle(AssetTypes.distinct).take(2)
      val byType = Constraint(s"c-type-$g", "asset", Nil,
        types.map(t => Crit("assetType", "equals", t)),
        Seq((g, "GET", "allow")))
      val deny = Constraint(s"c-deny-$g", "asset",
        Seq(Crit("tags", "is_one_of", values = Seq("restricted"))), Nil,
        Seq((g, "GET", "deny")))
      Seq(base) ++ (if (i % 2 == 0) Seq(byType) else Nil) ++
        (if (i % 2 == 1) Seq(deny) else Nil)
    }
    // the maintainer that proves freshness sees every database
    val maint = Constraint("c-db-maint", "asset",
      Seq(Crit("databaseId", "is_one_of", values = Databases)), Nil,
      Seq((Maintainer.roles.head, "GET", "allow")))
    api.copy(grants = api.grants :+ ((Maintainer.roles.head, "POST", "allow"))) +:
      (perRole :+ maint)
  }

  val Maintainer: Principal = Principal("u-maintainer", Set("maint"))

  val HotPrincipals = 4

  /** Hot principals, reused across requests and kept in the 60 s
    * policy cache; cold principals get a fresh user id per request. */
  def hotPrincipals(seed: Long): Vector[Principal] = {
    val r = new Random(seed * 17 + 3)
    (0 until HotPrincipals).map(i => Principal(f"u-hot-$i%02d", roles(r))).toVector
  }

  /** One even role (database and asset-type grants) and one odd role
    * (database grant, `restricted` deny): every principal's row policy
    * has the same shape, whichever roles the seed picks. */
  def roles(r: Random): Set[String] = {
    val (even, odd) = Roles.indices.partition(_ % 2 == 0)
    Set(Roles(even(r.nextInt(even.size))), Roles(odd(r.nextInt(odd.size))))
  }

  // ── requests ────────────────────────────────────────────────────────
  sealed trait Req { def cls: String }
  /** A governed search. `who` is a hot principal index, or -1 for a
    * cold principal whose roles are `coldRoles`. `route` is "scan",
    * "index" (bm25 TermIndex binding) or "text" (trigram binding). */
  final case class SearchReq(cls: String, req: graft.query.SearchRequest,
      route: String, who: Int, coldRoles: Set[String])
    extends Req
  final case class BrowseReq(cls: String, kind: String, db: String,
      assetId: String, token: Option[String], size: Int) extends Req

  /** `who` of a request made by [[Maintainer]]. */
  val MaintainerSlot = -2

  /** A hot principal (cached policy) or a fresh cold one. Which it is
    * belongs to the request's slot, not to the seed. */
  private def principal(r: Random, cold: Boolean): (Int, Set[String]) =
    if (cold) (-1, roles(r))
    else (r.nextInt(HotPrincipals), Set.empty)

  // Request shapes are fixed per slot; the seed picks only the words,
  // databases and principals, so every seed's round costs about the same.

  /** Weighted free text, sorted by name, second page, restricted to
    * four accessible databases. */
  def textReq(r: Random, cold: Boolean): SearchReq = {
    import graft.query.{SearchRequest, SortField}
    val (who, cr) = principal(r, cold)
    SearchReq("text", SearchRequest(query = Some(midWord(r)),
      sort = Seq(SortField("str_assetname", descending = true)),
      accessibleDatabases = Some(r.shuffle(Databases).take(4).sorted),
      from = 10, size = 10), "scan", who, cr)
  }

  /** Field tokens: AND of two, or OR of three with one negated. */
  def tokenReq(r: Random, operation: String): SearchReq = {
    import graft.query.{SearchRequest, Token}
    val (who, cr) = principal(r, cold = false)
    val req =
      if (operation == "AND") SearchRequest(tokens = Seq(
        Token("str_description", ":", midWord(r)),
        Token("str_assettype", "=", AssetTypes(r.nextInt(AssetTypes.size)))), size = 25)
      else SearchRequest(tokens = Seq(
        Token("str_description", ":", midWord(r)),
        Token("all", ":", midWord(r)),
        Token("str_assetname", "!:", Vocab(r.nextInt(6)))), operation = "OR", size = 25)
    SearchReq("token", req, "text", who, cr)
  }

  /** bm25 over two distinct words of middling frequency. */
  def bm25Req(r: Random, route: String): SearchReq = {
    import graft.query.SearchRequest
    val (who, cr) = principal(r, cold = false)
    val w1 = midWord(r)
    val w2 = Iterator.continually(midWord(r)).find(_ != w1).get
    SearchReq("bm25", SearchRequest(query = Some(s"$w1 $w2"),
      scorer = "bm25", size = 20), route, who, cr)
  }

  /** bm25 for the most frequent word, repeated ("w w"), by the
    * maintainer: the same query and principal under every seed. The
    * most frequent word is in most descriptions, so the query has hits
    * under every seed, and the two routes score them differently (see
    * CHANGES.md): the route-equality check fails it on every run. */
  val bm25Repeated: SearchReq = SearchReq("bm25", graft.query.SearchRequest(
    query = Some(s"${Vocab(0)} ${Vocab(0)}"), scorer = "bm25", size = 20),
    "scan", MaintainerSlot, Set.empty)

  def browseReq(r: Random, kind: String, e: Entities): BrowseReq = {
    val ids = e.assets.keys.toVector.sorted
    val a = e.assets(ids(r.nextInt(ids.size)))
    kind match {
      case "list_assets" =>
        BrowseReq("browse", kind, a.databaseId, "",
          Some(f"a${r.nextInt(ids.size)}%05d"), 50)
      case "descendants" =>
        // a root whose tree reaches depth 3, so the traversal walks all
        // three levels under every seed
        val children = e.links.filter(_.rel == "parentChild")
          .groupBy(_.fromAsset).map { case (p, ls) => p -> ls.map(_.toAsset) }
        def depth(n: String, limit: Int): Int =
          if (limit == 0) 0
          else children.getOrElse(n, Vector.empty)
            .map(c => 1 + depth(c, limit - 1)).maxOption.getOrElse(0)
        val parents = children.keys.toVector.sorted
        val deep = parents.filter(depth(_, 3) == 3)
        val roots = if (deep.nonEmpty) deep else parents
        BrowseReq("browse", kind, a.databaseId, roots(r.nextInt(roots.size)), None, 3)
      case _ => BrowseReq("browse", kind, a.databaseId, a.assetId, None, 100)
    }
  }

  /** One round of the search workload: one request of each variant —
    * text (cold principal), token AND, token OR, bm25 on each route,
    * the repeated-term bm25, and each browse kind. */
  def searchRound(seed: Long, e: Entities): Vector[Req] = {
    val r = new Random(seed * 13 + 1)
    Vector(textReq(r, cold = true), tokenReq(r, "AND"), tokenReq(r, "OR"),
      bm25Req(r, "scan"), bm25Req(r, "index"), bm25Repeated,
      browseReq(r, "get", e), browseReq(r, "list_assets", e),
      browseReq(r, "list_files", e), browseReq(r, "descendants", e))
  }

  /** The reads the maintain workload issues after each batch: a text, a
    * token and a bm25 search over the live doc table. */
  def maintainReads(seed: Long): Vector[SearchReq] = {
    val r = new Random(seed * 19 + 2)
    Vector(textReq(r, cold = false), tokenReq(r, "AND"), bm25Req(r, "scan"))
  }

  // ── CDC batches ─────────────────────────────────────────────────────
  /** One change record. `table` ∈ assets | metadata | assetLinks |
    * assetLinkMetadata; `op` ∈ INSERT | MODIFY | REMOVE. */
  final case class Change(op: String, table: String, link: Option[Link],
      key: (String, String))

  /** A batch of one change of each kind against `e`, plus the new
    * entity state. Change `i` lands in database `i`. The first change is
    * an asset MODIFY that carries the batch's marker word, so a governed
    * search can prove the batch is visible; then a metadata upsert, a
    * link insert, a link-metadata touch, an asset insert, a remove and
    * an archive flip. */
  def batch(r: Random, e: Entities, marker: String,
      nextId: () => Int): (Seq[Change], Entities, Asset) = {
    var st = e
    val out = Seq.newBuilder[Change]
    def live: Vector[Asset] = st.assets.values.toVector.sortBy(_.assetId)
    // the marked asset: visible to the maintainer (not archived)
    val candidates = live.filter(a => !a.archived && a.databaseId == Databases(0))
    val m0 = candidates(r.nextInt(candidates.size))
    val marked = m0.copy(description = s"${description(r)} $marker")
    st = st.copy(assets = st.assets.updated(marked.assetId, marked))
    out += Change("MODIFY", "assets", None,
      (marked.databaseId, marked.assetId))
    for (i <- 1 until 7) {
      val lv = live.filter(_.assetId != marked.assetId)
      val inDb = lv.filter(_.databaseId == Databases(i))
      val a = inDb(r.nextInt(inDb.size))
      i match {
        case 1 =>
          val m = Meta(a.databaseId, a.assetId,
            MetaKeys(r.nextInt(MetaKeys.size)), word(r))
          val op = if (st.meta.contains((m.databaseId, m.assetId, m.key))) "MODIFY"
            else "INSERT"
          st = st.copy(meta = st.meta.updated((m.databaseId, m.assetId, m.key), m))
          out += Change(op, "metadata", None, (a.databaseId, a.assetId))
        case 2 =>
          val o = lv(r.nextInt(lv.size))
          val l = Link(s"lx${nextId()}", o.databaseId, o.assetId,
            a.databaseId, a.assetId, if (r.nextBoolean()) "related" else "parentChild")
          st = st.copy(links = st.links :+ l)
          out += Change("INSERT", "assetLinks", Some(l), (a.databaseId, a.assetId))
        case 3 =>
          val l = st.links(r.nextInt(st.links.size))
          out += Change("MODIFY", "assetLinkMetadata", Some(l),
            (l.toDb, l.toAsset))
        case 4 =>
          val id = f"n${nextId()}%05d"
          val b = newAsset(r, a.databaseId, id)
          st = st.copy(assets = st.assets.updated(id, b))
          out += Change("INSERT", "assets", None, (b.databaseId, id))
        case 5 =>
          st = st.copy(assets = st.assets - a.assetId)
          out += Change("REMOVE", "assets", None, (a.databaseId, a.assetId))
        case _ =>
          val b = a.copy(archived = !a.archived)
          st = st.copy(assets = st.assets.updated(b.assetId, b))
          out += Change("MODIFY", "assets", None, (b.databaseId, b.assetId))
      }
    }
    (out.result(), st, marked)
  }
}
