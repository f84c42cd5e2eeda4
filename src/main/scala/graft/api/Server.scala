package graft.api

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import graft.CubeCatalog
import graft.model.{CubeDef, GraftException}
import graft.planner.{LevelRef, Planner, QueryParser, Roles}
import graft.planner.Roles.RoleSet
import graft.result._
import graft.sources.{MondrianXml, SchemaLoader}

/** REST surface — the analog of the reference's Grape API (§2.D, api.rb).
  * Built on the JDK's HttpServer (zero extra dependencies); the engine below
  * is the Spark planner, so this layer only parses params, dispatches, and
  * serializes.
  *
  * Routes (reference parity):
  *   GET /cubes                                    all cube metadata
  *   GET /cubes/:cube                              one cube
  *   GET /cubes/:cube/aggregate[.csv|.jsonrecords] the aggregation query
  *       (`debug=true` on the JSON forms echoes the normalized query and
  *       the Spark physical plan — ref api.rb:39,141 add_mdx parity)
  *   GET /cubes/:cube/dimensions/:dim              dimension + levels
  *   GET /cubes/:cube/dimensions/:dim/levels/:lvl/members[?caption&member_properties[]]
  *   GET /cubes/:cube/dimensions/:dim/levels/:lvl/members/:key
  *   GET /cubes/:cube/dimensions/:dim/hierarchies/:h/levels/:lvl/members[/:key]
  *   GET /reports[/:name[.csv|.jsonrecords|.xls]]  named warehouse reports
  *   GET /flush                                    drop catalog caches
  *   POST /forget?doc_ids=…                        GDPR tombstone across all
  *       standing artifacts (secret-gated like /flush; [[graft.ops.Forget]])
  */
final class Server(spark: SparkSession, sfDir: String, port: Int,
    flushSecret: Option[String] = sys.env.get("GRAFT_SECRET"),
    catalogXml: Option[String] = None) {

  private val http = Server.create(port)

  // Catalog-XML deployment contract (ref spec_helper.rb:45 `catalog:` /
  // mondrian_rest.rb:7-12 — mondrian-rest boots by pointing the server at
  // a Mondrian schema XML): every table the XML names resolves to an
  // already-registered session table, else `<sfDir>/<name>.parquet`.
  // Formulas the translator skipped are kept for /cubes?debug=true so a
  // migrating user sees exactly what did not carry over.
  @volatile private var skippedFormulas: Seq[MondrianXml.SkippedFormula] = Nil
  private def loadCatalog(): CubeCatalog = catalogXml match {
    case Some(path) =>
      val parsed = MondrianXml.parseFile(path)
      skippedFormulas = parsed.skipped
      val tables = parsed.requiredTables.map { t =>
        t -> (if (spark.catalog.tableExists(t)) spark.table(t)
              else spark.read.parquet(s"$sfDir/$t.parquet"))
      }.toMap
      SchemaLoader.bindXml(spark, parsed, tables)
    case None => CubeCatalog.forDir(spark, sfDir)
  }
  @volatile private var catalog: CubeCatalog = loadCatalog()

  // Concurrent request handling: the Spark driver schedules jobs from many
  // threads fine, and metadata endpoints shouldn't queue behind a long
  // aggregate. Each request works against a catalog SNAPSHOT taken at
  // dispatch, so /flush swapping the field mid-request can't mix two
  // catalog generations inside one response.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)

  def start(): Unit = {
    http.createContext("/", handle _)
    http.setExecutor(pool)
    http.start()
  }

  def stop(): Unit = {
    http.stop(0)
    pool.shutdown()
  }
  def boundPort: Int = http.getAddress.getPort

  private def handle(ex: HttpExchange): Unit = {
    try {
      // Raw (still percent-encoded) path, split first, then each segment
      // decoded exactly once — getPath would pre-decode and a second
      // URLDecoder pass corrupts keys containing '%' or '+'.
      val path = ex.getRequestURI.getRawPath.stripSuffix("/")
      val body = new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      // POST aggregate accepts form-encoded params in the body and gives
      // identical results to GET (ref api_spec.rb:274-282)
      val isForm = Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .exists(_.startsWith("application/x-www-form-urlencoded"))
      val params =
        parseQuery(Option(ex.getRequestURI.getRawQuery).getOrElse("")) ++
          (if (isForm) parseQuery(body) else Map.empty) ++
          // `Authorization: Bearer <secret>` surfaces as a reserved param so
          // /flush callers can keep the secret out of URLs and access logs
          Option(ex.getRequestHeaders.getFirst("Authorization")).toSeq
            .filter(_.startsWith("Bearer "))
            .map(h => "__bearer" -> Seq(h.stripPrefix("Bearer "))) ++
          // B18: a role can ride a header instead of ?role= (keeps the
          // security context out of URLs/access logs, like the secret)
          Option(ex.getRequestHeaders.getFirst("X-Graft-Role")).toSeq
            .map(h => "__rolehdr" -> Seq(h))
      val segs = path.split("/").toList.filter(_.nonEmpty).map(decodeSegment)
      val cat = catalog // per-request snapshot (see pool note)
      val result = segs match {
        case ("mdx" | "mdx.csv" | "mdx.jsonrecords" | "mdx.xls") :: Nil
          if ex.getRequestMethod == "POST" => mdx(cat, segs.head, body, params)
        // /forget mutates standing artifacts irreversibly — never reachable
        // via a safe method (a logged/prefetched GET URL with its ?secret=
        // must not rewrite state); 405 before the secret check so the
        // response doesn't even confirm whether a secret is configured
        case List("forget") if ex.getRequestMethod != "POST" =>
          text(405, "application/json", Json.write(scala.collection.immutable
            .ListMap("error" -> "/forget is POST-only (destructive)")))
        case _ => route(cat, segs, params)
      }
      result match {
        case (status, contentType, resBody) =>
          respond(ex, status, contentType, resBody)
      }
    } catch {
      case e: GraftException =>
        val (st, ct, b) = text(e.status, "application/json",
          Json.write(ListMap("error" -> e.getMessage)))
        respond(ex, st, ct, b)
      case e: Throwable =>
        val (st, ct, b) = text(500, "application/json",
          Json.write(ListMap("error" -> String.valueOf(e.getMessage))))
        respond(ex, st, ct, b)
    }
  }

  /** The role selected by `role=` / X-Graft-Role, resolved against the
    * schema (unknown → 403). None → unrestricted (B18). */
  private def roleOf(cat: CubeCatalog,
      params: Map[String, Seq[String]]): Option[RoleSet] =
    Roles.resolve(cat.schema, params.get("role").orElse(
      params.get("__rolehdr")).flatMap(_.headOption))

  private def cube(cat: CubeCatalog, name: String,
      role: Option[RoleSet] = None): CubeDef = {
    role.foreach(Roles.checkCubeAccess(_, name))
    Planner.anchorCube(cat,
      if (cat.schema.cube(name).nonEmpty ||
        cat.schema.virtualCube(name).nonEmpty) name
      else GraftException.notFound(s"cube not found: $name"))
  }

  /** Member-visibility predicate for metadata routes on a restricted
    * level, after the 403 band/access checks (B18). */
  private def roleMemberFilter(c: CubeDef, ref: LevelRef,
      role: Option[RoleSet]): Option[org.apache.spark.sql.Column] =
    role.flatMap(r => Roles.memberFilter(r, c, Planner.resolve(c, ref)))

  private def route(cat: CubeCatalog, segs: List[String],
      params: Map[String, Seq[String]]): Resp = segs match {
    case Nil =>
      text(200, "application/json", Json.write(ListMap(
        "status" -> "ok", "engine" -> "graft", "schema" -> cat.schema.name)))
    case List("cubes") =>
      val base = Metadata.schemaDict(cat, roleOf(cat, params))
      // debug=true on an XML-booted server reports the formulas the
      // translator could not carry over (never a silent drop)
      val dict =
        if (params.get("debug").exists(_.headOption.contains("true")))
          base + ("skipped_formulas" -> skippedFormulas.map(s => ListMap(
            "cube" -> s.cube, "name" -> s.name, "formula" -> s.formula,
            "reason" -> s.reason)))
        else base
      text(200, "application/json", Json.write(dict))
    case List("cubes", c) =>
      val role = roleOf(cat, params)
      cat.schema.virtualCube(c) match {
        case Some(vc) =>
          role.foreach(Roles.checkCubeAccess(_, c))
          text(200, "application/json", Json.write(Metadata.virtualCubeDict(vc)))
        case None =>
          text(200, "application/json", Json.write(Metadata.cubeDict(
            Roles.filteredCube(role, cube(cat, c, role)))))
      }
    case List("cubes", c, agg) if agg.startsWith("aggregate") =>
      aggregate(cat, c, agg, params)
    case List("cubes", c, dt) if dt.startsWith("drillthrough") =>
      drillthrough(cat, c, dt, params)
    case List("cubes", c, "members") =>
      val fullName = params.get("full_name").flatMap(_.headOption)
        .getOrElse(GraftException.badRequest("full_name param required"))
      val role = roleOf(cat, params)
      val cb = cube(cat, c, role)
      Metadata.memberByFullName(cat, cb, fullName,
        ref => roleMemberFilter(cb, ref, role)) match {
        case Some(m) => text(200, "application/json", Json.write(m))
        case None => GraftException.notFound(s"member not found: $fullName")
      }
    case List("cubes", c, "dimensions", d) =>
      val role = roleOf(cat, params)
      // the role's view: a denied hierarchy is indistinguishable from a
      // dimension that was never declared (404, not 403 — existence is
      // itself access-controlled metadata)
      val dim = Roles.filteredCube(role, cube(cat, c, role))
        .dimension(d).getOrElse(
          GraftException.notFound(s"dimension not found: $d"))
      text(200, "application/json", Json.write(Metadata.dimensionDict(dim)))
    // Level members: default-hierarchy form and the hierarchy-qualified form
    // (ref api.rb:173-191 nests hierarchies/:h/levels/:l/members) — the
    // qualified form is the only way to reach levels of a non-default
    // hierarchy (e.g. ShipDate.Weekly.Week) over REST.
    case List("cubes", c, "dimensions", d, "levels", l, "members") =>
      levelMembers(cat, c, LevelRef(d, Some(l)), params)
    case List("cubes", c, "dimensions", d, "hierarchies", h, "levels", l,
        "members") =>
      levelMembers(cat, c, LevelRef(d, Some(l), Some(h)), params)
    case List("cubes", c, "dimensions", d, "levels", l, "members", k) =>
      memberByKey(cat, c, LevelRef(d, Some(l)), k, params)
    case List("cubes", c, "dimensions", d, "hierarchies", h, "levels", l,
        "members", k) =>
      memberByKey(cat, c, LevelRef(d, Some(l), Some(h)), k, params)
    // Named warehouse reports (the q51–q53 analytics as a REST surface —
    // beyond reference parity; see [[Reports]])
    case List("reports") =>
      text(200, "application/json",
        Json.write(ListMap("reports" -> Reports.list)))
    case List("reports", nameExt) =>
      val (name, ext) = nameExt.lastIndexOf('.') match {
        case i if i > 0 => (nameExt.substring(0, i), nameExt.substring(i + 1))
        case _ => (nameExt, "jsonrecords")
      }
      val t = Reports.run(cat, name)
      ext match {
        case "jsonrecords" =>
          val asArrays = params.get("format")
            .exists(_.headOption.contains("array"))
          text(200, "application/json", Formatters.jsonRecords(t, asArrays))
        case "csv" => text(200, "text/csv", Formatters.csv(t))
        case "xls" => (200, "application/vnd.ms-excel", Biff.xls(t))
        case other => GraftException.notFound(s"unknown format: $other")
      }
    case List("flush") =>
      requireSecret(params)
      CubeCatalog.flush()
      catalog = loadCatalog()
      text(200, "application/json", Json.write(ListMap("status" -> "flushed")))
    // The GDPR surface (beyond reference parity, next to /flush — the
    // other secret-gated admin route): rewrite every standing
    // registration-time artifact so the given doc ids serve from nowhere
    // (dedup pairs/clusters, LSH/media delta indexes, ANN indexes). See
    // [[graft.ops.Forget]] for the exact rewrite per artifact kind.
    case List("forget") =>
      requireSecret(params)
      val ids = params.getOrElse("doc_ids", Nil)
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        .map(s => scala.util.Try(s.toLong).getOrElse(
          GraftException.badRequest(s"doc_ids must be integers, got '$s'")))
      if (ids.isEmpty)
        GraftException.badRequest("forget requires doc_ids")
      val rep = graft.ops.Forget.forget(spark, ids)
      text(200, "application/json", Json.write(ListMap(
        "status" -> "forgotten", "doc_ids" -> ids.distinct.size,
        "artifacts_rewritten" -> rep.replaced,
        "by_kind" -> rep.byKind)))
    case _ => GraftException.notFound(s"no route for /${segs.mkString("/")}")
  }

  /** Shared gate for the destructive admin routes (/flush, /forget) —
    * ref api.rb:54-64: gated on a shared secret, 403 when the deployment
    * never configured one (MONDRIAN_REST_SECRET analog: GRAFT_SECRET) and
    * 403 on mismatch, so a public-facing instance can't have its caches
    * dropped or its artifacts rewritten by an anonymous request. Accepts
    * the secret from an Authorization: Bearer header (preferred — stays
    * out of access logs) or the ?secret= param (reference parity);
    * MessageDigest.isEqual is constant-time, so the comparison leaks no
    * prefix-length timing signal. */
  private def requireSecret(params: Map[String, Seq[String]]): Unit = {
    val secret = flushSecret.getOrElse(
      GraftException.forbidden("set GRAFT_SECRET to use this endpoint"))
    val provided = params.get("__bearer").orElse(params.get("secret"))
      .flatMap(_.headOption)
    val ok = provided.exists(p => java.security.MessageDigest.isEqual(
      p.getBytes(StandardCharsets.UTF_8),
      secret.getBytes(StandardCharsets.UTF_8)))
    if (!ok) GraftException.forbidden("invalid secret key")
  }

  /** (status, content type, body). Text bodies go through [[text]] so the
    * charset lands in the content type; `.xls` is the one binary format. */
  private type Resp = (Int, String, Array[Byte])

  private def text(status: Int, contentType: String, body: String): Resp =
    (status, contentType + "; charset=utf-8",
      body.getBytes(StandardCharsets.UTF_8))

  /** Full member list by default (reference parity); `offset`/`limit`
    * params page through the cached member frame in its total
    * (ordinal, key) order — at 100× a big-dim level list is huge, and a
    * paged request must not collect it whole. Paged responses add
    * `total_members` so clients can iterate without a separate count. */
  private def levelMembers(cat: CubeCatalog, c: String, ref: LevelRef,
      params: Map[String, Seq[String]]): Resp = {
    val withProps = params.contains("member_properties[]") ||
      params.get("caption").isDefined
    val offset = params.get("offset").flatMap(_.headOption)
      .map(_.toLong).getOrElse(0L)
    val limit = params.get("limit").flatMap(_.headOption).map(_.toInt)
    val role = roleOf(cat, params)
    val cb = cube(cat, c, role)
    val rf = roleMemberFilter(cb, ref, role)
    val members = Metadata.levelMembers(cat, cb, ref,
      withProps = withProps, offset = offset, limit = limit,
      roleFilter = rf)
    val doc =
      if (offset == 0 && limit.isEmpty) ListMap[String, Any]("members" -> members)
      else ListMap[String, Any]("members" -> members,
        "offset" -> offset,
        "total_members" ->
          Metadata.levelMemberCount(cat, cb, ref, withProps, rf))
    text(200, "application/json", Json.write(doc))
  }

  private def memberByKey(cat: CubeCatalog, c: String, ref: LevelRef,
      k: String, params: Map[String, Seq[String]]): Resp = {
    val key = QueryParser.typedKey(k) // segment already decoded once
    val role = roleOf(cat, params)
    val cb = cube(cat, c, role)
    val rf = roleMemberFilter(cb, ref, role)
    Metadata.memberByKey(cat, cb, ref, key, rf) match {
      case Some(m) =>
        val withChildren =
          if (params.get("children").exists(_.headOption.contains("true")))
            m + ("children" -> Metadata.memberChildren(cat, cb,
              ref, key, rf))
          else m
        text(200, "application/json", Json.write(withChildren))
      case None => GraftException.notFound(s"member not found: $k")
    }
  }

  /** POST /mdx[.ext] — raw-MDX passthrough for the subset dialect the
    * reference's own builder emits (ref api.rb:21-50, SURVEY §3.2). The cube
    * is recovered from the FROM clause. */
  private def mdx(cat: CubeCatalog, endpoint: String, body: String,
      params: Map[String, Seq[String]]): Resp = {
    // MDX DRILLTHROUGH statement form (Mondrian dialect):
    //   DRILLTHROUGH [MAXROWS n] <select> [RETURNING col, col, …]
    // the inner SELECT's slicer cuts name the cell; axes are ignored (the
    // REST param form takes cut[] directly — see /cubes/:c/drillthrough)
    val dtRe = """(?is)^\s*DRILLTHROUGH\s+(?:MAXROWS\s+(\d+)\s+)?(.*?)(?:\s+RETURNING\s+(.+))?\s*$""".r
    body match {
      case dtRe(maxRows, select, returning) =>
        return mdxDrillthrough(cat, endpoint, select,
          Option(maxRows).map(_.toLong),
          Option(returning).toSeq.flatMap(_.split(",")).map(_.trim)
            .filter(_.nonEmpty), params)
      case _ => ()
    }
    val fromRe = """(?is)\bFROM\s+(\[[^\]]+\]|\S+)""".r
    val cubeName = fromRe.findFirstMatchIn(body)
      .map(m => m.group(1).stripPrefix("[").stripSuffix("]"))
      .getOrElse(GraftException.badRequest("MDX has no FROM clause"))
    val role = roleOf(cat, params)
    role.foreach(Roles.checkCubeAccess(_, cubeName))
    if (cat.schema.cube(cubeName).isEmpty &&
        cat.schema.virtualCube(cubeName).isEmpty)
      GraftException.notFound(s"cube not found: $cubeName")
    // the parse view: a virtual cube presents its exposed cross-cube
    // measures under its own name, so WITH MEMBER arithmetic over them
    // parses here and compiles over the drill-across frame in planVirtual
    val c = Planner.mdxView(cat, cubeName)
    var q = QueryParser.fromParams(c, params) // parents/properties/caption
    val mdxQ = graft.planner.MdxParser.parse(c, body)
    q = mdxQ.copy(parents = q.parents, properties = q.properties,
      captions = q.captions, sparse = q.sparse, role = role.map(_.name))
    val debug = params.get("debug").exists(_.headOption.contains("true"))
    endpoint match {
      case "mdx" => text(200, "application/json",
        if (debug) AxesResult.jsonDebug(cat, q) else AxesResult.json(cat, q))
      case "mdx.csv" =>
        text(200, "text/csv", Formatters.csv(Formatters.tidy(cat, q)))
      case "mdx.jsonrecords" =>
        val asArrays = params.get("format").exists(_.headOption.contains("array"))
        text(200, "application/json",
          Formatters.jsonRecords(Formatters.tidy(cat, q), asArrays))
      case "mdx.xls" =>
        (200, "application/vnd.ms-excel",
          Biff.xls(Formatters.tidy(cat, q)))
      case other => GraftException.notFound(s"unknown format: $other")
    }
  }

  /** The statement form of drillthrough: parse the inner SELECT with the
    * regular MDX parser, keep its slicer cuts as the cell address, and run
    * [[Planner.planDrillthrough]] with the same max-rows discipline as the
    * param form. */
  private def mdxDrillthrough(cat: CubeCatalog, endpoint: String,
      select: String, maxRows: Option[Long], returning: Seq[String],
      params: Map[String, Seq[String]]): Resp = {
    val fromRe = """(?is)\bFROM\s+(\[[^\]]+\]|\S+)""".r
    val cubeName = fromRe.findFirstMatchIn(select)
      .map(m => m.group(1).stripPrefix("[").stripSuffix("]"))
      .getOrElse(GraftException.badRequest("MDX has no FROM clause"))
    val role = roleOf(cat, params)
    val c = drillthroughTarget(cat, cubeName, role)
    val inner = graft.planner.MdxParser.parse(c, select)
    val q = inner.copy(drilldowns = Nil, measures = Nil, limit = None,
      offset = 0, role = role.map(_.name))
    runDrillthrough(cat, c, q, maxRows, returning, endpoint, params)
  }

  /** GET /cubes/:cube/drillthrough[.ext]?cut[]=…&returns[]=…&limit=… —
    * the fact rows behind a cell (Mondrian DRILLTHROUGH; see
    * [[Planner.planDrillthrough]]). `max_rows` (default 1000, config
    * `spark.graft.drillthrough.maxRows`) caps an unlimited request — a
    * cell at 100× can hide millions of rows and this endpoint collects. */
  private def drillthrough(cat: CubeCatalog, cubeName: String,
      endpoint: String, params: Map[String, Seq[String]]): Resp = {
    val role = roleOf(cat, params)
    val c = drillthroughTarget(cat, cubeName, role)
    val q = QueryParser.fromParams(c, params)
      .copy(cube = cubeName, role = role.map(_.name))
    runDrillthrough(cat, c, q,
      params.get("max_rows").flatMap(_.headOption).map(_.toLong),
      params.getOrElse("returns[]", Nil), endpoint, params)
  }

  /** Shared drillthrough machinery for the param and MDX-statement forms:
    * virtual-cube rejection, the max-rows COLLECT cap (this endpoint
    * materializes on the driver, so an explicit limit/MAXROWS above the
    * configured ceiling clamps rather than bypasses), and the tabular
    * format dispatch keyed by the endpoint's extension. */
  private def drillthroughTarget(cat: CubeCatalog, cubeName: String,
      role: Option[RoleSet]): CubeDef = {
    if (cat.schema.virtualCube(cubeName).nonEmpty)
      GraftException.badRequest(
        s"drillthrough is not supported on virtual cube '$cubeName'")
    cube(cat, cubeName, role)
  }

  private def runDrillthrough(cat: CubeCatalog, c: CubeDef,
      q0: graft.planner.CubeQuery, requestedMax: Option[Long],
      returns: Seq[String], endpoint: String,
      params: Map[String, Seq[String]]): Resp = {
    val ceiling = cat.spark.conf
      .getOption("spark.graft.drillthrough.maxRows").map(_.toLong)
      .getOrElse(1000L)
    val cap = (requestedMax.toSeq ++ q0.limit :+ ceiling).min
    val q = q0.copy(limit = Some(cap))
    val df = Planner.planDrillthrough(cat, c, q, returns)
    val t = Formatters.Tidy(df.columns.toSeq, df.collect().toSeq.map(_.toSeq))
    val ext = endpoint.dropWhile(_ != '.')
    ext match {
      case "" | ".jsonrecords" =>
        val asArrays = params.get("format").exists(_.headOption.contains("array"))
        text(200, "application/json", Formatters.jsonRecords(t, asArrays))
      case ".csv" => text(200, "text/csv", Formatters.csv(t))
      case ".xls" => (200, "application/vnd.ms-excel", Biff.xls(t))
      case other => GraftException.notFound(s"unknown format: ${other.stripPrefix(".")}")
    }
  }

  /** GET /cubes/:cube/aggregate[.ext] — all §2.A params. */
  private def aggregate(cat: CubeCatalog, cubeName: String, endpoint: String,
      params: Map[String, Seq[String]]): Resp = {
    val role = roleOf(cat, params) // resolve eagerly: unknown role → 403
    val c = cube(cat, cubeName, role)
    val q = QueryParser.fromParams(c, params)
      .copy(cube = cubeName, role = role.map(_.name))
    val debug = params.get("debug").exists(_.headOption.contains("true"))
    endpoint match {
      case "aggregate" =>
        text(200, "application/json",
          if (debug) AxesResult.jsonDebug(cat, q) else AxesResult.json(cat, q))
      case "aggregate.csv" =>
        text(200, "text/csv", Formatters.csv(Formatters.tidy(cat, q)))
      case "aggregate.jsonrecords" =>
        val asArrays = params.get("format").exists(_.headOption.contains("array"))
        text(200, "application/json",
          Formatters.jsonRecords(Formatters.tidy(cat, q), asArrays))
      case "aggregate.xls" =>
        (200, "application/vnd.ms-excel",
          Biff.xls(Formatters.tidy(cat, q)))
      case other => GraftException.notFound(s"unknown format: $other")
    }
  }

  /** Percent-decode one path segment. Unlike URLDecoder (query semantics),
    * a literal '+' in a path stays '+'. */
  private def decodeSegment(seg: String): String =
    URLDecoder.decode(seg.replace("+", "%2B"), StandardCharsets.UTF_8)

  private def parseQuery(raw: String): Map[String, Seq[String]] =
    raw.split("&").toSeq.filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(URLDecoder.decode(k, StandardCharsets.UTF_8) ->
          URLDecoder.decode(v, StandardCharsets.UTF_8))
        case Array(k) => Some(URLDecoder.decode(k, StandardCharsets.UTF_8) -> "")
        case _ => None
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  private def respond(ex: HttpExchange, status: Int, contentType: String,
      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, body.length)
    val os = ex.getResponseBody
    os.write(body)
    os.close()
  }
}

object Server {
  // The JDK server leaves Nagle's algorithm on: sendResponseHeaders flushes
  // the headers as their own segment, and the body then waits for the
  // client's delayed ACK (>= 40 ms on Linux) on EVERY reply. The JDK reads
  // this property once, when its server config class initializes, so it is
  // set before the first create; an explicit -D value still wins.
  sys.props.getOrElseUpdate("sun.net.httpserver.nodelay", "true")

  private def create(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(port), 0)
}

/** `runMain graft.api.ServerMain [--catalog schema.xml] [sfDir] [port]` —
  * serve the engine. With `--catalog` the cube model comes from a Mondrian
  * schema XML (the reference's deployment contract, spec_helper.rb:45);
  * each table the XML names binds to `<sfDir>/<name>.parquet` (or an
  * already-registered session table). Without it, the built-in JSON/code
  * catalog for the data directory. */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val (catalogXml, rest) = args.toList match {
      case "--catalog" :: path :: tail => (Some(path), tail)
      case other => (None, other)
    }
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val port = rest.lift(1).map(_.toInt).getOrElse(4567)
    val spark = graft.GraftSession.build()
    val server = new Server(spark, sfDir, port, catalogXml = catalogXml)
    server.start()
    val src = catalogXml.map(x => s"catalog $x over ").getOrElse("")
    println(s"[graft] serving $src$sfDir on http://localhost:${server.boundPort}")
    Thread.currentThread().join()
  }
}
