package graftbench

import java.net.URLDecoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.ListMap
import org.apache.spark.sql.Row
import graft.CubeCatalog
import graft.planner.{CubeQuery, LevelRef, MdxParser, Planner, QueryParser}
import graft.result.{AxesResult, Biff, Formatters, Json, Metadata}

/** One REST request of a workload, as the input generator wrote it. */
final case class Req(id: String, method: String, path: String, query: String,
    body: String) {
  /** Identity for the hit/miss rule: the same method, path, query and body. */
  def key: String = s"$method $path?$query\n$body"
}

object Req {
  def parse(v: Any): Req = {
    val m = v.asInstanceOf[Map[String, Any]]
    Req(m("id").toString, m("method").toString, m("path").toString,
      m.getOrElse("query", "").toString, m.getOrElse("body", "").toString)
  }
}

/** The routes the workloads use, answered in-process through each layer's
  * public function, in the order the server's handlers call them. With
  * `split` the result-cache fill is broken into build / optimize / execute
  * spans; without it the call is the plain library path (plan + collect),
  * which is how expected bodies are computed. */
object Rest {
  private val fromRe = """(?is)\bFROM\s+(\[[^\]]+\]|\S+)""".r

  def params(raw: String): Map[String, Seq[String]] =
    raw.split("&").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
        case Array(k) => URLDecoder.decode(k, UTF_8) -> ""
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  def answer(cat: CubeCatalog, r: Req, t: Tracer, split: Boolean)
      : Array[Byte] = {
    val sp = t.forReq(r.id)
    val p = params(r.query)
    val segs = r.path.split("/").toList.filter(_.nonEmpty)
      .map(s => URLDecoder.decode(s.replace("+", "%2B"), UTF_8))
    segs match {
      case List("cubes") =>
        val d = sp("result.shape")(Metadata.schemaDict(cat))
        sp("result.serialize")(Json.write(d)).getBytes(UTF_8)
      case List("cubes", c, agg) if agg.startsWith("aggregate") =>
        val q = sp("planner.parse") {
          QueryParser.fromParams(Planner.anchorCube(cat, c), p).copy(cube = c)
        }
        render(cat, q, agg.stripPrefix("aggregate"), p, t, sp, split)
      case List(mdx) if mdx.startsWith("mdx") =>
        val q = sp("planner.parse") {
          val cubeName = fromRe.findFirstMatchIn(r.body)
            .map(_.group(1).stripPrefix("[").stripSuffix("]")).get
          val view = Planner.mdxView(cat, cubeName)
          val q0 = QueryParser.fromParams(view, p)
          MdxParser.parse(view, r.body).copy(parents = q0.parents,
            properties = q0.properties, captions = q0.captions,
            sparse = q0.sparse)
        }
        render(cat, q, mdx.stripPrefix("mdx"), p, t, sp, split)
      case "cubes" :: c :: "dimensions" :: d :: rest =>
        val ref = rest match {
          case List("levels", l, "members") => LevelRef(d, Some(l))
          case List("hierarchies", h, "levels", l, "members") =>
            LevelRef(d, Some(l), Some(h))
        }
        val cube = sp("planner.parse")(Planner.anchorCube(cat, c))
        val members = sp("result.shape")(Metadata.levelMembers(cat, cube, ref,
          withProps = p.contains("member_properties[]") || p.contains("caption")))
        sp("result.serialize")(Json.write(ListMap("members" -> members)))
          .getBytes(UTF_8)
    }
  }

  private def render(cat: CubeCatalog, q: CubeQuery, ext: String,
      p: Map[String, Seq[String]], t: Tracer, sp: SpanFn, split: Boolean)
      : Array[Byte] = {
    if (split) t.add("result.rows", cachedRows(cat, q, t, sp)._1.size)
    if (ext.isEmpty) {
      val doc = sp("result.shape")(AxesResult.build(cat, q))
      sp("result.serialize")(Json.write(doc)).getBytes(UTF_8)
    } else {
      val tidy = sp("result.shape")(Formatters.tidy(cat, q))
      sp("result.serialize") {
        ext match {
          case ".csv" => Formatters.csv(tidy).getBytes(UTF_8)
          case ".jsonrecords" => Formatters.jsonRecords(tidy,
            p.get("format").exists(_.headOption.contains("array"))).getBytes(UTF_8)
          case ".xls" => Biff.xls(tidy)
        }
      }
    }
  }

  /** A query's (rows, columns) through the catalog's result cache, filled
    * the way the server's routes fill it, with the fill split into build /
    * optimize / execute spans. */
  def cachedRows(cat: CubeCatalog, q: CubeQuery, t: Tracer, sp: SpanFn)
      : (Seq[Row], Seq[String]) = sp("catalog") {
    cat.cachedResult(q) {
      val df = sp("planner.build")(Planner.plan(cat, q))
      if (t.enabled) {
        t.add("planner.plans", 1)
        if (routed(cat, df)) t.add("planner.routed", 1)
      }
      sp("catalyst.optimize")(df.queryExecution.executedPlan)
      (sp("exec")(df.collect().toSeq), df.columns.toSeq)
    }
  }

  /** Whether a plan reads one of the catalog's registered rollups. */
  private def routed(cat: CubeCatalog, df: org.apache.spark.sql.DataFrame): Boolean = {
    val files = df.inputFiles.toSet
    cat.rollups.exists(_.df.inputFiles.exists(files))
  }

  /** A keep-alive HTTP/1.1 client; one per client thread. */
  final class Client(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()

    def send(r: Req): (Int, Array[Byte]) = {
      val uri = java.net.URI.create(s"http://127.0.0.1:$port${r.path}" +
        (if (r.query.isEmpty) "" else "?" + r.query))
      val b = HttpRequest.newBuilder(uri)
      val req =
        if (r.method == "POST") b.POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
        else b.GET().build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
      (resp.statusCode(), resp.body())
    }
  }
}
