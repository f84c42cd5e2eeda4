package graft.sources

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import graft.CubeCatalog
import graft.model._
import graft.result.Json

/** Declarative catalog loading — the analog of the reference's Mondrian XML
  * schema file (spec/fixtures/foodmart.xml) re-expressed as JSON over Spark
  * DataFrame sources. A catalog document declares:
  *
  *   tables:  named sources, any DataFrameReader format (parquet/csv/json/
  *            orc/jdbc) + options, or a derived pre-join of two tables
  *            (snowflake collapse, ref B3)
  *   cubes:   dimensions/hierarchies/levels/measures/calcMembers/lagMeasures/totalMeasures/
  *            namedSets as in [[graft.model]]
  *
  * Column references are validated against the bound DataFrame schemas at
  * load time (the reference fails at catalog load too) so a typo surfaces as
  * a 400 before any query runs.
  */
object SchemaLoader {

  def loadFile(spark: SparkSession, path: String): CubeCatalog =
    load(spark, new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))

  /** Bind a Mondrian XML catalog (ref spec/fixtures/foodmart.xml grammar —
    * see [[MondrianXml]] for the element map) to concrete DataFrames: the
    * migration path for an existing mondrian-rest user. `tables` supplies
    * the base tables the XML names; snowflake `<Join>`s materialize here as
    * derived pre-join frames (B3 — the planner only ever sees star
    * equi-joins). The same load-time expression validation as the JSON
    * dialect applies. */
  def loadXml(spark: SparkSession, xmlText: String,
      tables: Map[String, DataFrame]): CubeCatalog = {
    val parsed = MondrianXml.parse(xmlText)
    bindXml(spark, parsed, tables)
  }

  def loadXmlFile(spark: SparkSession, path: String,
      tables: Map[String, DataFrame]): CubeCatalog =
    loadXml(spark, new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8),
      tables)

  def bindXml(spark: SparkSession, parsed: MondrianXml.XmlCatalog,
      tables: Map[String, DataFrame]): CubeCatalog = {
    val missing = parsed.requiredTables.filterNot(tables.contains)
    if (missing.nonEmpty)
      GraftException.badRequest(
        s"XML catalog needs unbound tables: ${missing.mkString(", ")}")
    val withJoins = parsed.joins.foldLeft(tables) { (acc, j) =>
      val left = acc(j.leftTable)
      val right0 = acc(j.rightTable)
      // drop the right side's join key when both sides name it identically
      // (Mondrian's foodmart product/product_class share product_class_id) —
      // the collapsed frame must keep unique column names for level exprs
      val joined = left.join(right0,
        left(j.leftKey) === right0(j.rightKey))
      val collapsed = if (j.leftKey == j.rightKey)
        joined.drop(right0(j.rightKey)) else joined
      acc + (j.name -> collapsed)
    }
    validate(parsed.schema, withJoins)
    new CubeCatalog(spark, parsed.schema, withJoins,
      preJoins = parsed.joins.map(_.name).toSet)
  }

  def load(spark: SparkSession, jsonText: String): CubeCatalog = {
    val root = Json.parse(jsonText).asInstanceOf[Map[String, Any]]
    val tableSpecs = root.getOrElse("tables", Seq.empty).asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[String, Any]])
    val tables = loadTables(spark, tableSpecs)
    val preJoins = tableSpecs.filter(_.contains("join")).map(_("name").toString)
    val cubes = root.getOrElse("cubes", Seq.empty).asInstanceOf[Seq[Any]]
      .map(c => cubeDef(c.asInstanceOf[Map[String, Any]]))
    val virtual = root.getOrElse("virtualCubes", Seq.empty)
      .asInstanceOf[Seq[Any]].map(v => virtualDef(v.asInstanceOf[Map[String, Any]]))
    val roles = root.getOrElse("roles", Seq.empty).asInstanceOf[Seq[Any]]
      .map(r => roleDef(r.asInstanceOf[Map[String, Any]]))
    val schema = SchemaDef(
      root.getOrElse("name", "schema").toString, cubes, virtual, roles)
    validate(schema, tables)
    new CubeCatalog(spark, schema, tables, preJoins.toSet)
  }

  // ------------------------------------------------------------- tables

  private def loadTables(spark: SparkSession,
      specs: Seq[Map[String, Any]]): Map[String, DataFrame] = {
    var out = ListMap.empty[String, DataFrame]
    specs.foreach { m =>
      val name = m("name").toString
      val df = m.get("join") match {
        case Some(j) => // derived snowflake pre-join of two registered tables
          val jm = j.asInstanceOf[Map[String, Any]]
          val left = out(jm("left").toString)
          val right = out(jm("right").toString)
          left.join(right,
            left(jm("leftKey").toString) === right(jm("rightKey").toString))
        case None =>
          val format = m.getOrElse("format", "parquet").toString
          val options = m.getOrElse("options", ListMap.empty[String, Any])
            .asInstanceOf[Map[String, Any]]
            .map { case (k, v) => k -> String.valueOf(v) }
          val reader = spark.read.format(format).options(options)
          m.get("path") match {
            case Some(p) => reader.load(p.toString)
            case None => reader.load() // e.g. jdbc with dbtable option
          }
      }
      out += name -> df
    }
    out
  }

  // -------------------------------------------------------------- cubes

  private def strSeq(m: Map[String, Any], k: String): Seq[Map[String, Any]] =
    m.getOrElse(k, Seq.empty).asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[String, Any]])
  private def opt(m: Map[String, Any], k: String): Option[String] =
    m.get(k).filter(_ != null).map(_.toString)

  private def levelDef(m: Map[String, Any]): LevelDef = LevelDef(
    name = m("name").toString,
    keyExpr = m("key").toString,
    alias = m("alias").toString,
    nameExpr = opt(m, "caption"),
    ordExpr = opt(m, "ordinal"),
    properties = strSeq(m, "properties").map(p => PropertyDef(
      p("name").toString, p("expr").toString, p("alias").toString)),
    hideIf = opt(m, "hideMemberIf"))

  private def dimensionDef(m: Map[String, Any]): DimensionDef = DimensionDef(
    name = m("name").toString,
    hierarchies = strSeq(m, "hierarchies").map(h => HierarchyDef(
      h("name").toString,
      strSeq(h, "levels").map(levelDef),
      hasAll = h.getOrElse("hasAll", true).asInstanceOf[Boolean],
      allMemberName = opt(h, "allMemberName"))),
    join = m.get("join").map { j =>
      val jm = j.asInstanceOf[Map[String, Any]]
      JoinSpec(jm("table").toString, jm("foreignKey").toString,
        jm("primaryKey").toString,
        broadcastable = jm.getOrElse("broadcastable", true)
          .asInstanceOf[Boolean])
    },
    isTime = m.getOrElse("type", "standard") == "time")

  private def aggOf(s: String): Agg = s match {
    case "sum" => Agg.Sum
    case "count" => Agg.Count
    case "count-all" | "count(*)" => Agg.CountAll
    case "min" => Agg.Min
    case "max" => Agg.Max
    case "avg" => Agg.Avg
    case "distinct-count" => Agg.DistinctCount
    case "approx-distinct-count" => Agg.ApproxDistinctCount
    case "median" => Agg.Median
    case other => GraftException.badRequest(s"unknown aggregator '$other'")
  }

  private def cubeDef(m: Map[String, Any]): CubeDef = CubeDef(
    name = m("name").toString,
    factTable = m("factTable").toString,
    dimensions = strSeq(m, "dimensions").map(dimensionDef),
    measures = strSeq(m, "measures").map(mm => MeasureDef(
      mm("name").toString, mm("alias").toString,
      aggOf(mm("aggregator").toString), mm("expr").toString,
      exact = mm.getOrElse("exact", true).asInstanceOf[Boolean],
      formatString = opt(mm, "formatString"),
      annotations = annotationsOf(mm))),
    calcMembers = strSeq(m, "calculatedMembers").map(cm =>
      CalcMemberDef(cm("alias").toString, cm("formula").toString,
        formatString = opt(cm, "formatString"))),
    lagMeasures = strSeq(m, "lagMeasures").map(lm => LagMeasureDef(
      lm("alias").toString, lm("base").toString, lm("timeDimension").toString,
      coalesceToBase = lm.getOrElse("coalesceToBase", false)
        .asInstanceOf[Boolean],
      periods = lm.getOrElse("periods", 1L).asInstanceOf[Long].toInt)),
    cumMeasures = strSeq(m, "cumMeasures").map(cm => CumMeasureDef(
      cm("alias").toString, cm("base").toString, cm("timeDimension").toString,
      cm("resetLevel").toString)),
    totalMeasures = strSeq(m, "totalMeasures").map(tm => TotalMeasureDef(
      tm("alias").toString, tm("base").toString, tm("dimension").toString)),
    movingMeasures = strSeq(m, "movingMeasures").map(mm => MovingMeasureDef(
      mm("alias").toString, mm("base").toString,
      mm("timeDimension").toString,
      mm("periods").asInstanceOf[Long].toInt)),
    namedSets = strSeq(m, "namedSets").map(ns => NamedSetDef(
      ns("name").toString, ns("dimension").toString, ns("level").toString,
      ns("topK").asInstanceOf[Long].toInt, ns("byMeasure").toString,
      annotations = annotationsOf(ns))),
    defaultMeasure = opt(m, "defaultMeasure"),
    annotations = annotationsOf(m))

  private def annotationsOf(m: Map[String, Any]): Map[String, String] =
    m.getOrElse("annotations", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]].map { case (k, v) => k -> String.valueOf(v) }

  /** B18 roles (ref Mondrian `<Role>` schema element; see
    * [[graft.planner.Roles]] for enforcement semantics). JSON shape:
    * {{{
    * "roles": [{"name": "emea", "schemaAccess": "all",
    *   "cubeGrants": [{"cube": "sales", "access": "all",
    *     "hierarchyGrants": [{"dimension": "Geography",
    *       "access": "custom", "rollupPolicy": "partial",
    *       "topLevel": "Region", "bottomLevel": "Nation",
    *       "memberGrants": [{"level": "Region", "keys": [0, 3],
    *                         "access": "all"}]}]}]}]
    * }}} */
  private def roleDef(m: Map[String, Any]): RoleDef = RoleDef(
    name = m("name").toString,
    schemaAccess = m.getOrElse("schemaAccess", "all").toString,
    cubeGrants = strSeq(m, "cubeGrants").map(cg => CubeGrantDef(
      cube = cg("cube").toString,
      access = cg.getOrElse("access", "all").toString,
      hierarchyGrants = strSeq(cg, "hierarchyGrants").map(hg =>
        HierarchyGrantDef(
          dim = hg("dimension").toString,
          hierarchy = opt(hg, "hierarchy"),
          access = hg.getOrElse("access", "custom").toString,
          topLevel = opt(hg, "topLevel"),
          bottomLevel = opt(hg, "bottomLevel"),
          rollupPolicy = hg.getOrElse("rollupPolicy", "partial").toString,
          memberGrants = strSeq(hg, "memberGrants").map(mg =>
            MemberGrantDef(mg("level").toString,
              mg.getOrElse("keys", Seq.empty).asInstanceOf[Seq[Any]],
              mg.getOrElse("access", "all").toString,
              path = mg.getOrElse("path", Seq.empty)
                .asInstanceOf[Seq[Any]])))))))

  private def virtualDef(m: Map[String, Any]): VirtualCubeDef = VirtualCubeDef(
    name = m("name").toString,
    cubeMeasures = m("cubeMeasures").asInstanceOf[Map[String, Any]].toSeq
      .map { case (c, ms) =>
        c -> ms.asInstanceOf[Seq[Any]].map(_.toString)
      },
    calcMembers = strSeq(m, "calculatedMembers").map(cm =>
      CalcMemberDef(cm("alias").toString, cm("formula").toString)))

  // ---------------------------------------------------------- validation

  /** Every level/measure/property expression must analyze against its bound
    * table's schema (load-time 400, ref §4.1 validation-as-optimization). */
  private def validate(schema: SchemaDef,
      tables: Map[String, DataFrame]): Unit = {
    validateRoles(schema)
    schema.cubes.foreach { cube =>
      val fact = tables.getOrElse(cube.factTable, GraftException.badRequest(
        s"cube '${cube.name}': fact table '${cube.factTable}' not registered"))
      cube.dimensions.foreach { d =>
        val frame = d.join match {
          case Some(js) =>
            val t = tables.getOrElse(js.table, GraftException.badRequest(
              s"dimension '${d.name}': table '${js.table}' not registered"))
            if (!fact.columns.contains(js.foreignKey))
              GraftException.badRequest(
                s"dimension '${d.name}': foreign key '${js.foreignKey}' not in fact")
            if (!t.columns.contains(js.primaryKey))
              GraftException.badRequest(
                s"dimension '${d.name}': primary key '${js.primaryKey}' not in '${js.table}'")
            t
          case None => fact
        }
        d.hierarchies.flatMap(_.levels).foreach { l =>
          (Seq(l.keyExpr) ++ l.nameExpr ++ l.ordExpr ++
            l.properties.map(_.expr)).foreach { e =>
            try frame.select(expr(e)).queryExecution.analyzed
            catch {
              case ex: Exception => GraftException.badRequest(
                s"level '${l.name}': bad expression '$e': ${ex.getMessage}")
            }
          }
        }
      }
      cube.measures.foreach { mm =>
        try fact.select(expr(mm.expr)).queryExecution.analyzed
        catch {
          case ex: Exception => GraftException.badRequest(
            s"measure '${mm.name}': bad expression '${mm.expr}': ${ex.getMessage}")
        }
      }
    }

  }

  /** B18: a grant naming a cube/dimension/hierarchy/level that doesn't
    * exist is a schema bug — fail at load like every other declaration
    * (a typo'd grant that silently never applied would be a SECURITY bug,
    * the worst kind of silent). */
  private def validateRoles(schema: SchemaDef): Unit =
    schema.roles.foreach { r =>
      def bad(msg: String): Nothing =
        GraftException.badRequest(s"role '${r.name}': $msg")
      if (!Set("all", "none").contains(r.schemaAccess))
        bad(s"schemaAccess '${r.schemaAccess}' must be all|none")
      r.cubeGrants.foreach { cg =>
        if (!Set("all", "none").contains(cg.access))
          bad(s"cube grant access '${cg.access}' must be all|none")
        val cubeOpt = schema.cube(cg.cube)
        if (cubeOpt.isEmpty && schema.virtualCube(cg.cube).isEmpty)
          bad(s"cube grant names unknown cube '${cg.cube}'")
        if (cubeOpt.isEmpty && cg.hierarchyGrants.nonEmpty)
          bad(s"hierarchy grants are not supported on virtual cube '${cg.cube}'")
        val cube = cubeOpt.getOrElse(CubeDef("", "", Nil, Nil))
        cg.hierarchyGrants.foreach { hg =>
          if (!Set("all", "none", "custom").contains(hg.access))
            bad(s"hierarchy grant access '${hg.access}' must be all|none|custom")
          if (!Set("full", "partial", "hidden").contains(hg.rollupPolicy))
            bad(s"rollupPolicy '${hg.rollupPolicy}' must be full|partial|hidden")
          val dim = cube.dimension(hg.dim).getOrElse(
            bad(s"grant names unknown dimension '${hg.dim}' in cube '${cg.cube}'"))
          val hier = dim.hierarchy(hg.hierarchy).getOrElse(
            bad(s"grant names unknown hierarchy '${hg.hierarchy.getOrElse("")}' of '${hg.dim}'"))
          (hg.topLevel.toSeq ++ hg.bottomLevel ++
            hg.memberGrants.map(_.level)).foreach { ln =>
            if (hier.level(ln).isEmpty)
              bad(s"grant names unknown level '$ln' of ${hg.dim}.${hier.name}")
          }
          for (t <- hg.topLevel; b <- hg.bottomLevel)
            if (hier.levels.indexWhere(_.name == t) >
                hier.levels.indexWhere(_.name == b))
              bad(s"topLevel '$t' is below bottomLevel '$b' in ${hg.dim}.${hier.name}")
          hg.memberGrants.foreach { mg =>
            if (!Set("all", "none").contains(mg.access))
              bad(s"member grant access '${mg.access}' must be all|none")
          }
        }
      }
    }
}
