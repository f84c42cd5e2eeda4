package graft.result

import scala.collection.immutable.ListMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.CubeCatalog
import graft.model._
import graft.planner.{LevelRef, Planner, Roles}

/** Metadata introspection — the analog of the reference's schema serializers
  * (C9, mondrian_ext.rb:35-146) and the member-enumeration endpoints
  * (§2.D). Structure answers come straight from the registry; member lists
  * are distinct() queries over the dimension frame, cached by Spark's
  * plan cache + the catalog's table reuse.
  */
object Metadata {

  def aggName(a: Agg): String = a match {
    case Agg.Sum => "sum"
    case Agg.Count | Agg.CountAll => "count"
    case Agg.Min => "min"
    case Agg.Max => "max"
    case Agg.Avg => "avg"
    case Agg.DistinctCount => "distinct-count"
    case Agg.ApproxDistinctCount => "approx-distinct-count"
    case Agg.Median => "median"
  }

  def levelDict(l: LevelDef): ListMap[String, Any] = ListMap(
    "name" -> l.name,
    "caption" -> l.name,
    "full_name" -> s"[${l.name}]",
    "properties" -> l.properties.map(_.name))

  def hierarchyDict(h: HierarchyDef): ListMap[String, Any] = ListMap(
    "name" -> h.name,
    "has_all" -> h.hasAll,
    "all_member_name" -> h.allMemberName.orNull,
    "levels" -> h.levels.map(levelDict))

  def dimensionDict(d: DimensionDef): ListMap[String, Any] = ListMap(
    "name" -> d.name,
    "caption" -> d.name,
    "type" -> (if (d.isTime) "time" else "standard"),
    "hierarchies" -> d.hierarchies.map(hierarchyDict))

  def measureDict(m: MeasureDef): ListMap[String, Any] = ListMap(
    "name" -> m.name,
    "caption" -> m.name,
    "alias" -> m.alias,
    "aggregator" -> aggName(m.agg),
    // declared presentation metadata served verbatim (ref
    // mondrian_ext.rb:66-80): clients render format_string, graft doesn't
    "format_string" -> m.formatString.orNull,
    "annotations" -> m.annotations)

  def namedSetDict(ns: NamedSetDef): ListMap[String, Any] = ListMap(
    "name" -> ns.name,
    "dimension" -> ns.dim,
    "level" -> ns.level,
    // declared <Annotations> first (ref api_spec.rb:40), then graft's
    // own top_k/by_measure descriptors; a declared key that collides with
    // a descriptor name is served verbatim and the DESCRIPTOR moves to
    // the first FREE graft_-prefixed key (prefixing repeats, so a schema
    // that also declares 'graft_top_k' still loses nothing) —
    // user-declared metadata always wins
    "annotations" -> (ns.annotations ++
      ListMap[String, Any]("top_k" -> ns.k, "by_measure" -> ns.byMeasure)
        .map { case (k, v) =>
          Iterator.iterate(k)(x => s"graft_$x")
            .dropWhile(ns.annotations.contains).next() -> v }))

  def cubeDict(c: CubeDef): ListMap[String, Any] = ListMap(
    "name" -> c.name,
    "annotations" -> c.annotations,
    "dimensions" -> c.dimensions.map(dimensionDict),
    "measures" -> c.measures.map(measureDict),
    "calculated_members" -> (c.calcMembers.map(_.alias) ++
      c.lagMeasures.map(_.alias) ++ c.cumMeasures.map(_.alias) ++
      c.totalMeasures.map(_.alias) ++ c.movingMeasures.map(_.alias)),
    "named_sets" -> c.namedSets.map(namedSetDict),
    "default_measure" -> c.defaultMeasure.orNull)

  def virtualCubeDict(v: VirtualCubeDef): ListMap[String, Any] = ListMap(
    "name" -> v.name,
    "cube_measures" -> ListMap(v.cubeMeasures.map {
      case (c, ms) => c -> ms
    }: _*),
    "calculated_members" -> v.calcMembers.map(_.alias))

  /** With a role: invisible cubes drop out and visible ones serialize as
    * the role sees them — denied hierarchies gone, bands truncated (B18). */
  def schemaDict(cat: CubeCatalog,
      role: Option[Roles.RoleSet] = None): ListMap[String, Any] = ListMap(
    "name" -> cat.schema.name,
    "cubes" -> (Roles.visibleCubes(cat.schema, role)
      .map(c => cubeDict(Roles.filteredCube(role, c))) ++
      Roles.visibleVirtualCubes(cat.schema, role).map(virtualCubeDict)))

  /** Distinct members of a level, ordered by ordinal/key, with key, caption
    * and (optionally) property columns (ref api.rb:174-205). */
  def levelMembersDf(cat: CubeCatalog, cube: CubeDef, ref: LevelRef,
      withProps: Boolean = false,
      roleFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val rl = Planner.resolve(cube, ref)
    roleFilter match {
      // role-restricted listings skip the shared member cache (its key is
      // role-blind and listing is not the hot path) and filter at the
      // SOURCE, so paging/ordering see only visible members
      case Some(f) => levelMembersDfUncached(cat, cube, rl, withProps,
        Some(f))
      case None => cat.cachedMemberFrame((cube.name, levelId(rl), withProps)) {
        levelMembersDfUncached(cat, cube, rl, withProps)
      }
    }
  }

  private def levelMembersDfUncached(cat: CubeCatalog, cube: CubeDef,
      rl: Planner.ResolvedLevel, withProps: Boolean,
      roleFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val src0 = rl.dim.join match {
      case Some(js) => cat.table(js.table)
      case None => cat.fact(cube)
    }
    val src = roleFilter.map(src0.filter).getOrElse(src0)
    val l = rl.level
    // ragged hierarchies (B12): hide members per hideMemberIf before listing
    val visible = l.hideIf match {
      case Some("IfBlankName") =>
        val cap = expr(l.nameExpr.getOrElse(l.keyExpr))
        src.where(cap.isNotNull && cap.cast("string") =!= "")
      case Some("IfParentsName") if rl.depth > 0 =>
        val parent = rl.hier.levels(rl.depth - 1)
        src.where(expr(l.nameExpr.getOrElse(l.keyExpr)).cast("string") =!=
          expr(parent.nameExpr.getOrElse(parent.keyExpr)).cast("string"))
      case _ => src
    }
    val cols =
      Seq(expr(l.keyExpr).as("key"),
        expr(l.nameExpr.getOrElse(l.keyExpr)).as("caption")) ++
        (if (withProps) l.properties.map(p => expr(p.expr).as(p.name))
         else Nil)
    // (ordinal, key) is a TOTAL order — ordinal alone can tie, and paging
    // (offset/limit below) needs every page boundary deterministic
    visible.select((cols :+ expr(l.ordExpr.getOrElse(l.keyExpr)).as("__ord")): _*)
      .distinct().orderBy(col("__ord"), col("key")).drop("__ord")
  }

  /** One page of a level's members. An unrestricted page is collected once
    * per catalog generation into the result cache, so a repeated listing
    * runs no Spark job; a role-filtered one never reads or fills that
    * shared, role-blind entry. */
  def levelMembers(cat: CubeCatalog, cube: CubeDef, ref: LevelRef,
      withProps: Boolean = false, offset: Long = 0,
      limit: Option[Int] = None,
      roleFilter: Option[org.apache.spark.sql.Column] = None)
      : Seq[ListMap[String, Any]] = {
    val rl = Planner.resolve(cube, ref)
    if (offset > Int.MaxValue || offset < 0)
      GraftException.badRequest(s"offset $offset out of range")
    def collectPage() = {
      val df0 = levelMembersDf(cat, cube, ref, withProps, roleFilter)
      // paging applies AFTER the total order, inside the plan: a big-dim
      // level list at 100× must never collect() whole just to serve one page
      val df = limit.foldLeft(
        if (offset > 0) df0.offset(offset.toInt) else df0)((d, k) => d.limit(k))
      (df.collect().toSeq, df.columns.toSeq)
    }
    val (rows, names) =
      if (roleFilter.isDefined) collectPage()
      else cat.cached(CubeCatalog.ResultKey.Listing(cube.name,
        levelId(rl), withProps, offset, limit))(collectPage())
    rows.map { r =>
      val base = ListMap[String, Any](
        "name" -> String.valueOf(r.get(1)),
        "full_name" -> s"[${rl.dim.name}].[${r.get(0)}]",
        "caption" -> r.get(1),
        "key" -> r.get(0),
        "level_name" -> rl.level.name,
        "depth" -> rl.depth)
      if (withProps && names.length > 2)
        base + ("properties" -> ListMap(
          names.drop(2).zipWithIndex.map { case (n, i) =>
            n -> r.get(i + 2)
          }: _*))
      else base
    }
  }

  /** Row count of a level's full listing (a paged response's
    * `total_members`). The unrestricted count is memoized on the catalog —
    * the same entry COUNT(Members) uses for the property-less listing. */
  def levelMemberCount(cat: CubeCatalog, cube: CubeDef, ref: LevelRef,
      withProps: Boolean,
      roleFilter: Option[org.apache.spark.sql.Column]): Long = {
    def count() = levelMembersDf(cat, cube, ref, withProps, roleFilter).count()
    if (roleFilter.isDefined) count()
    else cat.cachedMemberCount((cube.name,
      levelId(Planner.resolve(cube, ref)) + (if (withProps) ".__props" else ""),
      ""))(count())
  }

  private def levelId(rl: Planner.ResolvedLevel): String =
    s"${rl.dim.name}.${rl.hier.name}.${rl.level.name}"

  /** Member lookup by key (ref api.rb:207-230 — there a linear scan; here a
    * filter on a CACHED per-level detail frame) + ancestor chain from the
    * same dim row. The detail frame carries the full ancestor chain plus a
    * precomputed num_children (ref C2 CHILDREN_CARDINALITY), so a lookup is
    * ONE Spark job over a persisted frame — not a row fetch plus a separate
    * distinct-count job per request. */
  def memberByKey(cat: CubeCatalog, cube: CubeDef, ref: LevelRef,
      key: Any,
      roleFilter: Option[org.apache.spark.sql.Column] = None)
      : Option[ListMap[String, Any]] = {
    val rl = Planner.resolve(cube, ref)
    // B18: an invisible member looks exactly like a missing one (404) —
    // one small existence probe against the dim frame, outside the
    // role-blind detail cache below
    roleFilter.foreach { f =>
      val src = rl.dim.join match {
        case Some(js) => cat.table(js.table)
        case None => cat.fact(cube)
      }
      if (src.where(expr(rl.level.keyExpr) === lit(key) && f).isEmpty)
        return None
    }
    val chain = rl.hier.levels.take(rl.depth + 1)
    val detail = cat.cachedMemberFrame((cube.name,
      s"${rl.dim.name}.${rl.hier.name}.${rl.level.name}.__detail", false)) {
      val src = rl.dim.join match {
        case Some(js) => cat.table(js.table)
        case None => cat.fact(cube)
      }
      val cols = chain.flatMap(l => Seq(expr(l.keyExpr).as(s"${l.alias}__k"),
        expr(l.nameExpr.getOrElse(l.keyExpr)).as(s"${l.alias}__c")))
      rl.hier.levels.lift(rl.depth + 1) match {
        case Some(childLevel) =>
          src.groupBy(cols: _*)
            .agg(countDistinct(expr(childLevel.keyExpr))
              .as("__num_children"))
        case None =>
          src.select(cols: _*).distinct()
            .withColumn("__num_children", lit(0L))
      }
    }
    // plain collect (not limit(1)): the filter leaves at most a handful of
    // rows, and executeTake's incremental partition scans would cost 1-3 jobs
    // depending on which shuffle partition holds the key — this is always one
    val rows = detail
      .where(col(s"${rl.level.alias}__k") === lit(key)).collect()
    rows.headOption.map { r =>
      val n = chain.length
      val numChildren: Long = r.getAs[Long]("__num_children")
      def dict(i: Int): ListMap[String, Any] = ListMap(
        "name" -> String.valueOf(r.get(2 * i + 1)),
        "full_name" -> s"[${rl.dim.name}].[${r.get(2 * i)}]",
        "caption" -> r.get(2 * i + 1),
        "key" -> r.get(2 * i),
        "level_name" -> chain(i).name,
        "depth" -> i)
      dict(n - 1) +
        ("num_children" -> numChildren) +
        ("ancestors" -> (0 until n - 1).reverse.map(dict))
    }
  }

  /** Children of a member: next-level members beneath it, in ordinal order
    * (ref C2 `children`, mondrian_ext.rb get_children). Empty at the leaf. */
  def memberChildren(cat: CubeCatalog, cube: CubeDef, ref: LevelRef,
      key: Any,
      roleFilter: Option[org.apache.spark.sql.Column] = None)
      : Seq[ListMap[String, Any]] = {
    val rl = Planner.resolve(cube, ref)
    rl.hier.levels.lift(rl.depth + 1) match {
      case None => Nil
      case Some(child) =>
        val src0 = rl.dim.join match {
          case Some(js) => cat.table(js.table)
          case None => cat.fact(cube)
        }
        val src = roleFilter.map(src0.filter).getOrElse(src0)
        src.where(expr(rl.level.keyExpr) === lit(key))
          .select(expr(child.keyExpr).as("key"),
            expr(child.nameExpr.getOrElse(child.keyExpr)).as("caption"),
            expr(child.ordExpr.getOrElse(child.keyExpr)).as("__ord"))
          .distinct().orderBy(col("__ord")).drop("__ord")
          .collect().toSeq.map { r =>
            ListMap[String, Any](
              "name" -> String.valueOf(r.get(1)),
              "full_name" -> s"[${rl.dim.name}].[${r.get(0)}]",
              "caption" -> r.get(1),
              "key" -> r.get(0),
              "level_name" -> child.name,
              "depth" -> (rl.depth + 1))
          }
    }
  }

  /** Member lookup by MDX-ish full name `[Dim].[Level].[key]` or
    * `[Dim].[Hier].[Level].[key]` (ref GET /cubes/:cube/members?full_name=,
    * api.rb:93-113). */
  def memberByFullName(cat: CubeCatalog, cube: CubeDef,
      fullName: String,
      roleFilterFor: LevelRef => Option[org.apache.spark.sql.Column] =
        _ => None): Option[ListMap[String, Any]] = {
    val segs = graft.planner.QueryParser.segments(fullName)
    segs match {
      case Seq(d, l, k) =>
        val ref = LevelRef(d, Some(l))
        memberByKey(cat, cube, ref,
          graft.planner.QueryParser.typedKey(k), roleFilterFor(ref))
      case Seq(d, h, l, k) =>
        val ref = LevelRef(d, Some(l), Some(h))
        memberByKey(cat, cube, ref,
          graft.planner.QueryParser.typedKey(k), roleFilterFor(ref))
      case _ => GraftException.badRequest(
        s"full_name '$fullName' must be [Dim].[Level].[key]")
    }
  }
}
