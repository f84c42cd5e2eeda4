package graft.planner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.CubeCatalog
import graft.model._

/** B18 — roles and access grants (ref Mondrian `<Role>`/`<SchemaGrant>`/
  * `<CubeGrant>`/`<HierarchyGrant>`/`<MemberGrant>`; mondrian-rest loads
  * schemas that may declare them but never surfaces a role over REST — here
  * the REST layer selects them with `role=`/`X-Graft-Role`).
  *
  * A request may carry SEVERAL roles (`role=a,b` — Mondrian's union role):
  * the connection sees the UNION of the grants, most-permissive-wins at
  * every layer, per Mondrian's documented union semantics:
  *
  *  - a cube is visible if ANY role sees it;
  *  - per hierarchy, effective access is the most permissive among the
  *    cube-visible roles ("all" > "custom" > "none") — a role whose cube
  *    grant carries no hierarchy restriction contributes "all", making the
  *    union unrestricted for that hierarchy;
  *  - under effective "custom": the level band is the union of the bands,
  *    member visibility is the OR of the per-role predicates, and the
  *    rollup policy is the most permissive present (full > partial >
  *    hidden — full shows complete rollups, hidden nulls them).
  *
  * Enforcement is split along Spark's execution model:
  *
  *  - cube/dimension/level access and the topLevel..bottomLevel band are
  *    plan-time checks → 403 before any job runs;
  *  - `partial` rollup policy compiles the member-visibility predicate into
  *    a filter on the joined fact frame, so Catalyst pushes it into the
  *    scans like any cut and every rollup (axis cells, totals, grand
  *    totals) aggregates visible members only;
  *  - `full` policy never filters the fact: axis membership is a
  *    broadcast-sized semi-join of the aggregated axis against the visible
  *    member list (dim-frame side), so ancestor cells keep their complete
  *    values while invisible members drop off the axis;
  *  - `hidden` policy additionally masks (nulls) any measure cell whose
  *    member subtree is not FULLY visible — a per-drilled-key
  *    `min(visible)` flag joined from the dim frame;
  *  - a CUT on a restricted hierarchy always intersects with the visible
  *    set, whatever the policy: a cut names members, and an invisible
  *    member behaves like a nonexistent one.
  *
  * Grants are per-hierarchy, like Mondrian's: a grant on Geography's
  * default hierarchy does not constrain a Weekly hierarchy of the same
  * dimension unless that hierarchy has its own grant.
  *
  * Degenerate dimensions (no dim table) evaluate the visibility predicate
  * over the fact itself; `partial` stays a pure scan filter, but `full`/
  * `hidden` membership lookups then cost a fact-side distinct — prefer
  * `partial` for degenerate dims at scale.
  */
object Roles {

  /** The resolved roles of one request — a single role or a Mondrian-style
    * union. `name` is normalized (sorted, comma-joined) so it can serve as
    * the cache-identity string on [[CubeQuery.role]]. */
  final case class RoleSet(roles: Seq[RoleDef]) {
    def name: String = roles.map(_.name).sorted.mkString(",")
    def cubeVisible(c: String): Boolean = roles.exists(_.cubeVisible(c))
  }

  /** Resolve a query's role selector: a role name, or a comma-separated
    * union of names. None/empty → unrestricted (a Mondrian connection with
    * no role). Unknown names are 403, not 404: the role list is itself
    * access-control metadata. */
  def resolve(schema: SchemaDef, selector: Option[String]): Option[RoleSet] =
    selector.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .map(names => RoleSet(names.map(n => schema.role(n).getOrElse(
        GraftException.forbidden(s"unknown role '$n'")))))

  def checkCubeAccess(rs: RoleSet, cubeName: String): Unit =
    if (!rs.cubeVisible(cubeName))
      GraftException.forbidden(
        s"role '${rs.name}' has no access to cube '$cubeName'")

  /** The grant ONE role holds on one hierarchy, if any. A grant with no
    * `hierarchy` names the dimension's DEFAULT hierarchy (and an
    * access="none" grant with no hierarchy denies the whole dimension). */
  def grantFor(role: RoleDef, cubeName: String, dim: DimensionDef,
      hier: HierarchyDef): Option[HierarchyGrantDef] =
    role.cubeGrant(cubeName).flatMap(_.hierarchyGrants.find(g =>
      g.dim == dim.name && (g.access == "none" && g.hierarchy.isEmpty ||
        g.hierarchy.getOrElse(dim.defaultHierarchy.name) == hier.name)))

  /** Effective union access of a role set on one hierarchy. */
  private sealed trait Eff
  private case object EffAll extends Eff
  private case object EffNone extends Eff
  private final case class EffCustom(dg: DimGrant) extends Eff

  private def effective(rs: RoleSet, cubeName: String, dim: DimensionDef,
      hier: HierarchyDef): Eff = {
    val visRoles = rs.roles.filter(_.cubeVisible(cubeName))
    val grants = visRoles.map(r => grantFor(r, cubeName, dim, hier))
    // a cube-visible role WITHOUT a grant on this hierarchy sees all of it
    if (grants.exists(g => g.forall(_.access == "all"))) EffAll
    else {
      val customs = grants.flatten.filter(_.access == "custom")
      if (customs.nonEmpty) EffCustom(DimGrant(dim, hier, customs))
      else EffNone
    }
  }

  /** The union of the custom grants bound to one hierarchy: band = union
    * of bands, membership = OR of predicates, policy = most permissive. */
  final case class DimGrant(dim: DimensionDef, hier: HierarchyDef,
      grants: Seq[HierarchyGrantDef]) {

    /** Most permissive rollup policy present (Mondrian union semantics):
      * full shows complete rollups, partial restricted ones, hidden nulls
      * them. */
    def policy: String =
      if (grants.exists(_.rollupPolicy == "full")) "full"
      else if (grants.exists(_.rollupPolicy == "partial")) "partial"
      else "hidden"

    /** Whether the union restricts MEMBERSHIP: one grant without member
      * grants makes its whole band visible, so the OR is unrestricted.
      * (Band-only grants restrict levels — a pure plan-time check.) */
    def restricts: Boolean = grants.forall(_.memberGrants.nonEmpty)

    /** Member-visibility predicate over any frame where the hierarchy's
      * level key expressions evaluate (the dim frame, or the joined
      * fact): the OR of each grant's CASE chain. Within one grant the
      * ordered member grants fold so the LAST matching entry wins
      * (Mondrian nested-grant override); anything no entry names is
      * denied. */
    def visibleCol: Column = visibleOn(l => expr(l.keyExpr))

    /** [[visibleCol]] with each level's key read through `key` — over a
      * member dictionary, whose columns are the levels' aliases. */
    def visibleOn(key: LevelDef => Column): Column =
      grants.map { g =>
        if (g.memberGrants.isEmpty) lit(true)
        else g.memberGrants.foldLeft(lit(false)) { (acc, mg) =>
          val lvlIdx = hier.levels.indexWhere(_.name == mg.level)
          if (lvlIdx < 0) GraftException.badRequest(
            s"member grant level '${mg.level}' not found in ${dim.name}.${hier.name}")
          val lvl = hier.levels(lvlIdx)
          // ancestor path (root→parent keys) confines the grant to its
          // declared branch: [Time].[1997].[Q1] must NOT also grant Q1 of
          // other years when the leaf key repeats across parents
          val anc = mg.path.takeRight(lvlIdx)
          val cond = anc.zip(hier.levels.slice(lvlIdx - anc.length, lvlIdx))
            .foldLeft(key(lvl).isin(mg.keys: _*)) {
              case (c, (k, al)) => c && key(al) === lit(k)
            }
          when(cond, lit(mg.access == "all")).otherwise(acc)
        }
      }.reduce(_ || _)

    /** Depth of the deepest level [[visibleOn]] reads: every member
      * grant's level (its ancestors sit above it). */
    def predicateDepth: Int = grants.flatMap(_.memberGrants)
      .map(mg => hier.levels.indexWhere(_.name == mg.level))
      .maxOption.getOrElse(-1)

    private def bandOf(g: HierarchyGrantDef): Range = {
      val top = g.topLevel.map(l => hier.levels.indexWhere(_.name == l))
        .getOrElse(0)
      val bottom = g.bottomLevel
        .map(l => hier.levels.indexWhere(_.name == l))
        .getOrElse(hier.levels.size - 1)
      top to bottom
    }

    /** Union band: the depths visible under ANY of the grants. */
    def bandDepths: Range =
      grants.map(bandOf).reduce((a, b) =>
        math.min(a.start, b.start) to math.max(a.end, b.end))

    def levelVisible(depth: Int): Boolean =
      grants.exists(g => bandOf(g).contains(depth))
  }

  /** The effective custom grants the role set holds on this cube's
    * hierarchies (hierarchies at effective "all" never appear;
    * effective-"none" hierarchies surface through [[validateLevels]] /
    * [[filteredCube]]). */
  def customGrants(rs: Option[RoleSet], cube: CubeDef): Seq[DimGrant] =
    rs.toSeq.flatMap { r =>
      for {
        dim <- cube.dimensions
        hier <- dim.hierarchies
        dg <- effective(r, cube.name, dim, hier) match {
          case EffCustom(g) => Some(g)
          case _ => None
        }
      } yield dg
    }

  /** Whether the role set can see this level at all: false for a denied
    * hierarchy or a level outside the union band. [[validateLevels]]'s
    * predicate without the throw — for surfaces that PROJECT AWAY denied
    * levels (star views) instead of 403ing the request. */
  def levelAccessible(rs: RoleSet, cube: CubeDef,
      rl: Planner.ResolvedLevel): Boolean =
    effective(rs, cube.name, rl.dim, rl.hier) match {
      case EffNone => false
      case EffCustom(dg) => dg.levelVisible(rl.depth)
      case EffAll => true
    }

  /** 403 any drill/cut/property level the role set cannot see: denied
    * hierarchy, or level outside the union band. */
  def validateLevels(rs: RoleSet, cube: CubeDef,
      levels: Seq[Planner.ResolvedLevel]): Unit =
    levels.foreach { rl =>
      effective(rs, cube.name, rl.dim, rl.hier) match {
        case EffNone =>
          GraftException.forbidden(
            s"role '${rs.name}' has no access to dimension '${rl.dim.name}'")
        case EffCustom(dg) if !dg.levelVisible(rl.depth) =>
          GraftException.forbidden(
            s"role '${rs.name}' cannot see level '${rl.level.name}' of '${rl.dim.name}'")
        case _ => ()
      }
    }

  /** Member-visibility predicate for metadata routes on one level, after
    * the 403 access/band checks — None when the level is effectively
    * unrestricted. */
  def memberFilter(rs: RoleSet, cube: CubeDef,
      rl: Planner.ResolvedLevel): Option[Column] = {
    validateLevels(rs, cube, Seq(rl))
    effective(rs, cube.name, rl.dim, rl.hier) match {
      case EffCustom(dg) if dg.restricts => Some(dg.visibleCol)
      case _ => None
    }
  }

  /** The frame member visibility evaluates over: the dimension table, or
    * the fact for degenerate dimensions. */
  def dimFrame(cat: CubeCatalog, cube: CubeDef, dg: DimGrant): DataFrame =
    dg.dim.join match {
      case Some(js) => cat.table(js.table)
      case None => cat.fact(cube)
    }

  /** Post-aggregation enforcement for `full`/`hidden` grants whose
    * dimension is on the axis, plus `hidden` masking for grants whose
    * dimension is NOT drilled (the rollup then spans invisible members →
    * null). `partial` grants need nothing here: their fact filter already
    * shaped every cell, and densify's domains were restricted at the
    * source.
    *
    * @param semiJoinMembership false in dense mode — densify built the
    *        axis from role-filtered member domains, so membership is
    *        already decided and a second semi-join would be wasted work
    */
  def applyPostAgg(cat: CubeCatalog, cube: CubeDef, df0: DataFrame,
      grants: Seq[DimGrant], groupLevels: Seq[Planner.ResolvedLevel],
      measureAliases: Seq[String], semiJoinMembership: Boolean): DataFrame =
    grants.filter(g => g.restricts && g.policy != "partial")
      .foldLeft(df0) { (df, dg) =>
        val drilled = groupLevels.filter(rl =>
          rl.dim.name == dg.dim.name && rl.hier.name == dg.hier.name)
        if (drilled.isEmpty) {
          // Undrilled hierarchy: every cell is a rollup across ALL its
          // members. full → show it; hidden → the rollup includes members
          // the grants withhold, so it is null. (A restricting grant set
          // is treated as restricting — deciding "the grants happen to
          // cover every member" would cost a data-side check on every
          // query for a vanishingly rare schema.)
          if (dg.policy == "hidden")
            measureAliases.foldLeft(df)((d, m) =>
              d.withColumn(m, lit(null).cast(d.schema(m).dataType)))
          else df
        } else {
          val keyAliases = drilled.map(_.level.alias)
          val keyCols = drilled.map(rl =>
            expr(rl.level.keyExpr).as(rl.level.alias))
          val src = dimFrame(cat, cube, dg)
          val membership =
            if (!semiJoinMembership) df
            else df.join(
              broadcast(src.filter(dg.visibleCol)
                .select(keyCols: _*).distinct()),
              keyAliases, "left_semi")
          if (dg.policy == "full") membership
          else {
            // hidden: null any cell whose deepest drilled member has an
            // invisible descendant — min(visible) over the subtree
            val completeness = src
              .groupBy(keyCols: _*)
              .agg(min(dg.visibleCol).as("__role_complete"))
            val joined = membership.join(broadcast(completeness),
              keyAliases, "left")
            measureAliases.foldLeft(joined)((d, m) =>
              d.withColumn(m, when(col("__role_complete"), col(m))
                .otherwise(lit(null).cast(d.schema(m).dataType))))
              .drop("__role_complete")
          }
        }
    }

  // ------------------------------------------------------------- metadata

  /** Cubes the role set may list (ref Mondrian SchemaGrant semantics). */
  def visibleCubes(schema: SchemaDef, rs: Option[RoleSet]): Seq[CubeDef] =
    rs match {
      case None => schema.cubes
      case Some(r) => schema.cubes.filter(c => r.cubeVisible(c.name))
    }

  def visibleVirtualCubes(schema: SchemaDef,
      rs: Option[RoleSet]): Seq[VirtualCubeDef] = rs match {
    case None => schema.virtualCubes
    case Some(r) => schema.virtualCubes.filter(v => r.cubeVisible(v.name))
  }

  /** The cube as the role set sees it: effectively-denied hierarchies
    * dropped (a dimension with none left disappears), custom bands
    * truncated to the union band. Serialization-side only — the planner
    * enforces on the original definition. */
  def filteredCube(rs: Option[RoleSet], cube: CubeDef): CubeDef =
    rs match {
      case None => cube
      case Some(r) =>
        val dims = cube.dimensions.flatMap { dim =>
          val hiers = dim.hierarchies.flatMap { h =>
            effective(r, cube.name, dim, h) match {
              case EffNone => None
              case EffCustom(dg) =>
                Some(h.copy(levels =
                  h.levels.zipWithIndex.collect {
                    case (l, i) if dg.levelVisible(i) => l
                  }))
              case EffAll => Some(h)
            }
          }
          if (hiers.isEmpty) None else Some(dim.copy(hierarchies = hiers))
        }
        cube.copy(dimensions = dims)
    }
}
