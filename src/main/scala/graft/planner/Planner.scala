package graft.planner

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  InterpretedOrdering, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.CubeCatalog
import graft.functions.ExactSum
import graft.model._

/** CubeQuery → DataFrame. The analog of the reference's
  * query_helper.rb build_query (REST params → MDX) + Mondrian's MDX→SQL step,
  * collapsed into one declarative plan:
  *
  *   fact ⋈ broadcast(dims) → cut filters → groupBy(levels) → agg(measures)
  *        → lag windows → calc members → HAVING → [densify] → ORDER → SUBSET
  *
  * Everything stays in the DataFrame API so Catalyst does predicate pushdown,
  * column pruning, partial aggregation and join selection (SURVEY §4.2). The
  * fixed FILTER→ORDER→SUBSET sequence mirrors query_helper.rb:278-296.
  */
object Planner {

  final case class ResolvedLevel(dim: DimensionDef, hier: HierarchyDef,
      level: LevelDef, depth: Int)

  def resolve(cube: CubeDef, ref: LevelRef): ResolvedLevel = {
    val dim = cube.dimension(ref.dim).getOrElse(
      GraftException.badRequest(s"dimension '${ref.dim}' not found in cube '${cube.name}'"))
    val hier = dim.hierarchy(ref.hierarchy).getOrElse(
      GraftException.badRequest(s"hierarchy '${ref.hierarchy.getOrElse("")}' not found in dimension '${ref.dim}'"))
    val level = ref.level match {
      case Some(l) => hier.level(l).getOrElse(
        GraftException.badRequest(s"level '$l' not found in ${ref.dim}.${hier.name}"))
      case None => hier.levels.head // default drilldown level (ref A2)
    }
    ResolvedLevel(dim, hier, level, hier.depthOf(level))
  }

  def plan(cat: CubeCatalog, q0: CubeQuery): DataFrame = {
    val q = resolveAdhocCounts(cat, q0)
    cat.schema.virtualCube(q.cube) match {
      case Some(vc) => planVirtual(cat, withAdhoc(vc, q), q)
      case None => planCube(cat, withAdhoc(cat.cube(q.cube), q), q)
    }
  }

  /** MDX `COUNT(<level>.Members)`: substitute the schema reader's member
    * count — role-visible members of the level, NOT slicer-filtered
    * (Mondrian semantics) — into the calc formulas as a literal. The count
    * is a per-(cube, level, role) constant, memoized on the catalog (the
    * member frame itself is executor-persisted; the count job runs once
    * per catalog lifetime and /flush drops it with everything else). */
  private def resolveAdhocCounts(cat: CubeCatalog, q: CubeQuery): CubeQuery =
    if (q.adhocCounts.isEmpty) q
    else {
      if (cat.schema.virtualCube(q.cube).nonEmpty)
        GraftException.badRequest(
          s"COUNT(Members) is not supported on virtual cube '${q.cube}'")
      val cube = cat.cube(q.cube)
      val rs = Roles.resolve(cat.schema, q.role)
      rs.foreach(Roles.checkCubeAccess(_, cube.name))
      val subst = q.adhocCounts.map { case (alias, ref) =>
        val rl = resolve(cube, ref)
        rs.foreach(Roles.validateLevels(_, cube, Seq(rl)))
        val n = cat.cachedMemberCount((cube.name,
          s"${rl.dim.name}.${rl.hier.name}.${rl.level.name}",
          rs.map(_.name).getOrElse(""))) {
          graft.result.Metadata.levelMembersDf(cat, cube, ref,
            withProps = false,
            roleFilter = rs.flatMap(Roles.memberFilter(_, cube, rl))).count()
        }
        alias -> n
      }
      q.copy(
        adhocCalcs = q.adhocCalcs.map(c => c.copy(formula =
          subst.foldLeft(c.formula) { case (f, (alias, n)) =>
            // word-bounded: one alias may be a strict prefix of another
            // (Month vs MonthName) — a plain replace would corrupt the
            // longer token
            f.replaceAll(
              "\\b" + java.util.regex.Pattern.quote(alias) + "\\b",
              s"CAST($n AS DOUBLE)")
          })),
        adhocCounts = Nil)
    }

  /** Merge query-scoped calc members (MDX WITH MEMBER) into the cube's
    * schema-declared ones; shadowing a declared measure is a client error. */
  private def withAdhoc(cube: CubeDef, q: CubeQuery): CubeDef =
    if (q.adhocCalcs.isEmpty && q.adhocLags.isEmpty && q.adhocTotals.isEmpty &&
        q.adhocCums.isEmpty && q.adhocMovings.isEmpty &&
        q.adhocRanks.isEmpty && q.adhocSetAggs.isEmpty &&
        q.adhocPinned.isEmpty)
      cube
    else {
      q.adhocCalcs.foreach { c =>
        if (cube.measure(c.alias).nonEmpty ||
            cube.calcMembers.exists(_.alias == c.alias) ||
            cube.lagMeasures.exists(_.alias == c.alias) ||
            cube.cumMeasures.exists(_.alias == c.alias))
          GraftException.badRequest(
            s"WITH MEMBER '${c.alias}' shadows a declared measure")
      }
      // tuple-navigation lags are parser-named (__mdx_lag_*) and deduped
      // there; an alias collision with a declared lag just reuses it
      val newLags = q.adhocLags.filterNot(l =>
        cube.lagMeasures.exists(_.alias == l.alias))
      val newTotals = q.adhocTotals.filterNot(t =>
        cube.totalMeasures.exists(_.alias == t.alias))
      val newCums = q.adhocCums.filterNot(c =>
        cube.cumMeasures.exists(_.alias == c.alias))
      val newMovings = q.adhocMovings.filterNot(m =>
        cube.movingMeasures.exists(_.alias == m.alias))
      val newRanks = q.adhocRanks.filterNot(r =>
        cube.rankMeasures.exists(_.alias == r.alias))
      val newSetAggs = q.adhocSetAggs.filterNot(a =>
        cube.setAggMeasures.exists(_.alias == a.alias))
      val newPinned = q.adhocPinned.filterNot(p =>
        cube.pinnedMeasures.exists(_.alias == p.alias))
      cube.copy(calcMembers = cube.calcMembers ++ q.adhocCalcs,
        lagMeasures = cube.lagMeasures ++ newLags,
        totalMeasures = cube.totalMeasures ++ newTotals,
        cumMeasures = cube.cumMeasures ++ newCums,
        movingMeasures = cube.movingMeasures ++ newMovings,
        rankMeasures = cube.rankMeasures ++ newRanks,
        setAggMeasures = cube.setAggMeasures ++ newSetAggs,
        pinnedMeasures = cube.pinnedMeasures ++ newPinned)
    }

  private def withAdhoc(vc: VirtualCubeDef, q: CubeQuery): VirtualCubeDef = {
    // tuple navigation needs a member cube's lag/total machinery; a virtual
    // cube only conforms axes — reject cleanly instead of planning a
    // formula whose synthesized alias no member cube can supply
    if (q.adhocLags.nonEmpty || q.adhocTotals.nonEmpty ||
        q.adhocCums.nonEmpty || q.adhocMovings.nonEmpty ||
        q.adhocRanks.nonEmpty || q.adhocSetAggs.nonEmpty ||
        q.adhocPinned.nonEmpty)
      GraftException.badRequest(
        s"tuple navigation (PrevMember/Lag/All/PeriodsToDate/LastPeriods/Rank/set aggregates/fixed-member tuples) is not supported on virtual cube '${vc.name}'")
    if (q.adhocCalcs.isEmpty) vc
    else {
      q.adhocCalcs.foreach { c =>
        if (vc.calcMembers.exists(_.alias == c.alias))
          GraftException.badRequest(
            s"WITH MEMBER '${c.alias}' shadows a declared measure")
      }
      vc.copy(calcMembers = vc.calcMembers ++ q.adhocCalcs)
    }
  }

  // ---------------------------------------------------------------- planCube

  /** A15: a named-set drilldown expands to its level's drilldown + a
    * set-membership cut. Returns (resolved drill levels, extra cuts). */
  def expandDrills(cube: CubeDef, drilldowns: Seq[Drill])
      : (Seq[ResolvedLevel], Seq[Cut]) = {
    val (drillRefs, nsDrillCuts) = drilldowns.foldLeft(
        (Vector.empty[LevelRef], Vector.empty[Cut])) {
      case ((ds, cs), LevelDrill(ref)) => (ds :+ ref, cs)
      case ((ds, cs), NamedSetDrill(name)) =>
        val ns = cube.namedSet(name).getOrElse(
          GraftException.badRequest(s"named set '$name' not found"))
        (ds :+ LevelRef(ns.dim, Some(ns.level)), cs :+ NamedSetCut(name))
    }
    (drillRefs.map(resolve(cube, _)), nsDrillCuts)
  }

  /** The axis columns of a query's result, in output order (with ancestor
    * levels when parents=true) — used by the result formatters. */
  def axisLevels(cube: CubeDef, q: CubeQuery): Seq[ResolvedLevel] = {
    val (drills, _) = expandDrills(cube, q.drilldowns)
    groupLevelList(cube, drills, q.parents)
  }

  /** Anchor cube for layout purposes (virtual cubes anchor on their first
    * member cube — conformed dims make the axis identical). */
  def anchorCube(cat: CubeCatalog, cubeName: String): CubeDef =
    cat.schema.virtualCube(cubeName) match {
      case Some(vc) => cat.cube(vc.cubeMeasures.head._1)
      case None => cat.cube(cubeName)
    }

  /** Parse-time view of a cube for the MDX surface. A virtual cube
    * presents its anchor's conformed dimensions plus EVERY measure the
    * virtual cube exposes — of any kind, pulled from its member cubes —
    * and its own cross-cube calc members, under the VIRTUAL cube's name.
    * With this view, `WITH MEMBER [Measures].[X] AS '[Sales]/[Shipped]'`
    * against a virtual cube resolves both sides at parse time and the
    * resulting ad-hoc calc compiles over the drill-across frame in
    * [[planVirtual]] (via [[withAdhoc]]), instead of 400ing at the FROM
    * check — the one MDX asymmetry a drill-across user hits. A plain
    * cube is returned unchanged. */
  def mdxView(cat: CubeCatalog, cubeName: String): CubeDef =
    cat.schema.virtualCube(cubeName) match {
      case Some(vc) =>
        val exposed = vc.cubeMeasures.flatMap { case (cn, aliases) =>
          val c = cat.cube(cn)
          aliases.map(a => (c, a))
        }
        def pick[T](sel: CubeDef => Seq[T], alias: T => String): Seq[T] =
          exposed.flatMap { case (c, a) => sel(c).find(alias(_) == a) }
            .distinctBy(alias)
        anchorCube(cat, cubeName).copy(
          name = vc.name,
          measures = pick(_.measures, (_: MeasureDef).alias),
          calcMembers = pick(_.calcMembers, (_: CalcMemberDef).alias) ++
            vc.calcMembers,
          lagMeasures = pick(_.lagMeasures, (_: LagMeasureDef).alias),
          cumMeasures = pick(_.cumMeasures, (_: CumMeasureDef).alias),
          totalMeasures = pick(_.totalMeasures,
            (_: TotalMeasureDef).alias),
          movingMeasures = pick(_.movingMeasures,
            (_: MovingMeasureDef).alias),
          rankMeasures = pick(_.rankMeasures, (_: RankMeasureDef).alias),
          setAggMeasures = pick(_.setAggMeasures,
            (_: SetAggMeasureDef).alias))
      case None => cat.cube(cubeName)
    }

  def planCube(cat: CubeCatalog, cube: CubeDef, q: CubeQuery): DataFrame = {
    val (drills, nsDrillCuts) = expandDrills(cube, q.drilldowns)
    val cuts = q.cuts ++ nsDrillCuts

    // B18 role grants: access checks are plan-time 403s; `partial` member
    // visibility becomes a fact filter (below), `full`/`hidden` post-agg
    // membership/masking (after densify).
    val qRole = Roles.resolve(cat.schema, q.role)
    qRole.foreach { r =>
      Roles.checkCubeAccess(r, cube.name)
      Roles.validateLevels(r, cube,
        drills ++ cuts.flatMap(levelOfCut(cube, _)) ++
          (q.properties ++ q.captions).map(p => resolve(cube, p.level)))
    }
    val roleGrants = Roles.customGrants(qRole, cube)
    // fact-filtered grants: `partial` policy always; ANY policy when the
    // query CUTS the granted hierarchy — a cut names members explicitly,
    // and an invisible member must behave like a nonexistent one (the
    // metadata routes 404 it), not leak its complete value because the
    // hierarchy happened not to be drilled. full/hidden semantics govern
    // what rollup CELLS show for visible members; they never authorize
    // addressing invisible ones.
    val partialGrants = roleGrants.filter(g => g.restricts &&
      (g.policy == "partial" ||
        cuts.exists(c => levelOfCut(cube, c).exists(rl =>
          rl.dim.name == g.dim.name && rl.hier.name == g.hier.name))))

    // A9 ascendant guard (ref api_spec.rb:154-157): a cut whose hierarchy
    // is on the axis must be CONSUMED by a drill at-or-below its level —
    // the reference folds such cuts into the axis set (query_helper.rb:
    // 234-246); one that can't fold stays in the slicer, where Mondrian
    // rejects the same-hierarchy axis/slicer collision. Drilling an
    // ancestor level ALONGSIDE an at-or-below drill is fine (Year.Members
    // crossjoined with the cut months).
    for (c <- cuts) levelOfCut(cube, c).foreach { cl =>
      val sameHier = drills.filter(d =>
        d.dim.name == cl.dim.name && d.hier.name == cl.hier.name)
      if (sameHier.nonEmpty && !sameHier.exists(_.depth >= cl.depth))
        GraftException.badRequest(
          s"drilldown on '${sameHier.head.level.name}' is above the cut level '${cl.level.name}' of ${cl.dim.name}")
    }

    val measureNames =
      if (q.measures.nonEmpty) q.measures
      else cube.defaultMeasure.toSeq
    val need = resolveMeasures(cube, measureNames ++
      q.order.toSeq.collect { case OrderSpec(OrderByMeasure(m), _) => m } ++
      q.filters.map(_.measure) ++ q.postFilters.map(_.measure) ++
      // GENERATE may rank by a measure that is not on COLUMNS — it must
      // ride the aggregation like an ORDER measure (dropped by the final
      // output projection)
      q.groupTop.map(_.measure))

    // Fixed-member tuples (B7-ext): resolve EACH pin of each tuple to a
    // concrete level (unqualified members search the hierarchy like
    // Mondrian's name lookup), then classify per pin on axis state —
    //   'f' dim ABSENT from the axis → fact-side conditional mask;
    //   'a' dim DRILLED AT the pinned level → axis-row selection (the
    //       tuple OVERRIDES the axis member: every row of an other-coords
    //       partition shows the pinned member's value);
    //   'c' pin COARSER than the drilled level of the same hierarchy
    //       (Year pin under a Month drill) → fact-side mask + a window
    //       that combines the drilled descendants' cells (Mondrian shows
    //       the ancestor's value on every descendant row).
    // Pins over distinct dims compose conjunctively. What still 400s,
    // deliberately: a cut on a pinned dimension (the tuple overrides the
    // slicer too — intersecting would silently return a wrong number), a
    // pin FINER than the drill (a finer member doesn't determine a value
    // per coarser row), and non-decomposable aggregates under a combine
    // (median / distinct-count can't be merged from descendant cells
    // without a second fact pass).
    val groupLevels = groupLevelList(cube, drills, q.parents)
    val pinnedPlans: Seq[PlannedPin] = need.pinned.map { pm =>
      val rps = pm.pins.map { ps =>
        val rl = resolvePinnedLevel(cat, cube, ps)
        if (cuts.exists(c =>
            levelOfCut(cube, c).exists(_.dim.name == ps.dim)))
          GraftException.badRequest(
            s"fixed-member tuple '${pm.alias}': dimension '${ps.dim}' is " +
              "also cut — Mondrian's tuple overrides the slicer member; " +
              "drop the cut or pin a different dimension")
        val dimDrills = drills.filter(_.dim.name == ps.dim)
        val state: Char =
          if (dimDrills.isEmpty) 'f'
          else {
            val finest = dimDrills.maxBy(_.depth)
            if (rl.level.name == finest.level.name &&
                rl.hier.name == finest.hier.name) 'a'
            else if (rl.hier.name == finest.hier.name &&
                rl.depth < finest.depth) 'c'
            else if (rl.hier.name == finest.hier.name)
              GraftException.badRequest(
                s"fixed-member tuple '${pm.alias}': '${ps.dim}' is " +
                  s"pinned at '${rl.level.name}', FINER than the drilled " +
                  s"level '${finest.level.name}' — a finer member does " +
                  "not determine one value per axis row; drill the " +
                  "pinned level or drop the drill")
            else GraftException.badRequest(
              s"fixed-member tuple '${pm.alias}': '${ps.dim}' is drilled " +
                s"at ${dimDrills.map(_.level.name).mkString("/")} but " +
                s"pinned at '${rl.level.name}' of hierarchy " +
                s"'${rl.hier.name}' — drill the pinned level or drop " +
                "the drill")
          }
        (ps, rl, state)
      }
      // combine: more than one axis row can satisfy the selection — a
      // coarser pin always merges its drilled descendants' cells, and an
      // at-level pin whose dim contributes MORE THAN ONE group column
      // set merges across the extra levels (the flattened member
      // [Month].[3] spans years whenever year is also on the axis —
      // whether drilled explicitly or added by parents=true, which is
      // why this counts GROUP levels, not query drills)
      val combine = rps.exists { case (ps, _, st) =>
        st == 'c' ||
          (st == 'a' && groupLevels.count(_.dim.name == ps.dim) > 1)
      }
      if ((rps.exists(_._3 != 'a') || combine) &&
          cube.measure(pm.base).isEmpty)
        GraftException.badRequest(
          s"fixed-member tuple '${pm.alias}': base '${pm.base}' must be " +
            "a base measure when a pinned dimension is off the axis or " +
            "pinned above the drill")
      if (combine) cube.measure(pm.base).get.agg match {
        case Agg.Sum | Agg.Avg | Agg.Count | Agg.CountAll | Agg.Min |
            Agg.Max => ()
        case other => GraftException.badRequest(
          s"fixed-member tuple '${pm.alias}': a pin above the drilled " +
            "level needs a decomposable aggregate (sum/avg/count/min/" +
            s"max); base '${pm.base}' aggregates with $other")
      }
      PlannedPin(pm, rps, combine)
    }
    // factOnly → one masked aggregate, no window; windowed → an axis
    // window (selection for at-level pins, combine for coarser ones)
    val (pinnedWindowed, pinnedFactOnly) =
      pinnedPlans.partition(_.pins.exists(_._3 != 'f'))
    // Navigation/window measures over a pinned measure (the mixed
    // nav+pin tuple) ride the pin's AGGREGATION-TIME column — every
    // window family runs before the pin windows, so a pin with an
    // on-axis dimension cannot feed one; 400 with the reason instead of
    // surfacing a missing-column analysis error.
    if (pinnedWindowed.nonEmpty) {
      val wAliases = pinnedWindowed.map(_.pm.alias).toSet
      (need.lags.map(l => l.alias -> l.base) ++
        need.cums.map(c => c.alias -> c.base) ++
        need.movings.map(m => m.alias -> m.base) ++
        need.totals.map(t => t.alias -> t.base) ++
        need.ranks.map(r => r.alias -> r.base) ++
        need.setAggs.map(a => a.alias -> a.base))
        .find { case (_, b) => wAliases(b) }
        .foreach { case (a, b) => GraftException.badRequest(
          s"'$a' windows over fixed-member tuple '$b', whose pinned " +
            "dimension is on the axis — navigating a tuple is supported " +
            "when every pinned dimension is off the axis (drop the " +
            "drill on the pinned dimension)") }
    }

    // a property named ONLY as an ORDER target (ref A11:
    // `ORDER(axis, [D].CurrentMember.Properties('X'))`) is computed
    // server-side without being projected, like Mondrian: it rides the
    // aggregation as an internal column and the final output select drops it
    val orderProps: Seq[PropertyRef] = q.order.toSeq.collect {
      case OrderSpec(OrderByLevel(ref, what), _)
          if !Seq("key", "caption", "ordinal").contains(what) =>
        PropertyRef(ref, what)
    }.filterNot(q.properties.contains)
    val carriedProps = q.properties ++ orderProps

    // ------------------------------------------------- join + filter + group
    val joined = joinNeededDims(cat, cube,
      drills.map(_.dim) ++ cuts.flatMap(levelOfCut(cube, _)).map(_.dim) ++
        carriedProps.map(p => resolve(cube, p.level).dim) ++
        need.lags.map(l => cube.dimension(l.timeDim).get) ++
        need.cums.map(c => cube.dimension(c.timeDim).get) ++
        need.movings.map(m => cube.dimension(m.timeDim).get) ++
        // a partial-policy grant filters the fact through its dim's level
        // key expressions, so the dim must be joined even when not drilled
        partialGrants.map(_.dim) ++
        // a fact-side pin conditions on its dim's level key expression
        // ('c' pins are drilled, so their dims are already in the list)
        pinnedPlans.flatMap(_.pins.collect {
          case (ps, _, 'f') => cube.dimension(ps.dim).get }))

    val groupCols: Seq[Column] = groupLevels.flatMap(levelCols)
    val groupAliases: Seq[String] = groupLevels.flatMap(levelAliases)

    // B8 domain-exact lag (ref foodmart.xml:351-366): PREVMEMBER /
    // PARALLELPERIOD / PeriodsToDate walk the HIERARCHY's member order, not
    // the present-rows axis — and a cut on the time dimension only selects
    // which members appear on the axis (the reference rewrites same-level
    // cuts into the axis set, query_helper.rb:234-246), so `(revenue,
    // PrevMember)` at the first cut member still references the member
    // BEFORE the cut. Cuts on a lag/cum time dimension are therefore
    // RELAXED during aggregation to the needed member domain (cut members +
    // lag predecessors + reset-group prefixes) and re-applied to the axis
    // after the windows run. Cuts below the drilled time grain cannot reach
    // here (the A9 ascendant guard 400s them).
    val lagTimeDims: Seq[String] =
      (need.lags.map(_.timeDim) ++ need.cums.map(_.timeDim) ++
        need.movings.map(_.timeDim)).distinct
    val (timeCuts, directCuts) =
      if (lagTimeDims.isEmpty) (Nil, cuts)
      else cuts.partition(c =>
        levelOfCut(cube, c).exists(rl => lagTimeDims.contains(rl.dim.name)))
    // a tuple set naming a lag/cum/moving time dim would pin the fact to
    // the listed members BEFORE the windows run — exactly the
    // previous-present-member aliasing the relaxed-cut machinery exists
    // to prevent, and a multi-dim tuple cannot ride that machinery (it
    // relaxes one dimension's domain at a time) — 400 with the reason
    if (lagTimeDims.nonEmpty)
      cuts.collect { case tc: TupleCut => tc }.foreach { tc =>
        tc.levels.map(resolve(cube, _))
          .find(rl => lagTimeDims.contains(rl.dim.name))
          .foreach(rl => GraftException.badRequest(
            s"a tuple-set axis on time dimension '${rl.dim.name}' " +
              "cannot combine with lag/cumulative/moving measures — " +
              "cut the time dimension directly instead"))
      }
    val timeDomains = lagTimeDims.map(dn =>
      lagTimeDomain(cat, cube, dn, groupLevels, timeCuts, need, q.role))

    val directFiltered =
      partialGrants.foldLeft(
        directCuts.foldLeft(joined)((df, c) =>
          applyCut(cat, cube, df, c, q.role))
      )((df, g) => df.filter(g.visibleCol))
    // restrict the fact to the needed time members (broadcast semi-join on
    // the drilled keys — the domain is dim-sized, so this is the IN-list
    // shape that prunes the scan, same as applyCut would have)
    val filtered = timeDomains.filter(_.hasCuts).foldLeft(directFiltered) {
      (df, td) =>
        val pref = td.dom.select(td.unit.map(rl =>
          col(rl.level.alias).as("__nd_" + rl.level.alias)): _*).distinct()
        val cond = td.unit.map(rl =>
          expr(rl.level.keyExpr) === col("__nd_" + rl.level.alias))
          .reduce(_ && _)
        df.join(broadcast(pref), cond, "left_semi")
    }

    // B17 aggregate-table routing: answer from a materialized rollup when
    // every axis/cut level and measure is covered (properties need the dim
    // row, so they disqualify). Decided here, above Catalyst — the fact scan
    // disappears from the plan entirely.
    val routedRollup =
      if (carriedProps.nonEmpty || q.captions.nonEmpty ||
          // a partial-policy role filter runs on the FACT's dim-joined
          // frame; a rollup has already aggregated past it — and a
          // fact-side pin (off-axis or coarser-than-drill) conditions on
          // a dim/level the rollup aggregated away → fact path only.
          // Pure at-level axis pins still route: their window runs on the
          // re-aggregated base alias.
          partialGrants.nonEmpty || pinnedFactOnly.nonEmpty ||
          pinnedWindowed.exists(pp =>
            pp.combine || pp.pins.exists(_._3 != 'a'))) None
      else Rollups.route(cat.rollups, cube, groupLevels, cuts, need.bases,
        dense = !q.nonempty)

    val propCols = carriedProps.map { p =>
      val rl = resolve(cube, p.level)
      if (!drills.exists(d => d.dim.name == rl.dim.name && d.level.name == rl.level.name))
        GraftException.badRequest(
          s"property '${p.property}' requires a drilldown on ${rl.dim.name}.${rl.level.name}")
      val prop = rl.level.properties.find(_.name == p.property).getOrElse(
        GraftException.badRequest(s"property '${p.property}' not found on level '${rl.level.name}'"))
      // properties are functionally dependent on the level key; min() is a
      // deterministic way to carry them through the aggregation (ref C4)
      min(expr(prop.expr)).as(prop.alias)
    } ++ q.captions.map { p => // C4 caption override: property value becomes
      // the member caption downstream (Formatters/AxesResult)
      val rl = resolve(cube, p.level)
      if (!drills.exists(d => d.dim.name == rl.dim.name && d.level.name == rl.level.name))
        GraftException.badRequest(
          s"caption '${p.property}' requires a drilldown on ${rl.dim.name}.${rl.level.name}")
      val prop = rl.level.properties.find(_.name == p.property).getOrElse(
        GraftException.badRequest(s"caption property '${p.property}' not found on level '${rl.level.name}'"))
      min(expr(prop.expr)).as(captionOverrideAlias(rl))
    }

    if (need.bases.isEmpty && propCols.isEmpty)
      GraftException.badRequest("no measures requested")
    val aggDf = routedRollup match {
      case Some(r) if need.bases.nonEmpty =>
        val rDirect = directCuts.foldLeft(r.df)((df, c) =>
          applyCutOnAliases(cat, cube, df, c, q.role))
        // relaxed time cuts: same needed-domain restriction, on the rollup's
        // alias columns (the drilled unit is covered by routing)
        val rFiltered = timeDomains.filter(_.hasCuts).foldLeft(rDirect) {
          (df, td) =>
            val keys = td.unit.map(_.level.alias)
            df.join(broadcast(td.dom.select(keys.map(col): _*).distinct()),
              keys, "left_semi")
        }
        val reAgg = need.bases.map(Rollups.reAggColumn)
        rFiltered.groupBy(groupAliases.map(col): _*)
          .agg(reAgg.head, reAgg.tail: _*)
      case _ =>
        val aggCols = need.bases.map(aggColumn) ++
          pinnedFactOnly.map(pp =>
            maskedAggColumn(cube.measure(pp.pm.base).get,
              pinFactMask(pp)).as(pp.pm.alias)) ++
          pinnedWindowed.filterNot(_.pureAxis)
            .flatMap(pp => pinnedPreCols(pp, cube)) ++
          propCols
        filtered.groupBy(groupCols: _*)
          .agg(aggCols.head, aggCols.tail: _*)
    }

    // ------------------------------------------------- lag + calc + having
    // Expand the aggregated axis to the full time-member domain before any
    // window runs: lag/cum measures then see every calendar member (filler
    // rows carry null bases), so a month absent from one partition cannot
    // silently alias "previous present month" to "previous member". Filler
    // rows are dropped again after the windows (nonempty) or kept for the
    // dense shape, where calc members evaluate on empty cells like Mondrian.
    val expanded =
      if (timeDomains.isEmpty) aggDf
      else {
        // §7.4 dragon 1's sibling: axis-distinct × calendar is bounded by
        // the drilled axis for every sane query, but a high-cardinality
        // non-time drilldown (customer × day) with a lag measure would
        // materialize the dense product unbounded — the same failure the
        // dense formatter guards with spark.graft.dense.maxCells, so the
        // SAME knob caps it here. The axis side counts from the agg output
        // (localCheckpoint'ed: the count job materializes the aggregation
        // ONCE and the expansion joins reuse it — the axis frame is
        // result-sized, the contract every formatter already assumes).
        val maxCells = maxCellsOf(cat)
        // FAST-PATH BOUND, resolved on the driver: (∏ member counts of
        // the non-time drilled levels, from their member dictionaries) ×
        // |dom| ≥ axis-distinct × |dom| for every time domain. Under the
        // cap — every sane query — the expansion runs the plain path: zero
        // extra jobs, no checkpoint, plan lineage intact (rollup routing
        // stays visible to plan inspection). Only a query whose BOUND
        // exceeds the cap (the customer × day shape) pays the exact
        // check: checkpoint the agg once, count the actual axis-distinct,
        // and 400 if the real product still exceeds the cap.
        def memberCountOf(rl: ResolvedLevel): Long =
          memberDomain(cat, cube, Seq(rl), Nil, None)._1.size.toLong
        def boundOf(td: TimeDomain): BigInt = {
          val unitAliases = td.unit.flatMap(levelAliases)
          groupLevels
            .filter(rl => !unitAliases.contains(rl.level.alias))
            .map(rl => BigInt(memberCountOf(rl))).product * td.size
        }
        val boundedByDims = timeDomains.forall(boundOf(_) <= maxCells)
        val base = aggDf.withColumn("__present", lit(1))
        timeDomains.foldLeft(
            if (boundedByDims) base
            else base.localCheckpoint()) { (df, td) =>
          val unitAliases = td.unit.flatMap(levelAliases)
          val otherAliases = groupAliases.filterNot(unitAliases.contains)
          val dom = broadcast(if (td.hasCuts) td.dom
            else td.dom.drop(td.cutFlag))
          // (expansion, the cell count its guard computed)
          val (full, cells) =
            if (otherAliases.isEmpty) (dom, boundOf(td))
            else if (boundedByDims)
              (df.select(otherAliases.map(col): _*).distinct().crossJoin(dom),
                boundOf(td))
            else {
              val others = df.select(otherAliases.map(col): _*).distinct()
                .localCheckpoint()
              val cells = BigInt(others.count()) * td.size
              if (cells > maxCells)
                GraftException.badRequest(
                  s"time-window expansion would enumerate $cells cells " +
                    s"(axis × calendar; limit $maxCells; raise " +
                    "spark.graft.dense.maxCells or cut the time range / " +
                    "drop the lag measure)")
              (others.crossJoin(dom), cells)
            }
          // the agg side is ≤ the cell count — broadcast it when that fits
          // the session's broadcast budget, so the expansion is a
          // BroadcastHashJoin, not an exchange + sort of both sides (same
          // rationale as the densify fill join)
          full.join(broadcastIfSmall(df, cells),
            unitAliases ++ otherAliases, "left")
        }
      }
    val withLags = need.lags.foldLeft(expanded) { (df, lm) =>
      applyLag(cube, df, lm, drills, groupLevels)
    }
    val withCums = need.cums.foldLeft(withLags) { (df, cm) =>
      applyCum(cube, df, cm, drills, groupLevels)
    }
    val withMovings = need.movings.foldLeft(withCums) { (df, mm) =>
      applyMoving(df, mm, drills, groupLevels)
    }
    // ALL-member totals sum only the axis-VISIBLE cells: filler rows carry
    // null bases already, and members present purely for lag windows
    // (relaxed cuts) are masked out — then every row (fillers included, for
    // dense shapes) carries its partition's total, like lag values do.
    val totalVisible: Column = {
      val conds = timeDomains.filter(_.hasCuts).map(td =>
        col(td.cutFlag) === 1) ++
        (if (timeDomains.nonEmpty) Seq(col("__present") === 1) else Nil)
      conds.foldLeft(lit(true))(_ && _)
    }
    val withTotals = need.totals.foldLeft(withMovings) { (df, tm) =>
      applyTotal(df, tm, groupLevels, totalVisible)
    }
    val withRanks = need.ranks.foldLeft(withTotals) { (df, rm) =>
      applyRank(df, rm, groupLevels, totalVisible)
    }
    val withSetAggs = need.setAggs.foldLeft(withRanks) { (df, am) =>
      applySetAgg(df, am, groupLevels, totalVisible)
    }
    // axis-touching pins: ONE axis-sized window per pinned measure,
    // partitioned by the non-pinned drilled columns. Pure at-level pins
    // SELECT — exactly one row of the partition carries the pinned
    // member combination, and max() past the other rows' nulls
    // broadcasts its value (the tuple-overrides-axis-member semantics);
    // a tuple with fact-side pins selects its pre-masked aggregate the
    // same way; a combine (coarser pin / multi-level drill) merges the
    // descendant cells' pre-aggregates with the measure's own
    // decomposition (decimal window sum for exact Sum/Avg, min/max for
    // Min/Max), so the window result is bit-identical to aggregating
    // the pinned slice directly.
    val withPinned = pinnedWindowed.foldLeft(withSetAggs) { (df, pp) =>
      val partCols = groupLevels
        .filterNot(rl => pp.dims.contains(rl.dim.name))
        .flatMap(levelAliases).map(col)
      val w = Window.partitionBy(partCols: _*)
      val selCond = pp.pins.collect { case (ps, rl, 'a') =>
        col(rl.level.alias) === lit(ps.key) }
        .foldLeft(totalVisible)(_ && _)
      if (pp.pureAxis)
        df.withColumn(pp.pm.alias,
          max(when(selCond, col(pp.pm.base))).over(w))
      else
        df.withColumn(pp.pm.alias,
          pinFinishColumn(pp, cube.measure(pp.pm.base).get, selCond, w))
    }
    val withCalcs = need.calcs.foldLeft(withPinned) { (df, cm) =>
      df.withColumn(cm.alias, expr(cm.formula))
    }
    // re-apply the relaxed time cuts to the axis, then drop the filler
    // members (nonempty) — dense queries keep them so lag/calc values
    // survive onto empty cells
    val cutBack = timeDomains.filter(_.hasCuts).foldLeft(withCalcs) {
      (df, td) => df.filter(col(td.cutFlag) === 1).drop(td.cutFlag)
    }
    val unfilled =
      if (timeDomains.isEmpty) cutBack
      else if (q.nonempty) cutBack.filter(col("__present") === 1)
        .drop("__present")
      else cutBack.drop("__present")
    val havingDf = q.filters.foldLeft(unfilled) { (df, f) =>
      val a = aliasOfMeasure(cube, f.measure)
      df.filter(comparison(col(a), f.op, f.value))
    }

    // ------------------------------------------------- densify (dense axes)
    val denseDf =
      if (q.nonempty) havingDf
      else densify(cat, cube, havingDf, drills, groupLevels, cuts, q.parents,
        roleGrants, q.role)

    // Dense filler cells still carry their partition's ALL-member total —
    // Mondrian's `(M, [Dim].[All])` evaluates on empty cells (ratio calcs
    // stay null there because the base is null, matching empty-cell
    // arithmetic). The backfill window is axis-sized: max() over the
    // partition picks the constant total past the fillers' nulls.
    val denseTotals =
      if (q.nonempty || need.totals.isEmpty) denseDf
      else need.totals.foldLeft(denseDf) { (df, tm) =>
        if (groupLevels.forall(_.dim.name != tm.dim)) df
        else {
          val partCols = groupLevels.filterNot(_.dim.name == tm.dim)
            .flatMap(levelAliases).map(col)
          df.withColumn(tm.alias,
            max(col(tm.alias)).over(Window.partitionBy(partCols: _*)))
        }
      }
    // Set aggregates are partition-constant like totals — the same max()
    // backfill carries them onto dense fillers. Ranks vary per row: empty
    // cells all sort after every non-empty one and tie among themselves
    // (null-base equality under RANK), i.e. rank = #non-empty + 1.
    val denseWindows =
      if (q.nonempty || (need.setAggs.isEmpty && need.ranks.isEmpty &&
          pinnedWindowed.isEmpty))
        denseTotals
      else {
        val withSA0 = need.setAggs.foldLeft(denseTotals) { (df, am) =>
          val partCols = groupLevels.filterNot(_.dim.name == am.dim)
            .flatMap(levelAliases).map(col)
          df.withColumn(am.alias,
            max(col(am.alias)).over(Window.partitionBy(partCols: _*)))
        }
        // axis pins are partition-constant like set aggregates — the same
        // max() backfill carries them onto dense fillers (partition by
        // the non-pinned dims, exactly the window that computed them)
        val withSA = pinnedWindowed.foldLeft(withSA0) { (df, pp) =>
          val partCols = groupLevels
            .filterNot(rl => pp.dims.contains(rl.dim.name))
            .flatMap(levelAliases).map(col)
          df.withColumn(pp.pm.alias,
            max(col(pp.pm.alias)).over(Window.partitionBy(partCols: _*)))
        }
        need.ranks.foldLeft(withSA) { (df, rm) =>
          val partCols = groupLevels.filterNot(_.dim.name == rm.dim)
            .flatMap(levelAliases).map(col)
          val w = Window.partitionBy(partCols: _*)
          df.withColumn(rm.alias,
            when(col(rm.alias).isNotNull, col(rm.alias))
              .otherwise(count(col(rm.base)).over(w) + 1))
        }
      }

    // B18 full/hidden grants: axis membership (semi-join, nonempty mode —
    // dense axes already built from role-filtered member domains) and
    // hidden-policy cell masking.
    val roleApplied =
      if (roleGrants.forall(g =>
          !g.restricts || g.policy == "partial")) denseWindows
      else Roles.applyPostAgg(cat, cube, denseWindows, roleGrants,
        groupLevels, measureNames.map(aliasOfMeasure(cube, _)),
        semiJoinMembership = q.nonempty)

    val sparseDf =
      if (q.sparse) { // C6 — implemented for real (dead param in the reference)
        val ms = measureNames.map(aliasOfMeasure(cube, _))
        roleApplied.filter(ms.map(col(_).isNotNull).reduce(_ || _))
      } else roleApplied

    // Explicit tuple-set axes, re-applied AFTER densification: the
    // per-level SetCuts bounded the dense member domains, and this trims
    // their cross product to exactly the LISTED combinations — dense
    // shapes keep listed-but-empty tuples as null cells, unlisted
    // combinations never appear. (The same cut already pruned the fact
    // scan through applyCut; this pass is axis-sized.)
    val tupleFiltered = q.cuts.collect { case tc: TupleCut => tc }
      .foldLeft(sparseDf) { (df, tc) =>
        tc.levels.map(resolve(cube, _)).foreach { rl =>
          if (!drills.exists(d => d.dim.name == rl.dim.name &&
              d.level.name == rl.level.name))
            GraftException.badRequest(
              s"tuple-set axis level ${rl.dim.name}.${rl.level.name} " +
                "must be drilled")
        }
        df.filter(tupleCutPredicate(cube, tc, rl => col(rl.level.alias)))
      }

    // ------------------------------------------------- order, subset, select
    val outputCols: Seq[String] =
      groupLevels.flatMap(outputAliases) ++
        q.properties.map(p => propAlias(cube, p)) ++
        q.captions.map(p => captionOverrideAlias(resolve(cube, p.level))) ++
        measureNames.map(aliasOfMeasure(cube, _))
    finishAxis(cat, cube, tupleFiltered, q, drills, groupLevels, outputCols)
  }

  // ------------------------------------------------------------ virtual cube

  /** Drill-across (ref B10): aggregate each member cube on the same conformed
    * drilldowns, full-outer join on the axis columns, derive cross-cube calc
    * members. USING-column outer join coalesces the axis keys. */
  def planVirtual(cat: CubeCatalog, vc: VirtualCubeDef, q: CubeQuery): DataFrame = {
    // B18: the virtual cube itself must be visible; member-cube grants are
    // enforced by each planCube call (role rides the sub-queries below)
    Roles.resolve(cat.schema, q.role)
      .foreach(Roles.checkCubeAccess(_, vc.name))
    val requested =
      if (q.measures.nonEmpty) q.measures
      else vc.cubeMeasures.flatMap(_._2)
    val calcNeeded = vc.calcMembers.filter(c => requested.contains(c.alias))
    // a calc may only reference measures the virtual cube EXPOSES — a
    // member cube's lag/total/calc alias that isn't in cubeMeasures would
    // otherwise vanish from baseNeeded and die in expression analysis
    val exposed = vc.cubeMeasures.flatMap(_._2).toSet ++
      vc.calcMembers.map(_.alias)
    val memberAliases = vc.cubeMeasures.flatMap { case (cn, _) =>
      val c = cat.cube(cn)
      c.measures.map(_.alias) ++ c.lagMeasures.map(_.alias) ++
        c.cumMeasures.map(_.alias) ++ c.totalMeasures.map(_.alias) ++
        c.movingMeasures.map(_.alias) ++ c.calcMembers.map(_.alias)
    }.toSet
    calcNeeded.foreach { cm =>
      (memberAliases -- exposed).find(a => referencesAlias(cm.formula, a))
        .foreach(a => GraftException.badRequest(
          s"measure '$a' referenced by '${cm.alias}' is not exposed by virtual cube '${vc.name}'"))
    }
    val baseNeeded = (requested.filterNot(calcNeeded.map(_.alias).contains) ++
      calcNeeded.flatMap(c => vc.cubeMeasures.flatMap(_._2)
        .filter(a => referencesAlias(c.formula, a)))).distinct

    val parts = vc.cubeMeasures.flatMap { case (cubeName, ms) =>
      val sub = ms.filter(baseNeeded.contains)
      if (sub.isEmpty) None
      else {
        val cube = cat.cube(cubeName)
        // conformed-dimension check: every drill dim must exist in this cube
        q.drilldowns.foreach {
          case LevelDrill(ref) if cube.dimension(ref.dim).isEmpty =>
            GraftException.badRequest(
              s"dimension '${ref.dim}' is not conformed across virtual cube '${vc.name}'")
          case _ => ()
        }
        val cuts = q.cuts.filter {
          // A named-set cut must filter EVERY participating member cube, or
          // the drill-across result is silently unfiltered on one side —
          // resolve it here and 400 if this cube can't (ref A7 semantics).
          case NamedSetCut(nm) =>
            val ns = cube.namedSet(nm).getOrElse(GraftException.badRequest(
              s"named set '$nm' is not defined in member cube '${cube.name}'" +
                s" of virtual cube '${vc.name}'"))
            if (cube.dimension(ns.dim).isEmpty) GraftException.badRequest(
              s"named set '$nm' uses dimension '${ns.dim}' which is not" +
                s" conformed in member cube '${cube.name}' of virtual cube" +
                s" '${vc.name}'")
            true
          case c => levelRefOfCut(c).exists(r => cube.dimension(r.dim).nonEmpty)
        }
        Some(planCube(cat, cube,
          CubeQuery(cubeName, q.drilldowns, sub, cuts, role = q.role)))
      }
    }
    if (parts.isEmpty) GraftException.badRequest("no measures requested")

    val cube0 = cat.cube(vc.cubeMeasures.head._1)
    val drills = q.drilldowns.collect { case LevelDrill(r) => resolve(cube0, r) }
    val groupLevels = groupLevelList(cube0, drills, q.parents)
    val axisCols = groupLevels.flatMap(outputAliases)
    val merged = parts.reduce { (l, r) =>
      if (axisCols.isEmpty) l.crossJoin(r)
      else l.join(r, axisCols, "full_outer")
    }
    val withCalcs = calcNeeded.foldLeft(merged) { (df, cm) =>
      df.withColumn(cm.alias, expr(cm.formula))
    }
    val havingDf = q.filters.foldLeft(withCalcs) { (df, f) =>
      df.filter(comparison(col(f.measure), f.op, f.value))
    }
    finishAxis(cat, cube0, havingDf, q, drills, groupLevels,
      axisCols ++ requested)
  }

  // ---------------------------------------------------------------- helpers

  private final case class NeededMeasures(bases: Seq[MeasureDef],
      lags: Seq[LagMeasureDef], cums: Seq[CumMeasureDef],
      totals: Seq[TotalMeasureDef], movings: Seq[MovingMeasureDef],
      ranks: Seq[RankMeasureDef], setAggs: Seq[SetAggMeasureDef],
      pinned: Seq[PinnedMeasureDef], calcs: Seq[CalcMemberDef])

  /** Expand requested measure aliases to (base, lag, cum, calc) closure. Calc
    * formulas may reference base, lag, cum, and earlier calc aliases. */
  private def resolveMeasures(cube: CubeDef, names: Seq[String]): NeededMeasures = {
    var bases = Set.empty[String]; var lags = Set.empty[String]
    var cums = Set.empty[String]; var calcs = Set.empty[String]
    var totals = Set.empty[String]; var movings = Set.empty[String]
    var ranks = Set.empty[String]; var setAggs = Set.empty[String]
    var pinned = Set.empty[String]
    def visit(n: String): Unit =
      cube.measure(n) match {
        case Some(m) => bases += m.alias
        case None =>
          cube.lagMeasures.find(_.alias == n) match {
            case Some(lm) => if (!lags(n)) { lags += n; visit(lm.base) }
            case None =>
              cube.cumMeasures.find(_.alias == n) match {
                case Some(cm) => if (!cums(n)) { cums += n; visit(cm.base) }
                case None =>
                  cube.totalMeasures.find(_.alias == n) match {
                    case Some(tm) =>
                      if (!totals(n)) { totals += n; visit(tm.base) }
                    case None =>
                  cube.movingMeasures.find(_.alias == n) match {
                    case Some(mm) =>
                      if (!movings(n)) { movings += n; visit(mm.base) }
                    case None =>
                  cube.rankMeasures.find(_.alias == n) match {
                    case Some(rm) =>
                      if (!ranks(n)) {
                        if (cube.calcMembers.exists(_.alias == rm.base))
                          GraftException.badRequest(
                            s"Rank base '${rm.base}' is a calculated " +
                              s"member — not supported")
                        ranks += n; visit(rm.base)
                      }
                    case None =>
                  cube.setAggMeasures.find(_.alias == n) match {
                    case Some(am) =>
                      if (!setAggs(n)) {
                        if (cube.calcMembers.exists(_.alias == am.base))
                          GraftException.badRequest(
                            s"set-aggregate base '${am.base}' is a " +
                              s"calculated member — not supported")
                        setAggs += n; visit(am.base)
                      }
                    case None =>
                  cube.pinnedMeasures.find(_.alias == n) match {
                    case Some(pm) =>
                      if (!pinned(n)) {
                        if (cube.calcMembers.exists(_.alias == pm.base))
                          GraftException.badRequest(
                            s"fixed-member tuple base '${pm.base}' is a " +
                              s"calculated member — not supported")
                        pinned += n; visit(pm.base)
                      }
                    case None =>
                  cube.calcMembers.find(_.alias == n) match {
                    case Some(cm) =>
                      if (!calcs(n)) {
                        calcs += n
                        val deps = (cube.measures.map(_.alias) ++
                          cube.lagMeasures.map(_.alias) ++
                          cube.cumMeasures.map(_.alias) ++
                          cube.totalMeasures.map(_.alias) ++
                          cube.movingMeasures.map(_.alias) ++
                          cube.rankMeasures.map(_.alias) ++
                          cube.setAggMeasures.map(_.alias) ++
                          cube.pinnedMeasures.map(_.alias) ++
                          cube.calcMembers.map(_.alias))
                          .filter(a => a != n && referencesAlias(cm.formula, a))
                        deps.foreach(visit)
                      }
                    case None =>
                      GraftException.badRequest(s"measure '$n' not found in cube '${cube.name}'")
                  }
                  }
                  }
                  }
                  }
                  }
              }
          }
      }
    names.foreach(visit)
    NeededMeasures(
      cube.measures.filter(m => bases(m.alias)),
      cube.lagMeasures.filter(l => lags(l.alias)),
      cube.cumMeasures.filter(c => cums(c.alias)),
      cube.totalMeasures.filter(t => totals(t.alias)),
      cube.movingMeasures.filter(m => movings(m.alias)),
      cube.rankMeasures.filter(r => ranks(r.alias)),
      cube.setAggMeasures.filter(a => setAggs(a.alias)),
      cube.pinnedMeasures.filter(p => pinned(p.alias)),
      cube.calcMembers.filter(c => calcs(c.alias))) // declaration order
  }

  private def referencesAlias(formula: String, alias: String): Boolean =
    ("\\b" + java.util.regex.Pattern.quote(alias) + "\\b").r
      .findFirstIn(formula).isDefined

  def aliasOfMeasure(cube: CubeDef, name: String): String =
    cube.measure(name).map(_.alias)
      .orElse(cube.lagMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.cumMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.totalMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.movingMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.rankMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.setAggMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.pinnedMeasures.find(_.alias == name).map(_.alias))
      .orElse(cube.calcMembers.find(_.alias == name).map(_.alias))
      .getOrElse(GraftException.badRequest(s"measure '$name' not found"))

  /** Aggregation column for a measure. `exact` Sum/Avg sum the value with
    * [[graft.functions.ExactSum]], which returns what summing its
    * DECIMAL(27,6) cast returns, in integer arithmetic → exact,
    * order-independent sums: identical results across partial-aggregation
    * orders (local[32] vs 1000 executors) and vs the DuckDB oracle. */
  private def aggColumn(m: MeasureDef): Column =
    maskedAggColumn(m, None).as(m.alias)

  /** ONE aggregation recipe for base measures (no mask) and fixed-member
    * pins (the member predicate masked into every input) — a single
    * source of truth for the exactness-critical parts (the exact DECIMAL
    * sum, the Median percentile), so the pinned variant cannot
    * silently diverge from the base measure it claims to restrict. */
  private def maskedAggColumn(m: MeasureDef, mask: Option[Column]): Column = {
    def mc(c: Column) = mask.map(p => when(p, c)).getOrElse(c)
    def me = mc(expr(m.expr))
    def exactSum = ExactSum.exactSum(me).cast("double")
    m.agg match {
      case Agg.Sum if m.exact => exactSum
      case Agg.Sum => sum(me)
      case Agg.Avg if m.exact => exactSum / count(me)
      case Agg.Avg => avg(me)
      case Agg.Count => count(me)
      case Agg.CountAll => count(mc(lit(1)))
      case Agg.Min => min(me)
      case Agg.Max => max(me)
      case Agg.DistinctCount => countDistinct(me)
      // Datasketches HLL, not approx_count_distinct: the sketch's register-
      // wise-max union is lossless and partitioning-independent, so the same
      // measure answered from a rollup's stored sketches (Rollups B17) or
      // straight off the fact gives the SAME estimate — the property that
      // makes distinct-count rollup-able at 100 TB.
      case Agg.ApproxDistinctCount =>
        hll_sketch_estimate(hll_sketch_agg(me))
      // exact continuous-interpolation percentile — bit-identical to
      // DuckDB's quantile_cont (validated empirically); non-additive, so
      // rollup routing bypasses it like exact distinct-count
      case Agg.Median => percentile(me, lit(0.5))
    }
  }

  /** One fixed-member tuple measure as planned: each pin resolved to a
    * concrete level and classified by axis state ('f' off-axis, 'a'
    * drilled at the pinned level, 'c' pinned coarser than the drill);
    * `combine` marks tuples whose window must MERGE descendant cells
    * rather than select one row. */
  private final case class PlannedPin(pm: PinnedMeasureDef,
      pins: Seq[(PinSpec, ResolvedLevel, Char)], combine: Boolean) {
    /** Dimensions the tuple pins — excluded from its window partition. */
    def dims: Set[String] = pins.map(_._1.dim).toSet
    /** All pins at the drilled level, nothing to merge: the q95 path —
      * one selection window over the base measure's own alias. */
    def pureAxis: Boolean = pins.forall(_._3 == 'a') && !combine
  }

  /** Conjunction of the tuple's fact-side member predicates (off-axis and
    * coarser-than-drill pins); None when every pin is at the drilled
    * level. Typed `expr === lit` comparisons — the same form every cut
    * uses, so string keys need no SQL-literal escaping. */
  private def pinFactMask(pp: PlannedPin): Option[Column] =
    pp.pins.collect { case (ps, rl, st) if st != 'a' =>
      expr(rl.level.keyExpr) === lit(ps.key) }
      .reduceOption(_ && _)

  private def pinPre(alias: String) = s"__pinpre_$alias"
  private def pinPre2(alias: String) = s"__pinpre2_$alias"

  /** Aggregation-stage columns for a windowed pinned measure that needs
    * fact-side masking. Without a combine, ONE pre column: the full
    * [[maskedAggColumn]] recipe (any aggregate, Median included — the
    * window only selects). With a combine, the measure's DECOMPOSITION:
    * exact Sum/Avg keep their DECIMAL(37,6) partial sums UNQUANTIZED to
    * double until after the window merge, so the merged value is
    * bit-identical to aggregating the pinned slice in one pass (decimal
    * addition is associative; a per-cell double hop would not be). */
  private def pinnedPreCols(pp: PlannedPin, cube: CubeDef): Seq[Column] = {
    val m = cube.measure(pp.pm.base).get
    val mask = pinFactMask(pp)
    def mc(c: Column) = mask.map(p => when(p, c)).getOrElse(c)
    if (!pp.combine)
      Seq(maskedAggColumn(m, mask).as(pinPre(pp.pm.alias)))
    else {
      def me = mc(expr(m.expr))
      def decSum = ExactSum.exactSum(me)
      m.agg match {
        case Agg.Sum if m.exact => Seq(decSum.as(pinPre(pp.pm.alias)))
        case Agg.Sum => Seq(sum(me).as(pinPre(pp.pm.alias)))
        case Agg.Avg if m.exact =>
          Seq(decSum.as(pinPre(pp.pm.alias)),
            count(me).as(pinPre2(pp.pm.alias)))
        case Agg.Avg =>
          Seq(sum(me).as(pinPre(pp.pm.alias)),
            count(me).as(pinPre2(pp.pm.alias)))
        case Agg.Count => Seq(count(me).as(pinPre(pp.pm.alias)))
        case Agg.CountAll => Seq(count(mc(lit(1))).as(pinPre(pp.pm.alias)))
        case Agg.Min => Seq(min(me).as(pinPre(pp.pm.alias)))
        case Agg.Max => Seq(max(me).as(pinPre(pp.pm.alias)))
        case other => throw new IllegalStateException(
          s"non-decomposable $other under a combine — guarded at classify")
      }
    }
  }

  /** Window-stage column for a windowed pinned measure with fact-side
    * pre-aggregates: selection (max past nulls — at most one row matches
    * `selCond`) without a combine; the aggregate's own merge with one —
    * Sum/Count sum the cells (exact Sum in DECIMAL, double-cast after),
    * Avg divides merged sum by merged count, Min/Max fold. */
  private def pinFinishColumn(pp: PlannedPin, m: MeasureDef,
      selCond: Column, w: org.apache.spark.sql.expressions.WindowSpec)
      : Column = {
    val pre = when(selCond, col(pinPre(pp.pm.alias)))
    def pre2 = when(selCond, col(pinPre2(pp.pm.alias)))
    if (!pp.combine) max(pre).over(w)
    else m.agg match {
      case Agg.Sum if m.exact => sum(pre).over(w).cast("double")
      case Agg.Sum => sum(pre).over(w)
      case Agg.Avg if m.exact =>
        sum(pre).over(w).cast("double") / sum(pre2).over(w)
      case Agg.Avg => sum(pre).over(w) / sum(pre2).over(w)
      case Agg.Count | Agg.CountAll => sum(pre).over(w)
      case Agg.Min => min(pre).over(w)
      case Agg.Max => max(pre).over(w)
      case other => throw new IllegalStateException(
        s"non-decomposable $other under a combine — guarded at classify")
    }
  }

  /** Resolve a pinned member's level: explicit names resolve directly; an
    * unqualified member ([Time].[1997]) searches the default hierarchy's
    * levels top-down for the first whose key domain contains the key —
    * Mondrian's member-name lookup. Each probe is one LIMIT-1 lookup on
    * the dim table, memoized per catalog (the navKeyValue discipline). */
  private def resolvePinnedLevel(cat: CubeCatalog, cube: CubeDef,
      pm: PinSpec): ResolvedLevel = {
    val hierOpt = Some(pm.hier).filter(_.nonEmpty)
    if (pm.level.nonEmpty)
      resolve(cube, LevelRef(pm.dim, Some(pm.level), hierOpt))
    else {
      val d = cube.dimension(pm.dim).getOrElse(GraftException.badRequest(
        s"fixed-member tuple on unknown dimension '${pm.dim}'"))
      // an explicit hierarchy qualifier restricts the search to that
      // hierarchy; unqualified members search every hierarchy in
      // declaration order, each top-down (Mondrian's name lookup)
      val hiers = hierOpt match {
        case Some(h) => Seq(d.hierarchies.find(_.name == h).getOrElse(
          GraftException.badRequest(
            s"hierarchy '$h' not found in dimension '${pm.dim}'")))
        case None => d.hierarchies
      }
      val src = d.join.map(js => cat.table(js.table))
        .getOrElse(cat.fact(cube))
      val hit = hiers.iterator.flatMap(h => h.levels.iterator.map(h -> _))
        .find { case (h, l) =>
          cat.cachedMemberCount((cube.name,
              s"__pin:${pm.dim}.${h.name}.${l.name}", pm.key.toString)) {
            // a key whose type cannot compare against this level's column
            // (ANSI cast failure: 'Allentown' vs an int key) is simply not
            // a member of the level — keep searching, don't surface the
            // cast error (SparkNumberFormatException extends
            // NumberFormatException, so catch the SparkThrowable marker)
            try src.filter(expr(l.keyExpr) === lit(pm.key)).limit(1).count()
            catch { case _: org.apache.spark.SparkThrowable => 0L }
          } > 0
        }.getOrElse(GraftException.badRequest(
          s"member '${pm.key}' not found in any level of '${pm.dim}' — " +
            s"qualify it as [${pm.dim}].[Level].[key]"))
      resolve(cube, LevelRef(pm.dim, Some(hit._2.name), Some(hit._1.name)))
    }
  }

  /** Star joins for the dimensions this query actually touches, deduped by
    * (table, fk): small dims broadcast, fact-sized dims shuffle-join (ref B2). */
  /** DRILLTHROUGH (Mondrian's cell-to-fact operator, `DRILLTHROUGH SELECT
    * … RETURNING …` — supported by the engine the reference embeds, never
    * surfaced by its REST API): the fact rows behind a cell. The cell is
    * named by cuts; `returns` picks the projected columns (default: every
    * fact column). Spark-first shape: cuts and the role's member-visibility
    * predicate are plain filters on the dim-joined fact, so Catalyst pushes
    * them into the scan and prunes the projection — at 100 TB a
    * drillthrough reads only the cell's partitions and the returned
    * columns.
    *
    * Role enforcement: drillthrough reveals ROWS, so any custom member
    * grant filters them regardless of rollupPolicy (rollup policies decide
    * what aggregated CELLS show; the row set behind them is visible iff
    * the member is). Level bands and denied hierarchies 403 via the same
    * cut validation as aggregate.
    *
    * A deterministic total order over the returned columns makes
    * offset/limit pagination stable (the A12 discipline). */
  def planDrillthrough(cat: CubeCatalog, cube: CubeDef, q: CubeQuery,
      returns: Seq[String]): DataFrame = {
    val qRole = Roles.resolve(cat.schema, q.role)
    qRole.foreach { r =>
      Roles.checkCubeAccess(r, cube.name)
      Roles.validateLevels(r, cube, q.cuts.flatMap(levelOfCut(cube, _)))
    }
    val roleGrants = Roles.customGrants(qRole, cube).filter(_.restricts)
    val joined = joinNeededDims(cat, cube,
      q.cuts.flatMap(levelOfCut(cube, _)).map(_.dim) ++
        roleGrants.map(_.dim))
    val filtered = roleGrants.foldLeft(
      q.cuts.foldLeft(joined)((df, c) =>
        applyCut(cat, cube, df, c, q.role))
    )((df, g) => df.filter(g.visibleCol))
    val factCols = cat.fact(cube).columns.toSeq
    val cols = if (returns.nonEmpty) returns else factCols
    cols.foreach { c =>
      if (!filtered.columns.contains(c))
        GraftException.badRequest(s"drillthrough column '$c' not found")
    }
    // total order: the returned columns lead (so the visible order is by
    // them), the remaining fact columns break ties — a projection like
    // (l_quantity) alone ties on thousands of rows and offset/limit pages
    // would overlap under Spark's unstable distributed sort
    val orderCols = (cols ++ factCols.filterNot(cols.contains)).map(col)
    val projected = filtered.orderBy(orderCols: _*).select(cols.map(col): _*)
    if (q.offset > Int.MaxValue || q.offset < 0)
      GraftException.badRequest(s"offset ${q.offset} out of range")
    val off = if (q.offset > 0) projected.offset(q.offset.toInt) else projected
    q.limit.fold(off)(n => off.limit(math.min(n, Int.MaxValue.toLong).toInt))
  }

  private def joinNeededDims(cat: CubeCatalog, cube: CubeDef,
      dims: Seq[DimensionDef], factOverride: Option[DataFrame] = None)
      : DataFrame = {
    val fact = factOverride.getOrElse(cat.fact(cube))
    val joins = dims.flatMap(_.join).distinct
    joins.foldLeft(fact) { (df, js) =>
      val dimDf = cat.table(js.table)
      val right = if (js.broadcastable) broadcast(dimDf) else dimDf
      df.join(right, df(js.foreignKey) === dimDf(js.primaryKey), "inner")
    }
  }

  /** One OR-of-ANDs literal predicate for an explicit tuple set — an
    * axis-enumeration-sized expression (hand-written tuple lists are
    * small), never a join; Catalyst pushes the fact-side form into the
    * scan like any other cut. `colOf` picks the column form (level
    * keyExpr fact-side, alias column over rollups / the densified axis). */
  private def tupleCutPredicate(cube: CubeDef, tc: TupleCut,
      colOf: ResolvedLevel => Column): Column = {
    val rls = tc.levels.map(resolve(cube, _))
    tc.rows.map(r =>
      rls.zip(r).map { case (rl, k) => colOf(rl) === lit(k) }
        .reduce(_ && _)).reduce(_ || _)
  }

  /** Cut application over a rollup frame, where levels exist as alias
    * COLUMNS rather than expressions over the fact (B17 routed path). */
  private def applyCutOnAliases(cat: CubeCatalog, cube: CubeDef, df: DataFrame,
      c: Cut, role: Option[String]): DataFrame = c match {
    case tc: TupleCut => df.filter(tupleCutPredicate(cube, tc,
      rl => col(rl.level.alias)))
    case MemberCut(l, key) =>
      df.filter(col(resolve(cube, l).level.alias) === lit(key))
    case SetCut(l, keys) =>
      df.filter(col(resolve(cube, l).level.alias).isin(keys: _*))
    case RangeCut(l, lo, hi) =>
      val lvl = resolve(cube, l).level
      df.filter(col(lvl.ordExpr.fold(lvl.alias)(_ => lvl.ordAlias))
        .between(lit(lo), lit(hi)))
    case NamedSetCut(name) =>
      val ns = cube.namedSet(name).getOrElse(
        GraftException.badRequest(s"named set '$name' not found"))
      val rl = resolve(cube, LevelRef(ns.dim, Some(ns.level)))
      df.filter(col(rl.level.alias)
        .isin(topKKeyValues(cat, cube, rl, ns.k, ns.byMeasure,
          role = role): _*))
    case TopKCut(l, k, byMeasure, asc) =>
      val rl = resolve(cube, l)
      df.filter(col(rl.level.alias)
        .isin(topKKeyValues(cat, cube, rl, k, byMeasure, asc, role): _*))
    case ts: TopShareCut =>
      val rl = resolve(cube, ts.level)
      df.filter(col(rl.level.alias)
        .isin(topShareKeyValues(cat, cube, rl, ts, role): _*))
    case ExcludeCut(l, keys) =>
      df.filter(!col(resolve(cube, l).level.alias).isin(keys: _*))
    case nc: NavCut =>
      navPathRefs(cube, nc).zip(navPathKeys(cat, cube, nc, role))
        .foldLeft(df) { case (d, (ref, k)) =>
          d.filter(col(resolve(cube, ref).level.alias) === lit(k))
        }
  }

  // public handles for Rollups (B17)
  def levelColsOf(rl: ResolvedLevel): Seq[Column] = levelCols(rl)
  def levelAliasesOf(rl: ResolvedLevel): Seq[String] = levelAliases(rl)
  def joinForLevels(cat: CubeCatalog, cube: CubeDef,
      rls: Seq[ResolvedLevel]): DataFrame =
    joinNeededDims(cat, cube, rls.map(_.dim))
  def joinForLevelsOver(cat: CubeCatalog, cube: CubeDef,
      rls: Seq[ResolvedLevel], fact: DataFrame): DataFrame =
    joinNeededDims(cat, cube, rls.map(_.dim), Some(fact))

  private def levelRefOfCut(c: Cut): Option[LevelRef] = c match {
    case MemberCut(l, _) => Some(l)
    case SetCut(l, _) => Some(l)
    case RangeCut(l, _, _) => Some(l)
    case TopKCut(l, _, _, _) => Some(l)
    case TopShareCut(l, _, _, _, _, _) => Some(l)
    case ExcludeCut(l, _) => Some(l)
    case NavCut(_, _, target, _) => Some(target)
    case NamedSetCut(_) => None
    // multi-level by nature — its dims join via the sibling per-level
    // SetCuts the parser always emits alongside (see TupleCut's doc)
    case TupleCut(_, _) => None
  }

  private def levelOfCut(cube: CubeDef, c: Cut): Option[ResolvedLevel] =
    c match {
      case NamedSetCut(name) =>
        val ns = cube.namedSet(name).getOrElse(
          GraftException.badRequest(s"named set '$name' not found"))
        Some(resolve(cube, LevelRef(ns.dim, Some(ns.level))))
      case other => levelRefOfCut(other).map(resolve(cube, _))
    }

  /** Cuts become plain filters before groupBy (ref §4.1 rewrite 1): member =,
    * set IN, range BETWEEN on the ordinal; named set / TopCount = IN over the
    * cached member keys. Catalyst pushes all of them into the scans. */
  private def applyCut(cat: CubeCatalog, cube: CubeDef, df: DataFrame,
      c: Cut, role: Option[String]): DataFrame = c match {
    case tc: TupleCut => df.filter(tupleCutPredicate(cube, tc,
      rl => expr(rl.level.keyExpr)))
    case MemberCut(l, key) =>
      df.filter(expr(resolve(cube, l).level.keyExpr) === lit(key))
    case SetCut(l, keys) =>
      df.filter(expr(resolve(cube, l).level.keyExpr).isin(keys: _*))
    case RangeCut(l, lo, hi) =>
      val lvl = resolve(cube, l).level
      val e = expr(lvl.ordExpr.getOrElse(lvl.keyExpr))
      df.filter(e.between(lit(lo), lit(hi)))
    case NamedSetCut(name) =>
      val ns = cube.namedSet(name).getOrElse(
        GraftException.badRequest(s"named set '$name' not found"))
      val rl = resolve(cube, LevelRef(ns.dim, Some(ns.level)))
      df.filter(expr(rl.level.keyExpr)
        .isin(topKKeyValues(cat, cube, rl, ns.k, ns.byMeasure,
          role = role): _*))
    case TopKCut(l, k, byMeasure, asc) =>
      val rl = resolve(cube, l)
      df.filter(expr(rl.level.keyExpr)
        .isin(topKKeyValues(cat, cube, rl, k, byMeasure, asc, role): _*))
    case ts: TopShareCut =>
      val rl = resolve(cube, ts.level)
      df.filter(expr(rl.level.keyExpr)
        .isin(topShareKeyValues(cat, cube, rl, ts, role): _*))
    case ExcludeCut(l, keys) =>
      df.filter(!expr(resolve(cube, l).level.keyExpr).isin(keys: _*))
    case nc: NavCut =>
      navPathRefs(cube, nc).zip(navPathKeys(cat, cube, nc, role))
        .foldLeft(df) { case (d, (ref, k)) =>
          d.filter(expr(resolve(cube, ref).level.keyExpr) === lit(k))
        }
  }

  /** The hierarchy levels (root→target) that identify a [[NavCut]]'s
    * navigated-to member. A member's identity is its FULL PATH, not its
    * leaf key — Month 12 repeats every Year, so `ClosingPeriod(Month,
    * [1995])` must cut (Year=1995, Quarter=4, Month=12), never Month=12
    * alone. Rollup routing uses the same path (every path column must
    * exist in a candidate rollup for the cut to apply post-aggregation). */
  def navPathRefs(cube: CubeDef, nc: NavCut): Seq[LevelRef] = {
    val tRl = resolve(cube, nc.target)
    tRl.hier.levels.take(tRl.depth + 1).map(l =>
      LevelRef(tRl.dim.name, Some(l.name), Some(tRl.hier.name)))
  }

  /** The navigated-to member's path keys (one per [[navPathRefs]] level) —
    * ANCESTOR walks UP the materialized hierarchy (the target levels'
    * columns on the member's own dimension row — denormalized, so no
    * recursive walk), FirstChild/LastChild/OPENINGPERIOD/CLOSINGPERIOD
    * walk DOWN to the first/last descendant at `target` in the
    * hierarchy's member order (the ordinals of every level below the
    * member's, down to target). One 1-row lookup on the dimension's own
    * table (degenerate time dims: the fact), memoized per catalog — the
    * cut then pushes into the scan as plain equalities, exactly like
    * TopCount's IN-list (never a per-query semi-join). */
  private def navPathKeys(cat: CubeCatalog, cube: CubeDef,
      c: NavCut, role: Option[String]): Seq[Any] =
    cat.cachedNavKey((cube.name, c, role)) {
      val mRl = resolve(cube, c.of)
      val tRl = resolve(cube, c.target)
      // B18: the ANCHOR member's level needs the same role checks as the
      // navigation target — without them, a role whose band or member
      // grants deny the anchor level could still probe member existence
      // (and learn an invisible member's ancestor path) through
      // ANCESTOR/FirstChild navigation. Denied members fall through to the
      // "not found" 400 below, like the 404 on the metadata routes.
      val navRs = Roles.resolve(cat.schema, role)
      navRs.foreach(r => Roles.validateLevels(r, cube, Seq(mRl, tRl)))
      if (mRl.dim.name != tRl.dim.name || mRl.hier.name != tRl.hier.name)
        GraftException.badRequest(
          s"member navigation must stay in one hierarchy: " +
            s"${mRl.dim.name}.${mRl.hier.name} vs ${tRl.dim.name}.${tRl.hier.name}")
      if (c.mode == "ancestor" && tRl.depth >= mRl.depth)
        GraftException.badRequest(
          s"ANCESTOR target '${tRl.level.name}' is not above " +
            s"'${mRl.level.name}' in ${mRl.dim.name}.${mRl.hier.name}")
      if (c.mode != "ancestor" && tRl.depth <= mRl.depth)
        GraftException.badRequest(
          s"${c.mode} descendant target '${tRl.level.name}' is not below " +
            s"'${mRl.level.name}' in ${mRl.dim.name}.${mRl.hier.name}")
      val src = mRl.dim.join match {
        case Some(js) => cat.table(js.table)
        case None => cat.fact(cube)
      }
      val memberVis = navRs.flatMap(r => Roles.memberFilter(r, cube, mRl))
      val within = memberVis.foldLeft(
        src.filter(expr(mRl.level.keyExpr) === lit(c.key)))(_.filter(_))
      // the anchor member must be UNIQUE at its level: a key that repeats
      // across parents (Month 6 exists in every Year) names no single
      // member, and an arbitrary-row pick would cut to a silently wrong
      // (and memoized) path — 400 with guidance instead
      val anchorCols = mRl.hier.levels.take(mRl.depth + 1)
        .map(l => expr(l.keyExpr))
      val anchors = within.select(anchorCols: _*).distinct().limit(2).collect()
      if (anchors.isEmpty)
        GraftException.badRequest(
          s"member '${c.key}' not found at ${mRl.dim.name}.${mRl.level.name}")
      if (anchors.length > 1)
        GraftException.badRequest(
          s"member '${c.key}' is ambiguous at " +
            s"${mRl.dim.name}.${mRl.level.name} (it exists under several " +
            s"parents) — navigate from a member that is unique at its level")
      val keyCols = tRl.hier.levels.take(tRl.depth + 1)
        .map(l => expr(l.keyExpr))
      val rows = c.mode match {
        case "ancestor" =>
          within.select(keyCols: _*).limit(1).collect()
        case _ =>
          val desc = c.mode == "last"
          val ordCols = tRl.hier.levels.zipWithIndex
            .filter { case (_, d) => d > mRl.depth && d <= tRl.depth }
            .map { case (lvl, _) =>
              val e = expr(lvl.ordExpr.getOrElse(lvl.keyExpr))
              if (desc) e.desc else e.asc
            }
          // TakeOrderedAndProject: k=1, never a full sort of the dim
          within.orderBy(ordCols: _*).select(keyCols: _*).limit(1).collect()
      }
      rows.head.toSeq
    }.asInstanceOf[Seq[Any]]

  /** The k member keys of a TopCount set, collected once per catalog and
    * memoized (the reference resolves named sets against its member cache
    * the same way; /flush rebuilds the catalog and drops this too). Cuts
    * then become IN-list predicates that push into the fact scan — at scale
    * that removes a second fact pass that the semi-join form would need
    * every query. */
  private def topKKeyValues(cat: CubeCatalog, cube: CubeDef, rl: ResolvedLevel,
      k: Int, byMeasure: String, asc: Boolean = false,
      role: Option[String] = None): Seq[Any] =
    // the role is part of the set identity: Mondrian evaluates named sets
    // against the role's schema reader, so TopCount over a restricted
    // hierarchy ranks only VISIBLE members (an invisible member must not
    // consume a top-k slot and shrink the visible result below k)
    cat.cachedTopKKeys((cube.name, rl.dim.name, rl.hier.name, rl.level.name,
      if (asc) -k else k, byMeasure + role.fold("")("|role=" + _))) {
      topKKeys(cat, cube, rl, k, byMeasure, asc, role)
        .collect().toSeq.map(_.get(0))
    }

  /** TopPercent/TopSum member keys: the minimal descending-by-measure prefix
    * whose cumulative total reaches the threshold (p% of the set total, or
    * an absolute sum). Cumulative and total ride the DECIMAL(27,6) window
    * recipe over the MEMBER AGGREGATE (a dim-sized frame — the same class
    * as the lag domains, never the fact), memoized per catalog like
    * TopCount keys so the cut is an IN-list pushed into the scan. */
  private def topShareKeyValues(cat: CubeCatalog, cube: CubeDef,
      rl: ResolvedLevel, ts: TopShareCut,
      role: Option[String]): Seq[Any] = {
    import ts.{threshold, byMeasure, absolute, within}
    cat.cachedTopShareKeys((cube.name, ts, role)) {
      if (threshold <= 0)
        GraftException.badRequest(
          s"TopPercent/TopSum threshold must be positive, got $threshold")
      if (!absolute && threshold > 100)
        GraftException.badRequest(
          s"TopPercent takes a percentage in (0, 100], got $threshold")
      // the argument set's own restriction: prefix AND denominator run over
      // the GIVEN members, so TOPPERCENT(EXCEPT(level, {x}), p, m) answers
      // "p% of the remaining set's total", never the whole level's
      val q = CubeQuery(cube.name,
        Seq(LevelDrill(LevelRef(rl.dim.name, Some(rl.level.name),
          Some(rl.hier.name)))), Seq(byMeasure), cuts = within,
        role = role)
      val agg = planCube(cat, cube, q)
      val dec = expr(s"CAST($byMeasure AS DECIMAL(27,6))")
      // BOTTOMPERCENT/BOTTOMSUM (asc): the minimal ASCENDING prefix — the
      // long tail covering the threshold share/sum
      val measureOrd =
        if (ts.asc) col(byMeasure).asc else col(byMeasure).desc
      val before = Window.orderBy(measureOrd, col(rl.level.alias).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val whole = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val cumBefore =
        coalesce(sum(dec).over(before).cast("double"), lit(0.0))
      val lim =
        if (absolute) lit(threshold)
        else lit(threshold / 100.0) * sum(dec).over(whole).cast("double")
      val keys = agg
        .withColumn("__cum_before", cumBefore)
        .withColumn("__lim", lim)
        .where(col("__cum_before") < col("__lim"))
        .select(rl.level.alias)
        .collect().toSeq.map(_.get(0))
      if (keys.length > 65536)
        GraftException.badRequest(
          s"TopPercent/TopSum selects ${keys.length} members — too many " +
            "for an IN-list cut; narrow the threshold")
      keys
    }
  }

  private def topKKeys(cat: CubeCatalog, cube: CubeDef, rl: ResolvedLevel,
      k: Int, byMeasure: String, asc: Boolean = false,
      role: Option[String] = None): DataFrame = {
    val q = CubeQuery(cube.name,
      Seq(LevelDrill(LevelRef(rl.dim.name, Some(rl.level.name),
        Some(rl.hier.name)))), Seq(byMeasure),
      order = Some(OrderSpec(OrderByMeasure(byMeasure), desc = !asc)),
      limit = Some(k), role = role)
    planCube(cat, cube, q).select(rl.level.alias)
  }

  /** Levels emitted per drilldown: just the level, or the full ancestor chain
    * when `parents=true` (ref C3 — ancestors are sibling columns of the same
    * dim row, no extra join). Deduped by alias, drill order preserved. */
  private def groupLevelList(cube: CubeDef, drills: Seq[ResolvedLevel],
      parents: Boolean): Seq[ResolvedLevel] = {
    val ls = drills.flatMap { rl =>
      if (parents)
        rl.hier.levels.take(rl.depth + 1).zipWithIndex
          .map { case (l, i) => ResolvedLevel(rl.dim, rl.hier, l, i) }
      else Seq(rl)
    }
    val seen = scala.collection.mutable.Set.empty[String]
    ls.filter(l => seen.add(l.level.alias))
  }

  private def levelCols(rl: ResolvedLevel): Seq[Column] = {
    val l = rl.level
    Seq(expr(l.keyExpr).as(l.alias)) ++
      l.nameExpr.map(e => expr(e).as(l.labelAlias)) ++
      l.ordExpr.map(e => expr(e).as(l.ordAlias))
  }

  private def levelAliases(rl: ResolvedLevel): Seq[String] = {
    val l = rl.level
    Seq(l.alias) ++ l.nameExpr.map(_ => l.labelAlias) ++
      l.ordExpr.map(_ => l.ordAlias)
  }

  /** Output (user-visible) aliases: key + label; internal ordinal cols are
    * dropped after sorting. */
  def outputAliases(rl: ResolvedLevel): Seq[String] = {
    val l = rl.level
    Seq(l.alias) ++ l.nameExpr.map(_ => l.labelAlias)
  }

  def captionOverrideAlias(rl: ResolvedLevel): String =
    rl.level.alias + "__caption"

  def propAlias(cube: CubeDef, p: PropertyRef): String = {
    val rl = resolve(cube, p.level)
    rl.level.properties.find(_.name == p.property).map(_.alias)
      .getOrElse(GraftException.badRequest(s"property '${p.property}' not found"))
  }

  /** The time-member domain a lag/cum window must see (B8 domain
    * exactness), plus the cut-membership flag used to re-restrict the axis
    * after the windows run.
    *
    * @param unit    the drilled levels of the time dimension (root→leaf)
    * @param dom     one row per needed member: the unit's alias columns
    *                (key + label + ordinal) and, when `hasCuts`, a
    *                `cutFlag` column marking the members the axis keeps
    * @param hasCuts whether any cut restricts this dimension (if not, the
    *                domain is the full member list and no re-filter runs)
    */
  private final case class TimeDomain(dim: String, unit: Seq[ResolvedLevel],
      dom: DataFrame, size: Long, hasCuts: Boolean) {
    def cutFlag: String = "__cut_" + dim
  }

  /** Build the needed member domain for one lag/cum time dimension, on the
    * driver from the dimension's member dictionary (the materialized
    * hierarchy Mondrian navigates). When cuts restrict the dimension, the
    * needed set is: every cut member, every member within `max(periods)`
    * BEFORE a cut member (so positional lag(n) at any cut member spans
    * exactly its n hierarchy predecessors), every member within the lead
    * reach AFTER one, and — per cum measure — every member from the
    * reset-group start through a cut member (PeriodsToDate sums from the
    * period start regardless of the axis set; an opening/closing balance
    * needs the cut member's whole reset group). The marking walks the
    * members in hierarchy order: the unit's ordinals ascending, nulls
    * first, as Spark sorts. */
  private def lagTimeDomain(cat: CubeCatalog, cube: CubeDef, dn: String,
      groupLevels: Seq[ResolvedLevel], timeCuts: Seq[Cut],
      need: NeededMeasures, role: Option[String]): TimeDomain = {
    val unit = groupLevels.filter(_.dim.name == dn)
    if (unit.isEmpty)
      GraftException.badRequest(
        s"lag/cumulative measures require a drilldown on their time dimension '$dn'")
    val (members, schema) = memberDomain(cat, cube, unit, Nil, role)
    val dimCuts = timeCuts.filter(c =>
      levelOfCut(cube, c).exists(_.dim.name == dn))
    if (dimCuts.isEmpty)
      return TimeDomain(dn, unit, localFrame(cat, members, schema),
        members.size, hasCuts = false)
    val maxLag = (need.lags.filter(_.timeDim == dn).map(_.periods)
      .filter(_ > 0) ++
      need.movings.filter(_.timeDim == dn).map(_.periods - 1))
      .maxOption.getOrElse(0)
    // Lead(n) (negative periods) needs members AFTER cut members
    val maxLead = need.lags.filter(_.timeDim == dn).map(-_.periods)
      .filter(_ > 0).maxOption.getOrElse(0)
    val cutMembers = memberDomain(cat, cube, unit, dimCuts, role)._1.toSet
    val ordIdx = unit.map(rl => schema.fieldIndex(
      rl.level.ordExpr.fold(rl.level.alias)(_ => rl.level.ordAlias)))
    // ties on the ordinals break on every other column, deterministically
    val sorted = sortRows(members, schema,
      ordIdx ++ schema.indices.filterNot(ordIdx.contains))
    val n = sorted.size
    val flag = sorted.map(cutMembers.contains).toArray
    val needed = flag.clone()
    for (i <- 0 until n if flag(i)) {
      (math.max(0, i - maxLag) until i).foreach(needed(_) = true)
      (i + 1 to math.min(n - 1, i + maxLead)).foreach(needed(_) = true)
    }
    for (cm <- need.cums.filter(_.timeDim == dn);
         resetRl <- unit.find(_.level.name == cm.resetLevel)) {
      // reset-member identity = the reset level plus its drilled ancestors
      // (same rule as applyCum — a Quarter key repeats per year)
      val groupIdx = unit.filter(_.depth <= resetRl.depth)
        .map(rl => schema.fieldIndex(rl.level.alias))
      val group = sorted.map(r => Row.fromSeq(groupIdx.map(r.get)))
      val cutGroups = mutable.Set.empty[Row]
      if (cm.edge.isEmpty)
        // from the group start through a cut member: walk backwards
        for (i <- n - 1 to 0 by -1) {
          if (flag(i)) cutGroups += group(i)
          if (cutGroups(group(i))) needed(i) = true
        }
      else {
        group.indices.filter(flag(_)).foreach(cutGroups += group(_))
        group.indices.foreach(i => if (cutGroups(group(i))) needed(i) = true)
      }
    }
    val flagged = sorted.indices.filter(needed(_)).map(i =>
      Row.fromSeq(sorted(i).toSeq :+ (if (flag(i)) 1 else 0)))
    TimeDomain(dn, unit,
      localFrame(cat, flagged,
        schema.add("__cut_" + dn, IntegerType, nullable = false)),
      flagged.size, hasCuts = true)
  }

  /** PREVMEMBER lag (ref B8): lag(base) over the time hierarchy's drilled
    * levels root→leaf, partitioned by every non-time axis column. The input
    * frame is pre-expanded to the full time-member domain (planCube), so
    * the positional lag walks the HIERARCHY's member order — a month with
    * no data in this partition yields null (→ COALESCEEMPTY), never the
    * previous present month. `periods` > 1 (PARALLELPERIOD) steps n
    * positions among existing members, which is Mondrian's own semantics
    * (ParallelPeriod navigates sibling POSITIONS in the materialized
    * hierarchy, not key arithmetic — a year with missing members shifts
    * both engines identically). */
  private def applyLag(cube: CubeDef, df: DataFrame, lm: LagMeasureDef,
      drills: Seq[ResolvedLevel], groupLevels: Seq[ResolvedLevel]): DataFrame = {
    val timeDrills = drills.filter(_.dim.name == lm.timeDim).sortBy(_.depth)
    if (timeDrills.isEmpty)
      GraftException.badRequest(
        s"lag measure '${lm.alias}' requires a drilldown on its time dimension '${lm.timeDim}'")
    val ordCols = timeDrills.map { rl =>
      col(rl.level.ordExpr.fold(rl.level.alias)(_ => rl.level.ordAlias))
    }
    val partCols = groupLevels.filterNot(_.dim.name == lm.timeDim)
      .flatMap(levelAliases).map(col)
    val w = Window.partitionBy(partCols: _*).orderBy(ordCols.map(_.asc): _*)
    // negative periods = NEXTMEMBER/Lead(n): look forward in member order
    val lagged =
      if (lm.periods < 0) lead(col(lm.base), -lm.periods).over(w)
      else lag(col(lm.base), lm.periods).over(w)
    df.withColumn(lm.alias,
      if (lm.coalesceToBase) coalesce(lagged, col(lm.base)) else lagged)
  }

  /** B8 extension — PERIODSTODATE/Ytd (MDX Ytd(), PeriodsToDate): running
    * sum of the base measure over the time axis, partitioned by every
    * non-time axis column PLUS the reset level's member (Year → YTD resets
    * each year). The accumulator re-quantizes the aggregated double to
    * DECIMAL(27,6) (canonical shortest-string cast, the same recipe as
    * measure sums), so window evaluation order cannot move a float bit.
    * Runs over the domain-expanded frame like [[applyLag]]: members cut
    * from the axis still contribute to the running sum (PeriodsToDate
    * accumulates from the period start, not the axis set). */
  private def applyCum(cube: CubeDef, df: DataFrame, cm: CumMeasureDef,
      drills: Seq[ResolvedLevel], groupLevels: Seq[ResolvedLevel]): DataFrame = {
    val timeDrills = drills.filter(_.dim.name == cm.timeDim).sortBy(_.depth)
    if (timeDrills.isEmpty)
      GraftException.badRequest(
        s"cumulative measure '${cm.alias}' requires a drilldown on its time dimension '${cm.timeDim}'")
    val resetRl = timeDrills.find(_.level.name == cm.resetLevel).getOrElse(
      GraftException.badRequest(
        s"cumulative measure '${cm.alias}' requires a drilldown on ${cm.timeDim}.${cm.resetLevel}"))
    val ordCols = timeDrills.map { rl =>
      col(rl.level.ordExpr.fold(rl.level.alias)(_ => rl.level.ordAlias))
    }
    // the reset member's identity in the drilled projection is the reset
    // level PLUS its drilled ancestors — a Quarter key (1-4) repeats across
    // years, so partitioning by it alone would run Q1-1995 into Q1-1996
    val resetCols = timeDrills.filter(_.depth <= resetRl.depth)
      .map(rl => col(rl.level.alias))
    val partCols = groupLevels.filterNot(_.dim.name == cm.timeDim)
      .flatMap(levelAliases).map(col) ++ resetCols
    if (cm.edge.isEmpty) {
      val w = Window.partitionBy(partCols: _*)
        .orderBy(ordCols.map(_.asc): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(cm.alias,
        sum(expr(s"CAST(${cm.base} AS DECIMAL(27,6))")).over(w)
          .cast("double"))
    } else {
      // semi-additive closing/opening balance: the base value at the reset
      // group's LAST/FIRST domain member. The frame is the domain-expanded
      // axis, so the edge row exists even when this partition has no data
      // there (null base → empty cell, Mondrian's semantics). No
      // accumulation happens — the value is picked, not summed — so no
      // decimal re-quantization is needed.
      val finest = timeDrills.maxBy(_.depth)
      if (finest.level.name != cm.edgeLevel)
        GraftException.badRequest(
          s"${cm.edge.capitalize}Period level '${cm.edgeLevel}' must be " +
            s"the finest drilled level of '${cm.timeDim}' " +
            s"(drilled: '${finest.level.name}')")
      val w = Window.partitionBy(partCols: _*)
        .orderBy(ordCols.map(_.asc): _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val pick =
        if (cm.edge == "closing") last(col(cm.base), ignoreNulls = false)
        else first(col(cm.base), ignoreNulls = false)
      df.withColumn(cm.alias, pick.over(w))
    }
  }

  /** Trailing moving average (MDX Avg(LastPeriods(n), M)): windowed mean of
    * the base over the last `periods` time members including the current
    * one, partitioned by every non-time axis column. Runs over the
    * domain-expanded frame like [[applyLag]], so calendar gap members hold a
    * window slot with a null base — the count skips them (Mondrian's Avg
    * ignores empty cells) instead of stretching the window across holes.
    * The sum rides DECIMAL(27,6); the DIVISION is double/double (cast each
    * side first) so both engines divide identical operands. */
  private def applyMoving(df: DataFrame, mm: MovingMeasureDef,
      drills: Seq[ResolvedLevel], groupLevels: Seq[ResolvedLevel]): DataFrame = {
    val timeDrills = drills.filter(_.dim.name == mm.timeDim).sortBy(_.depth)
    if (timeDrills.isEmpty)
      GraftException.badRequest(
        s"moving measure '${mm.alias}' requires a drilldown on its time dimension '${mm.timeDim}'")
    val ordCols = timeDrills.map { rl =>
      col(rl.level.ordExpr.fold(rl.level.alias)(_ => rl.level.ordAlias))
    }
    val partCols = groupLevels.filterNot(_.dim.name == mm.timeDim)
      .flatMap(levelAliases).map(col)
    val w = Window.partitionBy(partCols: _*).orderBy(ordCols.map(_.asc): _*)
      .rowsBetween(-(mm.periods - 1), Window.currentRow)
    df.withColumn(mm.alias,
      sum(expr(s"CAST(${mm.base} AS DECIMAL(27,6))")).over(w).cast("double") /
        count(col(mm.base)).over(w).cast("double"))
  }

  /** ALL-member total (share-of-total denominator): one window sum over the
    * aggregated axis, partitioned by every axis column NOT belonging to the
    * total's dimension — never a second pass over the fact. The sum
    * re-quantizes through DECIMAL(27,6) like [[applyCum]], so window
    * evaluation order cannot move a float bit. A dimension that is not
    * drilled already sits at its All member: the total IS the base value. */
  private def applyTotal(df: DataFrame, tm: TotalMeasureDef,
      groupLevels: Seq[ResolvedLevel], visible: Column): DataFrame =
    if (groupLevels.forall(_.dim.name != tm.dim))
      if (tm.parent)
        GraftException.badRequest(
          s"CurrentMember.Parent over '${tm.dim}' requires a drilldown " +
            s"on '${tm.dim}'")
      else df.withColumn(tm.alias, col(tm.base))
    else {
      // parent totals partition ADDITIONALLY by the dimension's ancestor
      // columns above its finest drilled level — each cell then sees its
      // PARENT member's subtotal, not the All total. The immediate parent
      // level must be on the axis: the axis rows carry the parent keys,
      // which keeps attribution exact even when child keys repeat across
      // parents (Month 6 exists in every Year). Other hierarchies of the
      // same dimension stay in the partition (MDX CurrentMember is
      // per-hierarchy context).
      val partLevels =
        if (!tm.parent) groupLevels.filterNot(_.dim.name == tm.dim)
        else {
          val dimLevels = groupLevels.filter(_.dim.name == tm.dim)
          val finest = dimLevels.maxBy(_.depth)
          val ancestors = dimLevels.filter(l =>
            l.hier.name == finest.hier.name && l.depth < finest.depth)
          if (finest.depth > 0 &&
              !ancestors.exists(_.depth == finest.depth - 1))
            GraftException.badRequest(
              s"CurrentMember.Parent over '${tm.dim}' needs the parent " +
                s"level '${finest.hier.levels(finest.depth - 1).name}' on " +
                "the axis — drill it alongside " +
                s"'${finest.level.name}' (or set parents=true)")
          groupLevels.filterNot(l =>
            l.dim.name == tm.dim && l.hier.name == finest.hier.name) ++
            ancestors
        }
      val partCols = partLevels.flatMap(levelAliases).map(col)
      val w = Window.partitionBy(partCols: _*)
      df.withColumn(tm.alias,
        sum(when(visible, expr(s"CAST(${tm.base} AS DECIMAL(27,6))")))
          .over(w).cast("double"))
    }

  /** The window measures' axis-context contract (Rank + set aggregates):
    * the dimension must be drilled (evaluating the set outside its own
    * axis context would need a second aggregation pass — SUM has that
    * fold, [[TotalMeasureDef]]; the others don't), and a named set level
    * must equal the dimension's finest drilled level (a coarser/finer set
    * would silently aggregate the WRONG members). Returns the partition
    * columns (every axis column NOT of `dim`). */
  private def windowPartCols(groupLevels: Seq[ResolvedLevel], dim: String,
      level: String, what: String): Seq[Column] = {
    val dimLevels = groupLevels.filter(_.dim.name == dim)
    if (dimLevels.isEmpty)
      GraftException.badRequest(
        s"$what over '$dim' members requires a drilldown on '$dim'")
    val finest = dimLevels.maxBy(_.depth)
    if (level.nonEmpty && finest.level.name != level)
      GraftException.badRequest(
        s"$what set level '$level' does not match the drilled level " +
          s"'${finest.level.name}' of '$dim'")
    groupLevels.filterNot(_.dim.name == dim).flatMap(levelAliases).map(col)
  }

  /** MDX Rank (3-arg measure form): 1-based RANK over the aggregated axis,
    * ordered by the base measure DESCENDING within each combination of the
    * OTHER drilled dimensions' columns — one axis-sized window like
    * [[applyTotal]], never a re-sort of the fact. Ties share a rank (no
    * tie-break column in the ORDER — adding one would split ties into
    * distinct ranks, which is DENSE_RANK-adjacent but not Mondrian's
    * behavior). Axis-invisible rows (lag-relaxed cut members) are pushed
    * out of the order by masking their base to null (desc_nulls_last) and
    * carry a null rank; dense filler cells are backfilled after densify
    * (all empties share the last rank, Mondrian's null-sorts-last). */
  private def applyRank(df: DataFrame, rm: RankMeasureDef,
      groupLevels: Seq[ResolvedLevel], visible: Column): DataFrame = {
    val partCols = windowPartCols(groupLevels, rm.dim, rm.level, "Rank")
    val w = Window.partitionBy(partCols: _*)
      .orderBy(when(visible, col(rm.base)).desc_nulls_last)
    df.withColumn(rm.alias, when(visible, rank().over(w).cast("long")))
  }

  /** MDX Avg/Min/Max/Median(set, measure): one window over the aggregated
    * axis, partitioned like [[applyTotal]] by the other dimensions'
    * columns. Only axis-visible cells participate (the `when(visible, …)`
    * mask — aggregate functions skip nulls, matching Mondrian's
    * empty-cell skipping); Avg re-quantizes the sum through DECIMAL(27,6)
    * and divides by the visible count so window evaluation order cannot
    * move a float bit. Axis-context contract: [[windowPartCols]]; dense
    * filler cells are backfilled after densify (the aggregate is
    * partition-constant, so a max() carries it). */
  private def applySetAgg(df: DataFrame, am: SetAggMeasureDef,
      groupLevels: Seq[ResolvedLevel], visible: Column): DataFrame = {
      val partCols = windowPartCols(groupLevels, am.dim, am.level,
        am.fn.toUpperCase)
      val w = Window.partitionBy(partCols: _*)
      // a non-empty key set restricts the aggregate to those members — the
      // MDX `Sum({…}, M)` fixed-set subtotal (still one axis-sized window)
      val finest = groupLevels.filter(_.dim.name == am.dim).maxBy(_.depth)
      val inSet =
        if (am.keys.isEmpty) visible
        else visible && col(finest.level.alias).isin(am.keys: _*)
      val masked = when(inSet, col(am.base))
      val agg = am.fn match {
        case "sum" =>
          sum(when(inSet, expr(s"CAST(${am.base} AS DECIMAL(27,6))")))
            .over(w).cast("double")
        case "avg" =>
          sum(when(inSet, expr(s"CAST(${am.base} AS DECIMAL(27,6))")))
            .over(w).cast("double") / count(masked).over(w).cast("double")
        case "min" => min(masked).over(w)
        case "max" => max(masked).over(w)
        // exact interpolated median — the same percentile(…, 0.5) contract
        // the B4 Median measure (q36) already hash-matches cross-engine
        case "median" => median(masked).over(w)
        case other => GraftException.badRequest(
          s"unsupported set aggregate '$other'")
      }
      df.withColumn(am.alias, agg)
    }

  /** Dense axes (ref C1 default JSON shape): cross product of the member
    * domains (restricted by same-dimension cuts) left-joined with the
    * aggregated cells. Domains come from the member dictionaries — small
    * by construction; the cross product is the documented cardinality
    * hazard (§7.4 dragon 1) and stays opt-in. */
  private def densify(cat: CubeCatalog, cube: CubeDef, aggDf: DataFrame,
      drills: Seq[ResolvedLevel], groupLevels: Seq[ResolvedLevel],
      cuts: Seq[Cut], parents: Boolean,
      roleGrants: Seq[Roles.DimGrant] = Nil,
      role: Option[String] = None): DataFrame = {
    if (drills.isEmpty) return aggDf
    // one domain per drilled level — or, with parents=true, one per drilled
    // DIMENSION carrying the full ancestor chain (ancestor columns live on
    // the same dim row), so filler rows get complete member paths, not nulls
    val domainUnits: Seq[Seq[ResolvedLevel]] =
      if (parents)
        drills.map(_.dim.name).distinct
          .map(dn => groupLevels.filter(_.dim.name == dn))
      else drills.map(Seq(_))
    // Each unit's domain resolves on the driver from its dimension's
    // member dictionary: cut- and role-filtered there, so a new cut value
    // runs no Spark job, and enters the plan as a LocalRelation.
    val domains = domainUnits.map { unit =>
      val rl = unit.head
      val dimCuts = cuts.filter(c =>
        levelOfCut(cube, c).exists(_.dim.name == rl.dim.name))
      // B18: an invisible member must not reappear as a dense filler row —
      // restrict the member domain by the role's visibility predicate
      val grant = roleGrants.find(g => g.restricts &&
        g.dim.name == rl.dim.name && g.hier.name == rl.hier.name)
      memberDomain(cat, cube, unit, dimCuts, role, grant)
    }
    // Guardrail for §7.4 dragon 1: the cross product of member domains is
    // the one place a small request can demand an astronomically large
    // result. The domains' sizes are known on the driver, so a request
    // over the cap is a 400, not a driver OOM.
    val maxCells = maxCellsOf(cat)
    val cells = domains.map(d => BigInt(d._1.size)).product
    if (cells > maxCells)
      GraftException.badRequest(
        s"dense axes would enumerate $cells cells (limit $maxCells; " +
          "raise spark.graft.dense.maxCells or request sparse=true)")
    val domain = domainProduct(cat, domains, cells)
    val joinCols =
      (if (parents) groupLevels else drills).flatMap(levelAliases)
    val aggSide = aggDf.select(joinCols.map(col) ++
      aggDf.columns.filterNot(joinCols.contains).map(col): _*)
    // The agg side groups by the same levels the domains enumerate, so its
    // row count is ≤ cells — which just passed the guard. Broadcasting it
    // turns the dense fill into a BroadcastHashJoin: no exchange + sort of
    // the member cross product (the SMJ shape Catalyst picks otherwise,
    // because agg-output size estimates are conservative). A fill whose
    // cells outgrow the session's broadcast budget keeps the sort-merge
    // shape.
    domain.join(broadcastIfSmall(aggSide, cells), joinCols, "left")
  }

  /** The cross product of the member domains, `cells` rows. Built on the
    * driver as one LocalRelation when those rows fit the session's
    * broadcast budget at Catalyst's per-row size estimate; otherwise a
    * crossJoin of one LocalRelation per domain, which Spark runs as a
    * broadcast nested-loop join with one job per extra domain. */
  private def domainProduct(cat: CubeCatalog,
      domains: Seq[(Seq[Row], StructType)], cells: BigInt): DataFrame = {
    val schema = StructType(domains.flatMap(_._2.fields))
    if (cells <= graft.ops.Dedup.broadcastRows(cat.spark, schema)) {
      val rows = domains.map(_._1).reduceLeft((acc, d) =>
        for (a <- acc; b <- d) yield Row.fromSeq(a.toSeq ++ b.toSeq))
      localFrame(cat, rows, schema)
    } else domains.map { case (rows, s) => localFrame(cat, rows, s) }
      .reduce(_.crossJoin(_))
  }

  private def maxCellsOf(cat: CubeCatalog): Long =
    cat.spark.conf.getOption("spark.graft.dense.maxCells").map(_.toLong)
      .getOrElse(1000000L)

  /** The member dictionary of one dimension's `levels`: the distinct rows
    * of their key, name and ordinal columns, read from the dimension's
    * source (its join table, or the fact for a degenerate dimension) by
    * one `distinct` the first time a request needs it, and kept on the
    * catalog as a LocalRelation. Capped at `spark.graft.dense.maxCells`
    * rows: a level set over the cap is the dense-cells 400. */
  private def memberDictionary(cat: CubeCatalog, cube: CubeDef,
      dim: DimensionDef, levels: Seq[ResolvedLevel]): DataFrame =
    cat.cachedDictionary((cube.name, dim.name, levels.map(_.level.alias))) {
      val src = dim.join.fold(cat.fact(cube))(js => cat.table(js.table))
      val distinct = src.select(levels.flatMap(levelCols): _*).distinct()
      val cap = maxCellsOf(cat)
      val rows = distinct.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1)
        .collect()
      if (rows.length > cap)
        GraftException.badRequest(
          s"dense axes would enumerate more than $cap cells: the " +
            s"${dim.name} members of ${levels.map(_.level.name)
              .mkString(", ")} alone exceed it (limit $cap; raise " +
            "spark.graft.dense.maxCells or request sparse=true)")
      localFrame(cat, rows.toSeq, distinct.schema)
    }

  /** One member domain, resolved on the driver: the distinct rows of
    * `unit`'s alias columns among the dimension dictionary's members that
    * pass `cuts` and `grant`'s visibility predicate. The dictionary's
    * level set is each unit level's chain root→leaf plus the levels the
    * cuts and the predicate read, so filtering it equals filtering the
    * source. Filter and projection over a LocalRelation fold during
    * optimization: once the dictionary exists the collect runs no Spark
    * job. Duplicates drop by Row equality, which is Spark's distinct
    * semantics (NaN = NaN, -0.0 = 0.0). */
  private def memberDomain(cat: CubeCatalog, cube: CubeDef,
      unit: Seq[ResolvedLevel], cuts: Seq[Cut], role: Option[String],
      grant: Option[Roles.DimGrant] = None): (Seq[Row], StructType) = {
    val cutLevels = cuts.flatMap {
      case nc: NavCut => navPathRefs(cube, nc).map(resolve(cube, _))
      case c => levelOfCut(cube, c).toSeq
    }
    def chain(dim: DimensionDef, hier: HierarchyDef, depth: Int) =
      hier.levels.take(depth + 1).zipWithIndex.map { case (l, d) =>
        ResolvedLevel(dim, hier, l, d) }
    val levels = (unit.flatMap(rl => chain(rl.dim, rl.hier, rl.depth)) ++
      cutLevels ++
      grant.toSeq.flatMap(g => chain(g.dim, g.hier, g.predicateDepth)))
      .distinctBy(_.level.alias).sortBy(_.level.alias)
    val dict = memberDictionary(cat, cube, unit.head.dim, levels)
    val cut = cuts.foldLeft(dict)((d, c) =>
      applyCutOnAliases(cat, cube, d, c, role))
    val visible = grant.fold(cut)(g =>
      cut.filter(g.visibleOn(l => col(l.alias))))
    val domain = visible.select(unit.flatMap(levelAliases).map(col): _*)
    (domain.collect().toSeq.distinct, domain.schema)
  }

  /** Driver-side rows as a DataFrame over a LocalRelation. */
  private def localFrame(cat: CubeCatalog, rows: Seq[Row],
      schema: StructType): DataFrame =
    cat.spark.createDataFrame(rows.asJava, schema)

  /** `rows` in Spark's ascending order (nulls first) on the columns `by`. */
  private def sortRows(rows: Seq[Row], schema: StructType,
      by: Seq[Int]): Seq[Row] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val ord = new InterpretedOrdering(by.map(i =>
      SortOrder(BoundReference(i, schema(i).dataType, nullable = true),
        Ascending)))
    rows.map(r => (r, toCatalyst(r).asInstanceOf[InternalRow]))
      .sortWith((a, b) => ord.compare(a._2, b._2) < 0).map(_._1)
  }

  /** `df` hinted for broadcast when `rows` of it fit the session's
    * `spark.sql.autoBroadcastJoinThreshold` (threshold −1: never), at
    * Catalyst's per-row size estimate for its schema. `rows` is a count
    * the caller already holds, so the gate runs no job. */
  private def broadcastIfSmall(df: DataFrame, rows: BigInt): DataFrame =
    if (rows <= graft.ops.Dedup.broadcastRows(df.sparkSession, df.schema))
      broadcast(df)
    else df

  private def comparison(c: Column, op: String, v: Double): Column = op match {
    case ">" => c > v
    case "<" => c < v
    case ">=" => c >= v
    case "<=" => c <= v
    case "=" | "==" => c === v
    case "<>" | "!=" => c =!= v
    case other => GraftException.badRequest(s"unknown filter operator '$other'")
  }

  /** ORDER → SUBSET → final projection, in the reference's fixed sequence
    * (query_helper.rb:278-296). A deterministic total order is always
    * established (explicit order first, then the hierarchical member order of
    * every axis column) so SUBSET pagination is stable (§7.4 dragon 5). */
  private def finishAxis(cat: CubeCatalog, cube: CubeDef, df: DataFrame,
      q: CubeQuery, drills: Seq[ResolvedLevel],
      groupLevels: Seq[ResolvedLevel], outputCols: Seq[String]): DataFrame = {
    val defaultSort: Seq[Column] = groupLevels.map { rl =>
      col(rl.level.ordExpr.fold(rl.level.alias)(_ => rl.level.ordAlias))
    }
    val explicit: Seq[(Column, Boolean)] = q.order.toSeq.map { os =>
      val c = os.target match {
        case OrderByMeasure(m) =>
          // virtual-cube measures live in member cubes; fall back to the raw
          // alias when the anchor cube doesn't know the name
          col(scala.util.Try(aliasOfMeasure(cube, m)).getOrElse(m))
        case OrderByLevel(ref, what) =>
          val rl = resolve(cube, ref)
          what match {
            case "key" => col(rl.level.alias)
            case "caption" => col(rl.level.nameExpr
              .fold(rl.level.alias)(_ => rl.level.labelAlias))
            case "ordinal" => col(rl.level.ordExpr
              .fold(rl.level.alias)(_ => rl.level.ordAlias))
            case prop => col(rl.level.properties.find(_.name == prop)
              .map(_.alias).getOrElse(GraftException.badRequest(
                s"cannot order by unknown property '$prop'")))
          }
      }
      (c, os.desc)
    }
    // MDX Generate(set1, TopCount(set2, k, m)): ONE GroupedTopK pass
    // partitioned on set1's drilled levels (bounded heaps, ≤ k rows per
    // group shuffled — never a per-group sort or a per-member loop). The
    // appended __grank column carries the inner ranking into the axis
    // order below, then falls away in the final projection.
    val grankCol = "__grank"
    val grouped = q.groupTop match {
      case Some(gt) =>
        val parts = drills.take(gt.groupDrills).map(rl =>
          col(rl.level.alias))
        val mAlias = scala.util.Try(aliasOfMeasure(cube, gt.measure))
          .getOrElse(gt.measure)
        val mcol = col(mAlias)
        // deterministic inner order: measure (desc for TopCount), then
        // the inner levels' member order — ties resolve like Mondrian's
        // stable member order, and the oracle can replay it
        val tiebreak = drills.drop(gt.groupDrills).map { rl =>
          col(rl.level.ordExpr.fold(rl.level.alias)(_ => rl.level.ordAlias))
            .asc
        }
        val innerOrder = (if (gt.desc) mcol.desc else mcol.asc) +: tiebreak
        gt.threshold match {
          case None if gt.orderOnly =>
            // inner ORDER: no truncation — rank every tuple within its
            // set1 block so the axis order below emits each group sorted
            // by the measure. A partitioned window (axis-sized frame,
            // same state class as the TopPercent branch), not a
            // GroupedTopK heap — there is no k to bound it.
            df.withColumn(grankCol, row_number().over(
              Window.partitionBy(parts: _*).orderBy(innerOrder: _*)))
          case None =>
            graft.plans.GroupedTopK.topK(df, parts, innerOrder, gt.k)
              .withColumnRenamed("rank", grankCol)
          case Some(th) =>
            // TopPercent/TopSum per group: the minimal ordered prefix
            // whose cumulative measure covers the threshold — the
            // TopShareCut recipe (DECIMAL(27,6) windows, cum_before <
            // limit, the crossing row included) with the window
            // PARTITIONED by set1's levels. Axis-sized frame, same state
            // class as the B15 total windows.
            val dec = expr(s"CAST($mAlias AS DECIMAL(27,6))")
            val wOrder = Window.partitionBy(parts: _*)
              .orderBy(innerOrder: _*)
            val before =
              wOrder.rowsBetween(Window.unboundedPreceding, -1)
            val whole = Window.partitionBy(parts: _*)
              .rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing)
            val cumBefore =
              coalesce(sum(dec).over(before).cast("double"), lit(0.0))
            val lim =
              if (gt.absolute) lit(th)
              else lit(th / 100.0) * sum(dec).over(whole).cast("double")
            df.withColumn("__gt_cb", cumBefore)
              .withColumn("__gt_lim", lim)
              .withColumn(grankCol, row_number().over(wOrder))
              .where(col("__gt_cb") < col("__gt_lim"))
              .drop("__gt_cb", "__gt_lim")
        }
      case None => df
    }
    // postFilters: HAVING evaluated AFTER the groupTop truncation — the
    // axis-level FILTER wrapping a truncating GENERATE (a top-k member
    // failing the predicate is dropped, never back-filled by the next
    // rank; remaining rows keep their __grank, so blocks stay in inner
    // order with gaps, like Mondrian's filtered generated set)
    val postFiltered = q.postFilters.foldLeft(grouped) { (df, f) =>
      val a = aliasOfMeasure(cube, f.measure)
      df.filter(comparison(col(a), f.op, f.value))
    }
    val distinctDf =
      if (q.distinct) postFiltered.dropDuplicates(outputCols)
      else postFiltered
    // with a per-group top-k, each set1 block keeps its inner ranking
    // order (Mondrian's Generate output shape) ahead of the default
    // hierarchical member order
    val groupSort: Seq[(Column, Boolean)] = q.groupTop match {
      case Some(gt) =>
        drills.take(gt.groupDrills).map { rl =>
          (col(rl.level.ordExpr.fold(rl.level.alias)(_ =>
            rl.level.ordAlias)), false)
        } :+ ((col(grankCol), false))
      case None => Nil
    }
    val keys: Seq[(Column, Boolean)] =
      explicit ++ groupSort ++ defaultSort.map(c => (c, false))
    def ordered(rev: Boolean): Seq[Column] =
      keys.map { case (c, desc) => if (desc ^ rev) c.desc else c.asc }
    // TAIL: the last n of the total order — reverse-sort + limit (a
    // TakeOrderedAndProject, no full sort), re-sorted forward below
    val tailed = q.tailLimit match {
      case Some(n) => distinctDf.orderBy(ordered(rev = true): _*)
        .limit(n.toInt)
      case None => distinctDf
    }
    val sorted = tailed.orderBy(ordered(rev = false): _*)
    val page = (q.offset, q.limit) match {
      case (0, None) => sorted
      case (0, Some(n)) => sorted.limit(n.toInt)
      case (off, Some(n)) => sorted.offset(off.toInt).limit(n.toInt)
      case (off, None) => sorted.offset(off.toInt)
    }
    page.select(outputCols.map(col): _*)
  }
}
