package graft.model

/** Cube data model — the Spark-native analog of the Mondrian XML catalog the
  * reference loads (reference: spec/fixtures/foodmart.xml, webshop.xml;
  * abstractions per SURVEY.md §1.1).
  *
  * Design notes (Spark-first, not a port):
  *  - A dimension binds to a *registered table name* resolved by [[graft.CubeCatalog]];
  *    snowflake dimensions (reference foodmart.xml:71-75 `<Join>`) are pre-joined
  *    into ONE dimension DataFrame at registration time, so query planning only
  *    ever sees star equi-joins.
  *  - Level key/name/ordinal are Spark SQL *expression strings* over the joined
  *    frame (reference `column`/`nameColumn`/`ordinalColumn` and the
  *    KeyExpression/NameExpression SQL variants, foodmart.xml:186-262) — this
  *    also gives us degenerate time dimensions (`year(l_shipdate)`) for free.
  *  - Measures aggregate a Spark SQL scalar expression (covers plain columns and
  *    the reference's `MeasureExpression` CASE-WHEN measures, foodmart.xml:305-344).
  */

/** Extra attribute column attached to a level (ref foodmart.xml:23-30). */
final case class PropertyDef(name: String, expr: String, alias: String)

/** One level of a hierarchy.
  *
  * @param name     user-facing level name ("Year", "Nation")
  * @param keyExpr  Spark SQL expr producing the member key (ref `column`)
  * @param alias    stable output column name for the key
  * @param nameExpr caption expr if different from key (ref `nameColumn`);
  *                 emitted as `<alias>_label`
  * @param ordExpr  sort expr if member order differs from key order (ref
  *                 `ordinalColumn`); emitted only when needed for ORDER/lag
  * @param hideIf   ragged-hierarchy member hiding (ref B12 `hideMemberIf`,
  *                 foodmart.xml:565-604): "IfBlankName" hides members with
  *                 null/empty caption, "IfParentsName" hides members whose
  *                 caption equals their parent's. Affects member listing
  *                 only; aggregation is untouched (reference semantics).
  */
final case class LevelDef(
    name: String,
    keyExpr: String,
    alias: String,
    nameExpr: Option[String] = None,
    ordExpr: Option[String] = None,
    properties: Seq[PropertyDef] = Nil,
    hideIf: Option[String] = None) {
  def labelAlias: String = alias + "_label"
  def ordAlias: String = alias + "_ord"
}

/** Ordered levels, root first (ref foodmart.xml:17-68; hasAll semantics B15). */
final case class HierarchyDef(
    name: String,
    levels: Seq[LevelDef],
    hasAll: Boolean = true,
    allMemberName: Option[String] = None) {
  def level(n: String): Option[LevelDef] = levels.find(_.name == n)
  def depthOf(l: LevelDef): Int = levels.indexWhere(_.name == l.name)
}

/** How a dimension's table attaches to the fact (ref DimensionUsage
  * foreignKey ↔ hierarchy primaryKey, webshop.xml:45-48).
  *
  * @param broadcastable small dim → broadcast hash join; large dims (e.g. an
  *                      orders "dimension" of a lineitem fact) shuffle-join.
  */
final case class JoinSpec(table: String, foreignKey: String, primaryKey: String,
    broadcastable: Boolean = true)

/** A dimension: degenerate (join = None → level exprs evaluate over the fact
  * row itself, ref foodmart.xml:414-433) or joined to a dim table. */
final case class DimensionDef(
    name: String,
    hierarchies: Seq[HierarchyDef],
    join: Option[JoinSpec] = None,
    isTime: Boolean = false) {
  def defaultHierarchy: HierarchyDef = hierarchies.head
  def hierarchy(n: Option[String]): Option[HierarchyDef] = n match {
    case Some(h) => hierarchies.find(_.name == h)
    case None => Some(defaultHierarchy)
  }
}

sealed trait Agg
object Agg {
  case object Sum extends Agg
  case object Count extends Agg          // count of non-null expr
  case object CountAll extends Agg       // count(*)
  case object Min extends Agg
  case object Max extends Agg
  case object Avg extends Agg
  case object DistinctCount extends Agg  // ref foodmart.xml:303-304 (non-additive)
  case object ApproxDistinctCount extends Agg // documented fast path at scale
  case object Median extends Agg // exact interpolated p50 (non-additive)
}

/** A measure: aggregator over a scalar Spark SQL expression (ref
  * foodmart.xml:295-344).
  *
  * @param exact for Sum/Avg: sum the value as its DECIMAL(27,6) cast, so
  *              partial aggregation order cannot perturb low bits — sums
  *              become exact and reproducible across engines (oracle
  *              parity) and across cluster sizes (100 TB determinism). The
  *              sum runs in `exact_sum` ([[graft.functions.ExactSum]]):
  *              each row scales to a count of 10^-6 units summed in
  *              integers, the same DECIMAL(37,6) value as
  *              `sum(CAST(x AS DECIMAL(27,6)))` with no Decimal per row.
  */
final case class MeasureDef(name: String, alias: String, agg: Agg, expr: String,
    exact: Boolean = true,
    // presentation metadata the reference serves verbatim (Mondrian
    // formatString attr; <Annotations> — ref mondrian_ext.rb:66-80):
    // graft does not render them, clients do
    formatString: Option[String] = None,
    annotations: Map[String, String] = Map.empty)

/** Post-aggregation calculated member: formula over measure/calc aliases
  * (ref foodmart.xml:345-350 Profit = Store Sales - Store Cost).
  * `formatString` carries a CalculatedMemberProperty FORMAT_STRING. */
final case class CalcMemberDef(alias: String, formula: String,
    formatString: Option[String] = None)

/** PREVMEMBER-style lag measure (ref foodmart.xml:351-366): lag of `base`
  * over the time hierarchy's member order, partitioned by all other axis
  * columns. `coalesceToBase` mirrors COALESCEEMPTY((m, PREVMEMBER), m).
  * `periods` generalizes to PARALLELPERIOD: 12 at Month grain = the same
  * member one Year earlier (MDX ParallelPeriod([Time].[Year], 1)). A
  * NEGATIVE `periods` looks FORWARD (MDX NextMember / Lead(n)) — the
  * planner branches to Spark's lead() and extends the needed time-member
  * domain forward of cut members symmetrically. */
final case class LagMeasureDef(alias: String, base: String, timeDim: String,
    coalesceToBase: Boolean = false, periods: Int = 1)

/** PERIODSTODATE-style running measure (MDX Ytd()/PeriodsToDate): cumulative
  * sum of `base` over the time hierarchy's member order, resetting at each
  * member of `resetLevel` (Year → year-to-date), partitioned by every
  * non-time axis column. The accumulator rides DECIMAL(27,6) so window
  * evaluation order cannot move a float bit.
  *
  * `edge` turns the running sum into the SEMI-ADDITIVE edge value — the
  * MDX `([M], CLOSINGPERIOD([T].[Leaf], [T].[Reset].CurrentMember))`
  * closing-balance classic (and OPENINGPERIOD): the base measure at the
  * reset group's LAST (`edge = "closing"`) or FIRST (`"opening"`) member
  * of the hierarchy's member domain. Rides the same domain-expanded
  * window, so a partition with no data at the closing member yields an
  * empty cell (Mondrian's semantics), never the "last present" member.
  * `edgeLevel` records the declared leaf level; the planner 400s unless it
  * is the finest drilled level of the time dimension (a coarser axis
  * cannot represent the closing member's value). */
final case class CumMeasureDef(alias: String, base: String, timeDim: String,
    resetLevel: String, edge: String = "", edgeLevel: String = "")

/** Trailing moving average (MDX `Avg(LastPeriods(n), [Measures].[M])`):
  * mean of the base measure over the last `periods` time members INCLUDING
  * the current one, partitioned by every non-time axis column. Runs over
  * the domain-expanded frame like lag/cum, so a gap month contributes
  * nothing (count skips null bases) instead of silently stretching the
  * window across calendar holes — Mondrian's Avg over a member set ignores
  * empty cells the same way. */
final case class MovingMeasureDef(alias: String, base: String,
    timeDim: String, periods: Int)

/** ALL-member tuple measure (MDX `([Measures].[M], [Dim].[All ...])`): the
  * base measure with `dim` rolled up to its All member — the denominator of
  * every share-of-total calc. Computed as a window sum over the aggregated
  * axis partitioned by the OTHER dimensions' columns (one axis-sized window,
  * never a re-aggregation of the fact), summing the axis-visible cells: a
  * cut on `dim` makes this "total of the cut set", the share semantics BI
  * consumers expect (Mondrian's slicer-override All would need a second
  * fact pass for a rarely-wanted answer). When `dim` is not drilled it
  * already sits at All and the total IS the base value.
  *
  * `parent = true` is the MDX `([M], [Dim].CurrentMember.Parent)` variant
  * (share-of-parent, the classic percent-of-subtotal measure): the window
  * additionally partitions by the dimension's ANCESTOR level columns above
  * its finest drilled level, so each cell sees its parent member's total
  * rather than the dimension's All total. The parent level must be on the
  * axis (drilled, or via parents=true) — parent attribution is exact even
  * when child keys repeat across parents (Month 6 of every Year), because
  * the axis rows themselves carry the parent keys. A finest-drilled TOP
  * level's parent is the All member: the plain total. */
final case class TotalMeasureDef(alias: String, base: String, dim: String,
    parent: Boolean = false)

/** MDX `Rank([Dim].CurrentMember, [Dim].[Level].Members, [Measures].[M])`
  * (Mondrian's 3-arg ranked form): the current member's 1-based position
  * among the axis members of `dim`, ordered by `base` descending, within
  * each combination of the OTHER drilled dimensions. Ties share a rank
  * (SQL RANK semantics, Mondrian's tie behavior for the measure form).
  * Evaluated as one axis-sized window — never a re-sort of the fact.
  * `level` (when non-empty) names the set's level and must match the
  * dimension's finest drilled level at plan time; a query that does not
  * drill `dim` at all 400s (evaluating the set outside its own axis
  * context would need a second aggregation pass — out of the compiled
  * subset). `base` must not be a calculated member (calc columns are
  * computed AFTER the window measures). */
final case class RankMeasureDef(alias: String, base: String, dim: String,
    level: String = "")

/** MDX `Avg|Min|Max|Median(<level>.Members, [Measures].[M])` inside a
  * calculated member: the aggregate of `base` over the axis members of
  * `dim`, within each combination of the OTHER drilled dimensions — the
  * per-member benchmark ("revenue vs the brand average") next to
  * [[TotalMeasureDef]]'s SUM. Empty cells are ignored (Mondrian's
  * Avg/Min/Max skip empty tuples), and Avg rides the DECIMAL-exact
  * sum/count split so window evaluation order cannot move a float bit.
  * One axis-sized window, never a second fact pass. `level` (when
  * non-empty) must match the dimension's finest drilled level at plan
  * time, and a query that does not drill `dim` 400s — evaluating the set
  * outside its own axis context would silently aggregate the WRONG member
  * set (unlike SUM, which folds to the All total and stays a
  * [[TotalMeasureDef]]). `fn` ∈ avg | min | max | median (median is the
  * exact interpolated percentile-0.5 both engines share — the B4/q36
  * cross-engine contract) | sum (the MDX `Sum({…}, M)` / `Aggregate({…},
  * M)` partial-set subtotal — requantized through DECIMAL(27,6) exactly
  * like [[TotalMeasureDef]]); `base` must not be a calculated member.
  * A non-empty `keys` restricts the set to those member keys of the
  * drilled level (`SUM({[Region].[1], [Region].[2]}, M)` — a fixed-set
  * subtotal evaluated per combination of the OTHER drilled dims). */
final case class SetAggMeasureDef(alias: String, base: String, dim: String,
    fn: String, level: String = "", keys: Seq[Any] = Nil)

/** One member pin of a fixed-member tuple: `[Dim].[Level].[Key]` (or
  * `[Dim].[Hier].[Level].[Key]`). `level` empty means the member was
  * written unqualified ([Time].[1997]) and resolves by key search down
  * the hierarchy at plan time, like Mondrian's member-name lookup. */
final case class PinSpec(dim: String, level: String, key: Any,
    hier: String = "")

/** Fixed-member tuple measure — MDX `WITH MEMBER [Measures].[X] AS
  * '([Measures].[M], [D1].[L1].[k1], [D2].[L2].[k2], …)'`, the "pin a
  * measure to one or more members" idiom foodmart's Profit-last-Period
  * generalizes (ref foodmart.xml:351-366 is the PrevMember special case;
  * this is the arbitrary-fixed-member form a hand-written query uses for
  * year-over-budget / vs-flagship-store / "Sales for Drink in 1997"
  * comparisons). Mondrian semantics: each of the tuple's explicit
  * members OVERRIDES the axis/slicer member of its own dimension — the
  * value is the base measure at the pinned member combination within
  * every OTHER axis coordinate. Pins over distinct dimensions compose
  * conjunctively; a dimension may appear at most once per tuple (as in
  * Mondrian, where a tuple holds one member per hierarchy). */
final case class PinnedMeasureDef(alias: String, base: String,
    pins: Seq[PinSpec])

/** Named set: TopCount(level members, k, by measure) (ref foodmart.xml:405-410). */
final case class NamedSetDef(name: String, dim: String, level: String, k: Int,
    byMeasure: String,
    // ref api_spec.rb:40: named-set <Annotations> are served verbatim
    annotations: Map[String, String] = Map.empty)

final case class CubeDef(
    name: String,
    factTable: String,
    dimensions: Seq[DimensionDef],
    measures: Seq[MeasureDef],
    calcMembers: Seq[CalcMemberDef] = Nil,
    lagMeasures: Seq[LagMeasureDef] = Nil,
    cumMeasures: Seq[CumMeasureDef] = Nil,
    totalMeasures: Seq[TotalMeasureDef] = Nil,
    movingMeasures: Seq[MovingMeasureDef] = Nil,
    rankMeasures: Seq[RankMeasureDef] = Nil,
    setAggMeasures: Seq[SetAggMeasureDef] = Nil,
    pinnedMeasures: Seq[PinnedMeasureDef] = Nil,
    namedSets: Seq[NamedSetDef] = Nil,
    defaultMeasure: Option[String] = None,
    annotations: Map[String, String] = Map.empty) {
  def dimension(n: String): Option[DimensionDef] = dimensions.find(_.name == n)
  def measure(n: String): Option[MeasureDef] =
    measures.find(m => m.name == n || m.alias == n)
  def namedSet(n: String): Option[NamedSetDef] = namedSets.find(_.name == n)
}

/** Virtual cube: measures drawn from several cubes over conformed dimensions,
  * merged by drill-across full-outer join (ref foodmart.xml:758-790). Level
  * aliases of the conformed dimensions must agree across member cubes. */
final case class VirtualCubeDef(
    name: String,
    cubeMeasures: Seq[(String, Seq[String])], // (cubeName, measure aliases)
    calcMembers: Seq[CalcMemberDef] = Nil)

// ------------------------------------------------------------------- roles

/** One member grant inside a custom hierarchy grant (ref Mondrian
  * `<MemberGrant member="[Dim].[X]" access="all|none"/>`, the B18 surface
  * the reference's schema format supports but its REST API never exposed).
  * Grants are ORDERED: later entries override earlier ones for the members
  * they name (Mondrian's nested-grant semantics — grant a region, then deny
  * one nation inside it), and anything no entry names is DENIED (custom
  * access starts from nothing).
  *
  * @param level the hierarchy level the keys name
  * @param keys  member keys at that level (the level key expression's type)
  * @param path  ancestor keys root→parent confining the grant to the
  *              declared branch — `[Time].[1997].[Q1]` must grant Q1 of
  *              1997 ONLY, even when the leaf key "Q1" repeats under every
  *              year (Mondrian resolves the full unique name; a leaf-only
  *              match would silently over-grant). Empty = match by leaf
  *              key alone (fine for uniqueMembers levels).
  */
final case class MemberGrantDef(level: String, keys: Seq[Any],
    access: String, // "all" | "none"
    path: Seq[Any] = Nil)

/** Access grant for one hierarchy of one dimension (ref Mondrian
  * `<HierarchyGrant>`).
  *
  * `access`: "all" (default when no grant exists), "none" (hierarchy
  * invisible; drills/cuts on it 403), or "custom" (band + member grants).
  *
  * `topLevel`/`bottomLevel` bound the visible level band — drilling or
  * cutting outside it is a 403 and metadata hides the levels.
  *
  * `rollupPolicy` decides what a cell ABOVE the granted members shows
  * (Mondrian's rollupPolicy attribute):
  *   - "full":    ancestors/totals aggregate ALL members, visible or not
  *                (membership only filters which axis rows appear);
  *   - "partial": only visible members aggregate anywhere — the fact is
  *                filtered before any rollup (the default, like Mondrian);
  *   - "hidden":  a rollup that would include an invisible member shows
  *                null instead of a partial or full value.
  */
final case class HierarchyGrantDef(
    dim: String,
    hierarchy: Option[String] = None,
    access: String = "custom", // "all" | "none" | "custom"
    topLevel: Option[String] = None,
    bottomLevel: Option[String] = None,
    rollupPolicy: String = "partial", // "full" | "partial" | "hidden"
    memberGrants: Seq[MemberGrantDef] = Nil)

/** Access grant for one cube (ref Mondrian `<CubeGrant>`). */
final case class CubeGrantDef(cube: String, access: String, // "all" | "none"
    hierarchyGrants: Seq[HierarchyGrantDef] = Nil)

/** A role: the B18 operator (ref Mondrian `<Role>` + `<SchemaGrant>`).
  * `schemaAccess` is the default for cubes without an explicit grant:
  * "all" → visible, "none" → invisible. Queries select a role by name
  * (REST `role=` param / X-Graft-Role header); no role means full access,
  * like a Mondrian connection with no role set. */
final case class RoleDef(name: String, schemaAccess: String = "all",
    cubeGrants: Seq[CubeGrantDef] = Nil) {
  def cubeGrant(c: String): Option[CubeGrantDef] = cubeGrants.find(_.cube == c)
  def cubeVisible(c: String): Boolean = cubeGrant(c) match {
    case Some(g) => g.access != "none"
    case None => schemaAccess != "none"
  }
}

final case class SchemaDef(name: String, cubes: Seq[CubeDef],
    virtualCubes: Seq[VirtualCubeDef] = Nil,
    roles: Seq[RoleDef] = Nil) {
  def cube(n: String): Option[CubeDef] = cubes.find(_.name == n)
  def virtualCube(n: String): Option[VirtualCubeDef] =
    virtualCubes.find(_.name == n)
  def role(n: String): Option[RoleDef] = roles.find(_.name == n)
}

/** Planner/validation error → HTTP 400 analog (ref error contract,
  * spec/api_spec.rb:117-169). */
final class GraftException(val status: Int, msg: String)
    extends RuntimeException(msg)
object GraftException {
  def badRequest(msg: String): Nothing = throw new GraftException(400, msg)
  def notFound(msg: String): Nothing = throw new GraftException(404, msg)
  def forbidden(msg: String): Nothing = throw new GraftException(403, msg)
}
