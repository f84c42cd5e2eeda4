package graft.planner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.CubeCatalog
import graft.functions.ExactSum
import graft.model._

/** Aggregate-table routing (ref B17: `AggName` mappings, foodmart.xml:128-160).
  *
  * A [[Rollup]] is a materialized partial aggregation of a cube at a fixed
  * level set. The router sits ABOVE Catalyst (like the reference's Mondrian
  * routing sits above the RDBMS): a query is answered from the smallest
  * eligible rollup when
  *
  *   - every drilled/cut level of the query is present in the rollup, and
  *   - every needed base measure is re-aggregable from partials
  *     (sum/count/min/max re-aggregate; avg derives from sum+count;
  *     exact distinct-count is non-additive and always routes to the fact —
  *     the reference's agg tables have the same carve-out).
  *
  * At 100 TB this is the difference between scanning the fact and scanning a
  * table 10^4× smaller; correctness never depends on it (rollups are an
  * optimization the planner may ignore).
  */
object Rollups {

  /** Materialized rollup: `df` holds one row per combination of `levels`
    * (level aliases incl. label/ord columns) with partial-aggregate columns
    * named by convention: `__sum_<alias>`, `__cnt_<alias>` (non-null count
    * for avg), `__min_<alias>`, `__max_<alias>`, `__rows`. */
  final case class Rollup(cube: String, levels: Set[String], df: DataFrame)

  def supportedAgg(a: Agg): Boolean = a match {
    case Agg.Sum | Agg.Avg | Agg.Count | Agg.CountAll | Agg.Min | Agg.Max => true
    // approx distinct re-aggregates via its stored HLL sketch (lossless
    // register-wise-max union); EXACT distinct stays non-additive → fact scan
    case Agg.ApproxDistinctCount => true
    case Agg.DistinctCount | Agg.Median => false
  }

  /** Build a rollup of `cube` at the given levels (all hierarchy levels down
    * to each named one, so descendants cuts stay eligible). Persist/cache or
    * write the result yourself — registration is via CubeCatalog.addRollup. */
  def build(cat: CubeCatalog, cube: CubeDef, levelRefs: Seq[LevelRef])
      : Rollup =
    buildOver(cat, cube, levelRefs, cat.fact(cube))

  /** [[build]] over an explicit fact slice — the delta path of [[refresh]]. */
  def buildOver(cat: CubeCatalog, cube: CubeDef, levelRefs: Seq[LevelRef],
      fact: org.apache.spark.sql.DataFrame): Rollup = {
    val rls = levelRefs.map(Planner.resolve(cube, _))
    val joined = Planner.joinForLevelsOver(cat, cube, rls, fact)
    val groupCols = rls.flatMap(Planner.levelColsOf).distinct
    val aggCols: Seq[Column] = cube.measures.filter(m => supportedAgg(m.agg))
      .flatMap { m =>
        val e = expr(m.expr)
        m.agg match {
          case Agg.Sum | Agg.Avg => Seq(
            (if (m.exact) ExactSum.exactSum(e) else sum(e))
              .as(s"__sum_${m.alias}"),
            count(e).as(s"__cnt_${m.alias}"))
          case Agg.Count => Seq(count(e).as(s"__cnt_${m.alias}"))
          case Agg.CountAll => Seq(count(lit(1)).as(s"__cnt_${m.alias}"))
          case Agg.Min => Seq(min(e).as(s"__min_${m.alias}"))
          case Agg.Max => Seq(max(e).as(s"__max_${m.alias}"))
          // B17 carve-out, lifted: store the HLL sketch itself (binary) so
          // distinct-count re-aggregates by union instead of hitting the fact
          case Agg.ApproxDistinctCount =>
            Seq(hll_sketch_agg(e).as(s"__hll_${m.alias}"))
          case _ => Nil
        }
      } :+ count(lit(1)).as("__rows")
    val df = joined.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
    Rollup(cube.name, rls.flatMap(Planner.levelAliasesOf).toSet, df)
  }

  /** Build SEVERAL rollups from ONE fact scan via GROUPING SETS: each level
    * set becomes a grouping set, grouping_id() splits the single shuffled
    * aggregation's output back into per-rollup frames. At 100 TB the fact
    * scan dominates agg-table maintenance, so materializing the whole rollup
    * lattice in one pass (instead of one scan per rollup) is the difference
    * between N nightly scans and one. Results are identical to N
    * [[build]] calls — Spark expands grouping sets into the same partial
    * aggregates. Level sets must be given as resolvable LevelRefs; the
    * returned rollups are in input order. */
  /** Shared GROUPING SETS scaffolding for the one-pass lattice consumers
    * ([[buildMany]] materializes it with measures, [[measureCandidates]]
    * counts it): the joined+projected fact registered as a temp view, the
    * per-candidate alias sets, the GROUPING SETS clause, and the
    * `grouping_id` each candidate's rows carry (bit = 1 ⇔ column NOT in
    * the grouping set) — ONE place owns the gid bit-order convention. */
  private final case class Lattice(view: String,
      rlSets: Seq[Seq[Planner.ResolvedLevel]], aliasSets: Seq[Seq[String]],
      allAliases: Seq[String], setsSql: String) {
    def gidOf(aliases: Seq[String]): Long = allAliases.zipWithIndex
      .filterNot { case (a, _) => aliases.contains(a) }
      .map { case (_, i) => 1L << (allAliases.length - 1 - i) }.sum
  }

  private def latticeView(cat: CubeCatalog, cube: CubeDef,
      levelSets: Seq[Seq[LevelRef]], tag: String): Lattice = {
    val rlSets = levelSets.map(_.map(Planner.resolve(cube, _)))
    val allRls = rlSets.flatten.distinctBy(_.level.alias)
    val joined = Planner.joinForLevels(cat, cube, allRls)
    val allCols = allRls.flatMap(Planner.levelColsOf).distinct
    // project level expressions once so grouping sets reference plain columns
    val projected = joined.select(col("*") +: allCols: _*)
    val aliasSets = rlSets.map(_.flatMap(Planner.levelAliasesOf).distinct)
    val setsSql = aliasSets
      .map(_.map(a => s"`$a`").mkString("(", ", ", ")"))
      .mkString("GROUPING SETS (", ", ", ")")
    val allAliases = allRls.flatMap(Planner.levelAliasesOf).distinct
    // DataFrame API has no grouping-sets handle → SQL over a temp view
    val view = s"__graft_${tag}_src_${System.identityHashCode(projected)}"
    projected.createOrReplaceTempView(view)
    Lattice(view, rlSets, aliasSets, allAliases, setsSql)
  }

  def buildMany(cat: CubeCatalog, cube: CubeDef,
      levelSets: Seq[Seq[LevelRef]]): Seq[Rollup] = {
    val lat = latticeView(cat, cube, levelSets, "rollup")
    import lat.{rlSets, aliasSets, allAliases, setsSql, view}
    val aggSql = cube.measures.filter(m => supportedAgg(m.agg)).flatMap { m =>
      val e = s"(${m.expr})"
      m.agg match {
        case Agg.Sum | Agg.Avg => Seq(
          s"${if (m.exact) "exact_sum" else "SUM"}($e) AS `__sum_${m.alias}`",
          s"COUNT($e) AS `__cnt_${m.alias}`")
        case Agg.Count => Seq(s"COUNT($e) AS `__cnt_${m.alias}`")
        case Agg.CountAll => Seq(s"COUNT(1) AS `__cnt_${m.alias}`")
        case Agg.Min => Seq(s"MIN($e) AS `__min_${m.alias}`")
        case Agg.Max => Seq(s"MAX($e) AS `__max_${m.alias}`")
        case Agg.ApproxDistinctCount =>
          Seq(s"hll_sketch_agg($e) AS `__hll_${m.alias}`")
        case _ => Nil
      }
    } :+ "COUNT(1) AS `__rows`"
    val sql =
      s"""SELECT ${allAliases.map(a => s"`$a`").mkString(", ")},
         |grouping_id(${allAliases.map(a => s"`$a`").mkString(", ")}) AS __gid,
         |${aggSql.mkString(",\n")}
         |FROM $view
         |GROUP BY $setsSql""".stripMargin
    val lattice = cat.spark.sql(sql)
    aliasSets.zip(rlSets).map { case (aliases, rls) =>
      Rollup(cube.name, rls.flatMap(Planner.levelAliasesOf).toSet,
        lattice.where(col("__gid") === lat.gidOf(aliases))
          .select(aliases.map(col) ++
            lattice.columns.filter(_.startsWith("__"))
              .filterNot(_ == "__gid").map(col): _*))
    }
  }

  /** Pick the smallest eligible rollup for (cube, query), if any. */
  def route(rollups: Seq[Rollup], cube: CubeDef, drills: Seq[Planner.ResolvedLevel],
      cuts: Seq[Cut], bases: Seq[MeasureDef], dense: Boolean): Option[Rollup] = {
    if (dense) return None // dense mode enumerates domains from dim tables
    val neededLevels: Set[String] =
      (drills.flatMap(Planner.levelAliasesOf) ++ cuts.flatMap {
        case MemberCut(l, _) => levelAliases(cube, l)
        case SetCut(l, _) => levelAliases(cube, l)
        case RangeCut(l, _, _) => levelAliases(cube, l)
        case NamedSetCut(name) =>
          val ns = cube.namedSet(name).getOrElse(
            GraftException.badRequest(s"named set '$name' not found"))
          levelAliases(cube, LevelRef(ns.dim, Some(ns.level)))
        case TopKCut(l, _, _, _) => levelAliases(cube, l)
        case TopShareCut(l, _, _, _, _, _) => levelAliases(cube, l)
        case ExcludeCut(l, _) => levelAliases(cube, l)
        // a tuple set filters on every named level's alias post-agg
        case TupleCut(levels, _) => levels.flatMap(levelAliases(cube, _))
        // the nav resolves to equalities on its full member path
        case nc: NavCut =>
          Planner.navPathRefs(cube, nc).flatMap(levelAliases(cube, _))
      }).toSet
    if (!bases.forall(m => supportedAgg(m.agg))) return None
    rollups.filter(r => r.cube == cube.name && neededLevels.subsetOf(r.levels))
      .sortBy(_.levels.size).headOption
  }

  private def levelAliases(cube: CubeDef, ref: LevelRef): Seq[String] =
    Planner.levelAliasesOf(Planner.resolve(cube, ref))

  // ---------------------------------------------------- aggregate designer

  /** One recommended rollup: the level refs to materialize (full root→level
    * chains), the alias set [[route]] will match against, the estimated row
    * count, and how many workload queries it answers. */
  final case class Advice(levelRefs: Seq[LevelRef], aliases: Set[String],
      estRows: Long, covers: Int)

  /** WORKLOAD-DRIVEN AGGREGATE DESIGNER — the analog of Mondrian's
    * Aggregation Designer, which proposes agg tables from a query log: given
    * a workload of [[CubeQuery]]s, recommend which rollups to materialize
    * under a total row budget.
    *
    * Mechanics:
    *  - each routable query (nonempty, no properties, re-aggregable
    *    measures) contributes its needed level set, expanded to full
    *    root→level hierarchy chains (ancestors are functionally dependent
    *    on the leaf, so they add eligibility — descendants cuts — without
    *    adding rows);
    *  - candidates are the workload's distinct level sets plus their
    *    pairwise unions (one rollup serving two query shapes);
    *  - rollup cardinality is estimated as the product over dimensions of
    *    the deepest needed level's approx distinct count (the designer's
    *    classic correlation-blind upper bound — an over-estimate only
    *    wastes budget, never correctness);
    *  - greedy set cover: repeatedly take the candidate answering the most
    *    still-uncovered queries per estimated row (coverage first, smaller
    *    tables on ties) while the budget lasts.
    *
    * Estimation cost: one `approx_count_distinct` job per distinct (dim,
    * level) in the workload — dim-frame-sized, bounded by the schema, never
    * the fact. Build the result with [[buildMany]]: the whole recommended
    * lattice materializes in ONE fact scan. */
  def advise(cat: CubeCatalog, cube: CubeDef, workload: Seq[CubeQuery],
      maxTotalRows: Long, maxRollups: Int = 8): Seq[Advice] = {
    // needed level refs per routable query, as full chains
    val querySets: Seq[Set[String]] = workload.flatMap(neededAliasSets(cube, _))
    if (querySets.isEmpty) return Nil
    val refsOf: Map[Set[String], Seq[LevelRef]] = querySets.distinct
      .map(s => s -> refsForAliases(cube, s)).toMap

    val cardCache = scala.collection.mutable.Map.empty[String, Long]
    def levelCard(rl: Planner.ResolvedLevel): Long =
      cardCache.getOrElseUpdate(rl.level.alias, {
        val src = rl.dim.join match {
          case Some(js) => cat.table(js.table)
          case None => cat.fact(cube)
        }
        src.select(approx_count_distinct(expr(rl.level.keyExpr)))
          .collect()(0).getLong(0).max(1L)
      })
    def estRows(refs: Seq[LevelRef]): Long = {
      val rls = refs.map(Planner.resolve(cube, _))
      rls.groupBy(_.dim.name).values.map { perDim =>
        levelCard(perDim.maxBy(_.depth)) // deepest level keys the dim's grain
      }.foldLeft(1L)((a, b) => if (a > maxTotalRows) a else a * b)
    }

    val base = querySets.distinct
    val unions = (for {
      (a, i) <- base.zipWithIndex; b <- base.drop(i + 1)
    } yield a ++ b).distinct.filterNot(base.contains)
    val candidates = (base ++ unions).map { s =>
      val refs = refsOf.getOrElse(s, refsForAliases(cube, s))
      Advice(refs, aliasSetOf(cube, refs), estRows(refs), 0)
    }.filter(_.estRows <= maxTotalRows)

    var remaining = querySets
    var budget = maxTotalRows
    val picked = Seq.newBuilder[Advice]
    var n = 0
    while (n < maxRollups && remaining.nonEmpty) {
      val scored = candidates
        .filter(_.estRows <= budget)
        .map(c => c.copy(covers = remaining.count(_.subsetOf(c.aliases))))
        .filter(_.covers > 0)
      if (scored.isEmpty) { remaining = Nil }
      else {
        val best = scored.maxBy(c => (c.covers, -c.estRows))
        picked += best
        budget -= best.estRows
        remaining = remaining.filterNot(_.subsetOf(best.aliases))
        n += 1
      }
    }
    picked.result()
  }

  /** [[advise]] + [[buildMany]] + registration: the whole recommended
    * lattice materializes from ONE fact scan and starts routing. */
  def adviseAndBuild(cat: CubeCatalog, cube: CubeDef,
      workload: Seq[CubeQuery], maxTotalRows: Long,
      maxRollups: Int = 8): Seq[Advice] = {
    val advices = advise(cat, cube, workload, maxTotalRows, maxRollups)
    if (advices.nonEmpty)
      buildMany(cat, cube, advices.map(_.levelRefs))
        .foreach(cat.addRollup(_))
    advices
  }

  /** A query's needed levels as alias sets (chains included), or None when
    * it can never route (dense, properties, non-reaggregable measures). */
  /** EXACT candidate cardinalities in ONE fact scan: every candidate level
    * set becomes a grouping set over the joined fact (the [[buildMany]]
    * lattice, count-only), and the rows per `grouping_id` ARE the exact
    * rollup sizes. The product estimate in [[advise]] is correlation-blind
    * by design (an upper bound costing only dim-frame jobs); this is the
    * measured complement — one fact pass no matter how many candidates. */
  def measureCandidates(cat: CubeCatalog, cube: CubeDef,
      levelSets: Seq[Seq[LevelRef]]): Seq[Long] = {
    require(levelSets.nonEmpty, "no candidates to measure")
    val lat = latticeView(cat, cube, levelSets, "measure")
    require(lat.aliasSets.distinct.length == lat.aliasSets.length,
      "candidate level sets must be distinct")
    val counts = cat.spark.sql(
      s"""SELECT __g AS __gid, COUNT(1) AS __combos FROM (
         |SELECT grouping_id(${lat.allAliases.map(a => s"`$a`")
            .mkString(", ")})
         |  AS __g
         |FROM ${lat.view} GROUP BY ${lat.setsSql}) GROUP BY 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lat.aliasSets.map(aliases => counts.getOrElse(lat.gidOf(aliases), 0L))
  }

  /** The advisor's CANDIDATE TABLE with measured-exact sizes — the report a
    * warehouse team reads before committing storage: each candidate level
    * set (the workload's distinct shapes plus pairwise unions) with its
    * exact row count (one [[measureCandidates]] fact pass) and how many
    * workload queries it can answer. Candidate count is bounded by the
    * workload's shape count squared — report-sized by construction. */
  def candidateTable(cat: CubeCatalog, cube: CubeDef,
      workload: Seq[CubeQuery]): DataFrame = {
    val querySets: Seq[Set[String]] = workload.flatMap(neededAliasSets(cube, _))
    require(querySets.nonEmpty, "no routable queries in the workload")
    val base = querySets.distinct
    val unions = (for {
      (a, i) <- base.zipWithIndex; b <- base.drop(i + 1)
    } yield a ++ b).distinct.filterNot(base.contains)
    val candSets = base ++ unions
    val refs = candSets.map(refsForAliases(cube, _))
    val counts = measureCandidates(cat, cube, refs)
    val spark = cat.spark
    import spark.implicits._
    candSets.zip(counts).map { case (s, n) =>
      (s.toSeq.sorted.mkString(","), n,
        querySets.count(_.subsetOf(s)).toLong)
    }.toDF("levels", "exact_rows", "covers").orderBy("levels")
  }

  private def neededAliasSets(cube: CubeDef, q: CubeQuery)
      : Option[Set[String]] = {
    if (!q.nonempty || q.properties.nonEmpty || q.captions.nonEmpty)
      return None
    val measures = if (q.measures.nonEmpty) q.measures
      else cube.defaultMeasure.toSeq
    // calc/lag/total aliases resolve to bases only inside planCube — the
    // advisor stays conservative and counts only plain routable measures
    if (!measures.forall(n => cube.measure(n).exists(m => supportedAgg(m.agg))))
      return None
    try {
      val (drills, nsCuts) = Planner.expandDrills(cube, q.drilldowns)
      val cutRefs = (q.cuts ++ nsCuts).flatMap {
        case MemberCut(l, _) => Some(l)
        case SetCut(l, _) => Some(l)
        case RangeCut(l, _, _) => Some(l)
        case NamedSetCut(name) => cube.namedSet(name)
          .map(ns => LevelRef(ns.dim, Some(ns.level)))
        case TopKCut(l, _, _, _) => Some(l)
        case TopShareCut(l, _, _, _, _, _) => Some(l)
        case ExcludeCut(l, _) => Some(l)
        case TupleCut(levels, _) => levels
        case nc: NavCut => Planner.navPathRefs(cube, nc)
      }
      val rls = drills ++ cutRefs.map(Planner.resolve(cube, _))
      Some(rls.flatMap(rl => chainOf(rl).flatMap(Planner.levelAliasesOf))
        .toSet)
    } catch { case _: GraftException => None }
  }

  /** Root→level chain of a resolved level (same-hierarchy ancestors). */
  private def chainOf(rl: Planner.ResolvedLevel): Seq[Planner.ResolvedLevel] =
    rl.hier.levels.take(rl.depth + 1).zipWithIndex.map { case (l, i) =>
      Planner.ResolvedLevel(rl.dim, rl.hier, l, i)
    }

  /** LevelRefs whose chains produce exactly this alias set (deepest level
    * per hierarchy that appears in the set). */
  private def refsForAliases(cube: CubeDef, aliases: Set[String])
      : Seq[LevelRef] =
    (for {
      dim <- cube.dimensions
      hier <- dim.hierarchies
      deepest <- hier.levels.zipWithIndex.reverse.collectFirst {
        case (l, i) if aliases.contains(l.alias) =>
          LevelRef(dim.name, Some(l.name), Some(hier.name))
      }
    } yield deepest).distinct

  private def aliasSetOf(cube: CubeDef, refs: Seq[LevelRef]): Set[String] =
    refs.map(Planner.resolve(cube, _))
      .flatMap(rl => chainOf(rl).flatMap(Planner.levelAliasesOf)).toSet

  /** Merge two rollups over the same level set by re-aggregating the
    * partial columns: sums/counts add, min/max fold, HLL sketches union —
    * every partial is associative, so (build(A) merge build(B)) ==
    * build(A ∪ B) exactly, decimal sums and sketch estimates included. */
  def merge(a: Rollup, b: Rollup): Rollup = {
    require(a.cube == b.cube && a.levels == b.levels,
      s"rollup shapes differ: ${a.levels} vs ${b.levels}")
    val levelCols = a.df.columns.filterNot(_.startsWith("__")).toSeq
    val aggCols = a.df.columns.filter(_.startsWith("__")).toSeq.map {
      case c if c.startsWith("__sum_") => sum(col(c)).as(c)
      case c if c.startsWith("__cnt_") => sum(col(c)).as(c)
      case c if c == "__rows" => sum(col(c)).as(c)
      case c if c.startsWith("__min_") => min(col(c)).as(c)
      case c if c.startsWith("__max_") => max(col(c)).as(c)
      case c if c.startsWith("__hll_") => hll_union_agg(col(c)).as(c)
      case c => GraftException.badRequest(s"unknown partial column '$c'")
    }
    Rollup(a.cube, a.levels,
      a.df.unionByName(b.df)
        .groupBy(levelCols.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*))
  }

  /** INCREMENTAL agg-table maintenance: aggregate ONLY the appended fact
    * slice and merge its partials into the stored rollup — at 100 TB this
    * is the difference between a nightly delta scan and re-reading the
    * whole history. `deltaFact` must contain exactly the new fact rows
    * (dims come from the catalog as usual). */
  def refresh(cat: CubeCatalog, cube: CubeDef, levelRefs: Seq[LevelRef],
      path: String, deltaFact: org.apache.spark.sql.DataFrame,
      marker: Option[String] = None): Rollup = {
    val delta = buildOver(cat, cube, levelRefs, deltaFact)
    val target0 = new org.apache.hadoop.fs.Path(path)
    val fs0 = target0.getFileSystem(cat.spark.sparkContext.hadoopConfiguration)
    // first delta against an empty path initializes the rollup — the
    // streaming refresh's batch 0 and the nightly bootstrap are one path
    val merged =
      if (fs0.exists(target0))
        merge(load(cat.spark, cube.name, delta.levels, path), delta)
      else delta
    // Break the read-own-input cycle DISTRIBUTED: write the merged rollup to
    // a sibling temp directory (the plan still reads the old files), then
    // swap with a filesystem rename. No driver-side materialization, so a
    // fine-grained rollup far larger than driver memory refreshes safely.
    val tmp = path + "__refresh_tmp"
    save(Rollup(merged.cube, merged.levels, merged.df), tmp)
    val target = new org.apache.hadoop.fs.Path(path)
    val staged = new org.apache.hadoop.fs.Path(tmp)
    // the marker (e.g. the streaming batch id) rides INSIDE the staged dir,
    // so the swap rename makes data + marker visible atomically — parquet
    // readers ignore underscore-prefixed files
    marker.foreach { m =>
      val out = fs0.create(
        new org.apache.hadoop.fs.Path(staged, "_graft_marker"), true)
      out.write(m.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    }
    val old = new org.apache.hadoop.fs.Path(path + "__refresh_old")
    val fs = target.getFileSystem(cat.spark.sparkContext.hadoopConfiguration)
    // Crash-safe swap: never a moment with NO rollup on disk. Rename the
    // current rollup aside, rename the staged one into place, then drop the
    // aside copy — a crash at any point leaves either the old or the new
    // rollup at a recoverable path (delete-then-rename had a window where
    // both a crash and a concurrent reader saw nothing).
    fs.delete(old, true) // clear any leftover from a previous crashed swap
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(
        s"rollup refresh: rename $path -> ${old.toString} failed")
    if (!fs.rename(staged, target)) {
      fs.rename(old, target) // restore; best-effort — staged copy remains
      throw new java.io.IOException(
        s"rollup refresh: rename $tmp -> $path failed")
    }
    fs.delete(old, true)
    load(cat.spark, cube.name, delta.levels, path)
  }

  /** Persist a rollup as parquet (the durable form of the reference's agg
    * table). Level columns become the physical sort order so re-aggregation
    * scans are clustered. */
  def save(r: Rollup, path: String): Unit =
    r.df.sortWithinPartitions(r.levels.toSeq.sorted.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** The marker last written by [[refresh]] into this rollup directory
    * (None: no rollup, or one never refreshed with a marker). */
  def readMarker(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_marker")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Load a persisted rollup (no cache: parquet IS the materialization). */
  def load(spark: org.apache.spark.sql.SparkSession, cube: String,
      levels: Set[String], path: String): Rollup =
    Rollup(cube, levels, spark.read.parquet(path))

  /** Re-aggregation column for measure `m` over rollup partials. */
  def reAggColumn(m: MeasureDef): Column = {
    val c = m.agg match {
      case Agg.Sum if m.exact => sum(col(s"__sum_${m.alias}")).cast("double")
      case Agg.Sum => sum(col(s"__sum_${m.alias}"))
      case Agg.Avg if m.exact =>
        sum(col(s"__sum_${m.alias}")).cast("double") /
          sum(col(s"__cnt_${m.alias}"))
      case Agg.Avg =>
        sum(col(s"__sum_${m.alias}")) / sum(col(s"__cnt_${m.alias}"))
      case Agg.Count | Agg.CountAll => sum(col(s"__cnt_${m.alias}"))
      case Agg.Min => min(col(s"__min_${m.alias}"))
      case Agg.Max => max(col(s"__max_${m.alias}"))
      case Agg.ApproxDistinctCount =>
        hll_sketch_estimate(hll_union_agg(col(s"__hll_${m.alias}")))
      case other => GraftException.badRequest(
        s"measure '${m.alias}' ($other) cannot be answered from a rollup")
    }
    c.as(m.alias)
  }
}
