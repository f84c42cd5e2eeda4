package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model._

/** Binds a [[SchemaDef]] to concrete DataFrames (the analog of the reference's
  * schema catalog + JDBC connection singleton, api_helpers.rb:7-16).
  *
  * Snowflake dimensions are pre-joined by the catalog's builder (SURVEY §2.B
  * B3) — the planner only ever sees star equi-joins against a single dim
  * frame. The builder names those frames in `preJoins`; each is joined once,
  * on its first read, and kept on the driver when it fits the broadcast
  * budget (see [[table]]).
  */
final class CubeCatalog(
    val spark: SparkSession,
    val schema: SchemaDef,
    tables: Map[String, DataFrame],
    preJoins: Set[String] = Set.empty) {

  private val preJoined = TrieMap.empty[String, CubeCatalog.Once[DataFrame]]

  /** The frame registered as `name`. A snowflake pre-join is collected
    * into a LocalRelation the first time it is read, when its rows fit the
    * session's `spark.sql.autoBroadcastJoinThreshold` at Catalyst's
    * per-row size estimate: every later query and member dictionary then
    * reads it without re-running the join or its scans. One over the
    * budget stays the lazy join. */
  def table(name: String): DataFrame = {
    val df = tables.getOrElse(name,
      GraftException.notFound(s"table not found: $name"))
    if (!preJoins(name)) df
    else preJoined.getOrElseUpdate(name,
      new CubeCatalog.Once(CubeCatalog.localIfSmall(spark, df))).value
  }

  def cube(name: String): CubeDef =
    schema.cube(name).getOrElse(GraftException.notFound(s"cube not found: $name"))

  def fact(cube: CubeDef): DataFrame = table(cube.factTable)

  // B17: registered aggregate tables (materialized rollups) the planner may
  // route to; cached so repeated queries reuse the materialization.
  private val rollupReg =
    new java.util.concurrent.CopyOnWriteArrayList[graft.planner.Rollups.Rollup]

  def addRollup(r: graft.planner.Rollups.Rollup, cache: Boolean = true): Unit = {
    rollupReg.add(if (cache) r.copy(df = r.df.cache()) else r)
    ()
  }

  def rollups: Seq[graft.planner.Rollups.Rollup] = {
    import scala.jdk.CollectionConverters._
    rollupReg.asScala.toSeq
  }

  // directories this catalog owns (a side catalog's agg-table parquet),
  // deleted by close so a flush-and-rebuild cycle leaves nothing behind
  private val ownedDirs = TrieMap.empty[String, Unit]

  /** Hand `dir` to this catalog: [[close]] deletes it. */
  def deleteOnClose(dir: String): Unit = ownedDirs.put(dir, ())

  /** Swap the registered rollup with the same (cube, level-set) identity —
    * the streaming refresh re-registers after every batch swap, because a
    * parquet-backed frame pins its file listing at read time and the swap
    * renames those files away. Uncached by default: for a continuously
    * refreshed rollup the parquet IS the materialization. */
  def replaceRollup(r: graft.planner.Rollups.Rollup,
      cache: Boolean = false): Unit = {
    import scala.jdk.CollectionConverters._
    rollupReg.asScala
      .filter(x => x.cube == r.cube && x.levels == r.levels)
      .foreach { old =>
        old.df.unpersist(blocking = false)
        rollupReg.remove(old)
      }
    rollupReg.add(if (cache) r.copy(df = r.df.cache()) else r)
    // the rollup's DATA changed (a streaming batch merged in) — cached axis
    // rows computed from the previous generation are stale for any query
    // that routed (or would now route) to it, and so are the TopCount /
    // TopPercent member keys, which rank through the same routing.
    // Registration-only changes (addRollup) never alter results, but a
    // REPLACEMENT does.
    topKCache.clear()
    topShareCache.clear()
    resultCache.synchronized(resultCache.clear())
    ()
  }

  // Member memo maps: unbounded TrieMaps that live until /flush (close),
  // each filled in Spark on first use. topKCache, topShareCache,
  // navKeyCache and memberCountCache hold driver-side keys or counts,
  // keyed by what a request names (k and measure, TopShare cuts, a
  // navigated member's key), so their entry count grows with distinct
  // requests. memberFrameCache is keyed per level and persists one
  // executor frame per entry. The member dictionaries further down are
  // keyed by level sets only and pin nothing on the executors.
  //
  // A7/B9 member-key cache: resolved named-set / TopCount keys, computed once
  // per catalog (the reference's member-cache analog — /flush drops the whole
  // catalog, cache included). Keyed by (cube, dim, hierarchy, level, k,
  // measure); values are the k member keys, driver-side.
  private val topKCache = TrieMap.empty[(String, String, String, String, Int,
    String), Seq[Any]]

  def cachedTopKKeys(key: (String, String, String, String, Int, String))(
      compute: => Seq[Any]): Seq[Any] =
    topKCache.getOrElseUpdate(key, compute)

  // TopPercent/TopSum member sets, memoized like TopCount keys (threshold
  // is part of the identity; absolute distinguishes TOPSUM from TOPPERCENT).
  // The `within` cuts participate STRUCTURALLY (case-class equality), not
  // as a string rendering — toString identity can collide across cuts whose
  // values stringify identically (SetCut(Seq("1")) vs SetCut(Seq(1)))
  private val topShareCache = TrieMap.empty[
    (String, graft.planner.TopShareCut, Option[String]), Seq[Any]]

  def cachedTopShareKeys(
      key: (String, graft.planner.TopShareCut, Option[String]))(
      compute: => Seq[Any]): Seq[Any] =
    topShareCache.getOrElseUpdate(key, compute)

  // C9 member-frame cache: the distinct() member list of a level, persisted
  // on the executors (NOT collected — a 100 TB dimension stays distributed;
  // the reference caches driver-side member lists, its documented hazard).
  // Dropped with the catalog on /flush like everything else.
  private val memberFrameCache =
    TrieMap.empty[(String, String, Boolean), DataFrame]

  def cachedMemberFrame(key: (String, String, Boolean))(
      compute: => DataFrame): DataFrame =
    memberFrameCache.getOrElseUpdate(key, compute.persist())

  // Member-navigation keys (MDX ANCESTOR/.Parent/FirstChild/LastChild/
  // OPENINGPERIOD/CLOSINGPERIOD): (cube, structural NavCut, role) → the
  // navigated member's full path keys (root→target — a member's identity
  // is its path, not its leaf key). The role is part of the identity
  // because the anchor lookup is member-filtered per role (B18). One
  // 1-row lookup per distinct navigation per catalog, dropped on /flush
  // like every member cache.
  private val navKeyCache =
    TrieMap.empty[(String, graft.planner.NavCut, Option[String]), Any]

  def cachedNavKey(key: (String, graft.planner.NavCut, Option[String]))(
      compute: => Any): Any =
    navKeyCache.getOrElseUpdate(key, compute)

  // COUNT(Members) constants: (cube, level id, role name) → member count
  // (MDX adhoc-count substitution — Planner.resolveAdhocCounts)
  private val memberCountCache = TrieMap.empty[(String, String, String), Long]

  def cachedMemberCount(key: (String, String, String))(
      compute: => Long): Long =
    memberCountCache.getOrElseUpdate(key, compute)

  // Member dictionaries (Planner.memberDictionary): the distinct key,
  // name and ordinal rows of one dimension's level set, collected once
  // and kept as a driver-side LocalRelation. Dense-fill domains, lag/cum
  // time-member domains and the lag guard's member counts resolve from
  // them on the driver, so a request that differs from an earlier one
  // only in its cut values runs no planner job. Keyed by (cube,
  // dimension, level aliases) — never by cut values — so the entry count
  // is bounded by the schema's level sets, and no executor state is
  // pinned. A key builds once even when requests race to it; a build
  // that throws (the dense-cells cap) is retried by the next request.
  private val dictionaries = TrieMap.empty[(String, String, Seq[String]),
    CubeCatalog.Once[DataFrame]]

  def cachedDictionary(key: (String, String, Seq[String]))(
      build: => DataFrame): DataFrame =
    dictionaries.getOrElseUpdate(key, new CubeCatalog.Once(build)).value

  // RESULT cache — the Mondrian cell/segment-cache analog and the reason
  // the reference exposes /flush at all (api.rb:52-64): repeated dashboard
  // queries and level-member listings answer from memory without a Spark
  // job. Keyed by a [[CubeCatalog.ResultKey]] (case classes — structural
  // equality), values are COLLECTED rows: axis rows are axis-sized by
  // construction (the dense-cells guard bounds them) and a listing holds
  // the page it answered, so the LRU-capped driver footprint is rows ×
  // entries. Dropped with the catalog on /flush; access-ordered so hot
  // dashboards stay resident. Size: spark.graft.result.cache.entries
  // (0 disables).
  private val resultCacheMax: Int =
    spark.conf.getOption("spark.graft.result.cache.entries")
      .map(_.toInt).getOrElse(256)
  private val resultCache =
    new java.util.LinkedHashMap[CubeCatalog.ResultKey,
        (Seq[org.apache.spark.sql.Row], Seq[String])](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[CubeCatalog.ResultKey,
            (Seq[org.apache.spark.sql.Row], Seq[String])]): Boolean =
        size() > resultCacheMax
    }

  /** (rows, columns) for a query, computed once per catalog generation. */
  def cachedResult(q: graft.planner.CubeQuery)(
      compute: => (Seq[org.apache.spark.sql.Row], Seq[String]))
      : (Seq[org.apache.spark.sql.Row], Seq[String]) =
    cached(CubeCatalog.ResultKey.Query(q))(compute)

  /** (rows, columns) for `key`, computed once per catalog generation.
    * `compute` runs OUTSIDE the lock (a slow plan must not serialize the
    * request pool; two racing first callers both compute, one result wins —
    * plans are deterministic so both are identical). */
  def cached(key: CubeCatalog.ResultKey)(
      compute: => (Seq[org.apache.spark.sql.Row], Seq[String]))
      : (Seq[org.apache.spark.sql.Row], Seq[String]) = {
    if (resultCacheMax <= 0) return compute
    val hit = resultCache.synchronized(resultCache.get(key))
    if (hit != null) hit
    else {
      val computed = compute
      resultCache.synchronized {
        val raced = resultCache.get(key)
        if (raced != null) raced
        else { resultCache.put(key, computed); computed }
      }
    }
  }

  /** Flattened star frame for a cube — the raw-SQL escape hatch: every
    * level's key (alias), label and ordinal expressions materialized as
    * columns over the dim-joined fact, plus each measure's INPUT expression
    * as `<alias>_raw` (so `SELECT region, sum(revenue_raw) … GROUP BY 1`
    * reads naturally). [[registerStarViews]] publishes one temp view per
    * cube as `<cube>_star`. Columns prune into the scans; the dim JOINS
    * themselves are inner equi-joins Catalyst cannot eliminate without FK
    * constraints, but they are broadcast and dim-sized — the planner path
    * stays the optimized surface. NOTE: views bypass the planner —
    * DECIMAL-exact measure arithmetic and the result cache live in the
    * REST/planner layer; role grants apply only when a `role` is passed
    * here (see [[registerStarViews]]). */
  def starFrame(cube: CubeDef, role: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val rs = graft.planner.Roles.resolve(schema, role)
    rs.foreach(graft.planner.Roles.checkCubeAccess(_, cube.name))
    // a denied hierarchy (effective "none") or out-of-band level gets no
    // COLUMNS at all — the planner path 403s those levels on any drill or
    // cut, so the SQL surface must not publish their values either
    val rls = cube.dimensions.flatMap(d => d.hierarchies.flatMap(h =>
      h.levels.map(l =>
        graft.planner.Planner.ResolvedLevel(d, h, l, h.depthOf(l)))))
      .filter(rl => rs.forall(
        graft.planner.Roles.levelAccessible(_, cube, rl)))
    val joined0 = graft.planner.Planner.joinForLevels(this, cube, rls)
    // star views reveal ROWS, so like drillthrough any custom member grant
    // filters them regardless of rollupPolicy (policies govern aggregated
    // CELLS; the rows behind a member are visible iff the member is)
    val joined = graft.planner.Roles.customGrants(rs, cube)
      .filter(_.restricts)
      .foldLeft(joined0)((df, g) => df.filter(g.visibleCol))
    // dedupe by alias — shared levels (Year in the Monthly AND Weekly
    // hierarchies) materialize once
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val lvlCols = rls.flatMap { rl =>
      graft.planner.Planner.levelColsOf(rl)
        .zip(graft.planner.Planner.levelAliasesOf(rl))
    }.collect { case (c, a) if seen.add(a) => c }
    val measureCols = cube.measures
      .filter(_.expr != "1") // CountAll's synthetic input isn't a column
      .map(m => expr(m.expr).as(m.alias + "_raw"))
    joined.select(lvlCols ++ measureCols: _*)
  }

  /** Publish star temp views for every cube in the schema.
    *
    * Naming: the no-role call publishes `<cube>_star`; a role-scoped call
    * publishes `<cube>_star__<role>`. The namespaces are DISJOINT — a
    * role-scoped registration never touches the bare names and vice
    * versa — so the restriction level behind a view name can never depend
    * on which registration ran last, and concurrent sessions serving
    * different roles cannot read each other's rows through a shared name.
    * An invisible cube (role cannot see it) gets no view, and any earlier
    * registration of that role's own name is dropped.
    *
    * SECURITY: star views hand raw rows to anyone with Spark SQL access to
    * the session, bypassing the REST layer's per-request role checks. On a
    * role-enforcing deployment either do not call this at all, or pass the
    * session's `role` — then invisible cubes get no view and custom member
    * grants filter the published rows (drillthrough semantics). The
    * no-role call is the explicit opt-in to an UNRESTRICTED SQL surface. */
  def registerStarViews(role: Option[String] = None): Unit = {
    val rs = graft.planner.Roles.resolve(schema, role)
    // Mondrian role names are free text ("California manager") but temp
    // view names must be identifiers: map non-identifier chars to '_' and,
    // when that changed anything, append a stable hash so two roles that
    // sanitize identically ("a b" vs "a_b") cannot collide on one view
    // name and silently serve each other's rows.
    val suffix = role.fold("") { r =>
      val safe = r.replaceAll("[^A-Za-z0-9_]", "_")
      if (safe == r) s"__$r"
      else s"__${safe}_${(r.hashCode & 0x7fffffff).toHexString}"
    }
    schema.cubes.foreach { c =>
      if (rs.forall(_.cubeVisible(c.name)))
        starFrame(c, role).createOrReplaceTempView(s"${c.name}_star$suffix")
      else
        // this role's own view from an earlier registration must not
        // survive a schema change that made the cube invisible to it
        spark.catalog.dropTempView(s"${c.name}_star$suffix")
    }
  }

  /** Release executor-side state this catalog pinned (persisted member
    * frames, cached rollups) and delete the directories it owns. Without this, /flush would only drop the
    * TrieMap while Spark's CacheManager kept the InMemoryRelations
    * registered — canonically-equal plans from the rebuilt catalog would
    * silently reuse stale cached data. */
  def close(): Unit = {
    memberFrameCache.values.foreach(_.unpersist(blocking = false))
    memberFrameCache.clear()
    dictionaries.clear()
    preJoined.clear()
    rollups.foreach(_.df.unpersist(blocking = false))
    rollupReg.clear()
    topKCache.clear()
    topShareCache.clear()
    memberCountCache.clear()
    navKeyCache.clear()
    resultCache.synchronized(resultCache.clear())
    ownedDirs.keys.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    ownedDirs.clear()
  }
}

object CubeCatalog {
  /** `compute`, evaluated at most once however many threads ask for
    * [[value]] (a failed evaluation is retried by the next caller). */
  final class Once[T](compute: => T) {
    lazy val value: T = compute
  }

  /** `df` collected into a LocalRelation when its rows fit the session's
    * broadcast budget at Catalyst's per-row size estimate, else `df`. One
    * job: a `limit` one row past the budget. */
  private def localIfSmall(spark: SparkSession, df: DataFrame): DataFrame = {
    val maxRows = graft.ops.Dedup.broadcastRows(spark, df.schema)
    if (maxRows <= 0) df
    else {
      val rows = df.limit(math.min(maxRows, Int.MaxValue - 1L).toInt + 1)
        .collect()
      if (rows.length > maxRows) df
      else {
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.toSeq.asJava, df.schema)
      }
    }
  }

  /** Identity of one result-cache entry: a normalized query, or one page
    * of an unrestricted level-member listing. */
  sealed trait ResultKey
  object ResultKey {
    final case class Query(q: graft.planner.CubeQuery) extends ResultKey
    final case class Listing(cube: String, level: String, withProps: Boolean,
        offset: Long, limit: Option[Int]) extends ResultKey
  }

  // One catalog per (session, data dir, variant) — dims stay registered
  // across queries, the analog of the reference's schema/member cache
  // (api_helpers.rb:10-16).
  private val cache = TrieMap.empty[(SparkSession, String, String), CubeCatalog]

  def forDir(spark: SparkSession, sfDir: String): CubeCatalog =
    shared(spark, sfDir, "")(TpchCatalog.build(spark, sfDir))

  /** The catalog `variant` over `sfDir`, built by `build` on first use and
    * then shared like [[forDir]]'s, until [[flush]] closes it. For side
    * catalogs that must not leak into the default one (an XML-declared
    * schema, registered rollups). */
  private[graft] def shared(spark: SparkSession, sfDir: String,
      variant: String)(build: => CubeCatalog): CubeCatalog =
    cache.getOrElseUpdate((spark, sfDir, variant), build)

  /** Drop cached catalogs — the `/flush` analog (ref api.rb:52-70).
    * Unpersists every frame each catalog pinned before forgetting it, so a
    * rebuilt catalog re-reads the source data instead of hitting stale
    * executor cache blocks. */
  def flush(): Unit = {
    cache.values.foreach(_.close())
    cache.clear()
    graft.ops.IndexCache.invalidate()
  }
}

/** The driver-testdata star schema (TESTDATA.md) expressed as cubes.
  * Mirrors the *shape* of the reference fixtures: foodmart.xml's Sales cube ↔
  * `sales` over lineitem; webshop.xml's simple star ↔ `orders`; a degenerate-
  * dimension cube (foodmart.xml:414-433 Store) ↔ `events`.
  */
object TpchCatalog {

  def build(spark: SparkSession, sfDir: String): CubeCatalog = {
    // events.parquet carries TIMESTAMP(NANOS) which Spark's reader rejects
    // (µs is its native unit): read nanos as long, convert to µs timestamps.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def load(name: String): DataFrame =
      spark.read.parquet(s"$sfDir/$name.parquet")

    val region = load("region")
    val nation = load("nation")
    val customer = load("customer")
    val supplier = load("supplier")
    val part = load("part")
    val orders = load("orders")
    val lineitem = load("lineitem")
    val events = {
      val raw = load("events")
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      raw.schema("ts").dataType match {
        // TIMESTAMP(NANOS) read as epoch-nano longs → µs instants
        case LongType => raw.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
        // TIMESTAMP(MICROS) without UTC adjustment reads as NTZ; the session
        // runs in UTC, so the cast keeps the same epoch micros while giving
        // downstream unix_micros() the instant type it requires
        case TimestampNTZType => raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => raw
      }
    }
    val documents = load("documents")
    val embeddings = load("embeddings")

    // Snowflake pre-joins (ref <Join> foodmart.xml:71-75): geography chains
    // collapse to one dim frame each, joined on first read (preJoins).
    val geo = nation.join(region, nation("n_regionkey") === region("r_regionkey"))
    val suppGeo = supplier.join(geo, supplier("s_nationkey") === geo("n_nationkey"))
    val custGeo = customer.join(geo, customer("c_nationkey") === geo("n_nationkey"))

    val tables = Map(
      "region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings, "supp_geo" -> suppGeo, "cust_geo" -> custGeo)

    new CubeCatalog(spark, schemaDef, tables,
      preJoins = Set("supp_geo", "cust_geo"))
  }

  private def geoHierarchy(leaf: Seq[LevelDef]): HierarchyDef = HierarchyDef(
    "Geography",
    Seq(
      LevelDef("Region", "r_regionkey", "region", nameExpr = Some("r_name")),
      LevelDef("Nation", "n_nationkey", "nation", nameExpr = Some("n_name"))
    ) ++ leaf)

  val salesCube: CubeDef = CubeDef(
    name = "sales",
    factTable = "lineitem",
    dimensions = Seq(
      DimensionDef("Geography", Seq(geoHierarchy(Seq(
        LevelDef("Supplier", "s_suppkey", "supplier", nameExpr = Some("s_name"),
          properties = Seq(PropertyDef("Account Balance", "s_acctbal", "supplier_acctbal")))))),
        join = Some(JoinSpec("supp_geo", "l_suppkey", "s_suppkey"))),
      DimensionDef("Part", Seq(
        HierarchyDef("Brands", Seq(
          LevelDef("Brand", "p_brand", "brand"),
          LevelDef("Part", "p_partkey", "part", nameExpr = Some("p_name"),
            properties = Seq(
              PropertyDef("Size", "p_size", "part_size"),
              PropertyDef("Retail Price", "p_retailprice", "part_retailprice"),
              PropertyDef("Type", "p_type", "part_type_prop"))))),
        HierarchyDef("Types", Seq(
          LevelDef("Type", "p_type", "part_type"),
          LevelDef("Part", "p_partkey", "part", nameExpr = Some("p_name"))))),
        join = Some(JoinSpec("part", "l_partkey", "p_partkey"))),
      // Degenerate time dimension: levels are exprs over the fact row itself
      // (ref TimeDimension foodmart.xml:49-68; degenerate cube :414-433).
      DimensionDef("ShipDate", Seq(
        HierarchyDef("Monthly", Seq(
          LevelDef("Year", "year(l_shipdate)", "ship_year"),
          LevelDef("Quarter", "quarter(l_shipdate)", "ship_quarter"),
          LevelDef("Month", "month(l_shipdate)", "ship_month"))),
        HierarchyDef("Weekly", Seq(
          LevelDef("Year", "year(l_shipdate)", "ship_year"),
          LevelDef("Week", "weekofyear(l_shipdate)", "ship_week"))),
        // B13 name/ordinal expression split: keyed+labeled by month NAME,
        // member order driven by a separate ordinal expression
        HierarchyDef("MonthNames", Seq(
          LevelDef("MonthName", "date_format(l_shipdate, 'MMMM')",
            "month_name", ordExpr = Some("month(l_shipdate)"))))),
        isTime = true),
      DimensionDef("ReturnFlag", Seq(HierarchyDef("ReturnFlag",
        Seq(LevelDef("ReturnFlag", "l_returnflag", "return_flag"))))),
      DimensionDef("LineStatus", Seq(HierarchyDef("LineStatus",
        Seq(LevelDef("LineStatus", "l_linestatus", "line_status"))))),
      // A *large* dimension (fact-sized): must NOT broadcast — shuffle join,
      // co-partitioned on the key. Exercises the non-broadcast star-join path.
      DimensionDef("Order", Seq(
        HierarchyDef("Priority", Seq(
          LevelDef("Priority", "o_orderpriority", "order_priority"))),
        HierarchyDef("Status", Seq(
          LevelDef("Status", "o_orderstatus", "order_status")))),
        join = Some(JoinSpec("orders", "l_orderkey", "o_orderkey",
          broadcastable = false)))),
    measures = Seq(
      MeasureDef("Quantity", "sum_qty", Agg.Sum, "l_quantity"),
      MeasureDef("Gross", "gross", Agg.Sum, "l_extendedprice"),
      MeasureDef("Revenue", "revenue", Agg.Sum,
        "l_extendedprice * (1.0 - l_discount)"),
      MeasureDef("Discount Amount", "disc_amt", Agg.Sum,
        "l_extendedprice * l_discount"),
      MeasureDef("Charge", "charge", Agg.Sum,
        "l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)"),
      MeasureDef("Line Count", "cnt", Agg.CountAll, "1"),
      MeasureDef("Order Count", "order_cnt", Agg.DistinctCount, "l_orderkey"),
      MeasureDef("Approx Part Count", "part_cnt_approx",
        Agg.ApproxDistinctCount, "l_partkey"),
      MeasureDef("Avg Discount", "avg_disc", Agg.Avg, "l_discount"),
      MeasureDef("Min Price", "min_price", Agg.Min, "l_extendedprice"),
      MeasureDef("Max Price", "max_price", Agg.Max, "l_extendedprice"),
      // Expression measure (ref CASE-WHEN MeasureExpression foodmart.xml:305-344)
      MeasureDef("Promo Revenue", "promo_rev", Agg.Sum,
        "CASE WHEN l_discount > 0.05 THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")),
    calcMembers = Seq(
      CalcMemberDef("net", "gross - disc_amt"),
      CalcMemberDef("disc_rate", "disc_amt / gross"),
      // references the lag measure below (ref Profit Growth foodmart.xml:359-366)
      CalcMemberDef("revenue_growth",
        "CASE WHEN prev_revenue = 0.0 OR prev_revenue IS NULL THEN NULL ELSE (revenue - prev_revenue) / prev_revenue END"),
      // year-over-year growth via the PARALLELPERIOD lag (periods = 12)
      CalcMemberDef("yoy_growth",
        "CASE WHEN yoy_prev_revenue = 0.0 OR yoy_prev_revenue IS NULL THEN NULL ELSE (revenue - yoy_prev_revenue) / yoy_prev_revenue END"),
      // share-of-total over Geography: the MDX
      // '[Revenue] / ([Revenue], [Geography].[All])' pattern
      CalcMemberDef("revenue_geo_share",
        "CASE WHEN revenue_geo_total = 0.0 OR revenue_geo_total IS NULL THEN NULL ELSE revenue / revenue_geo_total END")),
    lagMeasures = Seq(
      LagMeasureDef("prev_revenue", "revenue", "ShipDate"),
      // ParallelPeriod(Year, 1) at Month grain: same month, previous year
      LagMeasureDef("yoy_prev_revenue", "revenue", "ShipDate", periods = 12)),
    totalMeasures = Seq(
      // ([Revenue], [Geography].[All]): revenue with Geography rolled up
      TotalMeasureDef("revenue_geo_total", "revenue", "Geography")),
    movingMeasures = Seq(
      // Avg(LastPeriods(3), Revenue) at Month grain: trailing 3-month mean
      MovingMeasureDef("revenue_3mo_avg", "revenue", "ShipDate", 3)),
    cumMeasures = Seq(
      // Ytd(): revenue accumulated within each shipment year
      CumMeasureDef("ytd_revenue", "revenue", "ShipDate", "Year")),
    namedSets = Seq(
      NamedSetDef("Top Brands", "Part", "Brand", 5, "revenue"),
      NamedSetDef("Top Suppliers", "Geography", "Supplier", 3, "revenue")),
    defaultMeasure = Some("revenue"))

  val ordersCube: CubeDef = CubeDef(
    name = "orders",
    factTable = "orders",
    dimensions = Seq(
      DimensionDef("Geography", Seq(geoHierarchy(Seq(
        LevelDef("Customer", "c_custkey", "customer", nameExpr = Some("c_name"),
          properties = Seq(
            PropertyDef("Segment", "c_mktsegment", "customer_segment"),
            PropertyDef("Account Balance", "c_acctbal", "customer_acctbal")))))),
        join = Some(JoinSpec("cust_geo", "o_custkey", "c_custkey"))),
      DimensionDef("Segment", Seq(HierarchyDef("Segment",
        Seq(LevelDef("Segment", "c_mktsegment", "segment")))),
        join = Some(JoinSpec("cust_geo", "o_custkey", "c_custkey"))),
      DimensionDef("OrderDate", Seq(
        HierarchyDef("Monthly", Seq(
          LevelDef("Year", "year(o_orderdate)", "order_year"),
          LevelDef("Quarter", "quarter(o_orderdate)", "order_quarter"),
          LevelDef("Month", "month(o_orderdate)", "order_month")))),
        isTime = true),
      DimensionDef("Priority", Seq(HierarchyDef("Priority",
        Seq(LevelDef("Priority", "o_orderpriority", "order_priority"))))),
      DimensionDef("Status", Seq(HierarchyDef("Status",
        Seq(LevelDef("Status", "o_orderstatus", "order_status")))))),
    measures = Seq(
      MeasureDef("Total Sales", "total_sales", Agg.Sum, "o_totalprice"),
      MeasureDef("Order Count", "order_count", Agg.CountAll, "1"),
      MeasureDef("Customer Count", "customer_count", Agg.DistinctCount,
        "o_custkey"),
      MeasureDef("Avg Order Value", "avg_order", Agg.Avg, "o_totalprice"),
      MeasureDef("Max Order Value", "max_order", Agg.Max, "o_totalprice"),
      MeasureDef("Median Order Value", "median_order", Agg.Median,
        "o_totalprice")),
    defaultMeasure = Some("total_sales"))

  val eventsCube: CubeDef = CubeDef(
    name = "events",
    factTable = "events",
    dimensions = Seq(
      DimensionDef("EventType", Seq(HierarchyDef("EventType",
        Seq(LevelDef("EventType", "event_type", "event_type"))))),
      DimensionDef("EventDate", Seq(
        HierarchyDef("Daily", Seq(
          LevelDef("Year", "year(ts)", "event_year"),
          LevelDef("Day", "CAST(ts AS DATE)", "event_day")))),
        isTime = true),
      DimensionDef("User", Seq(HierarchyDef("User",
        Seq(LevelDef("User", "user_id", "user")))))),
    measures = Seq(
      MeasureDef("Value", "value_sum", Agg.Sum, "value"),
      MeasureDef("Events", "event_count", Agg.CountAll, "1"),
      MeasureDef("Users", "user_count", Agg.DistinctCount, "user_id"),
      MeasureDef("Avg Value", "avg_value", Agg.Avg, "value")),
    calcMembers = Seq(
      // null-safe ratio over the lag below — evaluates on DENSE filler
      // cells too (a day the user was idle still shows the growth vs the
      // previous active day as null, Mondrian's empty-cell arithmetic)
      CalcMemberDef("day_value_growth",
        "CASE WHEN prev_day_value = 0.0 OR prev_day_value IS NULL THEN NULL ELSE (value_sum - prev_day_value) / prev_day_value END")),
    lagMeasures = Seq(
      // PREVMEMBER at Day grain: per-partition gaps are the NORM here
      // (users are idle most days), so this measure exercises the
      // domain-exact lag path — prev = previous calendar day in the
      // dimension, null when that day has no data for the partition
      LagMeasureDef("prev_day_value", "value_sum", "EventDate")),
    totalMeasures = Seq(
      // ([Value], [EventDate].[All]): the user's lifetime value — on DENSE
      // axes every filler day still carries it (Mondrian evaluates the All
      // tuple on empty cells), exercising the post-densify backfill
      TotalMeasureDef("value_user_total", "value_sum", "EventDate")))

  // Drill-across virtual cube over the conformed Geography dimension
  // (ref Warehouse and Sales foodmart.xml:758-790).
  val commerceVirtual: VirtualCubeDef = VirtualCubeDef(
    name = "commerce",
    cubeMeasures = Seq(
      "sales" -> Seq("revenue", "sum_qty"),
      "orders" -> Seq("total_sales", "order_count")),
    calcMembers = Seq(
      CalcMemberDef("rev_per_order", "revenue / order_count")))

  /** B18 demo roles over the star schema (region keys are TPC-H's:
    * 0 AFRICA, 1 AMERICA, 2 ASIA, 3 EUROPE, 4 MIDDLE EAST). One role per
    * grant shape the engine supports: the three rollup policies over a
    * member grant, a nested member-grant override, a schema-level cube
    * restriction, and a pure level band. */
  private def emeaGeoGrant(policy: String, extra: Seq[MemberGrantDef] = Nil) =
    HierarchyGrantDef("Geography", rollupPolicy = policy,
      memberGrants = MemberGrantDef("Region", Seq(0, 3), "all") +: extra)

  val roles: Seq[RoleDef] = Seq(
    // partial: only AFRICA+EUROPE customers aggregate anywhere
    RoleDef("emea", cubeGrants = Seq(CubeGrantDef("orders", "all",
      Seq(emeaGeoGrant("partial"))))),
    // full: same axis membership, but rollups keep their complete values
    RoleDef("emea_full", cubeGrants = Seq(CubeGrantDef("orders", "all",
      Seq(emeaGeoGrant("full"))))),
    // hidden: a rollup spanning invisible members shows null
    RoleDef("emea_hidden", cubeGrants = Seq(CubeGrantDef("orders", "all",
      Seq(emeaGeoGrant("hidden"))))),
    // nested override (Mondrian grant-then-deny): EMEA minus one nation
    // inside it (the testdata maps nation k to region k % 5, so nation 3
    // sits in region 3)
    RoleDef("emea_minus_one", cubeGrants = Seq(CubeGrantDef("orders",
      "all", Seq(emeaGeoGrant("partial",
        Seq(MemberGrantDef("Nation", Seq(3), "none"))))))),
    // schema-level restriction: ONLY the orders cube is visible
    RoleDef("orders_only", schemaAccess = "none",
      cubeGrants = Seq(CubeGrantDef("orders", "all"))),
    // level band: sales Geography visible only down to Nation (no
    // Supplier level, no member restriction)
    RoleDef("nation_band", cubeGrants = Seq(CubeGrantDef("sales", "all",
      Seq(HierarchyGrantDef("Geography", topLevel = Some("Region"),
        bottomLevel = Some("Nation")))))))

  val schemaDef: SchemaDef = SchemaDef("graft",
    Seq(salesCube, ordersCube, eventsCube), Seq(commerceVirtual), roles)
}
