package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.planner._
import SparkTestSession.spark

/** Aggregate-table routing (B17): results from a routed rollup must equal
  * the fact-path results exactly; non-additive measures must bypass. */
class RollupSpec extends AnyFunSuite {

  // isolated catalog so rollup registration doesn't leak into other suites
  private lazy val cat: CubeCatalog =
    TpchCatalog.build(spark, SparkTestSession.sf)
  private lazy val cube = cat.cube("sales")

  private def drill(d: String, l: String = null, h: String = null) =
    LevelDrill(LevelRef(d, Option(l), Option(h)))

  private lazy val registered: Unit = {
    val r = Rollups.build(cat, cube, Seq(
      LevelRef("Geography", Some("Region")),
      LevelRef("Geography", Some("Nation")),
      LevelRef("Part", Some("Brand"), Some("Brands")),
      LevelRef("ShipDate", Some("Year"), Some("Monthly"))))
    cat.addRollup(r)
  }

  private def planOf(q: CubeQuery) = { registered; Planner.plan(cat, q) }

  // Routing detector: a routed plan reads the rollup's partial-aggregate
  // columns (__sum_/__cnt_/__min_/__max_/__hll_/__rows — the Rollup naming
  // convention) out of its cached materialization. A bare
  // "InMemoryTableScan" check no longer discriminates: dense member domains
  // are catalog-persisted too, so every dense plan carries one.
  private def usesRollup(df: org.apache.spark.sql.DataFrame): Boolean = {
    val s = df.queryExecution.executedPlan.toString()
    Seq("__sum_", "__cnt_", "__min_", "__max_", "__hll_", "__rows")
      .exists(s.contains)
  }

  test("routed query reads the cached rollup, not the fact") {
    val df = planOf(CubeQuery("sales",
      Seq(drill("Geography", "Region"), drill("Part", "Brand", "Brands")),
      Seq("revenue", "sum_qty", "cnt")))
    // the cached rollup materialization short-circuits the fact lineage
    assert(usesRollup(df))
  }

  test("routed results equal fact-path results bit-for-bit") {
    val q = CubeQuery("sales",
      Seq(drill("Geography", "Region"), drill("Part", "Brand", "Brands")),
      Seq("revenue", "sum_qty", "cnt", "avg_disc", "min_price", "max_price",
        "net"),
      cuts = Seq(MemberCut(LevelRef("Geography", Some("Region")), 2),
        RangeCut(LevelRef("ShipDate", Some("Year"), Some("Monthly")),
          1996, 1998)))
    val routed = planOf(q).collect().map(_.toSeq)
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf) // no rollups
    val direct = Planner.plan(factCat, q).collect().map(_.toSeq)
    assert(routed.toSeq == direct.toSeq)
  }

  test("distinct-count bypasses the rollup (non-additive, B5 carve-out)") {
    val df = planOf(CubeQuery("sales", Seq(drill("Geography", "Region")),
      Seq("order_cnt")))
    assert(!usesRollup(df))
  }

  test("buildMany materializes the rollup lattice in one scan, identically") {
    val c2 = TpchCatalog.build(spark, SparkTestSession.sf)
    val sets = Seq(
      Seq(LevelRef("Geography", Some("Region"))),
      Seq(LevelRef("Geography", Some("Region")),
        LevelRef("Part", Some("Brand"), Some("Brands"))),
      Seq(LevelRef("ShipDate", Some("Year"), Some("Monthly"))))
    val many = Rollups.buildMany(c2, c2.cube("sales"), sets)
    val singles = sets.map(s => Rollups.build(c2, c2.cube("sales"), s))
    many.zip(singles).foreach { case (m, s) =>
      assert(m.levels == s.levels)
      assert(comparable(m.df) == comparable(s.df), s.levels)
    }
  }

  // rollup frames compared with sketch columns reduced to their estimates
  private def comparable(df: org.apache.spark.sql.DataFrame) = {
    val cols = df.columns.map { c =>
      if (c.startsWith("__hll_"))
        org.apache.spark.sql.functions.expr(s"hll_sketch_estimate(`$c`)").as(c)
      else org.apache.spark.sql.functions.col(c)
    }
    df.select(cols.toSeq: _*).collect().map(_.toSeq).toSet
  }

  test("property: routed answers equal the fact path on random queries") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val wide = TpchCatalog.build(spark, SparkTestSession.sf)
    wide.addRollup(Rollups.build(wide, wide.cube("sales"), Seq(
      LevelRef("Geography", Some("Nation")),
      LevelRef("Part", Some("Brand"), Some("Brands")),
      LevelRef("ReturnFlag", Some("ReturnFlag")),
      LevelRef("LineStatus", Some("LineStatus")),
      LevelRef("ShipDate", Some("Year"), Some("Monthly")))))
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf)
    val levels = Seq(
      LevelRef("Geography", Some("Nation")),
      LevelRef("Part", Some("Brand"), Some("Brands")),
      LevelRef("ReturnFlag", Some("ReturnFlag")),
      LevelRef("LineStatus", Some("LineStatus")),
      LevelRef("ShipDate", Some("Year"), Some("Monthly")))
    val qGen = for {
      n <- Gen.choose(1, 3)
      ls <- Gen.pick(n, levels)
      cut <- Gen.option(Gen.oneOf(
        SetCut(LevelRef("ReturnFlag", Some("ReturnFlag")), Seq("A", "R")),
        RangeCut(LevelRef("ShipDate", Some("Year"), Some("Monthly")),
          1996, 1998),
        MemberCut(LevelRef("Geography", Some("Region")), 2)))
    } yield CubeQuery("sales", ls.toSeq.map(LevelDrill(_)),
      Seq("revenue", "cnt", "min_price", "avg_disc"), cuts = cut.toSeq)
    var i = 0
    var done = 0
    val params = Gen.Parameters.default
    while (done < 10 && i < 60) {
      qGen.apply(params, Seed(1234L + i)).foreach { q =>
        val routed = Planner.plan(wide, q).collect().map(_.toSeq)
        val direct = Planner.plan(factCat, q).collect().map(_.toSeq)
        assert(routed.toSeq == direct.toSeq, q)
        done += 1
      }
      i += 1
    }
    assert(done == 10)
  }

  test("incremental refresh equals a full rebuild (partials merge exactly)") {
    import org.apache.spark.sql.functions.col
    val c2 = TpchCatalog.build(spark, SparkTestSession.sf)
    val cube = c2.cube("sales")
    val levels = Seq(LevelRef("Geography", Some("Region")),
      LevelRef("ShipDate", Some("Year"), Some("Monthly")))
    val fact = c2.fact(cube)
    val half1 = fact.where(col("l_orderkey") % 2 === 0)
    val half2 = fact.where(col("l_orderkey") % 2 =!= 0)
    val path = java.nio.file.Files.createTempDirectory("graft-roll").toString
    Rollups.save(Rollups.buildOver(c2, cube, levels, half1), path)
    val refreshed = Rollups.refresh(c2, cube, levels, path, half2)
    val full = Rollups.build(c2, cube, levels)
    assert(refreshed.levels == full.levels)
    assert(comparable(refreshed.df) == comparable(full.df))
    // the crash-safe swap must leave no staging/aside leftovers behind
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + "__refresh_tmp")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + "__refresh_old")))
  }

  test("approx distinct ROUTES via its HLL sketch and matches the fact path") {
    val q = CubeQuery("sales", Seq(drill("Geography", "Region")),
      Seq("part_cnt_approx", "cnt"))
    val df = planOf(q)
    // unlike exact distinct, the sketch union re-aggregates from the rollup
    assert(usesRollup(df))
    val routed = df.collect().map(_.toSeq)
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf) // no rollups
    val direct = Planner.plan(factCat, q).collect().map(_.toSeq)
    // lossless register-wise-max union ⇒ identical estimates, not just close
    assert(routed.toSeq == direct.toSeq)
  }

  test("uncovered level bypasses the rollup") {
    val df = planOf(CubeQuery("sales", Seq(drill("Geography", "Supplier")),
      Seq("revenue")))
    assert(!usesRollup(df))
  }

  test("persisted rollup round-trips and answers routed queries (B17)") {
    val r = Rollups.build(cat, cube, Seq(
      LevelRef("ReturnFlag", Some("ReturnFlag")),
      LevelRef("LineStatus", Some("LineStatus"))))
    val path = java.nio.file.Files.createTempDirectory("graft-rollup")
      .toString + "/rf"
    Rollups.save(r, path)
    val loaded = Rollups.load(spark, "sales", r.levels, path)
    val freshCat = TpchCatalog.build(spark, SparkTestSession.sf)
    freshCat.addRollup(loaded, cache = false)
    val q = CubeQuery("sales",
      Seq(drill("ReturnFlag"), drill("LineStatus")),
      Seq("revenue", "sum_qty", "avg_disc"))
    val routed = Planner.plan(freshCat, q)
    // the routed plan reads the rollup partials, not the fact
    val scans = routed.queryExecution.optimizedPlan.toString()
    assert(scans.contains("__sum_revenue") && !scans.contains("l_extendedprice"))
    val direct = Planner.plan(TpchCatalog.build(spark, SparkTestSession.sf), q)
    assert(routed.collect().map(_.toSeq).toSeq ==
      direct.collect().map(_.toSeq).toSeq)
  }

  /** The partials as rollups stored them before `exact_sum`: a sum of
    * each row's DECIMAL(27,6) cast, over the same joined fact. */
  private def oldCastRollup(levels: Seq[LevelRef]): Rollups.Rollup = {
    import org.apache.spark.sql.functions.{count, expr, lit, sum}
    val rls = levels.map(Planner.resolve(cube, _))
    val joined = Planner.joinForLevels(cat, cube, rls)
    val sums = cube.measures.filter(m => m.exact &&
        (m.agg == Agg.Sum || m.agg == Agg.Avg)).flatMap(m => Seq(
      sum(expr(s"CAST((${m.expr}) AS DECIMAL(27,6))")).as(s"__sum_${m.alias}"),
      count(expr(m.expr)).as(s"__cnt_${m.alias}")))
    val df = joined.groupBy(rls.flatMap(Planner.levelColsOf).distinct: _*)
      .agg(count(lit(1)).as("__rows"), sums: _*)
    Rollups.Rollup(cube.name, rls.flatMap(Planner.levelAliasesOf).toSet, df)
  }

  test("__sum_ partials from buildOver and buildMany keep DECIMAL(37,6) " +
      "and the per-row cast's values; a rollup saved with the cast " +
      "re-aggregates to the same answers") {
    import org.apache.spark.sql.types.DecimalType
    val levels = Seq(LevelRef("Geography", Some("Region")),
      LevelRef("ReturnFlag", Some("ReturnFlag")))
    val old = oldCastRollup(levels)
    val keys = old.levels.toSeq.sorted
    val sumCols = old.df.columns.filter(_.startsWith("__sum_")).toSeq.sorted
    assert(sumCols.nonEmpty)
    def partials(r: Rollups.Rollup) = {
      sumCols.foreach(c =>
        assert(r.df.schema(c).dataType == DecimalType(37, 6), c))
      r.df.select((keys ++ sumCols).map(r.df.col): _*).collect()
        .map(_.toSeq).toSet
    }
    val expected = partials(old)
    assert(partials(Rollups.build(cat, cube, levels)) == expected)
    assert(partials(Rollups.buildMany(cat, cube, Seq(levels)).head) ==
      expected)
    val path = java.nio.file.Files.createTempDirectory("graft-rollup")
      .toString + "/old"
    Rollups.save(old, path)
    val oldCat = TpchCatalog.build(spark, SparkTestSession.sf)
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf)
    try {
      oldCat.addRollup(Rollups.load(spark, "sales", old.levels, path),
        cache = false)
      val q = CubeQuery("sales",
        Seq(drill("Geography", "Region"), drill("ReturnFlag")),
        Seq("revenue", "sum_qty", "avg_disc", "charge"))
      val routed = Planner.plan(oldCat, q)
      assert(usesRollup(routed))
      assert(routed.collect().map(_.toSeq).toSeq ==
        Planner.plan(factCat, q).collect().map(_.toSeq).toSeq)
    } finally { oldCat.close(); factCat.close() }
  }

  test("named-set cut routes when its level is covered") {
    val q = CubeQuery("sales", Seq(drill("Geography", "Region")),
      Seq("revenue"), cuts = Seq(NamedSetCut("Top Brands")))
    val routedDf = planOf(q)
    // the outer aggregation reads the rollup; only the named-set subquery
    // may touch the fact
    val routed = routedDf.collect().map(_.toSeq)
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf)
    val direct = Planner.plan(factCat, q).collect().map(_.toSeq)
    assert(routed.toSeq == direct.toSeq)
  }

  test("TopPercent cut routes like TopCount (IN-list on a covered level)") {
    val q = CubeQuery("sales", Seq(drill("Geography", "Region")),
      Seq("revenue"),
      cuts = Seq(TopShareCut(LevelRef("Part", Some("Brand"), Some("Brands")),
        25.0, "revenue")))
    val routed = planOf(q).collect().map(_.toSeq)
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf)
    val direct = Planner.plan(factCat, q).collect().map(_.toSeq)
    assert(routed.toSeq == direct.toSeq)
  }

  test("GENERATE (q86 shape) routes through a covering rollup: per-group " +
      "top-k over additive measures is valid on the rollup grain and " +
      "equals the fact path bit-for-bit; the dense form refuses") {
    registered
    def mdx(nonEmpty: String) = MdxParser.parse(cube,
      s"""SELECT {[Measures].[Revenue]} ON COLUMNS,
         |${nonEmpty}GENERATE([Geography].[Geography].[Region].Members,
         |  TOPCOUNT([Part].[Brands].[Brand].Members, 2,
         |    [Measures].[Quantity])) ON ROWS
         |FROM sales""".stripMargin)
    val routedDf = Planner.plan(cat, mdx("NON EMPTY "))
    // the GroupedTopK pass runs over the rollup's re-aggregation — the
    // fact scan disappears (the rank measure rides the rollup too)
    assert(usesRollup(routedDf))
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf)
    val direct = Planner.plan(factCat, mdx("NON EMPTY "))
      .collect().map(_.toSeq)
    assert(routedDf.collect().map(_.toSeq).toSeq == direct.toSeq)
    assert(direct.nonEmpty)
    // dense mode enumerates member domains from the dim tables — must
    // refuse the rollup and still agree with the fact path
    val denseDf = Planner.plan(cat, mdx(""))
    assert(!usesRollup(denseDf))
    assert(denseDf.collect().map(_.toSeq).toSeq ==
      Planner.plan(factCat, mdx("")).collect().map(_.toSeq).toSeq)
  }

  test("EXTRACT (q88 shape) routes through a covering rollup and equals " +
      "the fact path") {
    registered
    val q = MdxParser.parse(cube,
      """SELECT {[Measures].[Revenue]} ON COLUMNS,
        |NON EMPTY EXTRACT(
        |  CROSSJOIN([Geography].[Geography].[Nation].Members,
        |    [Part].[Brands].[Brand].Members), [Part]) ON ROWS
        |FROM sales""".stripMargin)
    val routedDf = Planner.plan(cat, q)
    assert(usesRollup(routedDf))
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf)
    val direct = Planner.plan(factCat, q).collect().map(_.toSeq)
    assert(routedDf.collect().map(_.toSeq).toSeq == direct.toSeq)
    assert(direct.nonEmpty)
  }

  test("GENERATE under a partial-policy role refuses the rollup (grants " +
      "filter the dim-joined fact) and equals the fact path under the " +
      "same role") {
    val ordersCube = cat.cube("orders")
    cat.addRollup(Rollups.build(cat, ordersCube, Seq(
      LevelRef("Geography", Some("Region")),
      LevelRef("Priority", Some("Priority")))))
    def mdx(role: Option[String]) = MdxParser.parse(ordersCube,
      """SELECT {[Measures].[Total Sales]} ON COLUMNS,
        |NON EMPTY GENERATE([Geography].[Geography].[Region].Members,
        |  TOPCOUNT([Priority].[Priority].[Priority].Members, 2,
        |    [Measures].[Total Sales])) ON ROWS
        |FROM orders""".stripMargin).copy(role = role)
    // sanity: the unroled query DOES route over this rollup
    assert(usesRollup(Planner.plan(cat, mdx(None))))
    val roled = Planner.plan(cat, mdx(Some("emea")))
    assert(!usesRollup(roled))
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf)
    val direct = Planner.plan(factCat, mdx(Some("emea")))
      .collect().map(_.toSeq)
    assert(roled.collect().map(_.toSeq).toSeq == direct.toSeq)
    assert(direct.nonEmpty)
  }

  // --- round-5 verdict #5: the post-agg measure classes (domain lag, cum,
  // moving, share-of-total) must either route correctly or refuse ---

  private def L(d: String, l: String, h: String = null) =
    LevelRef(d, Some(l), Option(h))

  private lazy val monthRollup: Unit = {
    registered
    cat.addRollup(Rollups.build(cat, cube, Seq(
      L("ShipDate", "Year", "Monthly"), L("ShipDate", "Month", "Monthly"))))
  }

  private def routedVsDirect(q: CubeQuery, expectRouted: Boolean): Unit = {
    monthRollup
    val routedDf = Planner.plan(cat, q)
    assert(usesRollup(routedDf) == expectRouted,
      s"expected routed=$expectRouted for $q")
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf)
    val direct = Planner.plan(factCat, q).collect().map(_.toSeq)
    assert(routedDf.collect().map(_.toSeq).toSeq == direct.toSeq)
  }

  test("domain-exact lag (q54 shape) ROUTES: relaxed time cuts apply on " +
      "rollup aliases, PrevMember reaches the cut-away month") {
    routedVsDirect(CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "prev_revenue", "revenue_growth", "ytd_revenue"),
      cuts = Seq(SetCut(L("ShipDate", "Month", "Monthly"), Seq(1, 2, 4)))),
      expectRouted = true)
  }

  test("cumulative Ytd (q48 shape) ROUTES") {
    routedVsDirect(CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "ytd_revenue")), expectRouted = true)
  }

  test("trailing moving average (q60 shape) ROUTES under a gap cut") {
    routedVsDirect(CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "revenue_3mo_avg"),
      cuts = Seq(SetCut(L("ShipDate", "Month", "Monthly"), Seq(1, 4, 9)))),
      expectRouted = true)
  }

  test("share-of-total (q57 shape) ROUTES: the axis-window total runs over " +
      "the rollup aggregation") {
    routedVsDirect(CubeQuery("sales",
      Seq(drill("Geography", "Region"), drill("Part", "Brand", "Brands")),
      Seq("revenue", "revenue_geo_total", "revenue_geo_share")),
      expectRouted = true)
  }

  test("dense mode (q55/q59 shape) REFUSES: filler domains come from dim " +
      "tables, not partials") {
    routedVsDirect(CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "prev_revenue"), nonempty = false),
      expectRouted = false)
  }

  test("median REFUSES (non-additive) while sum on the same rollup ROUTES") {
    val orders = cat.cube("orders")
    cat.addRollup(Rollups.build(cat, orders,
      Seq(LevelRef("Geography", Some("Region")))))
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf)
    def check(measure: String, expectRouted: Boolean): Unit = {
      val q = CubeQuery("orders", Seq(drill("Geography", "Region")),
        Seq(measure))
      val routedDf = Planner.plan(cat, q)
      assert(usesRollup(routedDf) == expectRouted,
        s"expected routed=$expectRouted for $measure")
      assert(routedDf.collect().map(_.toSeq).toSeq ==
        Planner.plan(factCat, q).collect().map(_.toSeq).toSeq)
    }
    check("total_sales", expectRouted = true)
    check("median_order", expectRouted = false)
  }

  test("aggregate designer: workload-driven advice respects the row budget " +
      "and the built lattice routes every covered query") {
    val adviseCat = TpchCatalog.build(spark, SparkTestSession.sf)
    val c = adviseCat.cube("sales")
    val regionQ = CubeQuery("sales",
      Seq(drill("Geography", "Region")), Seq("revenue"))
    val regionFlagQ = CubeQuery("sales",
      Seq(drill("Geography", "Region"), drill("ReturnFlag")),
      Seq("revenue", "cnt"))
    val partQ = CubeQuery("sales",
      Seq(drill("Part", "Part", "Brands")), Seq("revenue"))
    val workload =
      Seq.fill(5)(regionQ) ++ Seq.fill(3)(regionFlagQ) ++ Seq.fill(2)(partQ)

    // tight budget: the ~200-part rollup can't fit; the region-family can.
    // The designer prefers ONE union rollup covering both region shapes.
    val tight = Rollups.advise(adviseCat, c, workload, maxTotalRows = 100L)
    assert(tight.nonEmpty)
    assert(tight.map(_.covers).sum == 8, s"got $tight")
    assert(tight.forall(a => !a.aliases.contains("part")))
    assert(tight.map(_.estRows).sum <= 100L)

    // generous budget: everything covered; the lattice builds in one scan
    // and every workload query routes with fact-identical results
    val advices = Rollups.adviseAndBuild(adviseCat, c, workload,
      maxTotalRows = 100000L)
    assert(advices.map(_.covers).sum == workload.length)
    val factCat = TpchCatalog.build(spark, SparkTestSession.sf)
    Seq(regionQ, regionFlagQ, partQ).foreach { q =>
      val routed = Planner.plan(adviseCat, q)
      assert(routed.queryExecution.optimizedPlan.toString()
        .contains("__sum_"), s"query $q did not route")
      assert(routed.collect().map(_.toSeq).toSeq ==
        Planner.plan(factCat, q).collect().map(_.toSeq).toSeq)
    }

    // unroutable shapes contribute nothing (dense, properties, median-class)
    assert(Rollups.advise(adviseCat, c,
      Seq(regionQ.copy(nonempty = false)), 100000L).isEmpty)
  }

  test("measured candidate table: exact sizes from one lattice pass") {
    import org.apache.spark.sql.functions.col
    val c = cat.cube("sales")
    val workload = Seq(
      CubeQuery("sales", Seq(drill("Geography", "Region")), Seq("revenue")),
      CubeQuery("sales",
        Seq(drill("Geography", "Region"), drill("ReturnFlag")),
        Seq("revenue")))
    val table = Rollups.candidateTable(cat, c, workload).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // candidates: {region}, {region, returnflag} (the union duplicates
    // the second shape, so exactly two rows)
    assert(table.size == 2)
    // exact sizes equal independent distinct counts over the joined fact
    val li = cat.table("lineitem")
    val geo = li
      .join(cat.table("supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(cat.table("nation"), col("s_nationkey") === col("n_nationkey"))
      .join(cat.table("region"), col("n_regionkey") === col("r_regionkey"))
    val nRegion = geo.select("r_regionkey").distinct().count()
    val nRegionFlag =
      geo.select("r_regionkey", "l_returnflag").distinct().count()
    val regionRow = table.find(_._1.startsWith("region")).get
    val bothRow = table.find(_._1.contains("return")).get
    assert(regionRow._2 == ((nRegion, 1L)))
    assert(bothRow._2 == ((nRegionFlag, 2L)))
  }

  test("TopCount and TopPercent keys follow a rollup replacement: a batch " +
      "that changes the ranking re-ranks the cut") {
    import org.apache.spark.sql.functions.{col, when}
    val c = TpchCatalog.build(spark, SparkTestSession.sf)
    try {
      val region = LevelRef("Geography", Some("Region"))
      val r = Rollups.build(c, c.cube("sales"), Seq(region))
      c.addRollup(r)
      def top(cut: Cut): Any = {
        val q = CubeQuery("sales", Seq(LevelDrill(region)), Seq("revenue"),
          cuts = Seq(cut))
        val rows = Planner.plan(c, q).collect()
        assert(rows.length == 1, s"$cut kept ${rows.length} regions")
        rows.head.getAs[Any]("region")
      }
      val topCount = TopKCut(region, 1, "revenue")
      val topPercent = TopShareCut(region, 1.0, "revenue")
      val before = top(topCount)
      assert(top(topPercent) == before)
      // the next batch: every other region's revenue grows 1000×, so the
      // previous leader drops out of the top
      val sumType = r.df.schema("__sum_revenue").dataType
      c.replaceRollup(r.copy(df = r.df.withColumn("__sum_revenue",
        when(col("region") === before, col("__sum_revenue"))
          .otherwise((col("__sum_revenue") * 1000).cast(sumType)))))
      val leader = Planner.plan(c, CubeQuery("sales",
        Seq(LevelDrill(region)), Seq("revenue"))).collect()
        .maxBy(_.getAs[Double]("revenue")).getAs[Any]("region")
      assert(leader != before)
      assert(top(topCount) == leader)
      assert(top(topPercent) == leader)
    } finally c.close()
  }
}
