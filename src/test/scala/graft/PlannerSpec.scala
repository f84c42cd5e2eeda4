package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.GraftException
import graft.planner._
import SparkTestSession.{catalog => cat, spark}

/** Plan-level + exact-value tests — the analog of the reference's
  * query_builder_spec (plan assertions) and api_spec exact values. */
class PlannerSpec extends AnyFunSuite {

  private def drill(d: String, l: String = null, h: String = null) =
    LevelDrill(LevelRef(d, Option(l), Option(h)))

  test("grand total matches the DuckDB oracle exactly (B15)") {
    val row = Planner.plan(cat, CubeQuery("sales", Nil,
      Seq("revenue", "sum_qty", "cnt", "order_cnt"))).collect()(0)
    assert(row.getDouble(0) == 301270840.1572) // bit-exact via DECIMAL(27,6)
    assert(row.getDouble(1) == 152257.0)
    assert(row.getLong(2) == 6000L)
    assert(row.getLong(3) == 1473L)
  }

  test("dense-fill and time-window joins broadcast by estimated bytes " +
      "against the session's broadcast threshold") {
    // events' dimensions are all degenerate, so the fill / expansion join
    // is the plan's only hash join
    val denseFill = CubeQuery("events",
      Seq(drill("EventDate", "Day", "Daily"), drill("EventType")),
      Seq("value_sum", "event_count"), nonempty = false)
    val timeWindow = CubeQuery("events",
      Seq(drill("User"), drill("EventDate", "Day", "Daily")),
      Seq("value_sum", "prev_day_value"))
    def executedPlan(q: CubeQuery): String = {
      val df = Planner.plan(cat, q)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    for (q <- Seq(denseFill, timeWindow)) {
      val kept = executedPlan(q)
      assert(kept.contains("BroadcastHashJoin"), kept)
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val threshold = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      try {
        val off = executedPlan(q)
        assert(!off.contains("BroadcastHashJoin"), off)
      } finally threshold.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("exact sums cast no row to DECIMAL(27,6) and stay a codegen'd " +
      "HashAggregate (q01, q02)") {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      ObjectHashAggregateExec, SortAggregateExec}
    object Plans extends AdaptiveSparkPlanHelper
    for (q <- Seq("q01_returnflag_agg", "q02_star_drilldown")) {
      val df = SparkEntry.queries(q)(spark, SparkTestSession.sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val aggs = Plans.collect(plan) { case h: HashAggregateExec => h }
      assert(aggs.nonEmpty, plan)
      assert(aggs.exists(_.aggregateExpressions.exists(
        _.aggregateFunction.isInstanceOf[graft.functions.ExactSum])), plan)
      for (h <- aggs; node <- Plans.collect(h) { case p: SparkPlan => p };
           e <- node.expressions)
        assert(!e.sql.toUpperCase.contains("AS DECIMAL(27,6)"), node)
      assert(Plans.collect(plan) {
        case a: ObjectHashAggregateExec => a
        case a: SortAggregateExec => a
      }.isEmpty, plan)
      val inCodegen = Plans.collect(plan) { case w: WholeStageCodegenExec =>
        Plans.collect(w.child) { case h: HashAggregateExec => h } }.flatten
      assert(aggs.forall(inCodegen.contains), plan)
    }
  }

  test("drilldown output columns: key, label, measures in order (A2)") {
    val df = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Region"), drill("Part", "Brand", "Brands")),
      Seq("revenue", "sum_qty")))
    assert(df.columns.toSeq ==
      Seq("region", "region_label", "brand", "revenue", "sum_qty"))
  }

  test("additivity: region revenues sum to the grand total") {
    val total = Planner.plan(cat, CubeQuery("sales", Nil, Seq("revenue")))
      .collect()(0).getDouble(0)
    val parts = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Region")), Seq("revenue")))
      .collect().map(_.getDouble(2)).sum
    assert(math.abs(parts - total) < 1e-4)
  }

  test("cut replaces drilldown at the same level (A4 fusion)") {
    val df = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Region")), Seq("revenue"),
      cuts = Seq(MemberCut(LevelRef("Geography", Some("Region")), 2))))
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getInt(0) == 2)
  }

  test("descendants: cut at Region + drill Supplier = filter + deep group (A8)") {
    val viaCut = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Supplier")), Seq("revenue"),
      cuts = Seq(MemberCut(LevelRef("Geography", Some("Region")), 3))))
      .collect().map(r => (r.get(0), r.getDouble(2))).toMap
    val all = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Supplier")), Seq("revenue"), parents = true))
      .collect().filter(_.getInt(0) == 3)
      .map(r => (r.get(4), r.getDouble(6))).toMap
    assert(viaCut == all && viaCut.nonEmpty)
  }

  test("an at-level pin under parents=true merges the ancestor-split " +
      "cells (the flattened member spans years) instead of max-picking " +
      "one year's value") {
    import graft.model.{PinnedMeasureDef, PinSpec}
    val pin = PinnedMeasureDef("pin_m3", "revenue",
      Seq(PinSpec("ShipDate", "Month", 3)))
    val rows = Planner.plan(cat, CubeQuery("sales",
        Seq(drill("ShipDate", "Month")), Seq("revenue", "pin_m3"),
        parents = true, adhocPinned = Seq(pin))).collect()
    // ground truth: total revenue of every month-3 fact across ALL years
    // (the flattened member's meaning) — with parents=true the axis rows
    // split month 3 by year, so a selection-only window would silently
    // surface just one year's cell
    val want = Planner.plan(cat, CubeQuery("sales", Nil, Seq("revenue"),
        cuts = Seq(MemberCut(LevelRef("ShipDate", Some("Month")), 3))))
      .collect().head.get(0)
    assert(rows.nonEmpty)
    assert(rows.map(r => (r.getAs[Any]("ship_year"),
      r.getAs[Any]("ship_month"))).distinct.length > 12,
      "parents mode must split months by year for this test to bite")
    rows.foreach(r => assert(r.getAs[Any]("pin_m3") == want,
      s"row ${r.mkString(",")} pin ${r.getAs[Any]("pin_m3")} vs $want"))
  }

  test("drilling above the cut level is a 400 (A9 ascendant guard)") {
    val e = intercept[GraftException] {
      Planner.plan(cat, CubeQuery("sales",
        Seq(drill("Geography", "Region")), Seq("revenue"),
        cuts = Seq(MemberCut(LevelRef("Geography", Some("Nation")), 5))))
    }
    assert(e.status == 400)
  }

  test("nonempty result is a subset of dense; dense = domain cross product (C1)") {
    val dense = Planner.plan(cat, CubeQuery("events",
      Seq(drill("EventDate", "Day", "Daily"), drill("EventType")),
      Seq("value_sum"), nonempty = false)).collect()
    val sparse = Planner.plan(cat, CubeQuery("events",
      Seq(drill("EventDate", "Day", "Daily"), drill("EventType")),
      Seq("value_sum"), nonempty = true)).collect()
    assert(dense.length == 30 * 5) // |days| × |event types| at sf0.001
    assert(sparse.length <= dense.length)
    val denseKeys = dense.map(r => (r.get(0), r.get(1))).toSet
    val sparseKeys = sparse.map(r => (r.get(0), r.get(1))).toSet
    assert(sparseKeys.subsetOf(denseKeys))
    // sparse filter drops exactly the all-null rows
    assert(dense.count(r => !r.isNullAt(2)) == sparse.length)
  }

  test("dense axes beyond the cell cap are a 400, not a driver OOM (C1 guard)") {
    spark.conf.set("spark.graft.dense.maxCells", "10")
    try {
      val e = intercept[GraftException] {
        Planner.plan(cat, CubeQuery("events",
          Seq(drill("EventDate", "Day", "Daily"), drill("EventType")),
          Seq("value_sum"), nonempty = false)).collect() // 150 cells > 10
      }
      assert(e.status == 400)
      assert(e.getMessage.contains("maxCells"), e.getMessage)
      // sparse (nonempty) queries never enumerate the domain — unaffected
      val sparse = Planner.plan(cat, CubeQuery("events",
        Seq(drill("EventDate", "Day", "Daily"), drill("EventType")),
        Seq("value_sum"), nonempty = true)).collect()
      assert(sparse.nonEmpty)
    } finally spark.conf.unset("spark.graft.dense.maxCells")
  }

  test("lag window expansion beyond the cell cap is a 400 — a " +
      "high-cardinality drilldown with a lag measure must not " +
      "materialize axis × calendar unbounded (B8 guard)") {
    // User × Day with a PREVMEMBER measure expands the agg output to the
    // dense users × calendar product before the window — the same blowup
    // class as the dense formatter, capped by the same knob
    val q = CubeQuery("events",
      Seq(drill("User"), drill("EventDate", "Day", "Daily")),
      Seq("value_sum", "prev_day_value"), nonempty = true)
    // sf0.001: 15 users × 30 days = 450 cells; 5 event types × 30 = 150
    spark.conf.set("spark.graft.dense.maxCells", "200")
    try {
      val e = intercept[GraftException] { Planner.plan(cat, q).collect() }
      assert(e.status == 400)
      assert(e.getMessage.contains("expansion"), e.getMessage)
      // a lag query whose expansion fits the cap still runs
      val small = Planner.plan(cat, CubeQuery("events",
        Seq(drill("EventType"), drill("EventDate", "Day", "Daily")),
        Seq("value_sum", "prev_day_value"), nonempty = true)).collect()
      assert(small.nonEmpty)
    } finally spark.conf.unset("spark.graft.dense.maxCells")
    // at the default cap the same query is fine and lag values stay
    // domain-exact
    assert(Planner.plan(cat, q).collect().nonEmpty)
  }

  test("HAVING keeps only qualifying groups, applied before ORDER (A10)") {
    val rows = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Part", "Brand", "Brands")), Seq("revenue"),
      filters = Seq(MeasureFilter("revenue", ">", 1.0e7)))).collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(1) > 1.0e7))
  }

  test("offset/limit paginate a stable total order (A12)") {
    val all = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Supplier")), Seq("revenue"))).collect()
    val page = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Supplier")), Seq("revenue"),
      offset = 3, limit = Some(4))).collect()
    assert(page.toSeq == all.slice(3, 7).toSeq)
  }

  test("named-set drill = top-k by measure, then grouped (A15/B9)") {
    val top = Planner.plan(cat, CubeQuery("sales",
      Seq(NamedSetDrill("Top Brands")), Seq("revenue"))).collect()
    assert(top.length == 5)
    val all = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Part", "Brand", "Brands")), Seq("revenue")))
      .collect().sortBy(-_.getDouble(1)).take(5)
      .map(_.getString(0)).toSet
    assert(top.map(_.getString(0)).toSet == all)
  }

  test("virtual cube full-outer joins conformed axes (B10)") {
    val df = Planner.plan(cat, CubeQuery("commerce",
      Seq(drill("Geography", "Region")),
      Seq("revenue", "total_sales", "rev_per_order")))
    val rows = df.collect()
    assert(rows.length == 5)
    assert(df.columns.toSeq == Seq("region", "region_label", "revenue",
      "total_sales", "rev_per_order"))
  }

  test("lag measure requires its time dimension drilled (B8)") {
    val e = intercept[GraftException] {
      Planner.plan(cat, CubeQuery("sales",
        Seq(drill("Geography", "Region")), Seq("prev_revenue")))
    }
    assert(e.status == 400)
  }

  test("lag values shift by one time bucket (B8)") {
    val rows = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly")),
      Seq("revenue", "prev_revenue"))).collect()
    assert(rows(0).isNullAt(2))
    (1 until rows.length).foreach { i =>
      assert(rows(i).getDouble(2) == rows(i - 1).getDouble(1))
    }
  }

  test("PARALLELPERIOD lag shifts by 12 month buckets (B8 extension)") {
    val rows = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "yoy_prev_revenue"))).collect()
    (0 until math.min(12, rows.length)).foreach(i => assert(rows(i).isNullAt(3)))
    (12 until rows.length).foreach { i =>
      assert(rows(i).getDouble(3) == rows(i - 12).getDouble(2),
        s"row $i: yoy_prev != revenue 12 back")
    }
  }

  test("YTD running measure accumulates within, and resets at, each year") {
    val rows = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "ytd_revenue"))).collect()
    var year = -1; var acc = BigDecimal(0)
    rows.foreach { r =>
      if (r.getInt(0) != year) { year = r.getInt(0); acc = BigDecimal(0) }
      acc += BigDecimal(r.getDouble(2))
      assert(math.abs(r.getDouble(3) - acc.toDouble) < 1e-6,
        s"ytd at $year-${r.getInt(1)}")
    }
  }

  test("lag under a gap-creating time cut references the hierarchy-previous member") {
    // ref semantics (foodmart.xml:351-366 + query_helper.rb:234-246): a cut
    // on the time level selects the AXIS members, but PrevMember walks the
    // hierarchy — at Apr under cut {Jan,Feb,Apr}, prev = the cut-away Mar;
    // at Jan, prev = Dec of the previous year. Ytd(Apr) likewise includes
    // the cut-away Mar (PeriodsToDate runs from the period start).
    val all = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue"))).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val rows = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "prev_revenue", "ytd_revenue"),
      cuts = Seq(SetCut(LevelRef("ShipDate", Some("Month"), Some("Monthly")),
        Seq(1, 2, 4))))).collect()
    assert(rows.nonEmpty && rows.forall(r => Set(1, 2, 4)(r.getInt(1))))
    rows.foreach { r =>
      val (y, m) = (r.getInt(0), r.getInt(1))
      val expectPrev =
        if (m == 4) all.get((y, 3))
        else if (m == 2) all.get((y, 1))
        else all.get((y - 1, 12))
      expectPrev match {
        case Some(v) => assert(r.getDouble(3) == v, s"$y-$m prev_revenue")
        case None => assert(r.isNullAt(3), s"$y-$m prev_revenue not null")
      }
    }
    rows.filter(_.getInt(1) == 4).foreach { r =>
      val y = r.getInt(0)
      val want = Seq(1, 2, 3, 4).flatMap(m => all.get((y, m))).sum
      assert(math.abs(r.getDouble(4) - want) < 1e-5, s"$y ytd at Apr")
    }
  }

  test("YTD requires its time dimension drilled, incl. the reset level") {
    val e = intercept[GraftException] {
      Planner.plan(cat, CubeQuery("sales",
        Seq(drill("Geography", "Region")), Seq("ytd_revenue")))
    }
    assert(e.status == 400)
  }

  test("member cuts on fact columns push down to the parquet scan") {
    val df = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("LineStatus")), Seq("revenue"),
      cuts = Seq(MemberCut(LevelRef("ReturnFlag", Some("ReturnFlag")), "R"))))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      "cut should reach PushedFilters")
  }

  test("distinct-count is exact per group (B5)") {
    val viaCube = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("ReturnFlag")), Seq("order_cnt"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val li = cat.table("lineitem")
    val direct = li.groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.countDistinct("l_orderkey"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaCube == direct)
  }

  test("ALL-member total: window over the other dims; base when not drilled") {
    // Region x Brand: revenue_geo_total is the per-brand sum across regions
    val rows = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Region"), drill("Part", "Brand")),
      Seq("revenue", "revenue_geo_total", "revenue_geo_share"))).collect()
    val byBrand = rows.groupBy(_.getString(2))
    byBrand.values.foreach { brandRows =>
      val total = brandRows.map(r => BigDecimal(r.getDouble(3))).sum.toDouble
      brandRows.foreach { r =>
        assert(math.abs(r.getDouble(4) - total) < 1e-6,
          s"brand ${r.getString(2)} total")
        assert(math.abs(r.getDouble(5) - r.getDouble(3) / total) < 1e-12)
      }
      // shares within a brand partition sum to 1
      assert(math.abs(brandRows.map(_.getDouble(5)).sum - 1.0) < 1e-9)
    }
    // Geography not drilled: it already sits at All — total == base, share = 1
    val flat = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Part", "Brand")),
      Seq("revenue", "revenue_geo_total", "revenue_geo_share"))).collect()
    flat.foreach { r =>
      assert(r.getDouble(2) == r.getDouble(1))
      assert(r.getDouble(3) == 1.0)
    }
    // a cut on the total's own dim: the total is the cut set's sum (the
    // share-of-visible semantics the scaladoc documents)
    val cutRows = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Region")),
      Seq("revenue", "revenue_geo_total"),
      cuts = Seq(SetCut(LevelRef("Geography", Some("Region")), Seq(1, 3))))).collect()
    assert(cutRows.length == 2)
    val visSum = cutRows.map(r => BigDecimal(r.getDouble(2))).sum.toDouble
    cutRows.foreach(r => assert(math.abs(r.getDouble(3) - visSum) < 1e-6))
  }

  test("moving average spans calendar members, not the cut axis") {
    // full-domain truth: every (year, month) revenue
    val full = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue"))).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val ordered = full.keys.toSeq.sorted
    val cut = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "revenue_3mo_avg"),
      cuts = Seq(SetCut(LevelRef("ShipDate", Some("Month"),
        Some("Monthly")), Seq(4))))).collect()
    assert(cut.nonEmpty)
    cut.foreach { r =>
      val key = (r.getInt(0), r.getInt(1))
      assert(key._2 == 4)
      // trailing 3 CALENDAR members ending at this month — Feb/Mar are cut
      // from the axis but still inside the window
      val idx = ordered.indexOf(key)
      val win = ordered.slice(math.max(0, idx - 2), idx + 1).map(full)
      val want = win.map(BigDecimal(_)).sum.toDouble / win.length
      assert(math.abs(r.getDouble(3) - want) < 1e-6, s"$key moving avg")
    }
    // requires its time drilldown
    val e = intercept[GraftException](Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Region")), Seq("revenue_3mo_avg"))))
    assert(e.status == 400)
  }

  test("virtual cube + named-set cut is a 400, never silently unfiltered") {
    // 'Top Brands' exists on sales but not on the orders member cube of the
    // 'commerce' virtual cube — dropping it there would return drill-across
    // rows the user asked to exclude
    val e = intercept[GraftException] {
      Planner.plan(cat, CubeQuery("commerce", Seq(drill("Geography", "Region")),
        Seq("revenue", "total_sales"), cuts = Seq(NamedSetCut("Top Brands"))))
    }
    assert(e.status == 400)
    assert(e.getMessage.contains("Top Brands"))
  }

  test("star views: raw SQL over <cube>_star matches the planner") {
    cat.registerStarViews()
    val sqlRows = spark.sql(
      """SELECT region, region_label, sum(revenue_raw) AS revenue
        |FROM sales_star GROUP BY 1, 2 ORDER BY 1""".stripMargin).collect()
    val planned = Planner.plan(cat, CubeQuery("sales",
      Seq(LevelDrill(LevelRef("Geography", Some("Region")))),
      Seq("revenue"))).collect()
    assert(sqlRows.length == planned.length && sqlRows.nonEmpty)
    sqlRows.zip(planned).foreach { case (s, p) =>
      assert(s.getInt(0) == p.getInt(0) && s.getString(1) == p.getString(1))
      // raw double sum vs the planner's DECIMAL-exact path: same value up
      // to accumulation-order noise
      assert(math.abs(s.getDouble(2) - p.getDouble(2)) <
        1e-9 * math.abs(p.getDouble(2)))
    }
    // shared levels materialize once; measures read naturally
    val cols = spark.table("sales_star").columns
    assert(cols.count(_ == "ship_year") == 1)
    assert(cols.contains("revenue_raw") && cols.contains("ship_week"))
  }
}
