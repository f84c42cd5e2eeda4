package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.Server
import graft.model.{CubeGrantDef, GraftException, HierarchyGrantDef,
  MemberGrantDef, RoleDef}
import graft.planner._
import graft.result.Json
import SparkTestSession.{catalog => cat, spark}

/** B18 roles/grants — the operator the reference's schema format supports
  * but its REST API never exposed (SURVEY §2.B B18). Covers the three
  * rollup policies, nested member-grant overrides, schema-level cube
  * grants, level bands, dense-axis membership, and the REST surface. */
class RoleSpec extends AnyFunSuite {

  private def drill(d: String, l: String = null, h: String = null) =
    LevelDrill(LevelRef(d, Option(l), Option(h)))

  private def q(role: String, drills: Drill*) =
    CubeQuery("orders", drills, Seq("total_sales"), role = Option(role))

  private def status(t: Throwable): Int = t match {
    case g: GraftException => g.status
    case _ => -1
  }

  // ground truth straight from the tables: customers in regions 0/3
  private lazy val visibleSales: Double = {
    val cg = cat.table("cust_geo").filter(col("r_regionkey").isin(0, 3))
      .select("c_custkey")
    cat.table("orders").join(cg,
        cat.table("orders")("o_custkey") === cg("c_custkey"), "left_semi")
      .agg(sum(expr("CAST(o_totalprice AS DECIMAL(27,6))")).cast("double"))
      .collect()(0).getDouble(0)
  }
  private lazy val allSales: Double =
    cat.table("orders")
      .agg(sum(expr("CAST(o_totalprice AS DECIMAL(27,6))")).cast("double"))
      .collect()(0).getDouble(0)

  test("GENERATE under a member grant: partitions exist only for granted " +
      "members and the per-group top-k aggregates granted data only") {
    val mdx = MdxParser.parse(cat.cube("orders"),
      """SELECT {[Measures].[Total Sales]} ON COLUMNS,
        |NON EMPTY GENERATE([Geography].[Geography].[Region].Members,
        |  TOPCOUNT([Priority].[Priority].[Priority].Members, 2,
        |    [Measures].[Total Sales])) ON ROWS
        |FROM orders""".stripMargin).copy(role = Some("emea"))
    val rows = Planner.plan(cat, mdx).collect()
      .map(r => (r.getInt(0), r.getString(2), r.getDouble(3)))
    // no partition for an ungranted region — membership AND values filter
    assert(rows.map(_._1).toSet == Set(0, 3))
    // equals the brute per-group recompute under the same role
    val full = Planner.plan(cat, q("emea", drill("Geography", "Region"),
        drill("Priority"))).collect()
      .map(r => (r.getInt(0), r.getString(2), r.getDouble(3)))
    val expect = full.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (_, g) => g.sortBy(t => (-t._3, t._2)).take(2)
    }
    assert(rows.toSeq == expect.toSeq)
    // and the unroled query sees every region — the role drove the gap
    val open = Planner.plan(cat, mdx.copy(role = None)).collect()
    assert(open.map(_.getInt(0)).toSet.size > 2)
  }

  test("schema-level grant: invisible cube 403s and drops from metadata") {
    val e = intercept[GraftException] {
      Planner.plan(cat, CubeQuery("sales", Nil, Seq("revenue"),
        role = Some("orders_only")))
    }
    assert(e.status == 403)
    // the virtual cube inherits schemaAccess=none too
    val e2 = intercept[GraftException] {
      Planner.plan(cat, CubeQuery("commerce", Nil, Seq("revenue"),
        role = Some("orders_only")))
    }
    assert(e2.status == 403)
    // metadata view
    val role = Roles.resolve(cat.schema, Some("orders_only"))
    assert(Roles.visibleCubes(cat.schema, role).map(_.name) == Seq("orders"))
    assert(Roles.visibleVirtualCubes(cat.schema, role).isEmpty)
    // and the granted cube still answers
    assert(Planner.plan(cat, q("orders_only")).collect().nonEmpty)
  }

  test("unknown role is a 403, not a planner error") {
    val e = intercept[GraftException] {
      Planner.plan(cat, q("nonexistent_role"))
    }
    assert(e.status == 403)
  }

  test("partial policy: every rollup aggregates visible members only") {
    val got = Planner.plan(cat, q("emea")).collect()(0).getDouble(0)
    assert(math.abs(got - visibleSales) < 1e-6)
    assert(visibleSales < allSales * 0.9) // the restriction actually bites
  }

  test("full policy: rollups keep complete values; axis membership filters") {
    // undrilled grand total: the FULL value, not the restricted one
    val total = Planner.plan(cat, q("emea_full")).collect()(0).getDouble(0)
    assert(math.abs(total - allSales) < 1e-6)
    // drilled at the grant level: only regions 0 and 3 on the axis, each
    // carrying its complete per-region value
    val rows = Planner.plan(cat, q("emea_full", drill("Geography", "Region")))
      .collect()
    assert(rows.map(_.getInt(0)).toSet == Set(0, 3))
    val unrestricted = Planner.plan(cat,
      CubeQuery("orders", Seq(drill("Geography", "Region")),
        Seq("total_sales")))
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    rows.foreach(r =>
      assert(math.abs(r.getDouble(2) - unrestricted(r.getInt(0))) < 1e-6))
  }

  test("hidden policy: a rollup spanning invisible members shows null") {
    // grand total includes hidden regions → null
    val row = Planner.plan(cat, q("emea_hidden")).collect()(0)
    assert(row.isNullAt(0))
    // at the grant level each visible region's subtree is fully visible →
    // complete values survive
    val rows = Planner.plan(cat,
      q("emea_hidden", drill("Geography", "Region"))).collect()
    assert(rows.map(_.getInt(0)).toSet == Set(0, 3))
    assert(rows.forall(!_.isNullAt(2)))
    // below the grant level: nations of visible regions, all complete
    val nations = Planner.plan(cat,
      q("emea_hidden", drill("Geography", "Nation"))).collect()
    val expected = cat.table("nation")
      .filter(col("n_regionkey").isin(0, 3))
      .select("n_nationkey").collect().map(_.getInt(0)).toSet
    assert(nations.map(_.getInt(0)).toSet == expected)
    assert(nations.forall(!_.isNullAt(2)))
  }

  test("nested member-grant override: grant EMEA, deny nation 3 inside it") {
    val rows = Planner.plan(cat,
      q("emea_minus_one", drill("Geography", "Nation"))).collect()
    val expected = cat.table("nation")
      .filter(col("n_regionkey").isin(0, 3) && col("n_nationkey") =!= 3)
      .select("n_nationkey").collect().map(_.getInt(0)).toSet
    assert(rows.map(_.getInt(0)).toSet == expected)
    // and the partial total shrinks below the EMEA total
    val minus = Planner.plan(cat, q("emea_minus_one"))
      .collect()(0).getDouble(0)
    assert(minus < visibleSales)
  }

  test("member-grant ancestor path confines the grant to its branch " +
      "(leaf keys repeat across parents)") {
    // ShipDate.Monthly: Quarter keys 1..4 repeat under EVERY year — a
    // leaf-only grant on [1995].[Q1] would silently grant Q1 of all seven
    // years. The `path` carries the ancestors into the membership
    // predicate (ref Mondrian full-unique-name grant resolution).
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings",
      "supp_geo", "cust_geo").map(n => n -> cat.table(n)).toMap
    def grantCat(path: Seq[Any]) = new CubeCatalog(spark,
      cat.schema.copy(roles = Seq(RoleDef("q1g", cubeGrants = Seq(
        CubeGrantDef("sales", "all", Seq(HierarchyGrantDef("ShipDate",
          hierarchy = Some("Monthly"), rollupPolicy = "partial",
          memberGrants = Seq(
            MemberGrantDef("Quarter", Seq(1), "all", path))))))))),
      tables)
    def yearsOf(c: CubeCatalog) = Planner.plan(c, CubeQuery("sales",
        Seq(drill("ShipDate", "Year", "Monthly")), Seq("revenue"),
        role = Some("q1g"))).collect()
      .map(_.getAs[Int]("ship_year")).toSet
    // WITH the path: only 1995 is visible, and the partial total is
    // exactly the 1995-Q1 recompute
    assert(yearsOf(grantCat(Seq(1995))) == Set(1995))
    val got = Planner.plan(grantCat(Seq(1995)), CubeQuery("sales", Nil,
      Seq("revenue"), role = Some("q1g"))).collect()(0).getDouble(0)
    val truth = cat.table("lineitem")
      .filter(expr("year(l_shipdate) = 1995 AND quarter(l_shipdate) = 1"))
      .agg(sum(expr(
        "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(27,6))"))
        .cast("double"))
      .collect()(0).getDouble(0)
    assert(math.abs(got - truth) < 1e-6)
    // WITHOUT a path the same grant matches Q1 of every year — the
    // over-grant the path exists to prevent
    assert(yearsOf(grantCat(Nil)).size > 1)
  }

  test("level band: drilling outside topLevel..bottomLevel is a 403") {
    val e = intercept[GraftException] {
      Planner.plan(cat, CubeQuery("sales",
        Seq(drill("Geography", "Supplier")), Seq("revenue"),
        role = Some("nation_band")))
    }
    assert(e.status == 403)
    // inside the band everything works, and values are unrestricted
    // (band-only grants carry no member restriction)
    val banded = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Nation")), Seq("revenue"),
      role = Some("nation_band"))).collect()
    val open = Planner.plan(cat, CubeQuery("sales",
      Seq(drill("Geography", "Nation")), Seq("revenue"))).collect()
    assert(banded.map(_.getInt(0)).toSet == open.map(_.getInt(0)).toSet)
    // metadata view truncates the hierarchy to the band
    val fc = Roles.filteredCube(Roles.resolve(cat.schema,
      Some("nation_band")), cat.cube("sales"))
    assert(fc.dimension("Geography").get.defaultHierarchy.levels
      .map(_.name) == Seq("Region", "Nation"))
  }

  test("dense axes never resurrect invisible members as filler rows") {
    val rows = Planner.plan(cat, CubeQuery("orders",
      Seq(drill("Geography", "Region"), drill("Priority")),
      Seq("total_sales"), nonempty = false, role = Some("emea"))).collect()
    assert(rows.map(_.getInt(0)).toSet == Set(0, 3))
    // dense cross product: 2 regions x |priorities|
    val nPrio = cat.table("orders").select("o_orderpriority")
      .distinct().count()
    assert(rows.length == 2 * nPrio)
  }

  test("roles share a member dictionary safely: restricted, unrestricted, " +
      "then restricted again on one fresh catalog") {
    val c = TpchCatalog.build(spark, SparkTestSession.sf)
    // EUROPE (region 3) holds nations 3, 8, 13, 18, 23; emea_minus_one
    // denies nation 3 inside it
    def dense(role: Option[String], nonempty: Boolean = false) =
      Planner.plan(c, CubeQuery("orders",
        Seq(drill("Geography", "Nation"), drill("Priority")),
        Seq("total_sales"), cuts = Seq(MemberCut(
          LevelRef("Geography", Some("Region")), 3)),
        nonempty = nonempty, role = role)).collect()
    val europe = cat.table("nation").filter(col("n_regionkey") === 3)
      .select("n_nationkey").collect().map(_.getInt(0)).toSet
    val priorities = cat.table("orders").select("o_orderpriority")
      .distinct().collect().map(_.getString(0)).toSet
    def check(role: Option[String], nations: Set[Int]): Unit = {
      val rows = dense(role)
      // every visible (nation, priority) cell exactly once, fillers included
      assert(rows.map(r => (r.getInt(0), r.getString(2))).toSet ==
        (for (n <- nations; p <- priorities) yield (n, p)))
      assert(rows.length == nations.size * priorities.size)
      // the non-filler rows are exactly the sparse answer
      assert(rows.filterNot(_.isNullAt(3)).toSet == dense(role, true).toSet)
    }
    try {
      val restricted = Some("emea_minus_one")
      check(restricted, europe - 3)
      check(None, europe)
      check(restricted, europe - 3)
    } finally c.close()
  }

  test("role is part of the plan identity: same query, different answers") {
    val base = CubeQuery("orders", Nil, Seq("total_sales"))
    val a = Planner.plan(cat, base.copy(role = Some("emea")))
      .collect()(0).getDouble(0)
    val b = Planner.plan(cat, base.copy(role = Some("emea_full")))
      .collect()(0).getDouble(0)
    assert(a != b)
  }

  test("union roles: most-permissive-wins across cubes, members, and policies") {
    // a role whose cube grant carries no Geography restriction makes the
    // union unrestricted for that hierarchy (Mondrian union semantics)
    val open = Planner.plan(cat, CubeQuery("orders", Nil,
      Seq("total_sales"), role = Some("emea,orders_only")))
      .collect()(0).getDouble(0)
    assert(math.abs(open - allSales) < 1e-6)
    // OR of member predicates: the deny inside emea_minus_one is overridden
    // by emea's allow of the same nation
    val nations = Planner.plan(cat, CubeQuery("orders",
      Seq(drill("Geography", "Nation")), Seq("total_sales"),
      role = Some("emea,emea_minus_one"))).collect()
      .map(_.getInt(0)).toSet
    val expected = cat.table("nation").filter(col("n_regionkey").isin(0, 3))
      .select("n_nationkey").collect().map(_.getInt(0)).toSet
    assert(nations == expected)
    // policy union: partial + full → full (complete grand total survives)
    val t = Planner.plan(cat, CubeQuery("orders", Nil, Seq("total_sales"),
      role = Some("emea,emea_full"))).collect()(0).getDouble(0)
    assert(math.abs(t - allSales) < 1e-6)
    // cube visibility is the union too; unknown names still 403
    assert(Roles.visibleCubes(cat.schema,
      Roles.resolve(cat.schema, Some("orders_only,nation_band")))
      .map(_.name).toSet == Set("sales", "orders", "events"))
    val e = intercept[GraftException] {
      Planner.plan(cat, CubeQuery("orders", Nil, Seq("total_sales"),
        role = Some("emea,does_not_exist")))
    }
    assert(e.status == 403)
  }

  test("full/hidden policies cannot address invisible members via cuts") {
    // an explicit cut names a member; an invisible one must behave like a
    // nonexistent one (the metadata routes 404 it) — not return its
    // complete value because the hierarchy happened not to be drilled
    Seq("emea_full", "emea_hidden").foreach { roleName =>
      val r = Planner.plan(cat, CubeQuery("orders", Nil, Seq("total_sales"),
        cuts = Seq(MemberCut(LevelRef("Geography", Some("Region")), 4)),
        role = Some(roleName))).collect()
      assert(r.isEmpty || r(0).isNullAt(0), s"$roleName leaked region 4")
    }
    // a cut on a VISIBLE member still answers, with that member's value
    val ok = Planner.plan(cat, CubeQuery("orders", Nil, Seq("total_sales"),
      cuts = Seq(MemberCut(LevelRef("Geography", Some("Region")), 3)),
      role = Some("emea_full"))).collect()(0).getDouble(0)
    val open = Planner.plan(cat, CubeQuery("orders", Nil, Seq("total_sales"),
      cuts = Seq(MemberCut(LevelRef("Geography", Some("Region")), 3))))
      .collect()(0).getDouble(0)
    assert(math.abs(ok - open) < 1e-6)
  }

  test("roles compose with rollup routing: full policy filters the routed " +
      "axis; partial policy forces the fact path") {
    val isoCat = TpchCatalog.build(spark, SparkTestSession.sf)
    val c = isoCat.cube("orders")
    isoCat.addRollup(Rollups.build(isoCat, c, Seq(
      LevelRef("Geography", Some("Region")),
      LevelRef("Geography", Some("Nation")))))
    val q = CubeQuery("orders", Seq(drill("Geography", "Region")),
      Seq("total_sales"))
    // full: routes (plan reaggregates rollup partials) AND the membership
    // semi-join keeps only the granted regions, with complete values
    val full = Planner.plan(isoCat, q.copy(role = Some("emea_full")))
    assert(full.queryExecution.optimizedPlan.toString().contains("__sum_"),
      "full-policy query should still route to the rollup")
    val fullRows = full.collect()
    assert(fullRows.map(_.getInt(0)).toSet == Set(0, 3))
    val open = Planner.plan(isoCat, q).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    fullRows.foreach(r =>
      assert(math.abs(r.getDouble(2) - open(r.getInt(0))) < 1e-6))
    // partial: the member filter lives on the fact's dim-joined frame, so
    // routing is disqualified — and the values are the restricted ones
    val partial = Planner.plan(isoCat, q.copy(role = Some("emea")))
    assert(!partial.queryExecution.optimizedPlan.toString().contains("__sum_"),
      "partial-policy query must bypass the rollup")
    val pRows = partial.collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(pRows.keySet == Set(0, 3))
    pRows.foreach { case (k, v) => assert(math.abs(v - open(k)) < 1e-6) }
  }

  test("property: random member grants — partial == pre-filtered recompute, " +
      "full == unrestricted values on the visible axis") {
    import graft.model._
    val allNations = cat.table("nation").select("n_nationkey")
      .collect().map(_.getInt(0)).toSeq.sorted
    val rnd = new scala.util.Random(0xB18)
    // a catalog twin carrying the randomized roles (tables shared)
    val tableNames = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings",
      "supp_geo", "cust_geo")
    val tables = tableNames.map(n => n -> cat.table(n)).toMap
    def catWith(roles: Seq[RoleDef]): CubeCatalog =
      new CubeCatalog(spark, cat.schema.copy(roles = roles), tables)

    (1 to 6).foreach { trial =>
      val grantSet = rnd.shuffle(allNations).take(1 + rnd.nextInt(12))
      def role(policy: String) = RoleDef(s"t$trial", cubeGrants = Seq(
        CubeGrantDef("orders", "all", Seq(HierarchyGrantDef("Geography",
          rollupPolicy = policy,
          memberGrants = Seq(MemberGrantDef("Nation", grantSet, "all")))))))

      // partial, drilled on an unrelated dim: every cell == the filtered
      // recompute
      val c1 = catWith(Seq(role("partial")))
      val got = Planner.plan(c1, CubeQuery("orders",
        Seq(drill("Priority")), Seq("total_sales"),
        role = Some(s"t$trial"))).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val cg = cat.table("cust_geo")
        .filter(col("n_nationkey").isin(grantSet: _*)).select("c_custkey")
      val want = cat.table("orders").join(cg,
          cat.table("orders")("o_custkey") === cg("c_custkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(sum(expr("CAST(o_totalprice AS DECIMAL(27,6))"))
          .cast("double").as("s"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == want, s"trial $trial partial grant $grantSet")

      // full, drilled AT the grant level: axis == visible members with
      // orders; values == unrestricted per-nation values
      val c2 = catWith(Seq(role("full")))
      val gotFull = Planner.plan(c2, CubeQuery("orders",
        Seq(drill("Geography", "Nation")), Seq("total_sales"),
        role = Some(s"t$trial"))).collect()
        .map(r => r.getInt(0) -> r.getDouble(2)).toMap
      val open = Planner.plan(cat, CubeQuery("orders",
        Seq(drill("Geography", "Nation")), Seq("total_sales"))).collect()
        .map(r => r.getInt(0) -> r.getDouble(2)).toMap
      assert(gotFull.keySet == open.keySet.intersect(grantSet.toSet))
      gotFull.foreach { case (k, v) => assert(v == open(k)) }
    }
  }

  // ------------------------------------------------------------- REST

  private lazy val server: Server = {
    val s = new Server(spark, SparkTestSession.sf, 0, flushSecret = None)
    s.start(); s
  }
  private lazy val base = s"http://localhost:${server.boundPort}"
  private lazy val client = HttpClient.newHttpClient()
  private def get(path: String,
      headers: Map[String, String] = Map.empty): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
    headers.foreach { case (k, v) => b.header(k, v) }
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("REST: role= filters /cubes, 403s a denied aggregate, header works") {
    val (c1, b1) = get("/cubes?role=orders_only")
    assert(c1 == 200)
    val names = Json.parse(b1).asInstanceOf[Map[String, Any]]("cubes")
      .asInstanceOf[Seq[Map[String, Any]]].map(_("name"))
    assert(names == Seq("orders"))
    val (c2, _) = get("/cubes/sales/aggregate?measures%5B%5D=revenue&role=orders_only")
    assert(c2 == 403)
    val (c3, _) = get("/cubes?role=does_not_exist")
    assert(c3 == 403)
    // header form selects the role without touching the URL
    val (c4, b4) = get("/cubes", Map("X-Graft-Role" -> "orders_only"))
    assert(c4 == 200 && Json.parse(b4).asInstanceOf[Map[String, Any]]("cubes")
      .asInstanceOf[Seq[Map[String, Any]]].map(_("name")) == Seq("orders"))
  }

  test("REST: drillthrough pages the cell's fact rows and respects grants") {
    import java.net.URLEncoder
    def enc(s: String) = URLEncoder.encode(s, "UTF-8")
    val cut = enc("[Geography].[Region].[3]")
    // unrestricted: rows behind the Region-3 cell
    val (c1, b1) = get("/cubes/orders/drillthrough.jsonrecords" +
      s"?cut%5B%5D=$cut&returns%5B%5D=o_orderkey&returns%5B%5D=o_totalprice" +
      "&limit=5")
    assert(c1 == 200)
    val recs = Json.parse(b1).asInstanceOf[Seq[Map[String, Any]]]
    assert(recs.length == 5 &&
      recs.head.keySet == Set("o_orderkey", "o_totalprice"))
    // the emea role grants regions {0,3} → region-3 rows stay visible,
    // while a cut on a DENIED region's cell returns no rows at all
    val (c2, b2) = get("/cubes/orders/drillthrough.jsonrecords" +
      s"?cut%5B%5D=$cut&returns%5B%5D=o_orderkey&limit=5&role=emea")
    assert(c2 == 200)
    assert(Json.parse(b2).asInstanceOf[Seq[Any]].length == 5)
    val denied = enc("[Geography].[Region].[2]")
    val (c3, b3) = get("/cubes/orders/drillthrough.jsonrecords" +
      s"?cut%5B%5D=$denied&returns%5B%5D=o_orderkey&role=emea")
    assert(c3 == 200)
    assert(Json.parse(b3).asInstanceOf[Seq[Any]].isEmpty)
    // the collect cap clamps an oversized explicit limit (default 1000)
    val (c6, b6) = get("/cubes/orders/drillthrough.jsonrecords" +
      "?returns%5B%5D=o_orderkey&limit=5000000")
    assert(c6 == 200)
    assert(Json.parse(b6).asInstanceOf[Seq[Any]].length == 1000)
    // contract: virtual cubes and unknown columns are 400s
    val (c4, _) = get(s"/cubes/commerce/drillthrough?cut%5B%5D=$cut")
    assert(c4 == 400)
    val (c5, _) = get("/cubes/orders/drillthrough" +
      s"?cut%5B%5D=$cut&returns%5B%5D=no_such_col")
    assert(c5 == 400)
  }

  test("REST: MDX DRILLTHROUGH statement form pages the cell's rows") {
    def post(path: String, body: String): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(URI.create(base + path))
        .header("Content-Type", "text/plain")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    val (c1, b1) = post("/mdx",
      """DRILLTHROUGH MAXROWS 5
        |SELECT {[Measures].[total_sales]} ON COLUMNS,
        |{[Priority].[Priority].Members} ON ROWS
        |FROM [orders]
        |WHERE ([Geography].[Region].[3])
        |RETURNING o_orderkey, o_totalprice""".stripMargin)
    assert(c1 == 200, b1)
    val recs = Json.parse(b1).asInstanceOf[Seq[Map[String, Any]]]
    assert(recs.length == 5 &&
      recs.head.keySet == Set("o_orderkey", "o_totalprice"))
    // a role's member grants bound the statement form too
    val (c2, b2) = post("/mdx?role=emea",
      """DRILLTHROUGH SELECT {[Measures].[total_sales]} ON COLUMNS,
        |{[Priority].[Priority].Members} ON ROWS
        |FROM [orders] WHERE ([Geography].[Region].[2])
        |RETURNING o_orderkey""".stripMargin)
    assert(c2 == 200)
    assert(Json.parse(b2).asInstanceOf[Seq[Any]].isEmpty)
  }

  test("REST: union role selector rides the role param and the header") {
    // emea alone restricts the grand total; adding orders_only (cube-wide
    // access, no Geography grant) unrestricts the union
    def total(body: String): Double = {
      val doc = Json.parse(body).asInstanceOf[Map[String, Any]]
      def flat(v: Any): Seq[Double] = v match {
        case s: Seq[_] => s.flatMap(flat)
        case n: Number => Seq(n.doubleValue())
        case _ => Nil
      }
      flat(doc("values")).sum
    }
    val (c1, b1) = get(
      "/cubes/orders/aggregate?measures%5B%5D=total_sales&role=emea")
    val (c2, b2) = get(
      "/cubes/orders/aggregate?measures%5B%5D=total_sales&role=emea%2Corders_only")
    assert(c1 == 200 && c2 == 200)
    assert(total(b1) < total(b2))
    assert(math.abs(total(b2) - allSales) < 1e-6)
    val (c3, b3) = get("/cubes/orders/aggregate?measures%5B%5D=total_sales",
      Map("X-Graft-Role" -> "orders_only,emea"))
    assert(c3 == 200 && math.abs(total(b3) - allSales) < 1e-6)
  }

  test("REST: member listing and lookup respect grants") {
    val visible = cat.table("nation").filter(col("n_regionkey").isin(0, 3))
      .select("n_nationkey").collect().map(_.getInt(0)).toSet
    val hiddenKey = cat.table("nation")
      .filter(!col("n_regionkey").isin(0, 3))
      .select("n_nationkey").collect().map(_.getInt(0)).head
    val (c1, b1) = get(
      "/cubes/orders/dimensions/Geography/levels/Nation/members?role=emea")
    assert(c1 == 200)
    val keys = Json.parse(b1).asInstanceOf[Map[String, Any]]("members")
      .asInstanceOf[Seq[Map[String, Any]]].map(_("key").toString.toDouble.toInt)
    assert(keys.toSet == visible)
    // an invisible member is indistinguishable from a missing one
    val (c2, _) = get(
      s"/cubes/orders/dimensions/Geography/levels/Nation/members/$hiddenKey?role=emea")
    assert(c2 == 404)
    val (c3, _) = get(
      s"/cubes/orders/dimensions/Geography/levels/Nation/members/$hiddenKey")
    assert(c3 == 200)
    // banded metadata: the Supplier level is gone from the sales dim
    val (c4, b4) = get("/cubes/sales/dimensions/Geography?role=nation_band")
    assert(c4 == 200)
    val lvls = Json.parse(b4).asInstanceOf[Map[String, Any]]("hierarchies")
      .asInstanceOf[Seq[Map[String, Any]]].head("levels")
      .asInstanceOf[Seq[Map[String, Any]]].map(_("name"))
    assert(lvls == Seq("Region", "Nation"))
  }

  test("role-filtered member listings each get their own list, whichever " +
      "role asks first, and never touch the shared listing memo") {
    val ref = LevelRef("Geography", Some("Nation"))
    def listing(c: CubeCatalog, role: Option[String]): Set[Int] = {
      val cube = c.cube("orders")
      val rf = Roles.resolve(c.schema, role).flatMap(
        Roles.memberFilter(_, cube, Planner.resolve(cube, ref)))
      graft.result.Metadata.levelMembers(c, cube, ref, roleFilter = rf)
        .map(_("key").toString.toDouble.toInt).toSet
    }
    val nations = cat.table("nation").collect()
      .map(r => r.getAs[Int]("n_nationkey") -> r.getAs[Int]("n_regionkey"))
    val emea = nations.collect { case (n, r) if r == 0 || r == 3 => n }.toSet
    val expected = Map[Option[String], Set[Int]](
      None -> nations.map(_._1).toSet,
      Some("emea") -> emea,
      Some("emea_minus_one") -> (emea - 3))
    assert(expected.values.toSet.size == 3) // three distinct lists
    val roles = Seq(None, Some("emea"), Some("emea_minus_one"))
    for (order <- Seq(roles, roles.reverse)) {
      val c = TpchCatalog.build(spark, SparkTestSession.sf)
      try {
        order.foreach(r => assert(listing(c, r) == expected(r), s"$r in $order"))
        // the unrestricted repeat answers from the memo; a role's repeat is
        // collected again, so it never reads the memo
        for ((r, collects) <- Seq(None -> false, Some("emea") -> true)) {
          val (got, jobs) = SparkTestSession.jobsDuring(listing(c, r))
          assert(got == expected(r))
          assert((jobs > 0) == collects, s"$r repeat ran $jobs jobs")
        }
      } finally c.close()
    }
  }

  test("TopCount under a role ranks only VISIBLE members (an invisible " +
      "member must not consume a top-k slot)") {
    val nation = LevelRef("Geography", Some("Nation"))
    def topQ(role: Option[String]) = CubeQuery("orders",
      Seq(LevelDrill(nation)), Seq("total_sales"),
      cuts = Seq(TopKCut(nation, 3, "total_sales")), role = role)
    // unrestricted: establish that the global top-3 includes at least one
    // nation OUTSIDE regions {0, 3} (else the fixture proves nothing)
    val global = Planner.plan(cat, topQ(None)).collect()
      .map(_.getAs[Number](0).longValue)
    assert(global.length == 3)
    assert(global.exists(n => n % 5 != 0 && n % 5 != 3),
      "fixture: global top-3 must include an emea-invisible nation")
    // emea: full rollup policy is irrelevant here — the SELECTION must
    // run against the role's view, so exactly 3 visible nations return
    val got = Planner.plan(cat, topQ(Some("emea"))).collect()
      .map(_.getAs[Number](0).longValue)
    assert(got.length == 3, s"expected 3 visible rows, got ${got.length}")
    assert(got.forall(n => n % 5 == 0 || n % 5 == 3),
      s"invisible nation in $got")
    // and they are THE top-3 among visible nations: compare against the
    // role-less ranking restricted to visible members
    val visibleRanked = Planner.plan(cat, CubeQuery("orders",
        Seq(LevelDrill(nation)), Seq("total_sales"), role = Some("emea")))
      .collect().map(r => (r.getAs[Number](0).longValue, r.getDouble(2)))
      .sortBy { case (n, v) => (-v, n) }.take(3).map(_._1).toSet
    assert(got.toSet == visibleRanked)
  }

  test("role-scoped star views: invisible cubes get no view, member " +
      "grants filter the published rows, namespaces are disjoint") {
    // schema-level restriction: only the orders cube gets a view, under
    // the role's OWN suffixed name — bare names are never touched
    cat.registerStarViews(Some("orders_only"))
    assert(spark.catalog.tableExists("orders_star__orders_only"))
    assert(!spark.catalog.tableExists("sales_star__orders_only"))
    // member grant: the published rows are the role's rows (drillthrough
    // semantics — rollupPolicy governs cells, not the row surface)
    cat.registerStarViews(Some("emea"))
    val got = spark.sql(
      """SELECT CAST(sum(CAST(total_sales_raw AS DECIMAL(27,6))) AS DOUBLE)
        |FROM orders_star__emea""".stripMargin).collect()(0).getDouble(0)
    assert(math.abs(got - visibleSales) < 1e-6,
      s"expected the emea-visible total $visibleSales, got $got")
    // regions outside the grant are absent outright
    val regions = spark.sql("SELECT DISTINCT region FROM orders_star__emea")
      .collect().map(_.getAs[Number](0).intValue).toSet
    assert(regions == Set(0, 3), s"unexpected regions $regions")
    // level band: nation_band sees sales Geography only down to Nation —
    // the Supplier level's columns must not be published at all (the
    // planner 403s them on any drill; the SQL surface must match)
    cat.registerStarViews(Some("nation_band"))
    val bandCols = spark.table("sales_star__nation_band").columns.toSet
    assert(bandCols.exists(_.startsWith("nation")), s"cols: $bandCols")
    assert(!bandCols.exists(_.startsWith("supplier")),
      s"banded level leaked into the star view: $bandCols")
    // DISJOINT NAMESPACES: an unrestricted registration and a role-scoped
    // one coexist — neither overwrites the other, so which registration
    // ran last can never change the restriction level behind a name
    cat.registerStarViews()
    cat.registerStarViews(Some("emea"))
    val bareRegions = spark.sql("SELECT DISTINCT region FROM orders_star")
      .collect().map(_.getAs[Number](0).intValue).toSet
    assert(bareRegions == Set(0, 1, 2, 3, 4),
      s"role-scoped registration clobbered the unrestricted view: $bareRegions")
    val scopedRegions = spark.sql(
      "SELECT DISTINCT region FROM orders_star__emea")
      .collect().map(_.getAs[Number](0).intValue).toSet
    assert(scopedRegions == Set(0, 3),
      s"unrestricted registration clobbered the role view: $scopedRegions")
  }
}
