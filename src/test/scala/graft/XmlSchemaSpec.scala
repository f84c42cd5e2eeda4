package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.sources.{MondrianXml, SchemaLoader}
import graft.planner.{CubeQuery, LevelDrill, LevelRef, Planner}
import SparkTestSession.spark

/** Mondrian XML catalog ingestion (ref spec/spec_helper.rb:45 `catalog:`;
  * fixtures spec/fixtures/foodmart.xml + webshop.xml): the reference's
  * entire schema surface loads verbatim into graft.model. The walk below
  * checks the loaded catalog's metadata against what the XML declares —
  * cube/dimension/level/measure counts, snowflake joins, the parent-child
  * closure, calc-member translation, named sets, roles — and a bound
  * XML catalog plans identically to the JSON-declared one. */
class XmlSchemaSpec extends AnyFunSuite {

  private val fixtures = "/root/reference/spec/fixtures"
  private def fixture(name: String): Option[MondrianXml.XmlCatalog] = {
    val p = java.nio.file.Paths.get(s"$fixtures/$name")
    if (java.nio.file.Files.exists(p)) Some(MondrianXml.parseFile(p.toString))
    else None
  }

  // ------------------------------------------------------------- foodmart

  test("foodmart.xml loads verbatim: schema, cubes, virtual cube, roles") {
    val c = fixture("foodmart.xml").getOrElse(cancel("fixture unavailable"))
    assert(c.schema.name == "FoodMart")
    assert(c.schema.cubes.map(_.name) ==
      Seq("Sales", "Warehouse", "Store", "HR", "Sales Ragged", "Sales 2"))
    assert(c.schema.virtualCubes.map(_.name) == Seq("Warehouse and Sales"))
    assert(c.schema.roles.map(_.name) ==
      Seq("California manager", "No HR Cube"))
  }

  test("foodmart Sales cube: dims, measures, calc translation, lag idiom") {
    val c = fixture("foodmart.xml").getOrElse(cancel("fixture unavailable"))
    val sales = c.schema.cube("Sales").get
    assert(sales.factTable == "sales_fact_1997")
    // 5 DimensionUsages + 7 inline dimensions (foodmart.xml:162-294)
    assert(sales.dimensions.length == 12)
    assert(sales.dimensions.map(_.name).take(5) ==
      Seq("Store", "Store Size in SQFT", "Store Type", "Time", "Product"))
    // measures incl. the MeasureExpression one (Promotion Sales)
    assert(sales.measures.map(_.name) == Seq("Unit Sales", "Store Cost",
      "Store Sales", "Sales Count", "Customer Count", "Promotion Sales"))
    assert(sales.measure("Customer Count").get.agg == Agg.DistinctCount)
    assert(sales.measure("Sales Count").get.agg == Agg.Count)
    // the generic-dialect CASE expression, fact qualifier stripped
    val promo = sales.measure("Promotion Sales").get.expr
    assert(promo.contains("case when promotion_id = 0"), promo)
    // Profit = plain arithmetic calc; Profit last Period = the
    // COALESCEEMPTY-PREVMEMBER idiom → a lag measure (foodmart.xml:351-357);
    // Profit Growth references the lag through its alias
    assert(sales.calcMembers.map(_.alias) == Seq("profit", "profit_growth"))
    assert(sales.calcMembers.head.formula == "store_sales - store_cost")
    assert(sales.lagMeasures ==
      Seq(LagMeasureDef("profit_last_period", "profit", "Time",
        coalesceToBase = true)))
    assert(sales.calcMembers(1).formula ==
      "(profit - profit_last_period) / profit_last_period")
    assert(sales.defaultMeasure.contains("Unit Sales"))
    // presentation metadata carried verbatim for clients to render:
    // cube <Annotations> (foodmart.xml:121-127), measure formatString,
    // and a CalculatedMemberProperty FORMAT_STRING on Profit
    assert(sales.annotations("caption.de_DE") == "Verkaufen")
    assert(sales.annotations("description.fr_FR") == "Cube des ventes")
    assert(sales.measure("Store Sales").get.formatString.contains("#,###.00"))
    assert(sales.measure("Unit Sales").get.formatString.contains("Standard"))
    assert(sales.calcMembers.head.formatString.contains("$#,##0.00"))
    // Time: TimeDimension, two hierarchies, Monthly hasAll=false
    val time = sales.dimension("Time").get
    assert(time.isTime)
    assert(time.hierarchies.map(_.name) == Seq("Time", "Weekly"))
    assert(!time.hierarchies.head.hasAll && time.hierarchies(1).hasAll)
    // shared Year level (same column both hierarchies) keeps ONE alias;
    // per-hierarchy levels get their own
    assert(time.hierarchies.head.levels.map(_.name) ==
      Seq("Year", "Quarter", "Month"))
    assert(time.hierarchies.head.level("Year").get.alias ==
      time.hierarchies(1).level("Year").get.alias)
    // Customers: NameExpression/OrdinalExpression SQL dialects picked
    val customers = sales.dimension("Customers").get
    val nameLvl = customers.defaultHierarchy.level("Name").get
    assert(nameLvl.nameExpr.isDefined && nameLvl.ordExpr.isDefined)
    // Store Name properties carried with minted aliases
    val storeName = sales.dimension("Store").get.defaultHierarchy
      .level("Store Name").get
    assert(storeName.properties.map(_.name).contains("Store Manager"))
  }

  test("foodmart snowflake <Join> collapses to a derived pre-join (B3)") {
    val c = fixture("foodmart.xml").getOrElse(cancel("fixture unavailable"))
    assert(c.joins.contains(MondrianXml.SnowflakeJoinDef(
      "product__product_class", "product", "product_class",
      "product_class_id", "product_class_id")))
    // HR binds employee⋈store and employee⋈position
    assert(c.joins.exists(_.name == "employee__store"))
    assert(c.joins.exists(_.name == "employee__position"))
    val sales = c.schema.cube("Sales").get
    assert(sales.dimension("Product").get.join ==
      Some(JoinSpec("product__product_class", "product_id", "product_id")))
    // required tables include the fact, dims, join sides, closure table
    assert(Seq("sales_fact_1997", "product", "product_class", "time_by_day",
      "employee_closure").forall(c.requiredTables.contains))
  }

  test("foodmart HR: parent-child closure, degenerate + snowflake dims") {
    val c = fixture("foodmart.xml").getOrElse(cancel("fixture unavailable"))
    val pc = c.parentChild.find(_.cube == "HR").get
    assert(pc.dim == "Employees" && pc.level == "Employee Id")
    assert(pc.childColumn == "employee_id" &&
      pc.parentColumn == "supervisor_id")
    assert(pc.nullParentValue.contains("0"))
    assert(pc.closureTable.contains("employee_closure"))
    assert(pc.closureParentColumn.contains("supervisor_id"))
    assert(pc.closureChildColumn.contains("employee_id"))
    // Employee Salary uses tuple datamember calculus → skipped WITH reason,
    // Avg Salary translates
    val hr = c.schema.cube("HR").get
    assert(hr.calcMembers.map(_.alias) == Seq("avg_salary"))
    assert(hr.calcMembers.head.formula ==
      "org_salary/number_of_employees")
    assert(c.skipped.exists(s =>
      s.cube == "HR" && s.name == "Employee Salary"))
    // Position Title carries its ordinalColumn
    assert(hr.dimension("Position").get.defaultHierarchy
      .level("Position Title").get.ordExpr.contains("position_id"))
  }

  test("foodmart Sales Ragged: hideMemberIf surfaces on levels (B12)") {
    val c = fixture("foodmart.xml").getOrElse(cancel("fixture unavailable"))
    val store = c.schema.cube("Sales Ragged").get.dimension("Store").get
      .defaultHierarchy
    assert(store.level("Store Country").get.hideIf.isEmpty) // "Never"
    assert(store.level("Store State").get.hideIf.contains("IfParentsName"))
    assert(store.level("Store City").get.hideIf.contains("IfBlankName"))
  }

  test("foodmart Store cube: same-table DimensionUsage is degenerate") {
    val c = fixture("foodmart.xml").getOrElse(cancel("fixture unavailable"))
    val store = c.schema.cube("Store").get
    assert(store.factTable == "store")
    // <DimensionUsage name="Store" source="Store"/> without foreignKey on
    // the cube's own table: levels evaluate over the fact row itself
    assert(store.dimension("Store").get.join.isEmpty)
    assert(store.dimension("Store Type").get.join.isEmpty)
  }

  test("foodmart named set + virtual cube translate") {
    val c = fixture("foodmart.xml").getOrElse(cancel("fixture unavailable"))
    val wh = c.schema.cube("Warehouse").get
    // the named-set <Annotations> ride along verbatim (ref api_spec.rb:40)
    assert(wh.namedSets == Seq(NamedSetDef("Top Sellers", "Warehouse",
      "Warehouse Name", 5, "warehouse_sales",
      annotations = Map("named_set_annotation" -> "Named Set Annotation"))))
    val vc = c.schema.virtualCube("Warehouse and Sales").get
    val byCube = vc.cubeMeasures.toMap
    // Sales contributes 4 measures + 2 calc aliases (Profit, Profit Growth)
    assert(byCube("Sales").toSet == Set("sales_count", "store_cost",
      "store_sales", "unit_sales", "profit", "profit_growth"))
    assert(byCube("Warehouse").size == 8) // 7 measures + 1 calc
    assert(vc.calcMembers ==
      Seq(CalcMemberDef("profit_per_unit_shipped",
        "profit / units_shipped")))
  }

  test("foodmart roles: grants, bands, ordered member overrides (B18)") {
    val c = fixture("foodmart.xml").getOrElse(cancel("fixture unavailable"))
    val cal = c.schema.role("California manager").get
    assert(cal.schemaAccess == "none")
    val cg = cal.cubeGrant("Sales").get
    assert(cg.access == "all")
    val store = cg.hierarchyGrants.find(_.dim == "Store").get
    assert(store.access == "custom")
    assert(store.topLevel.contains("Store Country"))
    // member path depth resolves the level: [Store].[USA].[CA] = depth 2
    // → Store State; the later Los Angeles deny overrides (order kept);
    // ancestors ride along as the confining path (no leaf-only over-grant)
    assert(store.memberGrants == Seq(
      MemberGrantDef("Store State", Seq("CA"), "all", Seq("USA")),
      MemberGrantDef("Store City", Seq("Los Angeles"), "none",
        Seq("USA", "CA"))))
    val cust = cg.hierarchyGrants.find(_.dim == "Customers").get
    assert(cust.topLevel.contains("State Province") &&
      cust.bottomLevel.contains("City"))
    val gender = cg.hierarchyGrants.find(_.dim == "Gender").get
    assert(gender.access == "none")
    val noHr = c.schema.role("No HR Cube").get
    assert(noHr.schemaAccess == "all")
    assert(noHr.cubeGrant("HR").get.access == "none")
    assert(!noHr.cubeVisible("HR") && noHr.cubeVisible("Sales"))
  }

  // -------------------------------------------------------------- webshop

  test("webshop.xml loads verbatim") {
    val c = fixture("webshop.xml").getOrElse(cancel("fixture unavailable"))
    assert(c.schema.name == "Webshop")
    val sales = c.schema.cube("Sales").get
    assert(sales.factTable == "sales")
    assert(sales.dimensions.map(_.name) ==
      Seq("Date", "Customer", "Product", "Country"))
    val date = sales.dimension("Date").get
    assert(date.isTime)
    assert(date.hierarchies.map(_.name) == Seq("Monthly", "Weekly"))
    assert(!date.hierarchies.head.hasAll)
    assert(date.join == Some(JoinSpec("dates", "date_id", "id")))
    assert(date.hierarchies.head.levels.map(_.name) ==
      Seq("Year", "Quarter", "Month"))
    val product = sales.dimension("Product").get
    assert(product.join == Some(JoinSpec("products", "product_id", "id")))
    assert(product.defaultHierarchy.level("Category").get.nameExpr
      .contains("category_label"))
    assert(sales.measures.map(_.alias) == Seq("quantity", "price_total"))
    assert(sales.measures.forall(_.agg == Agg.Sum))
  }

  // ----------------------------------------------- bound catalog end-to-end

  test("an XML-declared catalog bound to the testdata star plans like " +
      "the JSON one (q82 path)") {
    val dir = "/root/testdata/sf0.001"
    val xml = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/tpch_orders.xml"), "UTF-8")
      .mkString
    val cat = SchemaLoader.loadXml(spark, xml, Map(
      "orders" -> spark.read.parquet(s"$dir/orders.parquet"),
      "customer" -> spark.read.parquet(s"$dir/customer.parquet"),
      "nation" -> spark.read.parquet(s"$dir/nation.parquet")))
    val df = Planner.plan(cat, CubeQuery("orders_xml",
      Seq(LevelDrill(LevelRef("Geography", Some("Nation")))),
      Seq("total_sales", "order_count", "avg_order")))
    assert(df.columns.toSeq == Seq("geography_nation",
      "geography_nation_label", "total_sales", "order_count", "avg_order"))
    val rows = df.collect()
    assert(rows.length == 25)
    // the XML catalog's totals equal the JSON catalog's over the same data
    val jsonTotal = Planner.plan(SparkTestSession.catalog,
      CubeQuery("orders", Nil, Seq("total_sales"))).collect()(0).getDouble(0)
    assert(math.abs(rows.map(_.getDouble(2)).sum - jsonTotal) < 1e-6)
    // load-time validation: a bad column 400s before any query runs
    val bad = xml.replace("o_totalprice", "o_no_such_column")
    val ex = intercept[GraftException] {
      SchemaLoader.loadXml(spark, bad, Map(
        "orders" -> spark.read.parquet(s"$dir/orders.parquet"),
        "customer" -> spark.read.parquet(s"$dir/customer.parquet"),
        "nation" -> spark.read.parquet(s"$dir/nation.parquet")))
    }
    assert(ex.status == 400)
    // an unbound table is named in the error
    val ex2 = intercept[GraftException] {
      SchemaLoader.loadXml(spark, xml, Map(
        "orders" -> spark.read.parquet(s"$dir/orders.parquet")))
    }
    assert(ex2.getMessage.contains("customer") &&
      ex2.getMessage.contains("nation"))
  }

  test("/flush closes the side catalogs: q82 and q35 rebuild, q35's agg table is deleted") {
    val sf = SparkTestSession.sf
    val q82 = SparkEntry.queries("q82_xml_catalog")
    val before = q82(spark, sf).collect()
    val old = SparkEntry.xmlCatalogFor(spark, sf)
    val pinned = old.cachedMemberFrame(("orders_xml", "__flush_probe", false)) {
      spark.range(5).toDF("id")
    }
    pinned.count()
    assert(pinned.storageLevel.useMemory)
    val q35 = SparkEntry.queries("q35_rollup_routed")
    val q35Before = q35(spark, sf).collect()
    def aggDirs = CubeCatalog.shared(spark, sf, "rollup")(
      fail("q35 registers its rollup catalog")).rollups
      .flatMap(_.df.inputFiles).map(f => new java.io.File(new java.net.URI(f))
        .getParentFile).distinct
    val oldDirs = aggDirs
    assert(oldDirs.nonEmpty && oldDirs.forall(_.isDirectory))
    CubeCatalog.flush()
    assert(pinned.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "flush must close the side catalog and unpersist what it pinned")
    assert(oldDirs.forall(!_.exists), s"flush must delete $oldDirs")
    val after = q82(spark, sf).collect()
    assert(!(SparkEntry.xmlCatalogFor(spark, sf) eq old))
    assert(after.toSeq == before.toSeq)
    assert(q35(spark, sf).collect().toSeq == q35Before.toSeq)
    assert(aggDirs.nonEmpty && aggDirs.forall(_.isDirectory))
  }
}
