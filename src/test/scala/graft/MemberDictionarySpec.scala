package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, StringType, StructField,
  StructType}
import graft.model._
import graft.planner._
import SparkTestSession.spark

/** Member dictionaries: cube requests resolve their dense and lag member
  * domains on the driver, from one collected dictionary per (cube,
  * dimension, level set). */
class MemberDictionarySpec extends AnyFunSuite {

  private def drill(d: String, l: String) =
    LevelDrill(LevelRef(d, Some(l)))

  /** Cached RDDs created after the RDD with id `after`:
    * id → (cached blocks, bytes in memory and on disk). */
  private def storage(after: Int): Map[Int, (Int, Long)] = {
    org.apache.spark.sql.graftshim.SparkShim.drainListenerBus(spark, 10000)
    spark.sparkContext.getRDDStorageInfo.filter(_.id > after)
      .map(i => i.id -> (i.numCachedPartitions, i.memSize + i.diskSize))
      .toMap
  }

  test("executor storage stays flat across 24 distinct cut values of a " +
      "lag shape and a dense shape") {
    val c = TpchCatalog.build(spark, SparkTestSession.sf)
    try {
      val lag = (1990 to 2001).map(y => CubeQuery("sales",
        Seq(drill("ShipDate", "Month")), Seq("revenue", "prev_revenue"),
        cuts = Seq(MemberCut(LevelRef("ShipDate", Some("Year")), y))))
      val regions = Seq(0, 1, 2, 3, 4)
      val dense = regions.combinations(2).toSeq.take(10)
        .++(regions.combinations(3).toSeq.take(2)).map(rs =>
          CubeQuery("sales", Seq(drill("Geography", "Nation")),
            Seq("revenue"), cuts = Seq(SetCut(
              LevelRef("Geography", Some("Region")), rs))))
      val queries = lag.zip(dense).flatMap { case (a, b) => Seq(a, b) }
      assert(queries.distinct.size == 24)
      val marker = spark.sparkContext.emptyRDD[Int].id
      Planner.plan(c, queries.head).collect()
      val first = storage(marker)
      queries.tail.foreach(q => Planner.plan(c, q).collect())
      assert(storage(marker) == first)
    } finally c.close()
  }

  test("a dictionary builds once per key when requests race to it") {
    val c = TpchCatalog.build(spark, SparkTestSession.sf)
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val waits = (1 to 4).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          c.cachedDictionary(("sales", "Part", Seq("brand"))) {
            builds.incrementAndGet()
            Thread.sleep(200)
            spark.emptyDataFrame
          }
        }
      }))
      start.countDown()
      waits.foreach(_.get())
      assert(builds.get == 1)
    } finally {
      pool.shutdown()
      c.close()
    }
  }

  test("a dense BottomCount drill keeps the bottom members and their " +
      "values (the domain's cut ranks ascending like the fact's)") {
    val c = SparkTestSession.catalog
    val rows = Planner.plan(c, MdxParser.parse(c.cube("sales"),
      """SELECT {[Measures].[Revenue]} ON COLUMNS,
        |BOTTOMCOUNT([ShipDate].[Monthly].[Year].Members, 2,
        |  [Measures].[Revenue]) ON ROWS
        |FROM sales""".stripMargin)).collect()
    val all = Planner.plan(c, CubeQuery("sales",
      Seq(drill("ShipDate", "Year")), Seq("revenue"))).collect()
    val bottom = all.sortBy(r => (r.getDouble(1), r.getInt(0))).take(2)
    assert(rows.map(r => (r.getInt(0), r.getDouble(1))).toSet ==
      bottom.map(r => (r.getInt(0), r.getDouble(1))).toSet)
  }

  test("floating-point members deduplicate as Spark's distinct does: " +
      "NaN = NaN, -0.0 = 0.0") {
    val schema = StructType(Seq(StructField("x", DoubleType),
      StructField("y", StringType)))
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val rows = Seq[(Any, String)]((0.0, "a"), (-0.0, "b"),
      (Double.NaN, "a"), (otherNaN, "b"), (1.5, "a"), (null, "b"))
      .map { case (x, y) => Row(x, y) }
    val fact = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      schema)
    // drilling X while cutting Y (another hierarchy of the same
    // dimension) projects the (x, y) dictionary down to x: six rows
    // that Spark's distinct collapses to four
    val cube = CubeDef("f", "f", Seq(DimensionDef("D", Seq(
        HierarchyDef("X", Seq(LevelDef("X", "x", "x"))),
        HierarchyDef("Y", Seq(LevelDef("Y", "y", "y")))))),
      Seq(MeasureDef("Rows", "rows", Agg.CountAll, "1")))
    val c = new CubeCatalog(spark, SchemaDef("s", Seq(cube)),
      Map("f" -> fact))
    try {
      val got = Planner.plan(c, CubeQuery("f",
        Seq(LevelDrill(LevelRef("D", Some("X"), Some("X")))), Seq("rows"),
        cuts = Seq(SetCut(LevelRef("D", Some("Y"), Some("Y")),
          Seq("a", "b"))))).collect()
      val expected = fact.select("x").distinct().collect()
      assert(got.length == expected.length)
      assert(got.map(r => Row(r.get(0))).toSet == expected.toSet)
    } finally c.close()
  }

  test("a sales.Geography dictionary builds in 2 jobs once the snowflake " +
      "pre-join has been read") {
    val c = TpchCatalog.build(spark, SparkTestSession.sf)
    try {
      c.table("supp_geo")
      val (_, jobs) = SparkTestSession.jobsDuring(Planner.plan(c,
        CubeQuery("sales", Seq(drill("Geography", "Nation")),
          Seq("revenue"), nonempty = false)))
      assert(jobs == 2, s"the dictionary build ran $jobs Spark jobs")
    } finally c.close()
  }

  test("a snowflake pre-join is read once into a LocalRelation when it " +
      "fits the broadcast budget, and stays the lazy join when not") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def isLocal(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.isInstanceOf[LocalRelation]
    val c = TpchCatalog.build(spark, SparkTestSession.sf)
    try {
      val (first, jobs) = SparkTestSession.jobsDuring(c.table("cust_geo"))
      assert(isLocal(first) && jobs > 0)
      val (again, none) = SparkTestSession.jobsDuring(c.table("cust_geo"))
      assert((again eq first) && none == 0)
      assert(first.count() == spark.read
        .parquet(s"${SparkTestSession.sf}/customer.parquet").count())
      assert(!isLocal(c.table("customer")))
    } finally c.close()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "64b")
    val small = TpchCatalog.build(spark, SparkTestSession.sf)
    try assert(!isLocal(small.table("cust_geo")))
    finally {
      small.close()
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
