package graft.tools

import graft._
import graft.model.GraftException
import graft.planner._

/** Quick end-to-end smoke + error-contract probes against a testdata dir.
  * Usage: runMain graft.tools.Smoke [sfDir] */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.build()

    val entryRows = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$entryRows (expect >0)")

    val cat = CubeCatalog.forDir(spark, sfDir)
    def expect400(label: String)(f: => Any): Unit =
      try { f; println(s"[smoke] $label: NO ERROR (BAD)") }
      catch {
        case e: GraftException =>
          println(s"[smoke] $label: ${e.status} '${e.getMessage}' (ok)")
        case e: Throwable =>
          println(s"[smoke] $label: unexpected ${e.getClass.getSimpleName}: ${e.getMessage} (BAD)")
      }

    expect400("unknown measure") {
      Planner.plan(cat, CubeQuery("sales",
        Seq(LevelDrill(LevelRef("Geography", Some("Region")))), Seq("nope")))
    }
    expect400("unknown dimension") {
      Planner.plan(cat, CubeQuery("sales",
        Seq(LevelDrill(LevelRef("Wat"))), Seq("revenue")))
    }
    expect400("drill above cut (ascendant guard)") {
      Planner.plan(cat, CubeQuery("sales",
        Seq(LevelDrill(LevelRef("Geography", Some("Region")))), Seq("revenue"),
        cuts = Seq(MemberCut(LevelRef("Geography", Some("Nation")), 5))))
    }
    expect400("order by unknown property") {
      Planner.plan(cat, CubeQuery("sales",
        Seq(LevelDrill(LevelRef("Part", Some("Part")))), Seq("revenue"),
        order = Some(OrderSpec(OrderByLevel(LevelRef("Part", Some("Part")), "Nope")))))
    }
    expect400("property without its drilldown") {
      Planner.plan(cat, CubeQuery("sales",
        Seq(LevelDrill(LevelRef("Geography", Some("Region")))), Seq("revenue"),
        properties = Seq(PropertyRef(LevelRef("Part", Some("Part")), "Size"))))
    }

    val beyond = Planner.plan(cat, CubeQuery("sales",
      Seq(LevelDrill(LevelRef("Geography", Some("Supplier")))), Seq("revenue"),
      offset = 100000, limit = Some(10))).count()
    println(s"[smoke] offset beyond rowcount rows=$beyond (expect 0)")

    val lagNoTime = try {
      Planner.plan(cat, CubeQuery("sales",
        Seq(LevelDrill(LevelRef("Geography", Some("Region")))),
        Seq("prev_revenue"))); "NO ERROR (BAD)"
    } catch { case e: GraftException => s"${e.status} (ok)" }
    println(s"[smoke] lag without time drill: $lagNoTime")

    println("[smoke] done")
    spark.stop()
  }
}
