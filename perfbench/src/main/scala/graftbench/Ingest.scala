package graftbench

import scala.util.Try
import org.apache.spark.sql.Row
import graft.CubeCatalog
import graft.planner.{CubeQuery, LevelDrill, LevelRef, MemberCut}
import graft.streaming.Streaming

/** Rollup ingest with reads beside the writes, the pipeline workload's
  * streaming leg: each seeded micro-batch of lineitem rows is merged into a
  * stored rollup over (Region, Brand, Year) with
  * `Streaming.applyRollupBatch`, then two rollup-routable queries are read
  * twice each through the catalog's result cache. Replacing the rollup
  * clears that cache, so the first read after a batch misses (a fresh
  * read) and the repeats hit. After every batch the first read must equal
  * totals precomputed from the rows ingested so far, and each repeat must
  * equal its first answer. */
object Ingest {
  private val region = LevelRef("Geography", Some("Region"))

  /** Regional totals: the read checked against precomputed values. */
  private val totals = CubeQuery("sales", Seq(LevelDrill(region)),
    Seq("cnt", "sum_qty", "gross"))

  def run(ctx: Ctx, o: Outcome, cat: CubeCatalog): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val in = ctx.inputs("ingest").asInstanceOf[Map[String, Any]]
    def seqOf(k: String) = in(k).asInstanceOf[Seq[Any]]
    val batches = seqOf("batches").map(_.asInstanceOf[Map[String, Any]])
    val expected = seqOf("expected").map(_.asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Seq[Any]].map(_.toString.toLong)))
    val levels = seqOf("levels").map(_.asInstanceOf[Seq[Any]].map(_.toString))
      .map(l => LevelRef(l(0), Some(l(1))))
    val brands = CubeQuery("sales",
      Seq(LevelDrill(LevelRef("Part", Some("Brand")))), Seq("revenue"),
      cuts = Seq(MemberCut(LevelRef("ShipDate", Some("Year")),
        in("year").toString.toLong)))
    val reads = Seq("totals" -> totals, "brands" -> brands,
      "totals" -> totals, "brands" -> brands)
    val rollup = ctx.outDir.resolve("rollup").toString

    val refreshS = Seq.newBuilder[Double]
    val freshMs = Seq.newBuilder[Double]
    val repeatMs = Seq.newBuilder[Double]
    var rows = 0L
    var inputBytes = 0L
    var rollupBytesWritten = 0L
    val t0 = System.nanoTime()
    batches.zipWithIndex.foreach { case (b, i) =>
      val batch = spark.read.parquet(b("path").toString)
      val a = System.nanoTime()
      val applied = Try(t.span(s"b$i", "streaming.refresh") {
        Streaming.applyRollupBatch(cat, "sales", levels, batch, i.toLong, rollup)
      })
      refreshS += (System.nanoTime() - a) / 1e9
      applied.failed.foreach(e => o.fail(s"ingest batch $i: ${e.getMessage}"))
      if (applied.isSuccess) o.ok()
      rows += b("rows").toString.toLong
      inputBytes += b("bytes").toString.toLong
      rollupBytesWritten += dirBytes(rollup)

      val first = scala.collection.mutable.Map.empty[String, Seq[Row]]
      reads.zipWithIndex.foreach { case ((name, q), j) =>
        val id = s"b$i:r$j:$name"
        val a = System.nanoTime()
        val got = Try(t.span(id, "request")(Rest.cachedRows(cat, q, t, t.forReq(id))))
        val ms = (System.nanoTime() - a) / 1e6
        val fresh = !first.contains(name)
        if (j == 0) freshMs += ms else if (!fresh) repeatMs += ms
        val verdict = got.toEither match {
          case Left(err) => Some(String.valueOf(err.getMessage))
          case Right((rs, cols)) if j == 0 => checkTotals(rs, cols, expected(i))
          case Right((rs, _)) if !fresh =>
            if (rs == first(name)) None
            else Some("repeat read differs from the batch's first answer")
          case _ => None
        }
        verdict match {
          case None => o.ok()
          case Some(why) => o.fail(s"ingest batch $i read $name: $why")
        }
        got.foreach { case (rs, _) => first.getOrElseUpdate(name, rs) }
      }
    }
    val work = (System.nanoTime() - t0) / 1e9

    val refresh = refreshS.result()
    o.metric("ingest_s", work, "s")
    o.metric("refresh_p50_ms", Stats.median(refresh) * 1000, "ms")
    o.metric("ingest_rows_per_s", rows / refresh.sum, "rows/s")
    o.metric("fresh_read_p50_ms", Stats.median(freshMs.result()), "ms")
    o.metric("repeat_read_p50_ms", Stats.median(repeatMs.result()), "ms")
    o.info("batches") = batches.size
    o.info("rows_ingested") = rows

    if (t.enabled) {
      val spans = t.all.filter(_.layer == "streaming.refresh")
      o.metric("streaming.refresh_ms", Stats.median(spans.map(_.ms)), "ms")
      o.metric("streaming.refresh_jobs",
        t.counts(_.endsWith("/streaming.refresh")).jobs.toDouble / batches.size, "count")
      o.metric("streaming.rollup_bytes", dirBytes(rollup).toDouble, "bytes")
      o.metric("streaming.write_amp", rollupBytesWritten.toDouble / inputBytes, "ratio")
    }
  }

  /** The regional totals against (region key, count, quantity, gross in
    * cents) rows precomputed for every region with ingested rows. */
  private def checkTotals(rs: Seq[Row], cols: Seq[String],
      exp: Seq[Seq[Long]]): Option[String] = {
    val at = cols.zipWithIndex.toMap
    val got = rs.map { r =>
      def num(c: String) = r.get(at(c)).toString.toDouble
      Seq(num("region").toLong, num("cnt").toLong, num("sum_qty").toLong,
        math.round(num("gross") * 100))
    }.sortBy(_.head)
    if (got == exp) None else Some(s"totals $got, expected $exp")
  }

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.isDirectory) 0L
    else f.listFiles().filter(x => x.isFile && !x.getName.startsWith(".")).map(_.length).sum
  }
}
