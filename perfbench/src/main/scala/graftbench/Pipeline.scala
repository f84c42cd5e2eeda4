package graftbench

import scala.collection.mutable
import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.{CubeCatalog, SparkEntry}

/** The data-pipeline workload. Batch leg: operators one at a time, each
  * written in full through the `noop` sink, a fixed number of passes in
  * seeded op orders. Before timing, every op writes its output once as parquet (with
  * its oracle SQL beside it) for run.py's DuckDB check; each timed pass
  * must reproduce that output's row count and order-insensitive checksum.
  * Streaming leg: [[Ingest]]. No REST request and no query parse happens
  * in this workload. */
object Pipeline {
  private def checksum(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    sum(pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*),
      lit(2147483647L))).as("chk"))

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    val dir = ctx.dataDir
    val t = ctx.tracer
    val ops = ctx.seq("ops").map(_.toString)
    val orders = ctx.seq("orders").map(_.asInstanceOf[Seq[Any]].map(_.toString))
    val passes = ctx.inputs("passes").toString.toInt
    val fns = ops.map(n => n -> SparkEntry.queries(n)).toMap
    def isCube(n: String) = SparkEntry.cubeQueries.contains(n)

    // set-up: the catalog (the ops in the set read no memoized per-ingest
    // artifact; an op's own eager work is timed with the op)
    val setupS = Stats.medianSeconds(3) {
      CubeCatalog.flush()
      CubeCatalog.forDir(spark, dir)
    }
    o.metric("setup_s", ctx.sessionS + setupS, "s")

    val oracleDir = ctx.outDir.resolve("oracle")
    val tv = System.nanoTime()
    def observed(df: DataFrame, tag: String)(write: DataFrame => Unit): (Long, Long) = {
      val obs = new Observation(tag)
      val cs = checksum(df)
      write(df.observe(obs, cs.head, cs.tail: _*))
      val m = obs.get
      (m("rows").asInstanceOf[Long], Option(m("chk")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    val verified: Map[String, Option[(Long, Long)]] = ops.map { n =>
      n -> Try(observed(fns(n)(spark, dir).coalesce(1), s"verify_$n")(
        _.write.mode("overwrite").parquet(oracleDir.resolve(n).toString))).toOption
    }.toMap
    java.nio.file.Files.writeString(oracleDir.resolve("oracle_sql.json"),
      graft.result.Json.write(ops.map(n => n -> SparkEntry.oracleSql(n)).toMap))

    o.info("verify_write_s") = (System.nanoTime() - tv) / 1e9
    val times = mutable.LinkedHashMap(ops.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val t0 = System.nanoTime()
    for (pass <- 0 until passes) {
      orders(pass % orders.size).foreach { n =>
        val sp = t.forReq(s"p$pass:$n")
        val a = System.nanoTime()
        val got = Try {
          val df = sp(if (isCube(n)) "planner.build" else "ops.build")(fns(n)(spark, dir))
          observed(df, s"chk_${n}_$pass") { d =>
            if (t.enabled) sp("catalyst.optimize")(d.queryExecution.executedPlan)
            sp("exec")(d.write.format("noop").mode("overwrite").save())
          }
        }
        times(n) += (System.nanoTime() - a) / 1e9
        (got.toEither, verified(n)) match {
          case (Right(v), Some(exp)) if v == exp => o.ok()
          case (Right(v), Some(exp)) => o.fail(s"pipeline $n: pass $pass gave (rows, checksum) $v, verified output has $exp")
          case (Right(_), None) => o.fail(s"pipeline $n: verified output could not be written")
          case (Left(e), _) => o.fail(s"pipeline $n: ${e.getMessage}")
        }
      }
    }

    // each op's time is its fastest pass (of 2 at 10 s): the least disturbed
    // by other load on the host
    val fastest = times.map { case (n, xs) => n -> xs.min }
    val total = fastest.values.sum
    o.metric("batch_total_s", total, "s")
    val geomean = math.exp(fastest.values.map(math.log).sum / fastest.size)
    o.metric("batch_geomean_s", geomean, "s")
    o.metric("op_ms", geomean * 1000, "ms")
    o.info("passes") = passes
    o.info("passes_s") = (System.nanoTime() - t0) / 1e9

    if (t.enabled) ops.foreach { n =>
      val a = System.nanoTime()
      t.span(s"count:$n", "ops.count")(fns(n)(spark, dir).count())
      o.metric(s"ops.$n.count_s", (System.nanoTime() - a) / 1e9, "s")
      o.metric(s"ops.$n.full_s", fastest(n), "s")
      val c = t.counts(g => g.startsWith("p") && g.contains(s":$n/"))
      o.metric(s"ops.$n.jobs", c.jobs.toDouble / passes, "count")
      o.metric(s"ops.$n.shuffle_mb",
        (c.shuffleReadBytes + c.shuffleWriteBytes) / 1048576.0 / passes, "MB")
    }

    Ingest.run(ctx, o, CubeCatalog.forDir(spark, dir))
    o.metric("work_s", total + o.metrics("ingest_s")._1, "s")
    if (t.enabled) Layers.report(ctx, o, Nil)
    o
  }
}
