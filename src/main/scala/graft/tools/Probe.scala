package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{CubeCatalog, GraftSession, SparkEntry}

/** `runMain graft.tools.Probe <time|jobs|stages|show> <names-or-prefixes|all>
  * <sfDir> [n]` — look at gate queries one at a time. Names are
  * comma-separated; each selects every SparkEntry query it prefixes.
  *
  *  - `time`: n (default 3) cold-cache runs per query, wall and job count.
  *  - `jobs`: one run per query under bench conditions (warm catalog
  *    memoization, storage cleared once), one line each: the jobs the
  *    build phase (planning, driver-side member lookups) and the execute
  *    phase started, stages, tasks, build and execute wall. On the fast
  *    tail per-action scheduling, not compute, dominates, so job count is
  *    the thing to minimize.
  *  - `stages`: n (default 2) cold-cache runs per query, each with its
  *    job walls and its slowest stages, with the graft callsite that
  *    submitted them.
  *  - `show`: the first n (default 20) result rows.
  *
  * The profiling modes first run every selected query once off the clock
  * and drain the host load ([[warmThenDrain]]), then execute each query in
  * full through the `noop` sink: `count()` lets Catalyst prune an
  * aggregate down to its grouping keys and measures a different plan.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val modes = Set("time", "jobs", "stages", "show")
    if (args.length < 3 || !modes(args(0))) {
      System.err.println("usage: runMain graft.tools.Probe " +
        "<time|jobs|stages|show> <names-or-prefixes|all> <sfDir> [n]")
      sys.exit(2)
    }
    val Array(mode, names, sfDir) = args.take(3)
    val n = args.lift(3).map(_.toInt)
    val prefixes = Some(names).filter(_ != "all").map(_.split(",").map(_.trim))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (q, _) =>
      prefixes.forall(_.exists(q.startsWith))
    }
    val spark = GraftSession.build()
    if (mode == "show") selected.foreach { case (q, fn) =>
      println(s"== $q")
      fn(spark, sfDir).show(n.getOrElse(20), truncate = false)
    } else {
      val listener = new Listener
      spark.sparkContext.addSparkListener(listener)
      warmThenDrain {
        CubeCatalog.forDir(spark, sfDir)
        selected.foreach { case (_, fn) =>
          try materialize(fn(spark, sfDir)) catch { case _: Throwable => () }
        }
        spark.catalog.clearCache()
      }
      /** One run: (build s, execute s, build-phase jobs, the listener's
        * record of the whole run). */
      def run(fn: (SparkSession, String) => DataFrame) = {
        drain(spark)
        listener.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir) // planner work, member-lookup collects
        val build = (System.nanoTime() - t0) / 1e9
        drain(spark)
        val buildJobs = listener.snapshot.jobs.size
        val t1 = System.nanoTime()
        materialize(df)
        val exec = (System.nanoTime() - t1) / 1e9
        drain(spark)
        (build, exec, buildJobs, listener.snapshot)
      }
      mode match {
        case "jobs" =>
          println(f"${"query"}%-28s ${"bjobs"}%5s ${"xjobs"}%5s " +
            f"${"stg"}%5s ${"tasks"}%6s ${"build"}%7s ${"exec"}%7s")
          var totBuildJobs = 0L
          var totJobs = 0L
          var totWall = 0.0
          for ((q, fn) <- selected) attempt(q) {
            val (build, exec, buildJobs, r) = run(fn)
            println(f"$q%-28s $buildJobs%5d ${r.jobs.size - buildJobs}%5d " +
              f"${r.stages.size}%5d ${r.tasks}%6d $build%7.3f $exec%7.3f")
            totBuildJobs += buildJobs
            totJobs += r.jobs.size
            totWall += build + exec
          }
          println(f"TOTAL ${selected.size} queries: $totBuildJobs build + " +
            f"${totJobs - totBuildJobs} execute jobs, $totWall%.1f s")
        case _ =>
          val reps = n.getOrElse(if (mode == "time") 3 else 2)
          for ((q, fn) <- selected; rep <- 0 until reps) attempt(q) {
            spark.catalog.clearCache() // cold cache, warm JVM
            val (build, exec, _, r) = run(fn)
            println(f"[$mode] $q rep$rep: ${build + exec}%.3f s " +
              f"(build $build%.3f, execute $exec%.3f), ${r.jobs.size} jobs, " +
              f"${r.stages.size} stages")
            if (mode == "stages") {
              println(s"  jobs ms: ${r.jobs.map(_._2).mkString(" ")}")
              r.stages.sortBy(-_.ms).take(25).foreach { s =>
                println(f"  ${s.ms}%6d ms  ${s.tasks}%4d tasks  " +
                  f"stage${s.id}%-5d ${s.name.take(60)}%-60s " +
                  s.callsite.take(80))
              }
            }
          }
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    spark.stop()
  }

  private def attempt(q: String)(body: => Unit): Unit =
    try body catch { case e: Throwable => println(s"$q failed: ${e.getMessage}") }

  /** Compute every output column without collecting to the driver. */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.graftshim.SparkShim.drainListenerBus(spark, 10000)

  final case class Stage(id: Int, name: String, tasks: Int, ms: Long,
      callsite: String)
  /** Jobs as (id, wall ms; -1 while running), in start order. */
  final case class Record(jobs: Seq[(Int, Long)], stages: Seq[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
  }

  /** Jobs and completed stages since the last [[reset]]. Each stage keeps
    * the first graft frame of its callsite, so exchanges and checkpoints
    * are attributable to the operator that submitted them. */
  final class Listener extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long)]
    private val stages = mutable.ArrayBuffer.empty[Stage]

    def reset(): Unit = synchronized { jobs.clear(); stages.clear() }
    def snapshot: Record = synchronized {
      Record(jobs.toSeq.map { case (id, (start, end)) =>
        id -> (if (end < 0) -1L else end - start) }, stages.toSeq)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs(e.jobId) = (e.time, -1L) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { case (start, _) =>
        jobs(e.jobId) = (start, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val ms = (for { a <- i.completionTime; b <- i.submissionTime }
        yield a - b).getOrElse(-1L)
      val callsite = i.details.linesIterator
        .find(l => l.contains("graft") && !l.contains("graft.tools.Probe"))
        .getOrElse("").trim
      synchronized { stages += Stage(i.stageId, i.name, i.numTasks, ms, callsite) }
    }
  }

  /** The host's 1-minute load average; negative where the platform has
    * none. */
  def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  final case class Drained(ambient: Double, threshold: Double, seconds: Double)

  /** Run `warmup` off the clock, then wait (at most 240 s) for the load
    * average to decay back toward what the host was doing before it.
    *
    * A warmup's own threads dominate the 1-minute load for ~2 minutes
    * after it ends, so without the wait a measured pass starts into the
    * warmup's scheduler residue and its load stamp can only ever read the
    * warmup, never the ambient machine. The bar is relative to the ambient
    * load (+0.5 for the average's tail): an absolute bar on a busy host
    * would stall the full bound and still stamp high. It is floored at
    * cores/8, a quiet bar that scales with the host. */
  def warmThenDrain(warmup: => Unit): Drained = {
    val ambient = math.max(0.0, load1())
    warmup
    val threshold = math.max(ambient + 0.5,
      Runtime.getRuntime.availableProcessors / 8.0)
    val t0 = System.nanoTime()
    while (load1() > threshold && System.nanoTime() - t0 < 240e9.toLong)
      Thread.sleep(5000)
    Drained(ambient, threshold, (System.nanoTime() - t0) / 1e9)
  }
}
