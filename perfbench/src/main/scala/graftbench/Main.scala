package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.result.Json

/** What a workload run hands back: operation counts, every failure by
  * name, metrics (name -> value, unit) and informational fields such as
  * sample counts. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def ok(): Unit = attempted += 1
  def fail(what: String): Unit = {
    attempted += 1
    failed += 1
    failures += what
  }
  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, dataDir: String,
    inputs: Map[String, Any], seconds: Double, tracer: Tracer,
    outDir: java.nio.file.Path, sessionS: Double) {
  def cores: Int = spark.sparkContext.defaultParallelism
  def seq(key: String): Seq[Any] = inputs(key).asInstanceOf[Seq[Any]]
}

object Stats {
  /** Nearest-rank percentile (p in 0..1) of unsorted values. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Median duration in seconds of `reps` runs of `f`. */
  def medianSeconds(reps: Int)(f: => Unit): Double =
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    })

  /** Storage memory held on the executors, in MB, and the cached blocks. */
  def storage(spark: SparkSession): (Double, Long) = {
    val sc = spark.sparkContext
    val used = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    (used / 1048576.0, sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum)
  }
}

/** Benchmark JVM entry point. run.py generates the inputs from the seed and
  * starts this with `java -cp`, then reads the one `GRAFTBENCH_RESULT` line
  * it prints on stdout.
  *
  *   graftbench.Main --workload <dashboard|pipeline> --data <dir>
  *     --inputs <inputs.json> --seconds <n> --trace <0|1> --out <dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = java.nio.file.Paths.get(opt("out"))
    java.nio.file.Files.createDirectories(out)
    val inputs = Json.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(opt("inputs"))), "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, opt("trace") == "1")
    val ctx = Ctx(spark, opt("data"), inputs, opt("seconds").toDouble,
      tracer, out, sessionS)
    val o = opt("workload") match {
      case "dashboard" => Dashboard.run(ctx)
      case "pipeline" => Pipeline.run(ctx)
    }
    if (tracer.enabled) tracer.write(out.resolve("spans.jsonl"))
    val (storageMb, blocks) = Stats.storage(spark)
    o.metric("storage_mb", storageMb, "MB")
    o.metric("catalog.storage_mb", storageMb, "MB")
    o.metric("catalog.cached_blocks", blocks.toDouble, "count")
    o.info("session_s") = sessionS
    o.info("spark_version") = spark.version
    o.info("cores") = cores
    println("GRAFTBENCH_RESULT " + Json.write(Map(
      "attempted" -> o.attempted, "failed" -> o.failed,
      "failures" -> o.failures.toSeq,
      "metrics" -> o.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "info" -> o.info.toMap)))
    System.out.flush()
    spark.stop()
  }
}
