package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test run (suites reuse via getOrCreate). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // keep saveAsTable (bucketing tests) out of the repo working tree; the
    // warehouse dir is static, so it must be set before the session exists
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    val s = GraftSession.build() // 8 cores: SPARK_GRAFT_CPUS in build.sbt
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  lazy val catalog: CubeCatalog = CubeCatalog.forDir(spark, sf)

  /** `body`'s result and the Spark jobs started while it ran, counted by
    * [[graft.tools.Probe.Listener]] with the listener bus drained on both
    * sides. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val listener = new graft.tools.Probe.Listener
    def drain(): Unit = org.apache.spark.sql.graftshim.SparkShim
      .drainListenerBus(spark, 10000)
    drain()
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      drain()
      (result, listener.snapshot.jobs.size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
