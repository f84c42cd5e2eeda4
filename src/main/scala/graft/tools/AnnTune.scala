package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Recall/latency scratchpad for the ANN auto-sizing design points
  * ([[Similarity.knnLshAuto]] calibration, [[Similarity.knnIvfPqProbe]]
  * bound-probing): runs the [[ScaleSweep]] corpus at chosen factors and
  * prints recall@k + twin-hit + wall for each variant, so sizing changes
  * are measured before they are pinned in BENCH_scaling.json and OpsSpec.
  *
  * Usage: runMain graft.tools.AnnTune [factors] [baseSfDir] [workDir]
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val factors = args.lift(0).getOrElse("1,10")
      .split(",").map(_.trim.toInt).toSeq
    val baseDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(2).getOrElse("/tmp/graft_scale")
    val spark = graft.GraftSession.build()
    factors.foreach(f => ScaleSweep.buildCorpus(spark, baseDir, workDir, f))

    val K = ScaleSweep.K
    val qids = (0L until ScaleSweep.NQueries.toLong).toSeq
    factors.foreach { f =>
      val emb = spark.read.parquet(s"$workDir/emb_x$f")
      val n = emb.count()
      val plantedBase = emb.agg(max("vec_id")).head.getLong(0) -
        ScaleSweep.PlantedPairs + 1
      def sets(rows: Array[org.apache.spark.sql.Row]) =
        rows.groupBy(_.getLong(0)).view
          .mapValues(_.map(_.getLong(2)).toSet).toMap
      var brute = Map.empty[Long, Set[Long]]
      def report(name: String)(body: => Array[org.apache.spark.sql.Row])
          : Unit = {
        val t0 = System.nanoTime()
        val got = sets(body)
        val sec = (System.nanoTime() - t0) / 1e9
        if (brute.isEmpty) brute = got
        val recall = qids.map(q => got.getOrElse(q, Set.empty[Long])
          .intersect(brute.getOrElse(q, Set.empty[Long])).size.toDouble / K)
          .sum / qids.size
        val twin = qids.count(q => got.getOrElse(q, Set.empty[Long])
          .contains(plantedBase + q)).toDouble / qids.size
        println(f"[anntune] x$f $name%-28s ${sec}%7.2fs recall=$recall%.4f twin=$twin%.2f")
      }
      report("brute") {
        Similarity.knnBrute(emb, qids, K).collect()
      }
      report("lsh_auto_calibrated") {
        val (df, bits, tables) = Similarity.knnLshAuto(emb, qids, K)
        println(s"[anntune]   x$f lsh sizing: bits=$bits tables=$tables")
        df.collect()
      }
      val nlist = Similarity.suggestedIvfLists(n)
      val nprobe = Similarity.suggestedIvfProbes(nlist)
      val shortlist = Similarity.suggestedShortlist(n, K)
      val idx = Similarity.ivfPqIndex(emb, nlist, 16, 16, 2, 2,
        ScaleSweep.Dim)
      idx.corpus.count()
      report(s"ivfpq_seed_s$shortlist") {
        Similarity.knnIvfPqProbe(idx, qids, K, nprobe, shortlist).collect()
      }
      report(s"ivfpq_bound_s$shortlist") {
        Similarity.knnIvfPqProbe(idx, qids, K, nprobe, shortlist,
          boundProbe = true).collect()
      }
      report(s"ivfpq_bound_s${2 * shortlist}") {
        Similarity.knnIvfPqProbe(idx, qids, K, nprobe, 2 * shortlist,
          boundProbe = true).collect()
      }
    }
    spark.stop()
  }
}
