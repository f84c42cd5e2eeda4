package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}

/** Scale-slope harness for the embedding dedup/ANN family: measures what the
  * PRODUCTION index sizing ([[graft.ops.Dedup.suggestedLshBits]] /
  * [[graft.ops.Dedup.suggestedLshTables]] /
  * [[graft.ops.Similarity.suggestedIvfLists]], computed here from the
  * corpus count, and [[graft.ops.Similarity.knnLshAuto]]) buys over the
  * fixed demo parameters the oracle-replayable gate queries pin, as the
  * corpus grows 1× → 10× → 100×.
  *
  * Corpus: the driver's sf embeddings replicated `factor`× with per-replica
  * deterministic ±1 sign masks (norm-preserving; cross-replica cosines
  * collapse to ~N(0, 1/√dim), so no artifact near-dup pairs at the sweep
  * threshold), PLUS a labeled fixture of `plantedPairs` near-duplicates
  * constructed at an exact angle (cos = plantedCos against their replica-0
  * source vectors) — the ground truth for recall. Recall compares the same
  * planted set under fixed vs auto sizing, so the slope numbers can't be
  * bought by silently dropping recall.
  *
  * Fixed-parameter variants are SKIPPED at a factor once their estimated
  * within-bucket pair work exceeds `pairBudget` (that blowup is the point —
  * the skip is recorded in the JSON); auto variants run at every factor.
  * knnIvfProbe is exactness-guaranteed, so its probe results are additionally
  * asserted equal to brute force at every factor — scale-correctness, not
  * just scale-speed.
  *
  * Usage: runMain graft.tools.ScaleSweep [baseSfDir] [workDir] [outJson]
  *        [factors]   (defaults: /root/testdata/sf0.1 /tmp/graft_scale
  *                     BENCH_scaling.json 1,10,100)
  */
object ScaleSweep {

  private[tools] val Threshold = 0.9 // near-dup cosine threshold = LSH design point
  private[tools] val PlantedCos = 0.95 // planted pairs sit above it with margin
  private[tools] val PlantedPairs = 256
  private[tools] val Dim = 64
  private[tools] val K = 10 // kNN depth
  private[tools] val NQueries = 16
  private val PairBudget = 5e8 // est. bucket-pair work cap for fixed params

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scale")
    val outJson = args.lift(2).getOrElse("BENCH_scaling.json")
    val factors = args.lift(3).getOrElse("1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.GraftSession.build()

    factors.foreach(f => buildCorpus(spark, baseDir, workDir, f))
    factors.foreach(f => buildDocsCorpus(spark, baseDir, workDir, f))
    factors.foreach(f => buildOlapCorpus(spark, baseDir, workDir, f))

    // crash-safe + resumable: each factor's results persist as a fragment
    // file; a rerun recomputes only the missing factors (and skips the
    // warmup when nothing needs computing)
    def fragPath(f: Int) = java.nio.file.Paths.get(s"$workDir/result_x$f.json")
    val missing = factors.filter(f => !java.nio.file.Files.exists(fragPath(f)))
    if (missing.nonEmpty) {
      val d = Probe.warmThenDrain { // JVM/codegen warmup
        runFactor(spark, workDir, missing.min, warm = true)
      }
      println(f"[scalesweep] post-warmup drain: load1 ${Probe.load1()}%.2f " +
        f"(ambient ${d.ambient}%.2f, threshold ${d.threshold}%.2f) " +
        f"after ${d.seconds}%.0f s")
    }
    missing.foreach { f =>
      val r = runFactor(spark, workDir, f, warm = false)
      val ops = r.ops.toSeq.sortBy(_._1).map { case (name, m) =>
        val extra = m.extra.map { case (k, v) => s""","$k":$v""" }.mkString
        s""""$name":{"sec":${fmt(m.sec)},"rows":${m.rows}$extra}"""
      }
      java.nio.file.Files.writeString(fragPath(f),
        s"""{"factor":${r.factor},"n":${r.n},"params":${r.params},"ops":{${ops.mkString(",")}}}""")
      println(s"[scalesweep] fragment written: ${fragPath(f)}")
    }

    val factorJson = factors.map(f => java.nio.file.Files.readString(fragPath(f)))
    // (factor, op) -> seconds, parsed back from the fragments, for slopes
    val parsed = factors.zip(factorJson).map { case (f, s) =>
      val doc = graft.result.Json.parse(s).asInstanceOf[Map[String, Any]]
      f -> doc("ops").asInstanceOf[Map[String, Any]].map { case (op, m) =>
        op -> (m.asInstanceOf[Map[String, Any]]("sec") match {
          case d: Double => d
          case l: Long => l.toDouble
          case other => other.toString.toDouble
        })
      }
    }
    val opNames = parsed.flatMap(_._2.keys).distinct
    val slopes = opNames.map { op =>
      val pts = parsed.flatMap { case (f, m) => m.get(op).map(f -> _) }
      val ss = pts.sliding(2).collect {
        case Seq((f0, t0), (f1, t1)) if t0 > 0 =>
          s""""x${f1}_over_x$f0":${fmt(t1 / t0)}"""
      }.toSeq
      s""""$op":{${ss.mkString(",")}}"""
    }
    val notes = Seq(
      "environment stamps: every op row carries (load1 at op start, heap_used_mb at op end) and every factor block carries host_load1 [before, after] + host_cpus — the Bench.json treatment, so a contention or session-pressure anomaly is attributable from the artifact alone; between op FAMILIES the session clears cached relations and unpersists lingering localCheckpoint blocks (familyBoundary), so one family's residue cannot tax the next family's rows (the r13 q49-at-100x lesson)",
      "containment_auto: the df-capped production containment join (cap = max(256, 4*sqrt(n)) postings per shingle, deterministic xxhash downsample) — sub-quadratic by construction so it runs at EVERY factor where the exact SSJoin row is budget-capped; recall contract: any pair sharing a sub-cap prefix shingle is found exactly (planted dups share their rarest shingles -> recall_exact must be 1.0 at every factor)",
      "fixed = gate demo parameters (d10 bits=6/tables=2, s02 bits=8, s04 nlist=8/nprobe=3, d15/d16 kmeans k=8); auto = suggestedLshBits/suggestedLshTables/suggestedIvfLists computed from the actual corpus count",
      s"fixed variants are skipped (op absent) once estimated bucket-pair work exceeds ${PairBudget.toLong} — the quadratic blowup the auto sizing removes",
      "recall = fraction of the planted exact-angle near-dup fixture recovered; ivf probe results are asserted equal to brute force (exactness bound) at every factor",
      "knn_lsh_fixed is the gate's single-table form (s02 bits=8); knn_lsh_auto is the production planner: DATA-CALIBRATED sizing (design cosine = sampled k-th-neighbor cosine of the actual workload, (bits, tables) solve targetRecall 0.95 with MULTIPROBE per-table success p^b + b*p^(b-1)*(1-p) — flip-1 probes ride the broadcast query side, so tables and the corpus explode shrink ~(1+b)x) plus a COST-BASED CUTOVER: when predicted probe coverage T*(1+b)/2^b reaches 0.25 of the corpus the op takes the exact codegen'd scan instead (tables=0, recall 1.0) — the classic index-vs-scan decision; this isotropic corpus (k-th neighbor cos ~3sigma of N(0,1/dim)) always tips to the scan, so knn_lsh_auto reports brute-level wall at linear slope with recall 1.0",
      "knn_lsh_design is the LSH index path at its contract regime (pinned cos-0.95 design point = the planted-twin cosine): multiprobe sizing stays on the index with a handful of tables at every factor; twin_hit (the find-my-near-duplicate metric the index exists for) holds while recall@10 counts background neighbors below the design cosine, outside the contract",
      "semdedup auto sizes kmeans k as sqrt(n) (suggestedIvfLists rule): assignment and within-cluster pair work balance at O(n^1.5); the 100TB configuration grows k ~ n/targetCluster with hierarchical assignment",
      "asymptotics: auto-sized near-dup pair work is C*n^(1+rho) with rho = 1 - log2(2p)/1 ~ 0.22 at the cos-0.9 design point (the classic hyperplane-LSH exponent: holding recall while buckets shrink costs tables ~ p^-bits) — sub-quadratic by construction vs the fixed-parameter n^2, which is why fixed is budget-skipped at 100x while auto completes with recall 1.0; ivf probe is the O(sqrt n) + constant-cell-scan path and its slope stays ~1",
      "text family (minhash_pairs/simhash_pairs/ngram_jaccard): banding keys live in 2^64 space, so buckets hold only genuine duplicate groups and pair work is ~linear in n with NO sizing knob — the structural contrast with hyperplane LSH's 2^bits buckets; planted recall (128 exact clones at jaccard 1.0, 128 one-token-appended near-dups ~0.97) proves the banding contract at every factor; the PPJoin SSJoin carries inherent sum-df^2 growth and is capped at 200k docs like the fixed embedding variants",
      "video_neardup (m08 shape): REAL YUV4MPEG2 decode (synthetic md5-derived clips, 60-69 frames) -> 64-bit temporal luma-delta fingerprints -> the shared pigeonhole-banded Hamming join; decode is a map-only pass with bounded per-row state and fingerprints are md5-uniform, so pair work stays ~linear like the text banding families; reup_recall/graded_recall = fraction of planted byte-identical re-uploads / +8-brightness-graded re-encodes found (both must be 1.0 at every factor — the grade is Hamming 0 by the delta-sign shift invariance)",
      "codec_decode (m09/m12/m13/m14 shapes): mixed-codec corpus (linear-PCM WAV / G.711 mu-law / IMA ADPCM by doc_id mod 3) through the real decode dispatch, then through transcodePcm16 + re-decode; both passes map-only, decoded_frac and transcode_decoded_frac must be 1.0 at every factor and the wall slope ~linear in n",
      "knn_pq (s12): one op = 16 subspace k-means trains + 8-byte encode + ADC lookup-table scan + exact re-rank of a fixed 100-candidate shortlist — every stage a linear corpus pass; twin_hit stays 1.0 while plain recall@10 decays with n at FIXED shortlist (more distractors per true neighbor), the documented PQ trade: recall is bought with shortlist width, memory stays 32x compressed",
      "knn_pq_auto / knn_lsh_auto / ivfpq_probe_auto wire suggestedShortlist(n,k) = max(4k, sqrt(n)) — the THIRD sizing knob: the shortlist (LSH: target bucket population) grows as sqrt(n), so recall@k holds across factors where the fixed-width rows decay; re-rank work stays O(sqrt n) per query",
      "knn_pq_bound is the SERVED flat-PQ path (gate s15): the encode stores each vector's quantization residual norm, the ADC shortlist seeds a provisional exact k-th score theta, and every vector whose adc + |q|*residual Cauchy-Schwarz bound reaches theta is re-ranked exactly — nothing else can enter the top-k, so recall is 1.0 BY CONSTRUCTION at every factor (the decayed knn_pq/knn_pq_auto rows above stay as the measurement of what fixed/sqrt-n shortlists alone buy); certified_frac + cutover record the cost-model decision: when the bound certifies >= 50% of the corpus (this isotropic fixture: residual ~ the vector itself, the no-index-wins regime) the op serves the codegen'd brute scan, which is the same exact answer read once without join machinery — clustered real-world embeddings certify ~one cluster and keep the 32x-compressed path (OpsSpec pins both regimes)",
      "the per-factor index-vs-scan decision of every auto op is now ON the row: knn_lsh_auto/knn_lsh_design carry (bits, tables, cutover), knn_pq_bound carries (shortlist, certified_frac, cutover) — the cost model's behavior at 100x is auditable from the artifact alone",
      "q02/q11/q49/q52/q54 rows run the actual OLAP gate queries against a factor-scaled FULL sf directory (ScaleUp.build: facts replicate, dims and the calendar stay fixed — the 100TB shape): star-join agg, dense-axes densify, exact equi-depth tiling, RFM windowing, domain-exact lag under a gap cut (q54: relaxed time cuts -> calendar-domain windows -> post-window re-cut, the lag expansion staying calendar-bounded while the fact grows — maxCells guard untriggered by construction); their slopes isolate fact-scan/shuffle/window growth on the engine paths the embedding ops don't touch. (ScaleUp shifts event replica i by i seconds, so late-night events can roll one extra calendar day into the q11 dense domain at high factors — 155 vs 150 cells, a corpus-builder artifact, not drift.) The factor-100 q49 run is also the regression fixture that CAUGHT the ntileOf decimal-rounding phantom tile (RankingSpec pins it)",
      "ivfpq (s14) composes the IVF coarse quantizer with PQ codes of RESIDUALS (Jegou et al. IVFADC): build = coarse kmeans + 16 residual-subspace kmeans + encode (linear, paid once per ingest); ivfpq_probe_auto runs the THETA-BOUND two-phase probe (the exact ivf_probe recipe applied to the compressed scan: seed cells give a provisional exact k-th score, then every cell whose Cauchy-Schwarz bound reaches it is ADC-scanned) with shortlist 2*suggestedShortlist(n,k) — DESIGN POINT: recall@10 >= 0.8 at every factor (the only remaining loss is ADC shortlist truncation inside probed cells; coarse-probe misses are eliminated by the bound), pinned by OpsSpec on the planted fixture")
      .map(s => "\"" + s + "\"")
    val json =
      s"""{"base":"$baseDir","threshold":$Threshold,"planted":{"pairs":$PlantedPairs,"cos":$PlantedCos},
         |"factors":[${factorJson.mkString(",\n")}],
         |"slopes":{${slopes.mkString(",")}},
         |"notes":[${notes.mkString(",")}]}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(s"[scalesweep] wrote $outJson")
    spark.stop()
  }

  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  /** Deterministic ±1 sign mask per replica (replica 0 = identity). */
  private def signMasks(factor: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(1234L)
    Array.tabulate(factor) { r =>
      val m = Array.fill(Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
      if (r == 0) Array.fill(Dim)(1.0) else m
    }
  }

  /** v' at EXACT angle acos(cos0) from unit v: cos0·v + sin0·û with û a
    * seeded Gaussian orthogonalized against v. */
  private def tilt(v: Array[Double], rnd: java.util.Random,
      cos0: Double): Array[Double] = {
    val g = Array.fill(v.length)(rnd.nextGaussian())
    val gv = g.zip(v).map { case (a, b) => a * b }.sum
    val u = g.zip(v).map { case (a, b) => a - gv * b }
    val un = math.sqrt(u.map(x => x * x).sum)
    val sin0 = math.sqrt(1 - cos0 * cos0)
    v.zip(u).map { case (b, o) => cos0 * b + sin0 * o / un }
  }

  /** Replicated + planted corpus at `workDir/emb_x{factor}` (built once). */
  private[tools] def buildCorpus(spark: SparkSession, baseDir: String,
      workDir: String, factor: Int): Unit = {
    val path = s"$workDir/emb_x$factor"
    if (new java.io.File(s"$path/_SUCCESS").exists()) return
    val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)")
        .as("embedding"), col("label"))
    val stride = base.agg(max("vec_id")).head.getLong(0) + 1
    val masks = typedLit(signMasks(factor).map(_.toSeq).toSeq)
    val reps = spark.range(factor).select(col("id").cast("int").as("__r"))
    val replicated = base.crossJoin(reps).select(
      (col("vec_id") + col("__r") * stride).as("vec_id"),
      zip_with(col("embedding"), element_at(masks, col("__r") + 1),
        (x, m) => x * m).as("embedding"),
      col("label"))
    // planted near-dups: exact-angle copies of replica-0 sources 0..P-1
    val rnd = new java.util.Random(9999L)
    val sources = base.where(col("vec_id") < PlantedPairs)
      .orderBy("vec_id").collect()
    val planted = sources.map { r =>
      val v = r.getSeq[Double](1).toArray
      (factor * stride + r.getLong(0), tilt(v, rnd, PlantedCos).toSeq,
        r.getInt(2))
    }.toSeq
    import spark.implicits._
    replicated.unionByName(
        planted.toDF("vec_id", "embedding", "label"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
    println(s"[scalesweep] built $path")
  }

  /** Factor-scaled OLAP corpus (full sf-dir layout) via [[ScaleUp.build]]:
    * facts replicate, dims and the calendar stay fixed — the 100 TB shape
    * (fact growth at constant dimensions), so the q-row slopes isolate
    * fact-scan + shuffle growth. */
  private def buildOlapCorpus(spark: SparkSession, baseDir: String,
      workDir: String, factor: Int): Unit = {
    val path = s"$workDir/olap_x$factor"
    if (new java.io.File(s"$path/embeddings.parquet/_SUCCESS").exists())
      return
    ScaleUp.build(spark, baseDir, path, factor)
    println(s"[scalesweep] built $path")
  }

  private val PlantedDocs = 128 // planted text dup/near-dup pairs per kind

  /** Replicated + planted TEXT corpus at `workDir/docs_x{factor}`. Every
    * token carries a per-replica suffix (the ScaleUp recipe), so
    * cross-replica shingle sets are disjoint and pair counts measure
    * throughput, not clone artifacts. Planted ground truth: `PlantedDocs`
    * EXACT clones of replica-0 docs (jaccard 1.0) and `PlantedDocs`
    * one-token-appended near-dups (jaccard ≈ S/(S+1)). */
  private def buildDocsCorpus(spark: SparkSession, baseDir: String,
      workDir: String, factor: Int): Unit = {
    val path = s"$workDir/docs_x$factor"
    if (new java.io.File(s"$path/_SUCCESS").exists()) return
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val stride = base.agg(max("doc_id")).head.getLong(0) + 1
    val reps = (0 until factor).map { i =>
      val shifted = base.withColumn("doc_id", col("doc_id") + lit(i * stride))
      if (i == 0) shifted
      else shifted.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", s"$$1$i"))
    }.reduce(_ unionByName _)
    val src = base.where(col("doc_id") < PlantedDocs)
    val exactClones = src
      .withColumn("doc_id", col("doc_id") + lit(factor * stride))
    val nearClones = src
      .withColumn("doc_id", col("doc_id") + lit(factor * stride + PlantedDocs))
      .withColumn("text", concat(col("text"), lit(" zzextra")))
    reps.unionByName(exactClones).unionByName(nearClones)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
    println(s"[scalesweep] built $path")
  }

  private final case class OpResult(sec: Double, rows: Long,
      extra: Map[String, String] = Map.empty)
  private final case class FactorResult(factor: Int, n: Long, params: String,
      ops: scala.collection.immutable.ListMap[String, OpResult])

  private def runFactor(spark: SparkSession, workDir: String, factor: Int,
      warm: Boolean): FactorResult = {
    val emb = spark.read.parquet(s"$workDir/emb_x$factor")
    val n = emb.count()
    // planted rows carry the top PlantedPairs ids (built after all replicas);
    // their sources are replica-0 ids 0..P-1
    val plantedBase = emb.agg(max("vec_id")).head.getLong(0) -
      PlantedPairs + 1
    val baseStride = plantedBase / factor
    val bitsAuto = Dedup.suggestedLshBits(n)
    val tablesAuto = Dedup.suggestedLshTables(bitsAuto, Threshold)
    val nlistAuto = Similarity.suggestedIvfLists(n)
    val kSemAuto = Similarity.suggestedIvfLists(n)
    import spark.implicits._
    val truth = (0 until PlantedPairs)
      .map(i => (i.toLong, plantedBase + i)).toDF("t_a", "t_b")
    // kNN queries = planted SOURCES: each has a known twin at PlantedCos,
    // so besides plain recall@k vs brute force, every kNN op reports
    // twin_hit — the find-my-near-duplicate retrieval task LSH exists for
    val qids = (0L until NQueries.toLong).toSeq
    def twinOf(q: Long): Long = plantedBase + q

    var ops = scala.collection.immutable.ListMap.empty[String, OpResult]
    // Environment stamps (the Bench.scala treatment): the r13 artifact
    // carried a q49 factor-100 regression with no attributable cause ON
    // the row — load + heap per op and load per factor block make (or
    // rule out) the contention/session-pressure case without a re-run.
    def loadJson(v: Double): String = if (v < 0) "null" else fmt(v)
    def heapUsedMb: Long = {
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / (1L << 20)
    }
    def time(name: String)(body: => (Long, Map[String, String])): Unit = {
      val l0 = Probe.load1()
      val t0 = System.nanoTime()
      val (rows, extra) = body
      val sec = (System.nanoTime() - t0) / 1e9
      if (!warm) {
        ops += name -> OpResult(sec, rows, extra +
          ("load1" -> loadJson(l0)) + ("heap_used_mb" -> heapUsedMb.toString))
        println(f"[scalesweep] x$factor $name%-16s ${sec}%8.2fs rows=$rows $extra")
      }
    }
    // One family's cache/localCheckpoint residue must not tax the next
    // family's rows (the r13 q49 anomaly: session-state pressure from the
    // media ops preceding it): between families, drop cached relations,
    // unpersist every lingering RDD block, and let the JVM reclaim — each
    // family block then measures from a clean executor-memory slate.
    // Within a family the residue stays: delta/index ops legitimately
    // share memoized artifacts.
    def familyBoundary(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    val loadBefore = Probe.load1()
    def recallOf(pairs: DataFrame): (Long, Double) = {
      val found = pairs.join(truth,
        col("vec_a") === col("t_a") && col("vec_b") === col("t_b"))
        .count()
      (found, found.toDouble / PlantedPairs)
    }

    // --- near-dup pairs: fixed demo params vs auto sizing ---
    def neardup(name: String, bits: Int, tables: Int): Unit = {
      val estWork = tables.toDouble * n * n / math.pow(2, bits)
      if (estWork > PairBudget) return // recorded by absence + notes
      time(name) {
        val pairs = Dedup.embeddingNearDupLshPairs(emb, Threshold, bits,
          tables, Dim).localCheckpoint()
        val rows = pairs.count()
        val (_, rec) = recallOf(pairs)
        (rows, Map("bits" -> bits.toString, "tables" -> tables.toString,
          "recall" -> fmt(rec)))
      }
    }
    neardup("neardup_fixed", 6, 2)
    neardup("neardup_auto", bitsAuto, tablesAuto)

    // --- SemDeDup greedy: fixed k=8 vs sqrt(n) clusters (build + apply) ---
    def semdedup(name: String, k: Int): Unit = {
      val estWork = n.toDouble * n / k
      if (estWork > PairBudget) return
      time(name) {
        val cs = Similarity.kmeansCentroids(emb, k, 3)
        val out = Dedup.semanticDedupGreedy(emb, cs, 0.35)
        val kept = out.where(col("kept") === 1).count()
        (kept, Map("k" -> k.toString))
      }
    }
    semdedup("semdedup_fixed", 8)
    semdedup("semdedup_auto", kSemAuto)

    // --- kNN: brute truth, LSH fixed (gate single-table) vs auto
    // (multi-table production sizing), IVF fixed/auto ---
    var brute = Map.empty[Long, Set[Long]]
    def sets(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
        .toMap
    def knnMetrics(got: Map[Long, Set[Long]]): Map[String, String] = Map(
      "recall" -> fmt(qids.map(q => got.getOrElse(q, Set.empty[Long])
        .intersect(brute.getOrElse(q, Set.empty[Long])).size.toDouble / K)
        .sum / qids.size),
      "twin_hit" -> fmt(qids.count(q =>
        got.getOrElse(q, Set.empty[Long]).contains(twinOf(q))).toDouble /
        qids.size))
    time("knn_brute") {
      val rows = Similarity.knnBrute(emb, qids, K).collect()
      brute = sets(rows)
      (rows.length, Map(
        "twin_hit" -> fmt(qids.count(q => brute.getOrElse(q,
          Set.empty[Long]).contains(twinOf(q))).toDouble / qids.size)))
    }
    time("knn_lsh_fixed") {
      val rows = Similarity.knnLsh(emb, qids, K, bits = 8, dim = Dim)
        .collect()
      (rows.length, Map("bits" -> "8") ++ knnMetrics(sets(rows)))
    }
    time("knn_lsh_auto") {
      // calibrated sizing + cost-based planner: on this isotropic corpus
      // the predicted probe coverage tips the index-vs-scan decision to
      // the exact scan (tables = 0) — recall 1.0 at brute's linear slope
      val (df, bits, tables) = Similarity.knnLshAuto(emb, qids, K, dim = Dim)
      val rows = df.collect()
      (rows.length, Map("bits" -> bits.toString,
        "tables" -> tables.toString,
        "cutover" -> (tables == 0).toString) ++ knnMetrics(sets(rows)))
    }
    time("knn_lsh_design") {
      // the LSH path itself, at its contract regime: a pinned cos-0.95
      // design point (the planted-twin cosine) keeps multiprobe sizing on
      // the index path with a handful of tables — twin_hit is the metric
      // the index exists for; recall@10 counts background neighbors below
      // the design cosine, outside the contract
      val (df, bits, tables) = Similarity.knnLshAuto(emb, qids, K,
        targetCos = 0.95, dim = Dim)
      val rows = df.collect()
      (rows.length, Map("bits" -> bits.toString,
        "tables" -> tables.toString,
        "cutover" -> (tables == 0).toString) ++ knnMetrics(sets(rows)))
    }
    def ivf(buildName: String, probeName: String, nlist: Int): Unit = {
      var idx: Similarity.IvfIndex = null
      time(buildName) {
        idx = Similarity.ivfIndex(emb, nlist, 3)
        (idx.corpus.count(), Map("nlist" -> nlist.toString))
      }
      time(probeName) {
        val rows = Similarity.knnIvfProbe(idx, qids, K, nprobe = 3).collect()
        val m = knnMetrics(sets(rows)) // exactness bound → recall 1.0
        assert(warm || m("recall") == fmt(1.0),
          s"$probeName recall ${m("recall")} != 1.0 — exactness bound violated")
        (rows.length, Map("nlist" -> nlist.toString) ++ m)
      }
    }
    ivf("ivf_build_fixed", "ivf_probe_fixed", 8)
    ivf("ivf_build_auto", "ivf_probe_auto", nlistAuto)
    // PQ/ADC: codebook train + encode + lookup-table scan, the index build
    // timed with the search — every stage is a linear corpus pass (16
    // subspace k-means of 4-dim slices, then an m-lookup scan per
    // candidate); the 8-byte codes are the resident index, so the scan
    // reads 32× fewer bytes than brute. The build is the served pqIndex,
    // so the timing includes its residual-norm pass and the checkpoint of
    // the encoded corpus
    time("knn_pq") {
      val rows = Similarity.pqKnnWith(Similarity.pqIndex(emb, dim = Dim),
        qids, K, shortlist = 100).collect()
      (rows.length, Map("m" -> "16", "ksub" -> "16",
        "shortlist" -> "100") ++ knnMetrics(sets(rows)))
    }
    // the third sizing knob: shortlist grows as sqrt(n) so recall@k holds
    // while the fixed-100 row above decays (same codebooks, same scan)
    time("knn_pq_auto") {
      val shortlist = Similarity.suggestedShortlist(n, K)
      val rows = Similarity.pqKnnWith(Similarity.pqIndex(emb, dim = Dim),
        qids, K, shortlist).collect()
      (rows.length, Map("m" -> "16", "ksub" -> "16",
        "shortlist" -> shortlist.toString) ++ knnMetrics(sets(rows)))
    }
    // the SERVED flat-PQ path (gate s15): θ-bound certification — the
    // encode stores each vector's residual norm, the ADC shortlist seeds
    // a provisional k-th score, and everything whose Cauchy-Schwarz bound
    // reaches it re-ranks exactly, so recall is 1.0 BY CONSTRUCTION at
    // every factor. The row records the certified fraction and whether
    // the cost model served the index or the (equally exact) brute scan;
    // this isotropic corpus certifies nearly everything, so the planner
    // tips to the scan — clustered real-world embeddings keep the
    // compressed path (OpsSpec pins both regimes)
    time("knn_pq_bound") {
      val (df, shortlist, frac, cut) = Similarity.pqKnnBoundAuto(
        Similarity.pqIndex(emb, dim = Dim), qids, K)
      val rows = df.collect()
      (rows.length, Map("m" -> "16", "ksub" -> "16",
        "shortlist" -> shortlist.toString,
        "certified_frac" -> fmt(frac),
        "cutover" -> cut.toString) ++ knnMetrics(sets(rows)))
    }
    // IVF-PQ (s14): probed-cell ADC replaces the full-corpus scan — build
    // linear, probe ~flat with sqrt(n) cells; shortlist auto-sized
    def ivfpq(buildName: String, probeName: String, nlist: Int): Unit = {
      var idx: Similarity.IvfPqIndex = null
      time(buildName) {
        idx = Similarity.ivfPqIndex(emb, nlist, 16, 16, 2, 2, Dim)
        (idx.corpus.count(), Map("nlist" -> nlist.toString))
      }
      time(probeName) {
        // the ≥0.8 recall@k design point: θ-bound phase-2 probing removes
        // the coarse-probe loss, 2×√n shortlist bounds the ADC truncation
        val shortlist = 2 * Similarity.suggestedShortlist(n, K)
        val nprobe = Similarity.suggestedIvfProbes(nlist)
        val rows = Similarity.knnIvfPqProbe(idx, qids, K, nprobe = nprobe,
          shortlist = shortlist, boundProbe = true).collect()
        (rows.length, Map("nlist" -> nlist.toString,
          "nprobe" -> nprobe.toString,
          "shortlist" -> shortlist.toString) ++ knnMetrics(sets(rows)))
      }
    }
    ivfpq("ivfpq_build_auto", "ivfpq_probe_auto", nlistAuto)
    familyBoundary()

    // --- text-dedup family (d02/d03/d04 shapes): banding keys live in
    // 2^64 space, so buckets hold only true duplicate groups and pair work
    // is ~linear in the corpus BY CONSTRUCTION (no sizing knob needed —
    // the contrast with hyperplane LSH's 2^bits buckets above); planted
    // recall proves the banding contract holds while n grows. The SSJoin
    // carries inherent Σdf² growth and is budget-capped like the fixed
    // embedding variants. ---
    val docs = spark.read.parquet(s"$workDir/docs_x$factor")
    val nDocs = docs.count()
    val docPlantedBase = docs.agg(max("doc_id")).head.getLong(0) -
      2 * PlantedDocs + 1
    def docRecall(pairs: DataFrame, offset: Int): Double = {
      val t = (0 until PlantedDocs)
        .map(i => (i.toLong, docPlantedBase + offset + i))
        .toDF("t_a", "t_b")
      pairs.join(t, col("doc_a") === col("t_a") && col("doc_b") === col("t_b"))
        .count().toDouble / PlantedDocs
    }
    time("minhash_pairs") {
      val pairs = Dedup.minhashLshPairs(docs, 3, 32, 4, 0.8)
        .localCheckpoint()
      val rows = pairs.count()
      (rows, Map("n_docs" -> nDocs.toString,
        "recall_exact" -> fmt(docRecall(pairs, 0)),
        "recall_near" -> fmt(docRecall(pairs, PlantedDocs))))
    }
    time("simhash_pairs") {
      val pairs = Dedup.simhashPairs(docs, 3).localCheckpoint()
      val rows = pairs.count()
      (rows, Map("recall_exact" -> fmt(docRecall(pairs, 0))))
    }
    // the uncapped symmetric SSJoin stays budget-capped (Σ prefix_df²
    // class); the same operator with the auto df cap is the 100×-runnable
    // ngram_jaccard_auto row below
    if (nDocs <= 200000) time("ngram_jaccard") {
      val rows = Dedup.ngramJaccardPairs(docs, 3, "lang", 0.5).count()
      (rows, Map("threshold" -> "0.5", "n_docs" -> nDocs.toString))
    }
    // directional containment shares the SSJoin's Σdf² class (prefix ⋈
    // full index) — budget-capped like it; planted exact dups must appear
    // at containment 1.0 in the canonical direction
    if (nDocs <= 200000) time("containment") {
      val pairs = Dedup.containmentPairs(docs, 3, "lang", 0.8)
        .localCheckpoint()
      val rows = pairs.count()
      (rows, Map("threshold" -> "0.8", "n_docs" -> nDocs.toString,
        "recall_exact" -> fmt(docRecall(pairs, 0))))
    }
    // the PRODUCTION containment path: the auto df cap on the container
    // index — sub-quadratic by construction, so it runs at EVERY factor
    // (the family's auto-sized 100×-runnable row). Planted exact dups share
    // their rarest shingles, which sit far under the auto cap, so the
    // recall contract pins them at 1.0 regardless of corpus size.
    time("containment_auto") {
      val pairs = Dedup.containmentPairs(docs, 3, "lang", 0.8,
        Dedup.AutoDfCap).localCheckpoint()
      val rows = pairs.count()
      (rows, Map("threshold" -> "0.8", "n_docs" -> nDocs.toString,
        "recall_exact" -> fmt(docRecall(pairs, 0))))
    }
    // the PRODUCTION symmetric-Jaccard path: the auto df cap on the index
    // side of the prefix self-join (probe side uncapped, candidate work
    // O(P·cap)) — the family's auto-sized 100×-runnable row, closing the
    // last budget-capped fuzzy family (ngram_jaccard above). Planted exact
    // dups share their rarest shingles, far under the auto cap, so the
    // recall contract pins them at 1.0 at every factor.
    time("ngram_jaccard_auto") {
      val pairs = Dedup.ngramJaccardPairs(docs, 3, "lang", 0.5,
        Dedup.AutoDfCap).localCheckpoint()
      val rows = pairs.count()
      (rows, Map("threshold" -> "0.5", "n_docs" -> nDocs.toString,
        "recall_exact" -> fmt(docRecall(pairs, 0))))
    }
    familyBoundary()

    // --- decoded-media near-dup at factor scale (m08/m10 shapes): REAL
    // Y4M / WAV decode → 64-bit temporal/energy-delta fingerprints → the
    // shared pigeonhole-banded Hamming join. Decode is map-only (one
    // pass, bounded per-row state) and the fingerprints are md5-uniform,
    // so pair work stays ~linear like the text banding families; planted
    // re-uploads (byte-identical) and graded re-encodes (+8 luma /
    // half gain — Hamming 0 by the fingerprints' shift/gain invariance)
    // must both be found at every factor. ---
    val mediaRows: Seq[(String,
        (DataFrame, Boolean) => DataFrame, DataFrame => DataFrame)] = Seq(
      ("video_neardup",
        (ids, graded) => graft.ops.Multimodal.attachSyntheticVideo(
          ids, 60, 10, shift = if (graded) 8 else 0),
        m => graft.ops.Multimodal.videoNearDupPairs(m, 2)),
      ("audio_neardup",
        (ids, graded) => graft.ops.Multimodal.attachSyntheticAudio(
          ids, 60, 10, halfGain = graded),
        m => graft.ops.Multimodal.audioNearDupPairs(m, 2)))
    mediaRows.foreach { case (label, attach, nearDup) =>
      time(label) {
        val cloneBase = 1000000000L
        val ids = docs.select("doc_id")
        val base = attach(ids, false)
        val reup = base.where(col("doc_id") % 97 === 0)
          .withColumn("doc_id", col("doc_id") + cloneBase)
        val graded = attach(ids.where(col("doc_id") % 101 === 0), true)
          .withColumn("doc_id", col("doc_id") + 2 * cloneBase)
        val pairs = nearDup(base.unionByName(reup).unionByName(graded))
          .localCheckpoint()
        val found = pairs.count()
        val reupHit = pairs.where(col("doc_b") >= cloneBase &&
          col("doc_b") < 2 * cloneBase &&
          col("doc_a") === col("doc_b") - cloneBase).count()
        val gradHit = pairs.where(col("doc_b") >= 2 * cloneBase &&
          col("doc_a") === col("doc_b") - 2 * cloneBase).count()
        val nReup = ids.where(col("doc_id") % 97 === 0).count()
        val nGrad = ids.where(col("doc_id") % 101 === 0).count()
        (found, Map(
          "reup_recall" -> fmt(reupHit.toDouble / math.max(nReup, 1L)),
          "graded_recall" -> fmt(gradHit.toDouble / math.max(nGrad, 1L)),
          "n_docs" -> nDocs.toString))
      }
    }
    familyBoundary()

    // --- mixed-codec decode + canonicalize throughput (m09/m12/m13/m14
    // shapes): the container dispatch and every JDK-free decode path at
    // factor scale — linear-PCM WAV, G.711 μ-law, IMA ADPCM split by
    // doc_id mod 3 (60–69 samples each), decoded once raw and once
    // through transcodePcm16. Both passes are map-only with bounded
    // per-row state; decoded_frac must be 1.0 at every factor (an 8000
    // sample_rate only comes from a REAL parse — the stub serves the
    // fixture's metadata zeros). ---
    time("codec_decode") {
      val ids = docs.select("doc_id")
      val mixed = graft.ops.Multimodal.attachSyntheticAudio(
          ids.where(col("doc_id") % 4 === 0), 60, 10)
        .unionByName(graft.ops.Multimodal.attachSyntheticUlaw(
          ids.where(col("doc_id") % 4 === 1), 60, 10))
        .unionByName(graft.ops.Multimodal.attachSyntheticAdpcm(
          ids.where(col("doc_id") % 4 === 2), 60, 10))
        .unionByName(graft.ops.Multimodal.attachSyntheticFlac(
          ids.where(col("doc_id") % 4 === 3), 60, 10))
      val dec = graft.ops.Multimodal.decodeFeatures(spark, mixed).toDF()
        .localCheckpoint()
      val rows = dec.count()
      val decoded = dec.where(col("width") === 8000).count()
      val tdec = graft.ops.Multimodal.decodeFeatures(spark,
        graft.ops.Multimodal.transcodePcm16(mixed)).toDF()
      val tDecoded = tdec.where(col("width") === 8000).count()
      (rows, Map(
        "decoded_frac" -> fmt(decoded.toDouble / math.max(rows, 1L)),
        "transcode_decoded_frac" ->
          fmt(tDecoded.toDouble / math.max(rows, 1L)),
        "n_docs" -> nDocs.toString))
    }
    familyBoundary()

    // --- OLAP gate queries at factor scale: star agg (q02), dense axes
    // (q11), skew-proof equi-depth tiling (q49), RFM segmentation (q52),
    // domain-exact lag under a gap cut (q54 — the window-over-calendar-
    // domain path: relaxed time cuts, lag expansion, post-window re-cut;
    // the axis is calendar-bounded so the maxCells guard must never fire
    // while the fact side grows 100×).
    // The non-index engine paths whose scale evidence previously stopped
    // at the 10× bench: facts replicate factor×, dims + calendar stay
    // fixed, so these slopes isolate fact-scan/shuffle/window growth.
    val olapDir = s"$workDir/olap_x$factor"
    Seq("q02_star_drilldown", "q11_dense_axes", "q49_value_quartiles",
        "q52_rfm_segments", "q54_lag_gap_cut").foreach { q =>
      time(q) {
        (graft.SparkEntry.queries(q)(spark, olapDir).count(),
          Map.empty[String, String])
      }
    }

    val loadAfter = Probe.load1()
    val params =
      s"""{"bits_auto":$bitsAuto,"tables_auto":$tablesAuto,""" +
        s""""nlist_auto":$nlistAuto,"k_sem_auto":$kSemAuto,""" +
        s""""host_load1":[${loadJson(loadBefore)},${loadJson(loadAfter)}],""" +
        s""""host_cpus":${Runtime.getRuntime.availableProcessors}}"""
    FactorResult(factor, n, params, ops)
  }
}
