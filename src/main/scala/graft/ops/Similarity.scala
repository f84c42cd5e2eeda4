package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField,
  StructType}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - Brute-force top-k: broadcast the (small) query set against the corpus,
  *    one codegen'd dot product per (query, row), per-query top-k via window
  *    rank. Exact baseline; scales linearly in corpus × queries.
  *  - LSH (random hyperplane) buckets: 16-bit sign signature per vector →
  *    candidates share a bucket → top-k within bucket. The scale path: the
  *    corpus shuffles once on bucket id, queries probe only their bucket.
  */
object Similarity {

  /** Sequential double-fold dot product (bit-reproducible across engines).
    * Native codegen'd expression — same fold order as
    * `aggregate(zip_with(...))` and DuckDB's list_dot_product, minus the
    * interpreted higher-order-function overhead. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  private def asDouble(c: String): Column =
    expr(s"CAST($c AS ARRAY<DOUBLE>)")

  /** Per-query top-k of a scored candidate frame, via the GroupedTopK custom
    * plan: bounded heaps per input partition, ≤ k·|queries| rows shuffled, no
    * per-group sort. (sim desc, neighbor_id asc) is a total order, so the
    * winners and ranks are deterministic — identical to the row_number()
    * window spelling this replaces. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    graft.plans.GroupedTopK.topK(
        scored.select("query_id", "neighbor_id", "sim"),
        Seq(col("query_id")), Seq(col("sim").desc, col("neighbor_id").asc), k)
      .select("query_id", "rank", "neighbor_id", "sim")

  /** The shared second half of every two-phase search (s05, s09, s12, the
    * s15 θ seed, s14's probes): keep each query's `shortlist` best
    * candidates by the approximate score column `approx`, then re-rank
    * them exactly as `sim = v_q · v_n`. `scored` carries (query_id,
    * neighbor_id, approx, v_q, v_n). (approx desc, neighbor_id asc) is a
    * total order, so the shortlist is deterministic, and at most
    * shortlist·|queries| rows leave the GroupedTopK heaps with their
    * vectors. */
  private def shortlistRerank(scored: DataFrame, approx: String,
      shortlist: Int): DataFrame =
    graft.plans.GroupedTopK.topK(
        scored.select("query_id", "neighbor_id", approx, "v_q", "v_n"),
        Seq(col("query_id")), Seq(col(approx).desc, col("neighbor_id").asc),
        shortlist)
      .withColumn("sim", dot(col("v_q"), col("v_n")))

  /** Exact top-k cosine neighbors for each query vector (vec_id ∈ queryIds).
    * Embeddings are L2-normalized ⇒ cosine = dot. */
  def knnBrute(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      asDouble("embedding").as("v_n"))
    val queries = emb.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), asDouble("embedding").as("v_q"))
    val scored = corpus
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("v_q"), col("v_n")))
    topKPerQuery(scored, k).orderBy("query_id", "rank")
  }

  /** RECALL@K EVALUATION — the ANN-quality harness as a first-class
    * operator: per query, the fraction of the EXACT top-k an approximate
    * search recovered (`|approx ∩ exact| / |exact|`). The acceptance gate
    * every vector-store rollout runs before swapping an index config; the
    * ScaleSweep computes this driver-side — this is the distributed form
    * for evaluation sets too large to collect. Work is a join of two
    * (queries × k)-sized frames — negligible at any corpus scale, the
    * corpus cost lives in producing the inputs. */
  def knnRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(1))
    exact.select("query_id", "neighbor_id")
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0))).as("hits"))
      .withColumn("recall",
        col("hits").cast("double") / col("n_exact").cast("double"))
      .orderBy("query_id")
  }

  /** MMR DIVERSIFIED RE-RANK (Maximal Marginal Relevance, Carbonell &
    * Goldstein '98) — the retrieval-quality pass a RAG / dataset-curation
    * pipeline runs after ANN: from each query's `shortlist` nearest
    * neighbors, greedily pick `k` results maximizing
    * `λ·rel − (1−λ)·max_{s∈S} sim(cand, s)` — relevance traded against
    * redundancy with the already-picked set. Round 1 is pure relevance
    * (empty S ⇒ zero penalty).
    *
    * Shape: the corpus-sized work is the one brute shortlist scan (swap in
    * [[knnIvfProbe]]/[[knnLshMulti]] at scale); one `groupBy` then hands
    * each query its whole shortlist as an array, and all k greedy rounds
    * run inside one task over that array ([[mmrPicks]]). The per-query
    * state is bounded by `shortlist × dim` whatever the corpus size, so a
    * Spark job per round would buy nothing but scheduling. λ = 0.75 keeps
    * both λ and 1−λ binary-exact, so the whole procedure replays
    * bit-for-bit as unrolled SQL. */
  def mmrRerank(emb: DataFrame, queryIds: Seq[Long], k: Int = 5,
      shortlist: Int = 20, lambda: Double = 0.75): DataFrame = {
    require(k >= 1 && shortlist >= k, "need shortlist >= k >= 1")
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      asDouble("embedding").as("v_n"))
    val queries = emb.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), asDouble("embedding").as("v_q"))
    val short = graft.plans.GroupedTopK.topK(
        corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
          .withColumn("rel", dot(col("v_q"), col("v_n")))
          .select("query_id", "neighbor_id", "rel", "v_n"),
        Seq(col("query_id")), Seq(col("rel").desc, col("neighbor_id").asc),
        shortlist)
      .select("query_id", "neighbor_id", "rel", "v_n")
    val f = short.schema.fields
    val out = StructType(Seq(f(0), StructField("pick_rank", IntegerType,
      nullable = false), f(1), f(2),
      StructField("score", DoubleType, nullable = f(2).nullable || k > 1)))
    short.groupBy("query_id")
      .agg(collect_list(struct("neighbor_id", "rel", "v_n")).as("cands"))
      .flatMap(r => mmrPicks(r.getLong(0), r.getSeq[Row](1), k, lambda))(
        Encoders.row(out))
      .orderBy("query_id", "pick_rank")
  }

  /** One query's k greedy MMR rounds over its shortlist `rows`
    * (neighbor_id, rel, v_n), with the arithmetic and the orders of the
    * join-per-round SQL form the oracle unrolls:
    *  - round 1 takes (rel desc, neighbor_id asc), score `λ·rel − (1−λ)·0.0`;
    *  - round r takes (score desc, neighbor_id asc) over the candidates not
    *    yet picked, score `λ·rel − (1−λ)·max_sim`, max_sim the MAX of the
    *    [[dot]] fold against every pick.
    * Doubles compare as Spark compares them (NaN largest, −0.0 == 0.0). A
    * shortlist shorter than k yields one pick per candidate. */
  private def mmrPicks(qid: Long, rows: Seq[Row], k: Int,
      lambda: Double): Seq[Row] = {
    // DotProduct's fold: left to right over the shorter length
    def dotV(a: Seq[Double], b: Seq[Double]): Double =
      a.iterator.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def cmp(a: Double, b: Double): Int = SQLOrderingUtil.compareDoubles(a, b)
    var pool = rows.map(r => (r.getLong(0), r.getDouble(1),
      r.getSeq[Double](2)))
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Seq[Double], Double)] // (id, rel, v, score)
    while (picks.size < k && pool.nonEmpty) {
      // (candidate, sort key, score): round 1 sorts on rel itself
      val scored = pool.map { case c @ (_, rel, v) =>
        if (picks.isEmpty) (c, rel, lambda * rel - (1.0 - lambda) * 0.0)
        else {
          val maxSim = picks.iterator.map(p => dotV(v, p._3))
            .reduceLeft((m, d) => if (cmp(d, m) > 0) d else m)
          val score = lambda * rel - (1.0 - lambda) * maxSim
          (c, score, score)
        }
      }
      val ((id, rel, v), _, score) = scored.reduceLeft { (a, b) =>
        val o = cmp(a._2, b._2)
        if (o > 0 || (o == 0 && a._1._1 <= b._1._1)) a else b
      }
      picks += ((id, rel, v, score))
      pool = pool.filter(_._1 != id)
    }
    picks.toSeq.zipWithIndex.map { case ((id, rel, _, score), i) =>
      Row(qid, i + 1, id, rel, score)
    }
  }

  /** FILTERED vector search — exact top-k under a metadata predicate, the
    * "filtered retrieval" shape every vector store serves (date-bounded,
    * source-scoped, exclude-own-cluster). `pred` sees the pair columns
    * (query_id, label_q, neighbor_id, label_n) and restricts candidates
    * BEFORE scoring — at scale this is a pushed-down filter on the index
    * scan, never post-filtering a top-k that could come back short of k. */
  def knnFiltered(emb: DataFrame, queryIds: Seq[Long], k: Int,
      pred: Column): DataFrame = {
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      asDouble("embedding").as("v_n"), col("label").as("label_n"))
    val queries = emb.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), asDouble("embedding").as("v_q"),
        col("label").as("label_q"))
    val scored = corpus
      .join(broadcast(queries),
        col("query_id") =!= col("neighbor_id") && pred)
      .withColumn("sim", dot(col("v_q"), col("v_n")))
    topKPerQuery(scored, k).orderBy("query_id", "rank")
  }

  /** INT8-quantized kNN with exact re-rank — the embedding-compression path
    * a 100 TB ANN index actually runs: per-vector symmetric scalar
    * quantization (scale = max|x|/127) shrinks the corpus 4-8× so the scan
    * is memory-bandwidth-bound on codes, a cheap integer-dot shortlist of
    * `shortlist` candidates per query rides the GroupedTopK heaps, and only
    * the shortlist is re-ranked with the exact double dot. Codes are
    * integer-VALUED doubles: the int dot (≤ 127²·dim) is exactly
    * representable, so the codegen'd [[dot]] expression and DuckDB's
    * list_dot_product agree bit-for-bit and the whole two-phase search
    * replays as SQL. `floor(x·127/max|x| + 0.5)` rounds half-up in both
    * engines (Spark's round() would HALF_EVEN on doubles). At production
    * scale the `codes` column is materialized once as the index; here it is
    * computed inline. */
  def quantizedKnn(emb: DataFrame, queryIds: Seq[Long], k: Int,
      shortlist: Int = 20): DataFrame = {
    val coded = emb
      .select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("codes",
        when(col("maxabs") === 0.0d,
          transform(col("v"), _ => lit(0.0d)))
          .otherwise(transform(col("v"), x =>
            floor(x * lit(127.0d) / col("maxabs") + lit(0.5d))
              .cast("double"))))
      .select(col("vec_id"), col("v"), col("codes"))
    val corpus = coded.select(col("vec_id").as("neighbor_id"),
      col("v").as("v_n"), col("codes").as("c_n"))
    val queries = coded.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("v_q"),
        col("codes").as("c_q"))
    val qscored = corpus
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("qdot", dot(col("c_q"), col("c_n")))
    topKPerQuery(shortlistRerank(qscored, "qdot", shortlist), k)
      .orderBy("query_id", "rank")
  }

  /** RANDOM-PROJECTION kNN — the dimensionality-reduction ANN path (the
    * Johnson-Lindenstrauss cousin of [[quantizedKnn]]'s scalar
    * quantization): project the corpus onto `projDim` fixed random
    * directions (map-only, seeded — fully deterministic), shortlist per
    * query by dot product IN THE PROJECTED SPACE (projDim ≪ dim, so the
    * scan reads ~projDim/dim of the bytes), then re-rank the shortlist
    * EXACTLY on the full vectors. At 100 TB the projected corpus is the
    * resident index (4× smaller at 16/64) and the full vectors page in only
    * for shortlist·|queries| rows — same two-phase economics a disk-ANN
    * serves. Shortlist + final top-k ride the GroupedTopK bounded heaps. */
  def projectedKnn(emb: DataFrame, queryIds: Seq[Long], k: Int,
      projDim: Int = 16, shortlist: Int = 20, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(dim, projDim, seed = 7L)
    def proj(v: Column): Column =
      array(planes.map(p => dot(v, array(p.map(lit).toIndexedSeq: _*)))
        .toIndexedSeq: _*)
    val projected = emb.select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("p", proj(col("v")))
    val corpus = projected.select(col("vec_id").as("neighbor_id"),
      col("v").as("v_n"), col("p").as("p_n"))
    val queries = projected.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("v_q"),
        col("p").as("p_q"))
    val qscored = corpus
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("pdot", dot(col("p_q"), col("p_n")))
    topKPerQuery(shortlistRerank(qscored, "pdot", shortlist), k)
      .orderBy("query_id", "rank")
  }

  /** HYBRID RETRIEVAL by RECIPROCAL RANK FUSION (Cormack, Clarke &
    * Büttcher, SIGIR 2009): fuse a lexical ranking
    * ([[graft.ops.Dedup.similarDocs]]'s shingle-Jaccard top-`shortlist`)
    * with a dense-vector ranking ([[knnBrute]] cosine top-`shortlist`)
    * as `Σ 1/(k0 + rank)` — rank-only fusion, so no score calibration
    * across modalities is needed (the reason vector stores ship RRF as
    * the default hybrid mode). A candidate on only one list contributes
    * that list's term alone. Work = the two shortlist searches (swap in
    * the ANN forms at scale) plus one (queries×shortlist)-sized
    * full-outer join; the final top-k rides GroupedTopK. */
  def hybridRrf(docs: DataFrame, emb: DataFrame, queryIds: Seq[Long],
      k: Int, shortlist: Int = 20, k0: Int = 60): DataFrame = {
    val vec = knnBrute(emb, queryIds, shortlist)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vrank"))
    val txt = graft.ops.Dedup.similarDocs(docs, queryIds, shortlist)
      .select(col("query_id"), col("cand_id").as("doc_id"),
        col("rank").as("trank"))
    val fused = vec.join(txt, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(k0) + col("vrank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("trank")), lit(0.0)))
    graft.plans.GroupedTopK.topK(
        fused.select("query_id", "doc_id", "rrf"),
        Seq(col("query_id")), Seq(col("rrf").desc, col("doc_id").asc), k)
      .select("query_id", "rank", "doc_id", "rrf")
      .orderBy("query_id", "rank")
  }

  /** PRODUCT-QUANTIZATION codebooks (the compression half of IVF-PQ,
    * Jégou et al., "Product quantization for nearest neighbor search",
    * TPAMI 2011): split each vector into `m` contiguous subspaces and
    * k-means each subspace into `ksub` centroids — the same deterministic
    * DECIMAL-mean loop as [[kmeansCentroids]], run per subspace on the
    * sliced frame. Returns codebooks[j][c] = centroid c of subspace j
    * (driver-sized: m·ksub·(dim/m) doubles). */
  def pqCodebooks(emb: DataFrame, m: Int = 16, ksub: Int = 16,
      iters: Int = 2, dim: Int = 64): Array[Array[Array[Double]]] = {
    val sub = pqSubWidth(dim, m)
    (0 until m).map { j =>
      val v = emb.select(col("vec_id"),
        slice(asDouble("embedding"), j * sub + 1, sub).as("v")).persist()
      try kmeansLoop(v, ksub, iters)
      finally { v.unpersist(false); () }
    }.toArray
  }

  /** Subspace width of `dim`-wide vectors cut into `m` codebook subspaces
    * (the PQ and IVF-PQ codebook trains). */
  private def pqSubWidth(dim: Int, m: Int): Int = {
    require(m > 0 && dim % m == 0,
      s"dim $dim not divisible into $m codebook subspaces")
    dim / m
  }

  /** Codebook geometry (m subspaces, ksub centroids each, subspace width),
    * checked wherever codebooks meet vectors — the PQ and IVF-PQ builds
    * and every search over their indexes, including ones restored by
    * [[loadPqIndex]]/[[loadIvfPqIndex]]. Malformed codebooks would
    * silently slice misaligned subspaces and return plausible-but-wrong
    * neighbors, so they fail loudly instead (and BEFORE touching
    * `cbs.head`: an empty array must hit the message, not a
    * NoSuchElementException). This checks the codebooks against each
    * other when the plan is built; [[pqWidthChecked]] checks them against
    * the vectors when it runs. */
  private def pqGeometry(cbs: Array[Array[Array[Double]]]): (Int, Int, Int) = {
    val m = cbs.length
    require(m > 0, "no codebook subspaces")
    val ksub = cbs.head.length
    require(ksub > 0, "codebook 0 has no centroids")
    val sub = cbs.head.head.length
    cbs.zipWithIndex.foreach { case (cb, j) =>
      require(cb.length == ksub,
        s"codebook $j has ${cb.length} centroids, subspace 0 has $ksub")
      require(cb.forall(_.length == sub),
        s"codebook $j sub-vector width != $sub (subspace 0's)")
    }
    (m, ksub, sub)
  }

  /** `frame`, failing the query on any row whose vector `v` is not m×sub
    * wide: codebooks that agree with each other can still disagree with
    * the vectors they slice (the dot truncates to the shorter array, so a
    * 3-wide codebook over 64-dim vectors would score 3 of 64 dims). A
    * filter that every well-formed row passes, so the check runs inside
    * the plan (no job of its own) with a message containing "codebook";
    * it stays out of the lookup-table and encode projections, whose
    * generated code is already near the JVM's 64 KB method limit. */
  private def pqWidthChecked(frame: DataFrame, v: String,
      cbs: Array[Array[Array[Double]]]): DataFrame = {
    val (m, _, sub) = pqGeometry(cbs)
    frame.where(when(size(col(v)) =!= lit(m * sub), raise_error(concat(
        lit(s"codebook geometry $m x $sub does not match vector width "),
        size(col(v)).cast("string"))))
      .otherwise(lit(true)))
  }

  /** The PQ code word of one vector `v`: per subspace, the index of the
    * nearest centroid in that subspace's codebook. Shared by the flat PQ
    * and IVF-PQ encodes. */
  private def pqCodes(v: Column, cbs: Array[Array[Array[Double]]]): Column = {
    val (m, _, sub) = pqGeometry(cbs)
    array((0 until m).map(j =>
      nearestCluster(slice(v, j * sub + 1, sub), cbs(j)).cast("int")): _*)
  }

  /** The ADC lookup table of one query vector `v`: lut[j][c] =
    * v_subj · codebook_j[c], m×ksub subspace dots computed once per query
    * row in the broadcast projection. Shared by the flat PQ and IVF-PQ
    * scans. */
  private def pqLut(v: Column, cbs: Array[Array[Array[Double]]]): Column = {
    val (m, ksub, sub) = pqGeometry(cbs)
    array((0 until m).map(j =>
      array((0 until ksub).map(c =>
        dot(slice(v, j * sub + 1, sub),
          array(cbs(j)(c).map(lit).toIndexedSeq: _*))): _*)): _*)
  }

  /** The ADC sum of one coded vector against a query's [[pqLut]]: m table
    * lookups, left-folded in subspace order — the bit-reproducible sum
    * every oracle replays as `t0 + t1 + …`. */
  private def pqAdc(codes: Column, lut: Column): Column =
    aggregate(zip_with(codes, lut, (cd, l) => element_at(l, cd + 1)),
      lit(0.0d), (acc, x) => acc + x)

  /** PQ kNN by ASYMMETRIC DISTANCE COMPUTATION over a [[PqIndex]]: the
    * corpus is stored as m small codes per vector (m·log₂(ksub) bits —
    * here 16×4 bits = 8 bytes vs 256 bytes of raw floats, a 32×-smaller
    * resident index at 100 TB); the query stays full-precision and builds
    * a LOOKUP TABLE of m×ksub subspace dots ONCE ([[pqLut]]), so every
    * corpus candidate scores with m table lookups and m−1 adds — no float
    * multiply touches the corpus at query time. Shortlist by ADC score,
    * then exact re-rank on the raw vectors ([[shortlistRerank]]) — the
    * same two-phase economics as [[projectedKnn]]/[[quantizedKnn]], with
    * the best compression of the three. The index is the registration-time
    * artifact ([[IndexCache]], shared with [[pqKnnBoundWith]] and
    * [[pqRangeSearch]]); queries pay only the lookup table + ADC scan.
    * Codebooks/codes are deterministic (vec_id % ksub seeding, DECIMAL
    * means), so the result replays bit-exactly.
    *
    * A FIXED shortlist decays recall as the corpus grows
    * ([[suggestedShortlist]]); the served PQ path is [[pqKnnBoundWith]],
    * whose residual-norm certificate makes the result exact. */
  def pqKnnWith(idx: PqIndex, queryIds: Seq[Long], k: Int,
      shortlist: Int = 20): DataFrame =
    topKPerQuery(shortlistRerank(pqScan(idx, queryIds), "adc", shortlist), k)
      .orderBy("query_id", "rank")

  /** PQ INDEX — the build-once-per-ingest artifact every flat-PQ search
    * serves from (the [[IvfIndex]]/[[graft.ops.Dedup.LshIndex]] lifecycle
    * applied to flat PQ): the shared codebooks plus the encoded corpus
    * (neighbor_id, v_n, codes, res) — 8-byte codes, the per-vector
    * residual norm the θ-bound of [[pqKnnBoundWith]] needs, and the raw
    * vectors for the exact re-rank. Serving pays only the query lookup
    * table + the compressed scan. */
  final case class PqIndex(cbs: Array[Array[Array[Double]]],
      corpus: DataFrame) {
    /** Corpus size — an ingest-time invariant, memoized so the serving
      * path's shortlist sizing never re-scans the corpus per query. */
    lazy val size: Long = corpus.count()
  }

  /** Build the PQ index: train codebooks, one encode pass. The encoded
    * corpus is localCheckpoint'ed (the [[ivfIndex]] convention): every
    * query served from the in-memory index reuses one materialization,
    * and the ContextCleaner releases the blocks with the index. */
  def pqIndex(emb: DataFrame, m: Int = 16, ksub: Int = 16, iters: Int = 2,
      dim: Int = 64): PqIndex = {
    val cbs = pqCodebooks(emb, m, ksub, iters, dim)
    PqIndex(cbs, pqEncode(
      emb.select(col("vec_id"), asDouble("embedding").as("v")), cbs)
      .localCheckpoint())
  }

  /** Persist a [[PqIndex]]: codebooks as one tiny parquet, the encoded
    * corpus as the resident index (at 100 TB the codes + residual are the
    * hot 3%; the raw vectors page in only for certified candidates). */
  def savePqIndex(idx: PqIndex, path: String): Unit = {
    val spark = idx.corpus.sparkSession
    import spark.implicits._
    idx.cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
    }.toSeq.toDF("j", "i", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    idx.corpus.write.mode("overwrite").parquet(s"$path/corpus")
    IndexCache.registerPersisted(spark, path, "pq")
  }

  /** Restore a persisted [[PqIndex]] (see [[savePqIndex]]). Committed
    * tombstones ([[graft.ops.Forget.forgetPersisted]]) are applied
    * UNCONDITIONALLY via [[pqDelete]] — a reload after a forget cannot
    * resurrect the forgotten vector. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): PqIndex = {
    IndexCache.registerPersisted(spark, path, "pq")
    val rows = spark.read.parquet(s"$path/codebooks")
      .orderBy("j", "i").collect()
    val cbs = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map(_._2
      .sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)).toArray
    val base = PqIndex(cbs, spark.read.parquet(s"$path/corpus"))
    Forget.tombstonesAt(spark, path).fold(base)(t =>
      pqDelete(base, t.select(col("id").as("vec_id"))))
  }

  /** GDPR DELETE for a [[PqIndex]] — the ANN side of the tombstone story
    * ([[graft.ops.Dedup.tombstoneDelete]] for text LSH,
    * [[graft.ops.Multimodal.mediaFpDelete]] for media fingerprints): a
    * forgotten doc's codes must stop serving as neighbors from a standing
    * index without paying a codebook retrain per delete batch. One skinny
    * broadcast anti-join on the encoded corpus; `deletes` carries
    * `vec_id`.
    *
    * WHY THE STALE CODEBOOKS ARE ACCEPTABLE until the next rebuild:
    * codebooks trained on data that included the deleted vectors encode
    * no retrievable row — they are k-means cell centers, an aggregate
    * geometry — and the exact serving paths over a [[PqIndex]]
    * ([[pqKnnBoundWith]], [[pqRangeSearch]]) are CERTIFICATE-EXACT: the
    * ADC scan only seeds θ / prunes via a Cauchy-Schwarz upper bound, and
    * survivors re-rank on the raw vectors. Worse-fitting codebooks can
    * only loosen the bound (more candidates certified into the exact
    * re-rank), never change a returned row — so delete-then-query is
    * bit-identical to rebuild-on-survivors-then-query, which
    * [[graft.OpsSpec]] proves. The fixed-shortlist [[pqKnnWith]] is
    * approximate: over a deleted index the forgotten vector never serves,
    * but a survivors-retrained index may shortlist differently (the
    * [[ivfPqDelete]] contract). */
  def pqDelete(idx: PqIndex, deletes: DataFrame): PqIndex = {
    val del = broadcast(deletes.select(col("vec_id").as("__del")).distinct())
    PqIndex(idx.cbs, idx.corpus
      .join(del, col("neighbor_id") === col("__del"), "left_anti")
      .localCheckpoint())
  }

  /** θ-BOUND EXACT flat-PQ kNN over a PREBUILT [[PqIndex]] — the
    * production PQ path, and the answer to the fixed-shortlist recall
    * decay of [[pqKnnWith]] ([[suggestedShortlist]]'s √n growth only
    * slows it): make the shortlist SELF-CERTIFYING instead of hoping it
    * was wide enough. The index stores, next to each vector's codes, its
    * quantization residual norm ‖v − v̂‖; by Cauchy-Schwarz the true score
    * obeys `q·v ≤ adc + ‖q‖·‖v − v̂‖` (adc = q·v̂ exactly, via the lookup
    * table). So after the normal ADC scan + shortlist + exact re-rank
    * gives a provisional k-th score θ, EVERY vector whose upper bound
    * reaches θ is re-ranked too — and anything not re-ranked provably
    * cannot enter the top-k. Recall is 1.0 BY CONSTRUCTION at every
    * corpus size, regardless of shortlist; `shortlist ≤ 0` (the default)
    * sizes the θ-seeding pass by [[suggestedShortlist]] from the index
    * corpus count — a too-small seed θ is still exact but certifies a
    * larger-than-necessary fraction for the re-rank. Queries resolve
    * against the index corpus itself; their dim comes from the codebook
    * geometry, never the caller.
    *
    * Cost shape at 100 TB: the extra bound-filter pass reads only the
    * 8-byte codes + one double per vector (the 32×-compressed resident
    * index, ~3% of a raw-vector pass); full vectors page in solely for
    * the certified candidates. On a TIGHTLY QUANTIZED corpus (clustered
    * real-world embeddings: small residuals) the certified set is barely
    * larger than k and the scan stays compressed; on an isotropic corpus
    * (residual ≈ the vector itself — the regime where NO index wins) the
    * bound certifies a large fraction and [[pqKnnBoundAuto]]'s cutover
    * serves the codegen'd brute scan instead, same planner decision as
    * [[knnLshAuto]]. */
  def pqKnnBoundWith(idx: PqIndex, queryIds: Seq[Long], k: Int,
      shortlist: Int = 0): DataFrame = {
    val sl =
      if (shortlist > 0) shortlist
      else suggestedShortlist(idx.size, k)
    pqBoundFinish(pqBounded(pqScan(idx, queryIds), k, sl)
      .where(col("certified")), k)
  }

  /** EXACT RANGE SEARCH over a [[PqIndex]] — every neighbor with
    * `sim ≥ minSim`, the radius-query sibling of [[pqKnnBoundWith]]
    * (retrieval-time dedup, "everything this similar to the query" — the
    * shape RAG stores and near-dup audits ask, where top-k truncates
    * arbitrarily). The certificate is even simpler than kNN's: θ IS the
    * caller's threshold, no provisional pass needed — the compressed scan
    * keeps exactly the vectors whose `adc + ‖q‖·res` bound reaches
    * `minSim`, those re-rank exactly, and by Cauchy-Schwarz nothing
    * dropped could have qualified. The bound filter is padded by the
    * [[pqEps]] summation-error margin — for a zero-residual vector whose
    * true sim equals `minSim` exactly, the real-arithmetic slack is 0 and
    * a 1-ulp ADC association difference would otherwise drop a qualifying
    * row; the exact `sim ≥ minSim` recheck below keeps the output tight.
    * Output ranks within each query by (sim desc, neighbor_id) for a
    * deterministic shape; query dim derives from the index geometry. */
  def pqRangeSearch(idx: PqIndex, queryIds: Seq[Long], minSim: Double)
      : DataFrame = {
    val cand = pqScan(idx, queryIds)
      .where(col("adc") + col("qn") * col("res") >=
        lit(minSim - pqEps * (math.abs(minSim) + 1.0)))
    cand.withColumn("sim", dot(col("v_q"), col("v_n")))
      .where(col("sim") >= lit(minSim))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id").asc)))
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** Encode pass of the PQ index: (neighbor_id, v_n, codes, res) where
    * `res` = ‖v − v̂‖, the per-vector ADC error bound stored WITH the
    * codes (one extra double beside the 8-byte code word). */
  private def pqEncode(v: DataFrame,
      cbs: Array[Array[Array[Double]]]): DataFrame = {
    val m = pqGeometry(cbs)._1
    val decoded = flatten(array((0 until m).map(j =>
      element_at(typedLit(cbs(j).map(_.toSeq).toSeq),
        col("codes").getItem(j) + 1)): _*))
    pqWidthChecked(v, "v", cbs).withColumn("codes", pqCodes(col("v"), cbs))
      .withColumn("res", sqrt(aggregate(
        zip_with(col("v"), decoded, (a, b) => (a - b) * (a - b)),
        lit(0.0d), (acc, x) => acc + x)))
      .select(col("vec_id").as("neighbor_id"), col("v").as("v_n"),
        col("codes"), col("res"))
  }

  /** The compressed scan of a [[PqIndex]]: every (query, vector) pair of
    * the index corpus — queries resolve in the corpus itself, so a
    * deleted vector is no query either — scored with m table lookups and
    * m−1 adds, adc = q·v̂ exactly. Each row also carries the query norm
    * `qn` the Cauchy-Schwarz bound scales by, and the vector's residual
    * `res`. */
  private def pqScan(idx: PqIndex, queryIds: Seq[Long]): DataFrame = {
    val queries = pqWidthChecked(
        idx.corpus.where(col("neighbor_id").isin(queryIds: _*))
          .select(col("neighbor_id").as("query_id"), col("v_n").as("v_q")),
        "v_q", idx.cbs)
      .withColumn("lut", pqLut(col("v_q"), idx.cbs))
      .withColumn("qn", sqrt(dot(col("v_q"), col("v_q"))))
    idx.corpus
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", pqAdc(col("codes"), col("lut")))
  }

  /** Relative summation-error margin for the certificate filters. The
    * Cauchy-Schwarz bound holds in real arithmetic, but `adc` is the
    * LUT-order left-fold sum while θ (and the exact re-rank sims) come
    * from the differently-associated full-vector dot — for a candidate
    * whose quantization residual is exactly 0 (a vector that is its own
    * singleton centroid in every subspace; outliers commonly are) the
    * real slack is exactly 0 and a 1-ulp association difference could
    * drop a true top-k member, including the shortlist's own k-th vector
    * that DEFINED θ. 64-term double summation of O(1) embedding products
    * mis-associates by ≲ 1e-13 relative; 1e-9 dominates it with margin
    * while certifying a measure-zero sliver extra — and every extra
    * candidate is exactly re-ranked, so served results are unchanged. */
  private val pqEps = 1e-9

  /** The certificate as a FLAG: each candidate row marked with whether
    * its `adc + ‖q‖·res` upper bound (padded by [[pqEps]]) reaches the
    * provisional exact k-th score θ — by Cauchy-Schwarz nothing unmarked
    * can enter the true top-k. Kept as a column (rather than a filter) so
    * [[pqKnnBoundAuto]] can count candidates and certified rows in ONE
    * aggregation over the compressed codes. */
  private def pqBounded(qscored: DataFrame, k: Int,
      shortlist: Int): DataFrame =
    qscored.join(broadcast(pqTheta(qscored, k, shortlist)),
        Seq("query_id"), "left")
      .withColumn("certified", col("adc") + col("qn") * col("res") >=
        coalesce(col("theta") - lit(pqEps) * (abs(col("theta")) + 1),
          lit(Double.MinValue)))

  /** Exact re-rank of the certified set → final top-k. */
  private def pqBoundFinish(cand: DataFrame, k: Int): DataFrame =
    topKPerQuery(cand.withColumn("sim", dot(col("v_q"), col("v_n"))), k)
      .orderBy("query_id", "rank")

  /** Provisional exact k-th score per query: ADC-shortlist, re-rank
    * exactly, take the k-th (the θ the bound certifies against). Queries
    * with fewer than k candidates get no row (the caller treats a missing
    * θ as −∞ and certifies everything). */
  private def pqTheta(qscored: DataFrame, k: Int, shortlist: Int)
      : DataFrame =
    topKPerQuery(shortlistRerank(qscored, "adc", shortlist), k)
      .where(col("rank") === k)
      .select(col("query_id"), col("sim").as("theta"))

  /** [[pqKnnBoundWith]] with sizing + the index-vs-scan planner decision
    * wired in: √n shortlist seeds θ, then ONE pass over the compressed
    * codes counts how much of the corpus the bound certifies. When that
    * fraction reaches `bruteCutover`, re-ranking the certified set would
    * read a comparable share of the raw vectors through a join that the
    * codegen'd brute scan reads ONCE without join machinery — so the op
    * serves [[knnBrute]] over the index corpus (also exact). Either way
    * the served result is EXACT (recall 1.0); the decision only picks the
    * cheaper plan, like [[knnLshAuto]]'s cutover. Returns (frame,
    * shortlist, certified fraction, cutover engaged). */
  def pqKnnBoundAuto(idx: PqIndex, queryIds: Seq[Long], k: Int,
      bruteCutover: Double = 0.5): (DataFrame, Int, Double, Boolean) = {
    val shortlist = suggestedShortlist(idx.size, k)
    val bounded = pqBounded(pqScan(idx, queryIds), k, shortlist)
    // decision pass: codes + res only — the 32×-compressed index. ONE
    // aggregation counts candidates AND certified rows, so the fraction's
    // denominator is the actual candidate count (self-pairs excluded,
    // absent query ids contribute nothing) — an n·|queries| denominator
    // biases frac low and engages the brute cutover later than intended
    val counts = bounded.agg(
      count(lit(1)).as("total"),
      sum(col("certified").cast("long")).as("certified")).head()
    val total = counts.getLong(0)
    val certified = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    val frac = certified.toDouble / math.max(1L, total)
    if (frac >= bruteCutover)
      (knnBrute(idx.corpus.select(col("neighbor_id").as("vec_id"),
        col("v_n").as("embedding")), queryIds, k), shortlist, frac, true)
    else
      (pqBoundFinish(bounded.where(col("certified")), k), shortlist, frac,
        false)
  }

  /** Production sizing for the SHORTLIST of every two-phase search
    * (approximate-score scan → exact re-rank): a FIXED shortlist decays
    * recall as the corpus grows — the count of distractors whose
    * approximate score beats the true k-th neighbor grows with n while the
    * list stays constant (BENCH_scaling.json: knn_pq recall 0.87 → 0.375
    * at fixed 100, knn_lsh_auto 0.41 → 0.22 at fixed bucket 64). Growing
    * the shortlist as √n (the [[suggestedIvfLists]] rule: re-rank work
    * stays sublinear while coverage grows without bound) holds recall@k
    * roughly flat at these scales; floor 4k so tiny corpora still re-rank
    * a meaningful candidate pool. The third sizing knob next to
    * [[graft.ops.Dedup.suggestedLshBits]]/[[suggestedIvfLists]], wired
    * into [[pqKnnBoundWith]]/[[pqKnnBoundAuto]]/[[knnLshAuto]] and
    * measured by [[graft.tools.ScaleSweep]]. */
  def suggestedShortlist(n: Long, k: Int): Int =
    math.max(4 * k, math.round(math.sqrt(n.toDouble)).toInt)

  /** The IVF-PQ index (Jégou et al. §IV, "IVFADC" — the layout
    * billion-scale ANN deployments actually run): an IVF coarse quantizer
    * partitions the corpus into cells, and product quantization encodes
    * each vector's RESIDUAL against its cell centroid (residuals are
    * smaller and better-centered than raw vectors, so the same code budget
    * quantizes them more accurately). Codebooks are SHARED across cells
    * (the standard memory trade: one m×ksub table, not nlist of them), so
    * a query builds one ADC lookup table and pays one extra q·c_cell dot
    * per probed cell.
    *
    * @param cs     coarse centroids (driver-sized: nlist × dim)
    * @param cbs    residual codebooks[j][c] (driver-sized: m·ksub·(dim/m))
    * @param corpus (cell_n, neighbor_id, v_n, codes) — at production scale
    *               this is the persisted index, partitioned by cell_n like
    *               [[saveIvfIndex]]'s layout, codes 32× smaller than v_n
    */
  final case class IvfPqIndex(cs: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]], corpus: DataFrame,
      // per-cell max residual norm (nlist rows): the same Cauchy-Schwarz
      // probe bound [[IvfIndex]] carries, enabling θ-bound probing
      cellRes: DataFrame)

  /** Build the IVF-PQ index: coarse k-means, one assignment pass,
    * per-subspace k-means on RESIDUALS, one encode pass. Every stage is
    * the deterministic DECIMAL-mean / sequential-dot recipe, so the build
    * replays bit-exactly in SQL (gate s14). */
  def ivfPqIndex(emb: DataFrame, nlist: Int = 8, m: Int = 16,
      ksub: Int = 16, ivfIters: Int = 2, pqIters: Int = 2,
      dim: Int = 64): IvfPqIndex = {
    val sub = pqSubWidth(dim, m)
    val cs = kmeansCentroids(emb, nlist, ivfIters)
    val v = emb.select(col("vec_id"), asDouble("embedding").as("v"))
    val centArr = typedLit(cs.map(_.toSeq).toSeq)
    // residual r = v − c_cell, computed once and checkpointed: feeds m
    // codebook trains + the encode pass
    val res = withNearestCluster(v, cs, "cell")
      .withColumn("r", zip_with(col("v"),
        element_at(centArr, col("cell") + 1), (x, y) => x - y))
      .localCheckpoint()
    val cbs = (0 until m).map { j =>
      kmeansLoop(res.select(col("vec_id"),
        slice(col("r"), j * sub + 1, sub).as("v")), ksub, pqIters)
    }.toArray
    val corpus = pqWidthChecked(res, "r", cbs)
      .withColumn("codes", pqCodes(col("r"), cbs))
      .select(col("cell").as("cell_n"), col("vec_id").as("neighbor_id"),
        col("v").as("v_n"), col("codes"))
      .localCheckpoint()
    // nlist-row probe-bound table, straight off the residuals already in
    // hand (the IvfIndex recipe)
    val cellRes = res
      .withColumn("r2", aggregate(col("r"), lit(0.0),
        (a, x) => a + x * x))
      .groupBy("cell")
      .agg(sqrt(max(col("r2"))).as("max_res"))
      .select(col("cell").as("cell_n"), col("max_res"))
      .localCheckpoint()
    IvfPqIndex(cs, cbs, corpus, cellRes)
  }

  /** Persist an [[IvfPqIndex]] — the billion-scale production layout
    * (IVFADC) in its durable form: `centroids/` (nlist rows), tiny
    * shared `codebooks/`, `corpus/` PARTITIONED BY cell_n so a probe's
    * cell scans are partition-pruned file reads (codes ride 32× smaller
    * than v_n; at 100 TB the codes+bounds are the hot set and the raw
    * vectors page in only for the shortlist re-rank), and `cell_res/`
    * (the θ-bound probe bounds). Same registration/tombstone lifecycle
    * as its three siblings. */
  def saveIvfPqIndex(idx: IvfPqIndex, path: String): Unit = {
    val spark = idx.corpus.sparkSession
    import spark.implicits._
    idx.cs.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
      .toDF("j", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    idx.cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
    }.toSeq.toDF("j", "i", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    idx.corpus.write.mode("overwrite").partitionBy("cell_n")
      .parquet(s"$path/corpus")
    idx.cellRes.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/cell_res")
    IndexCache.registerPersisted(spark, path, "ivfpq")
  }

  /** Restore a persisted [[IvfPqIndex]] (see [[saveIvfPqIndex]]).
    * Committed tombstones ([[graft.ops.Forget.forgetPersisted]]) are
    * applied UNCONDITIONALLY via [[ivfPqDelete]] — a reload after a
    * forget cannot resurrect the forgotten vector, and the cell bounds
    * refresh from the survivors. */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndex = {
    IndexCache.registerPersisted(spark, path, "ivfpq")
    val cs = spark.read.parquet(s"$path/centroids").orderBy("j")
      .collect().map(_.getSeq[Double](1).toArray)
    val rows = spark.read.parquet(s"$path/codebooks")
      .orderBy("j", "i").collect()
    val cbs = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map(_._2
      .sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)).toArray
    val corpus = spark.read.parquet(s"$path/corpus")
      .select("cell_n", "neighbor_id", "v_n", "codes")
    val base = IvfPqIndex(cs, cbs, corpus,
      spark.read.parquet(s"$path/cell_res").select("cell_n", "max_res"))
    Forget.tombstonesAt(spark, path).fold(base)(t =>
      ivfPqDelete(base, t.select(col("id").as("vec_id"))))
  }

  /** Probe an [[IvfPqIndex]]: rank cells by coarse score, scan the top
    * `nprobe` cells' CODES with ADC (approx dot = q·c_cell + Σ_j
    * lut[j][code_j], the lookup table built once per query), shortlist on
    * the approximate score, exact re-rank on the raw vectors. Replaces
    * [[pqKnnWith]]'s full-corpus ADC scan with a probed-cell scan — per-query
    * work drops from O(n·m lookups) to O(nprobe·n/nlist·m), the IVF-PQ
    * economics: probe cost ~flat as the corpus grows with √n-sized nlist
    * while the resident index stays 32× compressed. */
  def knnIvfPqProbe(idx: IvfPqIndex, queryIds: Seq[Long], k: Int,
      nprobe: Int = 3, shortlist: Int = 20, boundProbe: Boolean = false)
      : DataFrame = {
    val IvfPqIndex(cs, cbs, corpus, cellRes) = idx
    val queries = pqWidthChecked(
        corpus.where(col("neighbor_id").isin(queryIds: _*))
          .select(col("neighbor_id").as("query_id"), col("v_n").as("v_q")),
        "v_q", cbs)
      // one lookup table per query, shared across cells
      .withColumn("lut", pqLut(col("v_q"), cbs))
    // coarse ranking — same (score desc, cdot desc, cell desc) total order
    // as knnIvfProbe's seed probes, replayed by the s14 oracle
    val qcells = queries
      .crossJoin(broadcast(centsDF(corpus.sparkSession, cs)))
      .select(col("query_id"), col("v_q"), col("lut"),
        col("j").as("cell_q"),
        (dot(col("v_q"), col("c")) - col("bias")).as("score"),
        dot(col("v_q"), col("c")).as("cdot"))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cdot").desc, col("cell_q").desc)
    // ADC scan of a probe set + exact re-rank of the shortlist, per phase
    def adcRerank(probes: DataFrame): DataFrame =
      shortlistRerank(corpus.join(broadcast(probes),
          col("cell_q") === col("cell_n") &&
            col("query_id") =!= col("neighbor_id"))
        // adc = q·c_cell + Σ_j lut[j][code_j]; the Σ is the flat-PQ left
        // fold, added AFTER (0.0 + t0 ≡ t0, so the grouping matches the
        // oracle's `cdot + (t0 + t1 + …)` exactly)
        .withColumn("adc", col("cdot") + pqAdc(col("codes"), col("lut"))),
        "adc", shortlist)
    val seeds = qcells.withColumn("__r", row_number().over(probeW))
      .where(col("__r") <= nprobe)
      .select("query_id", "v_q", "lut", "cell_q", "cdot")
    if (!boundProbe)
      topKPerQuery(adcRerank(seeds), k).orderBy("query_id", "rank")
    else {
      // θ-bound second phase (the [[knnIvfProbe]] exactness recipe applied
      // to the compressed scan): the seed cells' EXACT re-ranked k-th score
      // is a lower bound on the answer; any vector with sim > θ lives in a
      // cell with q·c_j + max‖r‖_j ≥ θ, so probing every bound-passing cell
      // removes the coarse-probe recall loss entirely. What remains is only
      // ADC shortlist truncation INSIDE probed cells — the loss the
      // √n-grown shortlist bounds. A query with < k seed candidates probes
      // every non-empty cell.
      val theta = topKPerQuery(adcRerank(seeds), k)
        .groupBy("query_id")
        .agg(min(col("sim")).as("kth"), count(lit(1)).as("nc"))
        .select(col("query_id"),
          when(col("nc") < k, lit(-2.0)).otherwise(col("kth")).as("theta"))
      val probes = qcells
        .join(broadcast(cellRes), col("cell_q") === col("cell_n"))
        .join(broadcast(theta), Seq("query_id"), "left")
        .where(col("cdot") + col("max_res") + lit(1e-9) >=
          coalesce(col("theta"), lit(-2.0)))
        .select("query_id", "v_q", "lut", "cell_q", "cdot")
      topKPerQuery(adcRerank(probes), k).orderBy("query_id", "rank")
    }
  }

  /** Per-label centroids, element-wise (posexplode → per-position exact
    * decimal mean): the building block for IVF-style coarse quantization and
    * class prototypes. Long format (label, pos, centroid) — no array
    * reassembly shuffle. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "val")))
      .select(col("label"), (col("pos0") + 1).as("pos"),
        col("val").cast("double").as("val"))
      .groupBy("label", "pos")
      .agg(
        (sum(expr("CAST(val AS DECIMAL(27,12))")).cast("double") /
          count(lit(1))).as("centroid"),
        count(lit(1)).as("n"))
      .orderBy("label", "pos")

  /** Topic-clustering ASSIGNMENT — deterministic k-means surfaced as a
    * first-class corpus operator (the "cluster the embedding space, then
    * sample/filter per topic" step of a curation pipeline; same coarse
    * quantizer [[knnIvfProbe]] uses as its index). Output is one (vec_id,
    * cluster) row per vector; every arithmetic step is the decimal-mean /
    * sequential-dot recipe, so the full iterative procedure replays
    * bit-exactly in the SQL oracle (unrolled, [[graft.SparkEntry]] s06).
    *
    * Scale shape: centroids are k×dim (driver-sized by construction); each
    * round is one partial-aggregated shuffle of the corpus; the final
    * assignment is map-only for k ≤ 64 (inline expression) and a broadcast
    * join + n-row partial-aggregate shuffle above (see
    * [[withNearestCluster]]). Nothing corpus-sized ever concentrates.
    *
    * Takes prebuilt centroids ([[kmeansCentroids]]; the map-only probe
    * half — centroids are a registration-time artifact, see
    * [[graft.ops.IndexCache]]). */
  def kmeansAssignWith(emb: DataFrame, cs: Array[Array[Double]]): DataFrame =
    withNearestCluster(
        emb.select(col("vec_id"), asDouble("embedding").as("v")), cs, "cluster")
      .select("vec_id", "cluster")
      .orderBy("vec_id")

  /** The centroid table for the join-based assignment path: k rows of
    * (j, c, bias) with bias = ‖c_j‖²/2 precomputed, exactly the constant the
    * expression path folds in. */
  private def centsDF(spark: org.apache.spark.sql.SparkSession,
      cs: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cs.zipWithIndex.toSeq
      .map { case (c, j) => (j, c.toSeq, c.map(x => x * x).sum / 2.0) }
      .toDF("j", "c", "bias")
  }

  /** Append `out` = argmin_j ‖v − c_j‖² to a (…, v, …) frame: one map-only
    * native [[nearestCluster]] column at ANY k. The broadcast-join +
    * re-collapse workaround this used to switch to above k = 64 (the
    * declarative expression's k×dim literal nodes blew up analysis/codegen
    * at the √n production nlist) is gone — the native expression carries
    * the centroid matrix as one reference object, so the assignment is a
    * map pass with no shuffle at every k. [[graft.OpsSpec]]'s parity test
    * pins the native kernel bit-identical to BOTH retired spellings
    * (declarative struct-max and broadcast-join collapse) at k = 100. */
  private[graft] def withNearestCluster(df: DataFrame,
      cs: Array[Array[Double]], out: String): DataFrame =
    df.withColumn(out, nearestCluster(col("v"), cs))

  /** Deterministic Lloyd k-means over the embedding column. Initialization
    * assigns row i to cluster (vec_id mod k) — deterministic, no RNG state —
    * then `iters` rounds of (per-cluster mean → nearest-centroid
    * reassignment). Centroids are tiny (k × dim) and come back to the driver
    * each round; assignment stays fully distributed. */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int)
      : Array[Array[Double]] = {
    // persisted for the loop below (each iteration re-reads it; every round
    // fully materializes via collect, so the unpersist at the end is safe)
    val v = emb.select(col("vec_id"), asDouble("embedding").as("v")).persist()
    try kmeansLoop(v, k, iters)
    finally { v.unpersist(false); () }
  }

  private def kmeansLoop(v: DataFrame, k: Int, iters: Int)
      : Array[Array[Double]] = {
    // Mean through DECIMAL (like labelCentroids) so the sum is independent of
    // partial-aggregation order — the "deterministic k-means" claim the IVF
    // path relies on. A cluster with no members this round keeps its previous
    // centroid (deterministic re-seed, never silently all-zero).
    def centroidsOf(assigned: DataFrame, prev: Array[Array[Double]])
        : Array[Array[Double]] = {
      val rows = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg((sum(expr("CAST(x AS DECIMAL(27,12))")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
      if (rows.isEmpty)
        throw new IllegalArgumentException(
          "kmeansCentroids: input frame has no embeddings")
      val dim = rows.map(_.getInt(1)).max + 1
      val cs =
        if (prev == null) Array.fill(k)(new Array[Double](dim))
        else prev.map(_.clone())
      rows.foreach(r => cs(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cs
    }
    var cs = centroidsOf(v.withColumn("cluster",
      (col("vec_id") % k).cast("int")), null)
    (1 until iters).foreach { _ =>
      cs = centroidsOf(withNearestCluster(v, cs, "cluster"), cs)
    }
    cs
  }

  /** argmin_j ‖v − c_j‖² = argmax_j (v·c_j − ‖c_j‖²/2) as a Column. */
  def nearestCluster(v: Column, cs: Array[Array[Double]]): Column =
    graft.functions.NearestCentroid.nearestCentroid(v, cs)

  /** The declarative spelling [[nearestCluster]]'s native expression
    * replaced — k × dim literal nodes, which overflowed janino's 64 KB
    * method limit in the PQ encode stage (m × ksub centroid dots in one
    * projection) and forced the broadcast-join workaround at the √n
    * production nlist. Kept for the OpsSpec bit-parity pin. */
  private[graft] def nearestClusterDeclarative(v: Column,
      cs: Array[Array[Double]]): Column = {
    val scored = cs.zipWithIndex.map { case (c, j) =>
      val bias = c.map(x => x * x).sum / 2.0
      struct((dot(v, array(c.map(lit): _*)) - bias).as("score"),
        lit(j).as("j"))
    }
    // array_max over (score, j) structs picks the best score, ties → max j
    array_max(array(scored: _*)).getField("j")
  }

  /** The materialized IVF index: centroids (driver-sized, k×dim), the
    * cell-assigned corpus, and per-cell max residual norms (the
    * data-dependent half of the probe bound). A production deployment builds
    * this once per corpus registration/ingest and persists it (the corpus
    * frame maps 1:1 to a parquet layout partitioned by `cell_n`); queries
    * pay only the probe cost. [[graft.ops.IndexCache]] gives the library the
    * same build-once lifecycle in-process. */
  final case class IvfIndex(cs: Array[Array[Double]], corpus: DataFrame,
      cellRes: DataFrame)

  /** Production sizing for the IVF coarse quantizer: probe cost is
    * `nlist` (centroid dots) + `n/nlist × probes` (cell scans), minimized
    * at `nlist ≈ √n` — the standard IVF rule. Fixed demo nlist makes cells
    * grow linearly with the corpus (the BENCH_sf1.json s0x slopes);
    * √n-sizing keeps per-query work at O(√n). Floor 16 so tiny corpora
    * still spread across executors. SemDeDup cluster counts follow the same
    * rule: within-cluster pair work is Σ cell² ≈ n²/k, linear in n only
    * when k grows with it. */
  def suggestedIvfLists(n: Long): Int =
    math.max(16, math.round(math.sqrt(n.toDouble)).toInt)

  /** Companion sizing for `nprobe` when `nlist` grows as √n: a FIXED probe
    * count visits a vanishing fraction of cells (3 of 447 at 100× in the
    * sweep — twin_hit fell off a cliff), while probing a fixed FRACTION
    * re-linearizes the scan. √nlist probes scan n/√nlist = n^(3/4) rows —
    * sublinear probe cost with cell coverage growing without bound. Used
    * by the quantized IVF-PQ path; the EXACT [[knnIvfProbe]] needs no such
    * knob (its Cauchy-Schwarz bound self-extends the probe set). */
  def suggestedIvfProbes(nlist: Int): Int =
    math.max(3, math.round(math.sqrt(nlist.toDouble)).toInt)

  /** Persist an [[IvfIndex]] as the parquet layout a production
    * registration writes once per ingest: `centroids/` (nlist rows of
    * (j, c)), `corpus/` PARTITIONED BY cell_n — so a probe's cell scans
    * are partition-pruned file reads — and `cell_res/` (the per-cell
    * residual bounds). [[loadIvfIndex]] restores it without touching the
    * embeddings; OpsSpec proves probes over a loaded index match probes
    * over the built one bit-for-bit. */
  def saveIvfIndex(idx: IvfIndex, path: String): Unit = {
    val spark = idx.corpus.sparkSession
    import spark.implicits._
    idx.cs.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
      .toDF("j", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    idx.corpus.write.mode("overwrite").partitionBy("cell_n")
      .parquet(s"$path/corpus")
    idx.cellRes.coalesce(1).write.mode("overwrite").parquet(s"$path/cell_res")
    IndexCache.registerPersisted(spark, path, "ivf")
  }

  /** Restore a persisted [[IvfIndex]] (see [[saveIvfIndex]]). Committed
    * tombstones ([[graft.ops.Forget.forgetPersisted]]) are applied
    * UNCONDITIONALLY via [[ivfDelete]] — a reload after a forget cannot
    * resurrect the forgotten vector, and the per-cell residual bounds
    * refresh from the survivors like any other delete. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfIndex = {
    IndexCache.registerPersisted(spark, path, "ivf")
    val cs = spark.read.parquet(s"$path/centroids").orderBy("j")
      .collect().map(_.getSeq[Double](1).toArray)
    val corpus = spark.read.parquet(s"$path/corpus")
      .select("cell_n", "neighbor_id", "v_n")
    val base = IvfIndex(cs, corpus, spark.read.parquet(s"$path/cell_res"))
    Forget.tombstonesAt(spark, path).fold(base)(t =>
      ivfDelete(base, t.select(col("id").as("vec_id"))))
  }

  /** Build the IVF index: k-means coarse quantizer, one assignment shuffle,
    * one tiny per-cell residual aggregate. */
  def ivfIndex(emb: DataFrame, nlist: Int, iters: Int = 3): IvfIndex = {
    val cs = kmeansCentroids(emb, nlist, iters)
    val v = emb.select(col("vec_id"), asDouble("embedding").as("v"))
    // Materialized once: the assignment (nlist dot products per row) feeds
    // the residual bound, the θ pass, and the final probe join.
    // localCheckpoint (not persist) so the ContextCleaner releases the blocks
    // when the index is dropped — persist() would pin them in the
    // CacheManager forever.
    val corpus = withNearestCluster(v, cs, "cell")
      .select(col("cell").as("cell_n"), col("vec_id").as("neighbor_id"),
        col("v").as("v_n"))
      .localCheckpoint()
    IvfIndex(cs, corpus, cellResFor(corpus, cs))
  }

  /** Per-cell max residual norm over an assigned corpus — nlist rows,
    * checkpointed so probes don't re-aggregate the corpus. typedLit packs
    * the k×dim centroid table into ONE literal node (a per-element
    * array(lit…) tree is O(k·dim) plan nodes — analysis-time death at the
    * √n production nlist). Shared by [[ivfIndex]] (build) and
    * [[ivfDelete]] (refresh over survivors). */
  private def cellResFor(corpus: DataFrame,
      cs: Array[Array[Double]]): DataFrame = {
    val centArr = typedLit(cs.map(_.toSeq).toSeq)
    corpus
      .withColumn("c", element_at(centArr, col("cell_n") + 1))
      .withColumn("r2", aggregate(
        zip_with(col("v_n"), col("c"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x))
      .groupBy("cell_n").agg(sqrt(max(col("r2"))).as("max_res"))
      .localCheckpoint()
  }

  /** GDPR DELETE for an [[IvfIndex]] — [[pqDelete]]'s twin on the
    * cell-partitioned layout: anti-join the assigned corpus on `vec_id`,
    * keep the centroids, REFRESH the per-cell residual bounds from the
    * survivors.
    *
    * WHY THE STALE CENTROIDS ARE ACCEPTABLE until the next rebuild: the
    * coarse quantizer is aggregate geometry (no row is recoverable from
    * it), cell assignments of surviving vectors are unchanged (assignment
    * is a pure function of vector × centroids), and [[knnIvfProbe]] is
    * exact against ANY partition of the corpus — the Cauchy-Schwarz bound
    * q·c + max_res self-extends the probe set until nothing outside can
    * qualify. A survivors-trained quantizer would only partition better
    * (fewer probes), never answer differently — so delete-then-query is
    * bit-identical to rebuild-on-survivors-then-query, which
    * [[graft.OpsSpec]] proves.
    *
    * cellRes is re-derived rather than kept: the old bounds (max over a
    * superset) would stay CORRECT — the bound only over-probes — but the
    * refresh is one linear agg over the already-materialized index
    * corpus, and a deleted outlier's slack otherwise lingers as permanent
    * extra probe work. Cells emptied by the delete drop out of both
    * frames, which phase 2 handles (no bound row → no probe). */
  def ivfDelete(idx: IvfIndex, deletes: DataFrame): IvfIndex = {
    val del = broadcast(deletes.select(col("vec_id").as("__del")).distinct())
    val corpus = idx.corpus
      .join(del, col("neighbor_id") === col("__del"), "left_anti")
      .localCheckpoint()
    IvfIndex(idx.cs, corpus, cellResFor(corpus, idx.cs))
  }

  /** GDPR DELETE for an [[IvfPqIndex]] — [[pqDelete]]/[[ivfDelete]]'s
    * sibling on the compressed cell-partitioned layout: anti-join the
    * encoded corpus on `vec_id`, keep the coarse centroids AND the shared
    * residual codebooks (both aggregate geometry — k-means cell centers
    * encode no retrievable row), refresh the per-cell residual bounds
    * from the survivors.
    *
    * THE INVARIANT THIS PRESERVES is same-geometry rebuild equivalence:
    * delete-then-query is bit-identical to re-encoding the SURVIVORS
    * through the index's own (centroids, codebooks) and querying that —
    * because cell assignment and PQ encoding are pure per-row functions
    * of vector × geometry, an anti-join of the encoded rows IS the
    * survivor encode, and the refreshed bounds equal the survivor-built
    * ones. Unlike [[pqDelete]]'s serving paths, [[knnIvfPqProbe]] is
    * deliberately approximate (ADC shortlist truncation inside probed
    * cells), so a FULL retrain on survivors may answer differently — the
    * honest contract is therefore geometry-preserving equivalence, which
    * [[graft.OpsSpec]] pins on both the fixed-probe and θ-bound paths.
    * cellRes is refreshed rather than kept for the same reason as
    * [[ivfDelete]] — stale superset bounds stay sound but would make the
    * θ-bound path probe (and thus shortlist) differently than the
    * survivor-built index, breaking the bit-exact invariant. */
  def ivfPqDelete(idx: IvfPqIndex, deletes: DataFrame): IvfPqIndex = {
    val del = broadcast(deletes.select(col("vec_id").as("__del")).distinct())
    val corpus = idx.corpus
      .join(del, col("neighbor_id") === col("__del"), "left_anti")
      .localCheckpoint()
    IvfPqIndex(idx.cs, idx.cbs, corpus, cellResFor(corpus, idx.cs))
  }

  /** IVF ANN with an EXACTNESS guarantee, probing a prebuilt [[IvfIndex]]
    * (k-means coarse quantizer over the corpus, one assignment shuffle —
    * [[ivfIndex]]): each query probes its `nprobe` nearest cells for a
    * provisional k-th score θ, then additionally probes every cell whose
    * upper bound q·c_j + max‖x−c_j‖ (Cauchy-Schwarz, ‖q‖=1) can still
    * reach θ. Any vector with sim > θ lives in a probed cell, so the
    * result equals exhaustive search — while clustered corpora prune most
    * cells. On adversarially uniform data the bound degrades gracefully to
    * a full scan (the curse of dimensionality, not an implementation
    * limit). Queries are looked up in the index itself (vec_id ∈
    * queryIds). */
  def knnIvfProbe(idx: IvfIndex, queryIds: Seq[Long], k: Int,
      nprobe: Int): DataFrame = {
    val IvfIndex(cs, corpus, cellRes) = idx
    // per query per cell: biased score (picks seed cells) + raw dot (bound).
    // A k-row broadcast join (not a k-struct inline array) so the plan stays
    // O(1) nodes at the √n production nlist; |queries|×k rows total — tiny.
    val queries = corpus.where(col("neighbor_id").isin(queryIds: _*))
      .select(col("neighbor_id").as("query_id"), col("v_n").as("v_q"))
    val qcells = queries.crossJoin(broadcast(centsDF(corpus.sparkSession, cs)))
      .select(col("query_id"), col("v_q"), col("j").as("cell_q"),
        (dot(col("v_q"), col("c")) - col("bias")).as("score"),
        dot(col("v_q"), col("c")).as("cdot"))
      .localCheckpoint() // feeds seed AND phase-2 probes
    // phase 1: seed probes → provisional k-th best score θ per query.
    // (score desc, cdot desc, cell desc) replays the array_sort-then-reverse
    // struct order of the inline spelling — same cells win on ties.
    val seedW = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cdot").desc, col("cell_q").desc)
    val seed = qcells.withColumn("__r", row_number().over(seedW))
      .where(col("__r") <= nprobe)
      .select(col("query_id"), col("v_q"), col("cell_q"))
    val seedScored = corpus.join(broadcast(seed),
        col("cell_q") === col("cell_n") &&
          col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("v_q"), col("v_n")))
    val theta = topKPerQuery(seedScored, k)
      .groupBy("query_id")
      .agg(min(col("sim")).as("kth"), count(lit(1)).as("nc"))
      .select(col("query_id"),
        when(col("nc") < k, lit(-2.0)).otherwise(col("kth")).as("theta"))
    // phase 2: all cells whose bound reaches θ (1e-9 absorbs float slack;
    // a query with no phase-1 candidates probes every non-empty cell)
    val probes = qcells
      .join(broadcast(cellRes), col("cell_q") === col("cell_n"))
      .join(broadcast(theta), Seq("query_id"), "left")
      .where(col("cdot") + col("max_res") + lit(1e-9) >=
        coalesce(col("theta"), lit(-2.0)))
      .select(col("query_id"), col("v_q"), col("cell_q"))
    val finalScored = corpus.join(broadcast(probes),
        col("cell_q") === col("cell_n") &&
          col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("v_q"), col("v_n")))
    topKPerQuery(finalScored, k).orderBy("query_id", "rank")
  }

  /** Deterministic random hyperplanes: `bits` planes of dimension `dim`,
    * seeded Gaussian (java.util.Random's algorithm is specified, so the
    * planes are identical on every JVM). */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-signature bucket id (0 until 2^bits) for a double-array column.
    * Native [[graft.functions.LshBucket]] expression: the plane matrix is
    * ONE reference object and the generated code two primitive loops —
    * the per-plane `when(dot(v, array(lit…)) >= 0, …)` spelling this
    * replaces carried bits × dim literal nodes (× tables in the multi-table
    * forms), which pushed generated methods past JIT limits and dropped
    * the whole bucketing map into interpreted evaluation (~10× slower per
    * flop than the codegen'd brute scan, per the ScaleSweep). Bit-identical
    * output: same sequential fold per plane, same `>= 0` sign rule. */
  def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    graft.functions.LshBucket.lshBucket(v, planes).as("bucket")

  /** MULTI-TABLE LSH kNN — [[knnLsh]] with the recall knob the single-table
    * form lacks: `tables` independent hyperplane tables OR-amplify the
    * per-neighbor find probability from p^bits to 1 − (1 − p^bits)^T
    * (p = 1 − θ/π), the same trade
    * [[graft.ops.Dedup.embeddingNearDupLshPairs]] uses for pair
    * generation. Candidates ride SKINNY (query_id, neighbor_id) through
    * the bucket join and dedup (a neighbor sharing
    * several buckets scores once); vectors re-attach only for surviving
    * candidates. Per-query probe work is T · bucket population — map-side
    * linear in T, never pairwise.
    *
    * `multiprobe` (Lv et al., VLDB 2007) additionally probes, per query and
    * table, every bucket at Hamming distance 1 from the home bucket — the
    * buckets a true neighbor lands in when exactly one hyperplane
    * disagrees. Per-table success grows from p^b to
    * p^b + b·p^(b−1)(1−p), so the table count solving a recall target
    * shrinks ~(1+b)×. The probe fan-out rides the QUERY side of the join —
    * the broadcast side, |Q|·T·(1+b) tiny rows — while the corpus side
    * (the expensive explode + shuffle at 10⁸+ vectors) stays T rows per
    * vector. That asymmetry is the entire point: recall is bought with
    * broadcast rows instead of corpus replication. */
  def knnLshMulti(emb: DataFrame, queryIds: Seq[Long], k: Int, bits: Int,
      tables: Int, dim: Int = 64, multiprobe: Boolean = false): DataFrame = {
    // localCheckpoint: feeds bucket explosion + the two vector re-attaches
    val e = emb.select(col("vec_id"), asDouble("embedding").as("v"))
      .localCheckpoint()
    val bucketCols = (0 until tables).map { t =>
      val planes = hyperplanes(dim, bits, seed = 42L + t)
      struct(lit(t).as("t"), lshBucket(col("v"), planes).as("b"))
    }
    val keyed = e.select(col("vec_id"),
      explode(array(bucketCols: _*)).as("bk"))
    // Home buckets materialize ONCE per table as named columns; the XOR
    // probes then reference the column, so the bits × dim hyperplane dots
    // run once per (query, table) instead of (bits + 1)× — CollapseProject
    // keeps the two projections separate because __home_t is a non-cheap
    // expression referenced bits + 1 times.
    val qHomes = e.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id") +: (0 until tables).map { t =>
        val planes = hyperplanes(dim, bits, seed = 42L + t)
        lshBucket(col("v"), planes).as(s"__home_$t")
      }: _*)
    val qProbeCols = (0 until tables).flatMap { t =>
      val home = col(s"__home_$t")
      val probes =
        if (multiprobe) home +: (0 until bits).map(i =>
          home.bitwiseXOR(lit(1L << i)))
        else Seq(home)
      probes.map(b => struct(lit(t).as("t"), b.as("b")))
    }
    val queries = qHomes.select(col("query_id"),
      explode(array(qProbeCols: _*)).as("bk_q"))
    val cand = keyed.select(col("bk").as("bk_n"), col("vec_id").as("neighbor_id"))
      .join(broadcast(queries),
        col("bk_q") === col("bk_n") && col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("v_n")),
        "neighbor_id")
      .join(broadcast(e.where(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), col("v").as("v_q"))),
        "query_id")
      .withColumn("sim", dot(col("v_q"), col("v_n")))
    topKPerQuery(scored, k).orderBy("query_id", "rank")
  }

  /** Estimate the cosine of the k-th true neighbor for this query workload
    * from a deterministic hash-sample of the corpus: |Q| × sample dot
    * products (sample ≤ ~8k rows — negligible next to one probe pass, and
    * broadcast-joined, so it costs one corpus scan at any n). The sample's
    * k-th best UNDERESTIMATES the full corpus's k-th best (fewer
    * candidates), which is the conservative direction for sizing — an LSH
    * design point slightly below the true operating cosine buys slightly
    * MORE tables than needed, never fewer. Returns the median across
    * queries, clamped to (0.05, 0.99). */
  def calibratedKthCos(emb: DataFrame, queryIds: Seq[Long], k: Int,
      sampleTarget: Int = 8192): Double = {
    val n = emb.count()
    val e = emb.select(col("vec_id"), asDouble("embedding").as("v"))
    val step = math.max(1L, n / math.max(1, sampleTarget))
    val sample = e.where(pmod(xxhash64(col("vec_id")), lit(step)) === 0)
      .select(col("vec_id").as("neighbor_id"), col("v").as("v_n"))
    val queries = e.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("v_q"))
    val scored = sample.crossJoin(broadcast(queries))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("v_q"), col("v_n")))
    val kth = topKPerQuery(scored, k).where(col("rank") === k)
      .select("sim").collect().map(_.getDouble(0))
    if (kth.isEmpty) 0.5
    else math.min(0.99, math.max(0.05, kth.sorted.apply(kth.length / 2)))
  }

  /** [[knnLshMulti]] with the PRODUCTION SIZING wired in — and the sizing
    * CALIBRATED TO THE DATA: the failure mode of a fixed design cosine is
    * that most true top-k neighbors of a real workload sit far below it
    * (on an isotropic corpus the k-th neighbor is ~3σ of a N(0, 1/dim)
    * cosine), so tables sized for cos 0.9 under-amplify and recall@k
    * DECAYS as bits grow with the corpus. Here the design point is
    * [[calibratedKthCos]] — the cosine the workload's k-th neighbors
    * actually have — unless the caller pins `targetCos > 0`.
    *
    * Sizing solves for (bits, tables) under a table budget with MULTIPROBE
    * per-table success q(b) = p^b + b·p^(b−1)(1−p) (home bucket + every
    * Hamming-1 probe, [[knnLshMulti]]): bits start at the √n
    * bucket-population point ([[graft.ops.Dedup.suggestedLshBits]] of
    * [[suggestedShortlist]]) and SHRINK until T(b) = ⌈ln(1−R)/ln(1−q(b))⌉
    * fits `maxTables` — trading bucket size for table count so the recall
    * target HOLDS at every corpus size instead of being silently abandoned
    * when the table formula caps. Multiprobe buys the same amplification
    * with ~(1+b)× fewer tables than home-bucket-only probing, which is
    * ~(1+b)× less corpus explode — the term that dominates the wall at
    * 10⁸+ vectors.
    *
    * COST-BASED CUTOVER (the index-vs-scan planner decision): before
    * launching the index, the sizing predicts the corpus fraction each
    * query's probes touch, f ≈ min(1, T·(1+b)/2^b). When f ≥ `bruteCutover`
    * the bucket machinery (T× corpus explode, candidate dedup shuffle, two
    * re-attach joins) costs strictly more than the codegen'd brute scan
    * that reads a comparable row fraction ONCE — so the op returns
    * [[knnBrute]] (exact, recall 1.0) and reports tables = 0. This is
    * where an isotropic workload lands (the calibrated k-th-neighbor
    * cosine is ~3σ of N(0, 1/dim), the ANN lower bound — no index wins);
    * clustered real-world embeddings or a pinned `targetCos` keep f small
    * and the LSH path engages. Returns (frame, bits, tables; tables = 0 ⇒
    * exact-scan cutover). */
  def knnLshAuto(emb: DataFrame, queryIds: Seq[Long], k: Int,
      targetBucket: Int = 0, targetCos: Double = 0.0,
      targetRecall: Double = 0.95, dim: Int = 64, maxTables: Int = 64,
      bruteCutover: Double = 0.25): (DataFrame, Int, Int) = {
    val n = emb.count()
    val cos =
      if (targetCos > 0) targetCos else calibratedKthCos(emb, queryIds, k)
    val p = 1.0 - math.acos(cos) / math.Pi
    val bucket =
      if (targetBucket > 0) targetBucket else suggestedShortlist(n, k)
    def qFor(b: Int): Double =
      math.pow(p, b) + b * math.pow(p, b - 1) * (1.0 - p)
    def tablesFor(b: Int): Double =
      math.ceil(math.log1p(-targetRecall) / math.log1p(-qFor(b)))
    var bits = graft.ops.Dedup.suggestedLshBits(n, bucket)
    while (bits > 1 && tablesFor(bits) > maxTables) bits -= 1
    val tables = math.max(1, math.min(maxTables.toDouble,
      tablesFor(bits)).toInt)
    val probedFrac = math.min(1.0, tables * (1.0 + bits) / math.pow(2, bits))
    if (probedFrac >= bruteCutover)
      (knnBrute(emb, queryIds, k), bits, 0)
    else
      (knnLshMulti(emb, queryIds, k, bits, tables, dim, multiprobe = true),
        bits, tables)
  }

  /** ANN via hyperplane-LSH bucketing: exact search restricted to the query's
    * bucket. Trades recall for a corpus-shuffle-once, probe-one-bucket plan. */
  def knnLsh(emb: DataFrame, queryIds: Seq[Long], k: Int, bits: Int = 12,
      dim: Int = 64): DataFrame = {
    val planes = hyperplanes(dim, bits)
    val bucketed = emb.select(col("vec_id"), asDouble("embedding").as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes))
    val corpus = bucketed.select(col("bucket").as("bucket_n"),
      col("vec_id").as("neighbor_id"), col("v").as("v_n"))
    val queries = bucketed.where(col("vec_id").isin(queryIds: _*))
      .select(col("bucket").as("bucket_q"), col("vec_id").as("query_id"),
        col("v").as("v_q"))
    val scored = corpus.join(broadcast(queries),
        col("bucket_q") === col("bucket_n") &&
          col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("v_q"), col("v_n")))
    topKPerQuery(scored, k).orderBy("query_id", "rank")
  }
}
