package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{Decimal, DoubleType, StructField,
  StructType}

/** Text-analysis operators for large-scale training-data pipelines (north-star
  * extensions beyond the reference's surface; BASELINE.json). All operators
  * are pure Catalyst expressions — no UDFs — so they stay inside whole-stage
  * codegen and scale linearly with the corpus: per-row maps + one hash
  * aggregation, no shuffles beyond the final groupBy.
  */
object TextOps {

  /** Whitespace tokens; the corpus is single-space separated. */
  def tokens(textCol: String): Column = split(col(textCol), " ")

  /** Per-source token statistics (token counting). */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs"),
        sum(size(tokens("text")).cast("long")).as("tokens"),
        (sum(size(tokens("text")).cast("long")).cast("double") /
          count(lit(1))).as("avg_tokens"),
        sum(col("n_chars")).as("chars"))
      .orderBy("source")

  /** A BPE-ish sub-word proxy: alnum runs + standalone punctuation marks.
    * Deterministic regex segmentation, counted per document. */
  def bpeishTokenCount(textCol: String): Column =
    size(filter(split(col(textCol), "[^A-Za-z0-9]+"), x => length(x) > 0)) +
      size(filter(split(col(textCol), "[A-Za-z0-9\\s]+"), x => length(x) > 0))

  /** Per-source BPE-ish token totals (the tokenizer-budget estimate a
    * training pipeline runs over the whole corpus). */
  def bpeishTokenStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(bpeishTokenCount("text").cast("long")).as("bpeish_tokens"))
      .orderBy("source")

  private val stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** Quality scoring: token count, type-token ratio, stopword ratio, mean
    * token length, and a composite score. Formulae are plain SQL exprs so the
    * DuckDB oracle reproduces them bit-for-bit. */
  def qualityScore(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(tokens("text")))
      .withColumn("uniq_ratio",
        expr("size(array_distinct(split(text, ' '))) / size(split(text, ' '))"))
      .withColumn("stop_ratio", expr(
        s"size(filter(split(text, ' '), t -> t IN (${inList(stopwords)}))) / size(split(text, ' '))"))
      .withColumn("mean_token_len",
        expr("(length(text) - size(split(text, ' ')) + 1) / size(split(text, ' '))"))
      .withColumn("quality_score", expr(
        """(CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
          | * (0.25 + 0.75 * uniq_ratio)
          | * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.6 END)""".stripMargin))
      .select("doc_id", "n_tokens", "uniq_ratio", "stop_ratio",
        "mean_token_len", "quality_score")
      .orderBy("doc_id")

  /** COMPRESSIBILITY quality signal — the classic corpus-filter heuristic
    * (Gopher-style quality rules, data-juicer's compression filter): the
    * DEFLATE-compressed size of a document's UTF-8 bytes over its raw
    * size. Near-1 ratios flag high-entropy non-language content (random
    * strings, base64/binary paste) and very low ratios flag
    * templated/repeated boilerplate; natural prose sits in between — the
    * two tails a quality pipeline drops. Zero new dependencies
    * (`java.util.zip`, fixed level 6 so the byte count is deterministic);
    * ONE `Deflater` per partition, reset per row and released when the
    * partition drains — bounded native state, map-only, no shuffle.
    * Spec-gated rather than oracle-gated: unlike the codec gates there is
    * no arithmetic ground truth to replay in SQL (the DEFLATE byte count
    * is zlib's own output) — the spec pins the ordering contract
    * (repeated < prose < random) and exact run-to-run determinism. */
  def compressionRatio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](64 * 1024)
        new Iterator[(Long, Long, Long, Double)] {
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h) defl.end() // idempotent; partial drains fall to GC
            h
          }
          def next(): (Long, Long, Long, Double) = {
            val (id, text) = it.next()
            val bytes = text
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            defl.reset()
            defl.setInput(bytes)
            defl.finish()
            var total = 0L
            while (!defl.finished()) total += defl.deflate(buf)
            (id, bytes.length.toLong, total,
              if (bytes.isEmpty) 1.0 else total.toDouble / bytes.length)
          }
        }
      }
      .toDF("doc_id", "raw_bytes", "deflate_bytes", "compression_ratio")
      .orderBy("doc_id")
  }

  // language-ID marker lists (function words; n-gram-free heuristic)
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "with", "that"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "mit"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "con"))

  /** Language identification by function-word voting: count marker tokens per
    * language, argmax with fixed tie order, 'und' when nothing matches.
    * (On this synthetic corpus the vocabulary is shared across the `lang`
    * labels, so predictions are mostly 'en'/'und' — the operator is the
    * deliverable, the labels aren't learnable.) */
  def languageId(docs: DataFrame): DataFrame = {
    val scored = langMarkers.foldLeft(docs) { case (df, (lang, ws)) =>
      df.withColumn(s"s_$lang", expr(
        s"size(filter(split(text, ' '), t -> t IN (${inList(ws)})))"))
    }
    scored
      .withColumn("pred_lang", expr(
        """CASE
          | WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
          | WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
          | WHEN s_de >= s_es AND s_de > 0 THEN 'de'
          | WHEN s_es > 0 THEN 'es'
          | ELSE 'und' END""".stripMargin))
      .select("doc_id", "lang", "pred_lang", "s_en", "s_fr", "s_de", "s_es")
      .orderBy("doc_id")
  }

  /** TRAINABLE QUALITY PROBE — batch-gradient-descent linear regression of
    * the handcrafted [[qualityScore]] onto bounded per-document features
    * (bias, type-token ratio, stopword ratio, mean token length / 10): the
    * "fit a cheap linear filter, then score the whole corpus with it"
    * stage of a curation pipeline (the model-distillation form of the
    * fastText-style quality classifier), here with the label supplied by
    * the rule-based scorer so the procedure is fully self-contained.
    * Emits one row per GD round: the post-update weights and the
    * PRE-update mean-squared error (so round 1 shows the w=0 loss and the
    * mse column is monotone-decreasing when the step size fits).
    *
    * Determinism at any partitioning: each round's gradient
    * Σ (w·x − y)·xⱼ and squared-error sum ride DECIMAL(38,18) per term —
    * wide enough that the shortest-round-trip string of any |term| < 10
    * converts EXACTLY on both engines (the t14 surprisal recipe), giving
    * exact, order-independent sums — and the derived per-round doubles
    * (gradient means, mse) round at 1e-9 on both sides (the t14/t23
    * convention; a decimal DOWNSCALE would not work here — DuckDB
    * truncates decimal→decimal while Spark rounds half-up), so the whole
    * iterative procedure replays bit-exactly in the SQL oracle with one
    * unrolled CTE pair per round. Per-row arithmetic is plain IEEE doubles with a
    * fixed association order — no transcendentals (squared loss, not
    * logistic, PRECISELY so no exp()/libm variance can leak into the
    * gate).
    *
    * Scale shape: the weight vector is 4 doubles — round state is
    * driver-sized by construction (the k-means centroid pattern,
    * [[Similarity.kmeansCentroids]]); each round is ONE partial-aggregated
    * pass over the feature table (map-side combine on the decimal sums),
    * and the feature projection is computed once and reused across rounds
    * via a lazy localCheckpoint. Nothing corpus-sized ever concentrates on
    * the driver. */
  def linearProbe(docs: DataFrame, iters: Int = 3,
      lr: Double = 0.5): DataFrame = {
    val rounds = probeRounds(probeFeatures(docs), iters, lr)
    val spark = docs.sparkSession
    import spark.implicits._
    rounds.toDF("round", "w_bias", "w_uniq", "w_stop", "w_len",
      "mse_before")
  }

  /** The probe's feature projection: (source, x0..x3, y) — bias, bounded
    * ratios, and the rule-based label, computed once and reused across GD
    * rounds (and by [[probeScore]]'s inference pass). */
  private def probeFeatures(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(tokens("text")))
      .withColumn("uniq_ratio",
        expr("size(array_distinct(split(text, ' '))) / size(split(text, ' '))"))
      .withColumn("stop_ratio", expr(
        s"size(filter(split(text, ' '), t -> t IN (${inList(stopwords)}))) / size(split(text, ' '))"))
      .withColumn("mean_token_len",
        expr("(length(text) - size(split(text, ' ')) + 1) / size(split(text, ' '))"))
      .select(col("source"), lit(1.0).as("x0"),
        col("uniq_ratio").cast("double").as("x1"),
        col("stop_ratio").cast("double").as("x2"),
        (col("mean_token_len").cast("double") / lit(10.0)).as("x3"),
        expr(
          """(CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
            | * (0.25 + 0.75 * uniq_ratio)
            | * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0
            |    ELSE 0.6 END)""".stripMargin).cast("double").as("y"))
      .localCheckpoint() // one materialization, iters+1 reads

  private def dec18(c: Column) = {
    import org.apache.spark.sql.types.DecimalType
    c.cast(DecimalType(38, 18))
  }

  /** w·x with the fixed left-to-right association both engines share. */
  private def probePred(w: Array[Double]): Column =
    lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3")

  /** The GD loop shared by [[linearProbe]] (emits the trace) and
    * [[probeScore]] (uses the final weights). */
  private def probeRounds(feat: DataFrame, iters: Int, lr: Double)
      : Seq[(Int, Double, Double, Double, Double, Double)] = {
    def gmean(c: Column) =
      round(sum(dec18(c)).cast("double") / count(lit(1)), 9)
    val w = Array.fill(4)(0.0)
    (1 to iters).map { r =>
      val err = probePred(w) - col("y")
      val row = feat.agg(
        gmean(err * col("x0")).as("g0"),
        gmean(err * col("x1")).as("g1"),
        gmean(err * col("x2")).as("g2"),
        gmean(err * col("x3")).as("g3"),
        gmean(err * err).as("mse")).head()
      val mse = row.getDouble(4)
      (0 until 4).foreach { j =>
        w(j) = w(j) - lr * row.getDouble(j)
      }
      (r, w(0), w(1), w(2), w(3), mse)
    }
  }

  /** PROBE INFERENCE — train the [[linearProbe]] weights, then score the
    * whole corpus with the linear model and report the per-source fit:
    * document count, mean predicted quality, and the residual MSE against
    * the rule-based label ("where does the cheap filter disagree with the
    * rule"). The train half is the k-means-pattern driver loop; the score
    * half is map-only arithmetic at scan speed (per-row doubles never
    * surface — they enter exact DECIMAL(38,18) sums, so the report is
    * partitioning-invariant and oracle-replayable like the training
    * trace). */
  def probeScore(docs: DataFrame, iters: Int = 3,
      lr: Double = 0.5): DataFrame = {
    val feat = probeFeatures(docs)
    val last = probeRounds(feat, iters, lr).last
    val w = Array(last._2, last._3, last._4, last._5)
    val pred = probePred(w)
    val resid = pred - col("y")
    def smean(c: Column) =
      round(sum(dec18(c)).cast("double") / count(lit(1)), 9)
    feat
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        smean(pred).as("mean_pred"),
        smean(resid * resid).as("mse"))
      .orderBy("source")
  }

  /** Document fingerprinting: 64-bit content fingerprint (hex) + canonical
    * doc per fingerprint group (min doc_id) + duplicate flag. The window-min
    * is per-fingerprint, i.e. shuffles on the fingerprint — skew-free. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("fp")
    docs
      .withColumn("fp", expr("substr(md5(text), 1, 16)"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .select("doc_id", "fp", "canonical_id", "is_dup")
      .orderBy("doc_id")
  }

  /** Exact dedup summary (hash-groupBy over full text digest). */
  def exactDedupStats(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("docs"),
      countDistinct(md5(col("text"))).as("distinct_docs"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("dups_removed"))

  /** Exact dedup, keep-first policy: retain the lowest doc_id per digest
    * group (one shuffle on the digest; the survivor set is what a training
    * pipeline feeds downstream). */
  def dedupKeepFirst(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
    docs.withColumn("__canon", min(col("doc_id")).over(w))
      .where(col("doc_id") === col("__canon"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Deterministic train/valid/test split by content hash: bucket =
    * first 16 bits of md5(doc_id:text) mod 100, so the assignment is stable
    * under reshuffling, re-partitioning, and re-runs — the property a
    * training pipeline needs so examples never migrate across splits between
    * snapshots. Pure column arithmetic (no RNG, no UDF), embarrassingly
    * parallel at any scale. */
  /** Appends (bucket, split) to any frame with doc_id + text. */
  def hashSplitAssign(df: DataFrame, trainPct: Int = 80, validPct: Int = 10)
      : DataFrame = {
    require(trainPct + validPct < 100, "train+valid must leave room for test")
    df
      .withColumn("bucket", expr(
        "CAST(CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', text)), 1, 4), 16, 10) AS INT) % 100 AS INT)"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + validPct, "valid")
          .otherwise("test"))
  }

  def hashSplit(docs: DataFrame, trainPct: Int = 80, validPct: Int = 10)
      : DataFrame =
    hashSplitAssign(docs, trainPct, validPct)
      .select("doc_id", "source", "bucket", "split")
      .orderBy("doc_id")

  /** DATA MIXING by per-source sampling weights — the "upsample Wikipedia,
    * downsample Common Crawl" step of assembling a training mix. Each doc
    * draws a DETERMINISTIC uniform from its content hash (md5 → first 8 hex
    * digits → u ∈ [0, 2³²)) and is kept iff u < weight(source)·2³² — so the
    * kept set is reproducible across runs, engines, and repartitioning (no
    * RNG state, no per-partition seeds), and the realized rate converges to
    * the weight per source. Weights > 1 are clamped at keep-all (integer
    * repetition belongs to the epoch scheduler, not the filter).
    *
    * Map-only: one codegen'd hash + broadcast-sized weight lookup per row —
    * the exact shape that runs at 100 TB (no shuffle at all until the
    * caller's sink). */
  def weightedSample(docs: DataFrame,
      weights: Map[String, Double]): DataFrame = {
    val wCol = weights.foldLeft(lit(1.0)) { case (acc, (src, w)) =>
      when(col("source") === src, lit(math.min(w, 1.0))).otherwise(acc)
    }
    docs
      .withColumn("u", expr(
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', text)), " +
          "1, 8), 16, 10) AS BIGINT)"))
      .withColumn("keep_w", wCol)
      .where(col("u") < col("keep_w") * lit(4294967296.0))
      .select("doc_id", "source", "u")
      .orderBy("doc_id")
  }

  /** TOKEN-BUDGET sampling — fill each source's slice of a training mixture
    * up to `tokenBudget` tokens, taking documents in content-hash order
    * (the same portable md5-prefix draw as [[weightedSample]], so the
    * sample is reshuffle-stable and engine-replayable; hash order ≡ a
    * uniform random permutation). A doc is kept while the tokens consumed
    * BEFORE it are still under budget, so every source fills to the first
    * doc that crosses the line — the "N tokens per source" recipe a mixture
    * spec actually states (vs [[weightedSample]]'s keep-RATE form).
    *
    * Scale shape: the per-source prefix sum rides
    * [[Ranking.groupedPrefixSum]] — quantile range buckets, per-(source,
    * bucket) subtotals, partitioned windows — never a one-partition-per-
    * source window, so a source with billions of docs still spreads. */
  def budgetSample(docs: DataFrame, tokenBudget: Long): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    val t = docs
      .withColumn("u", expr(
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', text)), " +
          "1, 8), 16, 10) AS BIGINT)"))
      .withColumn("n_tok", size(tokens("text")).cast("bigint"))
      .select("doc_id", "source", "u", "n_tok")
    Ranking.groupedPrefixSum(t, col("source"), col("u"), col("doc_id"),
        col("n_tok"), outCol = "cum_before")
      .where(col("cum_before") < tokenBudget)
      .select("doc_id", "source", "n_tok", "cum_before")
      .orderBy("doc_id")
  }

  /** TEMPERATURE-WEIGHTED MIXTURE — per-source sampling plan with
    * α-smoothed multinomial weights, the multilingual/multi-source rebalance
    * recipe (weights ∝ share^α: α = 1 keeps natural proportions, α → 0
    * approaches uniform; the XLM-R / multilingual-LM upsampling scheme). For
    * each source: w_s = (n_s / N)^α, q_s = w_s / Σw, a document budget
    * `budgetDocs` allocates t_s = q_s · budget, and the keep RATE
    * r_s = min(1, t_s / n_s) drives the same content-hash uniform draw as
    * [[weightedSample]] — so the realized sample is deterministic,
    * reshuffle-stable, and engine-replayable.
    *
    * Cross-engine float discipline: Σw re-quantizes each w_s through
    * DECIMAL(27,12) (canonical shortest-string cast) so the 20-source sum
    * is evaluation-order-exact — scale 12 keeps the sum's integer units
    * under 2^53, where decimal→double conversion is exact in every engine
    * (scale 18 double-rounds in DuckDB); every later step is pointwise
    * double arithmetic both engines share bit-for-bit.
    *
    * Scale shape: one hash-aggregate over the corpus (per-source counts),
    * a source-count-sized weight table broadcast back onto the scan, one
    * map-side filter for the draw, one final per-source aggregate. No
    * data-sized shuffle beyond the two groupBys; the weight table is
    * O(sources). */
  def temperatureMix(docs: DataFrame, alpha: Double,
      budgetDocs: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(budgetDocs > 0, "budgetDocs must be positive")
    val perSrc = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val total = perSrc.agg(sum("n_docs").as("n_total"))
    val weighted = perSrc.crossJoin(broadcast(total))
      .withColumn("raw_share",
        col("n_docs").cast("double") / col("n_total").cast("double"))
      // α = 0.5 rides IEEE-correctly-rounded sqrt (bit-identical across
      // engines); other α use pow, whose last ulp is libm-specific — fine
      // for production, but only the sqrt path is oracle-replayable
      .withColumn("w",
        if (alpha == 0.5) sqrt(col("raw_share"))
        else pow(col("raw_share"), lit(alpha)))
    val wSum = weighted.agg(
      sum(expr("CAST(CAST(w AS STRING) AS DECIMAL(27,12))"))
        .cast("double").as("w_sum"))
    val plan0 = weighted.crossJoin(broadcast(wSum))
      .withColumn("alpha_share", col("w") / col("w_sum"))
      .withColumn("keep_rate", least(lit(1.0),
        col("alpha_share") * lit(budgetDocs.toDouble) /
          col("n_docs").cast("double")))
      .select("source", "n_docs", "raw_share", "alpha_share", "keep_rate")
    val drawn = docs
      .withColumn("u", expr(
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', text)), " +
          "1, 8), 16, 10) AS BIGINT)"))
      .join(broadcast(plan0.select("source", "keep_rate")), Seq("source"))
      .where(col("u") < col("keep_rate") * lit(4294967296.0))
      .groupBy("source").agg(count(lit(1)).as("kept_docs"))
    plan0.join(broadcast(drawn), Seq("source"), "left")
      .withColumn("kept_docs", coalesce(col("kept_docs"), lit(0L)))
      .orderBy("source")
  }

  /** STRATIFIED SAMPLE — exactly `k` documents per (lang, source) stratum,
    * taken in content-hash order (the [[weightedSample]] md5 draw: hash
    * order ≡ a uniform permutation, reshuffle-stable and engine-replayable).
    * The eval-set builder's recipe: "n examples per language × source cell",
    * exact cell counts guaranteed, unlike rate-based sampling.
    *
    * Scale shape: the row_number-over-(hash, id) ≤ k pattern is rewritten
    * by [[graft.plans.TopKRewrite]] into the [[graft.plans.GroupedTopK]]
    * bounded-heap operator — partial per-partition heaps, ≤ k rows per
    * stratum shuffled, never a full per-stratum sort. */
  def stratifiedSample(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("sample_hash").asc, col("doc_id").asc)
    docs
      .withColumn("sample_hash",
        md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))))
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
      .select(col("doc_id"), col("lang"), col("source"), col("sample_hash"),
        col("sample_rank").cast("int"))
      .orderBy("lang", "source", "sample_rank")
  }

  /** Repetition signals (the Gopher/C4-style quality rules): fraction of
    * tokens taken by the most frequent token, fraction of bigrams taken by
    * the most frequent bigram, and the duplicate-bigram fraction
    * (1 − distinct/total). High values flag boilerplate and degenerate
    * repetition. Explode → count → per-doc aggregate: fully distributed,
    * no per-doc arrays held in memory. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens("text")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        (max(col("c")).cast("double") / sum(col("c"))).as("top_token_frac"))
    val bigrams = docs.select(col("doc_id"),
        explode(expr(
          """CASE WHEN size(split(text, ' ')) < 2 THEN array()
            |ELSE transform(sequence(1, size(split(text, ' ')) - 1),
            |  i -> concat_ws(' ', slice(split(text, ' '), i, 2))) END"""
            .stripMargin)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        (max(col("c")).cast("double") / sum(col("c"))).as("top_bigram_frac"),
        (lit(1.0) - count(lit(1)).cast("double") / sum(col("c")))
          .as("dup_bigram_frac"))
    toks.join(bigrams, Seq("doc_id"), "left")
      .orderBy("doc_id")
  }

  /** Deterministic sampling with EXACT per-group quotas: keep the n docs
    * per `groupCol` that sort first by content hash — an unbiased,
    * reshuffle-stable sample with hard size guarantees (rand()-based
    * sampling gives neither). Runs on the GroupedTopK heap operator:
    * map-side bounded heaps, ≤ n rows per group shuffled. */
  def sampleQuota(docs: DataFrame, groupCol: String, n: Int): DataFrame =
    graft.plans.GroupedTopK.topK(
        docs.select(col("doc_id"), col(groupCol),
          md5(concat(col("doc_id").cast("string"), lit(":"), col("text")))
            .as("h")),
        Seq(col(groupCol)), Seq(col("h").asc, col("doc_id").asc), n)
      .select(col("doc_id"), col(groupCol), col("h"), col("rank"))
      .orderBy(groupCol, "rank")

  /** The composed corpus pipeline — the shape a pre-training data build
    * actually runs: quality gate → exact dedup (keep first) → deterministic
    * split → per-(split, lang) doc and token budget. Every stage is one of
    * the operators above; the whole thing stays one declarative plan (two
    * window/agg shuffles), no driver loops. */
  def pipelineSummary(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    val q = qualityScore(docs).select(col("doc_id"), col("quality_score"))
    val kept = docs.join(q, "doc_id")
      .where(col("quality_score") >= minQuality)
    val w = Window.partitionBy(md5(col("text")))
    val deduped = kept.withColumn("__canon", min(col("doc_id")).over(w))
      .where(col("doc_id") === col("__canon"))
    hashSplitAssign(deduped)
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("docs"),
        sum(size(split(col("text"), " "))).cast("bigint").as("tokens"))
      .orderBy("split", "lang")
  }

  /** Unigram RARITY scoring — the CCNet-style corpus-statistics quality
    * filter: score every document by how common its tokens are in the whole
    * corpus. Docs full of rare junk score low on `mean_tok_freq`; the
    * rarest token (`min_tok_freq`) flags one-off noise. A perplexity filter
    * would take the log of these frequencies, but ln() is not bit-specified
    * across engines — so the score stays in frequency space where every
    * step (long counts, IEEE division at the very end) is exactly
    * reproducible: sum/min over LONG counts per doc, divided once by
    * (corpus tokens × doc tokens).
    *
    * Scale shape: the token-count table is vocab-sized (shuffle keyed on
    * token, heavy hitters are fine — counts combine map-side); the doc-side
    * join shuffles tokens once, then one groupBy(doc_id). No broadcast of
    * corpus state, no driver collection. */
  def unigramRarity(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens("text")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    toks.join(counts, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("sum_c"),
        min(col("c")).as("min_c"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_c").cast("double") / col("n_total") / col("n_tokens"))
          .as("mean_tok_freq"),
        (col("min_c").cast("double") / col("n_total")).as("min_tok_freq"))
      .orderBy("doc_id")
  }

  /** Benchmark DECONTAMINATION: flag every corpus document that shares at
    * least one k-word shingle with a benchmark/eval set (the GPT-3-style
    * n-gram overlap check a training pipeline runs before a corpus ships).
    *
    * Scale shape: eval benchmarks are tiny relative to a 100 TB corpus, so
    * the benchmark's distinct hashed shingles BROADCAST (8 bytes each) and
    * the corpus side is one explode → broadcast semi-join → per-doc count —
    * a single shuffle on doc_id, no corpus-vs-corpus comparison anywhere.
    * Shingles ride as xxhash64 longs (`Dedup.hashedShingles`, codegen-free
    * one-pass expression); intersection counts are invariant under the
    * injective hash, so the string-shingle DuckDB oracle matches exactly. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, k: Int = 5)
      : DataFrame = {
    val benchGrams = bench
      .select(explode(Dedup.hashedShingles("text", k)).as("g")).distinct()
    val sh = corpus.select(col("doc_id"),
      Dedup.hashedShingles("text", k).as("sh"))
    val hits = sh.select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("hit_grams"))
    sh.select(col("doc_id"), size(col("sh")).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("hit_grams", coalesce(col("hit_grams"), lit(0L)))
      .withColumn("contaminated", col("hit_grams") > 0)
      .orderBy("doc_id")
  }

  /** MULTI-BENCHMARK decontamination ATTRIBUTION — [[decontaminate]]
    * against a SUITE of benchmarks at once, reporting WHICH benchmark each
    * contaminated doc leaks into (the eval-suite hygiene report: a doc
    * overlapping GSM-style set A but not set B gets dropped only from A's
    * eval runs). One labeled benchmark gram table (distinct per (label,
    * gram), broadcast once), ONE corpus gram pass, a (doc, label) rollup —
    * the whole suite costs one corpus scan, not one per benchmark. Output
    * long-format: only contaminated (doc_id, bench) pairs, with the doc's
    * gram count for contamination-rate math. */
  def decontaminateMulti(corpus: DataFrame, bench: DataFrame,
      labelCol: String, k: Int = 5): DataFrame = {
    val benchGrams = bench
      .select(col(labelCol).as("bench"),
        explode(Dedup.hashedShingles("text", k)).as("g"))
      .distinct()
    val sh = corpus.select(col("doc_id"),
      Dedup.hashedShingles("text", k).as("sh"))
    sh.select(col("doc_id"), size(col("sh")).as("n_grams"),
        explode(col("sh")).as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy("doc_id", "bench", "n_grams")
      .agg(count(lit(1)).as("hit_grams"))
      .select("doc_id", "bench", "n_grams", "hit_grams")
      .orderBy("doc_id", "bench")
  }

  /** BLOOM-PREFILTERED decontamination — bit-identical OUTPUT to
    * [[decontaminate]], the 100 TB economics: the benchmark's gram set
    * folds into ONE Bloom filter (`bloom_filter_agg`, ~1.2 bytes/gram at
    * 1% fpp vs 8 bytes/gram for the exact IN-set), every corpus doc runs a
    * map-only `might_contain` scan over its grams, and only BLOOM-POSITIVE
    * docs (true hits + the fpp tail) enter the exact broadcast-join
    * verify. Bloom filters have NO false negatives, so the prefilter can
    * only admit extra candidates — the exact join then scores them, and a
    * false positive costs a few join rows, never a wrong answer. For a
    * billion-doc corpus against a million-gram benchmark suite this turns
    * the dominant cost into a codegen'd scan that never shuffles the ~99%
    * clean tail. */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame, k: Int = 5,
      expectedGrams: Long = 1000000L): DataFrame = {
    require(expectedGrams > 0, "expectedGrams must be positive")
    import org.apache.spark.sql.graftshim.SparkShim
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val benchGrams = bench
      .select(explode(Dedup.hashedShingles("text", k)).as("g")).distinct()
    // the filter itself is one bounded binary (~1.2 bits/gram/% fpp) —
    // collected once like the IN-list/centroid artifacts and embedded as a
    // literal, exactly how Spark's own runtime row-group filters carry it
    val bloomAgg = SparkShim.column(
      new BloomFilterAggregate(SparkShim.expression(col("g")),
        SparkShim.expression(lit(expectedGrams))).toAggregateExpression())
    val bloomBytes = benchGrams.agg(bloomAgg.as("bf"))
      .collect()(0).getAs[Array[Byte]]("bf")
    def mightContain(x: Column): Column = SparkShim.column(
      new BloomFilterMightContain(SparkShim.expression(lit(bloomBytes)),
        SparkShim.expression(x)))
    val sh = corpus.select(col("doc_id"),
      Dedup.hashedShingles("text", k).as("sh"))
    val cand = sh
      .where(exists(col("sh"), mightContain))
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val hits = cand.join(broadcast(benchGrams), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("hit_grams"))
    sh.select(col("doc_id"), size(col("sh")).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("hit_grams", coalesce(col("hit_grams"), lit(0L)))
      .withColumn("contaminated", col("hit_grams") > 0)
      .orderBy("doc_id")
  }

  /** BM25 keyword search — score every document against a bag of query
    * terms and return the top-k. The classic ranking function, kept
    * LOG-FREE so every arithmetic step is bit-reproducible across engines
    * (ln() is not bit-specified; see unigramRarity): the idf factor is the
    * Robertson-Sparck-Jones ratio (N − df + 0.5)/(df + 0.5) without the
    * log — a monotone transform, so top-k membership per term is unchanged
    * and the composite stays a deterministic IEEE expression.
    *
    * Scale shape: corpus statistics (N, avgdl, per-term df) are ONE
    * partial-aggregated pass collapsing to a single broadcast row; scoring
    * is a map-only pass (tf via codegen'd filter/size — queries are a
    * handful of terms, so per-row cost is bounded); top-k is
    * TakeOrderedAndProject (no full sort, no shuffle of non-winners).
    * Constants (2.2, 1.2, 0.25, 0.75) are written as decimal literals on
    * both engines so they parse to identical doubles. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9]+")),
      "query terms must be non-empty alphanumeric words")
    val tfCols = terms.map { t =>
      expr(s"size(filter(split(text, ' '), x -> x = '$t'))").as(s"tf_$t")
    }
    val base = docs.select(
      col("doc_id") +: size(tokens("text")).as("dl") +: tfCols: _*)
    val statAggs =
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
        terms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1).otherwise(0)).as(s"df_$t"))
    val stats = base.agg(count(lit(1)).as("n_docs"), statAggs: _*)
    val scored = base.crossJoin(broadcast(stats))
    // per-term BM25 with k1 = 1.2, b = 0.75; summed left-to-right
    val score = terms.map { t =>
      ((col("n_docs") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5))) *
        ((col(s"tf_$t") * lit(2.2)) /
          (col(s"tf_$t") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
    }.reduce(_ + _)
    scored
      .select(col("doc_id") +: col("dl") +: terms.map(t => col(s"tf_$t"))
        :+ score.as("score"): _*)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Bigram language-model quality score — the CCNet/Gopher-style
    * perplexity filter a training pipeline runs to rank documents by
    * fluency under a reference LM. The model is the corpus's own MLE
    * bigram model (p(w₂|w₁) = c(w₁w₂)/c(w₁·), every numerator ≥ 1 by
    * construction, so no smoothing is needed to score the training corpus
    * itself); the score is the mean surprisal −(1/n)·Σ ln p — i.e.
    * log-perplexity; LOWER = more predictable/boilerplate, HIGHER = more
    * novel/noisy.
    *
    * Cross-engine exactness: ln() is evaluated on identical IEEE inputs
    * (exact integer-count ratios) and empirically bit-matches across
    * JVM/libm, but nothing in this plan depends on that being universal —
    * each surprisal is captured as DECIMAL(38,18) (one canonical
    * shortest-string quantization; the oracle takes the VARCHAR hop), the
    * per-doc sum is decimal = aggregation-ORDER-independent, and the final
    * round(…, 6) absorbs anything below micro-precision.
    *
    * Scale shape: bigram extraction is a map-only pass; the model (c2, c1)
    * is two hash aggregations; scoring re-joins the bigram stream to its
    * own counts — work ∝ corpus tokens throughout, no collect, no
    * all-pairs anything. At 100 TB the c2 table is large but
    * hash-partitioned on (w1,w2); the scoring join shuffles on the same
    * keys Catalyst already aggregated on. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    // same size < 2 guard as domainSelect: sequence(0, -1) descends
    val bg = docs.select(col("doc_id"), tokens("text").as("w"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(w) < 2
          |THEN CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
          |ELSE transform(sequence(0, size(w) - 2),
          |  i -> struct(w[i] AS w1, w[i+1] AS w2)) END""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // NOT pre-aggregated to (doc, w1, w2, cnt) before the checkpoint:
      // measured at sf0.1 the within-doc bigram repetition of natural text
      // is ≈ 0 (every (doc, bigram) is distinct), so the "combine before
      // shuffle" pre-agg added a full extra exchange of the occurrence
      // stream while shrinking nothing — warm wall regressed ~1.5× (r17,
      // guide §1 measure-first). Revisit only for corpora with real
      // within-doc repetition.
      .localCheckpoint() // feeds model build AND scoring join
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("surprisal",
        -log(col("c2").cast("double") / col("c1").cast("double")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("surprisal").cast("decimal(38,18)")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s").cast("double") / col("n_bigrams"), 6).as("lm_score"))
      .orderBy("doc_id")
  }

  /** DSIR — DATA SELECTION VIA IMPORTANCE RESAMPLING (Xie et al., NeurIPS
    * 2023; extends [[domainSelect]]'s Moore-Lewis scoring from a filter to
    * the paper's SAMPLER): documents are drawn with probability ∝ the
    * target/raw likelihood ratio under HASHED n-gram feature models, so
    * the selected set matches the seed domain's feature DISTRIBUTION
    * instead of greedily taking the top scores (top-k overselects the
    * mode; importance resampling keeps the tails in proportion).
    *
    *  1. Features: word bigrams hashed into `buckets` slots (the paper's
    *     hashed n-grams — bounded model size regardless of vocabulary; the
    *     portable md5-prefix hash, so the oracle replays it).
    *  2. Models: add-one-smoothed bucket unigram models over the seed
    *     slice (target) and the whole corpus (raw) — two hash-agg count
    *     tables of `buckets` rows.
    *  3. Importance weight: log w(doc) = Σ_f count_doc(f) · (ln p̂_t(f) −
    *     ln p̂_r(f)) — per-term DECIMAL(38,18) capture, final round 6
    *     (the t14/t34 cross-engine discipline).
    *  4. Resampling: Gumbel-top-k (the paper's sampler — top-k by
    *     log w + g, g = −ln(−ln u) with u the content-hash draw of
    *     [[weightedSample]], so the "randomness" is reshuffle-stable and
    *     engine-replayable), filled to `tokenBudget` by the same
    *     distributed prefix-sum machinery as [[budgetSample]] — never a
    *     single-partition global window.
    *
    * Scale shape: one bigram stream → two bucket-count hash-aggs
    * (buckets-row model tables, broadcast back); per-doc weights are one
    * more hash-agg over (doc, bucket); the budget fill rides
    * [[Ranking.groupedPrefixSum]]. Work ∝ corpus tokens. */
  def dsirResample(docs: DataFrame, tokenBudget: Long,
      seedSource: String = "src0", buckets: Int = 1024): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    val bg = docs.select(col("doc_id"), col("source"), tokens("text").as("w"))
      .select(col("doc_id"), col("source"), explode(expr(
        """CASE WHEN size(w) < 2
          |THEN CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
          |ELSE transform(sequence(0, size(w) - 2),
          |  i -> struct(w[i] AS w1, w[i+1] AS w2)) END""".stripMargin))
        .as("b"))
      // Md5Halves.hi ≡ CAST(conv(substr(md5(…), 1, 8), 16, 10) AS BIGINT)
      // bit-for-bit (OpsSpec pins it): one digest per bigram occurrence,
      // no 32-char hex encode / substring / radix parse in the hot map
      .select(col("doc_id"), col("source"),
        (graft.functions.Md5Halves.md5Halves(
          concat(col("b.w1"), lit(" "), col("b.w2")))("hi") % buckets)
          .as("bkt"))
      .localCheckpoint() // feeds both models AND the weights
    val cT = bg.where(col("source") === seedSource)
      .groupBy("bkt").agg(count(lit(1)).as("ct"))
    val nT = bg.where(col("source") === seedSource)
      .agg(count(lit(1)).as("nt"))
    val cR = bg.groupBy("bkt").agg(count(lit(1)).as("cr"))
    val nR = bg.agg(count(lit(1)).as("nr"))
    val perDoc = bg.groupBy("doc_id", "bkt").agg(count(lit(1)).as("cnt"))
      .join(cR, Seq("bkt")) // every doc bucket exists in the raw model
      .join(cT, Seq("bkt"), "left")
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nR))
      .withColumn("term", (col("cnt") *
        (log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            (col("nt") + buckets).cast("double")) -
          log((col("cr") + 1).cast("double") /
            (col("nr") + buckets).cast("double"))))
        .cast("decimal(38,18)"))
      .groupBy("doc_id")
      .agg(round(sum(col("term")).cast("double"), 6).as("logratio"))
    val scored = docs.select(col("doc_id"), col("source"),
        size(tokens("text")).cast("bigint").as("n_tok"),
        expr("CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', " +
          "text)), 1, 8), 16, 10) AS BIGINT)").as("u"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("logratio", coalesce(col("logratio"), lit(0.0d)))
      // Gumbel-top-k: gkey = log w − ln(−ln u01); u01 ∈ (0,1) exactly
      // representable (u + 0.5 halves never round in binary64 / 2^32)
      .withColumn("gkey", round(col("logratio") -
        log(-log((col("u") + lit(0.5d)) / lit(4294967296.0d))), 6))
    Ranking.groupedPrefixSum(scored, lit(1), -col("gkey"), col("doc_id"),
        col("n_tok"), outCol = "cum_before")
      .where(col("cum_before") < tokenBudget)
      .select("doc_id", "source", "n_tok", "logratio", "gkey", "cum_before")
      .orderBy("doc_id")
  }

  /** MOORE-LEWIS DOMAIN SELECTION (cross-entropy difference; Moore & Lewis,
    * ACL 2010): score every document by H_in(doc) − H_gen(doc) — its mean
    * surprisal under an IN-DOMAIN bigram LM (trained on the `seedSource`
    * slice) minus under the GENERAL LM (trained on the whole corpus). The
    * most NEGATIVE scores are the general-corpus documents most like the
    * seed domain — the classic "find me more data like this seed set"
    * selector a pre-training mix builds domain slices with. Both models
    * are add-one-smoothed MLE bigram LMs (the in-domain model must score
    * bigrams it never saw); V = distinct successor types + 1 (OOV slot).
    *
    * Same cross-engine discipline as [[bigramLmScore]]: per-bigram terms
    * ride ln() on exact integer-ratio doubles, quantize to DECIMAL(38,18)
    * (order-independent sums), final round(…, 6).
    *
    * Scale shape: one bigram stream feeds four hash aggregations (counts ×
    * {seed, all}); scoring left-joins the stream to the seed counts and
    * inner-joins the general counts on the SAME (w1, w2)/(w1) keys the
    * aggregations partitioned on; the two vocabulary sizes broadcast as
    * 1-row frames. Work ∝ corpus tokens, no collect, no all-pairs. */
  def domainSelect(docs: DataFrame, seedSource: String = "src0")
      : DataFrame = {
    // size < 2 guard: Spark's sequence(0, -1) DESCENDS, which would emit
    // bogus (w, null)/(null, w) bigrams for sub-2-token docs and skew the
    // count tables (the DuckDB slice idiom emits nothing there)
    val bg = docs.select(col("doc_id"), col("source"), tokens("text").as("w"))
      .select(col("doc_id"), col("source"), explode(expr(
        """CASE WHEN size(w) < 2
          |THEN CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
          |ELSE transform(sequence(0, size(w) - 2),
          |  i -> struct(w[i] AS w1, w[i+1] AS w2)) END""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("source"), col("b.w1").as("w1"),
        col("b.w2").as("w2"))
      // NOT pre-aggregated to (doc, w1, w2, cnt): within-doc bigram
      // repetition is ≈ 0 on natural text, so the pre-agg was a full extra
      // exchange that shrank nothing (measured ~1.5× warm regression at
      // sf0.1 — r17, guide §1 measure-first; see bigramLmScore)
      .localCheckpoint() // feeds both models AND scoring
    val seed = bg.where(col("source") === seedSource)
    val c2i = seed.groupBy("w1", "w2").agg(count(lit(1)).as("c2i"))
    val c1i = seed.groupBy("w1").agg(count(lit(1)).as("c1i"))
    val vi = seed.agg((countDistinct(col("w2")) + 1).as("vi"))
    val c2g = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2g"))
    val c1g = bg.groupBy("w1").agg(count(lit(1)).as("c1g"))
    val vg = bg.agg((countDistinct(col("w2")) + 1).as("vg"))
    bg
      .join(c2g, Seq("w1", "w2"))
      .join(c1g, Seq("w1"))
      .join(c2i, Seq("w1", "w2"), "left")
      .join(c1i, Seq("w1"), "left")
      .crossJoin(broadcast(vi))
      .crossJoin(broadcast(vg))
      .withColumn("s",
        (log((col("c2g") + 1).cast("double") /
            (col("c1g") + col("vg")).cast("double")) -
          log((coalesce(col("c2i"), lit(0L)) + 1).cast("double") /
            (coalesce(col("c1i"), lit(0L)) + col("vi")).cast("double")))
          .cast("decimal(38,18)"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("s")).cast("double") / count(lit(1)), 6).as("ce_diff"))
      .orderBy("doc_id")
  }

  /** HELD-OUT PERPLEXITY — the eval-hygiene variant of [[bigramLmScore]]:
    * the bigram LM is estimated on the t07 TRAIN split only and scored on
    * the VALID split it never saw, per source — the honest
    * cross-entropy a pipeline reports (scoring the training corpus with
    * its own MLE model, as t14 deliberately does for ranking, understates
    * novelty). Held-out bigrams can be unseen, so the model is add-one
    * smoothed over the train successor vocabulary + 1 (the
    * [[domainSelect]] estimator): p(w₂|w₁) = (c₂+1)/(c₁+V), finite for
    * any input including unseen w₁.
    *
    * Scale shape: one bigram stream feeds both the model build (two hash
    * aggs over the train rows) and the scoring join (valid rows, LEFT
    * join on the same (w1, w2)/(w1) keys); the vocabulary size broadcasts
    * as a 1-row frame. Surprisals quantize to DECIMAL(38,18), per-source
    * sums are order-independent, and the mean rounds at 1e-6 — the t14
    * replay discipline. Output is source-count-sized. */
  def heldOutPerplexity(docs: DataFrame, trainPct: Int = 80,
      validPct: Int = 10): DataFrame = {
    val bg = hashSplitAssign(docs, trainPct, validPct)
      .select(col("doc_id"), col("source"), col("split"),
        tokens("text").as("w"))
      .select(col("doc_id"), col("source"), col("split"), explode(expr(
        """CASE WHEN size(w) < 2
          |THEN CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
          |ELSE transform(sequence(0, size(w) - 2),
          |  i -> struct(w[i] AS w1, w[i+1] AS w2)) END""".stripMargin))
        .as("b"))
      .select(col("source"), col("split"), col("b.w1").as("w1"),
        col("b.w2").as("w2"))
      // NOT pre-aggregated to (source, split, w1, w2, cnt): within-doc
      // bigram repetition is ≈ 0 on natural text, so the pre-agg was a
      // full extra exchange that shrank nothing (measured warm regression
      // at sf0.1 — r17, guide §1 measure-first; see bigramLmScore)
      .localCheckpoint() // feeds the model AND the scoring join
    val train = bg.where(col("split") === "train")
    val c2 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = train.agg((countDistinct(col("w2")) + 1).as("v"))
    bg.where(col("split") === "valid")
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("s",
        -log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")))
      .withColumn("sd", col("s").cast("decimal(38,18)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("unseen_bigrams"),
        round(sum(col("sd")).cast("double") / count(lit(1)), 6)
          .as("heldout_ce"))
      .orderBy("source")
  }

  /** PROBE CALIBRATION — the threshold sweep that turns the trained
    * [[linearProbe]] into an operating filter: for each candidate cutoff
    * τ, how many documents the filter keeps (pred ≥ τ), and its
    * precision/recall against the rule-based "good" label (y ≥ 1.0 — the
    * full-length, decent-uniqueness band of the t02 score). The report a
    * pipeline reads to pick its keep threshold.
    *
    * All counts are exact integers (no float accumulation at all — the
    * per-row predicate compares identical IEEE doubles on both engines,
    * thresholds are binary-exact literals), and precision/recall are
    * single integer-ratio divisions. One map-only scoring pass over the
    * checkpointed features crossed with the threshold-count-sized frame —
    * work ∝ corpus × |thresholds|, output |thresholds| rows. */
  def probeCalibration(docs: DataFrame, iters: Int = 3, lr: Double = 0.5,
      thresholds: Seq[Double] = Seq(0.5, 0.75, 1.0, 1.25)): DataFrame = {
    val feat = probeFeatures(docs)
    val last = probeRounds(feat, iters, lr).last
    val w = Array(last._2, last._3, last._4, last._5)
    val spark = docs.sparkSession
    import spark.implicits._
    val th = thresholds.toDF("threshold")
    feat
      .select(probePred(w).as("pred"),
        (col("y") >= lit(1.0)).cast("long").as("good"))
      .crossJoin(broadcast(th))
      .groupBy("threshold")
      .agg(
        sum((col("pred") >= col("threshold")).cast("long")).as("n_kept"),
        sum(((col("pred") >= col("threshold")) && col("good") === 1L)
          .cast("long")).as("n_good_kept"),
        sum(col("good")).as("n_good"))
      .withColumn("precision",
        when(col("n_kept") > 0,
          col("n_good_kept").cast("double") / col("n_kept").cast("double")))
      .withColumn("recall",
        when(col("n_good") > 0,
          col("n_good_kept").cast("double") / col("n_good").cast("double")))
      .orderBy("threshold")
  }

  /** Per-source CORPUS HEALTH report — the one-page summary a corpus build
    * publishes before training: document counts, the fraction tripping the
    * Gopher repetition filters ([[repetitionSignals]]), mean repetition
    * coverages, and the mean Moore-Lewis cross-entropy difference vs the
    * seed domain ([[domainSelect]]). Pure composition of the two gated
    * per-doc operators; the means ride DECIMAL(27,6)-quantized sums so the
    * 4-row result is aggregation-order-independent (bit-exact replayable).
    * Report-sized output by construction — REST-safe (`/reports`). */
  def corpusHealth(docs: DataFrame): DataFrame = {
    val rep = repetitionSignals(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val dom = domainSelect(docs).select(col("doc_id"), col("ce_diff"))
    def decSum(c: String) =
      sum(col(c).cast("decimal(27,6)")).cast("double")
    rep.join(dom, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("repetitive"), 1L).otherwise(0L)).as("n_repetitive"),
        (sum(when(col("repetitive"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("repetitive_frac"),
        (decSum("top_char_frac") / count(lit(1))).as("mean_top_char_frac"),
        (decSum("dup_char_frac") / count(lit(1))).as("mean_dup_char_frac"),
        (decSum("ce_diff") / count(col("ce_diff"))).as("mean_ce_diff"))
      .orderBy("source")
  }

  /** CURRICULUM difficulty buckets — equi-depth quartiles of the bigram-LM
    * surprisal score ([[bigramLmScore]]): the "order training data easy →
    * hard" binning a curriculum-learning schedule samples from, with the
    * per-bucket token (bigram) budget a mixture planner needs. Tiling rides
    * [[Ranking.equiDepthTiles]] — the two-phase distributed rank, never a
    * single-partition global window; range buckets from the partitioner's
    * sampled quantiles keep the tiling balanced even when many documents
    * share one score. */
  def difficultyBuckets(docs: DataFrame, tiles: Int = 4): DataFrame =
    Ranking.equiDepthTiles(bigramLmScore(docs), col("lm_score"),
        col("doc_id"), tiles)
      .groupBy(col("tile").as("difficulty"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("lm_score")).as("lo"),
        max(col("lm_score")).as("hi"),
        sum(col("n_bigrams")).as("bigram_budget"))
      .orderBy("difficulty")

  /** Context-window CHUNKING — split every document into `window`-token
    * chunks advancing by `stride` tokens (stride < window ⇒ overlap), the
    * "pack the corpus into training context windows" step of an LLM data
    * pipeline. The final chunk may be short; every token lands in ≥ 1
    * chunk. Pure Catalyst (sequence/transform/slice/array_join) — a
    * map-only, explode-bounded pass; no shuffle until the caller's sink. */
  def chunkWindows(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    docs.select(col("doc_id"), tokens("text").as("w"))
      .withColumn("n", size(col("w")))
      // chunks 0..ceil((n−window)/stride) — exact: small-int operands make
      // the double division correctly rounded, so no ulp hazard here
      .withColumn("chunk", explode(expr(
        s"transform(sequence(0, greatest(0, cast(ceil((n - $window) / " +
          s"cast($stride as double)) as int))), " +
          s"i -> struct(i as idx, " +
          s"array_join(slice(w, i * $stride + 1, $window), ' ') as text))")))
      .select(col("doc_id"), col("chunk.idx").as("chunk_idx"),
        col("chunk.text").as("chunk_text"))
      .withColumn("n_tokens", size(split(col("chunk_text"), " ")))
      .orderBy("doc_id", "chunk_idx")
  }

  /** GPT-style sequence-PACKING layout: concatenate the corpus in doc_id
    * order and split it into fixed `seqLen`-token training sequences. Each
    * document gets its global token offset, owning sequence id, in-sequence
    * offset, and the number of sequences it spans (a doc straddling a
    * boundary contributes to several — the standard concat-then-chunk
    * packing, no padding waste).
    *
    * The global running sum is computed as a DISTRIBUTED PREFIX SUM — never
    * a single-partition global window: phase 1 aggregates per-range-bucket
    * token subtotals (bucket = doc_id DIV `bucketWidth`, order-preserving);
    * phase 2 turns the n/width bucket totals into cumulative bucket offsets
    * (the only unpartitioned window, bounded by construction — width ≈ √n
    * keeps both phases at √n rows, and a third level extends the recursion
    * if ever needed); phase 3 is a bucket-partitioned within-bucket window
    * plus a broadcast join of the bucket offsets. */
  def packOffsets(docs: DataFrame, seqLen: Int,
      bucketWidth: Int = 1024): DataFrame = {
    require(seqLen > 0 && bucketWidth > 0, "need positive seqLen/bucketWidth")
    val t = docs.select(col("doc_id"),
        size(tokens("text")).cast("bigint").as("n_tok"))
      .withColumn("bucket", expr(s"doc_id DIV $bucketWidth"))
    val bucketOffsets = t.groupBy("bucket").agg(sum("n_tok").as("bt"))
      .withColumn("boff", coalesce(sum("bt").over(Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "boff")
    t.withColumn("woff", coalesce(sum("n_tok").over(
        Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(bucketOffsets), "bucket")
      .withColumn("tok_offset", col("boff") + col("woff"))
      .withColumn("seq_id", expr(s"tok_offset DIV $seqLen"))
      .withColumn("seq_offset", expr(s"tok_offset % $seqLen"))
      // n_tok ≥ 1 (split of a non-empty string), so the last-token index
      // tok_offset + n_tok − 1 is well-defined
      .withColumn("n_seqs",
        expr(s"(tok_offset + n_tok - 1) DIV $seqLen") - col("seq_id") + 1)
      .select("doc_id", "n_tok", "tok_offset", "seq_id", "seq_offset",
        "n_seqs")
      .orderBy("doc_id")
  }

  /** Bigram collocation mining: top-k adjacent-token pairs by LIFT —
    * p(w1,w2) / (p(w1)·p(w2)), the log-free PMI analog (exact integer
    * counts into one fixed-shape double expression, so Spark and the SQL
    * oracle agree bit-for-bit; taking log would only monotonically rescale
    * the ranking). Work: one map-side explode of n−1 bigrams per doc, two
    * hash aggregations (bigram + unigram counts), two shuffle joins keyed
    * on the words, one broadcast of the 1×1 totals frame, global top-k via
    * TakeOrderedAndProject. Nothing pairwise, nothing corpus-sized on the
    * driver. */
  def collocations(docs: DataFrame, k: Int = 20,
      minCount: Long = 5): DataFrame = {
    val toks = docs.select(tokens("text").as("w"))
    val uni = toks.select(explode(col("w")).as("wd"))
    val uc = uni.groupBy("wd").agg(count(lit(1)).as("c"))
    // zip_with of the two shifted slices: empty for 1-token docs (slice
    // length size−1 = 0), no CASE guard needed
    val bi = toks.select(explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, b) -> struct(a AS w1, b AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val totals = uni.agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(bi.agg(count(lit(1)).as("m_total"))))
    bc.join(uc.select(col("wd").as("w1"), col("c").as("c1")), "w1")
      .join(uc.select(col("wd").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .where(col("c_xy") >= minCount)
      // lift = (c_xy/M) / ((c1/N)(c2/N)) rearranged multiplication-first;
      // identical association order in the oracle SQL
      .withColumn("lift",
        (col("c_xy").cast("double") * col("n_total") * col("n_total")) /
          (col("m_total").cast("double") * col("c1") * col("c2")))
      .select("w1", "w2", "c_xy", "lift")
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** BPE MERGE INDUCTION — learn the first `rounds` byte-pair-encoding
    * merges of a tokenizer vocabulary from the corpus. Each round counts
    * adjacent symbol pairs across the word-type table (weighted by word
    * frequency), picks the most frequent pair (ties: lexicographic — a
    * total order, so the whole procedure is deterministic), and applies the
    * merge everywhere. Words are held as flanked symbol strings
    * `(t)(a)(b)(l)(e)` so a merge is ONE non-overlapping left-to-right
    * `replace` — exactly BPE's greedy application order, and exactly what
    * the SQL oracle replays with its own `replace` (unrolled per round,
    * like the s06 k-means oracle).
    *
    * Scale shape: state is the word-TYPE table (vocabulary-sized, not
    * corpus-sized) built by one shuffle over the corpus; each round is one
    * explode + hash-agg over it plus a driver-side argmax of ONE row (the
    * merge table is driver-sized by construction — same justification as
    * the k-means centroid collect). Real tokenizer training runs thousands
    * of rounds over exactly this state shape.
    *
    * Returns the learned merge table — (round, lhs, rhs, merged, count).
    * Driver-sized by construction (one row per round); a LEARNED artifact a
    * pipeline trains once and ships with the tokenizer, so callers memoize
    * it via [[graft.ops.IndexCache]]. */
  def bpeMergeTable(docs: DataFrame,
      rounds: Int): Seq[(Int, String, String, String, Long)] = {
    var cur = docs.select(explode(tokens("text")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .withColumn("s", expr(
        "concat_ws('', transform(filter(split(w, ''), c -> c <> ''), " +
          "c -> concat('(', c, ')')))"))
      .select("s", "n")
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val best = cur
        .withColumn("sy", expr("regexp_extract_all(s, '\\\\(([^)]*)\\\\)', 1)"))
        .select(col("n"), explode(expr(
          "zip_with(slice(sy, 1, size(sy) - 1), slice(sy, 2, size(sy) - 1), " +
            "(a, b) -> struct(a AS a, b AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, a + b, cnt))
        // LAZY checkpoint: next round's argmax is the one materialization
        // per round (it caches the blocks and truncates lineage there), so
        // plan depth stays O(1) in the round count — k=1000-scale vocab
        // induction never accumulates a replace-chain for Catalyst to
        // re-analyze — and the final round's table is never materialized
        // for nothing (its merges are already collected).
        // [[graft.OpsSpec]] gates a 64-round induction's wall time.
        cur = cur.withColumn("s",
            replace(col("s"), lit(s"($a)($b)"), lit(s"(${a + b})")))
          .localCheckpoint()
        r += 1
      }
    }
    merges.result()
  }

  /** TOKENIZE the corpus with a learned BPE merge table ([[bpeMergeTable]]):
    * apply the merges in training order to every word (the same flanked-
    * string replace as induction — greedy, non-overlapping) and emit the
    * per-document BPE token count, the "how many tokens is this corpus
    * under MY tokenizer" pass that budgets every training run. Map-only
    * over the corpus plus one doc_id regroup; the merge table rides as
    * literals (broadcast-free). */
  def applyBpe(docs: DataFrame,
      merges: Seq[(Int, String, String, String, Long)]): DataFrame = {
    val flanked = docs.select(col("doc_id"), explode(tokens("text")).as("w"))
      .withColumn("s", expr(
        "concat_ws('', transform(filter(split(w, ''), c -> c <> ''), " +
          "c -> concat('(', c, ')')))"))
    val applied = merges.foldLeft(flanked) { case (df, (_, a, b, m, _)) =>
      df.withColumn("s", replace(col("s"), lit(s"($a)($b)"), lit(s"($m)")))
    }
    applied
      .withColumn("k",
        expr("size(regexp_extract_all(s, '\\\\(([^)]*)\\\\)', 1))"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_bpe_tokens"), count(lit(1)).as("n_words"))
      .orderBy("doc_id")
  }

  /** TEXTRANK keyword extraction — PageRank over the token co-occurrence
    * graph (undirected, deduplicated adjacent-token edges), the
    * graph-centrality twin of the frequency profiles above: a token ranks
    * high when its NEIGHBORS rank high, not merely when it is frequent.
    * `iters` damped power-iteration rounds (d = 0.85) from a uniform start;
    * the fixed iteration count makes the whole procedure a deterministic
    * dataflow the SQL oracle replays round by round (the s06 k-means /
    * t19 BPE unrolling pattern).
    *
    * Cross-engine exactness: each neighbor contribution pr/deg is one
    * double division of identical operands; the PER-NODE neighbor sum —
    * the only place accumulation order varies — runs in DECIMAL(38,18)
    * (Spark's double→decimal cast is canonical-string quantization; the
    * oracle takes the VARCHAR hop), and the damping step
    * 0.15/N + 0.85·s is one fixed-shape double expression.
    *
    * Scale shape: nodes and edges are VOCABULARY-sized (distinct tokens,
    * distinct adjacent-token pairs), built by one corpus pass + hash aggs.
    * The graph is then collected and all rounds run on the driver with
    * Spark's own [[Decimal]], so every step equals Spark's operators:
    * `Decimal(pr / deg)` + `changePrecision(38, 18)` is the HALF_UP cast,
    * Decimal `+` is the exact DECIMAL(38,18) sum, `toDouble` the cast
    * back. Run as joins, each round would be a Spark job per join over a
    * graph this small: pure scheduling. The final rounding, order and
    * limit stay Spark expressions over the local result. */
  def textrankKeywords(docs: DataFrame, iters: Int = 3,
      k: Int = 20): DataFrame = {
    val bi = docs.select(tokens("text").as("w"))
      .select(explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, b) -> struct(a AS x, b AS y))")).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .where(col("x") =!= col("y")) // self-loops contribute nothing
    val edges = bi.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(bi.select(col("y").as("src"), col("x").as("dst")))
      .distinct()
    val nodes = docs.select(explode(tokens("text")).as("tok")).distinct()
    val toks = nodes.collect().map(_.getString(0))
    val n = toks.length
    val id = toks.zipWithIndex.toMap
    val es = edges.collect().map(r => (id(r.getString(0)), id(r.getString(1))))
    val deg = new Array[Int](n)
    es.foreach { case (s, _) => deg(s) += 1 }
    var pr = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val c = Array.tabulate(n) { i =>
        if (deg(i) == 0) null
        else { val d = Decimal(pr(i) / deg(i)); d.changePrecision(38, 18); d }
      }
      val s = new Array[Decimal](n)
      es.foreach { case (src, dst) =>
        s(dst) = if (s(dst) == null) c(src) else s(dst) + c(src)
      }
      pr = Array.tabulate(n)(i =>
        0.15 / n + 0.85 * (if (s(i) == null) 0.0 else s(i).toDouble))
    }
    val schema = StructType(Seq(nodes.schema("tok"),
      StructField("pr", DoubleType, nullable = false)))
    // final scores round to 12 decimals (the t14 recipe): the per-round
    // decimal quantization can round differently at the 18th fractional
    // digit across engines, so the last few ulps of pr are not contractual;
    // 1e-12 is ~5 orders above that noise and far below any rank gap
    docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(toks.indices.map(i => Row(toks(i), pr(i))): _*),
        schema)
      .select(col("tok"), round(col("pr"), 12).as("pr"))
      .orderBy(col("pr").desc, col("tok").asc).limit(k)
  }

  /** Per-document TF-IDF KEYWORDS — the top-k most characteristic terms of
    * every document, the classic extractive profile a curation pipeline
    * attaches as metadata (topic routing, cluster naming, search facets).
    * The idf factor is the log-free Robertson–Spärck-Jones ratio
    * (N − df + 0.5)/(df + 0.5), as in [[bm25TopK]]: a monotone transform of
    * log-idf, so per-doc top-k membership is unchanged and every arithmetic
    * step (integer counts into one fixed-shape double expression) is
    * bit-reproducible across engines.
    *
    * Scale shape: explode → (doc, term) hash-agg (map-side combine), a
    * vocabulary-sized df table joined BROADCAST (vocab ≪ corpus), and
    * per-doc top-k on the GroupedTopK bounded-heap operator — ≤ k rows per
    * doc shuffled, no full sort. Work ∝ corpus tokens throughout. */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens("text")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfc), "term").crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") *
        ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
    graft.plans.GroupedTopK.topK(scored, Seq(col("doc_id")),
        Seq(col("score").desc, col("term").asc), k)
      .select("doc_id", "rank", "term", "tf", "df", "score")
      .orderBy("doc_id", "rank")
  }

  /** N-GRAM DIVERSITY per source — the distinct-n-gram ratios (unigram
    * type-token ratio + trigram diversity) that detect mode collapse and
    * template boilerplate in a corpus slice; THE standard health metric for
    * synthetic/generated training data (low trigram diversity = the
    * generator is repeating itself). Two explode → hash-agg passes with
    * exact countDistinct; work ∝ corpus tokens, shuffles keyed on source. */
  def ngramDiversity(docs: DataFrame): DataFrame = {
    val uni = docs.select(col("source"), explode(tokens("text")).as("t"))
      .groupBy("source").agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("t")).as("distinct_tokens"),
        (countDistinct(col("t")).cast("double") / count(lit(1))).as("ttr"))
    val tri = docs.select(col("source"), tokens("text").as("w"))
      .select(col("source"), explode(expr(
        """CASE WHEN size(w) < 3 THEN array()
          |ELSE transform(sequence(1, size(w) - 2),
          |  i -> concat_ws(' ', slice(w, i, 3))) END""".stripMargin)).as("g"))
      .groupBy("source").agg(
        count(lit(1)).as("n_trigrams"),
        countDistinct(col("g")).as("distinct_trigrams"),
        (countDistinct(col("g")).cast("double") / count(lit(1)))
          .as("trigram_diversity"))
    uni.join(tri, Seq("source"), "left").orderBy("source")
  }

  /** Intra-document REPETITION signals — the Gopher/MassiveText repetition
    * quality filters (Rae et al. 2021, appendix A1.1): the fraction of a
    * document's characters covered by its single most frequent word
    * `topN`-gram, and by all word `dupN`-grams that occur more than once.
    * High values mark degenerate/boilerplate text (lorem-loops, scraped
    * navigation, LM mode collapse) that survives length/vocabulary checks
    * like [[qualityScore]]. Coverage is `count × chars(gram) / chars(doc)`;
    * the duplicate-gram sum counts overlapping occurrences and is capped at
    * 1.0 (documented deterministic variant — the paper leaves overlap
    * handling unspecified). Ties for the top gram break lexicographically.
    *
    * Shape at scale: two explode → hash-agg passes keyed on
    * (doc_id, gram) — work ∝ corpus tokens, skew-free (a doc's grams
    * spread across partitions during counting; the per-doc reduction is
    * count-sized) — then two doc-keyed reductions joined doc-to-doc. No
    * windows, no driver state. */
  def repetitionSignals(docs: DataFrame, topN: Int = 2, dupN: Int = 5,
      topThresh: Double = 0.20, dupThresh: Double = 0.30): DataFrame = {
    def grams(n: Int) = expr(
      s"""CASE WHEN size(split(text, ' ')) < $n THEN array()
         |ELSE transform(sequence(1, size(split(text, ' ')) - ${n - 1}),
         |  i -> concat_ws(' ', slice(split(text, ' '), i, $n))) END"""
        .stripMargin)
    def gramCounts(n: Int) = docs
      .select(col("doc_id"), explode(grams(n)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    // deterministic argmax: min(struct(-count, gram)) = (max count, then
    // lexicographically first gram) — one hash-agg, no window
    val top = gramCounts(topN)
      .groupBy("doc_id")
      .agg(min(struct((-col("c")).as("negc"), col("gram").as("gram")))
        .as("t"))
      .select(col("doc_id"), col("t.gram").as("top_gram"),
        (-col("t.negc")).as("top_gram_count"),
        ((-col("t.negc")) * length(col("t.gram"))).as("topchars"))
    val dup = gramCounts(dupN)
      .groupBy("doc_id")
      .agg(coalesce(sum(when(col("c") >= 2, col("c") * length(col("gram")))),
        lit(0L)).as("dupchars"))
    docs.select(col("doc_id"), length(col("text")).as("nc0"))
      .join(top, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("top_gram"), lit("")).as("top_gram"),
        coalesce(col("top_gram_count"), lit(0L)).as("top_gram_count"),
        // greatest(nc, 1): a zero-length doc has zero coverage, not NaN;
        // least(1.0): overlapping occurrences of the top gram ('a a a a')
        // can sum to more characters than the doc holds — capped so the
        // value stays a coverage FRACTION (same cap as dup_char_frac)
        least(lit(1.0), coalesce(col("topchars").cast("double") /
          greatest(col("nc0"), lit(1L)), lit(0.0))).as("top_char_frac"),
        least(lit(1.0), coalesce(col("dupchars"), lit(0L)).cast("double") /
          greatest(col("nc0"), lit(1L))).as("dup_char_frac"))
      .withColumn("repetitive",
        col("top_char_frac") > topThresh || col("dup_char_frac") > dupThresh)
      .orderBy("doc_id")
  }

  /** Tokenizer FERTILITY per language — BPE tokens emitted per whitespace
    * word under a learned merge table ([[bpeMergeTable]]), the metric that
    * tells you which languages a tokenizer serves poorly (high fertility =
    * more sequence length per word = more compute per sentence). Same
    * flanked-replace application as [[applyBpe]], grouped by `lang`. */
  def bpeFertility(docs: DataFrame,
      merges: Seq[(Int, String, String, String, Long)]): DataFrame = {
    val flanked = docs.select(col("lang"), explode(tokens("text")).as("w"))
      .withColumn("s", expr(
        "concat_ws('', transform(filter(split(w, ''), c -> c <> ''), " +
          "c -> concat('(', c, ')')))"))
    val applied = merges.foldLeft(flanked) { case (df, (_, a, b, m, _)) =>
      df.withColumn("s", replace(col("s"), lit(s"($a)($b)"), lit(s"($m)")))
    }
    applied
      .withColumn("k",
        expr("size(regexp_extract_all(s, '\\\\(([^)]*)\\\\)', 1))"))
      .groupBy("lang")
      .agg(sum(col("k")).as("n_bpe_tokens"), count(lit(1)).as("n_words"),
        (sum(col("k")).cast("double") / count(lit(1))).as("fertility"))
      .orderBy("lang")
  }

  /** VOCABULARY COVERAGE — per-document out-of-vocabulary rate against the
    * corpus' own top-`vocabSize` token vocabulary (count desc, token asc —
    * a total order, so the vocab is deterministic). The tokenizer-coverage
    * check a pipeline runs before committing to a fixed vocab: documents
    * with high `oov_frac` are the ones a small vocabulary would shred into
    * UNK/bytes (the per-language twin of [[bpeFertility]]).
    *
    * Scale shape: token counts are one map-side-combined hash agg; the
    * vocab is top-k of that (TakeOrderedAndProject — vocabSize rows, always
    * broadcastable); per-doc coverage is one broadcast join on the exploded
    * tokens plus one doc-keyed agg. Work ∝ total tokens, nothing pairwise,
    * no UDFs. */
  def vocabCoverage(docs: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val tok = docs.select(col("doc_id"), explode(tokens("text")).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        count(when(col("in_vocab").isNull, lit(1))).as("n_oov"))
      .withColumn("oov_frac",
        col("n_oov").cast("double") / col("n_tok").cast("double"))
      .orderBy("doc_id")
  }

  /** Top-k tokens per language by frequency (explode → count → window
    * rank): the vocabulary profile of a corpus slice. */
  def topWordsPerLang(docs: DataFrame, k: Int): DataFrame = {
    // GroupedTopK (custom plan): bounded heaps instead of a full per-group
    // sort; the (cnt desc, token asc) order is total, so ranks are
    // deterministic — identical to the row_number() spelling
    val counts = docs.select(col("lang"), explode(tokens("text")).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("cnt"))
    graft.plans.GroupedTopK.topK(counts, Seq(col("lang")),
        Seq(col("cnt").desc, col("token").asc), k)
      .select("lang", "rank", "token", "cnt")
      .orderBy("lang", "rank")
  }

  /** PII patterns a pre-training scrub removes, in APPLICATION ORDER
    * (emails first — their host part could otherwise be half-eaten by the
    * IP pattern; then dotted quads; then phone-shaped digit runs). Each
    * entry is (kind, regex, replacement token). The regex subset used —
    * char classes, bounded repeats, `\b` — behaves identically under
    * Java's engine (Spark) and RE2 (DuckDB/Go scrubbers), so a corpus
    * scrubbed here hashes the same as one scrubbed by an off-cluster
    * pipeline using the same table. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"),
    ("phone", "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "[PHONE]"))

  /** PII SCRUB — detect-and-redact over a text column: per-document match
    * counts per pattern kind, the redacted text's md5 and length, and the
    * document's PII density (matches per whitespace token). The standard
    * pre-training privacy stage (emails/IPs/phones → placeholder tokens);
    * returning the hash instead of the text keeps the gate's compare
    * scalar-only while still pinning the exact redacted bytes.
    *
    * Scale shape: pure per-row codegen'd expressions (`regexp_count` +
    * chained `regexp_replace`) — map-only, no shuffle, no UDFs; at 100 TB
    * this runs at scan speed and the output is doc-count-sized. */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // counts run against the PROGRESSIVELY redacted text, so each count is
    // exactly the number of replacements its pattern performed — counting
    // every pattern on the raw text would claim matches an earlier
    // redaction already consumed (an IP eating the head of a phone-shaped
    // digit run) while the digits survive in the clean text
    val staged = piiPatterns.scanLeft(col(textCol)) {
      case (c, (_, pat, token)) => regexp_replace(c, pat, token)
    }
    val counts = piiPatterns.zipWithIndex.map { case ((kind, pat, _), i) =>
      regexp_count(staged(i), lit(pat)).as(s"n_$kind")
    }
    val redacted = staged.last
    val totalMatches = piiPatterns.zipWithIndex.map { case ((_, pat, _), i) =>
      regexp_count(staged(i), lit(pat))
    }.reduce(_ + _)
    docs.select(
      (col("doc_id") +: counts) ++ Seq(
        md5(redacted).as("clean_md5"),
        length(redacted).as("clean_len"),
        (totalMatches.cast("double") /
          size(split(col(textCol), " ")).cast("double"))
          .as("pii_per_token")): _*)
      .orderBy("doc_id")
  }

  /** CORPUS DIFF — the dataset-versioning drift report between two corpus
    * snapshots (what changed between crawl N and crawl N+1 before the next
    * training run): per source, how many documents were added, removed,
    * changed (same doc_id, different text), moved (same doc_id, same text,
    * DIFFERENT source — a silent re-attribution the lineage report must
    * not hide as "unchanged"), or unchanged, and the net whitespace-token
    * delta. The report a data-lineage audit reads before promoting a
    * snapshot.
    *
    * Attribution: every doc counts in exactly ONE source group — the
    * current snapshot's source when the doc survives (so a moved doc
    * reports under its NEW source), the previous snapshot's when removed.
    * A doc whose text AND source both differ counts as `changed` (the
    * content edit dominates; the source column still attributes it to the
    * new source).
    *
    * Shape at scale: ONE full-outer equi-join on doc_id (both snapshots
    * shuffle once), change detection and token counts are map-side on the
    * joined row, then a source-keyed hash-agg — linear in corpus size, no
    * windows, no driver state. */
  def corpusDiff(prev: DataFrame, cur: DataFrame): DataFrame = {
    val a = prev.select(col("doc_id"), col("source").as("src_a"),
      col("text").as("text_a"),
      size(split(col("text"), " ")).cast("long").as("tok_a"))
    val b = cur.select(col("doc_id"), col("source").as("src_b"),
      col("text").as("text_b"),
      size(split(col("text"), " ")).cast("long").as("tok_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("src_b"), col("src_a")).as("source"),
        when(col("text_a").isNull, "added")
          .when(col("text_b").isNull, "removed")
          .when(col("text_a") =!= col("text_b"), "changed")
          .when(col("src_a") =!= col("src_b"), "moved")
          .otherwise("unchanged").as("status"),
        coalesce(col("tok_a"), lit(0L)).as("tok_a"),
        coalesce(col("tok_b"), lit(0L)).as("tok_b"))
      .groupBy("source").agg(
        sum(when(col("status") === "added", 1L).otherwise(0L))
          .as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("status") === "moved", 1L).otherwise(0L))
          .as("n_moved"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(col("tok_b") - col("tok_a")).as("token_delta"))
      .orderBy("source")
  }

  /** BOILERPLATE LINE REMOVAL — the C4/CCNet "deduplicate at the line
    * level" cleanup (Raffel et al. 2020 §2.2 drops any three-sentence span
    * occurring more than once; CCNet hashes paragraphs): a line that occurs
    * in ≥ `minDf` DISTINCT documents of the same source is site template
    * chrome (nav menus, cookie banners, footers), not content, and is
    * stripped from every document. Frequency is counted per (source, line)
    * because boilerplate is a per-site phenomenon — a line legitimately
    * common across independent sources (a famous quote) survives unless it
    * repeats within one source.
    *
    * Output: one row per input document — `n_lines`, `n_removed`, and
    * `clean_text` (surviving lines in original order, '' when everything
    * was template).
    *
    * Shape at scale: one line explode (corpus-sized, map-only), the
    * document-frequency aggregation over (source, line-hash, doc_id) —
    * SKINNY rows, two-level hash-agg with map-side partials, never the
    * line strings — then one equi-join of the exploded lines against the
    * distinct-line-sized df table and one doc-keyed reassembly hash-agg.
    * No windows, no driver state; hot template lines don't skew the df agg
    * (distinct doc_ids partial-aggregate map-side). The join key is the
    * line's xxhash64, the d04 discipline: a 64-bit collision could only
    * merge two lines' df counts (~n²/2⁶⁴ — negligible beside the codegen
    * win of never shuffling line text through the agg). */
  def boilerplateStrip(docs: DataFrame, minDf: Int = 3): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val lines = docs.select(col("doc_id"), col("source"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    // document frequency per (source, line): hash-keyed, strings never agg
    val dfTab = lines
      .select(col("source"), xxhash64(col("line")).as("lh"), col("doc_id"))
      .distinct()
      .groupBy("source", "lh").agg(count(lit(1)).as("df"))
    val kept = lines.withColumn("lh", xxhash64(col("line")))
      .join(dfTab, Seq("source", "lh"))
      .where(col("df") < minDf)
      .groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_kept"),
        concat_ws("\n", expr("transform(" +
          "array_sort(collect_list(struct(pos, line))), x -> x.line)"))
          .as("clean_text"))
    docs.select(col("doc_id"),
        size(split(col("text"), "\n")).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }
}
