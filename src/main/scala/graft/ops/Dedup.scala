package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.SimHash64.simhash64

/** Near-duplicate detection at corpus scale. Three families, all shuffle-lean:
  *
  *  - MinHash + LSH banding: shingle → minhash signature (per-row map) →
  *    band keys → shuffle on band key → candidate pairs within buckets only.
  *    The only quadratic work happens inside a bucket, and bucket sizes are
  *    bounded by genuine similarity, not corpus size.
  *  - SimHash (custom Catalyst expression) + combo-block keys: the 64 bits
  *    split into maxHamming+2 blocks, candidates agree on some 2-block
  *    combination (covers Hamming ≤ maxHamming exactly, by pigeonhole,
  *    with ~26-bit buckets instead of 16-bit ones).
  *  - Exact blocked n-gram Jaccard: the verification oracle for both, and a
  *    standalone dedup for small blocks.
  */
object Dedup {

  /** Distinct k-word shingles of `text` (single-space tokenization). */
  def shingles(textCol: String, k: Int): Column = expr(
    s"""CASE WHEN size(split($textCol, ' ')) < $k THEN array()
       |ELSE array_distinct(transform(
       |  sequence(1, size(split($textCol, ' ')) - ${k - 1}),
       |  i -> concat_ws(' ', slice(split($textCol, ' '), i, $k)))) END"""
      .stripMargin)

  /** Distinct k-word shingles hashed to 64-bit longs. Intersection/union
    * SIZES are invariant under the (injective modulo ~2^-64 collisions)
    * hash, so Jaccard over hashed shingles equals Jaccard over strings —
    * while pairwise set ops run on longs instead of short strings (the hot
    * path of blocked O(n²) verification). Native one-pass expression
    * ([[graft.functions.ShingleHashes]]); the declarative
    * split/transform/xxhash64 chain it replaces is interpreted and was the
    * dominant cost of both LSH and exact-Jaccard dedup. */
  def hashedShingles(textCol: String, k: Int): Column =
    graft.functions.ShingleHashes.shingleHashes(col(textCol), k)

  /** MinHash signature: H independent permutations approximated by seeded
    * xxhash64; signature element j = min over shingles of hash_j. One
    * imperative pass via the native [[graft.functions.MinHashSig]]
    * expression. */
  def minhashSignature(shCol: String, numHashes: Int): Column =
    graft.functions.MinHashSig.minhashSig(col(shCol), numHashes)

  /** LSH candidate pairs from banded minhash signatures, with estimated
    * (signature-agreement) and true Jaccard; `threshold` filters on true.
    * bands*rows must equal the signature length. */
  def minhashLshPairs(docs: DataFrame, shingleK: Int, bands: Int, rows: Int,
      threshold: Double): DataFrame = {
    val h = bands * rows
    // Materialized once: shingling + signing is the expensive per-row map and
    // this frame feeds banding plus BOTH sides of the candidate re-attach
    // join. localCheckpoint (not persist) so the blocks are released by the
    // ContextCleaner when the result frame is dropped — persist() would pin
    // them in the CacheManager forever in a long-running server.
    //
    // EAGER, everywhere (the repo-wide convention as of round 14): a LAZY
    // localCheckpoint whose first materialization happens inside a
    // broadcast-exchange (or concurrent AQE stage) thread can deadlock
    // against the DAG scheduler — observed live as a lock inversion
    // between RDDCheckpointData's class lock (held by the broadcast
    // thread doing the pending checkpoint) and the RDD lock (held by the
    // scheduler), hanging the whole session. Every checkpointed frame
    // here is unconditionally consumed by its operator, so eager
    // materialization is the SAME total work, just scheduled on the
    // constructing thread — where no second lock is ever taken.
    val sh = docs
      .select(col("doc_id"), hashedShingles("text", shingleK).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature("sh", h))
      .localCheckpoint()
    // Candidate generation on SKINNY rows (doc_id + band key only) — the
    // signature/shingle arrays don't ride through the self-join shuffle.
    // Arrays re-attach per side after pair dedup.
    val bandCols = bandKeys(bands, rows)
    val banded = sh.select(col("doc_id"),
      explode(array(bandCols: _*)).as("bk"))
    val cand = banded.select(col("bk").as("bk_a"), col("doc_id").as("doc_a"))
      .join(banded.select(col("bk").as("bk_b"), col("doc_id").as("doc_b")),
        col("bk_a") === col("bk_b") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard", expr(
        s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)) / $h"))
      .withColumn("inter", expr("size(array_intersect(sh_a, sh_b))"))
      .withColumn("jaccard",
        expr("inter / (size(sh_a) + size(sh_b) - inter)"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Dedup PROVENANCE: which sources duplicate each other — near-dup pair
    * counts and mean Jaccard per unordered source pair (mirror/scraper
    * overlap shows up as a hot off-diagonal cell; boilerplate within one
    * source as a hot diagonal). Pair generation is the banded-LSH path
    * ([[minhashLshPairs]] — recall 1.0 at this corpus's similarity gap, see
    * the d02 oracle note); the rollup is two source-label joins on skinny
    * pair rows plus one source-pair-cardinality aggregation. Mean Jaccard
    * goes through a decimal sum, so it is aggregation-order-independent. */
  def dupSourceMatrix(docs: DataFrame, shingleK: Int, bands: Int, rows: Int,
      threshold: Double): DataFrame =
    dupSourceMatrix(docs,
      minhashLshPairs(docs, shingleK, bands, rows, threshold))

  /** Variant over a precomputed pair list (the once-per-ingest artifact a
    * pipeline memoizes — see [[IndexCache]]): only the two source-label
    * joins and the source-pair aggregation run per call. */
  def dupSourceMatrix(docs: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"), col("jaccard"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("pairs"),
        (sum(col("jaccard").cast("decimal(27,12)")).cast("double") /
          count(lit(1))).as("avg_jaccard"))
      .orderBy("src_lo", "src_hi")

  /** One (band, bh) struct per band: bh = xxhash64 of the band's signature
    * slice. Shared by the batch self-join, the incremental index, and the
    * streaming twin ([[bandKeyCols]]). */
  private[graft] def bandKeyCols(bands: Int, rows: Int): Column =
    array(bandKeys(bands, rows): _*)

  private def bandKeys(bands: Int, rows: Int): Seq[Column] =
    (0 until bands).map { b =>
      val slice = (0 until rows).map(r => s"sig[${b * rows + r}]")
      struct(lit(b).as("band"), expr(s"xxhash64(${slice.mkString(", ")})")
        .as("bh"))
    }

  /** A persisted-form LSH dedup index: flat band postings (doc_id, band, bh)
    * plus the signature/shingle side table (doc_id, sh, sig) — both plain
    * frames, so a pipeline stores them as parquet between ingests. */
  final case class LshIndex(postings: DataFrame, signatures: DataFrame)

  /** Persist an [[LshIndex]] as the between-ingests parquet layout the
    * incremental path ([[lshDeltaPairs]]) reads: `postings/` bucketed by
    * the band hash would be ideal at cluster scale — here postings are
    * partitioned by `band` (bounded directory fan-out, prunes the
    * per-band join) and `signatures/` keyed by doc_id.
    * [[loadLshIndex]] restores both frames without re-scanning any text;
    * OpsSpec proves a delta ingest over a loaded index emits exactly the
    * pairs the in-memory index does. */
  def saveLshIndex(idx: LshIndex, path: String): Unit = {
    idx.postings.write.mode("overwrite").partitionBy("band")
      .parquet(s"$path/postings")
    idx.signatures.write.mode("overwrite").parquet(s"$path/signatures")
    IndexCache.registerPersisted(idx.postings.sparkSession, path, "lsh")
  }

  /** Restore a persisted [[LshIndex]] (see [[saveLshIndex]]). Committed
    * tombstones ([[Forget.forgetPersisted]]) are applied UNCONDITIONALLY
    * — a reload after a forget cannot resurrect the forgotten doc's
    * postings or signature. */
  def loadLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): LshIndex = {
    IndexCache.registerPersisted(spark, path, "lsh")
    val base = LshIndex(
      spark.read.parquet(s"$path/postings").select("doc_id", "band", "bh"),
      spark.read.parquet(s"$path/signatures").select("doc_id", "sh", "sig"))
    Forget.tombstonesAt(spark, path).fold(base) { t =>
      val del = broadcast(t.select(col("id").as("__del")).distinct())
      def anti(df: DataFrame) =
        df.join(del, col("doc_id") === col("__del"), "left_anti")
      LshIndex(anti(base.postings), anti(base.signatures))
    }
  }

  /** Build the LSH index for a corpus slice (no pair generation). */
  def lshIndex(docs: DataFrame, shingleK: Int, bands: Int, rows: Int)
      : LshIndex = {
    val sh = docs
      .select(col("doc_id"), hashedShingles("text", shingleK).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature("sh", bands * rows))
      .localCheckpoint()
    val postings = sh
      .select(col("doc_id"), explode(array(bandKeys(bands, rows): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    LshIndex(postings, sh)
  }

  /** INCREMENTAL near-dup detection — the nightly-delta form of
    * [[minhashLshPairs]]: new documents are checked against the stored
    * index AND each other without ever re-scanning the indexed corpus'
    * text (only its postings/signatures, which a pipeline keeps as
    * parquet). Returns exactly the pairs batch LSH over (corpus ∪ delta)
    * would emit that involve a delta doc, plus the grown index. Ingest
    * is IDEMPOTENT on doc_id: a delta id already present in the index is
    * the same document re-presented and is dropped before any join (no
    * self-pairs, no re-reported pairs, no duplicate index rows —
    * replaying yesterday's batch is a no-op); an id re-ingested with
    * CHANGED text is an update, which this append-only index does not
    * model — route updates through a tombstone delete (d22) and re-add.
    *
    * Scale shape: the delta side is small by construction; its postings
    * hash-join the stored postings on (band, bh) — work ∝ matching
    * buckets, never ∝ corpus. Candidates travel skinny, arrays re-attach
    * after pair dedup, exactly like the batch path. */
  def lshDeltaPairs(index: LshIndex, delta: DataFrame, shingleK: Int,
      bands: Int, rows: Int, threshold: Double): (DataFrame, LshIndex) = {
    val h = bands * rows
    val fresh = delta.join(index.signatures.select("doc_id"),
      Seq("doc_id"), "left_anti")
    val d = lshIndex(fresh, shingleK, bands, rows)
    val cross = d.postings.select(col("band"), col("bh"),
        col("doc_id").as("d_id"))
      .join(index.postings.select(col("band"), col("bh"),
        col("doc_id").as("e_id")), Seq("band", "bh"))
      .select(least(col("d_id"), col("e_id")).as("doc_a"),
        greatest(col("d_id"), col("e_id")).as("doc_b"))
    val within = d.postings.select(col("band"), col("bh"),
        col("doc_id").as("doc_a"))
      .join(d.postings.select(col("band"), col("bh"),
        col("doc_id").as("doc_b")), Seq("band", "bh"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val cand = cross.unionByName(within).distinct()
    val sigs = index.signatures.unionByName(d.signatures)
    val pairs = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard", expr(
        s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)) / $h"))
      .withColumn("inter", expr("size(array_intersect(sh_a, sh_b))"))
      .withColumn("jaccard",
        expr("inter / (size(sh_a) + size(sh_b) - inter)"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard", "jaccard")
      .orderBy("doc_a", "doc_b")
    (pairs, LshIndex(index.postings.unionByName(d.postings), sigs))
  }

  /** FUZZY decontamination — the near-duplicate upgrade of the exact-n-gram
    * pass ([[graft.ops.TextOps.decontaminate]]): corpus documents whose
    * shingle-Jaccard similarity to ANY benchmark document reaches
    * `threshold` (the GPT-3-style "remove train docs fuzzily matching eval
    * data" step). Candidates come from a CROSS-set LSH band join — corpus
    * postings ⋈ bench postings on (band, bh) — so work is ∝ colliding
    * buckets, never |corpus|×|bench|; the bench side is tiny by construction
    * and its postings broadcast at any corpus scale. Verification re-attaches
    * hashed shingles for surviving candidates only (same skinny-pair
    * discipline as [[minhashLshPairs]]).
    *
    * Output: one row per contaminated corpus doc — how many bench docs it
    * fuzzily matches and the worst (max) Jaccard. */
  def fuzzyDecontaminate(corpus: DataFrame, bench: DataFrame, shingleK: Int,
      bands: Int, rows: Int, threshold: Double): DataFrame = {
    val ci = lshIndex(corpus, shingleK, bands, rows)
    val bi = lshIndex(bench, shingleK, bands, rows)
    val cand = ci.postings
      .select(col("band"), col("bh"), col("doc_id").as("c_id"))
      .join(broadcast(bi.postings.select(col("band"), col("bh"),
        col("doc_id").as("b_id"))), Seq("band", "bh"))
      .select("c_id", "b_id").distinct()
    cand
      .join(ci.signatures.select(col("doc_id").as("c_id"),
        col("sh").as("sh_c")), "c_id")
      .join(broadcast(bi.signatures.select(col("doc_id").as("b_id"),
        col("sh").as("sh_b"))), "b_id")
      .withColumn("inter", expr("size(array_intersect(sh_c, sh_b))"))
      .withColumn("jaccard",
        expr("inter / (size(sh_c) + size(sh_b) - inter)"))
      .where(col("jaccard") >= threshold)
      .groupBy(col("c_id").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy("doc_id")
  }

  /** PORTABLE SimHash near-dup pairs — identical semantics to
    * [[simhashPairs]] but with per-token 64-bit fingerprint material drawn
    * from md5 (the only 64-bit-strength token hash both Spark and the
    * DuckDB oracle compute bit-identically), so the gate query carries a
    * FULL oracle instead of a rows-only check. The 64 bits ride as two
    * 32-bit halves in separate longs — no engine needs wrapping 64-bit
    * arithmetic; Hamming distance is the sum of the halves' bit_counts.
    * Majority vote is strict (2·ones > n; ties → 0), mirrored in SQL.
    * Spark-side the halves recombine into one word `hi << 32 | lo` for
    * [[simhashVerified]], whose `bit_count(sh_a ^ sh_b)` equals that sum.
    *
    * The xxhash64-based [[simhashPairs]] (native one-pass
    * [[graft.functions.SimHash64]]) remains the production fast path —
    * md5 per token costs more but is still map-side linear; candidate
    * generation reuses the same pigeonhole combo blocking on the
    * recombined word, so the scale shape is unchanged. */
  def simhashPortablePairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    // one digest per token, no hex round-trip — Md5Halves is bit-identical
    // to CAST(conv(substr(md5(tok), 1|9, 8), 16, 10) AS BIGINT) (pinned by
    // an OpsSpec equivalence test; the oracle still computes the hex form)
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("hl", graft.functions.Md5Halves.md5Halves(col("tok")))
      .withColumn("hi", col("hl.hi"))
      .withColumn("lo", col("hl.lo"))
    val voteCols = (0 until 32).flatMap(b => Seq(
      sum(shiftright(col("hi"), b).bitwiseAND(lit(1L))).as(s"h$b"),
      sum(shiftright(col("lo"), b).bitwiseAND(lit(1L))).as(s"l$b")))
    val votes = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), voteCols: _*)
    def fpOf(prefix: String): Column = (0 until 32).map(b =>
      when(col(s"$prefix$b") * 2 > col("n"), lit(1L << b))
        .otherwise(lit(0L))).reduce(_ + _)
    // combined word only Spark-side (<< wraps bitwise here; the oracle
    // never needs it — it verifies all-pairs on the halves)
    simhashVerified(votes.select(col("doc_id"),
      shiftleft(fpOf("h"), 32).bitwiseOR(fpOf("l")).as("sh")), maxHamming)
  }

  /** Block keys for fingerprints within Hamming distance `d`: the 64 bits
    * split into m = d + 2 near-equal blocks; ≤ d differing bits can touch at
    * most d blocks, so every qualifying pair agrees EXACTLY on some
    * (m − d) = 2 blocks (pigeonhole — complete, no false negatives). One key
    * per 2-block combination, xxhash64'd to a single long (a hash collision
    * only adds a false candidate, which verification removes).
    *
    * Versus the classic d+1-block scheme (4×16-bit chunks for d=3): keys
    * carry ~2·64/m ≈ 26 bits instead of 16, so random-fingerprint bucket
    * sizes are ~n/2^26 not ~n/2^16 — candidate generation stays ~linear in
    * the corpus until tens of billions of docs, at the cost of C(m,2) = 10
    * (for d=3) exploded rows per doc instead of 4. */
  private[graft] def simhashBlockKeys(fpCol: String, maxHamming: Int): Column = {
    val m = maxHamming + 2
    val bounds = (0 to m).map(i => i * 64 / m) // block i = bits [b(i), b(i+1))
    def block(i: Int): String = {
      val off = bounds(i); val w = bounds(i + 1) - off
      val mask = if (w == 64) -1L else (1L << w) - 1
      s"(shiftright($fpCol, $off) & ${mask}L)"
    }
    val combos = for {
      i <- 0 until m; j <- i + 1 until m
    } yield expr(s"xxhash64(${i * m + j}, ${block(i)}, ${block(j)})")
    array(combos: _*)
  }

  /** SimHash near-dup pairs: fingerprint via the native SimHash64
    * expression, then [[simhashVerified]]. */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashVerified(docs.select(col("doc_id"),
      simhash64(split(col("text"), " ")).as("sh")), maxHamming)

  /** The candidate-and-verify half both SimHash forms share, over 64-bit
    * fingerprints `fps` (doc_id, sh): candidates from [[simhashBlockKeys]]
    * combo blocks, verified with bit_count(xor). Candidate pairs travel
    * SKINNY (two longs) through the self-join shuffle and dedup;
    * fingerprints re-attach afterwards. */
  private def simhashVerified(fps: DataFrame, maxHamming: Int): DataFrame = {
    // localCheckpoint: feeds key explosion + both re-attach sides; blocks are
    // GC-released with the result (see minhashLshPairs note)
    val fp = fps.localCheckpoint()
    val keyed = fp.select(col("doc_id"),
      explode(simhashBlockKeys("sh", maxHamming)).as("bk"))
    val cand = keyed.select(col("bk").as("bk_a"), col("doc_id").as("doc_a"))
      .join(keyed.select(col("bk").as("bk_b"), col("doc_id").as("doc_b")),
        col("bk_a") === col("bk_b") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(fp.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Full postings in the same canonical (df asc, value asc) order as
    * [[prefixPostings]] — the probe side of the containment join, where
    * the container doc may share only its FREQUENT shingles with the
    * contained doc's rare-first prefix. threshold ~0 makes the prefix
    * length formula n − ⌈εn⌉ + 1 = n, i.e. every posting, positioned. */
  private[graft] def fullPostings(sh: DataFrame): DataFrame =
    prefixPostings(sh, 1e-12)

  /** Prefix-filtered postings for [[ngramJaccardPairs]]. Shingles are put in
    * a canonical corpus-wide order — document frequency ascending (exact for
    * the global top-`hotK` shingles, everything rarer ties at 0), value
    * ascending — and each doc keeps only its first |sh| − ⌈t·|sh|⌉ + 1
    * shingles as join postings. Any pair with
    * J(A,B) ≥ t has |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and two sets with overlap ≥ α
    * under a shared total order must intersect within their (size − α + 1)
    * prefixes — so no qualifying pair is lost, while the most frequent
    * (stopword-like) shingles, whose df² posting blowup dominates the join at
    * corpus scale, are exactly the ones dropped. */
  private[graft] def prefixPostings(sh: DataFrame, threshold: Double,
      hotK: Int = 1 << 16): DataFrame = {
    val posting = sh.select(col("block"), col("doc_id"), col("n"),
      explode(col("sh")).as("s"))
    // The canonical order only needs EXACT ranks for the frequent shingles —
    // every shingle outside the global top-hotK ties at df = 0 and orders by
    // value, which is still one shared total order (a pure function of s),
    // so the prefix lemma and the result are unchanged. That keeps the df
    // side bounded (hotK rows ≈ 1 MB — broadcastable at ANY corpus size):
    // the posting stream takes a broadcast join instead of a posting-scale
    // shuffle, and the only full shuffles left are the df partial-agg and
    // the per-doc regroup.
    val hot = posting.groupBy("block", "s").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("s").asc).limit(hotK)
    posting.join(broadcast(hot), Seq("block", "s"), "left")
      .groupBy(col("block"), col("doc_id"), col("n"))
      // ⌈t·n⌉ integer-safely: double products can land an ulp ABOVE an exact
      // integer (10 × 0.7 = 7.000000000000001 → ceil 8), which would shorten
      // the prefix below what the lemma requires and lose zero-slack pairs.
      // round(…, 9) snaps such ulps back; an under-ceil only LENGTHENS the
      // prefix (extra postings, never a lost pair).
      .agg(slice(array_sort(collect_list(struct(
        coalesce(col("df"), lit(0L)).as("df"), col("s")))), lit(1),
        (col("n") - ceil(round(col("n") * threshold, 9)) + 1).cast("int"))
        .as("pre"))
      .select(col("block"), col("doc_id"), col("n"),
        posexplode(col("pre")).as(Seq("pos0", "p")))
      // the prefix is the HEAD of the doc's canonical sort, so a shingle's
      // position within the prefix IS its position in the full order — the
      // 1-based `pos` the PPJoin position filter needs
      .select(col("block"), col("doc_id"), col("n"), col("p.s").as("s"),
        (col("pos0") + 1).as("pos"))
  }

  /** `dfCap` for [[ngramJaccardPairs]] and [[containmentPairs]]: no cap —
    * the exact join, with no hot-tail count. */
  final val NoDfCap: Int = Int.MaxValue

  /** `dfCap` for [[ngramJaccardPairs]] and [[containmentPairs]]: the cap
    * auto-sized to max(256, ⌈4·√nDocs⌉). Per probing shingle the index side
    * then contributes O(√n) postings, so candidate work is O(P·√n) for P
    * probe postings — sub-quadratic by construction — while the cap stays
    * far above any natural shingle's df at small n (the d23/d24 gate
    * corpora top out well under 256), so those gates replay the exact join
    * bit-for-bit and the cap only engages at corpus scale. */
  final val AutoDfCap: Int = 0

  /** Each doc's block, distinct hashed k-shingles `sh` and their count `n`.
    * localCheckpoint: feeds the postings and both verify re-attaches;
    * GC-released with the result frame (see minhashLshPairs note). */
  private def shingleSets(docs: DataFrame, k: Int,
      blockCol: String): DataFrame =
    docs.select(col("doc_id"), col(blockCol).as("block"),
      hashedShingles("text", k).as("sh"))
      .withColumn("n", size(col("sh")))
      .localCheckpoint()

  /** `postings` with every (block, s) whose document frequency exceeds the
    * cap `dfCap` names deterministically downsampled to an expected `cap`
    * survivors: posting (s, doc) survives iff xxhash64(s, doc_id) mod
    * df < cap, a pure function of the data, so reruns and the DuckDB oracle
    * see the same sample. None for [[NoDfCap]] (no hot-tail count at all),
    * or when no (block, s) is hotter than the cap: the downsample is then
    * the identity and the caller runs its exact path.
    *
    * The hot tail is one linear agg over the caller's checkpointed
    * postings. The auto cap is never below 256, so the tail is first cut
    * there: a tail empty at 256 is empty at any auto size, and only a
    * non-empty one pays the docs count (of the checkpointed shingle sets
    * `sh`, not the corpus) that sizes the cap. Its row count is
    * ≤ postings/cap, which with the auto cap GROWS as √n·avg_df — at
    * 100 TB (n ≈ 10¹⁰ docs) tens of millions of rows, past any safe
    * broadcast — so the downsample join goes through [[sizeGatedBroadcast]]
    * on the count already taken. */
  private def dfCapped(postings: DataFrame, dfCap: Int,
      sh: DataFrame): Option[DataFrame] = {
    require(dfCap >= 0, "dfCap must be non-negative")
    if (dfCap == NoDfCap) return None
    val floor = if (dfCap == AutoDfCap) 256L else dfCap.toLong
    val tail = postings.groupBy("block", "s").agg(count(lit(1)).as("df"))
      .where(col("df") > floor)
      .localCheckpoint()
    // RDD counts of checkpointed frames: one job each, where Dataset.count
    // adds an aggregate exchange and a second job
    val nTail = tail.rdd.count()
    if (nTail == 0) return None
    val cap = if (dfCap != AutoDfCap) floor
      else math.max(floor, math.ceil(4 * math.sqrt(sh.rdd.count().toDouble))
        .toLong)
    val hot = tail.where(col("df") > cap)
    val nHot = if (cap == floor) nTail else hot.rdd.count()
    if (nHot == 0) None
    else Some(postings
      .join(sizeGatedBroadcast(hot, nHot), Seq("block", "s"), "left")
      .where(col("df").isNull ||
        pmod(xxhash64(col("s"), col("doc_id")), col("df")) < cap)
      .drop("df"))
  }

  /** The exact verify both similarity joins end in: candidate pairs travel
    * skinny (two longs); both docs' full shingle arrays re-attach only
    * here for the exact intersect. Keeps the pairs whose `measure` —
    * the SQL expression `value` over `inter`, `na` and `nb` — reaches
    * `threshold`, ordered by (doc_a, doc_b).
    *
    * The verify stage is compute-heavy per BYTE (two ~n-element array
    * intersections per candidate pair, rows of just two longs), so AQE's
    * byte-based coalescing collapses the candidate exchange to one task.
    * Repartitioning by the very key the first verify join needs keeps the
    * stage at the session's parallelism at small scale, and at corpus
    * scale it IS the doc_a exchange a shuffled verify join would insert —
    * satisfied, not duplicated. */
  private def verifiedPairs(cand: DataFrame, sh: DataFrame, measure: String,
      value: String, threshold: Double): DataFrame =
    cand.repartition(sh.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_a"))
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n").as("na")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n").as("nb")), "doc_b")
      .withColumn("inter", expr("size(array_intersect(sh_a, sh_b))"))
      .withColumn(measure, expr(value))
      .where(col(measure) >= threshold)
      .select("doc_a", "doc_b", measure)
      .orderBy("doc_a", "doc_b")

  /** Exact n-gram Jaccard similarity join (result identical to all-pairs
    * verification, never all-pairs work). Result-preserving prunes:
    *
    *  1. Size-ratio: J(A,B) ≤ min/max ⇒ |A|,|B| within a factor 1/t.
    *  2. PREFIX FILTER (Chaudhuri/Xiao SSJoin): order shingles canonically by
    *     (global document frequency asc, value asc) — rarest first — and keep
    *     only each doc's first |sh| − ⌈t·|sh|⌉ + 1 shingles as postings.
    *     J(A,B) ≥ t forces |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, so two qualifying docs
    *     MUST share a prefix shingle; dropping the ⌈t·|sh|⌉ − 1 most frequent
    *     shingles per doc loses no pair while removing exactly the hot
    *     (stopword-like) postings whose df² join blowup dominates at corpus
    *     scale.
    *  3. PPJOIN POSITION FILTER (Xiao et al. 2008): every common shingle of a
    *     qualifying pair sits at-or-after the pair's FIRST shared token in the
    *     canonical order, so overlap ≤ 1 + min(na − pa, nb − pb) at that
    *     token's 1-based positions — pairs whose bound misses
    *     ⌈t·max(na,nb)⌉ are cut before the exact verify. At loose thresholds
    *     this prunes the hot-shingle co-occurrence pairs the prefix filter
    *     alone lets through.
    *
    * DF CAP (`dfCap`: [[NoDfCap]], [[AutoDfCap]] or an explicit value) —
    * the production form. The exact join's posting work is Σ(prefix_df²)
    * over (block, shingle), still hostage to any shingle that is hot INSIDE
    * prefixes (near-identical boilerplate families, template corpora).
    * With a cap, and only when some (block, shingle) prefix posting list is
    * hotter than it, the self-join turns asymmetric BY ROLE: side `a`
    * (probe) is every doc's prefix uncapped, side `b` (index) the same
    * prefix postings downsampled by [[dfCapped]]. Matches canonicalize to
    * (least, greatest) and dedupe, so each unordered pair gets TWO
    * independent detection chances (A's probe hitting B's surviving
    * posting, or B's hitting A's) — capping "both sides" would square the
    * miss probability. Candidate work is ≤ P·cap for P prefix postings,
    * however hot any shingle is; every emitted pair still verifies EXACTLY.
    *
    * RECALL CONTRACT under a cap:
    *  - a qualifying pair sharing at least one prefix shingle with
    *    df ≤ cap is found with probability 1 — sub-cap postings are never
    *    dropped, and the prefix is each doc's RAREST (1−t)-fraction, so for
    *    natural corpora this is every real near-dup (a planted dup shares
    *    ALL of a doc's shingles, including its rarest — the sweep pins that
    *    recall at 1.0 at every factor);
    *  - a pair whose EVERY shared prefix shingle is hotter than the cap
    *    survives iff either doc outlives one of those shingles'
    *    downsamples: P ≥ 1 − Π_s (1 − cap/df_s)² over the shared hot
    *    prefix shingles (the square is the two probe directions). Such
    *    pairs exist only where the docs' rarest common content is itself
    *    corpus-hot — the regime where the exact join is output-bound
    *    quadratic and a cap is the only linear answer.
    *
    * The capped join has NO position filter: the bound is only valid at
    * the pair's TRUE first shared canonical token, and a capped index
    * posting can hide that token — the bound at the observed-first token
    * can underestimate and prune a qualifying pair. The size-ratio prune
    * (it reads only n_a/n_b, never postings) and the exact verify keep the
    * candidate set honest. */
  def ngramJaccardPairs(docs: DataFrame, k: Int, blockCol: String,
      threshold: Double, dfCap: Int = NoDfCap): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val sh = shingleSets(docs, k, blockCol)
    // materialized: the prefix subtree (df agg + broadcast join + per-doc
    // regroup) feeds BOTH sides of the candidate self-join — without this it
    // is evaluated twice
    val prefix = prefixPostings(sh, threshold).localCheckpoint()
    val cand = dfCapped(prefix, dfCap, sh) match {
      case None => ssjoinCandidates(prefix, threshold, positional = true)
      case Some(capped) =>
        val a = prefix.select(col("block").as("block_a"),
          col("doc_id").as("id_a"), col("n").as("na"), col("s").as("s_a"))
        val b = capped.select(col("block").as("block_b"),
          col("doc_id").as("id_b"), col("n").as("nb"), col("s").as("s_b"))
        a.join(b,
          col("block_a") === col("block_b") && col("s_a") === col("s_b") &&
            col("id_a") =!= col("id_b") &&
            // exact size-ratio prune, both directions (round(…, 9) snaps
            // product ulps as in ssjoinCandidates)
            col("na") >= round(col("nb") * threshold, 9) &&
            col("nb") >= round(col("na") * threshold, 9))
          .select(least(col("id_a"), col("id_b")).as("doc_a"),
            greatest(col("id_a"), col("id_b")).as("doc_b"))
          .distinct()
    }
    verifiedPairs(cand, sh, "jaccard", "inter / (na + nb - inter)",
      threshold)
  }

  /** Exact n-gram CONTAINMENT join — the asymmetric near-dup case symmetric
    * Jaccard misses: doc A quoted/expanded inside a larger doc B has
    * C(A→B) = |A∩B| / |A| ≈ 1 while J(A,B) ≈ |A|/|B| can be arbitrarily
    * small (the quote-expansion duplicates RefinedWeb-style pipelines
    * chase with substring dedup). Emits DIRECTIONAL rows (doc_a contained
    * in doc_b, a ≠ b) with the exact containment ≥ `threshold`.
    *
    * Result-identical to all-pairs verification, never all-pairs work:
    * C(A→B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so A's rare-first PREFIX (the
    * same ⌈⌉-safe length as the Jaccard SSJoin — the lemma only involves
    * the contained side's size) must hit B's FULL posting list; candidates
    * come from that prefix⋈index join, pruned by nb ≥ ⌈t·na⌉ (overlap
    * can't exceed |B|) and the PPJoin position bound (both sides share one
    * canonical order), then verify exactly on the re-attached shingle
    * arrays. The index side is a plain inverted index — posting work is
    * Σ(prefix_df × df), and the prefix side's rarest-first discipline
    * keeps hot shingles out of the probing set.
    *
    * DF CAP (`dfCap`: [[NoDfCap]], [[AutoDfCap]] or an explicit value) —
    * the production form, for a 100 TB corpus where Σ(prefix_df × df) is
    * hostage to the hottest shingles: when some (block, shingle) is hotter
    * than the cap, the CONTAINER index is downsampled by [[dfCapped]].
    * Probe-side prefix postings are NEVER dropped (the rarest-first prefix
    * is tiny), and every emitted pair still verifies EXACTLY — the cap can
    * only lose a pair, never invent or misvalue one.
    *
    * RECALL CONTRACT under a cap:
    *  - a qualifying pair (A→B) sharing at least one prefix-of-A shingle
    *    with df ≤ cap is found with probability 1 — sub-cap postings are
    *    never dropped. The prefix is the contained doc's RAREST
    *    (1−t)-fraction, so for natural corpora this is essentially every
    *    real quote-expansion pair (a planted exact dup shares ALL of A's
    *    shingles, including its rarest — the sweep pins that recall at
    *    1.0 at every factor);
    *  - a pair whose EVERY shared prefix shingle is hotter than the cap
    *    survives iff B outlives one of those shingles' downsamples:
    *    P ≥ 1 − (1 − cap/df_max)^m over m shared hot prefix shingles.
    *    Such pairs exist only in corpora whose RAREST common content is
    *    itself hot (boilerplate-only overlap) — the regime where an exact
    *    join is output-bound quadratic and a cap is the only linear
    *    answer.
    *
    * The capped join has NO position filter, for the reason given at
    * [[ngramJaccardPairs]]: a capped posting can hide the pair's true
    * first shared token, where alone the bound holds. */
  def containmentPairs(docs: DataFrame, k: Int, blockCol: String,
      threshold: Double, dfCap: Int = NoDfCap): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val sh = shingleSets(docs, k, blockCol)
    // ONE posting pipeline: the contained side's prefix is a position
    // filter over the same table — the df agg / hot-set sort / per-doc
    // regroup are paid once, and the A and B sides share one canonical
    // total order BY CONSTRUCTION (two independent hot-set computations
    // could in principle break boundary ties differently, which would
    // invalidate the position filter's shared-order premise)
    val full = fullPostings(sh).localCheckpoint()
    val capped = dfCapped(full, dfCap, sh)
    val pre = full.where(col("pos") <=
      col("n") - ceil(round(col("n") * threshold, 9)) + 1)
    val a = pre.select(col("block").as("block_a"), col("doc_id").as("doc_a"),
      col("n").as("na"), col("s").as("s_a"), col("pos").as("pa"))
    val b = capped.getOrElse(full).select(col("block").as("block_b"),
      col("doc_id").as("doc_b"), col("n").as("nb"), col("s").as("s_b"),
      col("pos").as("pb"))
    val joined = a.join(b,
      col("block_a") === col("block_b") && col("s_a") === col("s_b") &&
        col("doc_a") =!= col("doc_b") &&
        // the container must be able to supply the required overlap
        col("nb") >= ceil(round(col("na") * threshold, 9)))
    val cand =
      if (capped.isDefined) joined.select("doc_a", "doc_b").distinct()
      else joined
        .groupBy("doc_a", "doc_b")
        // min(pa)/min(pb) both land on the first shared canonical token
        // (positions are monotone in the shared order), so this equals the
        // former min(struct(pa, pb)) while staying HASH-aggregable with
        // map-side partial aggregation — min over a struct forced a
        // SortAggregate over the full candidate stream (see
        // ssjoinCandidates)
        .agg(min(col("pa")).as("fpa"), min(col("pb")).as("fpb"),
          first(col("na")).as("na"), first(col("nb")).as("nb"))
        // PPJoin bound at the first shared canonical token, against ⌈t·na⌉
        .where(lit(1) + least(col("na") - col("fpa"),
            col("nb") - col("fpb")) >=
          ceil(round(col("na") * threshold, 9)))
        .select("doc_a", "doc_b")
    verifiedPairs(cand, sh, "containment", "inter / na", threshold)
  }

  /** ONE broadcast gate for the hot-df posting tail of [[dfCapped]] (the
    * df-capped forms of [[ngramJaccardPairs]] and [[containmentPairs]]; the
    * planner's dense-fill and time-window joins and the catalog's snowflake
    * pre-joins gate on the same budget through [[broadcastRows]]):
    * broadcast `df`, known to hold `rows` rows, only when it fits the
    * session's own broadcast budget
    * (`spark.sql.autoBroadcastJoinThreshold` — the same knob that sizes
    * every other broadcast in the plan, so executors provisioned for the
    * session's joins are provisioned for this one too), estimated at
    * `rowBytes` per row (two longs + a short block string + UnsafeRow
    * overhead). A fixed row-count gate was wrong twice over: 4M rows is
    * ~150+ MB — an OOM on executors whose threshold says 10 MB — and the
    * constant lived in two places. Above the budget (or when the caller
    * disabled broadcasts with threshold −1) the join degrades to a
    * shuffle hash join on (block, s), which is correct and merely
    * repartitions the posting stream it was about to shuffle for the
    * candidate join anyway. */
  private def sizeGatedBroadcast(df: DataFrame, rows: Long,
      rowBytes: Long = 48L): DataFrame = {
    val budget = broadcastBudget(df.sparkSession)
    if (budget > 0 && rows * rowBytes <= budget) broadcast(df) else df
  }

  /** How many rows of `schema` fit the session's broadcast budget at
    * Catalyst's per-row size estimate; 0 when broadcasts are disabled. */
  private[graft] def broadcastRows(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): Long = {
    val budget = broadcastBudget(spark)
    val rowBytes = 8L + schema.fields.map(_.dataType.defaultSize.toLong).sum
    if (budget > 0) budget / rowBytes else 0L
  }

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes; ≤ 0
    * when broadcasts are disabled. */
  private def broadcastBudget(spark: SparkSession): Long = {
    // JavaUtils parses every unsigned spelling the conf accepts; the sign
    // is split off first, as Spark's own conf parser does, so −1 disables
    val s = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    try {
      if (s.startsWith("-"))
        -org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s.drop(1))
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
    } catch { case _: NumberFormatException => 10L << 20 }
  }

  /** Candidate (doc_a, doc_b) pairs from prefix postings. The self-join keys
    * on (block, shingle) with the size-ratio prune inlined; the distinct is
    * fused with the position filter: one groupBy picks each pair's FIRST
    * shared canonical token (positions are monotone in the canonical order,
    * so min(pa) finds it), and the PPJoin bound prunes there. `positional =
    * false` degrades to the plain prefix-filter candidate set (spec hook —
    * [[graft.OpsSpec]] asserts the positional bound strictly shrinks it). */
  private[graft] def ssjoinCandidates(prefix: DataFrame, threshold: Double,
      positional: Boolean): DataFrame = {
    val a = prefix.select(col("block").as("block_a"),
      col("doc_id").as("doc_a"), col("n").as("na"), col("s").as("s_a"),
      col("pos").as("pa"))
    val b = prefix.select(col("block").as("block_b"),
      col("doc_id").as("doc_b"), col("n").as("nb"), col("s").as("s_b"),
      col("pos").as("pb"))
    val joined = a.join(b,
      col("block_a") === col("block_b") && col("s_a") === col("s_b") &&
      col("doc_a") < col("doc_b") &&
      // round(…, 9) for the same ulp hazard as the prefix length: a
      // zero-slack pair (|A| = t·|B| exactly) must survive the size prune
      col("na") >= round(col("nb") * threshold, 9) &&
      col("nb") >= round(col("na") * threshold, 9))
    if (!positional) joined.select("doc_a", "doc_b").distinct()
    else joined
      .groupBy("doc_a", "doc_b")
      // both docs' positions are monotone in the shared canonical order, so
      // the first shared token minimizes pa and pb SIMULTANEOUSLY —
      // min(pa) and min(pb) both land on it, making the former
      // min(struct(pa, pb)) equal to (min(pa), min(pb)). Two plain longs
      // keep the aggregation HASH-based with map-side partial aggregation
      // (min over a struct forces SortAggregate: a full sort of the
      // candidate stream — the d04/d19 plans' hottest operator — and no
      // partial-agg collapse before the pair exchange; guide §2.3).
      .agg(min(col("pa")).as("fpa"), min(col("pb")).as("fpb"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      // overlap ≤ 1 + min(na − pa, nb − pb) at the first shared token; the
      // lemma's bound is ⌈t·max(na,nb)⌉ (round(…, 9) snaps product ulps
      // DOWN — an under-ceil only weakens the prune, never loses a pair)
      .where(lit(1) + least(col("na") - col("fpa"),
          col("nb") - col("fpb")) >=
        ceil(round(greatest(col("na"), col("nb")) * threshold, 9)))
      .select("doc_a", "doc_b")
  }

  /** TEXT SIMILARITY SEARCH — top-k most similar documents per query doc by
    * shingle Jaccard, the text-side twin of the embedding kNN family: "find
    * documents like this one" for retrieval/curation UIs and manual dedup
    * review. Inverted-index form: the query docs' postings are a tiny
    * broadcast side; corpus postings join them (work ∝ postings that match
    * a query shingle, never corpus²), per-(query, candidate) overlaps are
    * one hash agg, and the per-query top-k rides the GroupedTopK bounded
    * heaps. Candidates sharing zero shingles never materialize. */
  def similarDocs(docs: DataFrame, queryIds: Seq[Long], k: Int,
      shingleK: Int = 3): DataFrame = {
    require(queryIds.nonEmpty && k > 0, "need query ids and k > 0")
    val sh = docs.select(col("doc_id"), hashedShingles("text", shingleK).as("sh"))
      .where(size(col("sh")) > 0)
      .localCheckpoint()
    val q = sh.where(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("query_id"), explode(col("sh")).as("g"))
    val c = sh.select(col("doc_id").as("cand_id"), explode(col("sh")).as("g"))
    val inter = c.join(broadcast(q), Seq("g"))
      .where(col("cand_id") =!= col("query_id"))
      .groupBy("query_id", "cand_id").agg(count(lit(1)).as("inter"))
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val scored = inter
      .join(broadcast(sizes.where(col("doc_id").isin(queryIds: _*))
        .select(col("doc_id").as("query_id"), col("n").as("nq"))), "query_id")
      .join(sizes.select(col("doc_id").as("cand_id"), col("n").as("nc")),
        "cand_id")
      .withColumn("jaccard",
        col("inter") / (col("nq") + col("nc") - col("inter")))
    graft.plans.GroupedTopK.topK(scored, Seq(col("query_id")),
        Seq(col("jaccard").desc, col("cand_id").asc), k)
      .select("query_id", "rank", "cand_id", "jaccard")
      .orderBy("query_id", "rank")
  }

  /** EDIT-DISTANCE verification of a near-dup candidate pair list — the
    * "expensive verifier on a tiny candidate set" composition: Jaccard-level
    * blocking (LSH) finds the pairs, and character-level Levenshtein
    * confirms/ranks them (shingle Jaccard is order-insensitive; edit
    * distance catches reorderings Jaccard cannot). Levenshtein is O(|a|·|b|)
    * PER PAIR, which is exactly why it must never run on the corpus — here
    * it runs only on the pair list (pair-count-sized ≪ corpus), re-attached
    * to the texts by two skinny joins. Unit-cost Levenshtein is
    * engine-portable; edit_sim = 1 − lev/max(|a|,|b|) is one double
    * division of exact integers. */
  def editVerifiedPairs(docs: DataFrame, pairs: DataFrame): DataFrame =
    pairs.select("doc_a", "doc_b")
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        "doc_b")
      .withColumn("lev", levenshtein(col("ta"), col("tb")))
      .withColumn("edit_sim", lit(1.0) -
        col("lev") / greatest(length(col("ta")), length(col("tb"))))
      .select("doc_a", "doc_b", "lev", "edit_sim")
      .orderBy("doc_a", "doc_b")

  /** Duplicate-cluster resolution: connected components over an undirected
    * near-dup pair graph, labeling every node with the MINIMUM doc id of its
    * component. This is the step a dedup pipeline runs after pair
    * generation — transitive near-dups (a~b, b~c) collapse into one cluster
    * even when a~c was never emitted as a pair, and "keep one per cluster"
    * falls out as `doc_id = cluster_id`.
    *
    * Min-label propagation PLUS pointer jumping per round (relabel through
    * the label's own label): propagation alone needs O(diameter) rounds — a
    * shingled-duplicate CHAIN (each edit one hop from the next) can be long —
    * jumping halves the remaining depth each round, so convergence is
    * O(log diameter) label-table self-joins, all on skinny (node, label)
    * rows. The pair graph itself is only read once per round; no
    * component-sized state ever concentrates on one executor. */
  def duplicateClusters(nodes: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"),
        col("doc_a").as("dst")))
      .localCheckpoint()
    // Only nodes that appear in a pair iterate: a near-dup graph touches a
    // small fraction of the corpus, and the untouched rest are singleton
    // clusters by definition — they must not ride every round's shuffle.
    // (sym is symmetric, so src alone covers every endpoint.)
    val touched = sym.select(col("src").as("node")).distinct()
      .localCheckpoint()
    var labels = touched.select(col("node"), col("node").as("label"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 32) {
      // 1-hop min propagation over the edges
      val prop = sym.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      // materialized: feeds both sides of the jumping self-join
      val hopped = labels.unionByName(prop)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint()
      // pointer jumping: follow the label to ITS label (label(x) <= x is an
      // invariant, so the joined label can only be smaller)
      val next = hopped.as("a")
        .join(hopped.as("b"), col("a.label") === col("b.node"))
        .select(col("a.node").as("node"), col("b.label").as("label"))
        .localCheckpoint()
      changed = next.as("n").join(labels.as("o"), col("n.node") === col("o.node"))
        .where(col("n.label") =!= col("o.label")).count()
      // fresh attribute ids: next/labels share lineage across rounds, which
      // trips Union constraint rewriting (see ParentChild.closure)
      labels = next.sparkSession.createDataFrame(next.rdd, next.schema)
      rounds += 1
    }
    val singletons = nodes.select(col(idCol).as("node"))
      .join(touched, Seq("node"), "left_anti")
      .select(col("node"), col("node").as("label"))
    labels.unionByName(singletons)
      .select(col("node").as(idCol), col("label").as("cluster_id"))
  }

  /** TOMBSTONE DELETE with incremental cluster maintenance — the
    * right-to-be-forgotten pass a production corpus service runs against
    * its standing dedup artifacts (the delete-side complement of the
    * ingest-side [[lshDeltaPairs]]): given the memoized near-dup pair
    * frame and cluster labeling, remove the deleted documents and repair
    * the labeling WITHOUT re-clustering the corpus.
    *
    * Pairs between two survivors are deletion-invariant (a pair is a
    * property of its two documents), so the pair frame just anti-joins the
    * tombstones. Cluster labels are NOT filter-stable: deleting a cut
    * vertex splits its component, and deleting a component's minimum id
    * re-canonicalizes it — so connected components re-run, but ONLY on the
    * touched components (those containing a tombstone); every untouched
    * component keeps its label with zero recompute. Delete batches are
    * tiny against the corpus, so the re-clustered subgraph is
    * touched-component-sized — the incremental win that makes per-batch
    * deletes affordable at 100 TB.
    *
    * Output: the surviving corpus's (idCol, cluster_id) — bit-equal to
    * [[duplicateClusters]] recomputed from scratch on the filtered corpus
    * and filtered pairs (OpsSpec pins split, re-canonicalization, and
    * untouched-label stability).
    *
    * Shape at scale: tombstones broadcast into the anti/semi joins; the
    * only iterative work is [[duplicateClusters]] on the touched subgraph
    * (skinny label rows, O(log diameter) rounds). */
  def tombstoneDelete(nodes: DataFrame, deletes: DataFrame, idCol: String,
      pairs: DataFrame, clusters: DataFrame): DataFrame = {
    // Survivors are derived from the standing `clusters` artifact, so a
    // node missing from it (a stale artifact that predates an ingest)
    // would silently VANISH from the output — fail loudly instead. One
    // skinny anti-join scan per delete batch, same cost class as the
    // repair joins below.
    val stale = nodes.select(col(idCol))
      .join(clusters.select(col(idCol)), Seq(idCol), "left_anti").count()
    require(stale == 0L,
      s"clusters artifact is stale: $stale node(s) in the corpus have no " +
        "cluster label — rebuild duplicateClusters before applying deletes")
    val del = broadcast(deletes.select(col(idCol).as("__del")).distinct())
    val survivingPairs = pairs
      .join(del, col("doc_a") === col("__del"), "left_anti")
      .join(del, col("doc_b") === col("__del"), "left_anti")
    // components holding a tombstone: only these need re-clustering
    val touched = clusters
      .join(del, col(idCol) === col("__del"), "left_semi")
      .select(col("cluster_id")).distinct()
    val keep = clusters
      .join(touched, Seq("cluster_id"), "left_anti")
      .select(col(idCol), col("cluster_id"))
    val subNodes = clusters
      .join(touched, Seq("cluster_id"), "left_semi")
      .join(del, col(idCol) === col("__del"), "left_anti")
      .select(col(idCol))
    val subPairs = survivingPairs
      .join(subNodes.select(col(idCol).as("doc_a")), Seq("doc_a"),
        "left_semi")
    keep.unionByName(
        duplicateClusters(subNodes, idCol, subPairs)
          .select(col(idCol), col("cluster_id")))
      .orderBy(idCol)
  }

  /** SOFT DEDUPLICATION — down-weight duplicates instead of dropping them
    * (the "commonness reweighting" alternative to hard dedup, e.g. He et
    * al. 2024, SoftDedup): each document keeps full coverage in the
    * training mix but carries sampling weight `1/|cluster|`, so a
    * duplicate cluster contributes exactly one document's worth of
    * sampling mass and the loader's effective token count per doc is
    * `n_tokens/|cluster|`. Input `clusters` is [[duplicateClusters]]'s
    * (doc_id, cluster_id) frame. One partitioned window for the cluster
    * size (cluster-keyed, no skew beyond the largest dup cluster) and one
    * doc-keyed join for the token counts — no driver-side state. */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val sized = clusters.withColumn("cluster_size",
      count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    sized.join(toks, "doc_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (lit(1.0) / col("cluster_size").cast("double")).as("weight"),
        ((lit(1.0) / col("cluster_size").cast("double")) *
          col("n_tokens").cast("double")).as("eff_tokens"))
      .orderBy("doc_id")
  }

  /** LEAKAGE-FREE train/valid/test split: hash-split at the DUPLICATE-
    * CLUSTER level ([[duplicateClusters]]), not the document level — every
    * member of a near-dup cluster lands in the SAME split, so a paraphrase
    * of a test document can never leak into train (the contamination a
    * doc-level split like `TextOps.hashSplit` cannot rule out). The bucket
    * hashes the cluster label with the same md5-conv recipe as
    * `TextOps.hashSplitAssign` (prefixed so cluster buckets and doc buckets
    * decorrelate), keeping the assignment stable under reshuffling,
    * re-partitioning, and re-runs. Pure map over the cluster table — no
    * joins, no shuffles beyond what cluster construction already paid (and
    * that table is a memoized per-ingest artifact). */
  def leakageFreeSplit(clusters: DataFrame, trainPct: Int = 80,
      validPct: Int = 10): DataFrame = {
    require(trainPct + validPct < 100, "train+valid must leave room for test")
    clusters
      .withColumn("bucket", expr(
        "CAST(CAST(conv(substr(md5(concat('c:', CAST(cluster_id AS STRING)" +
          ")), 1, 4), 16, 10) AS INT) % 100 AS INT)"))
      .withColumn("split", when(col("bucket") < trainPct, "train")
        .when(col("bucket") < trainPct + validPct, "valid")
        .otherwise("test"))
      .orderBy("doc_id")
  }

  /** One representative doc per duplicate cluster (the min-id member). */
  def keepClusterRepresentative(docs: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame =
    docs.join(clusters.where(col(idCol) === col("cluster_id"))
      .select(col("cluster_id")), docs(idCol) === col("cluster_id"))
      .drop("cluster_id")

  /** REPEATED-SPAN profile — the per-document signal behind exact-substring
    * dedup (the MassiveText/RefinedWeb "remove repeated passages" pass):
    * for every document, how many of its distinct k-word spans also occur in
    * at least one other document. Documents dominated by corpus-repeated
    * spans (boilerplate, templated text, near-copies) surface with a high
    * `dup_span_frac` and get dropped or trimmed downstream.
    *
    * Scale shape: spans ride as xxhash64 longs (8 bytes, one-pass native
    * expression); work is one shuffle keyed on the span hash (counts combine
    * map-side, so hot boilerplate spans don't skew) plus one shuffle back on
    * doc_id — work ∝ total tokens, never pairwise. Span occurrence counts
    * are invariant under the injective hash, so the string-span DuckDB
    * oracle matches exactly. */
  def dupSpanStats(docs: DataFrame, k: Int = 10): DataFrame = {
    val sh = docs.select(col("doc_id"), hashedShingles("text", k).as("sh"))
    val g = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    // spans are distinct per doc, so count(1) counts distinct documents
    val dup = g.groupBy("g").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("g")
    val hits = g.join(dup, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("shared_grams"))
    sh.select(col("doc_id"), size(col("sh")).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("shared_grams", coalesce(col("shared_grams"), lit(0L)))
      .withColumn("dup_span_frac",
        col("shared_grams").cast("double") / greatest(col("n_grams"), lit(1)))
      .orderBy("doc_id")
  }

  /** Production sizing for [[embeddingNearDupAll]]'s hyperplane tables:
    * within-bucket pair work is Σ bucket² ≈ n²/2^bits on spread data, so
    * FIXED bits turn a 10× corpus into ~100× pair work (the 4.7× observed
    * slope in BENCH_sf1.json at constant demo bits) — growing bits with
    * `⌈log₂(n / targetBucket)⌉` pins expected bucket population at
    * `targetBucket` and keeps total pair work linear in n. Recall at larger
    * bits is bought back with more OR-amplified `tables` (linear map-side
    * cost), not bigger buckets. */
  def suggestedLshBits(n: Long, targetBucket: Int = 64): Int = {
    require(n > 0 && targetBucket > 0, "need n > 0 and targetBucket > 0")
    math.max(1, math.ceil(
      math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt)
  }

  /** The table count that completes [[suggestedLshBits]]: growing bits keeps
    * pair work linear but shrinks per-table recall geometrically (a plane
    * splits a θ-apart pair with probability θ/π, so one table catches it
    * with p^bits, p = 1 − θ/π), and OR-amplified tables buy it back —
    * P[miss all] = (1 − p^bits)^T. Solving for T at a design point
    * (`targetCos` = the similarity the pipeline must not miss,
    * `targetRecall` = per-pair find probability) gives
    * T = ⌈ln(1 − R) / ln(1 − p^bits)⌉. Table cost is map-side linear
    * (n·T bucket keys) — never pairwise — which is exactly the trade the
    * scale path wants: work_pairs ≈ T·n²/2^bits stays ~linear in n when
    * bits follow log₂(n/targetBucket). Capped at 64 tables (past that the
    * design point is wrong — lower bits instead). */
  def suggestedLshTables(bits: Int, targetCos: Double = 0.9,
      targetRecall: Double = 0.95): Int = {
    require(bits >= 1 && targetCos > -1 && targetCos < 1 &&
      targetRecall > 0 && targetRecall < 1, "bad LSH table design point")
    val p = 1.0 - math.acos(targetCos) / math.Pi
    val pBucket = math.pow(p, bits)
    val t = math.ceil(math.log1p(-targetRecall) / math.log1p(-pBucket))
    math.min(64, math.max(1, t.toInt))
  }

  /** FULL-CORPUS embedding near-dup — the scale composition the blocked
    * primitive [[embeddingNearDupPairs]] defers to: hyperplane-LSH buckets
    * are the blocking key, so no label/caller block is needed and the only
    * quadratic work is within a bucket (~n/2^bits vectors on random data).
    * `tables` independent hash tables OR-amplify recall (a qualifying pair
    * is found if it collides in ANY table) the way MinHash banding does for
    * Jaccard — more tables buy recall linearly in map-side work, never
    * pairwise work.
    *
    * Scale shape: the cosine verify runs INLINE in the bucket self-join —
    * vectors ride the n·T bucket rows (the only shuffled frame), and the
    * T·n²/2^bits candidate-pair stream exists only inside the join stage
    * (codegen'd dot + threshold filter consume it as it is produced; it
    * never materializes or shuffles). Cross-table duplicate pairs dedup
    * AFTER the filter, on the survivor-sized result. This inverts the
    * skinny-pairs-then-re-attach discipline the text-side joins use
    * ([[minhashLshPairs]]): a threshold verify at near-dup cosines is
    * survivor-SPARSE, so shuffling the (huge) candidate list three times
    * to attach arrays costs far more than carrying each vector once per
    * table — the ScaleSweep measured the re-attach form at ~60× this plan
    * at 100× scale (505 s → 8.5 s for 200k vectors, 18 tables, 12 bits). At corpus scale, size `bits` ≈ log₂(n / targetBucket)
    * so bucket population stays bounded as the corpus grows, and `tables`
    * to buy the recall back ([[suggestedLshBits]], [[suggestedLshTables]]
    * — the sizing ScaleSweep's auto rows compute). Deterministic planes
    * (seeded per table) make the whole operator replayable in SQL — this
    * query carries a full DuckDB oracle. */
  def embeddingNearDupLshPairs(emb: DataFrame, threshold: Double,
      bits: Int = 6, tables: Int = 2, dim: Int = 64): DataFrame = {
    // localCheckpoint: the cast + bucketing map feeds both join sides
    val e = emb.select(col("vec_id"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
      .localCheckpoint()
    val bucketCols = (0 until tables).map { t =>
      val planes = Similarity.hyperplanes(dim, bits, seed = 42L + t)
      struct(lit(t).as("t"), Similarity.lshBucket(col("v"), planes).as("b"))
    }
    val keyed = e.select(col("vec_id"), col("v"),
      explode(array(bucketCols: _*)).as("bk"))
    keyed.select(col("bk").as("bk_a"), col("vec_id").as("vec_a"),
        col("v").as("v_a"))
      .join(keyed.select(col("bk").as("bk_b"), col("vec_id").as("vec_b"),
        col("v").as("v_b")),
        col("bk_a") === col("bk_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos", Similarity.dot(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos").distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** REPEATED-SPAN TRIMMING — the transform [[dupSpanStats]] only profiles:
    * rewrite each document with every corpus-repeated k-token span REMOVED
    * (the MassiveText/RefinedWeb "remove repeated passages" pass). A span
    * is repeated when it occurs in ≥ 2 documents; every token position
    * covered by any repeated span is dropped, and the survivors rejoin in
    * order.
    *
    * Scale shape: positions explode ∝ tokens, coverage explode ∝ k·hits —
    * all shuffles key on span or doc_id, nothing pairwise; per-doc
    * reassembly sorts only that doc's own surviving tokens (array_sort of
    * a collect_list — doc-sized, the same bound as holding the document).
    * Spans travel as strings so the SQL oracle replays every step
    * verbatim. */
  def trimRepeatedSpans(docs: DataFrame, k: Int = 10): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"),
      split(col("text"), " ").as("w"))
    // (doc_id, pos, span): pos is 1-based; docs shorter than k have none
    val sp = d.select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(w) < $k THEN
           |  CAST(array() AS ARRAY<STRUCT<pos: INT, span: STRING>>)
           |ELSE transform(sequence(1, size(w) - ${k - 1}),
           |  i -> struct(i AS pos, concat_ws(' ', slice(w, i, $k)) AS span))
           |END""".stripMargin)).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.span").as("span"))
    val shared = sp.groupBy("span")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select("span")
    // cov's key is `cdoc`: cov and toks both derive from `d`, so a shared
    // `doc_id` name would make the join condition trivially true
    val cov = sp.join(shared, "span")
      .select(col("doc_id").as("cdoc"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("cpos"))
      .distinct()
    val toks = d.select(col("doc_id"),
        posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val kept = toks.join(cov,
        col("doc_id") === col("cdoc") && col("pos") === col("cpos"),
        "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(pos, tok))), s -> s.tok), ' ')").as("trimmed_text"))
    d.select(col("doc_id"), size(col("w")).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)).cast("int"))
          .as("n_removed"),
        coalesce(col("trimmed_text"), lit("")).as("trimmed_text"))
      .orderBy("doc_id")
  }

  /** EXACT-SUBSTRING DEDUPLICATION (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * operator, published standard the 10-gram span trim of
    * [[trimRepeatedSpans]] approximates): every token span of length ≥
    * `minLen` that occurs MORE THAN ONCE in the corpus (across documents
    * OR repeated within one) is removed from every occurrence except the
    * globally first. The identity "a position lies inside a duplicated
    * span of length ≥ L iff some duplicated L-token window covers it"
    * reduces the suffix-array construction the paper uses to a windowed
    * hash-group — the distributed form: no suffix array, no single
    * partition ever holds more than its own documents.
    *
    * Differences from [[trimRepeatedSpans]] (both deliberate):
    *  - windows travel as 64-BIT HASHES (16-byte rows — at 100 TB the
    *    window shuffle is the cost center and L-token strings would be a
    *    ~12× wider shuffle); occurrences sharing a hash re-materialize
    *    their strings and verify by EXACT string equality, so a hash
    *    collision can only add a verification candidate, never a false
    *    trim — exactness is preserved;
    *  - repeats WITHIN one document count (count ≥ 2 occurrences, not ≥ 2
    *    documents) — the paper dedups self-repeats too;
    *  - the canonical occurrence (min (doc_id, pos)) KEEPS its text —
    *    "remove all but one occurrence", where trimRepeatedSpans removes
    *    every occurrence.
    *
    * Scale shape: window hashes explode ∝ tokens (map-side, skinny);
    * duplicated hashes are a hash-agg; string verification touches only
    * candidate occurrences; coverage explodes ∝ L · non-canonical hits;
    * per-doc reassembly sorts only that doc's own tokens. All shuffles
    * key on hash, span, or doc_id — nothing pairwise, no driver state. */
  def exactSubstringDedup(docs: DataFrame, minLen: Int = 20): DataFrame = {
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .localCheckpoint() // feeds windows, verify, reassembly
    val sp = d.select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(w) < $minLen THEN
           |  CAST(array() AS ARRAY<STRUCT<pos: INT, h: BIGINT>>)
           |ELSE transform(sequence(1, size(w) - ${minLen - 1}),
           |  i -> struct(i AS pos,
           |    xxhash64(concat_ws(' ', slice(w, i, $minLen))) AS h))
           |END""".stripMargin)).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.h").as("h"))
    val dupH = sp.groupBy("h").agg(count(lit(1)).as("nh"))
      .where(col("nh") >= 2).select("h")
    // candidate occurrences re-slice their window strings for the exact
    // verify (the only place strings shuffle — duplicated windows only)
    val cand = sp.join(dupH, "h").join(d, "doc_id")
      .select(col("doc_id"), col("pos"),
        expr(s"concat_ws(' ', slice(w, pos, $minLen))").as("span"))
    val spanAgg = cand.groupBy("span")
      .agg(count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .where(col("n") >= 2)
    val cov = cand.join(spanAgg, "span")
      .where(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos"))) // canonical occurrence survives
      .select(col("doc_id").as("cdoc"), // see trimRepeatedSpans
        explode(expr(s"sequence(pos, pos + ${minLen - 1})")).as("cpos"))
      .distinct()
    val toks = d.select(col("doc_id"),
        posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val kept = toks.join(cov,
        col("doc_id") === col("cdoc") && col("pos") === col("cpos"),
        "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(pos, tok))), s -> s.tok), ' ')").as("dedup_text"))
    d.select(col("doc_id"), size(col("w")).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)).cast("int"))
          .as("n_removed"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
      .orderBy("doc_id")
  }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023): k-means clusters are the
    * blocking key, and within each cluster every document whose cosine to a
    * SMALLER-id cluster-mate reaches `threshold` is dropped. NOTE the rule
    * here is drop-on-ANY-smaller-id-neighbor — a deterministic SUPERSET of
    * the paper's greedy keep-first deletions (a chain A~B, B~C, A≁C keeps
    * only A here, where the greedy scan keeps A and C); see
    * [[semanticDedupGreedy]] for the paper-exact rule computed as a bounded
    * fixpoint. Exact near-dups collapse like MinHash
    * dedup would, but so do paraphrases and translations that share no
    * n-grams — the semantic layer of a dedup stack, run AFTER exact/fuzzy
    * text dedup on the survivors.
    *
    * Scale shape: assignment is map-only for k ≤ 64 and a broadcast join +
    * n-row partial-aggregate shuffle above (see
    * [[Similarity.kmeansAssignWith]]; centroids stay k×dim doubles,
    * driver-sized by construction); the only quadratic work is the
    * within-cluster pair join, which is the SemDeDup design point — k grows
    * ∝ corpus so cluster populations stay bounded (the paper runs n/k ≈
    * const). Centroids come from the deterministic decimal k-means
    * ([[Similarity.kmeansCentroids]], memoized per ingest in [[IndexCache]]),
    * so the whole operator replays exactly in SQL.
    *
    * Output: one row per vector — its cluster and kept = 1 (survivor) or 0
    * (semantic duplicate of a smaller-id cluster-mate). */
  def semanticDedup(emb: DataFrame, cs: Array[Array[Double]],
      threshold: Double): DataFrame = {
    // localCheckpoint: feeds both pair-join sides + the final kept join
    val e = Similarity.withNearestCluster(
        emb.select(col("vec_id"),
          expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v")), cs, "cluster")
      .localCheckpoint()
    val a = e.select(col("cluster").as("cl_a"), col("vec_id").as("va"),
      col("v").as("v_a"))
    val b = e.select(col("cluster").as("cl_b"), col("vec_id").as("vb"),
      col("v").as("v_b"))
    val dups = a.join(b, col("cl_a") === col("cl_b") && col("va") < col("vb"))
      .withColumn("cos", Similarity.dot(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select(col("vb").as("vec_id")).distinct()
    e.join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dup").isNull, lit(1)).otherwise(lit(0)).as("kept"))
      .orderBy("vec_id")
  }

  /** TRUE SemDeDup greedy keep-first (Abbas et al. 2023, the paper's rule):
    * process vectors in id order, keep one iff it has no previously-KEPT
    * cluster-mate at cos ≥ threshold. [[semanticDedup]]'s simpler rule drops
    * on ANY smaller-id neighbor (kept or not), which over-deletes transitive
    * chains: A~B, B~C, A≁C keeps only A where the greedy rule keeps A and C.
    *
    * The sequential scan is computed as a bounded fixpoint over the
    * within-cluster pair list: round 0 keeps every vector with no smaller
    * neighbor; each later round drops vectors with a KEPT smaller neighbor
    * and keeps those whose smaller neighbors are ALL decided-dropped. Each
    * round is one join + groupBy over the (skinny) pair frame — never the
    * corpus — and the round count bounds the neighbor-chain depth, which in
    * a threshold graph is short (chains need monotone ids along similarity
    * edges). Rounds are UNROLLED, so the DuckDB oracle replays them CTE for
    * CTE (the t14/t23 convention); a non-converged vector would carry the
    * same null in both engines (and [[graft.OpsSpec]] asserts convergence at
    * gate scale).
    *
    * Output: one row per vector — cluster, kept = 1 (greedy survivor) or 0.
    */
  def semanticDedupGreedy(emb: DataFrame, cs: Array[Array[Double]],
      threshold: Double, rounds: Int = 6): DataFrame = {
    val e = Similarity.withNearestCluster(
        emb.select(col("vec_id"),
          expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v")), cs, "cluster")
      .localCheckpoint()
    val a = e.select(col("cluster").as("cl_a"), col("vec_id").as("va"),
      col("v").as("v_a"))
    val b = e.select(col("cluster").as("cl_b"), col("vec_id").as("vb"),
      col("v").as("v_b"))
    val pairs = a.join(b, col("cl_a") === col("cl_b") && col("va") < col("vb"))
      .where(Similarity.dot(col("v_a"), col("v_b")) >= threshold)
      .select("va", "vb")
      .localCheckpoint()
    // kept: 1 survivor, 0 dropped, null undecided
    var st = e.select("vec_id")
      .join(pairs.select(col("vb").as("vec_id")).distinct()
        .withColumn("__has_smaller", lit(1)), Seq("vec_id"), "left")
      .withColumn("kept",
        when(col("__has_smaller").isNull, lit(1)).otherwise(lit(null)))
      .select("vec_id", "kept")
    for (_ <- 1 to rounds) {
      val nb = pairs
        .join(st.select(col("vec_id").as("va"), col("kept").as("ka")), "va")
        .groupBy("vb").agg(
          max("ka").as("__any_kept"), // MAX ignores nulls (undecided)
          min(when(col("ka").isNotNull, 1).otherwise(0)).as("__all_decided"))
      st = st
        .join(nb.withColumnRenamed("vb", "vec_id"), Seq("vec_id"), "left")
        .withColumn("kept",
          when(col("kept").isNotNull, col("kept"))
            .when(col("__any_kept") === 1, lit(0))
            .when(col("__all_decided") === 1, lit(1))
            .otherwise(lit(null)))
        .select("vec_id", "kept")
        .localCheckpoint() // truncate per-round lineage
    }
    e.select("vec_id", "cluster").join(st, "vec_id")
      .select(col("vec_id"), col("cluster"), col("kept").cast("int"))
      .orderBy("vec_id")
  }

  /** CROSS-SOURCE OVERLAP MATRIX — pairwise shingle-set Jaccard between
    * corpus SOURCES (the "how much does crawl A repeat crawl B" question a
    * curation pipeline answers before mixing sources; the same statistic
    * drives the dedup-before-mixing decision in e.g. RefinedWeb/Dolma-style
    * corpus reports). For every source pair (a < b):
    * `inter` = |shingles(a) ∩ shingles(b)|, `union_n` = |A|+|B|−inter,
    * `jaccard` = inter/union.
    *
    * Scale shape: one distinct over (source, shingle-hash) — map-side
    * partial, shuffled on the hash; per-source sizes are a |sources|-row
    * aggregate broadcast back; intersections come from a self-equi-join on
    * the shingle hash whose per-key fan-out is bounded by
    * (|sources| choose 2) — a CONSTANT per shingle, so total pair rows are
    * linear in distinct shingles, never corpus-quadratic. A stopword
    * shingle present in every source contributes exactly one count to each
    * of the 190 cells, not a blow-up. Same hashed-shingle trick as
    * [[hashedShingles]]: intersection/union SIZES are hash-invariant, so
    * Jaccard over 64-bit longs equals Jaccard over strings while the join
    * runs on longs. */
  def sourceOverlapMatrix(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = docs
      .select(col("source"), explode(hashedShingles("text", k)).as("sh"))
      .distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val a = sh.select(col("sh").as("sh_a"), col("source").as("source_a"))
    val b = sh.select(col("sh").as("sh_b"), col("source").as("source_b"))
    a.join(b, col("sh_a") === col("sh_b") &&
        col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_n"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter")))
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Embedding cosine near-dup pairs within a blocking key. Embeddings are
    * L2-normalized, so cosine = dot product (sequential double fold — matches
    * the DuckDB oracle bit-for-bit). */
  def embeddingNearDupPairs(emb: DataFrame, blockCol: String,
      threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), col(blockCol).as("block"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
    val a = e.select(col("block").as("block_a"), col("vec_id").as("vec_a"),
      col("v").as("v_a"))
    val b = e.select(col("block").as("block_b"), col("vec_id").as("vec_b"),
      col("v").as("v_b"))
    a.join(b, col("block_a") === col("block_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos", Similarity.dot(col("v_a"), col("v_b")))
      .where(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }
}
