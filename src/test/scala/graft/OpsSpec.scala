package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._
import SparkTestSession.{catalog => cat, spark}

/** LLM-pipeline operator tests: dedup invariants, ANN recall vs brute force,
  * sessionization gap properties, multimodal plumbing. */
class OpsSpec extends AnyFunSuite {

  private lazy val docs = cat.table("documents")
  private lazy val emb = cat.table("embeddings")

  /** Documents with an exact duplicate injected — near-dup detectors must
    * find the planted pair. */
  private lazy val docsWithDup = {
    val clone = docs.where(col("doc_id") === 7L)
      .withColumn("doc_id", lit(100007L))
    docs.unionByName(clone)
  }

  test("minhash LSH finds a planted exact duplicate with jaccard 1.0") {
    val pairs = Dedup.minhashLshPairs(docsWithDup, 3, 32, 4, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(pairs.exists { case (a, b, j) => a == 7L && b == 100007L && j == 1.0 })
  }

  test("minhash estimate approximates true jaccard") {
    val rows = Dedup.minhashLshPairs(docs, 3, 32, 4, 0.0).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 0.35,
        s"est ${r.getDouble(2)} vs true ${r.getDouble(3)}")
    }
  }

  test("simhash of identical docs has hamming 0; planted pair found") {
    val pairs = Dedup.simhashPairs(docsWithDup, 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 7L && r.getLong(1) == 100007L &&
      r.getInt(2) == 0))
  }

  test("Md5Halves equals the conv(substr(md5)) SQL form bit-for-bit " +
      "(the d03/t42 oracle contract rides the declarative spelling)") {
    import spark.implicits._
    // real tokens plus edge shapes: empty string, multi-byte UTF-8, a long
    // string, and strings whose digests start with high/zero nibbles
    val samples = (Seq("", "a", "the", "Zürich", "日本語テスト",
      "x" * 4096) ++ (0 until 200).map(i => s"tok$i word$i")).toDF("s")
    val mismatch = samples
      .withColumn("hl", graft.functions.Md5Halves.md5Halves(col("s")))
      .where(expr("hl.hi != CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT)" +
        " OR hl.lo != CAST(conv(substr(md5(s), 9, 8), 16, 10) AS BIGINT)"))
      .count()
    assert(mismatch == 0)
  }

  test("simhash combo blocks are pigeonhole-complete for Hamming <= 3") {
    import spark.implicits._
    // flip d random bits (every d in 0..3, deterministic seed) — the pair
    // MUST share at least one 2-block combination key
    val rnd = new scala.util.Random(42)
    val pairs = (0 until 200).map { i =>
      val x = rnd.nextLong()
      val d = i % 4
      val flips = rnd.shuffle((0 until 64).toList).take(d)
      (x, flips.foldLeft(x)((v, b) => v ^ (1L << b)))
    }
    val keyed = pairs.toDF("fa", "fb")
      .withColumn("ka", Dedup.simhashBlockKeys("fa", 3))
      .withColumn("kb", Dedup.simhashBlockKeys("fb", 3))
      .select(expr("arrays_overlap(ka, kb)").as("hit"))
      .collect()
    assert(keyed.forall(_.getBoolean(0)), "a Hamming<=3 pair missed all blocks")
  }

  test("simhash candidate generation stays ~linear as the corpus doubles") {
    import spark.implicits._
    // deterministic pseudo-random fingerprints: no true near-dups, so every
    // candidate is a block-key collision. The retired 4x16-bit chunk scheme
    // would yield ~C(n,2)*4/2^16 candidates (~1950 at n=8000); the combo-block
    // keys carry ~26 bits, keeping collisions near zero — and the absolute
    // count, not just the growth rate, is what survives a 100 TB corpus.
    def candidates(n: Int): Long = {
      val fp = spark.range(n).selectExpr("id AS doc_id", "xxhash64(id) AS sh")
      val keyed = fp.select(col("doc_id"),
        explode(Dedup.simhashBlockKeys("sh", 3)).as("bk"))
      keyed.select(col("bk").as("bk_a"), col("doc_id").as("doc_a"))
        .join(keyed.select(col("bk").as("bk_b"), col("doc_id").as("doc_b")),
          col("bk_a") === col("bk_b") && col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct().count()
    }
    val c1 = candidates(4000)
    val c2 = candidates(8000)
    assert(c2 < 100, s"quadratic blowup: $c2 candidates from 8000 random docs")
    assert(c2 <= 4 * c1 + 50, s"superlinear growth: $c1 -> $c2")
  }

  test("prefix-filtered jaccard equals brute force on a stopword-heavy corpus") {
    import spark.implicits._
    // every doc shares a hot boilerplate phrase (stopword-like shingles);
    // some docs are genuine near-dups of each other
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = (0L until 40L).map { i =>
      val tail =
        if (i % 10 == 3) s"unique payload ${i - 1} alpha beta gamma delta"
        else s"unique payload $i alpha beta gamma delta"
      (i, "en", s"$boiler $tail")
    }.toDF("doc_id", "lang", "text")
    val fast = Dedup.ngramJaccardPairs(corpus, 3, "lang", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force: all pairs within the block, exact jaccard
    val sh = corpus.select(col("doc_id"),
      Dedup.hashedShingles("text", 3).as("sh"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter", expr("size(array_intersect(a.sh, b.sh))"))
      .withColumn("j",
        expr("inter / (size(a.sh) + size(b.sh) - inter)"))
      .where(col("j") >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id"), col("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == brute)
    assert(fast.nonEmpty) // the planted near-dups were found
  }

  test("incremental LSH delta equals batch over the union") {
    // old corpus = ids < 350, delta = the rest; the delta run against the
    // stored index must produce exactly the batch pairs that touch a delta
    // doc, and the grown index must equal a from-scratch build
    val all = docs
    val old = all.where(col("doc_id") < 350)
    val delta = all.where(col("doc_id") >= 350)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(3))
    val batchAll = Dedup.minhashLshPairs(all, 3, 32, 4, 0.5).collect()
      .map(key).toSet
    val batchOld = Dedup.minhashLshPairs(old, 3, 32, 4, 0.5).collect()
      .map(key).toSet
    val (dp, grown) = Dedup.lshDeltaPairs(
      Dedup.lshIndex(old, 3, 32, 4), delta, 3, 32, 4, 0.5)
    val deltaPairs = dp.collect().map(key).toSet
    deltaPairs.foreach { case (a, b, _) =>
      assert(a >= 350 || b >= 350, "every delta pair touches a delta doc")
    }
    assert(batchOld ++ deltaPairs == batchAll)
    assert(grown.postings.count() ==
      Dedup.lshIndex(all, 3, 32, 4).postings.count())
  }

  test("zero-slack pair (|A| = t·|B| exactly) survives prefix + size prune") {
    import spark.implicits._
    // B = 12 distinct words → 10 shingles; A = B's first 9 words → 7
    // shingles, all shared. J = 7/10 = 0.7 exactly. Regression for the
    // double-arithmetic ulp: ceil(10 × 0.7) evaluated as
    // ceil(7.000000000000001) = 8, shortening the prefix below the lemma's
    // bound, and the size prune compared na ≥ nb·t against the same
    // too-high product — both dropped exactly this zero-slack pair.
    val words = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima").split(" ")
    val docs = Seq(
      (1L, "en", words.take(9).mkString(" ")),
      (2L, "en", words.mkString(" "))).toDF("doc_id", "lang", "text")
    val rows = Dedup.ngramJaccardPairs(docs, 3, "lang", 0.7).collect()
    assert(rows.length == 1, "the J = t pair must be found")
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 2L)
    assert(rows(0).getDouble(2) == 0.7)
  }

  test("prefix length is integer-safe: n=10, t=0.7 keeps 4 postings") {
    import spark.implicits._
    val sh = Seq((0L, "b", (1L to 10L).toArray)).toDF("doc_id", "block", "sh")
      .withColumn("n", size(col("sh")))
    val kept = Dedup.prefixPostings(sh, 0.7).count()
    assert(kept == 4L,
      s"prefix must keep n − ⌈t·n⌉ + 1 = 10 − 7 + 1 postings, got $kept")
  }

  test("prefix filter shrinks postings; hottest shingles are the ones dropped") {
    import spark.implicits._
    val boiler = Seq.fill(6)("lorem ipsum dolor sit amet").mkString(" ")
    val corpus = (0L until 30L).map(i =>
      (i, "en", s"$boiler tail $i ${i * 7} ${i * 13}")).toDF("doc_id", "lang", "text")
    val sh = corpus.select(col("doc_id"), col("lang").as("block"),
      Dedup.hashedShingles("text", 3).as("sh"))
      .withColumn("n", size(col("sh")))
    val full = sh.select(col("block"), col("doc_id"), col("n"),
      explode(col("sh")).as("s"))
    val pref = Dedup.prefixPostings(sh, 0.8)
    assert(pref.count() < (full.count() * 0.5).toLong,
      "prefix filter should drop most postings at t=0.8")
    // the postings that survive are the RARE ones: max df among kept postings
    // is no greater than min df among any doc's dropped postings
    val dfreq = full.groupBy("block", "s").agg(count(lit(1)).as("df"))
    val keptMax = pref.join(dfreq, Seq("block", "s"))
      .agg(max("df")).collect()(0).getLong(0)
    val hotDf = dfreq.agg(max("df")).collect()(0).getLong(0)
    assert(hotDf == 30L) // boilerplate shingles appear in every doc
    assert(keptMax < hotDf, "hot shingles must not survive the prefix")
  }

  test("PPJoin position filter shrinks candidates, loses no qualifying pair") {
    import spark.implicits._
    // The position bound only adds pruning on SIZE-MISMATCHED pairs whose
    // shared token sits near the end of the small doc's prefix (for equal
    // sizes, shared-in-both-prefixes already implies the bound holds). 20
    // (small, big) pairs share a per-pair bridge trigram (df=2 — rare, so
    // it SURVIVES both prefixes) plus a global hot boiler (df=40 — cut by
    // the prefix). Small n=12, big n=24 at t=0.2: the bridge lands at
    // pa=10 of the small prefix (len 10) and pb=19 of the big (len 20), so
    // 1 + min(12−10, 24−19) = 3 < ⌈0.2·24⌉ = 5 — positionally pruned,
    // while the plain prefix join admits all 20.
    val corpus = (0L until 20L).flatMap { i =>
      val small = (1 to 5).map(j => s"ua$i-$j").mkString(" ") +
        s" x$i b$i-1 b$i-2 b$i-3 z$i h1 h2 h3 h4"
      val big = (1 to 14).map(j => s"ub$i-$j").mkString(" ") +
        s" y$i b$i-1 b$i-2 b$i-3 w$i h1 h2 h3 h4 h5 h6 h7"
      Seq((i, "en", small), (i + 100L, "en", big))
    }.toDF("doc_id", "lang", "text")
    val sh = corpus.select(col("doc_id"), col("lang").as("block"),
      Dedup.hashedShingles("text", 3).as("sh"))
      .withColumn("n", size(col("sh")))
    val prefix = Dedup.prefixPostings(sh, 0.2)
    val plain = Dedup.ssjoinCandidates(prefix, 0.2, positional = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pos = Dedup.ssjoinCandidates(prefix, 0.2, positional = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pos.subsetOf(plain))
    assert(pos.size < plain.size,
      s"position filter must prune candidates (${plain.size} -> ${pos.size})")
    // specifically: every (small, big) bridge pair is admitted by the plain
    // prefix join and rejected by the position bound
    (0L until 20L).foreach { i =>
      assert(plain.contains((i, i + 100L)), s"plain must admit ($i, ${i + 100L})")
      assert(!pos.contains((i, i + 100L)), s"position bound must cut ($i, ${i + 100L})")
    }
    // exactness: every truly-qualifying pair survives the positional prune
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter", expr("size(array_intersect(a.sh, b.sh))"))
      .withColumn("j", expr("inter / (size(a.sh) + size(b.sh) - inter)"))
      .where(col("j") >= 0.2)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.subsetOf(pos), "positional prune dropped a qualifying pair")
  }

  test("duplicate clusters: transitive closure, log-round convergence") {
    import spark.implicits._
    val nodes = (0L until 80L).toDF("doc_id")
    // a 64-node CHAIN (0-1, 1-2, ..., 62-63) — diameter 63, the worst case
    // for plain propagation — plus one triangle-free pair and singletons
    val pairs = ((0L until 63L).map(i => (i, i + 1)) :+ (70L, 72L))
      .toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(nodes, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 64L).foreach(i => assert(clusters(i) == 0L, s"node $i"))
    assert(clusters(70L) == 70L && clusters(72L) == 70L)
    ((64L until 70L) ++ Seq(71L) ++ (73L until 80L)).foreach(i =>
      assert(clusters(i) == i, s"singleton $i"))
    // representative filter keeps exactly one doc per cluster
    val docs = nodes.withColumn("payload", col("doc_id") * 2)
    val kept = Dedup.keepClusterRepresentative(docs, "doc_id",
      Dedup.duplicateClusters(nodes, "doc_id", pairs))
      .collect().map(_.getLong(0)).toSet
    assert(kept == (Set(0L, 70L) ++ (64L until 70L) ++ Seq(71L) ++
      (73L until 80L)))
  }

  test("bigram LM score: deterministic corpus scores 0, noise scores higher") {
    import spark.implicits._
    // docs 1-3: every context deterministic (p = 1 everywhere) → score 0;
    // doc 4 breaks contexts (a→x among a→b elsewhere) → positive surprisal
    val corpus = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c d"),
      (4L, "a x c d")).toDF("doc_id", "text")
    val got = TextOps.bigramLmScore(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L)._1 == 3L) // n_bigrams = tokens − 1
    // p(b|a) = 3/4 for docs 1-3 (one 'a x' defection), rest deterministic
    val expect1 = BigDecimal(-math.log(3.0 / 4) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._2 == expect1 && got(2L)._2 == expect1)
    // doc 4: p(x|a) = 1/4, p(c|x) = 1 → mean surprisal higher than docs 1-3
    assert(got(4L)._2 > got(1L)._2)
    got.values.foreach { case (_, s) => assert(s >= 0.0) }
  }

  test("time-to-convert: first view → first purchase, cohort rollup") {
    import spark.implicits._
    val ev = Seq(
      // user 1: view@10s day0, purchase@70s → 60s
      (1L, 10000000L, "view"), (1L, 70000000L, "purchase"),
      // user 2: purchase BEFORE any view → excluded
      (2L, 5000000L, "purchase"), (2L, 9000000L, "view"),
      // user 3: view only → excluded
      (3L, 1000000L, "view"),
      // user 4: view day1, purchase 30s later (second view ignored)
      (4L, 86400000000L + 1000000L, "view"),
      (4L, 86400000000L + 2000000L, "view"),
      (4L, 86400000000L + 31000000L, "purchase"))
      .toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us") +
        lit(820454400000000L))) // 1996-01-01 epoch µs anchor
    val got = EventOps.timeToConvert(ev).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got == Map(
      0 -> ((1L, 60.0, 60.0, 60.0)),
      1 -> ((1L, 30.0, 30.0, 30.0))))
  }

  test("soft dedup: weights are 1/|cluster|, cluster mass sums to 1, " +
      "singletons keep full weight") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "a b c d e f"),
      (4L, "totally different text here now")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.softDedupWeights(docs, clusters).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 3L, 1.0 / 3, 6.0 / 3),
      (2L, 1L, 3L, 1.0 / 3, 6.0 / 3),
      (3L, 1L, 3L, 1.0 / 3, 6.0 / 3),
      (4L, 4L, 1L, 1.0, 5.0)))
    // every cluster contributes exactly one document's worth of mass
    val mass = got.groupBy(_._2).view.mapValues(_.map(_._4).sum)
    assert(mass.values.forall(m => math.abs(m - 1.0) < 1e-12))
  }

  test("multi-benchmark decontamination attributes a planted leak to " +
      "exactly its benchmark") {
    import spark.implicits._
    val bench = Seq(
      (1L, "benchA", "alpha beta gamma delta epsilon zeta eta"),
      (2L, "benchB", "one two three four five six seven"))
      .toDF("doc_id", "bench_set", "text")
    val corpus = Seq(
      // leaks benchA's 5-grams verbatim
      (10L, "padding alpha beta gamma delta epsilon zeta trailer"),
      // clean
      (11L, "completely unrelated content with no overlap at all here"))
      .toDF("doc_id", "text")
    val got = TextOps.decontaminateMulti(corpus, bench, "bench_set")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(got.toSeq == Seq((10L, "benchA", 2L))) // 2 shared 5-grams
    // suite attribution on the real corpus agrees with single-benchmark
    // decontamination run per benchmark
    val docsAll = cat.table("documents")
    val multi = TextOps.decontaminateMulti(
        docsAll.where(!col("source").isin("src0", "src1")),
        docsAll.where(col("source").isin("src0", "src1")), "source")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(3))
      .toMap
    Seq("src0", "src1").foreach { b =>
      val single = TextOps.decontaminate(
          docsAll.where(!col("source").isin("src0", "src1")),
          docsAll.where(col("source") === b))
        .where(col("contaminated"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(multi.collect { case ((d, bb), h) if bb == b => d -> h }.toMap
        == single)
    }
  }

  test("windowed funnel: a step outside the gap window stalls the user; " +
      "never completes more steps than the unbounded funnel") {
    import spark.implicits._
    val hour = 3600000000L
    val ev = Seq(
      // u1: view, click +1h, purchase +1h — completes within 2h windows
      (1L, 0L, "view"), (1L, hour, "click"), (1L, 2 * hour, "purchase"),
      // u2: click 3h after view — outside the 2h window, stalls at step 1
      (2L, 0L, "view"), (2L, 3 * hour, "click"),
      // u3: click in window, purchase 5h after click — stalls at step 2
      (3L, 0L, "view"), (3L, hour, "click"), (3L, 6 * hour, "purchase"))
      .toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us") + lit(820454400000000L)))
    val got = EventOps.windowedFunnel(ev, Seq("view", "click", "purchase"),
        2 * 3600L).collect()
      .map(r => r.getLong(0) -> r.getInt(r.fieldIndex("steps_completed")))
      .toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 2))
    // on the real corpus: per user, windowed completion <= unbounded
    val steps = Seq("view", "click", "purchase")
    val unbounded = EventOps.funnel(cat.table("events"), steps).collect()
      .map(r => r.getLong(0) -> r.getInt(r.fieldIndex("steps_completed")))
      .toMap
    val windowed = EventOps.windowedFunnel(cat.table("events"), steps,
      259200L).collect()
      .map(r => r.getLong(0) -> r.getInt(r.fieldIndex("steps_completed")))
    assert(windowed.nonEmpty)
    windowed.foreach { case (u, n) => assert(n <= unbounded(u)) }
  }

  test("hybrid RRF: fuses lexical and vector shortlists by reciprocal " +
      "rank; both-list candidates score the sum of their terms") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val fused = Similarity.hybridRrf(docs, emb, qids, 5).collect()
    assert(fused.length == 25)
    val vec = Similarity.knnBrute(emb, qids, 20).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val txt = Dedup.similarDocs(docs, qids, 20).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    fused.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      val expect = vec.get(key).map(v => 1.0 / (60 + v)).getOrElse(0.0) +
        txt.get(key).map(t => 1.0 / (60 + t)).getOrElse(0.0)
      assert(r.getDouble(3) == expect)
      // every fused winner came from at least one shortlist
      assert(vec.contains(key) || txt.contains(key))
    }
    // ranks are 1..5 per query, rrf non-increasing within a query
    fused.groupBy(_.getLong(0)).values.foreach { g =>
      val sorted = g.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).sameElements(1 to 5))
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => b <= a })
    }
  }

  test("kaplan-meier: product-limit with right-censoring at the horizon") {
    import spark.implicits._
    val day = 86400000000L
    val ev = Seq(
      // four signups at t=0; u1,u2 convert day 1; u3 converts day 3;
      // u4 never converts → censored at the horizon (u3's purchase, day 3)
      (1L, 0L, "signup"), (1L, day + 7200000000L, "purchase"),
      (2L, 0L, "signup"), (2L, day + 1000000L, "purchase"),
      (3L, 0L, "signup"), (3L, 3 * day, "purchase"),
      (4L, 0L, "signup"),
      // a purchase with NO signup: not a subject
      (5L, 2 * day, "purchase"))
      .toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us") + lit(820454400000000L)))
    val got = EventOps.kaplanMeier(ev).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // day 1: 4 at risk, 2 events → S = 0.5
    // day 3: 2 at risk, 1 event + 1 censored → S = 0.5 × (1 − 1/2) = 0.25
    assert(got.toSeq == Seq(
      (1, 4L, 2L, 0L, 0.5),
      (3, 2L, 1L, 1L, 0.25)))
    // invariants on the real corpus: S non-increasing in [0,1], at_risk
    // strictly decreasing, exits sum to the subject count
    val km = EventOps.kaplanMeier(cat.table("events")).collect()
    val s = km.map(_.getDouble(4))
    assert(s.forall(x => x >= 0.0 && x <= 1.0))
    assert(s.zip(s.tail).forall { case (a, b) => b <= a })
    val risk = km.map(_.getLong(1))
    assert(risk.zip(risk.tail).forall { case (a, b) => b < a })
    assert(km.map(r => r.getLong(2) + r.getLong(3)).sum == risk.head)
  }

  test("chunk windows: coverage, overlap, short-tail semantics") {
    import spark.implicits._
    val corpus = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks, W=4 S=3
      (2L, "a b c"),                                  // shorter than window
      (3L, (1 to 4).map(i => s"x$i").mkString(" ")))  // exactly one window
      .toDF("doc_id", "text")
    val got = TextOps.chunkWindows(corpus, 4, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getInt(3))))
      .toMap
    // doc 1: chunks at offsets 0,3,6 — ceil((10-4)/3)=2 → idx 0..2
    assert(got((1L, 0)) == (("w1 w2 w3 w4", 4)))
    assert(got((1L, 1)) == (("w4 w5 w6 w7", 4)))
    assert(got((1L, 2)) == (("w7 w8 w9 w10", 4)))
    // doc 2: single short chunk; doc 3: single exact window
    assert(got((2L, 0)) == (("a b c", 3)))
    assert(got((3L, 0)) == (("x1 x2 x3 x4", 4)))
    assert(got.size == 5)
    // every token of doc 1 appears in some chunk (full coverage)
    val covered = got.collect { case ((1L, _), (t, _)) => t.split(" ") }
      .flatten.toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
  }

  test("chunk windows with stride == window partition the corpus exactly") {
    val total = docs
      .select(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    val chunked = TextOps.chunkWindows(docs, 64, 64)
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(chunked == total, "disjoint windows must cover every token once")
  }

  test("lm score is invariant under whole-corpus duplication") {
    import spark.implicits._
    // duplicating every document doubles c(w1,w2) AND c(w1·) — every MLE
    // ratio, hence every score, must be bit-identical
    val base = docs.limit(50).select("doc_id", "text")
    val doubled = base.unionByName(
      base.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val a = TextOps.bigramLmScore(base).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = TextOps.bigramLmScore(doubled).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a.keySet.forall(k => a(k) == b(k)))
  }

  test("decontaminate flags exactly the docs sharing a 5-gram with bench") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g"),     // shares "a b c d e" + 2 more with bench
      (2L, "z y x w v u"),       // disjoint
      (3L, "q r s"),             // < 5 tokens → no grams
      (4L, "x a b c d e")        // shares "a b c d e" only
    ).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c d e f g h")).toDF("doc_id", "text")
    val got = TextOps.decontaminate(corpus, bench, 5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got(1L) == ((3, 3L, true)))
    assert(got(2L) == ((2, 0L, false)))
    assert(got(3L) == ((0, 0L, false)))
    assert(got(4L) == ((2, 1L, true)))
  }

  test("funnel: ordered steps, dropout nulls, step-1 cohort only") {
    import spark.implicits._
    val ev = Seq(
      (1L, "view", 1L), (1L, "click", 2L), (1L, "purchase", 3L),
      // user 2: click before first view must not count; no purchase
      (2L, "click", 1L), (2L, "view", 2L), (2L, "click", 5L),
      // user 3 never views → outside the cohort
      (3L, "purchase", 1L),
      // user 4: click precedes the view → stuck at step 1
      (4L, "click", 5L), (4L, "view", 10L)
    ).toDF("user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = EventOps.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getInt(4))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 4L))
    assert(got(1L) == ((Some(1L), Some(2L), Some(3L), 3)))
    assert(got(2L) == ((Some(2L), Some(5L), None, 2)))
    assert(got(4L) == ((Some(10L), None, None, 1)))
  }

  test("ngram jaccard pairs are symmetric-free and thresholded") {
    val rows = Dedup.ngramJaccardPairs(docs, 3, "lang", 0.1).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.1 && r.getDouble(2) <= 1.0)
    }
  }

  test("kmeans assignment: total, deterministic, clusters actually used") {
    def assign() = Similarity.kmeansAssignWith(emb,
      Similarity.kmeansCentroids(emb, 8, 3)).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val a = assign()
    assert(a.length == emb.count()) // every vector assigned exactly once
    assert(a.map(_._1).distinct.length == a.length)
    val used = a.map(_._2).distinct
    assert(used.forall(c => c >= 0 && c < 8))
    assert(used.length > 1, "clustering must separate the corpus")
    // deterministic: an independent run reproduces the assignment exactly
    assert(a.sameElements(assign()))
  }

  test("knn brute: self excluded, scores sorted, k respected") {
    val rows = Similarity.knnBrute(emb, Seq(0L, 1L), 5).collect()
    assert(rows.length == 10)
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.values.foreach { g =>
      val sims = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.sameElements(sims.sortBy(-(_: Double))))
      assert(g.forall(r => r.getLong(2) != r.getLong(0)))
    }
  }

  test("knn LSH neighbors are a subset of the bucket with exact sims") {
    val brute = Similarity.knnBrute(emb, Seq(0L, 1L, 2L, 3L, 4L), 50)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = Similarity.knnLsh(emb, Seq(0L, 1L, 2L, 3L, 4L), 5, bits = 8)
      .collect()
    // every LSH hit's similarity agrees exactly with the brute-force number
    lsh.foreach { r =>
      brute.get((r.getLong(0), r.getLong(2))).foreach { s =>
        assert(s == r.getDouble(3))
      }
    }
  }

  test("knn IVF equals brute force exactly (bound-pruned probe set)") {
    val qids = (0L until 10L).toSeq
    val k = 5
    val brute = Similarity.knnBrute(emb, qids, k).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val ivf = Similarity.knnIvfProbe(Similarity.ivfIndex(emb, nlist = 8),
        qids, k, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(ivf.sameElements(brute))
  }

  test("unigram rarity: hand-computed frequencies on a tiny corpus") {
    import spark.implicits._
    // corpus: "a a b" + "b c" → counts a=2 b=2 c=1, N=5
    val tiny = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextOps.unigramRarity(tiny).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, (2.0 + 2 + 2) / 5 / 3, 2.0 / 5)))
    assert(got(2L) == ((2L, (2.0 + 1) / 5 / 2, 1.0 / 5)))
    // a doc of singleton junk scores strictly lower than a stopword doc
    val real = TextOps.unigramRarity(docs).collect()
    assert(real.length == docs.count())
    real.foreach(r => assert(r.getDouble(2) > 0 && r.getDouble(3) > 0))
  }

  test("quantized knn: exact with a full shortlist, high recall at 4k") {
    val qids = (0L until 10L).toSeq
    val k = 5
    val brute = Similarity.knnBrute(emb, qids, k).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // shortlist = whole corpus → re-rank covers everything → exact
    val full = Similarity.quantizedKnn(emb, qids, k,
        shortlist = emb.count().toInt).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(full.sameElements(brute))
    // default 4k shortlist: every returned sim is the TRUE sim (re-rank is
    // exact) and recall vs brute is high (int8 error is ~1/254 per coord)
    val q = Similarity.quantizedKnn(emb, qids, k).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
    val bruteSet = brute.map(r => (r._1, r._3)).toSet
    val overlap = q.count { case (key, _) => bruteSet(key) }
    assert(overlap >= (0.9 * brute.length).toInt,
      s"recall $overlap/${brute.length}")
  }

  test("projected knn: exact with a full shortlist, real sims at default") {
    val qids = (0L until 10L).toSeq
    val k = 5
    val brute = Similarity.knnBrute(emb, qids, k).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // shortlist = whole corpus → exact re-rank covers everything
    val full = Similarity.projectedKnn(emb, qids, k,
        shortlist = emb.count().toInt).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(full.sameElements(brute))
    // default shortlist: every sim returned is the TRUE dot product (the
    // re-rank is exact), so any overlap with brute agrees on the value
    val bruteMap = brute.map(r => (r._1, r._3) -> r._4).toMap
    Similarity.projectedKnn(emb, qids, k).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .foreach { case (key, sim) =>
        bruteMap.get(key).foreach(b => assert(b == sim, s"$key sim drift"))
      }
  }

  test("dq audit: base data profiled; planted violations each caught") {
    import spark.implicits._
    val orders = cat.table("orders")
    val lineitem = cat.table("lineitem")
    val customer = cat.table("customer")
    val base = DataChecks.dqAudit(orders, lineitem, customer).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(base.size == 8)
    // the synthetic warehouse is referentially sound and in-domain…
    Seq("lineitem_orphan_order", "order_orphan_customer",
      "duplicate_order_key", "order_null_keys",
      "lineitem_nonpositive_qty", "lineitem_discount_range")
      .foreach(c => assert(base(c) == 0L, s"$c on base data"))
    // …but its generator really does emit duplicate line numbers and
    // ship-before-order rows — the audit catches them (values verified
    // against the DuckDB oracle in the q51 gate)
    assert(base("duplicate_line_number") > 0L)
    assert(base("ship_before_order_date") > 0L)
    // plant: an orphan lineitem (unknown order key) with negative quantity
    // and discount 2.0, plus a duplicated order row (dup key + dup custkey
    // orphaned against customer)
    val badLine = lineitem.limit(1)
      .withColumn("l_orderkey", lit(-999L))
      .withColumn("l_quantity", lit(-5.0))
      .withColumn("l_discount", lit(2.0))
    val badOrder = orders.limit(1).withColumn("o_custkey", lit(-777L))
    val dirty = DataChecks.dqAudit(
      orders.unionByName(badOrder).unionByName(badOrder),
      lineitem.unionByName(badLine), customer).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dirty("lineitem_orphan_order") == base("lineitem_orphan_order") + 1)
    assert(dirty("lineitem_nonpositive_qty") ==
      base("lineitem_nonpositive_qty") + 1)
    assert(dirty("lineitem_discount_range") ==
      base("lineitem_discount_range") + 1)
    assert(dirty("duplicate_order_key") == base("duplicate_order_key") + 1)
    assert(dirty("order_orphan_customer") ==
      base("order_orphan_customer") + 2)
  }

  test("event transitions: hand-built stream gives exact counts and shares") {
    import spark.implicits._
    import java.sql.Timestamp
    val ev = Seq(
      (1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "a"), (4L, 1L, "b"),
      (5L, 2L, "a"), (6L, 2L, "b"), (7L, 2L, "c")
    ).map { case (id, u, t) => (id, u, new Timestamp(id * 1000L), t) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = EventOps.eventTransitions(ev, 10).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // user1: a→b, b→a, a→b; user2: a→b, b→c
    assert(out(("a", "b")) == ((3L, 1.0)))
    assert(out(("b", "a")) == ((1L, 0.5)))
    assert(out(("b", "c")) == ((1L, 0.5)))
    assert(out.size == 3)
  }

  test("precedence pairs: strictly-before semantics, both directions " +
      "possible") {
    import spark.implicits._
    import java.sql.Timestamp
    // user1 one session: a, b, a — a<b and b<a both hold; user2: a then c
    val ev = Seq(
      (1L, 1L, 1000L, "a"), (2L, 1L, 2000L, "b"), (3L, 1L, 3000L, "a"),
      (4L, 2L, 1000L, "a"), (5L, 2L, 5000L, "c"))
      .map { case (id, u, ms, t) => (id, u, new Timestamp(ms), t) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = EventOps.precedencePairs(ev, 30, 10).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("a", "b") -> 1L, ("b", "a") -> 1L, ("a", "c") -> 1L))
  }

  test("top paths: session boundaries, step cap, and deterministic order") {
    import spark.implicits._
    import java.sql.Timestamp
    val gapUs = 31L * 60L * 1000000L // 31 min > the 30-min session gap
    // user1: one session a,b,c then (after a gap) a,b,c again;
    // user2: one session a,b,c; user3: a 10-event session capped at 8
    val rows =
      Seq((1L, 0L, "a"), (2L, 1L, "b"), (3L, 2L, "c"),
        (4L, gapUs, "a"), (5L, gapUs + 1, "b"), (6L, gapUs + 2, "c"))
        .map { case (id, us, t) => (id, 1L, us, t) } ++
      Seq((7L, 0L, "a"), (8L, 1L, "b"), (9L, 2L, "c"))
        .map { case (id, us, t) => (id, 2L, us, t) } ++
      (0 until 10).map(i => (10L + i, 3L, i.toLong, ('d' + i % 2).toChar.toString))
    val ev = rows.map { case (id, u, us, t) =>
      (id, u, new Timestamp(us / 1000L), t)
    }.toDF("event_id", "user_id", "ts", "event_type")
    val out = EventOps.topPaths(ev, 30, 8, 10).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // a>b>c: three sessions (two from user1, one from user2) ranks first;
    // user3's 10-step alternation truncates to its first 8 types
    assert(out.head == ("a>b>c" -> 3L))
    assert(out.toMap ==
      Map("a>b>c" -> 3L, "d>e>d>e>d>e>d>e" -> 1L))
  }

  test("rfm segments: every tercile populated, customer total preserved") {
    val orders = cat.table("orders")
    val out = Analytics.rfmSegments(orders).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // codes are digit triples with each digit in 1..3
    out.keys.foreach { c =>
      val (r, f, m) = (c / 100, c / 10 % 10, c % 10)
      assert(Seq(r, f, m).forall(d => d >= 1 && d <= 3), s"code $c")
    }
    val nCust = orders.select("o_custkey").distinct().count()
    assert(out.values.sum == nCust, "every customer in exactly one segment")
    // terciles split ~evenly: each r-digit covers about a third
    val byR = out.groupBy(_._1 / 100).view.mapValues(_.values.sum)
    byR.values.foreach(n => assert(n > nCust / 4 && n < nCust / 2))
  }

  test("copurchase lift: planted always-together brands rank first") {
    import spark.implicits._
    // brands X,Y co-occur in all 6 orders; Z floats alone in 6 more
    val li = ((1 to 6).flatMap(o => Seq((o.toLong, 1L), (o.toLong, 2L))) ++
      (7 to 12).map(o => (o.toLong, 3L)))
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"))
      .toDF("p_partkey", "p_brand")
    val out = Analytics.copurchaseLift(li, part, k = 5, minPairs = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.length == 1)
    val (a, b, n, lift) = out.head
    assert((a, b, n) == (("X", "Y", 6L)))
    // lift = 6 * 12 / (6 * 6) = 2.0 (12 distinct orders total)
    assert(lift == 2.0)
  }

  test("copurchase lift counts an order whose parts all have a null brand " +
      "in n_orders, as the q53 oracle does") {
    import spark.implicits._
    // X,Y co-occur in orders 1-6, Z alone in 7-12, and order 13 holds only
    // part 4, whose brand is null: 13 orders, lift = 6·13 / (6·6)
    val li = ((1 to 6).flatMap(o => Seq((o.toLong, 1L), (o.toLong, 2L))) ++
      (7 to 12).map(o => (o.toLong, 3L)) :+ ((13L, 4L)))
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y"), (3L, "Z"), (4L, null))
      .toDF("p_partkey", "p_brand")
    def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val out = tuples(Analytics.copurchaseLift(li, part))
    assert(out == Seq(("X", "Y", 6L, 6.0 * 13 / 36)))
    li.createOrReplaceTempView("lineitem")
    part.createOrReplaceTempView("part")
    try assert(out == tuples(spark.sql(SparkEntry.oracleSql("q53_copurchase"))))
    finally Seq("lineitem", "part").foreach(spark.catalog.dropTempView)
  }

  test("native shingle_hashes equals the declarative xxhash64 chain") {
    import spark.implicits._
    val k = 3
    val declarative = expr(
      s"""transform(array(split(text, ' ')), ws ->
         |  CASE WHEN size(ws) < $k THEN array()
         |  ELSE array_distinct(transform(
         |    sequence(1, size(ws) - ${k - 1}),
         |    i -> xxhash64(concat_ws(' ', slice(ws, i, $k))))) END)[0]"""
        .stripMargin)
    val edge = Seq("", "one", "two words", "exactly three words",
      "double  space  tokens", " leading and trailing ", "a b a b a b",
      "ünïcode ärgs héré wörk tøø", "tab\tis not a separator here")
      .toDF("text")
    Seq(docs, edge).foreach { src =>
      val rows = src.select(
        Dedup.hashedShingles("text", k).as("native"),
        declarative.as("decl")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0).toSet == r.getSeq[Long](1).toSet)
      }
    }
  }

  test("codegen dot_product is bit-identical to the HOF fold") {
    val v = emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val both = v.as("a").join(v.as("b"),
        col("a.vec_id") < col("b.vec_id") && col("b.vec_id") < 50)
      .select(
        Similarity.dot(col("a.v"), col("b.v")).as("native"),
        expr("aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, " +
          "(acc, x) -> acc + x)").as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("kmeansCentroids rejects an empty input frame") {
    intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(emb.where(lit(false)), 4, 2)
    }
  }

  test("minhash_sig requires a power-of-two >= 2 hash count") {
    intercept[IllegalArgumentException] {
      graft.functions.MinHashSig(
        org.apache.spark.sql.catalyst.expressions.Literal(1L), 1)
    }
    intercept[IllegalArgumentException] {
      graft.functions.MinHashSig(
        org.apache.spark.sql.catalyst.expressions.Literal(1L), 12)
    }
  }

  test("minhash_sig SQL rejects a non-literal hash count cleanly") {
    graft.functions.GraftExtensions.register(spark)
    docs.createOrReplaceTempView("docs_v")
    val e = intercept[Exception] {
      spark.sql(
        "SELECT minhash_sig(transform(split(text, ' '), t -> xxhash64(t)), doc_id) FROM docs_v")
        .collect()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }

  test("sessionize: no intra-session gap exceeds the threshold") {
    val events = cat.table("events")
    val sess = Sessionize.sessions(events, 30).collect()
    assert(sess.nonEmpty)
    // session boundaries: consecutive sessions of one user are > gap apart
    sess.groupBy(_.getLong(0)).values.foreach { g =>
      val sorted = g.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(2) - a.getLong(3) > 30L * 60L * 1000000L)
        case _ => ()
      }
    }
    // events are conserved
    assert(sess.map(_.getLong(4)).sum == events.count())
  }

  test("multimodal decode keeps schema + row count, deterministic features") {
    val media = Multimodal.attachFakeMedia(docs)
    val decoded = Multimodal.decodeFeatures(spark, media)
    assert(decoded.columns.toSeq == Seq("doc_id", "format", "width", "height",
      "n_frames", "n_bytes", "features"))
    val rows = decoded.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(_.n_bytes == 16)) // md5 payload stub
    val again = Multimodal.decodeFeatures(spark, media).collect()
    assert(rows.map(_.features.toSeq).toSet == again.map(_.features.toSeq).toSet)
  }

  private def testImage(w: Int, h: Int)(f: (Int, Int) => Int)
      : java.awt.image.BufferedImage = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, f(x, y))
    im
  }

  private def encode(im: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, fmt, bos)
    bos.toByteArray
  }

  test("image decode is REAL: javax.imageio pixels drive the features " +
      "and the decoded dims override lying metadata; non-image payloads " +
      "take the deterministic stub path") {
    import spark.implicits._
    // 4×2 PNG, left half black, right half white: luma mean = std = 127.5
    val bw = encode(testImage(4, 2)(
      (x, _) => if (x < 2) 0x000000 else 0xffffff), "png")
    val media = Seq(
      // declared meta lies about the dims — the decoder is the authority
      Multimodal.MediaRow(1L, bw, Multimodal.MediaMeta("png", 99, 77, 1)),
      Multimodal.MediaRow(2L, Array[Byte](1, 2, 3, 4),
        Multimodal.MediaMeta("wav", 8, 8, 1))).toDS().toDF()
    val out = Multimodal.decodeFeatures(spark, media).collect()
      .map(r => r.doc_id -> r).toMap
    val img = out(1L)
    assert(img.width == 4 && img.height == 2)
    assert(img.n_bytes == bw.length)
    assert(math.abs(img.features(0) - 127.5) < 1e-9) // mean luma
    assert(math.abs(img.features(1) - 127.5) < 1e-9) // stddev
    assert(math.abs(img.features(2) - 255.0) < 1e-9) // max
    assert(img.features(3) == 8.0)                   // pixel count
    // undecodable payload: metadata served verbatim, byte-moment features
    val wav = out(2L)
    assert(wav.width == 8 && wav.n_bytes == 4)
    assert(wav.features(3) == 4.0) // byte count, not pixels
  }

  /** Encode 16-bit PCM samples into a WAV/AIFF container via the JDK
    * (channels interleave; endianness follows the container). */
  private def encodeAudio(samples: Array[Short], sampleRate: Float,
      channels: Int, aiff: Boolean = false): Array[Byte] = {
    import javax.sound.sampled._
    val big = aiff
    val fmt = new AudioFormat(sampleRate, 16, channels, true, big)
    val data = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      if (big) {
        data(2 * i) = ((s >> 8) & 0xff).toByte
        data(2 * i + 1) = (s & 0xff).toByte
      } else {
        data(2 * i) = (s & 0xff).toByte
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt,
      samples.length / channels)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais,
      if (aiff) AudioFileFormat.Type.AIFF else AudioFileFormat.Type.WAVE,
      bos)
    bos.toByteArray
  }

  test("image decode is container-invariant across every reader the JDK " +
      "ships: the same pixels through PNG, BMP, and TIFF produce " +
      "identical features and an identical pHash (all three are " +
      "lossless for 8-bit RGB)") {
    import spark.implicits._
    // asymmetric blocky pattern — strong AC coefficients for the pHash
    val im = testImage(32, 32)((x, y) =>
      ((x / 8 * 53 + y / 8 * 31) % 200) * 0x010101)
    val payloads = Seq("png", "bmp", "tiff").map(f => f -> encode(im, f))
    val media = payloads.zipWithIndex.map { case ((f, b), i) =>
      Multimodal.MediaRow(i + 1L, b, Multimodal.MediaMeta(f, 0, 0, 1))
    }.toDS().toDF()
    val out = Multimodal.decodeFeatures(spark, media).collect()
      .map(r => r.doc_id -> r).toMap
    assert(out.values.forall(r => r.width == 32 && r.height == 32))
    val ref = out(1L).features.toSeq
    assert(out(2L).features.toSeq == ref, "BMP must decode like PNG")
    assert(out(3L).features.toSeq == ref, "TIFF must decode like PNG")
    val ph = Multimodal.phashDecoded(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ph(2L) == ph(1L) && ph(3L) == ph(1L),
      "container translation must not move the decoded pHash")
  }

  test("audio decode is REAL: javax.sound.sampled samples drive RMS/peak/" +
      "duration/zero-crossings exactly; stereo mixes down by mean; AIFF " +
      "big-endian agrees with WAV; non-audio payloads keep the stub path") {
    import spark.implicits._
    // square wave, amplitude 16384 (= 0.5 in sample space), period 8
    // frames, 4000 frames at 8 kHz: rms = peak = 0.5 and duration = 0.5 s
    // EXACTLY; sign flips every 4 frames → 999 crossings over 4000 frames
    val square = Array.tabulate(4000)(i =>
      (if ((i / 4) % 2 == 0) 16384 else -16384).toShort)
    val wav = encodeAudio(square, 8000f, 1)
    // stereo: L = +0.5 square, R = its negation → mean mixdown is 0
    val stereo = Array.tabulate(8000)(i =>
      (if (i % 2 == 0) 16384 else -16384).toShort)
    val aiff = encodeAudio(square, 8000f, 1, aiff = true)
    val media = Seq(
      Multimodal.MediaRow(1L, wav, Multimodal.MediaMeta("wav", 0, 0, 1)),
      Multimodal.MediaRow(2L, encodeAudio(stereo, 8000f, 2),
        Multimodal.MediaMeta("wav", 0, 0, 1)),
      Multimodal.MediaRow(3L, aiff, Multimodal.MediaMeta("aiff", 0, 0, 1)),
      Multimodal.MediaRow(4L, Array[Byte](1, 2, 3, 4),
        Multimodal.MediaMeta("mp3", 8, 8, 1))).toDS().toDF()
    val out = Multimodal.decodeFeatures(spark, media).collect()
      .map(r => r.doc_id -> r).toMap
    val mono = out(1L)
    // the decoded header is the authority: width = sample rate,
    // height = channels, n_frames = decoded frame count
    assert(mono.width == 8000 && mono.height == 1 && mono.n_frames == 4000)
    assert(mono.n_bytes == wav.length)
    assert(mono.features(0) == 0.5)      // rms, exact
    assert(mono.features(1) == 0.5)      // peak, exact
    assert(mono.features(2) == 0.5)      // duration seconds, exact
    assert(mono.features(3) == 999.0)    // zero crossings
    // stereo mean mixdown cancels the anti-phase channels entirely
    val st = out(2L)
    assert(st.height == 2 && st.n_frames == 4000)
    assert(st.features(0) == 0.0 && st.features(1) == 0.0)
    // AIFF (big-endian) decodes to the same sample stream as WAV
    val ai = out(3L)
    assert(ai.features.toSeq == mono.features.toSeq)
    assert(ai.n_frames == 4000 && ai.width == 8000)
    // compressed/undecodable audio: deterministic byte-moment stub,
    // metadata served verbatim — the portable path the gate replays
    val mp3 = out(4L)
    assert(mp3.width == 8 && mp3.n_bytes == 4 && mp3.features(3) == 4.0)
  }

  test("audio fingerprint: gain-scaled copies, AIFF re-encodes hash " +
      "identically; a different melody is far; near-dup pairs find " +
      "exactly the re-encode cluster; undecodable payloads take the " +
      "content-uniform full-payload hash (exact dups only)") {
    import spark.implicits._
    // 65-window "melody": window i holds a square wave of a DISTINCT
    // amplitude (seeded permutation — no RMS ties, so every delta bit is
    // decisive), 80 frames per window at 8 kHz
    val perm = new scala.util.Random(77).shuffle((0 until 65).toList)
    def melody(amps: Seq[Int]): Array[Short] =
      amps.flatMap(a => Array.tabulate(80)(j =>
        (if (j % 2 == 0) a else -a).toShort)).toArray
    val amps = perm.map(p => 1000 + 400 * p)
    val base = melody(amps)
    val halved = base.map(s => (s / 2).toShort) // uniform gain 0.5, exact
    val reversed = melody(amps.reverse)
    val wav = encodeAudio(base, 8000f, 1)
    val media = Seq(
      Multimodal.MediaRow(1L, wav, Multimodal.MediaMeta("wav", 0, 0, 1)),
      Multimodal.MediaRow(2L, encodeAudio(halved, 8000f, 1),
        Multimodal.MediaMeta("wav", 0, 0, 1)),
      Multimodal.MediaRow(3L, encodeAudio(base, 8000f, 1, aiff = true),
        Multimodal.MediaMeta("aiff", 0, 0, 1)),
      Multimodal.MediaRow(4L, encodeAudio(reversed, 8000f, 1),
        Multimodal.MediaMeta("wav", 0, 0, 1)),
      // undecodable payloads: 5/6 share a fake ID3-style header but
      // differ later (must NOT pair — the compressed-corpus trap a
      // leading-byte fallback falls into); 7 is byte-exact with 5
      Multimodal.MediaRow(5L, "ID3x044rec-one-bytes".getBytes("UTF-8"),
        Multimodal.MediaMeta("mp3", 0, 0, 1)),
      Multimodal.MediaRow(6L, "ID3x044rec-two-other".getBytes("UTF-8"),
        Multimodal.MediaMeta("mp3", 0, 0, 1)),
      Multimodal.MediaRow(7L, "ID3x044rec-one-bytes".getBytes("UTF-8"),
        Multimodal.MediaMeta("mp3", 0, 0, 1))).toDS().toDF()
    val fp = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // gain invariance and container invariance: bit-identical
    assert(fp(2L) == fp(1L), "uniform gain must not move any delta sign")
    assert(fp(3L) == fp(1L), "AIFF re-encode must hash identically")
    // a structurally different melody is far
    val ham = java.lang.Long.bitCount(fp(1L)._1 ^ fp(4L)._1) +
      java.lang.Long.bitCount(fp(1L)._2 ^ fp(4L)._2)
    assert(ham >= 12, s"different melody hamming $ham")
    // undecodable fallback is the content-uniform full-payload hash:
    // byte-exact copies collide, shared-header different recordings
    // do NOT (the leading-byte recipe would hash 5 and 6 identically)
    assert(fp(5L) == fp(7L))
    assert(fp(5L) != fp(6L))
    // the banded near-dup op: the three re-encodes cluster, the exact
    // undecodable re-upload pairs, the different melody and the
    // different compressed file pair with nothing
    val pairs = Multimodal.audioNearDupPairs(media, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 7L)))
  }

  test("audio fingerprint stays in decode space for clips shorter than " +
      "the window count: WAV and AIFF re-encodes hash identically, and " +
      "UNRELATED same-length short clips hash DIFFERENTLY (windows " +
      "shrink to the frame count — no content-independent empty-window " +
      "artifacts)") {
    import spark.implicits._
    // 32 frames < 65 windows: every window must hold a frame, so the
    // delta bits compare real energies frame-to-frame
    val stepDown = Array.tabulate(32)(j =>
      (if (j < 16) 8000 else 2000).toShort)
    // same length, all nonzero, different energy SHAPE (rising staircase)
    val rising = Array.tabulate(32)(j => (500 + 400 * j).toShort)
    val media = Seq(
      Multimodal.MediaRow(1L, encodeAudio(stepDown, 8000f, 1),
        Multimodal.MediaMeta("wav", 0, 0, 1)),
      Multimodal.MediaRow(2L, encodeAudio(stepDown, 8000f, 1, aiff = true),
        Multimodal.MediaMeta("aiff", 0, 0, 1)),
      Multimodal.MediaRow(3L, encodeAudio(rising, 8000f, 1),
        Multimodal.MediaMeta("wav", 0, 0, 1))).toDS().toDF()
    val fp = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fp(1L) == fp(2L),
      "short-clip container translation must hash identically")
    assert(fp(1L) != fp(3L),
      "unrelated same-length short clips must not collide — the guard " +
        "against content-independent empty-window delta bits")
  }

  test("pcmRaw decodes all four PCM layouts: unsigned samples re-center " +
      "by midpoint subtraction, never sign-extend-then-shift (the " +
      "upper-half-amplitude corruption)") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // 8-bit signed / unsigned
    assert(Multimodal.pcmRaw(b(0x80), 0, 8, signed = true, big = false)
      == -128)
    assert(Multimodal.pcmRaw(b(0x7f), 0, 8, signed = true, big = false)
      == 127)
    assert(Multimodal.pcmRaw(b(0x80), 0, 8, signed = false, big = false)
      == 0)   // unsigned midpoint = silence
    assert(Multimodal.pcmRaw(b(0xff), 0, 8, signed = false, big = false)
      == 127)
    // 16-bit signed little/big endian
    assert(Multimodal.pcmRaw(b(0x00, 0x80), 0, 16, signed = true,
      big = false) == -32768)
    assert(Multimodal.pcmRaw(b(0x80, 0x00), 0, 16, signed = true,
      big = true) == -32768)
    assert(Multimodal.pcmRaw(b(0xff, 0x7f), 0, 16, signed = true,
      big = false) == 32767)
    // 16-bit UNSIGNED: midpoint 32768 is silence, 65535 is max positive —
    // the layout the sign-extend-first bug mapped to [-65536, -32768)
    assert(Multimodal.pcmRaw(b(0x00, 0x80), 0, 16, signed = false,
      big = false) == 0)
    assert(Multimodal.pcmRaw(b(0xff, 0xff), 0, 16, signed = false,
      big = false) == 32767)
    assert(Multimodal.pcmRaw(b(0x00, 0x00), 0, 16, signed = false,
      big = false) == -32768)
    // 24-bit signed little/big endian; unsigned re-centers on 2²³
    assert(Multimodal.pcmRaw(b(0x00, 0x00, 0x40), 0, 24, signed = true,
      big = false) == 0x400000)
    assert(Multimodal.pcmRaw(b(0xC0, 0x00, 0x00), 0, 24, signed = true,
      big = true) == -0x400000)
    assert(Multimodal.pcmRaw(b(0xff, 0xff, 0xff), 0, 24, signed = true,
      big = false) == -1)
    assert(Multimodal.pcmRaw(b(0x00, 0x00, 0x80), 0, 24, signed = false,
      big = false) == 0)
    // 32-bit signed; unsigned midpoint 2³¹ is silence
    assert(Multimodal.pcmRaw(b(0x00, 0x00, 0x00, 0x40), 0, 32,
      signed = true, big = false) == 0x40000000)
    assert(Multimodal.pcmRaw(b(0xff, 0xff, 0xff, 0xff), 0, 32,
      signed = true, big = false) == -1)
    assert(Multimodal.pcmRaw(b(0x00, 0x00, 0x00, 0x80), 0, 32,
      signed = false, big = false) == 0)
    assert(Multimodal.pcmRaw(b(0xff, 0xff, 0xff, 0xff), 0, 32,
      signed = false, big = false) == Int.MaxValue)
  }

  test("G.711 decode tables ARE the JDK codec: all 256 μ-law and A-law " +
      "codes expand to the exact PCM values AudioSystem's conversion " +
      "provider produces") {
    import javax.sound.sampled._
    val codes = Array.tabulate[Byte](256)(_.toByte)
    for ((encName, tab) <- Seq(
        AudioFormat.Encoding.ULAW -> Multimodal.ulawTab,
        AudioFormat.Encoding.ALAW -> Multimodal.alawTab)) {
      val src = new AudioInputStream(
        new java.io.ByteArrayInputStream(codes),
        new AudioFormat(encName, 8000f, 8, 1, 1, 8000f, false), 256)
      val conv = AudioSystem.getAudioInputStream(
        AudioFormat.Encoding.PCM_SIGNED, src)
      val pcm = conv.readAllBytes()
      assert(pcm.length == 512)
      val big = conv.getFormat.isBigEndian
      (0 until 256).foreach { i =>
        val v = Multimodal.pcmRaw(pcm, 2 * i, 16, signed = true, big = big)
        assert(v == tab(i), s"$encName code $i: codec $v vs table ${tab(i)}")
      }
    }
  }

  /** Hand-built G.711 WAV: the canonical 44-byte RIFF header with the
    * given format tag (6 = A-law, 7 = μ-law) + raw code bytes. */
  private def g711Wav(tag: Short, codes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](44 + codes.length)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + codes.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(tag).putShort(1)
      .putInt(8000).putInt(8000)
      .putShort(1).putShort(8)
      .put("data".getBytes("US-ASCII")).putInt(codes.length)
    System.arraycopy(codes, 0, out, 44, codes.length)
    out
  }

  /** Hand-built μ-law AU (.snd): 24-byte big-endian header, encoding 1. */
  private def ulawAu(codes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.writeBytes(".snd")
    d.writeInt(24); d.writeInt(codes.length)
    d.writeInt(1); d.writeInt(8000); d.writeInt(1)
    d.write(codes)
    bos.toByteArray
  }

  test("G.711 telephony decode is REAL on both container paths: the " +
      "format-7 WAV fast path and the AU codec path produce identical " +
      "features, matching hand-expanded ground truth; format-6 A-law " +
      "decodes through its table") {
    // μ-law codes: 0x00 → −32124, 0xff → 0, 0x80 → +32124, 0x7f → 0
    val uCodes = Array[Byte](0x00, -1, -128, 0x7f)
    val wav = Multimodal.decodeOne(Multimodal.MediaRow(1L,
      g711Wav(7, uCodes), Multimodal.MediaMeta("ulaw", 0, 0, 0)))
    val au = Multimodal.decodeOne(Multimodal.MediaRow(2L,
      ulawAu(uCodes), Multimodal.MediaMeta("au", 0, 0, 0)))
    assert(wav.width == 8000 && wav.height == 1 && wav.n_frames == 4)
    assert(au.n_frames == 4 && au.width == 8000)
    assert(wav.features.toSeq == au.features.toSeq,
      "WAV fast path and AU codec path must decode identically")
    val a = 32124.0 / 32768
    assert(wav.features(0) == math.sqrt((a * a + a * a) / 4)) // rms
    assert(wav.features(1) == a)                              // peak
    assert(wav.features(2) == 4 / 8000.0)                     // duration
    assert(wav.features(3) == 1.0) // one sign change (−a → 0, 0 stays +)
    // A-law codes: 0x55 → −8, 0xd5 → +8 (the quietest segment)
    val aCodes = Array[Byte](0x55, 0xd5.toByte, 0x55, 0xd5.toByte)
    val alaw = Multimodal.decodeOne(Multimodal.MediaRow(3L,
      g711Wav(6, aCodes), Multimodal.MediaMeta("alaw", 0, 0, 0)))
    assert(alaw.n_frames == 4)
    assert(alaw.features(0) == 8.0 / 32768) // rms of a ±8 square, exact
    assert(alaw.features(1) == 8.0 / 32768)
    assert(alaw.features(3) == 3.0) // sign alternates every sample
    // the m12 gate fixture decodes through the same fast path: its code
    // bytes are md5-uniform, so just pin geometry + determinism
    val fx = Multimodal.decodeOne(Multimodal.MediaRow(7L,
      Multimodal.syntheticUlawWav(7L, 8),
      Multimodal.MediaMeta("ulaw", 0, 0, 0)))
    assert(fx.n_frames == 8 && fx.width == 8000 && fx.n_bytes == 52)
    assert(fx.features(1) <= 32124.0 / 32768 && fx.features(1) >= 0)
    // the m16 A-law gate fixture decodes through the same fast path
    val ax = Multimodal.decodeOne(Multimodal.MediaRow(8L,
      Multimodal.syntheticAlawWav(8L, 8),
      Multimodal.MediaMeta("alaw", 0, 0, 0)))
    assert(ax.n_frames == 8 && ax.width == 8000 && ax.n_bytes == 52)
    assert(ax.features(1) <= 32256.0 / 32768 && ax.features(1) >= 0)
  }

  test("wide-sample decode is REAL: 24-bit and 32-bit integer PCM and " +
      "float32 WAVs decode exactly (fast path), and a 24-bit AIFF " +
      "(big-endian, codec path) agrees with its WAV twin") {
    import javax.sound.sampled._
    def encodeRaw(data: Array[Byte], fmt: AudioFormat,
        aiff: Boolean = false): Array[Byte] = {
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt,
        data.length / fmt.getFrameSize)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais,
        if (aiff) AudioFileFormat.Type.AIFF else AudioFileFormat.Type.WAVE,
        bos)
      bos.toByteArray
    }
    def row(id: Long, b: Array[Byte]) =
      Multimodal.MediaRow(id, b, Multimodal.MediaMeta("wav", 0, 0, 0))
    // 24-bit ±2²² square = ±0.5 exactly
    val d24le = new Array[Byte](8 * 3)
    val bb24 = java.nio.ByteBuffer.wrap(d24le)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val d24be = new Array[Byte](8 * 3)
    val bb24b = java.nio.ByteBuffer.wrap(d24be)
    (0 until 8).foreach { i =>
      val v = if (i % 2 == 0) 0x400000 else -0x400000
      bb24.put((v & 0xff).toByte).put(((v >> 8) & 0xff).toByte)
        .put(((v >> 16) & 0xff).toByte)
      bb24b.put(((v >> 16) & 0xff).toByte).put(((v >> 8) & 0xff).toByte)
        .put((v & 0xff).toByte)
    }
    val w24 = Multimodal.decodeOne(row(1L,
      encodeRaw(d24le, new AudioFormat(8000f, 24, 1, true, false))))
    val a24 = Multimodal.decodeOne(row(2L,
      encodeRaw(d24be, new AudioFormat(8000f, 24, 1, true, true),
        aiff = true)))
    assert(w24.n_frames == 8 && w24.features(0) == 0.5 &&
      w24.features(1) == 0.5 && w24.features(3) == 7.0)
    assert(a24.features.toSeq == w24.features.toSeq,
      "24-bit AIFF (codec path) must agree with the WAV fast path")
    // 32-bit ±2³⁰ square = ±0.5 exactly
    val d32 = new Array[Byte](8 * 4)
    val bb32 = java.nio.ByteBuffer.wrap(d32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 8).foreach(i => bb32.putInt(
      if (i % 2 == 0) 1 << 30 else -(1 << 30)))
    val w32 = Multimodal.decodeOne(row(3L,
      encodeRaw(d32, new AudioFormat(8000f, 32, 1, true, false))))
    assert(w32.n_frames == 8 && w32.features(0) == 0.5 &&
      w32.features(1) == 0.5)
    // float32 ±0.5 square (format tag 3)
    val df = new Array[Byte](8 * 4)
    val bbf = java.nio.ByteBuffer.wrap(df)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 8).foreach(i => bbf.putFloat(if (i % 2 == 0) 0.5f else -0.5f))
    val wf = Multimodal.decodeOne(row(4L, encodeRaw(df,
      new AudioFormat(AudioFormat.Encoding.PCM_FLOAT, 8000f, 32, 1, 4,
        8000f, false))))
    assert(wf.n_frames == 8 && wf.features(0) == 0.5 &&
      wf.features(1) == 0.5 && wf.features(3) == 7.0)
  }

  /** Hand-built mono IMA-ADPCM WAV (format tag 17): each block is
    * (headerPredictor, headerStepIndex, nibbles), nibbles packed LOW
    * first per the IMA-WAV layout. */
  private def adpcmWav(spb: Int, blockAlign: Int,
      blocks: Seq[(Int, Int, Seq[Int])]): Array[Byte] = {
    val out = new Array[Byte](48 + blocks.length * blockAlign)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII"))
      .putInt(40 + blocks.length * blockAlign)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(20)
      .putShort(17).putShort(1)
      .putInt(8000).putInt(8000)
      .putShort(blockAlign.toShort).putShort(4)
      .putShort(2).putShort(spb.toShort)
      .put("data".getBytes("US-ASCII"))
      .putInt(blocks.length * blockAlign)
    blocks.zipWithIndex.foreach { case ((pred, idx, nibs), bi) =>
      val base = 48 + bi * blockAlign
      out(base) = (pred & 0xff).toByte
      out(base + 1) = ((pred >> 8) & 0xff).toByte
      out(base + 2) = idx.toByte
      nibs.zipWithIndex.foreach { case (n, i) =>
        val o = base + 4 + i / 2
        out(o) = (if (i % 2 == 0) n
                  else (out(o) & 0xff) | (n << 4)).toByte
      }
    }
    out
  }

  /** Feature vector a decoded int16 sample sequence must produce —
    * the same running arithmetic as the engine's scan, on exact
    * dyadic values. */
  private def pcm16Features(vals: Seq[Int]): Seq[Double] = {
    val s = vals.map(_ / 32768.0)
    val zx = s.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
    Seq(math.sqrt(s.map(v => v * v).sum / s.length),
      s.map(math.abs).max, s.length / 8000.0, zx.toDouble)
  }

  test("IMA ADPCM decode is REAL compressed audio: the DVI recurrence " +
      "(step table, sign bit, int16 + index clamps, low-nibble-first " +
      "packing, per-block headers) decodes exact reference vectors; " +
      "padding nibbles and short final blocks are honored; corrupt " +
      "streams fall back to the stub") {
    def row(id: Long, b: Array[Byte]) =
      Multimodal.MediaRow(id, b, Multimodal.MediaMeta("adpcm", 3, 5, 7))
    // vector A: header (0, 0), nibbles [3,11,7,15,4] → samples
    // [0, 4, 0, 11, −19, 19]; 5 nibbles in 3 bytes → the final high
    // nibble is padding and must NOT decode (spb = 6 stops it)
    val a = Multimodal.decodeOne(row(1L,
      adpcmWav(6, 7, Seq((0, 0, Seq(3, 11, 7, 15, 4))))))
    assert(a.width == 8000 && a.height == 1 && a.n_frames == 6)
    assert(a.features.toSeq == pcm16Features(Seq(0, 4, 0, 11, -19, 19)))
    // clamp both rails at max step: (32760, 88) + [7, 15] pins the
    // +32767 ceiling; (−32760, 88) + [15, 7] pins the −32768 floor
    val hi = Multimodal.decodeOne(row(2L,
      adpcmWav(3, 5, Seq((32760, 88, Seq(7, 15))))))
    assert(hi.features.toSeq ==
      pcm16Features(Seq(32760, 32767, -28669)))
    val lo = Multimodal.decodeOne(row(3L,
      adpcmWav(3, 5, Seq((-32760, 88, Seq(15, 7))))))
    assert(lo.features.toSeq ==
      pcm16Features(Seq(-32760, -32768, 28668)))
    // multi-block: each block restarts from ITS header (predictor is the
    // block's first sample), state does not leak across blocks
    val mb = Multimodal.decodeOne(row(4L,
      adpcmWav(2, 5, Seq((0, 0, Seq(3)), (-100, 3, Seq(9))))))
    assert(mb.n_frames == 4)
    assert(mb.features.toSeq == pcm16Features(Seq(0, 4, -100, -103)))
    // a short FINAL block decodes the samples its bytes carry (header +
    // one nibble byte = 3 of the declared 6): truncate the payload AND
    // the RIFF/data size fields so the container is self-consistent
    val short = adpcmWav(6, 7, Seq((0, 0, Seq(3, 11, 7, 15, 4))))
      .dropRight(2)
    val sbb = java.nio.ByteBuffer.wrap(short)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    sbb.putInt(4, 40 + 5) // RIFF size over the 5 remaining block bytes
    sbb.putInt(44, 5)     // data chunk size
    val sf = Multimodal.decodeOne(row(5L, short))
    assert(sf.n_frames == 3)
    assert(sf.features.toSeq == pcm16Features(Seq(0, 4, 0)))
    // corrupt step index (89) → honest stub, never a clamped half-decode
    val bad = adpcmWav(2, 5, Seq((0, 89, Seq(3))))
    val st = Multimodal.decodeOne(row(6L, bad))
    assert(st.width == 3 && st.features(3) == bad.length.toDouble)
    // the m13 gate fixture decodes through the same path
    val fx = Multimodal.decodeOne(row(7L,
      Multimodal.syntheticAdpcmWav(7L, 8)))
    assert(fx.n_frames == 8 && fx.width == 8000 && fx.n_bytes == 56)
  }

  test("audio fingerprint over ADPCM is computed in DECODE space: a " +
      "compressed clip and the 16-bit PCM WAV of its decoded samples " +
      "hash identically") {
    import spark.implicits._
    // header (1000, 30) + 15 nibbles → 16 decoded samples (reference
    // vector from the DVI recurrence)
    val nibs = Seq(3, 11, 7, 15, 4, 8, 2, 14, 5, 9, 0, 12, 6, 10, 1)
    val decoded = Seq(1000, 1113, 1011, 1210, 780, 1335, 1261, 1601, 799,
      2003, 1523, 1668, 476, 2559, 1139, 1913)
    val adpcm = adpcmWav(16, 12, Seq((1000, 30, nibs)))
    val pcm = encodeAudio(decoded.map(_.toShort).toArray, 8000f, 1)
    val media = Seq(
      Multimodal.MediaRow(1L, adpcm, Multimodal.MediaMeta("adpcm", 0, 0, 0)),
      Multimodal.MediaRow(2L, pcm, Multimodal.MediaMeta("wav", 0, 0, 0)))
      .toDS().toDF()
    val fp = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fp(1L) == fp(2L),
      "ADPCM and its decoded-PCM twin must fingerprint identically")
  }

  /** int16 LE samples of a canonical transcoded WAV (44-byte header). */
  private def wavSamples(wav: Array[Byte]): Seq[Int] =
    (44 until wav.length by 2).map(o =>
      ((wav(o) & 0xff) | (wav(o + 1) << 8)).toShort.toInt)

  /** Hand-built STEREO IMA-ADPCM WAV: one block, per-channel header
    * (predictor, stepIndex) and nibble stream, packed in the spec's
    * 4-byte-word-per-channel interleave (LOW nibble first). Both
    * channels must supply the same nibble count. */
  private def adpcmStereoWav(spb: Int, a: (Int, Int, Seq[Int]),
      b: (Int, Int, Seq[Int])): Array[Byte] = {
    require(a._3.length == b._3.length)
    val words = (a._3.length + 7) / 8
    val blockAlign = 8 + 8 * words
    val out = new Array[Byte](48 + blockAlign)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(40 + blockAlign)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(20)
      .putShort(17).putShort(2)
      .putInt(8000).putInt(8000)
      .putShort(blockAlign.toShort).putShort(4)
      .putShort(2).putShort(spb.toShort)
      .put("data".getBytes("US-ASCII")).putInt(blockAlign)
    Seq(a, b).zipWithIndex.foreach { case ((pred, idx, nibs), c) =>
      out(48 + 4 * c) = (pred & 0xff).toByte
      out(49 + 4 * c) = ((pred >> 8) & 0xff).toByte
      out(50 + 4 * c) = idx.toByte
      nibs.zipWithIndex.foreach { case (n, k) =>
        val o = 56 + (k / 8) * 8 + 4 * c + (k % 8) / 2
        out(o) = (if (k % 2 == 0) (out(o) & 0xf0) | n
                  else (out(o) & 0x0f) | (n << 4)).toByte
      }
    }
    out
  }

  test("stereo IMA ADPCM honors the 4-byte-word channel interleave: the " +
      "decoded frames are the two channels' independent mono recurrences " +
      "zipped, and the m17 fixture decodes with the declared geometry") {
    // channel A: the mono reference vector (1000, 30) + 8 nibbles;
    // channel B: a second independent chain
    val nibsA = Seq(3, 11, 7, 15, 4, 8, 2, 14)
    val nibsB = Seq(1, 9, 5, 13, 0, 6, 12, 7)
    val stereo = adpcmStereoWav(9, (1000, 30, nibsA), (0, 5, nibsB))
    val monoA = adpcmWav(9, 4 + 4, Seq((1000, 30, nibsA)))
    val monoB = adpcmWav(9, 4 + 4, Seq((0, 5, nibsB)))
    val sSt = wavSamples(Multimodal.transcodeOne(stereo).get)
    val sA = wavSamples(Multimodal.transcodeOne(monoA).get)
    val sB = wavSamples(Multimodal.transcodeOne(monoB).get)
    assert(sA.length == 9 && sB.length == 9 && sSt.length == 18)
    assert(sSt == sA.zip(sB).flatMap(p => Seq(p._1, p._2)),
      "stereo decode must equal the zipped mono chains")
    val fx = Multimodal.decodeOne(Multimodal.MediaRow(7L,
      Multimodal.syntheticAdpcmStereoWav(7L, 8),
      Multimodal.MediaMeta("adpcm2", 0, 0, 0)))
    assert(fx.n_frames == 8 && fx.width == 8000 && fx.height == 2)
    assert(fx.n_bytes == 64) // 56 + one 8-byte word-round
  }

  /** Hand-built MS-ADPCM WAV (format tag 2, mono or stereo): declares
    * the 7 standard coefficient pairs; each channel of each block is
    * (bPredictor, iDelta, iSamp1, iSamp2, nibbles) — HIGH nibble first
    * (mono) / hi=ch0 lo=ch1 (stereo), per the WAVE spec. */
  private def msWav(spb: Int, blockAlign: Int,
      blocks: Seq[Seq[(Int, Int, Int, Int, Seq[Int])]]): Array[Byte] = {
    val ch = blocks.head.length
    val out = new Array[Byte](78 + blocks.length * blockAlign)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII"))
      .putInt(70 + blocks.length * blockAlign)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(50)
      .putShort(2).putShort(ch.toShort)
      .putInt(8000).putInt(8000)
      .putShort(blockAlign.toShort).putShort(4)
      .putShort(32).putShort(spb.toShort)
      .putShort(7)
    Multimodal.msStdCoef.foreach { case (a, b) =>
      bb.putShort(a.toShort).putShort(b.toShort)
    }
    bb.put("data".getBytes("US-ASCII"))
      .putInt(blocks.length * blockAlign)
    blocks.zipWithIndex.foreach { case (chans, bi) =>
      val base = 78 + bi * blockAlign
      chans.zipWithIndex.foreach { case ((bp, dl, s1, s2, _), c) =>
        out(base + c) = bp.toByte
        val wb = java.nio.ByteBuffer.wrap(out)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        wb.putShort(base + ch + 2 * c, dl.toShort)
        wb.putShort(base + 3 * ch + 2 * c, s1.toShort)
        wb.putShort(base + 5 * ch + 2 * c, s2.toShort)
      }
      if (ch == 1) {
        chans.head._5.zipWithIndex.foreach { case (n, k) =>
          val o = base + 7 + k / 2
          out(o) = (if (k % 2 == 0) (out(o) & 0x0f) | (n << 4) // HIGH first
                    else (out(o) & 0xf0) | n).toByte
        }
      } else {
        val (n0, n1) = (chans(0)._5, chans(1)._5)
        n0.indices.foreach { k =>
          out(base + 14 + k) = ((n0(k) << 4) | n1(k)).toByte
        }
      }
    }
    out
  }

  test("MS ADPCM decode is REAL compressed audio: the public recurrence " +
      "(declared coefficient table, signed nibbles HIGH first, sample2-" +
      "then-sample1 header emission, delta adaptation with the 16 floor, " +
      "int16 clamps) decodes exact reference vectors; corrupt predictor " +
      "indexes fall back to the stub") {
    def row(id: Long, b: Array[Byte]) =
      Multimodal.MediaRow(id, b, Multimodal.MediaMeta("msadpcm", 3, 5, 7))
    // coefficient pair 2 = (0, 0): pred_k = signed(nib_k) · delta_k —
    // isolates the delta-adaptation chain.
    // dl 100, s1 5000, s2 −3000, nibs [1, 9, 15]:
    //   emit −3000, 5000; k0: 1·100 = 100, dl → (230·100)>>8 = 89
    //   k1: −7·89 = −623, dl → (614·89)>>8 = 213; k2: −1·213 = −213
    val a = Multimodal.decodeOne(row(1L,
      msWav(5, 9, Seq(Seq((2, 100, 5000, -3000, Seq(1, 9, 15)))))))
    assert(a.width == 8000 && a.height == 1 && a.n_frames == 5)
    assert(a.features.toSeq ==
      pcm16Features(Seq(-3000, 5000, 100, -623, -213)))
    // pair 0 = (256, 0): pred = s1 + sn·dl — isolates the sample window
    // shift AND the floor on the way down: dl (307·10)>>8 = 11 floors to
    // 16, so k1 moves by −4·16: [7, 100, 140, 76]
    val b = Multimodal.decodeOne(row(2L,
      msWav(4, 8, Seq(Seq((0, 10, 100, 7, Seq(4, 12)))))))
    assert(b.features.toSeq == pcm16Features(Seq(7, 100, 140, 76)))
    // the delta floor: dl 16, nib 0 → (230·16)>>8 = 14 floors to 16,
    // so the NEXT step still moves by ±16, never collapses to 0
    val c = Multimodal.decodeOne(row(3L,
      msWav(4, 8, Seq(Seq((2, 16, 0, 0, Seq(0, 1)))))))
    assert(c.features.toSeq == pcm16Features(Seq(0, 0, 0, 16)))
    // both int16 rails clamp
    val d = Multimodal.decodeOne(row(4L,
      msWav(4, 8, Seq(Seq((0, 30000, 32000, 0, Seq(7, 8)))))))
    val dv = wavSamples(Multimodal.transcodeOne(
      msWav(4, 8, Seq(Seq((0, 30000, 32000, 0, Seq(7, 8)))))).get)
    assert(dv(2) == 32767 && dv(3) == -32768)
    assert(d.n_frames == 4)
    // bPredictor beyond the declared table → honest stub
    val bad = msWav(3, 8, Seq(Seq((7, 10, 0, 0, Seq(1)))))
    val st = Multimodal.decodeOne(row(5L, bad))
    assert(st.width == 3 && st.features(3) == bad.length.toDouble)
    // the m18 gate fixture decodes through the same path
    val fx = Multimodal.decodeOne(row(6L,
      Multimodal.syntheticMsAdpcmWav(6L, 9)))
    assert(fx.n_frames == 9 && fx.width == 8000 && fx.n_bytes == 89)
  }

  test("stereo MS ADPCM alternates channels per nibble (hi=ch0, lo=ch1) " +
      "with channel-interleaved headers: decoded frames equal the two " +
      "mono chains zipped; transcode passes every ADPCM family through " +
      "losslessly (decode(transcode(x)) == decode(x))") {
    val chA = (2, 100, 5000, -3000, Seq(1, 9, 15))
    val chB = (0, 10, 100, 7, Seq(4, 12, 3))
    val stereo = msWav(5, 17, Seq(Seq(chA, chB)))
    val sSt = wavSamples(Multimodal.transcodeOne(stereo).get)
    val sA = wavSamples(Multimodal.transcodeOne(
      msWav(5, 9, Seq(Seq(chA)))).get)
    val sB = wavSamples(Multimodal.transcodeOne(
      msWav(5, 9, Seq(Seq(chB)))).get)
    assert(sA.length == 5 && sB.length == 5 && sSt.length == 10)
    assert(sSt == sA.zip(sB).flatMap(p => Seq(p._1, p._2)))
    // losslessness across the transform boundary for all three new
    // codec shapes: stereo IMA, mono MS, stereo MS
    // the m19 fixture decodes with its declared geometry
    val fx = Multimodal.decodeOne(Multimodal.MediaRow(6L,
      Multimodal.syntheticMsAdpcmStereoWav(6L, 9),
      Multimodal.MediaMeta("msadpcm2", 0, 0, 0)))
    assert(fx.n_frames == 9 && fx.width == 8000 && fx.height == 2 &&
      fx.n_bytes == 99)
    for (payload <- Seq(
        Multimodal.syntheticAdpcmStereoWav(11L, 10),
        Multimodal.syntheticMsAdpcmWav(11L, 10),
        Multimodal.syntheticMsAdpcmStereoWav(11L, 10),
        stereo)) {
      val direct = Multimodal.decodeOne(
        Multimodal.MediaRow(1L, payload, Multimodal.MediaMeta("x", 0, 0, 0)))
      val via = Multimodal.decodeOne(Multimodal.MediaRow(1L,
        Multimodal.transcodeOne(payload).get,
        Multimodal.MediaMeta("wav", 0, 0, 0)))
      assert(via.features.toSeq == direct.features.toSeq)
      assert(via.n_frames == direct.n_frames &&
        via.height == direct.height && via.width == direct.width)
    }
  }

  test("resamplePcm upsamples by linear interpolation with exact floor " +
      "arithmetic: originals keep their values, midpoints floor toward " +
      "-inf, stereo interpolates per channel, a 1-frame clip passes " +
      "through at the new rate, and undecodable payloads are untouched") {
    import spark.implicits._
    def dec(b: Array[Byte]) =
      Multimodal.decodeOne(Multimodal.MediaRow(0L, b,
        Multimodal.MediaMeta("x", 0, 0, 0)))
    def rs(b: Array[Byte], up: Int): Array[Byte] = {
      val out = Multimodal.resampleOne(b, up)
      assert(out.isDefined, "payload must resample")
      out.get
    }
    // mono [0, 100, -51] at 2x -> [0, 50, 100, floor(49/2)=24, -51];
    // the negative midpoint pins floor (not truncation): [0, -3] -> -2
    val mono = encodeAudio(Array[Short](0, 100, -51), 8000f, 1)
    val r2 = dec(rs(mono, 2))
    assert(r2.width == 16000 && r2.n_frames == 5)
    assert(r2.features.toSeq == {
      val s = Seq(0, 50, 100, 24, -51).map(_ / 32768.0)
      val zx = s.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
      Seq(math.sqrt(s.map(v => v * v).sum / 5), s.map(math.abs).max,
        5 / 16000.0, zx.toDouble)
    })
    val neg = dec(rs(encodeAudio(Array[Short](0, -3), 8000f, 1), 2))
    assert(neg.features(1) == 3.0 / 32768) // peak is the endpoint
    assert(neg.n_frames == 3)
    // 3x: [30, -30] -> [30, floor(30/3)=10, floor(-30/3)=-10, -30]
    val r3 = dec(rs(encodeAudio(Array[Short](30, -30), 8000f, 1), 3))
    assert(r3.width == 24000 && r3.n_frames == 4)
    assert(r3.features(0) ==
      math.sqrt(Seq(30, 10, -10, -30).map(v => v / 32768.0)
        .map(v => v * v).sum / 4))
    // stereo: anti-phase square interpolates per channel — midpoints
    // average each channel with ITSELF one frame later, so the mean
    // mixdown stays exactly zero everywhere
    val stereo = Array.tabulate(8)(i =>
      (if (i % 2 == 0) 16384 else -16384).toShort)
    val st = dec(rs(encodeAudio(stereo, 8000f, 2), 2))
    assert(st.height == 2 && st.n_frames == 7)
    assert(st.features(0) == 0.0 && st.features(1) == 0.0)
    // 1-frame clip: no interpolation partner, passes through at 2x rate
    val one = dec(rs(encodeAudio(Array[Short](1000), 8000f, 1), 2))
    assert(one.n_frames == 1 && one.width == 16000)
    assert(one.features(1) == 1000.0 / 32768)
    // resample(x) must equal resample(transcode(x)) — the int16
    // quantize-first contract (mu-law input exercises a non-PCM source)
    val ulaw = g711Wav(7, Array[Byte](0x00, -1, -128, 0x7f))
    assert(rs(ulaw, 2).toSeq ==
      rs(Multimodal.transcodeOne(ulaw).get, 2).toSeq)
    // the DataFrame op: undecodable rows pass through byte-identical
    val junk = Array[Byte](9, 9, 9)
    val out = Multimodal.resamplePcm(Seq(
        Multimodal.MediaRow(1L, mono, Multimodal.MediaMeta("wav", 0, 0, 0)),
        Multimodal.MediaRow(2L, junk, Multimodal.MediaMeta("mp3", 0, 0, 0)))
        .toDS().toDF(), 2)
      .as[Multimodal.MediaRow].collect().map(r => r.doc_id -> r).toMap
    assert(out(1L).meta.format == "wav" &&
      out(1L).media.toSeq == rs(mono, 2).toSeq)
    assert(out(2L).media.toSeq == junk.toSeq &&
      out(2L).meta.format == "mp3")
  }

  test("transcodePcm16 canonicalizes every decodable payload to 16-bit " +
      "WAV: G.711 and ADPCM losslessly, wide samples by arithmetic " +
      "shift, float32 by clamp+round; stereo and sample rate survive; " +
      "undecodable payloads pass through unchanged") {
    import spark.implicits._
    import javax.sound.sampled._
    def feats(b: Array[Byte]): Seq[Double] =
      Multimodal.decodeOne(Multimodal.MediaRow(0L, b,
        Multimodal.MediaMeta("x", 0, 0, 0))).features.toSeq
    def tc(b: Array[Byte]): Array[Byte] = {
      val out = Multimodal.transcodeOne(b)
      assert(out.isDefined, "payload must transcode")
      out.get
    }
    // G.711 μ-law → lossless: decode(transcode(x)) ≡ decode(x), and the
    // canonical container is 44 + 2·n bytes of real 16-bit WAV
    val uCodes = Array[Byte](0x00, -1, -128, 0x7f)
    val ulaw = g711Wav(7, uCodes)
    val uWav = tc(ulaw)
    assert(uWav.length == 44 + 8)
    assert(feats(uWav) == feats(ulaw))
    // ADPCM → lossless against the reference vector
    val ad = adpcmWav(6, 7, Seq((0, 0, Seq(3, 11, 7, 15, 4))))
    assert(feats(tc(ad)) == pcm16Features(Seq(0, 4, 0, 11, -19, 19)))
    // 24-bit → arithmetic shift down (truncation toward −∞)
    val v24 = Seq(0x123456, -0x123456)
    val d24 = new Array[Byte](6)
    v24.zipWithIndex.foreach { case (v, i) =>
      d24(3 * i) = (v & 0xff).toByte
      d24(3 * i + 1) = ((v >> 8) & 0xff).toByte
      d24(3 * i + 2) = ((v >> 16) & 0xff).toByte
    }
    val ais24 = new AudioInputStream(
      new java.io.ByteArrayInputStream(d24),
      new AudioFormat(8000f, 24, 1, true, false), 2)
    val bos24 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais24, AudioFileFormat.Type.WAVE, bos24)
    assert(feats(tc(bos24.toByteArray)) ==
      pcm16Features(v24.map(v => math.floorDiv(v, 256))))
    // float32 → clamp to [−1, 1], scale by 32767, Math.round (half
    // toward +∞): 0.5 → 16384, −0.5 → −16383, 2.0 clamps to 32767
    val fvals = Seq(0.5f, -0.5f, 2.0f)
    val df32 = new Array[Byte](12)
    val bbf = java.nio.ByteBuffer.wrap(df32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fvals.foreach(bbf.putFloat)
    val aisF = new AudioInputStream(
      new java.io.ByteArrayInputStream(df32),
      new AudioFormat(AudioFormat.Encoding.PCM_FLOAT, 8000f, 32, 1, 4,
        8000f, false), 3)
    val bosF = new java.io.ByteArrayOutputStream()
    AudioSystem.write(aisF, AudioFileFormat.Type.WAVE, bosF)
    assert(feats(tc(bosF.toByteArray)) ==
      pcm16Features(Seq(16384, -16383, 32767)))
    // stereo 16-bit: channel count and per-channel samples survive (the
    // anti-phase square still cancels to silence under mean mixdown)
    val stereo = Array.tabulate(800)(i =>
      (if (i % 2 == 0) 16384 else -16384).toShort)
    val st = tc(encodeAudio(stereo, 8000f, 2))
    val stDec = Multimodal.decodeOne(Multimodal.MediaRow(0L, st,
      Multimodal.MediaMeta("x", 0, 0, 0)))
    assert(stDec.height == 2 && stDec.n_frames == 400)
    assert(stDec.features(0) == 0.0 && stDec.features(1) == 0.0)
    // the DataFrame op: decodable rows get format 'wav', undecodable
    // rows pass through byte-identical with their original format
    val junk = Array[Byte](1, 2, 3, 4)
    val out = Multimodal.transcodePcm16(Seq(
        Multimodal.MediaRow(1L, ulaw, Multimodal.MediaMeta("ulaw", 0, 0, 0)),
        Multimodal.MediaRow(2L, junk, Multimodal.MediaMeta("mp3", 8, 8, 1)))
        .toDS().toDF())
      .as[Multimodal.MediaRow].collect().map(r => r.doc_id -> r).toMap
    assert(out(1L).meta.format == "wav" &&
      out(1L).media.toSeq == uWav.toSeq)
    assert(out(2L).meta.format == "mp3" &&
      out(2L).media.toSeq == junk.toSeq)
  }

  /** Hand-written YUV4MPEG2 stream: `header` line (no trailing \n), then
    * per frame its FRAME-line params (usually "") and raw planes. */
  private def y4mBytes(header: String,
      frames: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write((header + "\n").getBytes("US-ASCII"))
    frames.foreach { case (params, planes) =>
      bos.write(("FRAME" + params + "\n").getBytes("US-ASCII"))
      bos.write(planes)
    }
    bos.toByteArray
  }

  test("Y4M video decode is REAL: header geometry, fractional frame " +
      "rates, frame params, and every colourspace's plane offsets parse; " +
      "malformed streams (odd dims under 4:2:0, truncated frames, unknown " +
      "colourspace) fall back to the stub — never a partial decode") {
    def planes(luma: Int, yLen: Int, cLen: Int): Array[Byte] =
      Array.fill(yLen)(luma.toByte) ++ Array.fill(2 * cLen)(128.toByte)
    // NTSC-rate 4×2 C420: frames at luma 10/20/30, one with FRAME params
    val ntsc = y4mBytes("YUV4MPEG2 W4 H2 F30000:1001 Ip A1:1 C420jpeg",
      Seq(("", planes(10, 8, 2)), (" Xextension", planes(20, 8, 2)),
        ("", planes(30, 8, 2))))
    val c444 = y4mBytes("YUV4MPEG2 W3 H3 F25:1 C444",
      Seq(("", planes(100, 9, 9))))
    val mono = y4mBytes("YUV4MPEG2 W3 H1 F25:1 Cmono",
      Seq(("", planes(50, 3, 0))))
    val c422 = y4mBytes("YUV4MPEG2 W4 H3 F25:1 C422",
      Seq(("", planes(60, 12, 6))))
    val oddDims = y4mBytes("YUV4MPEG2 W3 H2 F25:1 C420",
      Seq(("", planes(10, 6, 0))))
    val truncated = ntsc.dropRight(5)
    val unknownC = y4mBytes("YUV4MPEG2 W4 H2 F25:1 C410",
      Seq(("", planes(10, 8, 2))))
    def row(id: Long, b: Array[Byte]) =
      Multimodal.MediaRow(id, b, Multimodal.MediaMeta("y4m", 9, 9, 9))
    val out = Seq(ntsc, c444, mono, c422, oddDims, truncated, unknownC)
      .zipWithIndex
      .map { case (b, i) => Multimodal.decodeOne(row(i + 1L, b)) }
      .map(r => r.doc_id -> r).toMap
    val v = out(1L)
    assert(v.width == 4 && v.height == 2 && v.n_frames == 3)
    assert(v.features(0) == 20.0) // mean of exact means 10/20/30
    assert(v.features(1) == 10.0) // |Δ| = 10, 10
    assert(v.features(2) == 3.0 * 1001 / 30000) // duration at NTSC rate
    assert(v.features(3) == 30000.0 / 1001)
    assert(out(2L).width == 3 && out(2L).n_frames == 1 &&
      out(2L).features(0) == 100.0 && out(2L).features(1) == 0.0)
    assert(out(3L).features(0) == 50.0 && out(3L).width == 3)
    assert(out(4L).features(0) == 60.0 && out(4L).height == 3)
    // fallbacks: the stub reports the DECLARED meta dims (9×9), the
    // decoder-authority paths report parsed dims — distinguishes exactly
    Seq(5L, 6L, 7L).foreach { id =>
      assert(out(id).width == 9 && out(id).height == 9,
        s"payload $id must take the stub path")
    }
  }

  test("synthetic Y4M gate fixtures decode to their md5 ground truth — " +
      "the arithmetic the DuckDB oracle replays (m07), byte layout pinned") {
    val id = 7L
    val n = 4
    val clip = Multimodal.syntheticY4m(id, n)
    assert(clip.length == 35 + 18 * n) // header + FRAME\n + 8Y + 2U + 2V
    val means = (0 until n).map { f =>
      val a = Multimodal.frameLumaBase(id, f)
      (0 until 8).map(p => (a + 13 * p) % 200).sum / 8.0
    }
    val d = Multimodal.decodeOne(
      Multimodal.MediaRow(id, clip, Multimodal.MediaMeta("y4m", 0, 0, 0)))
    assert(d.width == 4 && d.height == 2 && d.n_frames == n)
    assert(d.features(0) == means.sum / n)
    assert(d.features(1) ==
      means.sliding(2).map { case Seq(x, y) => math.abs(y - x) }.sum / (n - 1))
    assert(d.features(2) == n / 25.0 && d.features(3) == 25.0)
    // the brightness-graded re-encode shifts every frame mean by exactly
    // the shift — the invariance the m08 fingerprint relies on
    val g = Multimodal.decodeOne(Multimodal.MediaRow(id,
      Multimodal.syntheticY4m(id, n, shift = 8),
      Multimodal.MediaMeta("y4m", 0, 0, 0)))
    assert(g.features(0) == d.features(0) + 8.0)
    assert(g.features(1) == d.features(1))
  }

  test("compression-ratio quality signal: repeated boilerplate < natural " +
      "prose < random hex, empty text guards to 1.0, and the byte counts " +
      "are deterministic run-to-run") {
    import spark.implicits._
    val prose = "The quick brown fox jumps over the lazy dog while " +
      "a curious reader wonders what this sentence demonstrates about " +
      "natural language statistics and letter frequency distributions. " +
      "Compression algorithms exploit the redundancy that grammar and " +
      "vocabulary impose, which is precisely why fluent writing shrinks " +
      "further than gibberish of the same length. Different sentences " +
      "about unrelated topics, such as weather patterns, harbor seals, " +
      "or the price of tea, still share that statistical structure."
    val repeated = Seq.fill(40)("spam ham spam").mkString(" ")
    // md5-derived random PRINTABLE bytes (94 symbols, near-uniform):
    // genuinely high-entropy per byte, unlike hex's 16-symbol alphabet
    // which Huffman-codes below prose
    val random = (0 until 80).flatMap { i =>
      val u = Multimodal.md5Uint(s"rnd:$i")
      Seq(u >> 24, u >> 16, u >> 8, u)
        .map(b => (33 + ((b & 0xff) % 94)).toChar)
    }.mkString
    val docs = Seq((1L, repeated), (2L, prose), (3L, random), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.compressionRatio(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L)._3 < out(2L)._3 && out(2L)._3 < out(3L)._3,
      s"ordering contract violated: $out")
    assert(out(1L)._3 < 0.15, "40x-repeated boilerplate must crush")
    assert(out(3L)._3 > 0.5, "high-entropy hex must resist compression")
    assert(out(4L) == ((0L, 8L, 1.0)), // empty deflate stream is 8 bytes
      "empty text guards the ratio to 1.0")
    val again = TextOps.compressionRatio(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == again, "byte counts must be deterministic")
  }

  test("synthetic WAV gate fixtures decode to their md5 ground truth " +
      "(m09) and the half-gain re-encode fingerprints identically (m10): " +
      "even raw samples halve exactly, so window RMS scales by a power " +
      "of two and every delta sign is preserved") {
    import spark.implicits._
    val id = 9L
    val n = 7
    val clip = Multimodal.syntheticWav(id, n)
    assert(clip.length == 44 + n)
    val s = (0 until n).map(i => Multimodal.sampleRaw(id, i) / 128.0)
    val d = Multimodal.decodeOne(
      Multimodal.MediaRow(id, clip, Multimodal.MediaMeta("wav", 0, 0, 0)))
    assert(d.width == 8000 && d.height == 1 && d.n_frames == n)
    assert(d.features(0) == math.sqrt(s.map(x => x * x).sum / n)) // rms
    assert(d.features(1) == s.map(math.abs).max) // peak
    assert(d.features(2) == n / 8000.0) // duration
    assert(d.features(3) == s.sliding(2).count { // zero crossings
      case Seq(a, b) => (a >= 0) != (b >= 0)
    }.toDouble)
    def meta = Multimodal.MediaMeta("wav", 0, 0, 0)
    val media = Seq(
      Multimodal.MediaRow(1L, Multimodal.syntheticWav(1L, 64), meta),
      Multimodal.MediaRow(2L, Multimodal.syntheticWav(2L, 64), meta),
      Multimodal.MediaRow(11L, Multimodal.syntheticWav(1L, 64), meta),
      Multimodal.MediaRow(12L,
        Multimodal.syntheticWav(1L, 64, halfGain = true), meta))
      .toDS().toDF()
    val fp = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fp(1L) == fp(11L) && fp(1L) == fp(12L))
    assert(fp(1L) != fp(2L))
    val pairs = Multimodal.audioNearDupPairs(media, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 11L), (1L, 12L), (11L, 12L)))
  }

  /** Animated GIF via the JDK writer: frames as (image, delay cs,
    * disposal, (x, y) offset). TYPE_BYTE_GRAY keeps palette colors exact. */
  private def animatedGif(
      frames: Seq[(java.awt.image.BufferedImage, Int, String, (Int, Int))])
      : Array[Byte] = {
    import javax.imageio.metadata.IIOMetadataNode
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { case (im, delayCs, disposal, (x, y)) =>
      val spec =
        javax.imageio.ImageTypeSpecifier.createFromRenderedImage(im)
      val md =
        writer.getDefaultImageMetadata(spec, writer.getDefaultWriteParam)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = md.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      def child(name: String): IIOMetadataNode = {
        var c = tree.getFirstChild
        while (c != null && c.getNodeName != name) c = c.getNextSibling
        if (c != null) c.asInstanceOf[IIOMetadataNode]
        else {
          val nn = new IIOMetadataNode(name); tree.appendChild(nn); nn
        }
      }
      val gce = child("GraphicControlExtension")
      gce.setAttribute("disposalMethod", disposal)
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", delayCs.toString)
      gce.setAttribute("transparentColorIndex", "0")
      val idn = child("ImageDescriptor")
      idn.setAttribute("imageLeftPosition", x.toString)
      idn.setAttribute("imageTopPosition", y.toString)
      idn.setAttribute("imageWidth", im.getWidth.toString)
      idn.setAttribute("imageHeight", im.getHeight.toString)
      idn.setAttribute("interlaceFlag", "FALSE")
      md.setFromTree(fmt, tree)
      writer.writeToSequence(
        new javax.imageio.IIOImage(im, null, md), null)
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  private def grayFrame(w: Int, h: Int, level: Int)
      : java.awt.image.BufferedImage = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val g = im.createGraphics()
    g.setColor(new java.awt.Color(level, level, level))
    g.fillRect(0, 0, w, h)
    g.dispose()
    im
  }

  test("animated-GIF decode is REAL: multi-frame javax.imageio read with " +
      "offset compositing onto the logical screen; delays drive duration; " +
      "single-frame GIFs stay on the still-image path") {
    val eps = 1e-6
    val threeFrames = animatedGif(Seq(
      (grayFrame(8, 8, 40), 10, "none", (0, 0)),
      (grayFrame(8, 8, 120), 10, "none", (0, 0)),
      (grayFrame(8, 8, 80), 10, "none", (0, 0))))
    val d = Multimodal.decodeOne(Multimodal.MediaRow(1L, threeFrames,
      Multimodal.MediaMeta("gif", 0, 0, 0)))
    assert(d.width == 8 && d.height == 8 && d.n_frames == 3)
    assert(math.abs(d.features(0) - 80.0) < eps) // mean of 40/120/80
    assert(math.abs(d.features(1) - 60.0) < eps) // (80 + 40) / 2
    assert(d.features(2) == 0.3 && math.abs(d.features(3) - 10.0) < eps)
    // a later frame covering only a sub-rectangle composites OVER the
    // prior canvas at its offset — what a viewer sees, not the stored rect
    val offset = animatedGif(Seq(
      (grayFrame(8, 8, 0), 10, "none", (0, 0)),
      (grayFrame(4, 4, 255), 10, "none", (4, 4))))
    val o = Multimodal.decodeOne(Multimodal.MediaRow(2L, offset,
      Multimodal.MediaMeta("gif", 0, 0, 0)))
    assert(o.n_frames == 2 && o.width == 8 && o.height == 8)
    assert(math.abs(o.features(0) - (0.0 + 255.0 / 4) / 2) < eps,
      "frame 2 = black canvas + white quadrant = 63.75 mean luma")
    // single-frame GIF: still image — pixel moments, not frame features
    val still = Multimodal.decodeOne(Multimodal.MediaRow(3L,
      animatedGif(Seq((grayFrame(8, 8, 120), 0, "none", (0, 0)))),
      Multimodal.MediaMeta("gif", 0, 0, 0)))
    assert(still.n_frames == 0 && math.abs(still.features(0) - 120.0) < eps
      && still.features(1) < eps, "one frame takes the image path")
  }

  test("video fingerprint: brightness-graded and re-uploaded clips hash " +
      "identically, unrelated clips differ; near-dup pairs find exactly " +
      "the planted clones; undecodable (compressed) payloads take the " +
      "content-uniform hash — exact dups only") {
    import spark.implicits._
    def meta = Multimodal.MediaMeta("y4m", 0, 0, 0)
    val media = Seq(
      Multimodal.MediaRow(1L, Multimodal.syntheticY4m(1L, 64), meta),
      Multimodal.MediaRow(2L, Multimodal.syntheticY4m(2L, 64), meta),
      // clones of clip 1: re-upload + brightness grade
      Multimodal.MediaRow(11L, Multimodal.syntheticY4m(1L, 64), meta),
      Multimodal.MediaRow(12L, Multimodal.syntheticY4m(1L, 64, shift = 8),
        meta),
      // compressed payloads no JDK codec decodes: shared container
      // header, different content — must NOT pair; 23/24 byte-exact must
      Multimodal.MediaRow(21L, "    ftypmp42-rec-one"
        .getBytes("UTF-8"), Multimodal.MediaMeta("mp4", 0, 0, 0)),
      Multimodal.MediaRow(22L, "    ftypmp42-rec-two"
        .getBytes("UTF-8"), Multimodal.MediaMeta("mp4", 0, 0, 0)),
      Multimodal.MediaRow(23L, "    ftypmp42-rec-one"
        .getBytes("UTF-8"), Multimodal.MediaMeta("mp4", 0, 0, 0)))
      .toDS().toDF()
    val fp = Multimodal.videoFingerprint(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fp(1L) == fp(11L) && fp(1L) == fp(12L))
    assert(fp(1L) != fp(2L))
    assert(fp(21L) == fp(23L) && fp(21L) != fp(22L))
    val pairs = Multimodal.videoNearDupPairs(media, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 11L), (1L, 12L), (11L, 12L), (21L, 23L)))
  }

  test("degenerate-signal clips (static video, silence / monotone-decay " +
      "audio) fall back to a DECODE-SPACE content hash: container " +
      "translations still pair, but unrelated degenerate clips never " +
      "share an all-zero sketch bucket") {
    import spark.implicits._
    def vmeta = Multimodal.MediaMeta("y4m", 0, 0, 0)
    def staticY4m(luma: Int) = y4mBytes("YUV4MPEG2 W4 H2 F25:1 C420",
      Seq.fill(8)(("",
        Array.fill(8)(luma.toByte) ++ Array.fill(4)(128.toByte))))
    val vm = Seq(
      Multimodal.MediaRow(1L, staticY4m(50), vmeta),
      Multimodal.MediaRow(2L, staticY4m(50), vmeta), // re-upload
      Multimodal.MediaRow(3L, staticY4m(120), vmeta)) // DIFFERENT static
      .toDS().toDF()
    val vfp = Multimodal.videoFingerprint(vm).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(vfp(1L) == vfp(2L), "static re-upload must pair")
    assert(vfp(1L) != vfp(3L),
      "two different static clips must NOT collide — the all-zero-sketch " +
        "bucket would pair every static asset with every other one")
    assert(Multimodal.videoNearDupPairs(vm, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // audio: silence and a monotone energy decay have no rising window;
    // the decode-space hash keeps WAV↔AIFF container invariance anyway
    val silence = Array.fill(64)(0.toShort)
    val decay = Array.tabulate(64)(i => (6400 - 100 * i).toShort)
    val am = Seq(
      Multimodal.MediaRow(11L, encodeAudio(silence, 8000f, 1),
        Multimodal.MediaMeta("wav", 0, 0, 1)),
      Multimodal.MediaRow(12L, encodeAudio(silence, 8000f, 1, aiff = true),
        Multimodal.MediaMeta("aiff", 0, 0, 1)),
      Multimodal.MediaRow(13L, encodeAudio(decay, 8000f, 1),
        Multimodal.MediaMeta("wav", 0, 0, 1))).toDS().toDF()
    val afp = Multimodal.audioFingerprint(am).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(afp(11L) == afp(12L),
      "silence must hash identically through WAV and AIFF (decode space)")
    assert(afp(11L) != afp(13L),
      "silence and a fade-out must not collide")
  }

  test("media decode is TOTAL on hostile bytes: seeded mutations of valid " +
      "Y4M/WAV/GIF payloads and pure garbage never throw — every payload " +
      "either decodes or falls to the stub (corpus payloads are untrusted)") {
    val seeds = Seq[Array[Byte]](
      Multimodal.syntheticY4m(3L, 5),
      Multimodal.syntheticWav(3L, 40),
      Multimodal.syntheticUlawWav(3L, 40),
      Multimodal.syntheticAdpcmWav(3L, 9),
      Multimodal.syntheticAdpcmStereoWav(3L, 9),
      Multimodal.syntheticMsAdpcmWav(3L, 9),
      Multimodal.syntheticMsAdpcmStereoWav(3L, 9),
      Multimodal.syntheticFlac(3L, 9),
      animatedGif(Seq((grayFrame(8, 8, 40), 10, "none", (0, 0)),
        (grayFrame(8, 8, 120), 10, "none", (0, 0)))))
    val rnd = new java.util.Random(42)
    var id = 0L
    for (base <- seeds; _ <- 0 until 300) {
      val b = rnd.nextInt(3) match {
        case 0 => // flip bytes anywhere (headers included)
          val m = base.clone()
          (0 until 1 + rnd.nextInt(4)).foreach { _ =>
            m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
          }
          m
        case 1 => base.take(1 + rnd.nextInt(base.length)) // truncate
        case 2 => base ++ Array.fill(1 + rnd.nextInt(32))( // garbage tail
          rnd.nextInt(256).toByte)
      }
      id += 1
      // must not throw, whatever the bytes; features stay finite
      val out = Multimodal.decodeOne(
        Multimodal.MediaRow(id, b, Multimodal.MediaMeta("x", 7, 7, 7)))
      assert(out.n_bytes == b.length)
      assert(out.features.length == 4 && out.features.forall(f =>
        !f.isNaN && !f.isInfinite))
      // the transcode transform is equally total, and when it claims a
      // canonical WAV that WAV must itself decode with finite features
      Multimodal.transcodeOne(b).foreach { w =>
        val d = Multimodal.decodeOne(
          Multimodal.MediaRow(id, w, Multimodal.MediaMeta("wav", 0, 0, 0)))
        assert(d.features.forall(f => !f.isNaN && !f.isInfinite))
      }
    }
  }

  test("float32 WAV with non-finite bit patterns decodes those samples " +
      "as silence — one poisoned sample must not NaN the clip's features") {
    import javax.sound.sampled._
    val df = new Array[Byte](16)
    val bb = java.nio.ByteBuffer.wrap(df)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putFloat(0.5f).putFloat(Float.NaN)
      .putFloat(Float.PositiveInfinity).putFloat(-0.5f)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(df),
      new AudioFormat(AudioFormat.Encoding.PCM_FLOAT, 8000f, 32, 1, 4,
        8000f, false), 4)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val d = Multimodal.decodeOne(Multimodal.MediaRow(1L, bos.toByteArray,
      Multimodal.MediaMeta("wav", 0, 0, 0)))
    // effective samples [0.5, 0, 0, −0.5]
    assert(d.features.toSeq ==
      Seq(math.sqrt(0.5 / 4), 0.5, 4 / 8000.0, 1.0))
  }

  test("media fingerprint index + nightly delta: delta pairs equal the " +
      "batch pairs over the union minus the already-reported index-only " +
      "pairs, and the merged index serves the next night") {
    import spark.implicits._
    def meta = Multimodal.MediaMeta("y4m", 0, 0, 0)
    def clip(id: Long, src: Long, shift: Int = 0) =
      Multimodal.MediaRow(id, Multimodal.syntheticY4m(src, 64, shift), meta)
    // night-0 corpus: 1/2/3 unique, 4 re-uploads 1
    val corpus =
      Seq(clip(1, 1), clip(2, 2), clip(3, 3), clip(4, 1)).toDS().toDF()
    // night-1 delta: 11 brightness-grades 2, 12 unique, 13 re-uploads 12,
    // and doc 1 RE-PRESENTED (same id, same content) — ingest is
    // idempotent, so it must add nothing: no self-pair, no re-reported
    // (1, 4), no duplicate index row
    val delta = Seq(clip(11, 2, shift = 8), clip(12, 12), clip(13, 12),
      clip(1, 1)).toDS().toDF()
    val idx0 =
      Multimodal.mediaFpIndex(Multimodal.videoFingerprint(corpus), 2)
    val (pairs, idx1) =
      Multimodal.mediaDeltaPairs(idx0, Multimodal.videoFingerprint(delta))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 11L), (12L, 13L)))
    val batch = Multimodal.videoNearDupPairs(corpus.unionByName(delta), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val indexOnly = Multimodal.videoNearDupPairs(corpus, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == indexOnly ++ got,
      "delta must report exactly the union's new pairs")
    assert(idx1.fingerprints.count() == 7)
    // night 2 touches BOTH prior nights through the merged index
    val delta2 = Seq(clip(21, 1), clip(22, 12)).toDS().toDF()
    val (p2, _) =
      Multimodal.mediaDeltaPairs(idx1, Multimodal.videoFingerprint(delta2))
    val got2 = p2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((1L, 21L), (4L, 21L), (12L, 22L), (13L, 22L)))
  }

  test("mediaFpDelete honors right-to-be-forgotten: a tombstoned asset's " +
      "postings are gone (it never pairs against a future delta), the " +
      "delete-then-delta result is bit-equal to rebuild-on-survivors, " +
      "and deleting an absent id is a no-op") {
    import spark.implicits._
    def meta = Multimodal.MediaMeta("y4m", 0, 0, 0)
    def clip(id: Long, src: Long) =
      Multimodal.MediaRow(id, Multimodal.syntheticY4m(src, 64, 0), meta)
    // corpus: 1/2/3 unique, 4 re-uploads 1
    val corpus =
      Seq(clip(1, 1), clip(2, 2), clip(3, 3), clip(4, 1)).toDS().toDF()
    val idx0 =
      Multimodal.mediaFpIndex(Multimodal.videoFingerprint(corpus), 2)
    // forget asset 1 (plus an id that was never ingested — idempotence)
    val deleted = Multimodal.mediaFpDelete(idx0,
      Seq(1L, 999L).toDF("doc_id"))
    assert(deleted.fingerprints.count() == 3)
    assert(deleted.keyed.where(col("doc_id") === 1L).count() == 0,
      "a forgotten asset must leave no postings behind")
    // the delta re-presents asset 1's CONTENT under a new id: it must
    // pair with the surviving re-upload 4, and NEVER with the forgotten 1
    val delta = Seq(clip(21, 1), clip(22, 2)).toDS().toDF()
    val (pairs, merged) =
      Multimodal.mediaDeltaPairs(deleted, Multimodal.videoFingerprint(delta))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((4L, 21L), (2L, 22L)), s"got $got")
    // bit-equal to rebuilding the index on the survivors
    val survivors =
      Seq(clip(2, 2), clip(3, 3), clip(4, 1)).toDS().toDF()
    val rebuilt =
      Multimodal.mediaFpIndex(Multimodal.videoFingerprint(survivors), 2)
    val (rPairs, rMerged) =
      Multimodal.mediaDeltaPairs(rebuilt, Multimodal.videoFingerprint(delta))
    def fpSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fpSet(deleted.fingerprints) == fpSet(rebuilt.fingerprints))
    assert(rPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == got)
    assert(fpSet(merged.fingerprints) == fpSet(rMerged.fingerprints))
    // deleting the same id again changes nothing
    val again = Multimodal.mediaFpDelete(deleted, Seq(1L).toDF("doc_id"))
    assert(fpSet(again.fingerprints) == fpSet(deleted.fingerprints) &&
      again.keyed.count() == deleted.keyed.count())
  }

  test("DCT pHash: brightness shift and JPEG re-encode are near-dups, a " +
      "structurally different image is far; decoded near-dup pairs find " +
      "exactly the re-encode cluster") {
    import spark.implicits._
    // blocky asymmetric pattern (8×8 tiles at varied levels ≤ 210): strong,
    // well-separated AC coefficients — a smooth gradient's tiny
    // coefficients would make the sign bits fp-noise-unstable. The +16
    // shift never clamps, so it moves ONLY the excluded DC coefficient
    // → identical AC signs.
    def blocky(off: Int) = testImage(64, 48) { (x, y) =>
      val v = 30 + ((x / 8) * 31 + (y / 8) * 47) % 180 + off
      (v << 16) | (v << 8) | v
    }
    val base = blocky(0)
    val shifted = blocky(16)
    val stripes = testImage(64, 48) { (x, _) =>
      val v = if ((x / 8) % 2 == 0) 40 else 200; (v << 16) | (v << 8) | v
    }
    val ha = Multimodal.phashPixels(base)
    val hb = Multimodal.phashPixels(shifted)
    val hj = Multimodal.phashPixels(
      javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(encode(base, "jpg"))))
    val hc = Multimodal.phashPixels(stripes)
    assert(java.lang.Long.bitCount(ha ^ hb) <= 2,
      s"brightness twin hamming ${java.lang.Long.bitCount(ha ^ hb)}")
    assert(java.lang.Long.bitCount(ha ^ hj) <= 8,
      s"jpeg re-encode hamming ${java.lang.Long.bitCount(ha ^ hj)}")
    assert(java.lang.Long.bitCount(ha ^ hc) >= 12,
      s"unrelated hamming ${java.lang.Long.bitCount(ha ^ hc)}")
    // the banded near-dup op over REAL pixel hashes: the three re-encodes
    // cluster, the stripes image pairs with nothing
    val media = Seq(
      Multimodal.MediaRow(1L, encode(base, "png"),
        Multimodal.MediaMeta("png", 64, 48, 1)),
      Multimodal.MediaRow(2L, encode(shifted, "png"),
        Multimodal.MediaMeta("png", 64, 48, 1)),
      Multimodal.MediaRow(3L, encode(base, "jpg"),
        Multimodal.MediaMeta("jpeg", 64, 48, 1)),
      Multimodal.MediaRow(4L, encode(stripes, "png"),
        Multimodal.MediaMeta("png", 64, 48, 1))).toDS().toDF()
    val pairs = Multimodal.phashNearDupPairs(media, 8, decoded = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("phashDecoded byte fallback is bit-identical to the SQL mediaPhash " +
      "for undecodable payloads of ANY length (short assets band " +
      "uniformly through either entry point)") {
    import spark.implicits._
    val payloads = Seq(
      Array[Byte](1, 2, 3, 4, 5, 6),                    // short: 6 bytes
      Array[Byte](0x7f, 0, -1, 0x10),                    // 4 bytes (no lo)
      Array.tabulate(16)(i => (i * 17 + 3).toByte),      // full 16 bytes
      Array[Byte](-128))                                 // 1 byte
    val media = payloads.zipWithIndex.map { case (b, i) =>
      Multimodal.MediaRow(i.toLong, b, Multimodal.MediaMeta("wav", 1, 1, 1))
    }.toDS().toDF()
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(Multimodal.phashDecoded(media)) == m(Multimodal.mediaPhash(media)))
  }

  test("frame sampling strides over metadata frame counts") {
    val fs = Multimodal.frameSample(Multimodal.attachFakeMedia(docs), 2)
      .collect()
    fs.groupBy(_.getLong(0)).foreach { case (id, g) =>
      val n = (id % 10 + 1).toInt
      assert(g.length == (n + 1) / 2)
    }
  }

  test("custom expressions register as SQL functions (SparkSessionExtensions)") {
    graft.functions.GraftExtensions.register(spark)
    docs.createOrReplaceTempView("docs_v")
    val viaSql = spark.sql(
      "SELECT doc_id, simhash64(split(text, ' ')) AS sh FROM docs_v ORDER BY doc_id LIMIT 5")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val viaCol = docs
      .select(col("doc_id"), graft.functions.SimHash64.simhash64(
        split(col("text"), " ")).as("sh"))
      .orderBy("doc_id").limit(5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaSql.sameElements(viaCol))
    val sig = spark.sql(
      "SELECT minhash_sig(transform(split(text, ' '), t -> xxhash64(t)), 16) AS s FROM docs_v LIMIT 1")
      .collect()(0).getSeq[Long](0)
    assert(sig.length == 16)
  }

  test("asof join equals the naive latest-prior range join") {
    val ev = cat.table("events")
      .selectExpr("user_id", "event_id", "CAST(ts AS DATE) AS t")
    val st = cat.table("orders")
      .selectExpr("o_custkey AS user_id", "CAST(o_orderdate AS DATE) AS t",
        "o_orderkey AS ord", "o_totalprice AS value")
    val fast = EventOps.asofJoin(ev, st).collect().map(_.toSeq)
    // naive: inequality join + per-event argmax over (t, ord)
    val naive = ev.as("e").join(st.as("s"),
        col("e.user_id") === col("s.user_id") && col("s.t") <= col("e.t"),
        "left")
      .groupBy(col("e.event_id"), col("e.user_id"), col("e.t"))
      .agg(max(struct(col("s.t"), col("s.ord"), col("s.value"))).as("best"))
      .selectExpr("event_id", "user_id", "t", "best.ord AS asof_ord",
        "best.value AS asof_value")
      .orderBy("event_id").collect().map(_.toSeq)
    assert(fast.toSeq == naive.toSeq)
  }

  test("asof join with no matching states yields null state columns") {
    val ev = cat.table("events")
      .selectExpr("user_id", "event_id", "CAST(ts AS DATE) AS t")
    val st = cat.table("orders")
      .selectExpr("o_custkey AS user_id", "CAST(o_orderdate AS DATE) AS t",
        "o_orderkey AS ord", "o_totalprice AS value")
      .where(lit(false))
    val out = EventOps.asofJoin(ev, st).collect()
    assert(out.length == ev.count())
    assert(out.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("sample quota: exactly min(n, group size) rows per group") {
    val out = TextOps.sampleQuota(docs, "source", 7).collect()
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    sizes.foreach { case (src, n) =>
      assert(got.getOrElse(src, 0) == math.min(7L, n), src)
    }
  }

  test("hash split is total, deterministic, and repartition-invariant") {
    val s1 = TextOps.hashSplit(docs, 80, 10).collect()
    assert(s1.length == docs.count())
    assert(s1.map(_.getString(3)).toSet.subsetOf(Set("train", "valid", "test")))
    val s2 = TextOps.hashSplit(docs.repartition(13), 80, 10).collect()
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq)
  }

  test("text quality + langid are deterministic and complete") {
    val q = TextOps.qualityScore(docs).collect()
    assert(q.length == docs.count())
    assert(q.forall(r => r.getDouble(2) >= 0 && r.getDouble(2) <= 1))
    val l = TextOps.languageId(docs).collect()
    assert(l.length == docs.count())
    val preds = l.map(_.getString(2)).toSet
    assert(preds.subsetOf(Set("en", "fr", "de", "es", "und")))
  }

  test("seq packing: offsets are the exact prefix sum at any bucket width") {
    // the distributed two-phase prefix sum must equal the sequential one —
    // and be invariant to the bucket width that distributes it
    val rows = TextOps.packOffsets(docs, 512, bucketWidth = 7).collect()
    var run = 0L
    rows.foreach { r =>
      assert(r.getLong(2) == run, s"doc ${r.getLong(0)} offset")
      assert(r.getLong(3) == run / 512 && r.getLong(4) == run % 512)
      val last = run + r.getLong(1) - 1
      assert(r.getLong(5) == last / 512 - run / 512 + 1, "spanned seqs")
      run += r.getLong(1)
    }
    val wide = TextOps.packOffsets(docs, 512, bucketWidth = 100000).collect()
    assert(rows.map(_.toSeq).toSeq == wide.map(_.toSeq).toSeq)
  }

  test("collocations: pairs are adjacent in the corpus, counted exactly") {
    val out = TextOps.collocations(docs, 20, 5).collect()
    assert(out.length == 20)
    // recount every returned bigram by brute force over the collected corpus
    val texts = docs.select("text").collect().map(_.getString(0))
    val bigramCounts = texts.flatMap(t => t.split(" ").sliding(2))
      .collect { case Array(a, b) => (a, b) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    out.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(bigramCounts.getOrElse(key, 0L) == r.getLong(2), key)
      assert(r.getLong(2) >= 5)
    }
    // lift ranking is descending
    val lifts = out.map(_.getDouble(3))
    assert(lifts.sameElements(lifts.sortBy(-_)))
  }

  test("embedding LSH near-dup: subset of all-pairs with correct cosine " +
      "and only bucket-colliding pairs missed") {
    val lsh = Dedup.embeddingNearDupLshPairs(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute-force ground truth (no blocking)
    val e = emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .as("a")
      .join(emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
        .as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.dot(col("a.v"), col("b.v")).as("cos"))
      .where(col("cos") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // every LSH pair is a true pair with the identical cosine
    lsh.foreach { case (k, c) =>
      assert(e.contains(k) && e(k) == c, k)
    }
    // a planted exact duplicate (same vector => same buckets in every
    // table) is always recalled
    val clone = emb.where(col("vec_id") === 3L)
      .withColumn("vec_id", lit(100003L))
    val withDup = Dedup.embeddingNearDupLshPairs(emb.unionByName(clone), 0.9)
      .collect()
    assert(withDup.exists(r => r.getLong(0) == 3L && r.getLong(1) == 100003L))
  }

  test("weighted sampling: deterministic, weight-0 drops all, rates track") {
    val w = Map("src1" -> 0.25, "src2" -> 0.5, "src3" -> 0.0)
    val kept = TextOps.weightedSample(docs, w).collect()
    assert(!kept.exists(_.getString(1) == "src3"), "weight 0 must drop all")
    val bySrc = kept.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // realized rate within a loose binomial band (25 docs/source at sf0.001)
    Seq("src1" -> 0.25, "src2" -> 0.5).foreach { case (src, p) =>
      val rate = bySrc.getOrElse(src, 0).toDouble / totals(src)
      assert(math.abs(rate - p) < 0.35, s"$src rate $rate vs $p")
    }
    // unweighted sources keep everything
    assert(bySrc("src4").toLong == totals("src4"))
    // repartition-invariant (content-hash draw, no RNG state)
    val again = TextOps.weightedSample(docs.repartition(13), w).collect()
    assert(kept.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("bloom decontamination equals the exact operator, even with an " +
      "undersized (high-fpp) filter") {
    val corpus = docs.where(col("source") =!= "src0")
    val bench = docs.where(col("source") === "src0")
    val exact = TextOps.decontaminate(corpus, bench, 5)
      .collect().map(_.toSeq).toSeq
    val bloom = TextOps.decontaminateBloom(corpus, bench, 5)
      .collect().map(_.toSeq).toSeq
    assert(bloom == exact)
    assert(exact.exists(_(3) == true), "fixture must have a contaminated doc")
    // a deliberately tiny filter inflates fpp — more candidates reach the
    // exact verify, the OUTPUT must not move (no-false-negative property)
    val tiny = TextOps.decontaminateBloom(corpus, bench, 5,
      expectedGrams = 8L).collect().map(_.toSeq).toSeq
    assert(tiny == exact)
  }

  test("phash near-dup: finds pairs within the Hamming bound, drops " +
      "pairs beyond it (pigeonhole blocking is complete)") {
    import spark.implicits._
    // payloads as hex: base, 2-bit flip (found), 5-bit flip (dropped),
    // and an exact clone (Hamming 0)
    val base = "00112233445566778899AABBCCDDEEFF"
    val flip2 = "03112233445566778899AABBCCDDEEFF" // bits 0,1 of digit 2
    val flip5 = "1F112233445566778899AABBCCDDEEFF" // 5 bits in byte 1
    val media = Seq(
      (1L, base), (2L, flip2), (3L, base), (4L, flip5)
    ).toDF("doc_id", "hx")
      .select(col("doc_id"), unhex(col("hx")).as("media"))
    val pairs = Multimodal.phashNearDupPairs(media, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((1L, 3L)).contains(0), "exact clone at Hamming 0")
    assert(pairs.get((1L, 2L)).contains(2), "2-bit flip found")
    assert(pairs.get((2L, 3L)).contains(2))
    assert(!pairs.contains((1L, 4L)), "5-bit flip is beyond the bound")
    assert(!pairs.contains((3L, 4L)))
  }

  test("ar bucketing: exact-integer nearest-aspect assignment, low-index " +
      "tie break, in-bucket batches of fixed size in doc_id order") {
    import spark.implicits._
    // buckets: 0=(64,64) sq, 1=(128,64) 2:1, 2=(64,128) 1:2
    val bks = Seq((64, 64), (128, 64), (64, 128))
    val media = Seq(
      (1L, 100, 100), // exactly square -> bucket 0
      (2L, 200, 100), // exactly 2:1   -> bucket 1
      (3L, 100, 200), // exactly 1:2   -> bucket 2
      (4L, 150, 100), // 1.5: |1.5-1|=0.5 = |1.5-2|=0.5 -> TIE -> bucket 0
      (5L, 120, 100), // 1.2 -> square
      (6L, 190, 100), // 1.9 -> 2:1
      (7L, 101, 101), (8L, 99, 100), (9L, 50, 50) // more squares
    ).map { case (id, w, h) => (id, w, h, 1) }
      .toDF("doc_id", "width", "height", "nf")
      .select(col("doc_id"), struct(lit("png").as("format"),
        col("width"), col("height"), col("nf").as("nFrames")).as("meta"))
    val out = Multimodal.arBucketPlan(media, bks, 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("bucket"), r.getAs[Int]("batch_id"))).toMap
    val bucketOf = out.view.mapValues(_._1).toMap
    assert(bucketOf(1L) == 0 && bucketOf(2L) == 1 && bucketOf(3L) == 2)
    assert(bucketOf(4L) == 0, "exact tie breaks to the lower bucket index")
    assert(bucketOf(5L) == 0 && bucketOf(6L) == 1)
    assert(Seq(7L, 8L, 9L).forall(bucketOf(_) == 0))
    // squares in doc_id order: 1,4,5,7,8,9 -> batches of 2: 0,0,1,1,2,2
    val sq = Seq(1L, 4L, 5L, 7L, 8L, 9L).map(out(_)._2)
    assert(sq == Seq(0, 0, 1, 1, 2, 2))
    assert(out(2L)._2 == 0 && out(6L)._2 == 0) // 2:1 bucket: one batch
    // partitioning-invariant replay
    val again = Multimodal.arBucketPlan(media.repartition(5), bks, 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("bucket"), r.getAs[Int]("batch_id"))).toMap
    assert(again == out)
  }

  test("pq knn: exact with a full shortlist; ADC recall beats nothing-" +
      "lost floor; codebooks have the declared shape") {
    val qids = (0L until 10L).toSeq
    val k = 5
    val brute = Similarity.knnBrute(emb, qids, k).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // shortlist = whole corpus → the exact re-rank recovers brute force
    // regardless of ADC quantization error
    val idx = Similarity.pqIndex(emb, m = 16, ksub = 16, iters = 2)
    val full = Similarity.pqKnnWith(idx, qids, k,
        shortlist = emb.count().toInt).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(full.sameElements(brute))
    // codebooks: m subspaces × ksub centroids × dim/m coords
    val cbs = idx.cbs
    assert(cbs.length == 16 && cbs.forall(_.length == 16) &&
      cbs.flatten.forall(_.length == 4))
    // default shortlist: every returned sim is the TRUE dot product (the
    // re-rank is exact) even where the ADC shortlist diverges from brute
    val pq = Similarity.pqKnnWith(idx, qids, k).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
    val bruteMap = brute.map(r => (r._1, r._3) -> r._4).toMap
    pq.foreach { case (key, sim) =>
      bruteMap.get(key).foreach(b => assert(b == sim)) }
    // 16×16-code PQ (8 bytes/vector, 32× compression): the ADC shortlist
    // keeps most of the true top-k even on near-orthogonal random vectors;
    // a wider shortlist buys recall (the PQ contract: compression with
    // tunable recall-vs-shortlist). Measured 34/50 @ 20 and 49/50 @ 100
    // on this fixture — floors leave slack for data regeneration.
    val overlap20 = pq.count { case (key, _) => bruteMap.contains(key) }
    assert(overlap20 >= (0.5 * brute.length).toInt,
      s"ADC recall $overlap20/${brute.length} at shortlist 20")
    val wide = Similarity.pqKnnWith(idx, qids, k, shortlist = 100).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val overlap = wide.count(bruteMap.contains)
    assert(overlap >= (0.8 * brute.length).toInt,
      s"ADC recall $overlap/${brute.length} at shortlist 100")
  }

  test("theta-bound PQ is EXACT with a tiny seed shortlist (the bound, " +
      "not the width, certifies the top-k); auto cuts over on isotropic " +
      "data and engages the index on clustered data — exact either way") {
    val qids = (0L until 8L).toSeq
    val k = 5
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val brute = rows(Similarity.knnBrute(emb, qids, k))
    val idx = Similarity.pqIndex(emb, 16, 16, 2)
    // shortlist 8 < the 20 the plain path needs for even 0.68 recall here
    // — the residual bound re-ranks whatever could still beat θ, so the
    // result matches brute force bit-for-bit
    val bound = rows(Similarity.pqKnnBoundWith(idx, qids, k, 8))
    assert(bound.sameElements(brute))
    // isotropic fixture: residual ≈ vector, the bound certifies most of
    // the corpus → the planner serves the (also exact) brute scan
    val (iso, _, isoFrac, isoCut) = Similarity.pqKnnBoundAuto(idx, qids, k)
    assert(isoCut, s"expected brute cutover, certified frac $isoFrac")
    assert(rows(iso).sameElements(brute))
    // clustered fixture (8 tight clusters): residuals are tiny, the bound
    // certifies ~one cluster per query → index path, still exact
    import spark.implicits._
    val rnd = new java.util.Random(5)
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val anchors = Array.fill(8)(
      normalize(Array.fill(64)(rnd.nextGaussian())))
    val cemb = (0L until 1024L).map { i =>
      val a = anchors((i % 8).toInt)
      val v = normalize(a.map(_ + 0.05 * rnd.nextGaussian()))
      (i, v.map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val cqids = (0L until 8L).toSeq
    val cbrute = rows(Similarity.knnBrute(cemb, cqids, k))
    val (cl, _, clFrac, clCut) =
      Similarity.pqKnnBoundAuto(Similarity.pqIndex(cemb), cqids, k)
    assert(!clCut && clFrac < 0.5,
      s"expected index path on clustered data, certified frac $clFrac")
    assert(rows(cl).sameElements(cbrute))
  }

  test("PQ index lifecycle: build once, persist, reload — the served " +
      "theta-bound search over the loaded index is still exactly brute " +
      "force") {
    val qids = (0L until 6L).toSeq
    val k = 5
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val brute = rows(Similarity.knnBrute(emb, qids, k))
    val idx = Similarity.pqIndex(emb)
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    Similarity.savePqIndex(idx, dir)
    val re = Similarity.loadPqIndex(spark, dir)
    assert(re.cbs.length == idx.cbs.length)
    idx.cbs.zip(re.cbs).foreach { case (a, b) =>
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    }
    // serving pays no train/encode and the certificate still holds:
    // bit-equal to brute force through the persistence round-trip
    assert(rows(Similarity.pqKnnBoundWith(re, qids, k, 8))
      .sameElements(brute))
    // the in-memory index serves identically
    assert(rows(Similarity.pqKnnBoundWith(idx, qids, k, 8))
      .sameElements(brute))
    // range search: exact radius filter — equals brute ranked + filtered
    val n = emb.count().toInt
    val tau = 0.25
    val bruteRadius = rows(Similarity.knnBrute(emb, qids, n))
      .filter(_._4 >= tau)
    val range = rows(Similarity.pqRangeSearch(re, qids, tau))
    assert(range.sameElements(bruteRadius))
    assert(range.nonEmpty, "fixture threshold selects at least one pair")
  }

  test("pqRangeSearch property: equals the brute-force radius filter for " +
      "random (minSim, query) draws — the certificate claims completeness " +
      "for every threshold") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val idx = Similarity.pqIndex(emb)
    val n = emb.count().toInt
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    val rnd = new scala.util.Random(1307)
    (1 to 8).foreach { _ =>
      val qids = rnd.shuffle(ids.toSeq).take(1 + rnd.nextInt(4))
      // thresholds span negative (almost everything) to tight (near-empty)
      val tau = -0.5 + rnd.nextDouble() * 1.4
      val brute = rows(Similarity.knnBrute(emb, qids, n))
        .filter(_._4 >= tau)
        .groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap { case (_, rs) =>
          rs.sortBy(r => (-r._4, r._3)).zipWithIndex
            .map { case (r, i) => (r._1, i + 1, r._3, r._4) }
        }
      val got = rows(Similarity.pqRangeSearch(idx, qids, tau))
      assert(got.sameElements(brute),
        s"range mismatch at tau=$tau qids=$qids: got ${got.length} " +
          s"rows, brute ${brute.length}")
    }
  }

  test("pqKnnBoundWith default shortlist sizes by suggestedShortlist and " +
      "serves the identical exact result") {
    val qids = (0L until 6L).toSeq
    val k = 5
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val idx = Similarity.pqIndex(emb)
    val brute = rows(Similarity.knnBrute(emb, qids, k))
    // exactness is shortlist-independent: default (√n-sized θ seed),
    // a deliberately tiny seed, and brute force all agree bit-for-bit
    assert(rows(Similarity.pqKnnBoundWith(idx, qids, k)).sameElements(brute))
    assert(rows(Similarity.pqKnnBoundWith(idx, qids, k, shortlist = 1))
      .sameElements(brute))
    val expected = Similarity.suggestedShortlist(emb.count(), k)
    assert(expected >= 4 * k, s"sizing rule floor: $expected")
  }

  test("pqDelete / ivfDelete: the ANN tombstone invariant — delete-then-" +
      "query is bit-identical to rebuild-on-survivors-then-query on every " +
      "exact serving path, and a forgotten vector serves from nowhere, " +
      "including a persisted index") {
    import spark.implicits._
    val k = 5
    val qids = Seq(0L, 1L, 2L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // victim = query 0's current top neighbor, so the delete visibly
    // changes served results; keep the query ids themselves alive
    val victim = rows(Similarity.knnBrute(emb, Seq(0L), 1)).head._3
    assert(!qids.contains(victim))
    val deletes = Seq(victim).toDF("vec_id")
    val survivors = emb.where(col("vec_id") =!= victim)
    val truth = rows(Similarity.knnBrute(survivors, qids, k))
    assert(truth.forall(_._3 != victim))
    assert(!truth.sameElements(rows(Similarity.knnBrute(emb, qids, k))),
      "victim choice must make the delete observable")

    // PQ: stale codebooks, anti-joined corpus — still certificate-exact,
    // so it matches BOTH a full rebuild and brute force over survivors
    val pqDel = Similarity.pqDelete(Similarity.pqIndex(emb), deletes)
    assert(rows(Similarity.pqKnnBoundWith(pqDel, qids, k))
      .sameElements(truth))
    assert(rows(Similarity.pqKnnBoundWith(
        Similarity.pqIndex(survivors), qids, k))
      .sameElements(truth))
    // the exact radius path over the deleted index: victim gone, rest exact
    val tau = 0.25
    val n = survivors.count().toInt
    assert(rows(Similarity.pqRangeSearch(pqDel, qids, tau)).sameElements(
      rows(Similarity.knnBrute(survivors, qids, n)).filter(_._4 >= tau)))
    // a deleted vector cannot be a query either: it resolves in the index
    assert(Similarity.pqKnnBoundWith(pqDel, Seq(victim), k).isEmpty)
    // persistence: save the deleted index, reload, serve — still exact
    val dir = java.nio.file.Files.createTempDirectory("pqdel").toString
    Similarity.savePqIndex(pqDel, dir)
    assert(rows(Similarity.pqKnnBoundWith(
        Similarity.loadPqIndex(spark, dir), qids, k))
      .sameElements(truth))

    // IVF: stale centroids, refreshed cell bounds — the Cauchy-Schwarz
    // probe is exact against any partition, so delete-then-probe equals
    // rebuild-on-survivors (same nlist) equals brute force
    val nlist = Similarity.suggestedIvfLists(emb.count())
    val ivfBuilt = Similarity.ivfIndex(emb, nlist)
    val ivfDel = Similarity.ivfDelete(ivfBuilt, deletes)
    assert(rows(Similarity.knnIvfProbe(ivfDel, qids, k, nprobe = 3))
      .sameElements(truth))
    assert(rows(Similarity.knnIvfProbe(
        Similarity.ivfIndex(survivors, nlist), qids, k, nprobe = 3))
      .sameElements(truth))
    assert(Similarity.knnIvfProbe(ivfDel, Seq(victim), k, 3).isEmpty)
    // the refreshed residual bounds cover exactly the surviving cells
    val cells = ivfDel.corpus.select("cell_n").distinct().collect()
      .map(_.getInt(0)).toSet
    val resCells = ivfDel.cellRes.select("cell_n").collect()
      .map(_.getInt(0)).toSet
    assert(cells == resCells)
  }

  test("knnRecall: identical results score 1.0, disjoint 0.0, partial " +
      "overlap the exact fraction") {
    import spark.implicits._
    val exact = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 7L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((0L, 2L), (0L, 3L), (0L, 9L), (1L, 8L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.knnRecall(approx, exact).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2),
        x.getDouble(3)))).toMap
    assert(r(0L) == ((3L, 2L, 2.0 / 3.0)))
    assert(r(1L) == ((1L, 0L, 0.0)))
    val perfect = Similarity.knnRecall(exact, exact).collect()
    assert(perfect.forall(_.getDouble(3) == 1.0))
  }

  test("MMR re-rank: penalizes redundancy (clone loses to a distinct " +
      "candidate), λ=1 degrades to pure kNN order") {
    import spark.implicits._
    // q = e_x; a ≈ q; clone = exact copy of a; b = a mirrored in y
    // (rel 0.97, sim-to-a ≈ 0.902). Pure top-2 is {a, clone}; MMR at
    // λ = 0.75 scores clone 0.485 vs b ≈ 0.502 and picks b.
    val a = Array(0.98f, 0.19899748f, 0f)
    val b = Array(0.97f, -0.24310492f, 0f)
    val emb = Seq(
      0L -> Array(1f, 0f, 0f), 10L -> a, 11L -> a, 12L -> b,
      20L -> Array(0f, 1f, 0f), 21L -> Array(0f, 0f, 1f)
    ).toDF("vec_id", "embedding")
    val knn = Similarity.knnBrute(emb, Seq(0L), 2).collect()
    assert(knn.map(_.getLong(2)).toSeq == Seq(10L, 11L),
      "pure kNN keeps the clone")
    val mmr = Similarity.mmrRerank(emb, Seq(0L), k = 2, shortlist = 5)
      .collect()
    assert(mmr.map(_.getLong(2)).toSeq == Seq(10L, 12L),
      "MMR must trade the clone for the distinct candidate")
    // λ = 1 removes the penalty: picks equal the kNN prefix again
    val pure = Similarity.mmrRerank(emb, Seq(0L), k = 2, shortlist = 5,
      lambda = 1.0).collect()
    assert(pure.map(_.getLong(2)).toSeq == Seq(10L, 11L))
    // ranks are 1..k and rel is the plain cosine to the query
    assert(mmr.map(_.getInt(1)).toSeq == Seq(1, 2))
    assert(math.abs(mmr.head.getDouble(3) - 0.98) < 1e-6)
  }

  test("MMR re-rank: equal later-round scores go to the lower neighbor_id, " +
      "equal relevance in round 1 too") {
    import spark.implicits._
    // q = e_x. a (id 10) is the most relevant and is picked first; b (id
    // 21) and c (id 20) mirror each other in y, so they have the same rel
    // (0.5) AND the same similarity to a (0.5): an exact round-2 score
    // tie that the lower id must win. The second frame ties two
    // candidates on rel, so round 1 must take the lower id.
    val emb = Seq(
      0L -> Array(1f, 0f, 0f), 10L -> Array(1f, 0f, 0f),
      21L -> Array(0.5f, 0.5f, 0f), 20L -> Array(0.5f, -0.5f, 0f),
      40L -> Array(0f, 0f, 1f)
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(emb, Seq(0L), k = 3, shortlist = 4)
      .collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(10L, 20L, 21L))
    // round 2: 0.75·0.5 − 0.25·0.5 for both tied candidates
    assert(out(1).getDouble(4) == 0.75 * 0.5 - 0.25 * 0.5)
    val tie = Seq(
      0L -> Array(1f, 0f, 0f), 31L -> Array(0.5f, 0.5f, 0f),
      30L -> Array(0.5f, -0.5f, 0f)
    ).toDF("vec_id", "embedding")
    assert(Similarity.mmrRerank(tie, Seq(0L), k = 1, shortlist = 2)
      .collect().map(_.getLong(2)).toSeq == Seq(30L))
  }

  test("MMR re-rank: a shortlist shorter than k yields one pick per " +
      "candidate; the output schema is (query_id, pick_rank, neighbor_id, " +
      "rel, score)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // 3 vectors: each query has only 2 candidates for k = 4
    val emb = Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f),
      2L -> Array(0.6f, 0.8f)).toDF("vec_id", "embedding")
    val mmr = Similarity.mmrRerank(emb, Seq(0L, 1L), k = 4, shortlist = 5)
    val out = mmr.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 1, 2L), (0L, 2, 1L), (1L, 1, 2L), (1L, 2, 0L)))
    assert(mmr.schema == StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("pick_rank", IntegerType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("rel", DoubleType, nullable = true),
      StructField("score", DoubleType, nullable = true))))
    // parquet columns are nullable: the ids are too
    assert(Similarity.mmrRerank(emb.sparkSession.createDataFrame(emb.rdd,
      StructType(emb.schema.fields.map(_.copy(nullable = true)))),
      Seq(0L), k = 2, shortlist = 2).schema.map(f => (f.name, f.dataType,
      f.nullable)) == Seq(("query_id", LongType, true),
      ("pick_rank", IntegerType, false), ("neighbor_id", LongType, true),
      ("rel", DoubleType, true), ("score", DoubleType, true)))
  }

  test("temperature mix: α=1 keeps natural shares, α=0.5 upsamples small " +
      "sources, draw is deterministic and budget-tracking") {
    val plan = TextOps.temperatureMix(docs, 0.5, 300L).collect()
    assert(plan.nonEmpty)
    // shares are a distribution; keep rates are probabilities
    val shareSum = plan.map(_.getDouble(3)).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    plan.foreach { r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getLong(5) <= r.getLong(1), "kept can never exceed n_docs")
    }
    // α = 0.5 upsamples: the upsample factor alpha_share / raw_share
    // decreases as n_docs grows (∝ 1/sqrt(share))
    val byN = plan.sortBy(_.getLong(1))
    val factors = byN.map(r => r.getDouble(3) / r.getDouble(2))
    factors.sliding(2).foreach { case Array(a, b) =>
      assert(a >= b - 1e-12, "upsample factor must fall with source size")
    }
    // α = 1 degrades to natural proportions
    val nat = TextOps.temperatureMix(docs, 1.0, 300L).collect()
    nat.foreach(r => assert(math.abs(r.getDouble(3) - r.getDouble(2)) < 1e-12))
    // the hash draw is repartition-invariant and roughly fills the budget
    val again = TextOps.temperatureMix(docs.repartition(13), 0.5, 300L)
      .collect()
    assert(plan.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    val kept = plan.map(_.getLong(5)).sum
    val n = plan.map(_.getLong(1)).sum
    assert(kept > 0 && kept <= n)
  }

  test("attribution: first/last touch per conversion on a hand-built stream") {
    import spark.implicits._
    import java.sql.Timestamp
    val ev = Seq(
      // user 1: click(1) view(2) purchase(3) click(4) purchase(5)
      (1L, 1L, 1000L, "click"), (2L, 1L, 2000L, "view"),
      (3L, 1L, 3000L, "purchase"), (4L, 1L, 4000L, "click"),
      (5L, 1L, 5000L, "purchase"),
      // user 2: purchase(6) with no preceding touch → excluded; then
      // view(7) and a purchase(8) at the SAME timestamp — the touch's
      // smaller event_id sorts first, so it still attributes
      (6L, 2L, 1000L, "purchase"), (7L, 2L, 2000L, "view"),
      (8L, 2L, 2000L, "purchase")
    ).map { case (id, u, ms, t) => (id, u, new Timestamp(ms), t) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = EventOps.attribution(ev).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(3L, 5L, 8L), "conv 6 has no touch")
    // conv 3: first=click(1), last=view(2), gap = 1000 ms
    assert(out(3L).getLong(3) == 1L && out(3L).getString(4) == "click")
    assert(out(3L).getLong(5) == 2L && out(3L).getString(6) == "view")
    assert(out(3L).getLong(7) == 1000000L)
    // conv 5: first stays click(1), last moves to click(4)
    assert(out(5L).getLong(3) == 1L && out(5L).getLong(5) == 4L)
    // conv 8: same-microsecond touch attributes via the event_id tiebreak
    assert(out(8L).getLong(3) == 7L && out(8L).getLong(5) == 7L)
    assert(out(8L).getLong(7) == 0L)
  }

  test("in-session attribution: a touch in a previous session never " +
      "attributes; a session-opening conversion emits nothing") {
    import spark.implicits._
    import java.sql.Timestamp
    val h = 3600L * 1000L // ms
    val ev = Seq(
      // user 1, session 0: click(1) then purchase(2) — attributes
      (1L, 1L, 0L, "click"), (2L, 1L, 60000L, "purchase"),
      // 2 hours later (> 30 min gap): purchase(3) OPENS session 1 with no
      // touch before it in that session — must not attribute to click(1)
      (3L, 1L, 2 * h, "purchase"),
      // then view(4), purchase(5) inside session 1 — attributes to 4
      (4L, 1L, 2 * h + 1000L, "view"), (5L, 1L, 2 * h + 2000L, "purchase")
    ).map { case (id, u, ms, t) => (id, u, new Timestamp(ms), t) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = EventOps.attributionInSession(ev).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(2L, 5L),
      "conv 3 opens its session and must not attribute across the gap")
    assert(out(2L).getLong(4) == 1L && out(2L).getLong(5) == 1L)
    assert(out(5L).getLong(4) == 4L && out(5L).getLong(5) == 4L)
    // the plain attribution DOES credit click(1) for conv 3 — the two
    // operators differ exactly at the session boundary
    val plain = EventOps.attribution(ev).collect().map(_.getLong(0)).toSet
    assert(plain == Set(2L, 3L, 5L))
  }

  test("position attribution: U-shaped credits on a hand-built journey, " +
      "segments reset at each conversion") {
    import spark.implicits._
    import java.sql.Timestamp
    val ev = Seq(
      // user 1, segment 0: 4 touches → 0.4 / 0.1 / 0.1 / 0.4
      (1L, 1L, 1000L, "click"), (2L, 1L, 2000L, "view"),
      (3L, 1L, 3000L, "click"), (4L, 1L, 4000L, "view"),
      (5L, 1L, 5000L, "purchase"),
      // segment 1: a lone touch takes full credit
      (6L, 1L, 6000L, "click"), (7L, 1L, 7000L, "purchase"),
      // user 2: two touches split 50/50
      (8L, 2L, 1000L, "view"), (9L, 2L, 2000L, "click"),
      (10L, 2L, 3000L, "purchase"),
      // user 3: conversion with no touches emits nothing
      (11L, 3L, 1000L, "purchase")
    ).map { case (id, u, ms, t) => (id, u, new Timestamp(ms), t) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = EventOps.positionAttribution(ev).collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        (r.getString(7), r.getDouble(8))).toMap
    assert(out.keySet.map(_._1) == Set(5L, 7L, 10L))
    assert(out((5L, 1L)) == ("first", 0.4))
    assert(out((5L, 2L)) == ("middle", 0.1))
    assert(out((5L, 3L)) == ("middle", 0.1))
    assert(out((5L, 4L)) == ("last", 0.4))
    assert(out((7L, 6L)) == ("only", 1.0))
    assert(out((10L, 8L)) == ("first", 0.5))
    assert(out((10L, 9L)) == ("last", 0.5))
    // a touch credits exactly one conversion: touch 1 must not also
    // appear under conversion 7
    assert(!out.contains((7L, 1L)))
  }

  test("time-decay attribution: half-life weights on a hand-built " +
      "journey; credits sum to ~1 per conversion on the real stream") {
    import spark.implicits._
    import java.sql.Timestamp
    val h = 3600L * 1000L // one hour in ms = the test half-life
    val ev = Seq(
      // touch 1h before (weight 1/2) and touch at the instant (weight 1)
      (1L, 1L, 0L, "click"), (2L, 1L, h, "view"),
      (3L, 1L, h, "purchase")
    ).map { case (id, u, ms, t) => (id, u, new Timestamp(ms), t) }
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = EventOps.timeDecayAttribution(ev, 60).collect()
      .map(r => r.getLong(3) -> r.getDouble(6)).toMap
    assert(out(1L) == math.rint(0.5 / 1.5 * 1e9) / 1e9, s"got $out")
    assert(out(2L) == math.rint(1.0 / 1.5 * 1e9) / 1e9)
    // real stream: per-conversion credits sum to 1 up to the 1e-9 rounding
    val real = EventOps.timeDecayAttribution(cat.table("events"), 1440)
      .collect().groupBy(_.getLong(0))
    assert(real.nonEmpty)
    real.foreach { case (conv, rows) =>
      val s = rows.map(_.getDouble(6)).sum
      assert(math.abs(s - 1.0) < rows.length * 1e-9 + 1e-12,
        s"conversion $conv credits sum to $s")
    }
  }

  test("containment join finds a planted quote-expansion pair the " +
      "symmetric Jaccard join misses at the same threshold") {
    import spark.implicits._
    val d7 = docs.where(col("doc_id") === 7L)
      .select("lang", "text").head()
    val words = d7.getString(1).split(" ")
    val planted = Seq((300001L, d7.getString(0),
      words.take(words.length / 2).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val corpus = docs.select("doc_id", "lang", "text").unionByName(planted)
    // every shingle of the half-doc is a shingle of doc 7 → containment 1
    val cont = Dedup.containmentPairs(corpus, 3, "lang", 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.get((300001L, 7L)).contains(1.0),
      s"planted containment pair missing: ${cont.keySet.take(5)}")
    // containment is directional: doc 7 is NOT 90%-contained in its half
    assert(!cont.contains((7L, 300001L)))
    // the symmetric join can't see it: J = |A|/|B| ≈ 0.5 < 0.9
    val jac = Dedup.ngramJaccardPairs(corpus, 3, "lang", 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((300001L, 7L)) && !jac.contains((7L, 300001L)))
  }

  /** The largest (lang, shingle) document frequency among the 3-gram
    * postings `postings` builds over `corpus`. */
  private def maxDf(corpus: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Long =
    postings(corpus.select(col("doc_id"), col("lang").as("block"),
      Dedup.hashedShingles("text", 3).as("sh"))
      .withColumn("n", size(col("sh"))))
      .groupBy("block", "s").count().agg(max("count")).head().getLong(0)

  test("containmentPairs df cap: the auto cap is bit-identical to the " +
      "uncapped join; a tiny cap keeps every pair whose contained doc " +
      "shares a sub-cap prefix shingle (the recall contract) and never " +
      "emits a pair the exact join would not") {
    import spark.implicits._
    val d7 = docs.where(col("doc_id") === 7L).select("lang", "text").head()
    val words = d7.getString(1).split(" ")
    val planted = Seq((300001L, d7.getString(0),
      words.take(words.length / 2).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val corpus = docs.select("doc_id", "lang", "text").unionByName(planted)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = m(Dedup.containmentPairs(corpus, 3, "lang", 0.9))
    // auto cap (≥ 256) ≫ any df here → bit-identical to the exact join
    assert(m(Dedup.containmentPairs(corpus, 3, "lang", 0.9,
      Dedup.AutoDfCap)) == exact)
    // a deliberately tiny cap: emitted pairs are a SUBSET of the exact
    // result with IDENTICAL containment values (verification is exact —
    // the cap can lose pairs, never invent or misvalue them), and the
    // planted pair survives: doc 300001 and doc 7 share the half-doc's
    // rarest shingles, whose df (2) is within even cap = 2
    val capped = m(Dedup.containmentPairs(corpus, 3, "lang", 0.9,
      dfCap = 2))
    // cap 2 engages here: some (lang, shingle) posting list is hotter
    assert(maxDf(corpus, Dedup.fullPostings) > 2)
    capped.foreach { case (k, v) => assert(exact.get(k).contains(v)) }
    assert(capped.get((300001L, 7L)).contains(1.0),
      "planted rare-shingle pair must survive any cap")
  }

  test("ngramJaccardPairs df cap: the auto cap is bit-identical to the " +
      "uncapped symmetric SSJoin; a tiny cap keeps every pair sharing a " +
      "sub-cap prefix shingle (the recall contract) and never emits a " +
      "pair the exact join would not") {
    import spark.implicits._
    // plant an exact duplicate of doc 7: the pair shares ALL shingles,
    // including its rarest, so the recall contract guarantees it at any cap.
    // Two more copies of doc 9 put its prefix shingles at df 3, hotter than
    // cap 2 — the corpus' own prefix dfs stop at 2, where no cap below
    // would keep the planted pair
    def row(id: Long) =
      docs.where(col("doc_id") === id).select("lang", "text").head()
    val (d7, d9) = (row(7L), row(9L))
    val planted = Seq((300001L, d7.getString(0), d7.getString(1)),
      (300002L, d9.getString(0), d9.getString(1)),
      (300003L, d9.getString(0), d9.getString(1)))
      .toDF("doc_id", "lang", "text")
    val corpus = docs.select("doc_id", "lang", "text").unionByName(planted)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = m(Dedup.ngramJaccardPairs(corpus, 3, "lang", 0.5))
    // auto cap (≥ 256) ≫ any prefix df here → bit-identical to the exact
    // join (this is the d24 gate's premise)
    assert(m(Dedup.ngramJaccardPairs(corpus, 3, "lang", 0.5,
      Dedup.AutoDfCap)) == exact)
    // a deliberately tiny cap: emitted pairs are a SUBSET of the exact
    // result with IDENTICAL jaccard values (verification is exact — the
    // cap can lose pairs, never invent or misvalue them), pairs are
    // canonically ordered (doc_a < doc_b), and the planted exact dup
    // survives via its rarest shared prefix shingles
    val capped = m(Dedup.ngramJaccardPairs(corpus, 3, "lang", 0.5,
      dfCap = 2))
    // cap 2 engages here: some (lang, shingle) prefix posting list is hotter
    assert(maxDf(corpus, Dedup.prefixPostings(_, 0.5)) > 2)
    capped.foreach { case (k, v) =>
      assert(k._1 < k._2, s"pair $k not canonical")
      assert(exact.get(k).contains(v))
    }
    assert(capped.get((7L, 300001L)).contains(1.0),
      "planted exact-dup pair must survive any cap")
  }

  test("FLAC decode is REAL entropy-coded audio: Rice-coded FIXED " +
      "subframes reconstruct exact reference vectors across orders and " +
      "rice parameters; CONSTANT/VERBATIM/LPC subframes, escape-free " +
      "partitions and wasted bits decode; CRC corruption and truncation " +
      "fall back to the stub") {
    import graft.ops.Flac
    def row(id: Long, b: Array[Byte]) =
      Multimodal.MediaRow(id, b, Multimodal.MediaMeta("flac", 3, 5, 7))
    def dec(b: Array[Byte]) = wavSamples(Multimodal.transcodeOne(b).get)
    // order-1 fixed: s_i = s_{i-1} + r → [100, 103, 98, 118]
    val f1 = Flac.buildFlacFixedMono(8000, Array(100),
      Array(3, -5, 20), 1, 2)
    assert(dec(f1) == Seq(100, 103, 98, 118))
    val d1 = Multimodal.decodeOne(row(1L, f1))
    assert(d1.width == 8000 && d1.height == 1 && d1.n_frames == 4)
    assert(d1.features.toSeq == pcm16Features(Seq(100, 103, 98, 118)))
    // order-0 (raw residuals) at rice p=0, and order-2
    assert(dec(Flac.buildFlacFixedMono(8000, Array.empty[Int],
      Array(7, -3, 0, 12), 0, 0)) == Seq(7, -3, 0, 12))
    // order-2: s_i = 2 s_{i-1} − s_{i-2} + r → [10, 12, 15, 17]
    assert(dec(Flac.buildFlacFixedMono(8000, Array(10, 12),
      Array(1, -1), 2, 5)) == Seq(10, 12, 15, 17))
    // CONSTANT and VERBATIM subframes (blockSize pinned explicitly)
    assert(dec(Flac.buildFlac(8000, 0,
      Seq(Flac.Chan(-1, Array(-500), Array.empty, 0)),
      blockSizeOpt = Some(3))) == Seq(-500, -500, -500))
    assert(dec(Flac.buildFlac(8000, 0,
      Seq(Flac.Chan(-2, Array(1, -32768, 32767, 0), Array.empty, 0))))
      == Seq(1, -32768, 32767, 0))
    // LPC order 2, coefs (3, −1), shift 1:
    //   s2 = ((3·20 − 10) >> 1) + 1 = 26; s3 = ((3·26 − 20) >> 1) − 2 = 27
    assert(dec(Flac.buildFlac(8000, 0,
      Seq(Flac.Chan(2, Array(10, 20), Array(1, -2), 3,
        lpc = Some((Array(3, -1), 1, 4)))))) == Seq(10, 20, 26, 27))
    // wasted bits: coded values shift left by the wasted count
    assert(dec(Flac.buildFlac(8000, 0,
      Seq(Flac.Chan(-2, Array(5, -6, 100), Array.empty, 0, wasted = 2))))
      == Seq(20, -24, 400))
    // a flipped residual bit fails the frame CRC-16 → honest stub
    val bad = f1.clone(); bad(bad.length - 4) = (bad(bad.length - 4) ^ 0x10).toByte
    val st = Multimodal.decodeOne(row(2L, bad))
    assert(st.width == 3 && st.features(3) == bad.length.toDouble)
    // truncation → stub, never a throw
    val tr = Multimodal.decodeOne(row(3L, f1.take(f1.length - 3)))
    assert(tr.width == 3)
    // the m20 gate fixture decodes with its declared geometry
    val fx = Multimodal.decodeOne(row(4L, Multimodal.syntheticFlac(7L, 9)))
    assert(fx.n_frames == 9 && fx.width == 8000 && fx.n_bytes == 200)
    // MULTI-FRAME streams (the shape real encoders emit): three frames,
    // short last block, per-frame numbers and CRCs — concatenated decode
    val mf = Flac.buildFlacMultiMono(8000,
      Seq(Array(5, -7, 11, 0), Array(900, -900, 32767, -32768),
        Array(42, 17)), 3)
    assert(dec(mf) ==
      Seq(5, -7, 11, 0, 900, -900, 32767, -32768, 42, 17))
    // partitioned residuals: order 1, partition order 1 over blockSize 4
    // (first partition 1 residual, second 2) — s_i = s_{i-1} + r
    assert(dec(Flac.buildFlac(8000, 0,
      Seq(Flac.Chan(1, Array(50), Array(2, -3, 7), 1, po = 1))))
      == Seq(50, 52, 49, 56))
    // the 5-bit Rice method (method 01) decodes with param 17 — values
    // beyond any 4-bit param's comfortable range
    assert(dec(Flac.buildFlac(8000, 0,
      Seq(Flac.Chan(0, Array.empty, Array(20000, -20000, 1), 17,
        method = 1)))) == Seq(20000, -20000, 1))
    // ESCAPE partitions: raw 12-bit two's-complement residuals, no
    // entropy coding — and raw width 0 means all-zero residuals
    assert(dec(Flac.buildFlac(8000, 0,
      Seq(Flac.Chan(0, Array.empty, Array(2047, -2048, 5, -1), 0,
        escapeRaw = Some(12))))) == Seq(2047, -2048, 5, -1))
    assert(dec(Flac.buildFlac(8000, 0,
      Seq(Flac.Chan(1, Array(99), Array(0, 0, 0), 0,
        escapeRaw = Some(0))))) == Seq(99, 99, 99, 99))
  }

  test("FLAC stereo decorrelation reconstructs left/side, right/side and " +
      "mid/side exactly (side channel +1 bit), and FLAC participates in " +
      "the decode-space contracts: fingerprint equals the PCM WAV of its " +
      "decoded samples, transcode is lossless") {
    import graft.ops.Flac
    import spark.implicits._
    def dec(b: Array[Byte]) = wavSamples(Multimodal.transcodeOne(b).get)
    // want L = [100, 110], R = [90, 105] → side = [10, 5], mid = [95, 107]
    val want = Seq(100, 90, 110, 105)
    def vb(vals: Array[Long], bits: Int = 16) =
      Flac.Chan(-2, vals, Array.empty, 0, bits = bits)
    assert(dec(Flac.buildFlac(8000, 8, // left/side: stored (L, S)
      Seq(vb(Array(100, 110)), vb(Array(10, 5), bits = 17)))) == want)
    assert(dec(Flac.buildFlac(8000, 9, // right/side: stored (S, R)
      Seq(vb(Array(10, 5), bits = 17), vb(Array(90, 105))))) == want)
    assert(dec(Flac.buildFlac(8000, 10, // mid/side: stored (M, S)
      Seq(vb(Array(95, 107)), vb(Array(10, 5), bits = 17)))) == want)
    // independent stereo = zipped mono channels
    assert(dec(Flac.buildFlac(8000, 1,
      Seq(vb(Array(100, 110)), vb(Array(90, 105))))) == want)
    // decode-space fingerprint: a FLAC clip and the 16-bit PCM WAV of
    // its decoded samples hash identically
    val samples = Seq(1000, 1113, 1011, 1210, 780, 1335, 1261, 1601)
    val flac = Flac.buildFlacFixedMono(8000, Array(samples.head),
      samples.sliding(2).map(p => p(1) - p(0)).toArray, 1, 4)
    val pcm = encodeAudio(samples.map(_.toShort).toArray, 8000f, 1)
    val media = Seq(
      Multimodal.MediaRow(1L, flac, Multimodal.MediaMeta("flac", 0, 0, 0)),
      Multimodal.MediaRow(2L, pcm, Multimodal.MediaMeta("wav", 0, 0, 0)))
      .toDS().toDF()
    val fp = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fp(1L) == fp(2L),
      "FLAC and its decoded-PCM twin must fingerprint identically")
    // transcode losslessness across the entropy-coded boundary
    val direct = Multimodal.decodeOne(
      Multimodal.MediaRow(1L, flac, Multimodal.MediaMeta("x", 0, 0, 0)))
    val via = Multimodal.decodeOne(Multimodal.MediaRow(1L,
      Multimodal.transcodeOne(flac).get,
      Multimodal.MediaMeta("wav", 0, 0, 0)))
    assert(via.features.toSeq == direct.features.toSeq &&
      via.n_frames == direct.n_frames)
  }

  test("FLAC beyond 16-bit: 24-bit mono and left/side stereo decode " +
      "exact wide samples and transcode by the documented >>8 mapping; " +
      "8-bit decodes and scales by 256; unknown-total streams decode to " +
      "EOF; 32-bit decodes at the int32 extremes; the unary guard " +
      "trips at the payload " +
      "boundary") {
    import graft.ops.Flac
    def t16(b: Array[Byte]) = wavSamples(Multimodal.transcodeOne(b).get)
    // 24-bit mono FIXED order-1, magnitudes far past int16
    val want24 = Seq(1000000, 999980, 1000017, 999999)
    val f24 = Flac.buildFlac(8000, 0, Seq(Flac.Chan(1, Array(1000000),
      Array(-20, 37, -18), 3, bits = 24)), bps = 24)
    val c24 = Flac.parseFlac(f24).get
    assert(c24.bits == 24 && c24.ch == 1 && c24.frames == 4)
    def s24(i: Int) = {
      val d = c24.data
      val v = (d(3 * i) & 0xff) | ((d(3 * i + 1) & 0xff) << 8) |
        ((d(3 * i + 2) & 0xff) << 16)
      (v << 8) >> 8
    }
    assert((0 until 4).map(s24) == want24)
    assert(t16(f24) == want24.map(_ >> 8),
      "24-bit transcode is the arithmetic >>8 width mapping")
    // 24-bit left/side stereo with a CONSTANT 25-bit side channel
    val f24s = Flac.buildFlac(8000, 8, Seq(
      Flac.Chan(1, Array(1000000), Array(-20), 2, bits = 24),
      Flac.Chan(-1, Array(30000L), Array.empty[Long], 0, bits = 25)),
      bps = 24)
    assert(t16(f24s) ==
      Seq(1000000, 970000, 999980, 969980).map(_ >> 8))
    // 8-bit VERBATIM: signed samples, transcode scales by 256
    val want8 = Seq(100, -100, 27, -1)
    val f8 = Flac.buildFlac(8000, 0, Seq(Flac.Chan(-2,
      want8.map(_.toLong).toArray, Array.empty[Long], 0, bits = 8)),
      bps = 8)
    val c8 = Flac.parseFlac(f8).get
    assert(c8.bits == 8 && c8.frames == 4)
    assert(t16(f8) == want8.map(_ << 8))
    // unknown total (STREAMINFO totalSamples = 0 — the streaming-encoder
    // form): zero the 36-bit total field of a multi-frame stream that
    // ends exactly at its last frame; decode must accumulate to EOF and
    // agree byte-for-byte with the declared-total decode
    val frames = Seq(Array(5, -3, 8, 0), Array(2, 7, -4, -9), Array(1, 2))
    val mm = Flac.buildFlacMultiMono(8000, frames, 3)
    val unk = mm.clone()
    unk(21) = (unk(21) & 0xF0).toByte
    unk(22) = 0; unk(23) = 0; unk(24) = 0; unk(25) = 0
    val known = Flac.parseFlac(mm).get
    val u = Flac.parseFlac(unk).get
    assert(u.frames == known.frames && u.bits == 16 &&
      u.data.toSeq == known.data.toSeq)
    // trailing bytes after the last frame are indistinguishable from a
    // truncated next frame when no total is declared — honest decline,
    // including a LONE byte (below the frame loop's 16-bit threshold)
    assert(Flac.parseFlac(unk ++ Array[Byte](0, 0, 0, 0)).isEmpty)
    assert(Flac.parseFlac(unk :+ 0.toByte).isEmpty)
    // 32-bit streams decode at full depth (Long channel buffers): a
    // VERBATIM mono pair at the int32 extremes round-trips exactly
    val f32 = Flac.buildFlac(8000, 0, Seq(Flac.Chan(-2,
      Array(Int.MaxValue.toLong, Int.MinValue.toLong),
      Array.empty[Long], 0, bits = 32)), bps = 32)
    val c32 = Flac.parseFlac(f32).get
    assert(c32.bits == 32 && c32.frames == 2)
    assert(Multimodal.pcmRaw(c32.data, c32.off, 32, signed = true,
      big = false) == Int.MaxValue)
    assert(Multimodal.pcmRaw(c32.data, c32.off + 4, 32, signed = true,
      big = false) == Int.MinValue)
    // unary runaway: an all-zeros tail aborts at the payload boundary
    val r = new Flac.BitReader(Array.fill(64)(0.toByte))
    intercept[IllegalStateException](r.readUnary())
    val ok = new Flac.BitReader(Array(0x10.toByte)) // 0001 0000
    assert(ok.readUnary() == 3)
  }

  test("FLAC multichannel: 3-channel independent streams (the surround " +
      "class) decode, interleave, and transcode; the 8-channel ceiling " +
      "holds") {
    import graft.ops.Flac
    def vb(vals: Array[Long]) =
      Flac.Chan(-2, vals, Array.empty[Long], 0)
    // asgn 2 = 3 independently-coded channels (L, C, R)
    val f3 = Flac.buildFlac(8000, 2, Seq(vb(Array(300, 306)),
      vb(Array(-60, -63)), vb(Array(90, 99))))
    val c3 = Flac.parseFlac(f3).get
    assert(c3.ch == 3 && c3.bits == 16 && c3.frames == 2)
    // transcode preserves the frame-major channel interleave losslessly
    assert(wavSamples(Multimodal.transcodeOne(f3).get) ==
      Seq(300, -60, 90, 306, -63, 99))
    // the feature scan mixes down by the generic per-frame channel mean
    val d3 = Multimodal.decodeOne(Multimodal.MediaRow(1L, f3,
      Multimodal.MediaMeta("flac", 0, 0, 0)))
    assert(d3.height == 3 && d3.n_frames == 2)
    val mean0 = (300 - 60 + 90) / 3.0 / 32768
    val mean1 = (306 - 63 + 99) / 3.0 / 32768
    assert(math.abs(d3.features(1) - math.max(mean0, mean1)) < 1e-12,
      s"peak ${d3.features(1)}")
    // 8 channels is the FLAC format ceiling (3-bit STREAMINFO field /
    // asgn 0-7); the eight-channel form decodes too
    val f8 = Flac.buildFlac(8000, 7,
      (1 to 8).map(i => vb(Array(i * 10, i * 10 + 1))))
    val c8 = Flac.parseFlac(f8).get
    assert(c8.ch == 8 && c8.frames == 2)
    assert(wavSamples(Multimodal.transcodeOne(f8).get).take(8) ==
      (1 to 8).map(_ * 10))
  }

  test("FLAC 32-bit left/side: a CONSTANT side channel above 2^31 (a " +
      "33-bit value only a Long buffer holds) reconstructs exact int32 " +
      "extremes on both channels") {
    import graft.ops.Flac
    // L near +2^31, side ≈ 2^32 → R = L − side near −2^31: the depth
    // case the old decoder declined
    val left = Array(2147483000L, 2147482900L)
    val side = 4294966000L // needs 33 signed bits
    val f = Flac.buildFlac(8000, 8, Seq(
      Flac.Chan(-2, left, Array.empty[Long], 0, bits = 32),
      Flac.Chan(-1, Array(side), Array.empty[Long], 0, bits = 33)),
      bps = 32)
    val c = Flac.parseFlac(f).get
    assert(c.ch == 2 && c.bits == 32 && c.frames == 2)
    def raw(i: Int) = Multimodal.pcmRaw(c.data, c.off + 4 * i, 32,
      signed = true, big = false)
    assert(raw(0) == 2147483000 && raw(2) == 2147482900) // left
    assert(raw(1) == 2147483000L - side &&
      raw(3) == 2147482900L - side) // right, near −2^31
    // the m23 fixture family decodes on both parities with the declared
    // channel count and depth
    for (id <- 0L to 3L) {
      val clip = Flac.parseFlac(Multimodal.syntheticFlac32(id, 5)).get
      assert(clip.bits == 32 && clip.frames == 5)
      assert(clip.ch == (if (id % 2 == 0) 1 else 2))
    }
  }

  test("Moore-Lewis selection ranks seed-like documents below off-domain " +
      "ones, and seed docs score in-domain on the real corpus") {
    import spark.implicits._
    // seed domain speaks alpha/beta/gamma; off-domain speaks delta/epsilon;
    // doc 10 is an unlabeled seed-like doc the selector must surface
    val corpus = Seq(
      (1L, "seed", "alpha beta gamma alpha beta gamma alpha beta"),
      (2L, "seed", "beta gamma alpha beta gamma alpha beta gamma"),
      (10L, "web", "alpha beta gamma alpha beta gamma alpha beta gamma"),
      (11L, "web", "delta epsilon delta epsilon delta epsilon delta")
    ).toDF("doc_id", "source", "text")
    val out = TextOps.domainSelect(corpus, seedSource = "seed").collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(10L) < out(11L),
      s"seed-like web doc must score more in-domain: $out")
    assert(out(10L) < 0, "familiar bigrams: H_in < H_gen")
    // real corpus: the seed slice itself averages more in-domain than the
    // rest (it trained the in-domain model)
    val real = TextOps.domainSelect(docs).collect()
    val (s0, rest) = real.partition(_.getString(1) == "src0")
    val mean = (rs: Array[org.apache.spark.sql.Row]) =>
      rs.map(_.getDouble(3)).sum / rs.length
    assert(mean(s0) < mean(rest),
      s"seed mean ${mean(s0)} vs rest ${mean(rest)}")
  }

  test("BPE merges follow frequency order on a hand-computed corpus") {
    import spark.implicits._
    val tiny = Seq((0L, "ab ab ab"), (1L, "abc")).toDF("doc_id", "text")
    val m = TextOps.bpeMergeTable(tiny, 2)
    // (a,b) appears 4x (3 in 'ab', 1 in 'abc'); after merging, (ab,c) once
    assert(m.toSeq == Seq((1, "a", "b", "ab", 4L), (2, "ab", "c", "abc", 1L)))
  }

  test("BPE induction: 64 rounds stay flat per round (lineage truncated), " +
      "deterministic") {
    // 64 merges over the real docs table: with per-round lineage truncation
    // each round costs one vocab-table pass; a growing replace-chain would
    // blow up Catalyst analysis superlinearly and bust the bound
    val t0 = System.nanoTime()
    val m64 = TextOps.bpeMergeTable(docs, 64)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(m64.length == 64, s"corpus exhausted early: ${m64.length}")
    assert(sec < 120.0, f"64 BPE rounds took $sec%.1fs — lineage regrowth?")
    // merge counts are non-increasing in frequency order and the induction
    // is deterministic round for round
    assert(m64.map(_._5).sliding(2).forall(s => s.head >= s.last))
    assert(TextOps.bpeMergeTable(docs, 8) == m64.take(8))
  }

  test("repeated-span trimming removes exactly the planted shared span") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // exactly k tokens
    val tiny = Seq(
      (0L, s"$boiler u1 u2 u3"), // shared prefix + unique tail
      (1L, s"v1 v2 $boiler"),    // shared suffix
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11")).toDF("doc_id", "text")
    val out = Dedup.trimRepeatedSpans(tiny, 10).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((13, 10, "u1 u2 u3")))
    assert(out(1L) == ((12, 10, "v1 v2")))
    assert(out(2L) == ((11, 0,
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"))) // untouched
  }

  test("fuzzy decontamination flags a corpus clone of a bench doc") {
    // clone a src0 (bench) doc into the corpus under a new id — the corpus
    // side must be flagged with max_jaccard 1.0
    val bench = docs.where(col("source") === "src0")
    val firstBench = bench.orderBy("doc_id").limit(1)
      .withColumn("doc_id", lit(200001L)).withColumn("source", lit("srcX"))
    val corpus = docs.where(col("source") =!= "src0")
      .unionByName(firstBench)
    val out = Dedup.fuzzyDecontaminate(corpus, bench, 3, 32, 4, 0.5)
      .collect()
    val hit = out.find(_.getLong(0) == 200001L)
    assert(hit.nonEmpty, "planted clone not flagged")
    assert(hit.get.getDouble(2) == 1.0)
  }

  test("interval join plans as a hash equi-join, never a nested loop") {
    val out = EventOps.intervalJoin(cat.table("events"), cat.table("orders"), 7)
    val plan = out.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "bucketed interval join must not fall back to a nested loop")
    // exactness vs the naive per-row check on collected data
    val events = cat.table("events")
      .selectExpr("event_id", "user_id", "CAST(ts AS DATE) AS d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate))
    val orders = cat.table("orders")
      .selectExpr("o_custkey", "CAST(o_orderdate AS DATE) AS d",
        "o_totalprice")
      .collect().groupBy(_.getLong(0))
    val got = out.collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    events.take(500).foreach { case (eid, uid, ed) =>
      val expected = orders.getOrElse(uid, Array.empty).count { o =>
        val od = o.getDate(1).toLocalDate
        !od.isAfter(ed) && od.isAfter(ed.minusDays(7))
      }
      assert(got(eid) == expected.toLong, s"event $eid")
    }
  }

  test("value percentiles pick the exact ranked row per group") {
    val ev = cat.table("events")
    val out = EventOps.valuePercentiles(ev, Seq(50, 90)).collect()
    val byType = ev.select(col("event_type"), col("value"), col("event_id"))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(r => (r.getDouble(1), r.getLong(2))).sorted)
      .toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val vs = byType(r.getString(0))
      assert(r.getLong(1) == vs.length.toLong)
      def pick(p: Int) = vs(math.max(1,
        math.ceil(p * vs.length / 100.0).toInt) - 1)._1
      assert(r.getDouble(2) == pick(50), s"${r.getString(0)} p50")
      assert(r.getDouble(3) == pick(90), s"${r.getString(0)} p90")
    }
  }

  test("tfidf keywords: k per doc, rank order matches score order") {
    val out = TextOps.tfidfKeywords(docs, 3).collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.values.forall(_.length <= 3))
    byDoc.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getDouble(5), b.getDouble(5))
          assert(sa > sb || (sa == sb &&
            a.getString(2) < b.getString(2)), s"doc ${a.getLong(0)}")
        case _ =>
      }
    }
    // a term in every document has the minimum possible idf ratio — it can
    // only surface through tf; rarer terms outrank it at equal tf
    val nDocs = docs.count()
    out.foreach { r =>
      assert(r.getLong(4) <= nDocs)
      val expected = r.getLong(3).toDouble *
        ((nDocs - r.getLong(4) + 0.5) / (r.getLong(4) + 0.5))
      assert(r.getDouble(5) == expected, s"score shape doc ${r.getLong(0)}")
    }
  }

  test("similar-docs search ranks a planted duplicate first, jaccard 1.0") {
    val out = Dedup.similarDocs(docsWithDup, Seq(7L), 5).collect()
    assert(out.nonEmpty)
    val top = out.filter(_.getLong(0) == 7L).minBy(_.getInt(1))
    assert(top.getLong(2) == 100007L && top.getDouble(3) == 1.0)
    // ranks are 1..k and jaccard is non-increasing within the query
    val js = out.filter(_.getLong(0) == 7L).sortBy(_.getInt(1)).map(_.getDouble(3))
    js.sliding(2).foreach {
      case Array(a, b) => assert(a >= b)
      case _ =>
    }
  }

  test("edit verification: planted exact duplicate scores lev 0, sim 1.0") {
    val pairs = Dedup.minhashLshPairs(docsWithDup, 3, 32, 4, 0.9)
    val out = Dedup.editVerifiedPairs(docsWithDup, pairs).collect()
    assert(out.exists(r => r.getLong(0) == 7L && r.getLong(1) == 100007L &&
      r.getInt(2) == 0 && r.getDouble(3) == 1.0))
    out.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("textrank: k rows, scores in (0,1), deterministic across runs") {
    val a = TextOps.textrankKeywords(docs, 3, 20).collect()
    val b = TextOps.textrankKeywords(docs, 3, 20).collect()
    assert(a.length == 20)
    assert(a.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      b.map(r => (r.getString(0), r.getDouble(1))).toSeq)
    a.sliding(2).foreach {
      case Array(x, y) => assert(x.getDouble(1) >= y.getDouble(1))
      case _ =>
    }
    a.foreach(r => assert(r.getDouble(1) > 0.0 && r.getDouble(1) < 1.0))
  }

  test("textrank equals a round-by-round BigDecimal replay of the SQL " +
      "form, an edgeless token included") {
    import spark.implicits._
    // the oracle's steps: pr/deg cast HALF_UP to DECIMAL(38,18) from the
    // double's shortest string, an exact per-node sum, then the double
    // damping step; round(pr, 12) HALF_UP at the end
    def replay(texts: Seq[String], iters: Int, k: Int) = {
      val ws = texts.map(_.split(" ", -1).toSeq)
      val toks = ws.flatten.distinct
      val n = toks.size
      val edges = ws.flatMap(w => w.zip(w.tail)).filter(p => p._1 != p._2)
        .flatMap(p => Seq(p, p.swap)).distinct
      val deg = edges.groupBy(_._1).map { case (t, es) => t -> es.size }
      val pr = (1 to iters).foldLeft(toks.map(_ -> 1.0 / n).toMap) { (pr, _) =>
        val s = edges.groupBy(_._2).map { case (t, es) => t -> es.map {
          case (src, _) => BigDecimal(pr(src) / deg(src))
            .setScale(18, BigDecimal.RoundingMode.HALF_UP) }.sum.toDouble }
        toks.map(t => t -> (0.15 / n + 0.85 * s.getOrElse(t, 0.0))).toMap
      }
      pr.toSeq.map { case (t, p) =>
        (t, BigDecimal(p).setScale(12, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }.sortBy { case (t, p) => (-p, t) }.take(k)
    }
    def rows(d: org.apache.spark.sql.DataFrame, k: Int) =
      TextOps.textrankKeywords(d, 3, k).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
    // doc 3 is one repeated token: "solo" is a node with no edges (its
    // self-loops are dropped), so it scores exactly 0.15 / n
    val tiny = Seq((1L, "a b c a d"), (2L, "b c d e b"), (3L, "solo solo"))
      .toDF("doc_id", "text")
    val out = rows(tiny, 100)
    assert(out == replay(Seq("a b c a d", "b c d e b", "solo solo"), 3, 100))
    assert(out.toMap.apply("solo") ==
      BigDecimal(0.15 / 6).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(rows(docs, 20) ==
      replay(docs.select("text").as[String].collect().toSeq, 3, 20))
  }

  test("rolling daily window equals a brute-force trailing-7-day sum") {
    val ev = cat.table("events")
    val out = EventOps.rollingDaily(ev, 7).collect()
    val daily = out.map(r => (r.getString(0), r.getDate(1).toLocalDate) ->
      (r.getDouble(2), r.getLong(5))).toMap
    out.foreach { r =>
      val (typ, day) = (r.getString(0), r.getDate(1).toLocalDate)
      val window = (0 until 7).map(d => daily.get((typ, day.minusDays(d))))
        .flatten
      val expRev = window.map(x => BigDecimal(x._1)).sum.toDouble
      assert(math.abs(r.getDouble(3) - expRev) < 1e-6, s"$typ $day roll_rev")
    }
  }

  test("semantic dedup: planted clone removed, survivors have no " +
    "smaller-id near-mate") {
    val clone = emb.where(col("vec_id") === 7L)
      .withColumn("vec_id", lit(100007L))
    val withDup = emb.unionByName(clone)
    val cs = Similarity.kmeansCentroids(withDup, 8, 3)
    val out = Dedup.semanticDedup(withDup, cs, 0.35)
    val kept = out.collect().map(r =>
      r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // the clone shares its original's vector → same cluster, cos 1.0 → cut
    assert(kept(100007L)._2 == 0, "planted clone must be removed")
    assert(kept(7L)._2 == 1, "the smaller-id original survives")
    // every removed vector has a smaller-id cluster-mate at cos >= t;
    // verify against the naive within-cluster pair set
    val e = withDup.select(col("vec_id"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
      .withColumn("c", Similarity.nearestCluster(col("v"), cs))
    val naiveDups = e.as("a").join(e.as("b"),
        col("a.c") === col("b.c") && col("a.vec_id") < col("b.vec_id"))
      .where(Similarity.dot(col("a.v"), col("b.v")) >= 0.35)
      .select(col("b.vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    kept.foreach { case (id, (_, k)) =>
      assert((k == 0) == naiveDups.contains(id), s"vec $id kept=$k")
    }
  }

  test("semantic dedup greedy: keep-first chain semantics and convergence") {
    import spark.implicits._
    // A~B and B~C at cos ~0.5 (0.49999997 in float) but A~/~C (cos -0.5): the paper's greedy scan
    // keeps A (first), drops B (kept neighbor A), keeps C (its only smaller
    // neighbor B was dropped) — where the simpler drop-on-any-smaller rule
    // kills both B and C.
    val chain = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.5f, 0.8660254f)),
      (3L, Array(-0.5f, 0.8660254f))).toDF("vec_id", "embedding")
    val oneCluster = Array(Array(0.0, 1.0))
    val greedy = Dedup.semanticDedupGreedy(chain, oneCluster, 0.49)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(greedy == Map(1L -> 1, 2L -> 0, 3L -> 1))
    val simple = Dedup.semanticDedup(chain, oneCluster, 0.49)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(simple == Map(1L -> 1, 2L -> 0, 3L -> 0))
    // gate-scale convergence: within the default round budget every vector
    // is decided (no nulls), and greedy keeps a superset of simple's
    // survivors (its deletions are a subset by construction)
    val cs = Similarity.kmeansCentroids(emb, 8, 3)
    val g = Dedup.semanticDedupGreedy(emb, cs, 0.35).collect()
    assert(g.forall(!_.isNullAt(2)), "fixpoint must converge in 6 rounds")
    val gKept = g.filter(_.getInt(2) == 1).map(_.getLong(0)).toSet
    val sKept = Dedup.semanticDedup(emb, cs, 0.35).collect()
      .filter(_.getInt(2) == 1).map(_.getLong(0)).toSet
    assert(sKept.subsetOf(gKept))
  }

  test("index sizing: LSH bits pin bucket population, IVF lists grow as sqrt") {
    // expected bucket population n / 2^bits stays <= targetBucket
    Seq(1000L, 100000L, 10000000L, 1000000000L).foreach { n =>
      val bits = Dedup.suggestedLshBits(n, 64)
      assert(n.toDouble / math.pow(2, bits) <= 64.0, s"n=$n bits=$bits")
      assert(n.toDouble / math.pow(2, bits) > 16.0 || n <= 64 * 32,
        s"n=$n bits=$bits overshoots (empty buckets waste tables)")
    }
    // monotone: a bigger corpus never gets fewer bits
    assert(Dedup.suggestedLshBits(1000000L) >= Dedup.suggestedLshBits(10000L))
    // IVF: nlist ~ sqrt(n), so per-query work nlist + n/nlist stays O(sqrt n)
    Seq(10000L, 1000000L, 100000000L).foreach { n =>
      val lists = Similarity.suggestedIvfLists(n)
      val work = lists + n.toDouble / lists
      assert(work <= 3.0 * math.sqrt(n.toDouble), s"n=$n lists=$lists")
    }
    assert(Similarity.suggestedIvfLists(100L) == 16) // floor for tiny corpora
  }

  test("stratified sample: exactly k per stratum, rides GroupedTopK") {
    val out = TextOps.stratifiedSample(docs, 2)
    // every (lang, source) stratum with >= 2 docs yields exactly 2 rows,
    // smaller strata yield all their docs
    val strata = docs.groupBy("lang", "source").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = out.collect().groupBy(r => (r.getString(1), r.getString(2)))
      .view.mapValues(_.length).toMap
    strata.foreach { case (k, n) =>
      assert(got.getOrElse(k, 0) == math.min(n, 2L).toInt, s"stratum $k")
    }
    // determinism: re-running picks the identical sample
    assert(out.collect().map(_.getLong(0)).toSeq ==
      TextOps.stratifiedSample(docs, 2).collect().map(_.getLong(0)).toSeq)
    // the row_number pattern is rewritten to the bounded-heap operator
    assert(out.queryExecution.executedPlan.toString.contains("GroupedTopK"),
      "TopKRewrite must fire on the stratified-sample pattern")
  }

  test("vocab coverage: OOV fraction against a hand-picked tiny vocab") {
    import spark.implicits._
    val d = Seq((1L, "a a b c"), (2L, "a b"), (3L, "x y z a"))
      .toDF("doc_id", "text")
    // corpus counts: a=4, b=2, c=1, x=1, y=1, z=1 → top-2 vocab = {a, b}
    val out = TextOps.vocabCoverage(d, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(out(3L) == ((4L, 3L, 0.75)))
  }

  test("native nearest-centroid assignment is bit-identical to the " +
      "declarative struct-max spelling at k=100; duplicates and " +
      "centroid-table-named columns survive") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    // duplicate vec_id rows with DIFFERENT vectors, plus caller columns
    // named like the retired join path's centroid-table internals (j, c,
    // bias) — assignment must neither collapse the duplicates nor capture
    // the columns
    val rows = (0 until 300).map { i =>
      ((i % 150).toLong, Array.fill(dim)(rnd.nextGaussian()),
        i.toLong, s"c$i", i * 0.5)
    }
    val df = rows.toDF("vec_id", "v", "j", "c", "bias")
    val cs = Array.fill(100)(Array.fill(dim)(rnd.nextGaussian()))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getSeq[Double](1).toList, r.getLong(2),
        r.getString(3), r.getDouble(4), r.getInt(5))
    val assigned = Similarity.withNearestCluster(df, cs, "cluster")
    assert(assigned.columns.toSeq ==
      Seq("vec_id", "v", "j", "c", "bias", "cluster"))
    val native = assigned.collect().map(key).sortBy(k => (k._3, k._1))
    // the declarative spelling the oracles replay (k×dim literal nodes —
    // the 64 KB codegen overflow the native expression removes): same
    // sequential-fold dot, same driver-side bias, same ties→max-j rule
    val declarative = df
      .withColumn("cluster",
        Similarity.nearestClusterDeclarative(col("v"), cs))
      .collect().map(key).sortBy(k => (k._3, k._1))
    assert(native.length == 300, "duplicate vec_id rows must survive")
    assert(native.toSeq == declarative.toSeq,
      "native assignment must be bit-identical to the declarative spelling")
  }

  test("auto LSH sizing: planted near-dup recall >= fixed demo params on a " +
      "corpus where the sizings diverge") {
    import spark.implicits._
    // 8192 base + 128 planted → suggestedLshBits = 8 (demo pins 6): the
    // production sizing shrinks buckets 4× (pair work) and must buy the
    // recall back with suggestedLshTables' OR-amplification
    val dim = 16
    val nBase = 8192
    val p = 128
    val cos0 = 0.95
    val rnd = new java.util.Random(5)
    def unit(): Array[Double] = {
      val g = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      g.map(_ / norm)
    }
    val base = Array.fill(nBase)(unit())
    val planted = (0 until p).map { i =>
      val v = base(i)
      val g = Array.fill(dim)(rnd.nextGaussian())
      val gv = g.zip(v).map { case (a, b) => a * b }.sum
      val u = g.zip(v).map { case (a, b) => a - gv * b }
      val un = math.sqrt(u.map(x => x * x).sum)
      val sin0 = math.sqrt(1 - cos0 * cos0)
      v.zip(u).map { case (b, o) => cos0 * b + sin0 * o / un }
    }
    val emb = (base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      planted.zipWithIndex.map { case (v, i) => ((nBase + i).toLong, v.toSeq) })
      .toSeq.toDF("vec_id", "embedding")
    val truth = (0 until p).map(i => (i.toLong, (nBase + i).toLong)).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .count(truth).toDouble / p
    val rFixed = recallOf(
      Dedup.embeddingNearDupLshPairs(emb, 0.9, bits = 6, tables = 2, dim = dim))
    // production sizing: bits from the corpus count, tables from the
    // similarity design point
    val bits = Dedup.suggestedLshBits(emb.count())
    val tables = Dedup.suggestedLshTables(bits, 0.9, targetRecall = 0.95)
    val rAuto = recallOf(
      Dedup.embeddingNearDupLshPairs(emb, 0.9, bits, tables, dim))
    assert(bits > 6, s"fixture must exercise a non-demo sizing (bits=$bits)")
    assert(tables == Dedup.suggestedLshTables(bits, 0.9))
    assert(rAuto >= rFixed,
      s"auto sizing (bits=$bits tables=$tables) recall $rAuto must not lose " +
        s"to fixed demo params (recall $rFixed)")
    assert(rAuto >= 0.9, s"auto recall $rAuto below the 0.95 design point " +
      "minus sampling slack")
  }

  test("multi-table LSH kNN: planted twin found where single-table misses " +
      "it; one table equals knnLsh exactly") {
    import spark.implicits._
    val dim = 16
    val nBase = 2048
    val p = 32
    val cos0 = 0.95
    val rnd = new java.util.Random(7)
    def unit(): Array[Double] = {
      val g = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      g.map(_ / norm)
    }
    val base = Array.fill(nBase)(unit())
    val twins = (0 until p).map { i =>
      val v = base(i)
      val g = Array.fill(dim)(rnd.nextGaussian())
      val gv = g.zip(v).map { case (a, b) => a * b }.sum
      val u = g.zip(v).map { case (a, b) => a - gv * b }
      val un = math.sqrt(u.map(x => x * x).sum)
      val sin0 = math.sqrt(1 - cos0 * cos0)
      v.zip(u).map { case (b, o) => cos0 * b + sin0 * o / un }
    }
    val emb = (base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      twins.zipWithIndex.map { case (v, i) => ((nBase + i).toLong, v.toSeq) })
      .toSeq.toDF("vec_id", "embedding")
    val qids = (0L until p.toLong).toSeq
    def twinHits(df: org.apache.spark.sql.DataFrame): Int =
      df.collect().count(r =>
        r.getLong(2) == nBase + r.getLong(0)) // twin id = nBase + query id
    val bits = 8
    val one = Similarity.knnLshMulti(emb, qids, 5, bits, tables = 1, dim = dim)
    val many = Similarity.knnLshMulti(emb, qids, 5, bits,
      tables = Dedup.suggestedLshTables(bits, cos0, 0.98), dim = dim)
    // single table finds p95^8 ~ 0.43 of twins; OR-amplification must lift
    // it to the design point (seeded, so these are fixed numbers)
    assert(twinHits(many) > twinHits(one),
      s"tables must buy recall: ${twinHits(many)} vs ${twinHits(one)}")
    assert(twinHits(many) >= (0.9 * p).toInt,
      s"twin recall ${twinHits(many)}/$p below design point")
    // tables=1 must degrade EXACTLY to the single-table knnLsh
    val legacy = Similarity.knnLsh(emb, qids, 5, bits, dim)
      .collect().map(_.toSeq)
    assert(one.collect().map(_.toSeq).toSeq == legacy.toSeq)
    // flip-1 multiprobe at the same table count probes a strict candidate
    // SUPERSET of home-only buckets, so twin retrieval cannot lose — and at
    // 2 tables the per-table success jump (p^b → p^b + b·p^(b−1)(1−p), ~0.43
    // → ~0.81 here) shows up as a real gap, the fewer-tables-same-recall
    // trade knnLshAuto sizes on
    val homeOnly2 = Similarity.knnLshMulti(emb, qids, 5, bits, tables = 2,
      dim = dim)
    val multi2 = Similarity.knnLshMulti(emb, qids, 5, bits, tables = 2,
      dim = dim, multiprobe = true)
    assert(twinHits(multi2) > twinHits(homeOnly2),
      s"multiprobe must beat home-only at equal tables: " +
        s"${twinHits(multi2)} vs ${twinHits(homeOnly2)}")
    assert(twinHits(multi2) >= (0.9 * p).toInt,
      s"multiprobe twin recall ${twinHits(multi2)}/$p below design point")
  }

  test("calibrated LSH auto-sizing holds recall@k; bound-probed IVF-PQ " +
      "meets its >= 0.8 design point (planted fixture)") {
    import spark.implicits._
    // the multi-table fixture: 2048 random unit vectors + 32 planted twins
    // at cos 0.95 (deterministic seed), dim 16
    val dim = 16
    val nBase = 2048
    val p = 32
    val rnd = new java.util.Random(7)
    def unit(): Array[Double] = {
      val g = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      g.map(_ / norm)
    }
    val base = Array.fill(nBase)(unit())
    val twins = (0 until p).map { i =>
      val v = base(i)
      val g = Array.fill(dim)(rnd.nextGaussian())
      val gv = g.zip(v).map { case (a, b) => a * b }.sum
      val u = g.zip(v).map { case (a, b) => a - gv * b }
      val un = math.sqrt(u.map(x => x * x).sum)
      val sin0 = math.sqrt(1 - 0.95 * 0.95)
      v.zip(u).map { case (b, o) => 0.95 * b + sin0 * o / un }
    }
    val emb2 = (base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      twins.zipWithIndex.map { case (v, i) => ((nBase + i).toLong, v.toSeq) })
      .toSeq.toDF("vec_id", "embedding")
    val k = 5
    val qids = (0L until p.toLong).toSeq
    def resultSets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
    val brute = resultSets(Similarity.knnBrute(emb2, qids, k))
    def recallOf(got: Map[Long, Set[Long]]): Double =
      qids.map(q => got.getOrElse(q, Set.empty[Long])
        .intersect(brute(q)).size.toDouble / k).sum / qids.size
    // LSH planner: on this isotropic fixture the calibrated k-th-neighbor
    // cosine is low, so the sized index would probe most of the corpus —
    // the cost-based cutover must take the exact scan instead (tables = 0,
    // recall exactly 1.0: bucket machinery costs more than brute here)
    val (lshDf, _, tables) = Similarity.knnLshAuto(emb2, qids, k,
      dim = dim)
    assert(tables == 0,
      s"isotropic workload must cut over to the exact scan, got $tables " +
        "tables")
    val lshRecall = recallOf(resultSets(lshDf))
    assert(lshRecall == 1.0,
      s"cutover path must be exact, recall@$k $lshRecall")
    // pinned design cosine (the planted-twin regime): multiprobe sizing
    // stays on the LSH path with a SMALL table count and still retrieves
    // the twins — the contract the index exists for
    val (designDf, dBits, dTables) = Similarity.knnLshAuto(emb2, qids, k,
      targetCos = 0.95, dim = dim)
    assert(dTables >= 1 && dTables <= 4,
      s"multiprobe sizing should need only a few tables at cos 0.95, " +
        s"got bits=$dBits tables=$dTables")
    val designHits = resultSets(designDf).count { case (q, ns) =>
      ns.contains(nBase + q) } // twin id = nBase + query id
    assert(designHits >= (0.9 * p).toInt,
      s"design-point twin retrieval $designHits/$p below 0.9")
    // IVF-PQ: theta-bound phase-2 probing + 2x sqrt(n) shortlist is the
    // >= 0.8 recall design point; the seed-only probe trails it
    val n = nBase + p
    val nlist = Similarity.suggestedIvfLists(n)
    val nprobe = Similarity.suggestedIvfProbes(nlist)
    val shortlist = 2 * Similarity.suggestedShortlist(n, k)
    val idx = Similarity.ivfPqIndex(emb2, nlist, m = 8, ksub = 16,
      ivfIters = 2, pqIters = 2, dim = dim)
    val bound = recallOf(resultSets(Similarity.knnIvfPqProbe(
      idx, qids, k, nprobe, shortlist, boundProbe = true)))
    val seedOnly = recallOf(resultSets(Similarity.knnIvfPqProbe(
      idx, qids, k, nprobe, shortlist)))
    assert(bound >= 0.8, s"bound-probed IVF-PQ recall@$k $bound below " +
      "the 0.8 design point")
    assert(bound >= seedOnly,
      s"bound probing must not lose to seed-only ($bound vs $seedOnly)")
  }

  test("persisted indexes answer identically to built ones (IVF probes, " +
      "LSH delta ingest)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    // IVF: build → save → load → probe parity (bit-for-bit)
    val built = Similarity.ivfIndex(emb, nlist = 8, iters = 3)
    Similarity.saveIvfIndex(built, s"$dir/ivf")
    val loaded = Similarity.loadIvfIndex(spark, s"$dir/ivf")
    assert(loaded.cs.map(_.toSeq).toSeq == built.cs.map(_.toSeq).toSeq)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val a = Similarity.knnIvfProbe(built, qids, 5, nprobe = 3)
      .collect().map(_.toSeq)
    val b = Similarity.knnIvfProbe(loaded, qids, 5, nprobe = 3)
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // LSH: index the even docs, persist, delta-ingest the odd docs over
    // the LOADED index — pairs must equal the in-memory delta run
    val even = docs.where(col("doc_id") % 2 === 0)
    val odd = docs.where(col("doc_id") % 2 =!= 0)
    val idx = Dedup.lshIndex(even, 3, 32, 4)
    Dedup.saveLshIndex(idx, s"$dir/lsh")
    val re = Dedup.loadLshIndex(spark, s"$dir/lsh")
    val (pairsMem, _) = Dedup.lshDeltaPairs(idx, odd, 3, 32, 4, 0.5)
    val (pairsDisk, _) = Dedup.lshDeltaPairs(re, odd, 3, 32, 4, 0.5)
    assert(pairsDisk.collect().map(_.toSeq).toSeq ==
      pairsMem.collect().map(_.toSeq).toSeq)
  }

  test("forgetPersisted: a saved-then-reloaded index cannot resurrect a " +
      "forgotten id — all three persisted layouts, crash leftovers " +
      "ignored, double-forget idempotent, session registry populated") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-forget").toString
    val qids = Seq(0L, 1L, 2L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    try {
      val victim = rows(Similarity.knnBrute(emb, Seq(0L), 1)).head._3
      assert(!qids.contains(victim))
      val truth = rows(Similarity.knnBrute(
        emb.where(col("vec_id") =!= victim), qids, 5))
      assert(truth.forall(_._3 != victim))

      // PQ: save the FULL index, tombstone, reload — certificate-exact
      // serving equals brute force over survivors; the victim resolves
      // nowhere, not even as a query
      Similarity.savePqIndex(Similarity.pqIndex(emb), s"$dir/pq")
      Forget.forgetPersisted(spark, s"$dir/pq", Seq(victim))
      val pq = Similarity.loadPqIndex(spark, s"$dir/pq")
      assert(rows(Similarity.pqKnnBoundWith(pq, qids, 5)).sameElements(truth))
      assert(Similarity.pqKnnBoundWith(pq, Seq(victim), 5).isEmpty)

      // IVF: same contract through the θ-bound probe, with the residual
      // bounds refreshed from survivors at load (the ivfDelete recipe)
      Similarity.saveIvfIndex(Similarity.ivfIndex(emb, 8), s"$dir/ivf")
      Forget.forgetPersisted(spark, s"$dir/ivf", Seq(victim))
      val ivf = Similarity.loadIvfIndex(spark, s"$dir/ivf")
      assert(rows(Similarity.knnIvfProbe(ivf, qids, 5, 3)).sameElements(truth))
      assert(Similarity.knnIvfProbe(ivf, Seq(victim), 5, 3).isEmpty)

      // LSH: index with a planted dup of doc 7, tombstone 7, reload — no
      // posting/signature row survives, and the victim's own text
      // re-presented under a fresh id pairs only with the surviving clone
      Dedup.saveLshIndex(Dedup.lshIndex(docsWithDup, 3, 32, 4), s"$dir/lsh")
      Forget.forgetPersisted(spark, s"$dir/lsh", Seq(7L))
      val lsh = Dedup.loadLshIndex(spark, s"$dir/lsh")
      assert(lsh.postings.where(col("doc_id") === 7L).isEmpty)
      assert(lsh.signatures.where(col("doc_id") === 7L).isEmpty)
      val text7 = docs.where(col("doc_id") === 7L).head.getString(1)
      val (dp, _) = Dedup.lshDeltaPairs(lsh,
        Seq((900002L, text7)).toDF("doc_id", "text"), 3, 32, 4, 0.5)
      assert(dp.where(col("doc_a") === 7L || col("doc_b") === 7L).isEmpty)
      assert(dp.where(col("doc_a") === 100007L &&
        col("doc_b") === 900002L).count() == 1)

      // crash case: what a crash mid-append actually leaves is an
      // UNCOMMITTED task-attempt dir nested under _temporary/ (task
      // output only moves out at task commit, the job publishes at job
      // commit). Plant that layout — loads must ignore it (only
      // COMMITTED tombstones apply; the design has no second step a
      // crash could land between) and the retried append must still
      // commit cleanly around it
      val tmp = java.nio.file.Paths.get(s"$dir/pq/tombstones/_temporary/0/" +
        "_temporary/attempt_20260816_0001_m_000000_0")
      java.nio.file.Files.createDirectories(tmp)
      java.nio.file.Files.write(tmp.resolve("part-00000-junk.parquet"),
        Array[Byte](1, 2, 3))
      assert(rows(Similarity.pqKnnBoundWith(
        Similarity.loadPqIndex(spark, s"$dir/pq"), qids, 5))
        .sameElements(truth))

      // double forget (the crash-retry path): re-appending the same id —
      // here straight past the planted crash debris — commits and is a
      // no-op on the served result (loads apply tombstones as a distinct
      // anti-join)
      Forget.forgetPersisted(spark, s"$dir/pq", Seq(victim))
      assert(rows(Similarity.pqKnnBoundWith(
        Similarity.loadPqIndex(spark, s"$dir/pq"), qids, 5))
        .sameElements(truth))

      // the session registered every layout it saved/loaded, so ONE
      // Forget.forget call reaches the durable copies too
      val reg = IndexCache.persistedPaths(spark)
      assert(Set(s"$dir/pq", s"$dir/ivf", s"$dir/lsh")
        .subsetOf(reg.keySet))
      assert(reg(s"$dir/pq") == "pq" && reg(s"$dir/ivf") == "ivf" &&
        reg(s"$dir/lsh") == "lsh")
    } finally IndexCache.invalidate(spark) // drop registry + artifacts
  }

  test("ivfPqDelete: delete-then-query is bit-identical to the " +
      "same-geometry survivor encode on both probe paths, and exact vs " +
      "brute force at full shortlist under the θ bound") {
    import spark.implicits._
    val qids = Seq(0L, 1L, 2L)
    val k = 5
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val victim = rows(Similarity.knnBrute(emb, Seq(0L), 1)).head._3
    assert(!qids.contains(victim))
    val idx = Similarity.ivfPqIndex(emb, nlist = 8)
    val del = Similarity.ivfPqDelete(idx, Seq(victim).toDF("vec_id"))
    // the forgotten vector serves from nowhere — not as a neighbor, not
    // as a query
    assert(rows(Similarity.knnIvfPqProbe(del, qids, k)).forall(_._3 != victim))
    assert(Similarity.knnIvfPqProbe(del, Seq(victim), k).isEmpty)
    // same-geometry rebuild equivalence (the honest invariant for an
    // APPROXIMATE serving path — a full retrain may legitimately answer
    // differently): an index whose corpus is the survivor rows and whose
    // cell bounds this spec recomputes INDEPENDENTLY (one SQL aggregate
    // over survivors × the frozen centroids) serves bit-identically on
    // the fixed-probe AND θ-bound paths
    val surv = idx.corpus.where(col("neighbor_id") =!= victim)
    val centArr = typedLit(idx.cs.map(_.toSeq).toSeq)
    val res2 = surv
      .withColumn("c", element_at(centArr, col("cell_n") + 1))
      .withColumn("r2", expr(
        "aggregate(zip_with(v_n, c, (x, y) -> (x - y) * (x - y)), " +
          "0D, (a, x) -> a + x)"))
      .groupBy("cell_n").agg(sqrt(max(col("r2"))).as("max_res"))
    val manual = Similarity.IvfPqIndex(idx.cs, idx.cbs, surv, res2)
    for (bound <- Seq(false, true)) {
      assert(rows(Similarity.knnIvfPqProbe(del, qids, k, 3, 20, bound))
        .sameElements(
          rows(Similarity.knnIvfPqProbe(manual, qids, k, 3, 20, bound))),
        s"boundProbe=$bound diverged from the survivor encode")
    }
    // and with the shortlist opened to the corpus size the θ-bound probe
    // is EXACT: it equals brute force over the survivors bit-for-bit
    val truth = rows(Similarity.knnBrute(
      emb.where(col("vec_id") =!= victim), qids, k))
    assert(rows(Similarity.knnIvfPqProbe(del, qids, k, 3,
      emb.count().toInt, boundProbe = true)).sameElements(truth))
  }

  test("IvfPq persisted layout: save → load probes bit-identically on " +
      "both paths, and a tombstoned reload equals the in-memory delete") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val qids = Seq(0L, 1L, 2L)
    val k = 5
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    try {
      val idx = Similarity.ivfPqIndex(emb, nlist = 8)
      Similarity.saveIvfPqIndex(idx, s"$dir/ivfpq")
      val loaded = Similarity.loadIvfPqIndex(spark, s"$dir/ivfpq")
      assert(loaded.cs.map(_.toSeq).toSeq == idx.cs.map(_.toSeq).toSeq)
      assert(loaded.cbs.map(_.map(_.toSeq).toSeq).toSeq ==
        idx.cbs.map(_.map(_.toSeq).toSeq).toSeq)
      for (bound <- Seq(false, true))
        assert(rows(Similarity.knnIvfPqProbe(loaded, qids, k, 3, 20, bound))
          .sameElements(
            rows(Similarity.knnIvfPqProbe(idx, qids, k, 3, 20, bound))),
          s"boundProbe=$bound load parity")
      // tombstoned reload ≡ in-memory ivfPqDelete (bounds refreshed the
      // same way on both sides)
      val victim = rows(Similarity.knnBrute(emb, Seq(0L), 1)).head._3
      Forget.forgetPersisted(spark, s"$dir/ivfpq", Seq(victim))
      val reloaded = Similarity.loadIvfPqIndex(spark, s"$dir/ivfpq")
      val del = Similarity.ivfPqDelete(idx, Seq(victim).toDF("vec_id"))
      for (bound <- Seq(false, true))
        assert(rows(Similarity.knnIvfPqProbe(reloaded, qids, k, 3, 20,
          bound)).sameElements(
            rows(Similarity.knnIvfPqProbe(del, qids, k, 3, 20, bound))),
          s"boundProbe=$bound tombstoned reload")
      assert(Similarity.knnIvfPqProbe(reloaded, Seq(victim), k).isEmpty)
    } finally IndexCache.invalidate(spark)
  }

  test("compactPersisted folds tombstones into the data files (all four " +
      "layout kinds detected), drops the tombstone file, stays a no-op " +
      "without one, and the crash window re-applies idempotently") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
      .toString
    val qids = Seq(0L, 1L, 2L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    def tombstones(p: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$p/tombstones"))
    try {
      val victim = rows(Similarity.knnBrute(emb, Seq(0L), 1)).head._3
      val truth = rows(Similarity.knnBrute(
        emb.where(col("vec_id") =!= victim), qids, 5))

      // PQ: compact applies the delete to the stored corpus
      Similarity.savePqIndex(Similarity.pqIndex(emb), s"$dir/pq")
      assert(!Forget.compactPersisted(spark, s"$dir/pq")) // no tombstones
      Forget.forgetPersisted(spark, s"$dir/pq", Seq(victim))
      assert(Forget.compactPersisted(spark, s"$dir/pq"))
      assert(!tombstones(s"$dir/pq"))
      assert(spark.read.parquet(s"$dir/pq/corpus")
        .where(col("neighbor_id") === victim).isEmpty)
      assert(rows(Similarity.pqKnnBoundWith(
        Similarity.loadPqIndex(spark, s"$dir/pq"), qids, 5))
        .sameElements(truth))
      // the crash window between swap and tombstone delete is exactly
      // "compacted data + tombstones": re-append the same id — loads
      // re-apply it as a no-op and a retried compact converges
      Forget.forgetPersisted(spark, s"$dir/pq", Seq(victim))
      assert(rows(Similarity.pqKnnBoundWith(
        Similarity.loadPqIndex(spark, s"$dir/pq"), qids, 5))
        .sameElements(truth))
      assert(Forget.compactPersisted(spark, s"$dir/pq"))
      assert(!tombstones(s"$dir/pq"))

      // IVF and IVF-PQ: kind detection picks the right loader (cell_res
      // + codebooks disambiguate), bounds land refreshed in the files
      Similarity.saveIvfIndex(Similarity.ivfIndex(emb, 8), s"$dir/ivf")
      Forget.forgetPersisted(spark, s"$dir/ivf", Seq(victim))
      assert(Forget.compactPersisted(spark, s"$dir/ivf"))
      assert(!tombstones(s"$dir/ivf"))
      assert(rows(Similarity.knnIvfProbe(
        Similarity.loadIvfIndex(spark, s"$dir/ivf"), qids, 5, 3))
        .sameElements(truth))
      Similarity.saveIvfPqIndex(Similarity.ivfPqIndex(emb, nlist = 8),
        s"$dir/ivfpq")
      Forget.forgetPersisted(spark, s"$dir/ivfpq", Seq(victim))
      assert(Forget.compactPersisted(spark, s"$dir/ivfpq"))
      assert(!tombstones(s"$dir/ivfpq"))
      assert(spark.read.parquet(s"$dir/ivfpq/corpus")
        .where(col("neighbor_id") === victim).isEmpty)

      // LSH: postings and signatures both compacted
      Dedup.saveLshIndex(Dedup.lshIndex(docsWithDup, 3, 32, 4), s"$dir/lsh")
      Forget.forgetPersisted(spark, s"$dir/lsh", Seq(7L))
      assert(Forget.compactPersisted(spark, s"$dir/lsh"))
      assert(!tombstones(s"$dir/lsh"))
      assert(spark.read.parquet(s"$dir/lsh/postings")
        .where(col("doc_id") === 7L).isEmpty)
      assert(spark.read.parquet(s"$dir/lsh/signatures")
        .where(col("doc_id") === 7L).isEmpty)

      // MEDIA fingerprints: the fifth layout kind — save, forget an
      // asset, compact, reload: postings gone, maxHamming preserved,
      // and a re-presented delta pairs only with the surviving
      // re-upload, never the forgotten id
      def clip(id: Long, src: Long) = Multimodal.MediaRow(id,
        Multimodal.syntheticY4m(src, 64, 0),
        Multimodal.MediaMeta("y4m", 0, 0, 0))
      val mcorpus = Seq(clip(1, 1), clip(2, 2), clip(4, 1)).toDS().toDF()
      Multimodal.saveMediaFpIndex(
        Multimodal.mediaFpIndex(Multimodal.videoFingerprint(mcorpus), 2),
        s"$dir/mfp")
      Forget.forgetPersisted(spark, s"$dir/mfp", Seq(1L))
      assert(Forget.compactPersisted(spark, s"$dir/mfp"))
      assert(!tombstones(s"$dir/mfp"))
      val mfp = Multimodal.loadMediaFpIndex(spark, s"$dir/mfp")
      assert(mfp.maxHamming == 2)
      assert(mfp.keyed.where(col("doc_id") === 1L).isEmpty)
      assert(mfp.fingerprints.where(col("doc_id") === 1L).isEmpty)
      val (mp, _) = Multimodal.mediaDeltaPairs(mfp,
        Multimodal.videoFingerprint(Seq(clip(21, 1)).toDS().toDF()))
      assert(mp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((4L, 21L)))

      // not-an-index dirs are rejected, not silently "compacted"
      val junk = s"$dir/junk"
      Seq(1L).toDF("id").write.parquet(s"$junk/tombstones")
      intercept[IllegalArgumentException](
        Forget.compactPersisted(spark, junk))
    } finally IndexCache.invalidate(spark)
  }

  test("native LshBucket expression is bit-identical to the declarative " +
      "per-plane spelling") {
    import spark.implicits._
    val dim = 64
    val rnd = new java.util.Random(3)
    val vecs = (0 until 500).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "v")
    val planes = Similarity.hyperplanes(dim, bits = 12, seed = 99L)
    // the spelling the native expression replaced (bits × dim literal nodes)
    val declarative = planes.zipWithIndex.map { case (p, j) =>
      when(Similarity.dot(col("v"), array(p.map(lit).toIndexedSeq: _*)) >= 0d,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = vecs
      .withColumn("native", Similarity.lshBucket(col("v"), planes))
      .withColumn("decl", declarative)
      .where(col("native") =!= col("decl"))
    assert(rows.count() == 0, "native and declarative buckets must agree")
    // short vectors fold over min(|v|, |plane|), like DotProduct
    val short = Seq((1L, Seq(1.0, -1.0))).toDF("vec_id", "v")
      .select(Similarity.lshBucket(col("v"), planes).as("b")).head.getLong(0)
    val expect = planes.zipWithIndex.map { case (p, j) =>
      if (p(0) * 1.0 + p(1) * -1.0 >= 0) 1L << j else 0L
    }.sum
    assert(short == expect)
  }

  test("pii scrub: counts per kind, full redaction, clean text fixpoint") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "mail me at a.b+c@x-y.example.org or root@h.io today"),
      (2L, "server 10.0.255.3 then call 555-010-1234 now"),
      (3L, "version 1.2 is not an ip and 12-345-6789 is not a phone"),
      (4L, "plain text with no pii at all"),
      // the IP redaction consumes the head of the phone-shaped run —
      // counts reflect what was REDACTED, so n_phone must be 0 here
      (5L, "overlap 192.168.255.255-123-4567 case")).toDF("doc_id", "text")
    val out = TextOps.piiScrub(corpus).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 2 && out(1L).getInt(2) == 0) // 2 emails
    assert(out(2L).getInt(2) == 1 && out(2L).getInt(3) == 1) // ip + phone
    assert(out(3L).getInt(1) + out(3L).getInt(2) + out(3L).getInt(3) == 0)
    assert(out(5L).getInt(2) == 1 && out(5L).getInt(3) == 0)
    assert(out(4L).getDouble(6) == 0.0) // pii_per_token
    // redaction is complete: scrubbing the scrubbed text changes nothing
    val redacted = TextOps.piiPatterns.foldLeft(col("text")) {
      case (c, (_, pat, token)) => regexp_replace(c, pat, token)
    }
    val once = corpus.select(col("doc_id"), redacted.as("text"))
    val twiceHash = TextOps.piiScrub(once).select("doc_id", "clean_md5")
    val onceHash = once.select(col("doc_id"), md5(col("text")).as("clean_md5"))
    assert(twiceHash.except(onceHash).isEmpty)
  }

  test("repetition signals: looped text trips the filter, diverse text " +
      "doesn't, degenerate docs are zeros") {
    import spark.implicits._
    val corpus = Seq(
      // "spam ham" bigram covers most of the doc → repetitive
      (1L, "spam ham spam ham spam ham spam ham spam ham"),
      // all-distinct words: every bigram occurs once, dup 5-grams none
      (2L, "a b c d e f g h i j"),
      (3L, "solo"), // no bigrams at all
      (4L, "")).toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(corpus).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: "spam ham" occurs 5×, 8 chars each over 44 chars
    assert(out(1L).getString(1) == "spam ham")
    assert(out(1L).getLong(2) == 5L)
    assert(out(1L).getDouble(3) == 5.0 * 8 / 44)
    // duplicated 5-grams: "spam ham spam ham spam" ×3 (22 chars) + "ham
    // spam ham spam ham" ×3 (21 chars) → 129 over 44 → capped at 1.0
    assert(out(1L).getDouble(4) == 1.0)
    assert(out(1L).getBoolean(5))
    // doc 2: top bigram count 1, zero duplicate 5-grams
    assert(out(2L).getLong(2) == 1L && out(2L).getDouble(4) == 0.0)
    assert(!out(2L).getBoolean(5))
    // degenerate: no grams → empty top, zero fractions, not repetitive
    Seq(3L, 4L).foreach { id =>
      assert(out(id).getString(1) == "" && out(id).getLong(2) == 0L)
      assert(out(id).getDouble(3) == 0.0 && out(id).getDouble(4) == 0.0)
      assert(!out(id).getBoolean(5))
    }
  }

  test("leakage-free split: every near-dup pair lands in the same split, " +
      "and buckets follow the cluster label") {
    val pairs = Dedup.minhashLshPairs(docsWithDup, 3, 32, 4, 0.5)
      .select("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(docsWithDup, "doc_id", pairs)
    val split = Dedup.leakageFreeSplit(clusters)
    val byDoc = split.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(3))).toMap
    assert(byDoc.size == docsWithDup.count())
    // the planted exact duplicate shares its cluster AND its split
    assert(byDoc(7L)._1 == byDoc(100007L)._1)
    assert(byDoc(7L)._2 == byDoc(100007L)._2)
    // every pair endpoint agrees (the invariant a doc-level split lacks)
    pairs.collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(byDoc(a)._2 == byDoc(b)._2, s"pair ($a, $b) split apart")
    }
    // all three splits are populated at this corpus size and the split is
    // a pure function of the cluster label
    assert(byDoc.values.map(_._2).toSet == Set("train", "valid", "test"))
    val byCluster = byDoc.values.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(byCluster.values.forall(_.size == 1))
  }

  test("held-out perplexity: finite under unseen bigrams, smoothing exact") {
    val out = TextOps.heldOutPerplexity(docs, 80, 10).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.nonEmpty)
    out.values.foreach { case (n, unseen, ce) =>
      assert(n > 0 && unseen >= 0 && unseen <= n)
      assert(!ce.isNaN && !ce.isInfinite && ce > 0.0)
    }
    // hand-built corpus: train teaches exactly "a b" (one bigram,
    // V = |{b}| + 1 = 2); valid doc "a b c" has seen "a b"
    // (p = (1+1)/(1+2) = 2/3) and unseen "b c" with unseen history b
    // (p = (0+1)/(0+2) = 1/2)
    import spark.implicits._
    val tiny = Seq(
      (1L, "a b", "s"), // hashes into train for this (doc_id, text) pair
      (2L, "a b c", "s")).toDF("doc_id", "text", "source")
    val split = TextOps.hashSplitAssign(tiny, 80, 10)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // only assert the arithmetic when the hash actually splits them apart
    if (split(1L) == "train" && split(2L) == "valid") {
      val ce = TextOps.heldOutPerplexity(tiny, 80, 10)
        .collect().head.getDouble(3)
      val expected = (-math.log(2.0 / 3.0) - math.log(1.0 / 2.0)) / 2.0
      assert(math.abs(ce - expected) < 1e-5)
    }
  }

  test("linear probe: loss decreases each round and the trained weights " +
      "are partitioning-invariant") {
    val out = TextOps.linearProbe(docs, 4, 0.5).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1, 2, 3, 4))
    // squared loss under batch GD with a sane step is monotone decreasing
    val mses = out.map(_._6)
    mses.zip(mses.tail).foreach { case (a, b) => assert(b < a) }
    // decimal-exact gradient sums: a different partitioning must yield
    // bit-identical weights, not merely close ones
    val shuffled = TextOps.linearProbe(docs.repartition(7), 4, 0.5)
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(shuffled.toSeq == out.toSeq)
    // inference: every source is scored, and the per-source residual MSE
    // never exceeds the model's round-3 global pre-update loss by much
    // (the probe fits globally; sources share the feature distribution)
    val scored = TextOps.probeScore(docs, 3, 0.5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(scored.map(_._1).toSet ==
      docs.select("source").distinct().collect().map(_.getString(0)).toSet)
    assert(scored.map(_._2).sum == docs.count())
    val round3Loss = out(2)._6
    scored.foreach { case (_, _, pred, mse) =>
      assert(pred > 0.0 && mse < round3Loss * 2.0)
    }
    // calibration: kept counts and recall are monotone non-increasing in
    // the threshold; n_good is threshold-independent
    val cal = TextOps.probeCalibration(docs, 3, 0.5).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(cal.map(_._1).toSeq == Seq(0.5, 0.75, 1.0, 1.25))
    assert(cal.map(_._4).distinct.length == 1)
    val kept = cal.map(_._2)
    assert(kept.zip(kept.tail).forall { case (a, b) => a >= b })
    val goodKept = cal.map(_._3)
    assert(goodKept.zip(goodKept.tail).forall { case (a, b) => a >= b })
    cal.foreach { case (_, k, gk, g) => assert(gk <= k && gk <= g) }
  }

  test("suggestedShortlist: monotone sqrt growth, floor 4k, holds recall " +
      "where a fixed shortlist decays (the third sizing knob)") {
    // sizing properties: >= 4k floor, ~sqrt(n) growth, monotone in n
    assert(Similarity.suggestedShortlist(100L, 10) == 40)
    assert(Similarity.suggestedShortlist(1000000L, 10) == 1000)
    val ns = Seq(1000L, 100000L, 10000000L, 1000000000L)
    val ls = ns.map(Similarity.suggestedShortlist(_, 10))
    assert(ls.zip(ls.tail).forall { case (a, b) => a <= b })
    ls.zip(ns).foreach { case (l, n) =>
      assert(l <= 2 * math.sqrt(n.toDouble) + 40, s"n=$n shortlist=$l") }
    // recall: on the 500-vector corpus the auto shortlist (~sqrt(500)=22
    // floored to 4k=20 at k=5... use k=10 -> 40) must recover at least as
    // much of the brute-force top-k as a deliberately starved fixed
    // shortlist, and be a superset-quality result (recall non-decreasing
    // in shortlist width is the monotonicity the knob relies on)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val k = 10
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val brute = Similarity.knnBrute(emb, qids, k).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
      val got = df.collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
      qids.map(q => got.getOrElse(q, Set.empty[Long])
        .intersect(brute.getOrElse(q, Set.empty[Long])).size.toDouble / k)
        .sum / qids.size
    }
    val idx = Similarity.pqIndex(emb)
    val starved = recallOf(Similarity.pqKnnWith(idx, qids, k, shortlist = k))
    val autoShortlist = Similarity.suggestedShortlist(idx.size, k)
    assert(autoShortlist == Similarity.suggestedShortlist(emb.count(), k))
    val auto = recallOf(Similarity.pqKnnWith(idx, qids, k, autoShortlist))
    assert(auto >= starved,
      s"auto shortlist $autoShortlist recall $auto < fixed-$k $starved")
    // recall is monotone in shortlist width — the property the sqrt(n)
    // growth converts into recall held across corpus growth
    val wide = recallOf(
      Similarity.pqKnnWith(idx, qids, k, shortlist = 4 * autoShortlist))
    assert(wide >= auto,
      s"recall not monotone in shortlist: $auto -> $wide")
  }

  test("IVF-PQ: probed-cell ADC finds a planted twin, deterministic " +
      "across builds, codebook geometry validated") {
    // plant an exact clone of vec 3: the probe must rank it first for
    // query 3 (its cell is the query's own best cell, ADC of identical
    // codes maximal, exact re-rank sim ~ 1.0)
    val clone = emb.where(col("vec_id") === 3L)
      .withColumn("vec_id", lit(90003L))
    val planted = emb.unionByName(clone)
    val idx = Similarity.ivfPqIndex(planted, nlist = 8, m = 16, ksub = 16,
      ivfIters = 2, pqIters = 2)
    val got = Similarity.knnIvfPqProbe(idx, Seq(3L), 5, nprobe = 3)
      .collect()
    assert(got.head.getLong(2) == 90003L, s"twin not first: ${got.head}")
    assert(math.abs(got.head.getDouble(3) - 1.0) < 1e-6)
    // deterministic: a rebuilt index answers identically
    val idx2 = Similarity.ivfPqIndex(planted, nlist = 8, m = 16, ksub = 16,
      ivfIters = 2, pqIters = 2)
    val again = Similarity.knnIvfPqProbe(idx2, Seq(3L), 5, nprobe = 3)
      .collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // probing MORE cells never loses the twin (monotone candidate pool)
    val wide = Similarity.knnIvfPqProbe(idx, Seq(3L), 5, nprobe = 8)
      .collect()
    assert(wide.head.getLong(2) == 90003L)
    // mismatched codebook geometry fails loudly instead of mis-slicing —
    // at search time too, so a malformed loaded index cannot serve: ragged
    // codebooks when the search is planned, codebooks that agree with each
    // other but not with the 64-dim vectors (1×1×3) when it runs
    val corpus = Similarity.pqIndex(emb).corpus
    for (badCbs <- Seq(Array.empty[Array[Array[Double]]],
        Array(Array(Array(1.0, 2.0, 3.0))),
        Array(Array(Array(1.0, 2.0, 3.0)), Array(Array(1.0, 2.0))),
        Array(Array(Array(1.0, 2.0)), Array(Array(1.0, 2.0), Array(3.0, 4.0)))))
    {
      val ex = intercept[Exception] {
        Similarity.pqKnnWith(Similarity.PqIndex(badCbs, corpus), Seq(0L), 5)
          .collect()
      }
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
      assert(msgs.exists(_.contains("codebook")), ex.toString)
    }
  }

  test("exact-substring dedup: 60-token shared span trimmed everywhere " +
      "but its first occurrence; a 15-token span is below minLen where " +
      "10-gram trimming still fires (the published-standard contrast)") {
    import spark.implicits._
    // two fresh docs: a shared 60-token span (>= minLen 20) and a shared
    // 15-token span (>= 10-gram trim's k, < minLen); unique filler
    // tokens so nothing else repeats
    val long60 = (1 to 60).map(i => s"dup$i").mkString(" ")
    val short15 = (1 to 15).map(i => s"mid$i").mkString(" ")
    def filler(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val a = s"${filler("ax", 5)} $long60 ${filler("ay", 5)} $short15"
    val b = s"${filler("bx", 5)} $long60 ${filler("by", 5)} $short15"
    val planted = Seq((9000001L, a), (9000002L, b)).toDF("doc_id", "text")
    val exact = Dedup.exactSubstringDedup(planted, 20).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getString(3))).toMap
    // doc A holds the canonical occurrence -> untouched
    assert(exact(9000001L)._1 == 0, s"canonical doc trimmed: ${exact(9000001L)}")
    assert(exact(9000001L)._2 == a)
    // doc B loses exactly the 60 duplicated tokens, keeps the 15-token
    // span (below minLen) and its filler
    assert(exact(9000002L)._1 == 60, s"expected 60 removed: ${exact(9000002L)}")
    assert(!exact(9000002L)._2.contains("dup1 "), exact(9000002L)._2)
    assert(exact(9000002L)._2.contains(short15))
    assert(exact(9000002L)._2.contains("bx1"))
    // the 10-gram trim AGREES on the long span (covered in both docs —
    // no canonical survivor there) and DISAGREES on the 15-token span
    // (trimmed, because it holds repeated 10-grams)
    val tenGram = Dedup.trimRepeatedSpans(planted, 10).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    Seq(9000001L, 9000002L).foreach { id =>
      assert(!tenGram(id).contains("dup1 ") && !tenGram(id).endsWith("dup60"),
        s"10-gram trim kept the long span in $id")
      assert(!tenGram(id).contains(short15),
        s"10-gram trim kept the 15-token span in $id — disagreement lost")
    }
    // within-doc self-repeat: the paper's count>=2 includes one document
    // repeating itself (trimRepeatedSpans' >=2-docs rule would keep it)
    val self = (1 to 25).map(i => s"rep$i").mkString(" ")
    val selfDoc = Seq((9000003L, s"$self ${filler("mid", 3)} $self"))
      .toDF("doc_id", "text")
    val selfOut = Dedup.exactSubstringDedup(selfDoc, 20).collect().head
    assert(selfOut.getInt(2) == 25,
      s"self-repeat not trimmed: $selfOut")
    val tenSelf = Dedup.trimRepeatedSpans(selfDoc, 10).collect().head
    assert(tenSelf.getInt(2) == 0, "trimRepeatedSpans is cross-doc only")
  }

  test("DSIR importance resampling: seed-domain docs are upweighted " +
      "vs the uniform content-hash draw, deterministic across partitions") {
    // full ranking (budget = everything) exposes the weights
    val all = TextOps.dsirResample(docs, 100000000L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3),
        r.getDouble(4)))
    assert(all.length == docs.count())
    // the target model is trained on src0: src0 docs score a higher mean
    // log importance ratio than the rest (their hashed-bigram features
    // match the target distribution by construction)
    val (seedS, restS) = all.partition(_._2 == "src0")
    val seedMean = seedS.map(_._3).sum / seedS.length
    val restMean = restS.map(_._3).sum / restS.length
    assert(seedMean > restMean + 1.0,
      s"seed mean $seedMean not above rest mean $restMean")
    // under a tight budget the kept set OVERSELECTS the seed domain
    // relative to its corpus share, where t18's uniform hash draw keeps
    // every source at its base rate
    val kept = TextOps.dsirResample(docs, 5000L).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.nonEmpty && kept.length < all.length)
    val keptSeedFrac = kept.count(_._2 == "src0").toDouble / kept.length
    val corpusSeedFrac = seedS.length.toDouble / all.length
    assert(keptSeedFrac > 1.5 * corpusSeedFrac,
      s"kept seed fraction $keptSeedFrac vs corpus $corpusSeedFrac")
    val uniform = TextOps.weightedSample(docs,
      Map("src0" -> 1.0, "src1" -> 1.0, "src2" -> 1.0, "src3" -> 1.0,
        "src4" -> 1.0)).collect()
    assert(uniform.length == all.length) // keep-all: no domain pressure
    // partitioning-invariant: the kept set replays identically
    val again = TextOps.dsirResample(docs.repartition(17), 5000L).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSeq == again.toSeq)
  }

  test("source overlap matrix: exact Jaccard on hand-built sources; " +
      "disjoint sources produce no row") {
    import spark.implicits._
    // k=2 shingles: A={a b, b c, c d}, B={b c, c d, d e} -> inter 2,
    // union 4; C shares nothing with either
    val d = Seq(
      (1L, "A", "a b c d"), (2L, "B", "b c d e"), (3L, "C", "x y z w"),
      // duplicate doc inside A: per-source shingle sets are DISTINCT,
      // so a repeated doc must not inflate any count
      (4L, "A", "a b c d")
    ).toDF("doc_id", "source", "text")
    val rows = Dedup.sourceOverlapMatrix(d, 2).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows(("A", "B")) == ((2L, 4L, 0.5)))
    assert(!rows.contains(("A", "C")) && !rows.contains(("B", "C")))
    assert(rows.size == 1)
  }

  test("stickiness: DAU/MAU per event type on a hand-built month") {
    import spark.implicits._
    import java.sql.Timestamp
    val day = 86400000L
    // type x: day1 {u1,u2}, day2 {u1} -> avg_dau 1.5, mau 2, ratio 0.75
    // type y: day1 {u3}              -> avg_dau 1.0, mau 1, ratio 1.0
    val ev = Seq(
      (1L, 1L, "x", 1L), (2L, 2L, "x", 1L), (3L, 1L, "x", 2L),
      (4L, 1L, "x", 2L), // same user+day twice: distinct() must collapse
      (5L, 3L, "y", 1L)
    ).map { case (id, u, t, d) =>
      (id, u, t, new Timestamp(d * day + 3600000L))
    }.toDF("event_id", "user_id", "event_type", "ts")
    val out = EventOps.stickiness(ev).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out("x") == ((2L, 1.5, 2L, 0.75)))
    assert(out("y") == ((1L, 1.0, 1L, 1.0)))
  }

  test("tombstone delete: cut-vertex split, canonical re-election, " +
      "untouched clusters keep labels; bit-equal to full recompute") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 30L, 31L)
      .toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(nodes, "doc_id", pairs)
    // deleting 2 splits the 1-2-3 chain; deleting 10 re-elects 11 as the
    // {11,12} canonical; 30 is a deleted singleton; {20,21} is untouched
    val deletes = Seq(2L, 10L, 30L).toDF("doc_id")
    val out = Dedup.tombstoneDelete(nodes, deletes, "doc_id", pairs,
        clusters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 3L -> 3L, 11L -> 11L, 12L -> 11L,
      20L -> 20L, 21L -> 20L, 31L -> 31L))
    // parity with a from-scratch recompute on the filtered graph
    val survNodes = nodes.join(deletes, Seq("doc_id"), "left_anti")
    val survPairs = pairs
      .join(deletes.select(col("doc_id").as("doc_a")), Seq("doc_a"),
        "left_anti")
      .join(deletes.select(col("doc_id").as("doc_b")), Seq("doc_b"),
        "left_anti")
    val full = Dedup.duplicateClusters(survNodes, "doc_id", survPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == full)
  }

  test("corpus diff: added/removed/changed/moved/unchanged per source " +
      "with token delta; moved docs attribute to the NEW source; a doc " +
      "both edited and re-sourced counts as changed") {
    import spark.implicits._
    val prev = Seq(
      (1L, "A", "a b c"),   // unchanged
      (2L, "A", "d e"),     // changed (+1 token)
      (3L, "A", "f g h i"), // removed (-4)
      (4L, "B", "j k"),     // unchanged
      (6L, "A", "m n"),     // moved A → B, text identical
      (7L, "A", "p q")      // moved AND edited → changed, attributed to B
    ).toDF("doc_id", "source", "text")
    val cur = Seq(
      (1L, "A", "a b c"),
      (2L, "A", "d e x"),
      (4L, "B", "j k"),
      (5L, "B", "new doc here"), // added (+3)
      (6L, "B", "m n"),
      (7L, "B", "p q r")
    ).toDF("doc_id", "source", "text")
    val out = TextOps.corpusDiff(prev, cur).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // A: doc 2 changed (+1), doc 3 removed (-4)
    assert(out("A") == ((0L, 1L, 1L, 0L, 1L, -3L)))
    // B: doc 5 added (+3), doc 6 moved (0), doc 7 changed (+1), doc 4 same
    assert(out("B") == ((1L, 0L, 1L, 1L, 1L, 4L)))
    assert(out.size == 2)
  }

  test("boilerplate strip: per-source line df, order preserved, " +
      "threshold boundary, all-template doc goes empty") {
    import spark.implicits._
    // source A: "nav" in 3 docs (stripped at minDf=3), "pair" in 2 (kept);
    // source B has its own "nav" in ONE doc only — same string as A's, but
    // df is per-source, so B keeps it. doc 4 is pure template.
    val d = Seq(
      (1L, "A", "nav\nalpha one\npair"),
      (2L, "A", "nav\nbeta two\npair"),
      (3L, "A", "gamma three\nnav"),
      (4L, "A", "nav"),
      (5L, "B", "nav\ndelta four")
    ).toDF("doc_id", "source", "text")
    val out = TextOps.boilerplateStrip(d, 3).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) == ((3, 1, "alpha one\npair")))
    assert(out(2L) == ((3, 1, "beta two\npair")))
    assert(out(3L) == ((2, 1, "gamma three")))
    assert(out(4L) == ((1, 1, ""))) // every line template -> empty text
    assert(out(5L) == ((2, 0, "nav\ndelta four"))) // B's df("nav") = 1
    assert(out.size == 5)
    // partitioning-invariant replay
    val again = TextOps.boilerplateStrip(d.repartition(7), 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3)))
      .toMap
    assert(again == out)
  }
}
