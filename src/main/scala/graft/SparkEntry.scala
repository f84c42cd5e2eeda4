package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.planner._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2 through the
  * cube planner ([[graft.planner.Planner]]); `oracleSql` holds the equivalent
  * DuckDB SQL over the same parquet tables. Sum/Avg measures route through
  * DECIMAL(27,6) on BOTH sides so aggregation order can't perturb low bits
  * (see MeasureDef.exact) — results hash-match bit-for-bit.
  */
object SparkEntry {

  private def cq(q: CubeQuery): (SparkSession, String) => DataFrame =
    (s, dir) => Planner.plan(CubeCatalog.forDir(s, dir), q)

  // q82: the Mondrian XML migration path — a catalog declared in the
  // reference's own schema grammar (src/main/resources/graft/
  // tpch_orders.xml), bound to the testdata star and shared per
  // (session, dir) next to CubeCatalog.forDir's
  private[graft] def xmlCatalogFor(s: SparkSession, dir: String): CubeCatalog =
    CubeCatalog.shared(s, dir, "xml") {
      val xml = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/graft/tpch_orders.xml"),
        "UTF-8").mkString
      graft.sources.SchemaLoader.loadXml(s, xml, Map(
        "orders" -> s.read.parquet(s"$dir/orders.parquet"),
        "customer" -> s.read.parquet(s"$dir/customer.parquet"),
        "nation" -> s.read.parquet(s"$dir/nation.parquet")))
    }

  private def L(dim: String, level: String, hier: String = null) =
    LevelRef(dim, Option(level), Option(hier))
  private def drill(dim: String, level: String = null, hier: String = null) =
    LevelDrill(LevelRef(dim, Option(level), Option(hier)))

  // ---- shared SQL fragments (DuckDB dialect; mirror the planner exactly) ----
  // NOTE the VARCHAR hop: Spark's double→decimal cast goes through the
  // shortest round-trip string (BigDecimal.valueOf), while DuckDB's direct
  // cast uses the exact binary expansion — they can disagree in the last
  // decimal place. Routing DuckDB through VARCHAR makes both sides quantize
  // identically.
  private def dec(e: String) =
    s"CAST(CAST(($e) AS VARCHAR) AS DECIMAL(27,6))"
  private def sumd(e: String, a: String) =
    s"CAST(SUM(${dec(e)}) AS DOUBLE) AS $a"
  private def avgd(e: String, a: String) =
    s"CAST(SUM(${dec(e)}) AS DOUBLE) / COUNT($e) AS $a"
  private val REV = "l_extendedprice * (1.0 - l_discount)"
  private val SUPP_GEO_JOIN =
    """FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey""".stripMargin
  private val CUST_GEO_JOIN =
    """FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey""".stripMargin

  /** Flagship query on sf=0.001 (SURVEY §7.2 minimum slice): two-dimension
    * star drilldown with broadcast dims. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_star_drilldown")(spark, "/root/testdata/sf0.001")

  // =================================================================== cube
  // queries: one per operator of SURVEY.md §2 (A*/B*/C* tags inline)

  val cubeQueries: ListMap[String, CubeQuery] = ListMap(
    // A1+B4: measure selection, hash aggregation (TPC-H Q1 analog)
    "q01_returnflag_agg" -> CubeQuery("sales",
      Seq(drill("ReturnFlag"), drill("LineStatus")),
      Seq("sum_qty", "gross", "revenue", "charge", "cnt", "avg_disc")),
    // A2+A3+B2+B3: multi-dim drilldown over snowflake-pre-joined star
    "q02_star_drilldown" -> CubeQuery("sales",
      Seq(drill("Geography", "Region"), drill("Part", "Brand", "Brands")),
      Seq("revenue", "sum_qty")),
    // A3: three-way crossjoin of drilldowns
    "q03_crossjoin_3d" -> CubeQuery("sales",
      Seq(drill("Geography", "Region"), drill("ReturnFlag"),
        drill("ShipDate", "Year", "Monthly")),
      Seq("revenue", "cnt")),
    // A4: member cut (slicer) + drilldown on another dim
    "q04_cut_member" -> CubeQuery("sales",
      Seq(drill("Geography", "Nation")), Seq("revenue"),
      cuts = Seq(MemberCut(L("Geography", "Region"), 2))),
    // A5: set cut
    "q05_cut_set" -> CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly")), Seq("revenue", "cnt"),
      cuts = Seq(SetCut(L("ReturnFlag", "ReturnFlag"), Seq("A", "R")))),
    // A6: range cut on a time level
    "q06_cut_range" -> CubeQuery("sales",
      Seq(drill("Part", "Brand", "Brands")), Seq("revenue"),
      cuts = Seq(RangeCut(L("ShipDate", "Year", "Monthly"), 1996, 1998))),
    // A8: descendants fusion — cut Region, drill deeper Supplier level
    "q07_descendants" -> CubeQuery("sales",
      Seq(drill("Geography", "Supplier")), Seq("revenue", "cnt"),
      cuts = Seq(MemberCut(L("Geography", "Region"), 3))),
    // A10: HAVING on aggregated measures
    "q08_having" -> CubeQuery("sales",
      Seq(drill("Part", "Brand", "Brands")), Seq("revenue", "cnt"),
      filters = Seq(MeasureFilter("revenue", ">", 1.0e7))),
    // A11+A12: order by measure desc, top-k
    "q09_order_topk" -> CubeQuery("sales",
      Seq(drill("Part", "Brand", "Brands")), Seq("revenue"),
      order = Some(OrderSpec(OrderByMeasure("revenue"), desc = true)),
      limit = Some(10)),
    // A12: offset pagination over hierarchical default order
    "q10_offset_limit" -> CubeQuery("sales",
      Seq(drill("Geography", "Supplier")), Seq("revenue"),
      offset = 3, limit = Some(4)),
    // C1 dense axes: member-domain cross product, null cells kept
    "q11_dense_axes" -> CubeQuery("events",
      Seq(drill("EventDate", "Day", "Daily"), drill("EventType")),
      Seq("value_sum", "event_count"), nonempty = false),
    // C6 sparse: dense output minus all-null-measure rows
    "q12_sparse" -> CubeQuery("events",
      Seq(drill("EventDate", "Day", "Daily"), drill("EventType")),
      Seq("value_sum", "event_count"), nonempty = false, sparse = true),
    // B5: exact distinct count (non-additive)
    "q13_distinct_count" -> CubeQuery("sales",
      Seq(drill("Geography", "Region")), Seq("order_cnt", "cnt")),
    // B6: CASE-WHEN expression measure
    "q14_expr_measure" -> CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly")), Seq("promo_rev", "revenue")),
    // B7: post-aggregation calculated members
    "q15_calc_member" -> CubeQuery("sales",
      Seq(drill("Geography", "Region")), Seq("net", "disc_rate", "gross")),
    // B8: PREVMEMBER lag + growth ratio over the time axis
    "q16_time_lag" -> CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "prev_revenue", "revenue_growth")),
    // B9+A15: named-set TopCount as drilldown
    "q17_namedset_drill" -> CubeQuery("sales",
      Seq(NamedSetDrill("Top Brands")), Seq("revenue")),
    // A7: named-set cut = semi-join filter
    "q18_namedset_cut" -> CubeQuery("sales",
      Seq(drill("Geography", "Region")), Seq("revenue", "cnt"),
      cuts = Seq(NamedSetCut("Top Brands"))),
    // B10: virtual cube drill-across over conformed Geography
    "q19_virtual_cube" -> CubeQuery("commerce",
      Seq(drill("Geography", "Region")),
      Seq("revenue", "total_sales", "rev_per_order")),
    // B10 × B18: drill-across under a role — each member cube enforces
    // ITS OWN grants (emea restricts orders' customer regions to {0, 3};
    // sales is ungranted → full), Mondrian's per-cube schema-reader rule
    "q70_role_virtual" -> CubeQuery("commerce",
      Seq(drill("Geography", "Region")),
      Seq("revenue", "total_sales"), role = Some("emea")),
    // B15: grand total (all-member, no drilldown)
    "q20_grand_total" -> CubeQuery("sales", Nil,
      Seq("revenue", "sum_qty", "cnt", "order_cnt")),
    // C3: parents=true prepends the ancestor chain columns
    "q21_parents" -> CubeQuery("sales",
      Seq(drill("Geography", "Supplier")), Seq("revenue"), parents = true),
    // B14+C4: member properties carried through aggregation
    "q22_properties" -> CubeQuery("sales",
      Seq(drill("Part", "Part", "Brands")), Seq("revenue"),
      properties = Seq(PropertyRef(L("Part", "Part", "Brands"), "Size"),
        PropertyRef(L("Part", "Part", "Brands"), "Retail Price"))),
    // A11: order by member property
    "q23_order_by_property" -> CubeQuery("sales",
      Seq(drill("Part", "Part", "Brands")), Seq("revenue"),
      properties = Seq(PropertyRef(L("Part", "Part", "Brands"), "Retail Price")),
      order = Some(OrderSpec(OrderByLevel(L("Part", "Part", "Brands"),
        "Retail Price"), desc = true)),
      limit = Some(20)),
    // A11: order by member caption
    "q24_order_by_caption" -> CubeQuery("sales",
      Seq(drill("Geography", "Nation")), Seq("cnt"),
      order = Some(OrderSpec(OrderByLevel(L("Geography", "Nation"), "caption")))),
    // A16: slicer tuple composition — several residual cuts ANDed
    "q25_slicer_tuple" -> CubeQuery("sales",
      Seq(drill("Part", "Brand", "Brands")), Seq("revenue"),
      cuts = Seq(MemberCut(L("Geography", "Region"), 1),
        MemberCut(L("ReturnFlag", "ReturnFlag"), "R"),
        RangeCut(L("ShipDate", "Year", "Monthly"), 1996, 1997))),
    // A14: DISTINCT axis wrap (no-op on grouped output)
    "q26_distinct" -> CubeQuery("sales",
      Seq(drill("ReturnFlag")), Seq("cnt"), distinct = true),
    // second cube over its own star (webshop analog)
    "q27_orders_cube" -> CubeQuery("orders",
      Seq(drill("Segment"), drill("OrderDate", "Year", "Monthly")),
      Seq("total_sales", "order_count", "customer_count", "avg_order",
        "max_order")),
    // B2 non-broadcast star join: fact-sized "Order" dimension shuffle-joins
    "q28_big_dim_join" -> CubeQuery("sales",
      Seq(drill("Order", "Priority", "Priority")), Seq("revenue", "cnt")),
    // Min/Max aggregators
    "q29_minmax" -> CubeQuery("sales",
      Seq(drill("ReturnFlag")), Seq("min_price", "max_price", "avg_disc")),
    // events cube daily rollup incl. per-group distinct users
    "q30_events_daily" -> CubeQuery("events",
      Seq(drill("EventDate", "Day", "Daily"), drill("EventType")),
      Seq("value_sum", "event_count", "user_count")),
    // B13: name/ordinal expression split — members sorted by a separate
    // ordinal expression, not their caption
    "q32_month_ordinal" -> CubeQuery("sales",
      Seq(drill("ShipDate", "MonthName", "MonthNames")), Seq("revenue")),
    // B16: second (Weekly) hierarchy over the same time dimension
    "q33_weekly_hierarchy" -> CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Weekly"),
        drill("ShipDate", "Week", "Weekly")),
      Seq("revenue", "cnt")),
    // exact median aggregator (non-additive like distinct-count)
    "q36_median" -> CubeQuery("orders",
      Seq(drill("Segment")), Seq("median_order", "order_count")),
    // B8 extension: PARALLELPERIOD lag (12 months = same month prior year)
    // + year-over-year growth calc member
    "q42_parallel_period" -> CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "yoy_prev_revenue", "yoy_growth")),
    // B8 extension: Ytd()/PeriodsToDate running measure, resetting per Year
    "q48_ytd" -> CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "ytd_revenue")),
    // B8 domain-exact lag under a gap-creating cut: the axis keeps months
    // {1,2,4} but PrevMember at Apr references the cut-away Mar, at Jan the
    // previous year's Dec, and Ytd(Apr) still includes Mar — the cut
    // selects axis members, the windows walk the hierarchy (ref
    // foodmart.xml:351-366 + query_helper.rb:234-246 axis-fold)
    "q54_lag_gap_cut" -> CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "prev_revenue", "revenue_growth", "ytd_revenue"),
      cuts = Seq(SetCut(L("ShipDate", "Month", "Monthly"), Seq(1, 2, 4)))),
    // B8 + C1: DENSE axes with a lag + ratio calc member on a naturally
    // gappy grain (user × day — users are idle most days): filler cells
    // carry the domain-lag value and the null-safe ratio, Mondrian's
    // empty-cell arithmetic on a densified axis
    "q55_dense_lag" -> CubeQuery("events",
      Seq(drill("User"), drill("EventDate", "Day", "Daily")),
      Seq("value_sum", "prev_day_value", "day_value_growth"),
      nonempty = false),
    // B8-ext: trailing 3-month moving average under a gap-creating cut —
    // the window spans CALENDAR members (Apr's average includes the
    // cut-away Feb and Mar via the relaxed domain), Mondrian's
    // Avg(LastPeriods(3), Revenue)
    "q60_moving_avg" -> CubeQuery("sales",
      Seq(drill("ShipDate", "Year", "Monthly"),
        drill("ShipDate", "Month", "Monthly")),
      Seq("revenue", "revenue_3mo_avg"),
      cuts = Seq(SetCut(L("ShipDate", "Month", "Monthly"), Seq(1, 4, 9)))),
    // B-ext: ALL-member total on DENSE axes — filler days (users are idle
    // most days) still carry the user's lifetime total via the
    // post-densify backfill window; Mondrian evaluates (Value, Date.All)
    // on empty cells the same way
    "q59_dense_share" -> CubeQuery("events",
      Seq(drill("User"), drill("EventDate", "Day", "Daily")),
      Seq("value_sum", "value_user_total"),
      nonempty = false),
    // B18 partial rollup policy: the 'emea' role grants customer regions
    // {0, 3}; with Geography undrilled, every cell is a rollup over
    // VISIBLE members only — the grant compiles to a fact filter that
    // pushes into the scan like a cut
    "q61_role_partial" -> CubeQuery("orders",
      Seq(drill("Priority")), Seq("total_sales", "order_count"),
      role = Some("emea")),
    // B18 × B9: TopCount evaluated against the ROLE's view — the top-3
    // nations by sales among VISIBLE members only (an invisible member
    // never consumes a slot), Mondrian's schema-reader set semantics
    "q67_role_topcount" -> CubeQuery("orders",
      Seq(drill("Geography", "Nation")), Seq("total_sales"),
      cuts = Seq(TopKCut(L("Geography", "Nation"), 3, "total_sales")),
      role = Some("emea")),
    // B18 full rollup policy: same grant, 'full' — drilled AT the grant
    // level only visible regions appear, each with its complete value
    // (membership is a broadcast semi-join, values never recomputed)
    "q62_role_full" -> CubeQuery("orders",
      Seq(drill("Geography", "Region")),
      Seq("total_sales", "customer_count"),
      role = Some("emea_full")))

  // ============================================== LLM-pipeline operators
  // (dedup / similarity / text analysis / multimodal / sessionization —
  // north-star extensions, first-class alongside the cube operators)

  private def tbl(name: String)(f: DataFrame => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => f(CubeCatalog.forDir(s, dir).table(name))

  /** The flat-PQ index (16 subspaces × 16 centroids, 2 k-means rounds;
    * codebooks + encoded corpus) that s12, s15 and s16 serve from — a
    * registration-time artifact built once per (session, dataset), so
    * queries pay only the lookup table + compressed scan. */
  private def pqIndexFor(s: SparkSession, dir: String)
      : ops.Similarity.PqIndex =
    ops.IndexCache.memo(s, s"pqidx:$dir:16:16:2") {
      ops.Similarity.pqIndex(CubeCatalog.forDir(s, dir).table("embeddings"))
    }

  /** The corpus's near-dup PAIR LIST (3-shingle MinHash, 32×4 banded LSH,
    * Jaccard ≥ 0.5) — the once-per-ingest dedup artifact every downstream
    * consumer reads. Pair detection runs once per (session, dataset) and is
    * memoized like the IVF index and the BPE merge table; the pair frame is
    * pair-count-sized (≪ corpus), so holding it checkpointed is the
    * steady-state a dedup service sustains. d02 reads it verbatim; d07
    * clusters it; d09 rolls it up by source. */
  private def lshPairs(s: SparkSession, dir: String): DataFrame =
    ops.IndexCache.memo(s, s"lshpairs:$dir:3:32:4:0.5") {
      ops.Dedup.minhashLshPairs(
        CubeCatalog.forDir(s, dir).table("documents"), 3, 32, 4, 0.5)
        .localCheckpoint()
    }

  /** Cluster labels over [[lshPairs]] — the second per-ingest dedup
    * artifact (pointer-jumping connected components); d07 reads it, d13
    * keeps one representative per label. */
  private def dupClusters(s: SparkSession, dir: String): DataFrame = {
    // resolve the inner artifact BEFORE entering the outer memo: even though
    // IndexCache.memo tolerates reentrancy (get-then-putIfAbsent, not
    // computeIfAbsent), composing artifacts outside the build closure keeps
    // each cache entry's build independent
    val pairs = lshPairs(s, dir).select("doc_a", "doc_b")
    ops.IndexCache.memo(s, s"lshclusters:$dir:3:32:4:0.5") {
      ops.Dedup.duplicateClusters(
        CubeCatalog.forDir(s, dir).table("documents"), "doc_id", pairs)
        .localCheckpoint()
    }
  }

  val opsQueries: ListMap[String, (SparkSession, String) => DataFrame] =
    ListMap(
      "t01_token_stats" -> tbl("documents")(ops.TextOps.tokenStats),
      "t02_quality" -> tbl("documents")(ops.TextOps.qualityScore),
      "t03_langid" -> tbl("documents")(ops.TextOps.languageId),
      "t04_fingerprint" -> tbl("documents")(ops.TextOps.fingerprint),
      "d01_exact_dedup" -> tbl("documents")(ops.TextOps.exactDedupStats),
      // LSH candidates verified by exact Jaccard >= 0.5: the corpus has no
      // pair in (0.15, 0.9), so banded-LSH recall at the threshold is exactly
      // 1 and the output equals the all-pairs oracle (est_jaccard, which no
      // SQL engine can reproduce, stays internal).
      "d02_minhash_lsh" -> ((s: SparkSession, dir: String) =>
        lshPairs(s, dir).select("doc_a", "doc_b", "jaccard")),
      // dedup provenance: near-dup pair counts per unordered source pair
      "d09_dup_sources" -> ((s: SparkSession, dir: String) =>
        ops.Dedup.dupSourceMatrix(
          CubeCatalog.forDir(s, dir).table("documents"), lshPairs(s, dir))),
      // hamming <= 3 on a 64-bit fingerprint: the standard near-dup cutoff,
      // and the regime where 4x16-bit chunk blocking is pigeonhole-COMPLETE
      // (no missed pairs) rather than approximate
      // portable-fingerprint variant so the gate carries a FULL oracle
      // (the xxhash64 native-expression path stays spec-covered in OpsSpec)
      "d03_simhash" -> tbl("documents")(
        ops.Dedup.simhashPortablePairs(_, 3)),
      // connected components over the near-dup pair graph: transitive
      // closure of a~b into clusters, labeled by the min doc id
      "d07_dup_clusters" -> ((s: SparkSession, dir: String) =>
        dupClusters(s, dir).orderBy("doc_id")),
      // soft dedup: d07's clusters as 1/|cluster| sampling weights —
      // duplicates stay in the mix at one cluster's worth of mass
      "t40_soft_dedup" -> ((s: SparkSession, dir: String) =>
        ops.Dedup.softDedupWeights(
          CubeCatalog.forDir(s, dir).table("documents"),
          dupClusters(s, dir))),
      "d04_ngram_jaccard" -> tbl("documents")(
        ops.Dedup.ngramJaccardPairs(_, 3, "lang", 0.2)),
      // d24: d04's operator with the auto-sized df cap (max(256, 4√n)) —
      // the production form, whose index side is downsampled wherever a
      // prefix shingle is hotter than the cap. This corpus' prefix dfs sit
      // far below it, so the hot-tail check finds nothing and d04's exact
      // join runs: same rows, one docs count and one check more
      "d24_ngram_jaccard_auto" -> tbl("documents")(
        ops.Dedup.ngramJaccardPairs(_, 3, "lang", 0.2,
          ops.Dedup.AutoDfCap)),
      // asymmetric containment |A∩B|/|A| — the quote-expansion duplicates
      // symmetric Jaccard misses (prefix⋈inverted-index, PPJoin-pruned)
      "d19_containment" -> tbl("documents")(
        ops.Dedup.containmentPairs(_, 3, "lang", 0.6)),
      // d23: d19's operator with the auto-sized df cap (max(256, 4√n)) —
      // the production form, whose container index is downsampled wherever
      // a shingle is hotter than the cap. This corpus' max shingle df (5)
      // sits far below it, so the hot-tail check finds nothing and d19's
      // exact join runs: same rows, one docs count and one check more
      "d23_containment_auto" -> tbl("documents")(
        ops.Dedup.containmentPairs(_, 3, "lang", 0.6,
          ops.Dedup.AutoDfCap)),
      // the dedup-impact ("data diet") report: per source, how many docs
      // survive exact and fuzzy dedup, and how many tokens span-trimming
      // keeps — the accounting every corpus build publishes. Pure
      // composition of d06/d13/t21 over the memoized artifacts.
      "t26_dedup_report" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions._
        val d = CubeCatalog.forDir(s, dir).table("documents")
        val exact = ops.TextOps.dedupKeepFirst(d)
          .select(col("doc_id"), lit(1L).as("ex"))
        val fuzzy = ops.Dedup.keepClusterRepresentative(
            d, "doc_id", dupClusters(s, dir))
          .select(col("doc_id"), lit(1L).as("fz"))
        val trim = ops.Dedup.trimRepeatedSpans(d, 10)
          .select(col("doc_id"), col("n_tokens").cast("long").as("nt"),
            col("n_removed").cast("long").as("nr"))
        d.select(col("doc_id"), col("source"))
          .join(exact, Seq("doc_id"), "left")
          .join(fuzzy, Seq("doc_id"), "left")
          .join(trim, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("docs"),
            sum(coalesce(col("ex"), lit(0L))).as("docs_after_exact"),
            sum(coalesce(col("fz"), lit(0L))).as("docs_after_fuzzy"),
            sum(col("nt")).as("tokens"),
            sum(col("nt") - col("nr")).as("tokens_after_trim"))
          .orderBy("source")
      }),
      // nightly delta ingestion: src3 arrives as the delta, checked against
      // the stored LSH index of the rest (and itself) without re-scanning
      // indexed text — pairs equal batch LSH over the union (spec-proven;
      // oracle = all delta-involving pairs, recall-1.0 as d02)
      "d14_delta_ingest" -> ((s: SparkSession, dir: String) => {
        val d = CubeCatalog.forDir(s, dir).table("documents")
        val idx = ops.IndexCache.memo(s, s"lshindex:$dir:3:32:4:!src3") {
          val i = ops.Dedup.lshIndex(d.where(d("source") =!= "src3"), 3, 32, 4)
          ops.Dedup.LshIndex(
            i.postings.localCheckpoint(), i.signatures.localCheckpoint())
        }
        ops.Dedup.lshDeltaPairs(idx, d.where(d("source") === "src3"),
            3, 32, 4, 0.5)
          ._1.select("doc_a", "doc_b", "jaccard")
      }),
      // right-to-be-forgotten: a deterministic tombstone batch (every
      // 37th doc) deletes against the STANDING pair/cluster artifacts —
      // only tombstone-touched components re-cluster; output bit-equals a
      // from-scratch recompute on the surviving corpus (the oracle)
      "d22_tombstone_delete" -> ((s: SparkSession, dir: String) => {
        val d = CubeCatalog.forDir(s, dir).table("documents")
        ops.Dedup.tombstoneDelete(d,
          d.where(d("doc_id") % 37 === 0).select("doc_id"), "doc_id",
          lshPairs(s, dir).select("doc_a", "doc_b"), dupClusters(s, dir))
      }),
      // the fuzzy-dedup survivor corpus: one representative (min doc_id)
      // per near-dup cluster — pair list → connected components → keep-one
      "d13_keep_canonical" -> ((s: SparkSession, dir: String) => {
        val d = CubeCatalog.forDir(s, dir).table("documents")
        ops.Dedup.keepClusterRepresentative(d, "doc_id", dupClusters(s, dir))
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      }),
      // d05's gate row must assert a FOUND pair, not an empty-vs-empty
      // hash match (no natural pair clears 0.8 at gate scale): plant one
      // exact clone of the min-vec_id embedding under a disjoint id —
      // the oracle restates the same plant, so the row is non-vacuous
      "d05_embedding_neardup" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions._
        val e = CubeCatalog.forDir(s, dir).table("embeddings")
        val seed = e.orderBy("vec_id").limit(1)
          .withColumn("vec_id", col("vec_id") + lit(900000000L))
        ops.Dedup.embeddingNearDupPairs(e.unionByName(seed), "label", 0.8)
      }),
      "s01_knn_brute" -> tbl("embeddings")(
        ops.Similarity.knnBrute(_, Seq(0L, 1L, 2L, 3L, 4L), 5)),
      // text-side similarity search: top-5 docs by shingle Jaccard per
      // query doc (broadcast query postings, inverted-index join)
      "s07_similar_docs" -> tbl("documents")(
        ops.Dedup.similarDocs(_, Seq(0L, 1L, 2L, 3L, 4L), 5)),
      // MMR diversified re-rank: greedy λ·rel − (1−λ)·max-sim-to-picked
      // over a 20-candidate shortlist, k=5 bounded rounds
      "s10_mmr_rerank" -> tbl("embeddings")(
        ops.Similarity.mmrRerank(_, Seq(0L, 1L, 2L, 3L, 4L))),
      // filtered vector search: top-5 OUTSIDE the query's own label
      // (exclude-own-cluster retrieval; predicate pre-filters the scan)
      "s08_knn_filtered" -> tbl("embeddings")(
        ops.Similarity.knnFiltered(_, Seq(0L, 1L, 2L, 3L, 4L), 5,
          org.apache.spark.sql.functions.col("label_q") =!=
            org.apache.spark.sql.functions.col("label_n"))),
      "s02_knn_lsh" -> tbl("embeddings")(
        ops.Similarity.knnLsh(_, Seq(0L, 1L, 2L, 3L, 4L), 5, bits = 8)),
      // recall@5 of the single-table LSH search against exhaustive truth —
      // the index-quality acceptance gate, distributed
      "s11_knn_recall" -> tbl("embeddings") { e =>
        ops.Similarity.knnRecall(
          ops.Similarity.knnLsh(e, Seq(0L, 1L, 2L, 3L, 4L), 5, bits = 8),
          ops.Similarity.knnBrute(e, Seq(0L, 1L, 2L, 3L, 4L), 5))
      },
      // index build (k-means + assignment + residual bounds) is a
      // registration-time artifact — memoized per (session, dir), probes
      // pay only the probe cost (IndexCache scaladoc)
      "s04_knn_ivf" -> ((s: SparkSession, dir: String) => {
        val idx = ops.IndexCache.memo(s, s"ivf:$dir:8:3") {
          ops.Similarity.ivfIndex(
            CubeCatalog.forDir(s, dir).table("embeddings"), nlist = 8,
            iters = 3)
        }
        ops.Similarity.knnIvfProbe(idx, Seq(0L, 1L, 2L, 3L, 4L), 5,
          nprobe = 3)
      }),
      // int8 scalar quantization + integer-dot shortlist + exact re-rank
      "s05_knn_quantized" -> tbl("embeddings")(
        ops.Similarity.quantizedKnn(_, Seq(0L, 1L, 2L, 3L, 4L), 5)),
      // random-projection (JL) shortlist in 16 dims + exact re-rank
      "s09_knn_projected" -> tbl("embeddings")(
        ops.Similarity.projectedKnn(_, Seq(0L, 1L, 2L, 3L, 4L), 5)),
      // product quantization: 16 subspace codebooks (k-means), ADC lookup-
      // table scoring over the coded corpus + exact re-rank
      "s12_knn_pq" -> ((s: SparkSession, dir: String) =>
        ops.Similarity.pqKnnWith(pqIndexFor(s, dir), Seq(0L, 1L, 2L, 3L, 4L),
          5)),
      // θ-bound EXACT PQ (the s12 decay answer): the index stores, beside
      // each vector's 8-byte codes, its quantization residual norm; after
      // the ADC shortlist seeds a provisional k-th score θ, every vector
      // whose adc + ‖q‖·‖v−v̂‖ Cauchy-Schwarz bound reaches θ is
      // re-ranked exactly — nothing else can enter the top-k, so the
      // served result IS the brute-force answer and the oracle is the
      // plain SQL kNN (the strongest contract an index path can carry).
      // Seed shortlist 8 < k·2 on purpose: the bound, not the width, buys
      // the recall. The index is s12's (savePqIndex is its persisted
      // layout).
      "s15_knn_pq_exact" -> ((s: SparkSession, dir: String) =>
        ops.Similarity.pqKnnBoundWith(pqIndexFor(s, dir),
          Seq(0L, 1L, 2L, 3L, 4L), 5, 8)),
      // EXACT range search over the PQ index: every neighbor at cosine ≥
      // 0.25 — θ is the caller's threshold, so the compressed scan keeps
      // exactly the bound-qualified vectors and the re-rank is provably
      // complete; the oracle is the plain SQL radius filter
      "s16_knn_range" -> ((s: SparkSession, dir: String) =>
        ops.Similarity.pqRangeSearch(pqIndexFor(s, dir),
          Seq(0L, 1L, 2L, 3L, 4L), 0.25)),
      // IVF-PQ (Jégou et al. §IV, IVFADC — the billion-scale layout):
      // coarse quantizer picks nprobe cells, PQ codes of RESIDUALS score
      // by ADC within them, exact re-rank on the shortlist. Index built
      // once per catalog (coarse centroids + residual codebooks + coded
      // corpus), replacing s12's full-corpus ADC scan with probed cells
      "s14_knn_ivfpq" -> ((s: SparkSession, dir: String) => {
        val emb = CubeCatalog.forDir(s, dir).table("embeddings")
        val idx = ops.IndexCache.memo(s, s"ivfpq:$dir:8:16:16:2:2") {
          ops.Similarity.ivfPqIndex(emb, nlist = 8, m = 16, ksub = 16,
            ivfIters = 2, pqIters = 2)
        }
        ops.Similarity.knnIvfPqProbe(idx, Seq(0L, 1L, 2L, 3L, 4L), 5,
          nprobe = 3, shortlist = 20)
      }),
      // hybrid lexical+vector retrieval fused by reciprocal rank (RRF)
      "s13_hybrid_rrf" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        ops.Similarity.hybridRrf(c.table("documents"),
          c.table("embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 5)
      }),
      // deterministic k-means topic assignment (the curation clustering
      // step); centroids memoized like the IVF index they seed
      "s06_kmeans_assign" -> ((s: SparkSession, dir: String) => {
        val emb = CubeCatalog.forDir(s, dir).table("embeddings")
        val cs = ops.IndexCache.memo(s, s"kmeans:$dir:8:3") {
          ops.Similarity.kmeansCentroids(emb, 8, 3)
        }
        ops.Similarity.kmeansAssignWith(emb, cs)
      }),
      // SemDeDup: k-means clusters (the s06 memoized centroids) block the
      // within-cluster cosine pairs; greedy smaller-id-survives
      "d15_semantic_dedup" -> ((s: SparkSession, dir: String) => {
        val emb = CubeCatalog.forDir(s, dir).table("embeddings")
        val cs = ops.IndexCache.memo(s, s"kmeans:$dir:8:3") {
          ops.Similarity.kmeansCentroids(emb, 8, 3)
        }
        ops.Dedup.semanticDedup(emb, cs, 0.35)
      }),
      // paper-exact SemDeDup greedy keep-first (d15's rule deletes a
      // superset): bounded fixpoint over the within-cluster pair list,
      // rounds unrolled so the oracle replays them CTE for CTE
      "d16_semdedup_greedy" -> ((s: SparkSession, dir: String) => {
        val emb = CubeCatalog.forDir(s, dir).table("embeddings")
        val cs = ops.IndexCache.memo(s, s"kmeans:$dir:8:3") {
          ops.Similarity.kmeansCentroids(emb, 8, 3)
        }
        ops.Dedup.semanticDedupGreedy(emb, cs, 0.35)
      }),
      // per-doc OOV rate against the corpus' own top-16 token vocabulary
      "t27_vocab_coverage" -> tbl("documents")(
        ops.TextOps.vocabCoverage(_, 16)),
      // exactly-2-per-(lang, source) eval sample in content-hash order
      // (GroupedTopK bounded heaps, never a per-stratum sort)
      "t30_stratified_sample" -> tbl("documents")(
        ops.TextOps.stratifiedSample(_, 2)),
      // α = 0.5 temperature-weighted mixture plan (weights ∝ share^α, the
      // multilingual upsampling recipe) + the realized content-hash draw
      "t32_temperature_mix" -> tbl("documents")(
        ops.TextOps.temperatureMix(_, 0.5, 300L)),
      // Gopher/MassiveText intra-doc repetition filters: char coverage of
      // the top bigram and of duplicated 5-grams (explode → hash-agg,
      // skew-free; the paper's unspecified overlap handling pinned to a
      // documented deterministic variant)
      "t33_repetition_signals" -> tbl("documents")(
        ops.TextOps.repetitionSignals(_)),
      // cluster-level hash split: near-dup docs land in the SAME split
      // (no train→test leakage through paraphrase pairs); rides the
      // memoized d07 cluster artifact, then pure map
      "d18_leakage_split" -> ((s: SparkSession, dir: String) =>
        ops.Dedup.leakageFreeSplit(dupClusters(s, dir))),
      "e01_sessionize" -> tbl("events")(ops.Sessionize.sessions(_, 30)),
      // first/last-touch conversion attribution: preceding click/view per
      // purchase, one ignore-nulls window pass per user partition
      "e13_attribution" -> tbl("events")(ops.EventOps.attribution(_)),
      // U-shaped multi-touch credit per journey segment (40/20/40; the
      // first/last-touch models are e13) — windows per user, no self-join
      "e15_position_attribution" -> tbl("events")(
        ops.EventOps.positionAttribution(_)),
      // exponential-recency credit, 24 h half-life (sized to this
      // corpus's ≤ 21-day touch→conversion gaps; see the decimal floor
      // note in the scaladoc)
      "e16_time_decay_attribution" -> tbl("events")(
        ops.EventOps.timeDecayAttribution(_, 1440)),
      // the in-session form: touches attribute only within the
      // conversion's own 30-minute session (e01's boundaries)
      "e14_session_attribution" -> tbl("events")(
        ops.EventOps.attributionInSession(_)),
      // top-20 whole-session event-type journeys (30-min sessions, first
      // 8 steps) — the ordered complement of e12's one-hop transitions
      "e17_top_paths" -> tbl("events")(
        ops.EventOps.topPaths(_, 30, 8, 20)),
      // order-sensitive co-occurrence: sessions where type A strictly
      // precedes type B (first(A) < last(B)) — PrefixSpan's length-2 core
      "e18_precedence_pairs" -> tbl("events")(
        ops.EventOps.precedencePairs(_, 30, 20)),
      // Kaplan-Meier survival of signup→purchase with right-censoring at
      // the corpus horizon; all windows over the day grid
      "e19_kaplan_meier" -> tbl("events")(
        ops.EventOps.kaplanMeier(_)),
      // daily session-quality rollup composed on the sessionize plan
      "e09_session_stats" -> tbl("events")(
        ops.Sessionize.sessionStats(_, 30)),
      // features flattened to scalar columns: the driver's compare sorts the
      // frame in pandas, which cannot lexsort an array column
      "m01_multimodal_decode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachFakeMedia(
            CubeCatalog.forDir(s, dir).table("documents")))
          .toDF()
          .selectExpr("doc_id", "format", "width", "height", "n_frames",
            "n_bytes", "features[0] AS f_mean", "features[1] AS f_std",
            "features[2] AS f_max", "features[3] AS f_n")
          .orderBy("doc_id")),
      // the gate wrapper owns the total order: frameSample itself is
      // unsorted (a global sort over the exploded corpus is presentation
      // cost the operator must not impose at scale)
      "m02_frame_sample" -> tbl("documents")(d =>
        ops.Multimodal.frameSample(ops.Multimodal.attachFakeMedia(d), 2)
          .orderBy("doc_id", "frame_idx")),
      // decode-batch packing: ~1 MB of decoded output per batch, per
      // modality (the GPU decode-pool scheduling plan)
      "m04_decode_batches" -> tbl("documents")(d =>
        ops.Multimodal.decodeBatchPlan(
          ops.Multimodal.attachFakeMedia(d), 1000000L)),
      "m03_resize_plan" -> tbl("documents")(d =>
        ops.Multimodal.resizePlan(ops.Multimodal.attachFakeMedia(d), 256)),
      // aspect-ratio bucketing + in-bucket batch packing (multi-aspect
      // training assembly): square / 4:3 / 2:1 / 3:4 / 1:2 targets,
      // batches of 8 per bucket in doc_id order
      "m06_ar_buckets" -> tbl("documents")(d =>
        ops.Multimodal.arBucketPlan(ops.Multimodal.attachFakeMedia(d),
          Seq((64, 64), (128, 96), (128, 64), (96, 128), (64, 128)), 8)),
      // media near-dup: the synthetic payloads are random 64-bit-apart, so
      // the gate PLANTS the real-world cases — an exact re-upload
      // (identical payload, Hamming 0) and a re-encode (one low bit
      // flipped, Hamming 1) — and the operator must find exactly those
      "m05_phash_neardup" -> tbl("documents") { d =>
        import org.apache.spark.sql.functions._
        val base = ops.Multimodal.attachFakeMedia(d)
          .select("doc_id", "media")
        val h = hex(col("media"))
        val reup = base.where(col("doc_id") % 97 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val reenc = base.where(col("doc_id") % 101 === 0)
          .withColumn("doc_id", col("doc_id") + 2000000L)
          .withColumn("media", unhex(concat(substring(h, 1, 15),
            translate(substring(h, 16, 1),
              "0123456789ABCDEF", "1032547698BADCFE"),
            substring(h, 17, 16))))
        ops.Multimodal.phashNearDupPairs(
          base.unionByName(reup).unionByName(reenc), 3)
      },
      // m07: REAL video decode gated against GROUND TRUTH — the payloads
      // are genuine YUV4MPEG2 streams (header + FRAME sections + planes)
      // whose luma values derive from md5 arithmetic the oracle recomputes
      // independently; a misparsed header token, plane offset, or frame
      // count fails the hash compare. 1–10 frames per clip.
      "m07_video_decode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticVideo(
            CubeCatalog.forDir(s, dir).table("documents"), 1, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width", "height", "n_frames",
            "n_bytes", "features[0] AS mean_luma",
            "features[1] AS activity", "features[2] AS duration_sec",
            "features[3] AS fps")
          .orderBy("doc_id")),
      // m08: video near-dup over DECODED frames — 60–69-frame clips carry
      // 59–64 fingerprint delta bits (md5-uniform, so unrelated clips
      // never band together); the gate PLANTS a re-upload (identical
      // payload) and a brightness-graded re-encode (+8 on every luma
      // byte — the fingerprint's shift invariance), both Hamming 0
      "m08_video_neardup" -> tbl("documents") { d =>
        import org.apache.spark.sql.functions._
        val ids = d.select("doc_id")
        val base = ops.Multimodal.attachSyntheticVideo(ids, 60, 10)
        val reup = base.where(col("doc_id") % 97 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val graded = ops.Multimodal.attachSyntheticVideo(
            ids.where(col("doc_id") % 101 === 0), 60, 10, shift = 8)
          .withColumn("doc_id", col("doc_id") + 2000000L)
        ops.Multimodal.videoNearDupPairs(
          base.unionByName(reup).unionByName(graded), 2)
      },
      // m11: the INCREMENTAL ingest shape, oracle-gated — even doc_ids are
      // the indexed corpus (fingerprints + banding keys built once),
      // odd doc_ids are tonight's delta, plus planted cross-night clones:
      // re-uploads (+1M, content of an even doc, %97) and brightness
      // grades (+2M, %101). The delta join must report EXACTLY the
      // union's pairs that touch the delta — index-only pairs (evens
      // among themselves) were reported when the index was built and
      // must NOT reappear
      "m11_video_delta_neardup" -> tbl("documents") { d =>
        import org.apache.spark.sql.functions._
        val ids = d.select("doc_id")
        val evens = ids.where(col("doc_id") % 2 === 0)
        val idx = ops.Multimodal.mediaFpIndex(
          ops.Multimodal.videoFingerprint(
            ops.Multimodal.attachSyntheticVideo(evens, 60, 10)), 2)
        val reup = ops.Multimodal.attachSyntheticVideo(
            evens.where(col("doc_id") % 97 === 0), 60, 10)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val graded = ops.Multimodal.attachSyntheticVideo(
            evens.where(col("doc_id") % 101 === 0), 60, 10, shift = 8)
          .withColumn("doc_id", col("doc_id") + 2000000L)
        val delta = ops.Multimodal
          .attachSyntheticVideo(ids.where(col("doc_id") % 2 === 1), 60, 10)
          .unionByName(reup).unionByName(graded)
        ops.Multimodal.mediaDeltaPairs(idx,
          ops.Multimodal.videoFingerprint(delta))._1
      },
      // m09: REAL audio decode gated against GROUND TRUTH — genuine
      // RIFF/WAVE containers (8-bit mono PCM) whose samples derive from
      // md5 arithmetic; RMS/peak/zero-crossings/duration come out of the
      // javax.sound.sampled parse and must match the oracle's independent
      // recomputation (sqrt is correctly-rounded IEEE in both engines)
      "m09_audio_decode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticAudio(
            CubeCatalog.forDir(s, dir).table("documents"), 1, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m12: G.711 μ-law decode gated against GROUND TRUTH — format-7
      // RIFF/WAVE telephony clips whose code bytes derive from md5
      // arithmetic; the oracle re-expands every code through the integer
      // μ-law formula (complement, 4-bit mantissa + 132 bias, 3-bit
      // exponent, sign off the top bit) and recomputes RMS/peak/
      // zero-crossings/duration from the DECODED samples — a wrong table
      // entry, complement, or sign in the engine's decode fails the hash
      "m12_ulaw_decode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticUlaw(
            CubeCatalog.forDir(s, dir).table("documents"), 1, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m14: canonicalize-audio transform gated end-to-end — transcode
      // the μ-law corpus to 16-bit PCM WAV, then decode THE TRANSCODED
      // BYTES; G.711 expands to exact int16 so the features must equal
      // the oracle's ground-truth recomputation with only the container
      // geometry (format, byte count) changed
      "m14_transcode_pcm16" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.transcodePcm16(
            ops.Multimodal.attachSyntheticUlaw(
              CubeCatalog.forDir(s, dir).table("documents"), 1, 10)))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m16: the A-law half of G.711 gated against GROUND TRUTH like
      // m12 — the oracle re-expands every code byte through the integer
      // A-law formula (XOR 0x55 toggle, 4-bit mantissa, 3-bit segment
      // with the +0x100 bias from segment 1, sign off the top bit)
      "m16_alaw_decode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticAlaw(
            CubeCatalog.forDir(s, dir).table("documents"), 1, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m15: sample-rate upconversion gated end-to-end — 2x linear
      // upsample of the μ-law corpus, then decode THE RESAMPLED BYTES;
      // the interpolation is exact integer floor arithmetic, so the
      // oracle recomputes every output sample (originals at even
      // positions, floor-midpoints at odd) from the G.711 ground truth
      "m15_resample2x" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.resamplePcm(
            ops.Multimodal.attachSyntheticUlaw(
              CubeCatalog.forDir(s, dir).table("documents"), 1, 10), 2))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m13: IMA-ADPCM — a genuinely COMPRESSED (4-bit DVI) codec —
      // decode gated against GROUND TRUTH: the oracle restates the
      // public step tables and unrolls the sequential decode recurrence
      // one CTE per nibble, recomputing every decoded sample (and the
      // features over them) independently of the engine's decoder
      "m13_adpcm_decode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticAdpcm(
            CubeCatalog.forDir(s, dir).table("documents"), 1, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m17: STEREO IMA-ADPCM — the spec's 4-byte-word channel
      // interleave gated against ground truth: the oracle replays both
      // channels' recurrences AND the mean mixdown, so a wrong header
      // stride or word order fails the hash
      "m17_adpcm_stereo" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticAdpcmStereo(
            CubeCatalog.forDir(s, dir).table("documents"), 1, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m20: FLAC — the first ENTROPY-CODED codec in the gate: the
      // engine parses the real bitstream (sync, UTF-8 frame numbers,
      // unary/zigzag Rice residuals, CRC-8/16) while the oracle
      // reconstructs every sample as warmup + running residual sum
      // from the fixture's md5 keys
      "m20_flac_decode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticFlac(
            CubeCatalog.forDir(s, dir).table("documents"), 2, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m21: FLAC through the canonicalize transform — transcode the
      // entropy-coded corpus to 16-bit PCM WAV, then decode THE
      // TRANSCODED BYTES; losslessness is now oracle-gated end-to-end,
      // not just spec-pinned
      "m21_flac_transcode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.transcodePcm16(
            ops.Multimodal.attachSyntheticFlac(
              CubeCatalog.forDir(s, dir).table("documents"), 2, 10)))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m22: 24-BIT FLAC — the archival depth: even docs mono FIXED
      // order-1 with warmup magnitudes past the 16-bit range, odd docs
      // left/side stereo with a CONSTANT 25-bit side channel; the
      // oracle reconstructs every sample (and the stereo mixdown
      // L − side/2) in closed form from the md5 keys
      "m22_flac24_decode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticFlac24(
            CubeCatalog.forDir(s, dir).table("documents"), 2, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m23: 32-BIT FLAC — the format ceiling: even docs mono FIXED
      // order-1 with ×256-scaled samples past ±2·10⁹ (beyond any 24-bit
      // path, yet dyadically exact for the oracle), odd docs left/side
      // stereo whose CONSTANT side channel exceeds 2³¹ — the 33-bit
      // value only the decoder's Long buffers hold; the oracle
      // reconstructs every sample and the mixdown in closed form
      "m23_flac32_decode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticFlac32(
            CubeCatalog.forDir(s, dir).table("documents"), 2, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m19: STEREO MS ADPCM — channel-interleaved headers, hi-nibble
      // channel 0 per byte; the oracle replays both channels' chains
      // AND the mean mixdown
      "m19_msadpcm_stereo" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticMsAdpcmStereo(
            CubeCatalog.forDir(s, dir).table("documents"), 2, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m18: MS ADPCM (WAV format tag 2) — the other ubiquitous
      // compressed WAV codec; coefficient pairs read from the payload's
      // DECLARED table, decode recurrence unrolled by the oracle one
      // CTE per nibble from its own copy of the public tables
      "m18_msadpcm_decode" -> ((s: SparkSession, dir: String) =>
        ops.Multimodal.decodeFeatures(s,
          ops.Multimodal.attachSyntheticMsAdpcm(
            CubeCatalog.forDir(s, dir).table("documents"), 2, 10))
          .toDF()
          .selectExpr("doc_id", "format", "width AS sample_rate",
            "height AS channels", "n_frames", "n_bytes",
            "features[0] AS rms", "features[1] AS peak",
            "features[2] AS duration_sec",
            "features[3] AS zero_crossings")
          .orderBy("doc_id")),
      // m10: audio near-dup over DECODED samples — plants a re-upload
      // (identical payload) and a HALF-GAIN re-encode (every sample
      // value exactly halved: base samples are even, so the window RMS
      // scales by exactly 1/2 and the energy-delta signs are preserved
      // bit-exactly — the fingerprint's gain invariance), both Hamming 0
      "m10_audio_neardup" -> tbl("documents") { d =>
        import org.apache.spark.sql.functions._
        val ids = d.select("doc_id")
        val base = ops.Multimodal.attachSyntheticAudio(ids, 60, 10)
        val reup = base.where(col("doc_id") % 97 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val graded = ops.Multimodal.attachSyntheticAudio(
            ids.where(col("doc_id") % 101 === 0), 60, 10, halfGain = true)
          .withColumn("doc_id", col("doc_id") + 2000000L)
        ops.Multimodal.audioNearDupPairs(
          base.unionByName(reup).unionByName(graded), 2)
      },
      // B11: parent-child hierarchy — closure-table transitive rollup; the
      // closure is the reference's registration-time <Closure> table, so it
      // is memoized per (session, dir) and each query is join + groupBy
      "q31_parent_child" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        val cl = ops.IndexCache.memo(s, s"custClosure:$dir") {
          ops.ParentChild.customerClosure(c.table("customer"))
        }
        ops.ParentChild.customerOrgRollup(c.table("customer"),
          c.table("orders"), Some(cl))
      }),
      "e02_json_extract" -> tbl("events")(ops.EventOps.jsonFieldStats(_, "k")),
      // as-of join: each event picks up the user's most recent prior order
      // (union + carry-forward — one sort, no range-join blowup)
      "e03_asof_join" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        val ev = c.table("events")
          .selectExpr("user_id", "event_id", "CAST(ts AS DATE) AS t")
        val st = c.table("orders")
          .selectExpr("o_custkey AS user_id", "CAST(o_orderdate AS DATE) AS t",
            "o_orderkey AS ord", "o_totalprice AS value")
        ops.EventOps.asofJoin(ev, st)
          .selectExpr("event_id", "user_id", "t AS event_day",
            "asof_ord AS last_order_key", "asof_value AS last_order_price")
      }),
      "t06_bpeish_tokens" -> tbl("documents")(ops.TextOps.bpeishTokenStats),
      "d06_dedup_keep_first" -> tbl("documents")(ops.TextOps.dedupKeepFirst),
      "t05_top_words" -> tbl("documents")(ops.TextOps.topWordsPerLang(_, 5)),
      "s03_label_centroids" -> tbl("embeddings")(ops.Similarity.labelCentroids),
      "t07_hash_split" -> tbl("documents")(ops.TextOps.hashSplit(_, 80, 10)),
      // the composed corpus pipeline: quality gate → exact dedup → split →
      // per-(split, lang) token budget, one declarative plan
      "t08_pipeline_e2e" -> tbl("documents")(
        ops.TextOps.pipelineSummary(_, 0.5)),
      // exact per-source quotas by content-hash order (GroupedTopK heaps)
      "t09_sample_quota" -> tbl("documents")(
        ops.TextOps.sampleQuota(_, "source", 10)),
      // Gopher/C4-style repetition quality signals
      "t10_repetition" -> tbl("documents")(ops.TextOps.repetitionStats),
      // benchmark decontamination: corpus docs sharing a 5-gram with the
      // src0 "eval set" (broadcast bench grams, one corpus-side shuffle)
      "t11_decontaminate" -> tbl("documents")(d =>
        ops.TextOps.decontaminate(
          d.where(d("source") =!= "src0"),
          d.where(d("source") === "src0"), 5)),
      // the bloom-prefiltered scale path — provably output-identical
      "d17_bloom_decontam" -> tbl("documents")(d =>
        ops.TextOps.decontaminateBloom(
          d.where(d("source") =!= "src0"),
          d.where(d("source") === "src0"), 5)),
      // decontamination against a SUITE: which benchmark does each doc
      // leak into — one corpus scan for the whole suite
      "t41_decontam_multi" -> tbl("documents")(d =>
        ops.TextOps.decontaminateMulti(
          d.where(!d("source").isin("src0", "src1")),
          d.where(d("source").isin("src0", "src1")), "source")),
      // ordered view→click→purchase funnel over the step-1 cohort
      "e04_funnel" -> tbl("events")(
        ops.EventOps.funnel(_, Seq("view", "click", "purchase"))),
      // same funnel constrained to a 72h gap between consecutive steps
      "e20_windowed_funnel" -> tbl("events")(
        ops.EventOps.windowedFunnel(_, Seq("view", "click", "purchase"),
          259200L)),
      // corpus-frequency rarity scores (CCNet-style filter, log-free so
      // every arithmetic step is bit-reproducible across engines)
      "t12_rarity" -> tbl("documents")(ops.TextOps.unigramRarity),
      // per-doc repeated-span profile (exact-substring dedup signal)
      "d08_dup_spans" -> tbl("documents")(ops.Dedup.dupSpanStats(_, 10)),
      // the transform d08 profiles: remove corpus-repeated 10-token spans
      "t21_trim_spans" -> tbl("documents")(
        ops.Dedup.trimRepeatedSpans(_, 10)),
      // exact-substring dedup (Lee et al. 2022): duplicated >=20-token
      // spans removed from all but the first occurrence; windows shuffle
      // as 64-bit hashes, exact string verify — no suffix array anywhere
      "d20_exact_substring" -> tbl("documents")(
        ops.Dedup.exactSubstringDedup(_, 20)),
      // pairwise shingle-Jaccard between corpus SOURCES (the
      // dedup-before-mixing overlap report; |sources|^2-bounded fan-out)
      "d21_source_overlap" -> tbl("documents")(
        ops.Dedup.sourceOverlapMatrix(_, 3)),
      // DAU/MAU engagement ratio per event type and calendar month
      "e21_stickiness" -> tbl("events")(ops.EventOps.stickiness),
      // PII scrub (detect + redact emails/IPs/phones, map-only codegen).
      // The synthetic corpus carries no PII, so the gate injects
      // deterministic spans derived from doc_id — the OPERATOR
      // (TextOps.piiScrub) is generic; the oracle replays the same
      // injection and the same ordered redaction
      "t31_pii_redact" -> tbl("documents") { d =>
        import org.apache.spark.sql.functions._
        val aug = d.withColumn("text", concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com now"),
          when(col("doc_id") % 3 === 0, concat(
            lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), ((col("doc_id") * 7) % 256).cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, concat(
            lit(" call 555-010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))))
        ops.TextOps.piiScrub(aug)
      },
      // dataset-version drift report: snapshot B derives from the corpus by
      // deterministic mutations (remove %41, rewrite %43, re-source %53 to
      // a mv_ bucket, clone-add %47 at shifted ids) — the diff must
      // attribute every doc to exactly one of added/removed/changed/moved/
      // unchanged per source, with the token delta; a doc hit by BOTH the
      // rewrite and the move counts as changed (content edit dominates)
      "t44_corpus_diff" -> tbl("documents") { d =>
        import org.apache.spark.sql.functions._
        val cur = d.where(col("doc_id") % 41 =!= 0)
          .withColumn("text", when(col("doc_id") % 43 === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
          .withColumn("source", when(col("doc_id") % 53 === 0,
            concat(lit("mv_"), col("source"))).otherwise(col("source")))
          .unionByName(d.where(col("doc_id") % 47 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L))
        ops.TextOps.corpusDiff(d, cur)
      },
      // C4/CCNet boilerplate-line removal: lines occurring in >=3 distinct
      // docs of a source are template chrome and get stripped. The synthetic
      // corpus has no line structure, so the gate injects it (the t31
      // pattern): a per-source nav banner (df = docs-in-source, removed), a
      // half-corpus "share" line (removed), a 2-doc "pair" line (df <= 2,
      // KEPT — the threshold boundary) and a unique "sig" line (kept)
      "t43_boilerplate" -> tbl("documents") { d =>
        import org.apache.spark.sql.functions._
        val aug = d.withColumn("text", concat_ws("\n",
          concat(lit("nav "), col("source")),
          col("text"),
          concat(lit("share "), (col("doc_id") % 2).cast("string")),
          concat(lit("pair "), expr("CAST(doc_id DIV 2 AS STRING)")),
          concat(lit("sig "), col("doc_id").cast("string"))))
        ops.TextOps.boilerplateStrip(aug, 3)
      },
      // DRILLTHROUGH (Mondrian's cell-to-fact operator): the fact rows
      // behind the (Region 3, ship year 1996) cell, projected + paged on a
      // deterministic total order — cuts and projection push into the scan
      "q63_drillthrough" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.planDrillthrough(c, c.cube("sales"),
          CubeQuery("sales", Nil, Nil,
            cuts = Seq(MemberCut(L("Geography", "Region"), 3),
              MemberCut(L("ShipDate", "Year", "Monthly"), 1996)),
            limit = Some(50)),
          Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))
      }),
      // log-free BM25 keyword search, top-20
      "t13_bm25" -> tbl("documents")(
        ops.TextOps.bm25TopK(_, Seq("spark", "hash", "join"), 20)),
      // daily cohort retention over the events stream
      "e05_retention" -> tbl("events")(ops.EventOps.retentionCohorts),
      // bigram-LM mean surprisal (CCNet-style perplexity quality filter)
      "t14_lm_score" -> tbl("documents")(ops.TextOps.bigramLmScore),
      // Moore-Lewis cross-entropy difference vs the src0 seed domain —
      // most-negative = most in-domain (the data-selection classic)
      "t34_domain_select" -> tbl("documents")(
        ops.TextOps.domainSelect(_)),
      // the one-page per-source corpus health summary (t33 × t34
      // composition; decimal-quantized means — also served at /reports)
      "t35_corpus_health" -> tbl("documents")(ops.TextOps.corpusHealth),
      // curriculum quartiles of the t14 score (distributed equi-depth rank)
      "t28_difficulty_buckets" -> tbl("documents")(
        ops.TextOps.difficultyBuckets(_)),
      // trainable quality probe: 3 batch-GD rounds distilling the t02
      // rule-based score into a linear model (decimal-exact gradients,
      // driver state = 4 doubles)
      "t36_linear_probe" -> tbl("documents")(
        ops.TextOps.linearProbe(_, 3, 0.5)),
      // eval hygiene: add-one bigram LM trained on the t07 train split,
      // scored on the valid split it never saw, per source
      "t38_heldout_ppl" -> tbl("documents")(
        ops.TextOps.heldOutPerplexity(_, 80, 10)),
      // the probe's operating-point sweep: keep-counts + precision/recall
      // per candidate threshold against the rule-based good label
      "t39_probe_calibration" -> tbl("documents")(
        ops.TextOps.probeCalibration(_, 3, 0.5)),
      // the probe's inference half: score every document with the trained
      // weights, report per-source mean prediction + residual MSE
      "t37_probe_score" -> tbl("documents")(
        ops.TextOps.probeScore(_, 3, 0.5)),
      // context-window chunking: 64-token windows advancing 48 (25% overlap)
      "t15_chunk_windows" -> tbl("documents")(
        ops.TextOps.chunkWindows(_, 64, 48)),
      // conversion latency by acquisition cohort (first view → first purchase)
      "e06_time_to_convert" -> tbl("events")(ops.EventOps.timeToConvert(_)),
      // 7-day calendar-RANGE rolling revenue per event type
      "e07_rolling_daily" -> tbl("events")(ops.EventOps.rollingDaily(_, 7)),
      // bounded interval join: per event, the user's orders in the trailing
      // 7 days — bucketed equi-join, never a per-key nested loop
      "e08_interval_join" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        ops.EventOps.intervalJoin(c.table("events"), c.table("orders"), 7)
      }),
      // full-corpus embedding near-dup: 2 hyperplane-LSH tables × 6 bits as
      // the blocking key (the scale composition d05's blocked primitive
      // defers to)
      "d10_embedding_neardup_lsh" -> tbl("embeddings")(
        ops.Dedup.embeddingNearDupLshPairs(_, 0.4)),
      // concat-then-chunk sequence packing (distributed prefix sum)
      "t16_seq_pack" -> tbl("documents")(ops.TextOps.packOffsets(_, 512)),
      // bigram collocations by lift (log-free PMI), top-20
      "t17_collocations" -> tbl("documents")(
        ops.TextOps.collocations(_, 20, 5)),
      // deterministic data mixing: per-source sampling weights, content-hash
      // uniform draw (src3 dropped entirely, src1 quartered, src2 halved)
      "t18_weighted_sample" -> tbl("documents")(
        ops.TextOps.weightedSample(_,
          Map("src1" -> 0.25, "src2" -> 0.5, "src3" -> 0.0))),
      // token-budget mixture fill: 1000 tokens per source in hash order
      // (distributed per-source prefix sum — Ranking.groupedPrefixSum)
      "t29_budget_sample" -> tbl("documents")(
        ops.TextOps.budgetSample(_, 1000L)),
      // DSIR importance resampling (Xie et al. 2023): hashed-bigram
      // target/raw likelihood ratios, Gumbel-top-k with the content-hash
      // draw, filled to a 20k-token budget by the t29 prefix machinery
      "t42_dsir_resample" -> tbl("documents")(
        ops.TextOps.dsirResample(_, 20000L)),
      // fuzzy decontamination: corpus docs near-duplicating the src0 "eval
      // set" via cross-set LSH banding (oracle = all-pairs cross Jaccard —
      // banded recall is 1.0 at this corpus's similarity gap, see d02)
      "d11_fuzzy_decontam" -> tbl("documents")(d =>
        ops.Dedup.fuzzyDecontaminate(
          d.where(d("source") =!= "src0"),
          d.where(d("source") === "src0"), 3, 32, 4, 0.5)),
      // tokenizer vocabulary induction: first 6 BPE merges, replayed
      // bit-exactly by an unrolled per-round SQL oracle
      "t19_bpe_merges" -> ((s: SparkSession, dir: String) => {
        // same memo the tokenizer (t20) reads: merges are trained once
        val d = CubeCatalog.forDir(s, dir).table("documents")
        val merges = ops.IndexCache.memo(s, s"bpe:$dir:6") {
          ops.TextOps.bpeMergeTable(d, 6)
        }
        import s.implicits._
        merges.toDF("round", "lhs", "rhs", "merged", "pair_count")
          .orderBy("round")
      }),
      // tokenize the corpus with the learned merges (memoized — a trained
      // tokenizer is a ship-once artifact, like the IVF index)
      "t20_bpe_tokenize" -> ((s: SparkSession, dir: String) => {
        val d = CubeCatalog.forDir(s, dir).table("documents")
        val merges = ops.IndexCache.memo(s, s"bpe:$dir:6") {
          ops.TextOps.bpeMergeTable(d, 6)
        }
        ops.TextOps.applyBpe(d, merges)
      }),
      // one-scan GROUPING SETS lattice — the query-surface form of the
      // Rollups.buildMany materialization: ROLLUP(region, brand) computes
      // the (region×brand, region, total) levels in ONE fact pass with
      // partial aggregation, instead of three scans
      "q43_grouping_sets" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions._
        val c = CubeCatalog.forDir(s, dir)
        c.table("lineitem")
          .join(broadcast(c.table("supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(c.table("nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(c.table("region")
            .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .join(broadcast(c.table("part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .rollup(col("r_name").as("region"), col("p_brand").as("brand"))
          .agg(
            grouping_id().cast("int").as("gid"),
            sum(expr(
              "CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(27,6))"))
              .cast("double").as("revenue"),
            count(lit(1)).as("cnt"))
          .select("gid", "region", "brand", "revenue", "cnt")
          .orderBy("gid", "region", "brand")
      }),
      // top-3 brands per region by revenue — the "top N per group" report
      // riding the GroupedTopK bounded-heap operator (≤ k rows per region
      // shuffled, no full per-group sort)
      "q44_topk_per_group" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions._
        val c = CubeCatalog.forDir(s, dir)
        val agg = c.table("lineitem")
          .join(broadcast(c.table("supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(c.table("nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(c.table("region")
            .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .join(broadcast(c.table("part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("r_name").as("region"), col("p_brand").as("brand"))
          .agg(sum(expr(
            "CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(27,6))"))
            .cast("double").as("revenue"))
        plans.GroupedTopK.topK(agg, Seq(col("region")),
            Seq(col("revenue").desc, col("brand").asc), 3)
          .select("region", "rank", "brand", "revenue")
          .orderBy("region", "rank")
      }),
      // cumulative (running-total) monthly revenue — months-sized input, so
      // the one unpartitioned window is bounded by the calendar, and the
      // accumulator stays DECIMAL (order-independent) until the final cast
      "q45_running_total" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val c = CubeCatalog.forDir(s, dir)
        c.table("orders")
          .select(year(col("o_orderdate")).cast("int").as("order_year"),
            month(col("o_orderdate")).cast("int").as("order_month"),
            expr("CAST(o_totalprice AS DECIMAL(27,6))").as("v"))
          .groupBy("order_year", "order_month")
          .agg(sum(col("v")).as("rev_m"))
          .withColumn("cum", sum(col("rev_m")).over(
            Window.orderBy("order_year", "order_month")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("order_year"), col("order_month"),
            col("rev_m").cast("double").as("revenue"),
            col("cum").cast("double").as("cumulative_revenue"))
          .orderBy("order_year", "order_month")
      }),
      // ratio-to-parent (share-of-region) — the Mondrian-style "% of parent"
      // calculated measure: brand revenue over its region total, both sides
      // decimal until the final double division
      "q46_share_of_parent" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val c = CubeCatalog.forDir(s, dir)
        c.table("lineitem")
          .join(broadcast(c.table("supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(c.table("nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(c.table("region")
            .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .join(broadcast(c.table("part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("r_name").as("region"), col("p_brand").as("brand"))
          .agg(sum(expr(
            "CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(27,6))"))
            .as("rev"))
          .withColumn("tot", sum(col("rev")).over(
            Window.partitionBy("region")))
          .select(col("region"), col("brand"),
            col("rev").cast("double").as("revenue"),
            (col("rev").cast("double") / col("tot").cast("double"))
              .as("share_of_region"))
          .orderBy("region", "brand")
      }),
      // league-table reporting windows: rank in region, gap to the
      // previous rank, percent of the leader — all windows PARTITIONED by
      // region (never global), decimal until the final double casts
      "q50_rank_in_region" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val c = CubeCatalog.forDir(s, dir)
        val agg = c.table("lineitem")
          .join(broadcast(c.table("supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(c.table("nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(c.table("region")
            .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .join(broadcast(c.table("part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("r_name").as("region"), col("p_brand").as("brand"))
          .agg(sum(expr(
            "CAST((l_extendedprice * (1.0 - l_discount)) AS DECIMAL(27,6))"))
            .as("rev"))
        val w = Window.partitionBy("region")
          .orderBy(col("rev").desc, col("brand").asc)
        agg
          .withColumn("rnk", row_number().over(w))
          .withColumn("prev", lag(col("rev"), 1).over(w))
          .withColumn("leader", max(col("rev")).over(
            Window.partitionBy("region")))
          .select(col("region"), col("rnk"), col("brand"),
            col("rev").cast("double").as("revenue"),
            coalesce((col("prev") - col("rev")).cast("double"), lit(0.0))
              .as("behind_prev"),
            (col("rev").cast("double") / col("leader").cast("double"))
              .as("pct_of_leader"))
          .orderBy("region", "rnk")
      }),
      // Deequ-style data-quality gate: FK orphans, key uniqueness, domain
      // and cross-table date checks in one (check_name, n_violations) report
      "q51_dq_audit" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        ops.DataChecks.dqAudit(c.table("orders"), c.table("lineitem"),
          c.table("customer"))
      }),
      // exact discrete per-type percentiles of the event value (p50/p90/p99)
      "e10_value_percentiles" -> tbl("events")(
        ops.EventOps.valuePercentiles(_, Seq(50, 90, 99))),
      // ingest-volume anomaly days: |z| >= 1.5 vs the trailing-7-day window
      "e11_anomaly_days" -> tbl("events")(
        ops.EventOps.anomalyDays(_, 7, 1.5)),
      // Markov next-event transitions: top-20 (prev, next) with row share
      "e12_transitions" -> tbl("events")(
        ops.EventOps.eventTransitions(_, 20)),
      // RFM terciles per customer rolled up by segment code
      "q52_rfm_segments" -> ((s: SparkSession, dir: String) =>
        ops.Analytics.rfmSegments(CubeCatalog.forDir(s, dir)
          .table("orders"))),
      // market-basket brand pairs by lift (top-20, >= 5 co-orders)
      "q53_copurchase" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        ops.Analytics.copurchaseLift(c.table("lineitem"), c.table("part"))
      }),
      // fixed-width histogram of order totals (count + decimal-exact sum
      // per bucket) — one hash agg, the classic distribution report
      "q47_value_histogram" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions._
        CubeCatalog.forDir(s, dir).table("orders")
          .withColumn("bucket",
            floor(col("o_totalprice") / lit(50000.0)).cast("int"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_orders"),
            sum(expr("CAST(o_totalprice AS DECIMAL(27,6))"))
              .cast("double").as("total"))
          .withColumn("bucket_lo", col("bucket") * lit(50000.0))
          .select("bucket", "bucket_lo", "n_orders", "total")
          .orderBy("bucket")
      }),
      // equi-depth quartiles of order value — NTILE semantics over a pinned
      // total order, computed DISTRIBUTED (ops.Ranking two-phase rank:
      // equi-width value buckets → bucket-offset broadcast → partitioned
      // windows; never a single-partition global window)
      "q49_value_quartiles" -> ((s: SparkSession, dir: String) => {
        import org.apache.spark.sql.functions._
        val o = CubeCatalog.forDir(s, dir).table("orders")
          .select(col("o_orderkey"),
            expr("CAST(o_totalprice AS DECIMAL(27,6))").as("v"))
        ops.Ranking.equiDepthTiles(o, col("v"), col("o_orderkey"),
            tiles = 4)
          .withColumnRenamed("tile", "quartile")
          .groupBy("quartile")
          .agg(count(lit(1)).as("n_orders"),
            min(col("v")).cast("double").as("lo"),
            max(col("v")).cast("double").as("hi"),
            sum(col("v")).cast("double").as("total"))
          .orderBy("quartile")
      }),
      // character-level verification of the near-dup pair list: Levenshtein
      // runs ONLY on the pair-count-sized candidate set, never the corpus
      "d12_edit_verify" -> ((s: SparkSession, dir: String) =>
        ops.Dedup.editVerifiedPairs(
          CubeCatalog.forDir(s, dir).table("documents"), lshPairs(s, dir))),
      // TextRank keywords: 3 damped PageRank rounds over the token
      // co-occurrence graph, replayed round-by-round by the SQL oracle
      "t23_textrank" -> tbl("documents")(
        ops.TextOps.textrankKeywords(_, 3, 20)),
      // n-gram diversity per source (mode-collapse / boilerplate detector)
      "t24_ngram_diversity" -> tbl("documents")(ops.TextOps.ngramDiversity),
      // tokenizer fertility per language under the learned BPE merges
      "t25_bpe_fertility" -> ((s: SparkSession, dir: String) => {
        val d = CubeCatalog.forDir(s, dir).table("documents")
        val merges = ops.IndexCache.memo(s, s"bpe:$dir:6") {
          ops.TextOps.bpeMergeTable(d, 6)
        }
        ops.TextOps.bpeFertility(d, merges)
      }),
      // per-doc top-3 TF-IDF keywords (log-free RSJ idf; GroupedTopK heaps)
      "t22_tfidf_keywords" -> tbl("documents")(
        ops.TextOps.tfidfKeywords(_, 3)),
      // §3.2: the raw-MDX path (parser → same planner IR) in the hash gate
      "q34_mdx_topcount" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |TOPCOUNT([Part].[Brands].[Brand].Members, 5, [Measures].[Revenue]) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // q92: ad-hoc WITH MEMBER arithmetic on a VIRTUAL cube — the
      // query-scoped calc references measures from BOTH member cubes
      // (sales revenue / orders total_sales); it parses against the
      // mdxView (the virtual cube's exposed-measure surface) and
      // compiles over the drill-across frame in planVirtual
      "q92_mdx_virtual_calc" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(Planner.mdxView(c, "commerce"),
          """WITH MEMBER [Measures].[rps] AS
            |  '[Measures].[Revenue] / [Measures].[Total Sales]'
            |SELECT {[Measures].[Revenue], [Measures].[Total Sales],
            |  [Measures].[rps]} ON COLUMNS,
            |[Geography].[Region].Members ON ROWS
            |FROM commerce""".stripMargin))
      }),
      // q93: FILTER composed over the AD-HOC virtual-cube calc — the
      // HAVING evaluates on the drill-across frame AFTER the cross-cube
      // ratio is derived, so the threshold prunes regions by a measure
      // neither member cube carries alone
      "q93_mdx_virtual_filter" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(Planner.mdxView(c, "commerce"),
          """WITH MEMBER [Measures].[rps] AS
            |  '[Measures].[Revenue] / [Measures].[Total Sales]'
            |SELECT {[Measures].[Revenue], [Measures].[Total Sales],
            |  [Measures].[rps]} ON COLUMNS,
            |FILTER([Geography].[Region].Members,
            |  [Measures].[rps] > 0.7) ON ROWS
            |FROM commerce""".stripMargin))
      }),
      // q94: FIXED-MEMBER tuple, pinned dim NOT on the axis — compiles
      // to a fact-side conditional aggregate (revenue where region = 2)
      // grouped by the axis, the "pin a measure to a member" idiom
      "q94_mdx_pinned_member" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[asia_rev] AS
            |  '([Measures].[Revenue], [Geography].[Region].[2])'
            |SELECT {[Measures].[Revenue], [Measures].[asia_rev]} ON COLUMNS,
            |NON EMPTY [Part].[Brand].Members ON ROWS
            |FROM sales""".stripMargin))
      }),
      // q95: the pinned dimension IS drilled — Mondrian's tuple OVERRIDES
      // the axis member: every region row of a brand shows the brand's
      // region-2 revenue (one axis window, max past the other rows' nulls)
      "q95_mdx_pinned_override" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[asia_rev] AS
            |  '([Measures].[Revenue], [Geography].[Region].[2])'
            |SELECT {[Measures].[Revenue], [Measures].[asia_rev]} ON COLUMNS,
            |NON EMPTY CROSSJOIN([Geography].[Region].Members,
            |  [Part].[Brand].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // q96: MULTI-MEMBER tuple pin, both dims off-axis — the conjunctive
      // fact-side mask ("Sales for Drink in 1997" foodmart idiom): one
      // masked aggregate per tuple, AND of the member predicates
      "q96_mdx_pinned_tuple" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[asia95] AS
            |  '([Measures].[Revenue], [Geography].[Region].[2],
            |    [ShipDate].[Year].[1995])'
            |SELECT {[Measures].[Revenue], [Measures].[asia95]} ON COLUMNS,
            |NON EMPTY [Part].[Brand].Members ON ROWS
            |FROM sales""".stripMargin))
      }),
      // q97: the MIXED tuple state — one pinned dim drilled (axis-row
      // selection, Mondrian's override), one off-axis (fact mask riding
      // the pre-aggregate the window selects)
      "q97_mdx_pinned_mixed" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[asia95] AS
            |  '([Measures].[Revenue], [Geography].[Region].[2],
            |    [ShipDate].[Year].[1995])'
            |SELECT {[Measures].[Revenue], [Measures].[asia95]} ON COLUMNS,
            |NON EMPTY CROSSJOIN([Geography].[Region].Members,
            |  [Part].[Brand].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // q98: pin COARSER than the drill (Year pin, Month drill) —
      // Mondrian shows the ancestor's value on every descendant row; the
      // plan merges the drilled cells' masked DECIMAL partials in one
      // axis window, so the merged value is bit-identical to aggregating
      // the year slice directly
      "q98_mdx_pinned_coarser" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[y95] AS
            |  '([Measures].[Revenue], [ShipDate].[Year].[1995])'
            |SELECT {[Measures].[Revenue], [Measures].[y95]} ON COLUMNS,
            |NON EMPTY CROSSJOIN([Geography].[Region].Members,
            |  [ShipDate].[Month].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // q99: MIXED navigation + pin tuple — foodmart's Profit-last-
      // Period sliced to a member: compiles as PrevMember navigation
      // OVER the pinned (region-2-masked) aggregate, one lag window on
      // the pin's aggregation-time column
      "q99_mdx_pinned_nav" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[prev_asia] AS
            |  '([Measures].[Revenue], [ShipDate].PrevMember,
            |    [Geography].[Region].[2])'
            |SELECT {[Measures].[Revenue], [Measures].[prev_asia]}
            |  ON COLUMNS,
            |[ShipDate].[Year].Members ON ROWS
            |FROM sales""".stripMargin))
      }),
      // q100: EXPLICIT TUPLE-SET axis — hand-picked (region, priority)
      // combinations; dense default, so a listed-but-empty tuple would
      // surface as a null cell while unlisted combos of the same members
      // never appear (the per-dim set cuts prune the scan, the tuple
      // filter trims the dense cross product)
      "q100_mdx_tuple_axis" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |{([Geography].[Region].[1], [Order].[Priority].[1-URGENT]),
            | ([Geography].[Region].[3], [Order].[Priority].[5-LOW]),
            | ([Geography].[Region].[1], [Order].[Priority].[5-LOW])}
            |  ON ROWS
            |FROM sales""".stripMargin))
      }),
      // WITH MEMBER: query-scoped calculated measure over declared measures
      "q37_mdx_with_member" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[margin] AS
            |  '[Measures].[Gross] - [Measures].[Discount Amount]'
            |SELECT {[Measures].[Revenue], [Measures].[margin]} ON COLUMNS,
            |[Geography].[Region].Members ON ROWS
            |FROM sales""".stripMargin))
      }),
      // B-surface share-of-total: declared TotalMeasureDef + ratio calc —
      // revenue_geo_total partitions by the OTHER axis dim (Brand), one
      // axis-sized window, never a second fact pass
      "q57_share_of_total" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, CubeQuery("sales",
          Seq(LevelDrill(LevelRef("Geography", Some("Region"))),
            LevelDrill(LevelRef("Part", Some("Brand")))),
          Seq("revenue", "revenue_geo_total", "revenue_geo_share")))
      }),
      // the same pattern via MDX ALL-member tuple:
      // [Revenue] / ([Revenue], [Geography].[All Regions])
      "q58_mdx_share" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[brand share] AS
            |  '[Measures].[Revenue] /
            |   ([Measures].[Revenue], [Part].[All Brands])'
            |SELECT {[Measures].[Revenue], [Measures].[brand share]} ON COLUMNS,
            |NON EMPTY CROSSJOIN([Geography].[Region].Members,
            |  [Part].[Brands].[Brand].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // share-of-parent via MDX CurrentMember.Parent (the percent-of-
      // subtotal classic): nation revenue over its REGION subtotal — the
      // parent level rides the axis, so attribution stays exact
      "q84_parent_share" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[nation share] AS
            |  '[Measures].[Revenue] /
            |   ([Measures].[Revenue], [Geography].CurrentMember.Parent)'
            |SELECT {[Measures].[Revenue], [Measures].[nation share]}
            |  ON COLUMNS,
            |NON EMPTY CROSSJOIN([Geography].[Region].Members,
            |  [Geography].[Nation].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // semi-additive closing balance via MDX ClosingPeriod tuple: each
      // (nation, year, month) row carries the revenue at its year's LAST
      // calendar-domain month — empty when the nation has no data there
      // (domain-exact, never "last present month")
      // MDX Generate(set, TopCount(...)): the "top N per group" idiom —
      // per region, the 3 top-revenue brands. Compiles to ONE GroupedTopK
      // pass partitioned on the region level (bounded heaps, ≤ k rows per
      // group cross the shuffle), never a per-member loop; each region
      // block keeps the TopCount ranking order like Mondrian's Generate
      "q86_mdx_generate" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |NON EMPTY GENERATE(
            |  [Geography].[Geography].[Region].Members,
            |  TOPCOUNT([Part].[Brands].[Brand].Members, 3,
            |    [Measures].[Revenue])) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // Generate + TOPPERCENT: per region, the minimal set of brands
      // covering 40% of that region's revenue — the per-group TopShare
      // form (DECIMAL(27,6) cumulative windows partitioned by region,
      // cum_before < limit, crossing row included)
      "q87_mdx_generate_pct" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |NON EMPTY GENERATE(
            |  [Geography].[Geography].[Region].Members,
            |  TOPPERCENT([Part].[Brands].[Brand].Members, 40,
            |    [Measures].[Revenue])) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // Generate + inner FILTER: the per-group HAVING idiom — per region,
      // the brands whose revenue in THAT region clears the threshold. The
      // predicate evaluates in the (region, brand) tuple context, so it
      // compiles onto the A10 measure-filter machinery: one aggregation,
      // one post-agg filter, no window at all
      "q89_mdx_generate_filter" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |NON EMPTY GENERATE(
            |  [Geography].[Geography].[Region].Members,
            |  FILTER([Part].[Brands].[Brand].Members,
            |    [Measures].[Revenue] > 2300000)) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // Generate + inner ORDER: per-group ordering with NO truncation —
      // each region block emits every brand, sorted by that region's
      // revenue (the groupTop ranking machinery, rank-only)
      "q90_mdx_generate_order" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |NON EMPTY GENERATE(
            |  [Geography].[Geography].[Region].Members,
            |  ORDER([Part].[Brands].[Brand].Members,
            |    [Measures].[Revenue], DESC)) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // Composed inner form: FILTER inside TOPCOUNT — prune (region,
      // brand) tuples by a scale-invariant avg measure, THEN rank each
      // region's survivors by revenue (the filter-then-rank idiom; the
      // HAVING runs before the GroupedTopK, so the top-2 is of the
      // filtered set)
      "q91_mdx_generate_topfilter" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |NON EMPTY GENERATE(
            |  [Geography].[Geography].[Region].Members,
            |  TOPCOUNT(FILTER([Part].[Brands].[Brand].Members,
            |    [Measures].[Avg Discount] > 0.05), 2,
            |    [Measures].[Revenue])) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // MDX Extract: project a crossjoined tuple set onto one dimension
      // (duplicates removed) — brands sold in region 2, the Nation drill
      // dropped by the projection while the slicer keeps restricting
      "q88_mdx_extract" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |NON EMPTY EXTRACT(
            |  CROSSJOIN([Geography].[Geography].[Nation].Members,
            |    [Part].[Brands].[Brand].Members), [Part]) ON ROWS
            |FROM sales
            |WHERE [Geography].[Geography].[Region].[2]""".stripMargin))
      }),
      "q85_mdx_closing" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[closing revenue] AS
            |  '([Measures].[Revenue],
            |    CLOSINGPERIOD([ShipDate].[Monthly].[Month],
            |      [ShipDate].[Monthly].[Year].CurrentMember))'
            |SELECT {[Measures].[Revenue], [Measures].[closing revenue]}
            |  ON COLUMNS,
            |NON EMPTY CROSSJOIN([Geography].[Nation].Members,
            |  CROSSJOIN([ShipDate].[Monthly].[Year].Members,
            |    [ShipDate].[Monthly].[Month].Members)) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // WITH MEMBER tuple time-navigation: the foodmart Profit Growth
      // pattern (foodmart.xml:351-366) — ([M], [T].PrevMember) resolves to
      // the declared domain-exact lag, COALESCEEMPTY to null-coalescing;
      // Lag(2) synthesizes an ad-hoc lag measure
      "q56_mdx_growth" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[growth] AS
            |  '[Measures].[Revenue] - COALESCEEMPTY(
            |     ([Measures].[Revenue], [ShipDate].PrevMember),
            |     [Measures].[Revenue])'
            |MEMBER [Measures].[rev_2mo_ago] AS
            |  '([Measures].[Revenue], [ShipDate].CurrentMember.Lag(2))'
            |SELECT {[Measures].[Revenue], [Measures].[growth],
            |  [Measures].[rev_2mo_ago]} ON COLUMNS,
            |NON EMPTY CROSSJOIN([ShipDate].[Monthly].[Year].Members,
            |  [ShipDate].[Monthly].[Month].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // TAIL: the trailing-12-months axis ("last year of data") — a
      // reverse TakeOrderedAndProject re-sorted forward, never a full sort
      "q66_mdx_tail" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |NON EMPTY TAIL(CROSSJOIN([ShipDate].[Monthly].[Year].Members,
            |  [ShipDate].[Monthly].[Month].Members), 12) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // TOPPERCENT (Pareto cut): the brands covering 25% of total revenue
      // — minimal descending prefix whose cumulative share reaches the
      // threshold, memoized to an IN-list like TopCount
      "q65_mdx_toppercent" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |TOPPERCENT([Part].[Brands].[Brand].Members, 25,
            |  [Measures].[Revenue]) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // partial-set aggregates: SUM/AVG over an explicit member list —
      // a fixed-set subtotal per combination of the OTHER drilled dims
      "q81_mdx_subset_agg" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[rev_94_95] AS
            |  'SUM({[ShipDate].[Monthly].[Year].[1994],
            |        [ShipDate].[Monthly].[Year].[1995]},
            |       [Measures].[Revenue])'
            |MEMBER [Measures].[avg_94_95] AS
            |  'AVG({[ShipDate].[Monthly].[Year].[1994],
            |        [ShipDate].[Monthly].[Year].[1995]},
            |       [Measures].[Revenue])'
            |SELECT {[Measures].[Revenue], [Measures].[rev_94_95],
            |  [Measures].[avg_94_95]} ON COLUMNS,
            |NON EMPTY CROSSJOIN([Geography].[Region].Members,
            |  [ShipDate].[Monthly].[Year].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // B1+B2+B3 through the Mondrian XML grammar (MondrianXml /
      // SchemaLoader.loadXml): snowflake <Join>, DimensionUsage,
      // nameColumn captions and a translated CalculatedMember — the
      // catalog the planner runs against came from the reference's own
      // schema format, not graft's JSON dialect
      "q82_xml_catalog" -> ((s: SparkSession, dir: String) => {
        Planner.plan(xmlCatalogFor(s, dir), CubeQuery("orders_xml",
          Seq(drill("Geography", "Nation")),
          Seq("total_sales", "order_count", "customer_count", "avg_order")))
      }),
      // B18 × XML (ref Mondrian <Role>/<MemberGrant> grammar): the apac
      // role grants five nations and denies customer 43 ONLY under nation
      // 8 — the ancestor path keeps a same-keyed customer elsewhere
      // visible (the over-grant regression)
      "q83_xml_role" -> ((s: SparkSession, dir: String) => {
        Planner.plan(xmlCatalogFor(s, dir), CubeQuery("orders_xml",
          Seq(drill("Geography", "Nation")),
          Seq("total_sales", "order_count"), role = Some("apac")))
      }),
      // BOTTOMPERCENT: the ASCENDING-by-measure prefix covering the share
      // — the long-tail complement of q65's Pareto cut
      "q80_mdx_bottompercent" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |BOTTOMPERCENT([Part].[Brands].[Brand].Members, 10,
            |  [Measures].[Revenue]) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // WITH MEMBER Sum(PeriodsToDate(level), M): quarter-to-date at Month
      // grain — synthesizes an ad-hoc CumMeasureDef resetting per Quarter
      // (Mondrian's Qtd()); Sum(Ytd(), M) rides the same rewrite onto the
      // declared Year-reset measure
      "q64_mdx_qtd" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[qtd] AS
            |  'Sum(PeriodsToDate([ShipDate].[Monthly].[Quarter]),
            |       [Measures].[Revenue])'
            |MEMBER [Measures].[ytd2] AS 'Sum(Ytd(), [Measures].[Revenue])'
            |SELECT {[Measures].[Revenue], [Measures].[qtd],
            |  [Measures].[ytd2]} ON COLUMNS,
            |NON EMPTY CROSSJOIN(CROSSJOIN(
            |  [ShipDate].[Monthly].[Year].Members,
            |  [ShipDate].[Monthly].[Quarter].Members),
            |  [ShipDate].[Monthly].[Month].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // FILTER (HAVING) + ORDER axis functions
      // the raw-SQL escape hatch gated END-TO-END: publish the star views,
      // run plain Spark SQL over sales_star (level columns + measure
      // inputs; same decimal-exact discipline as the planner path)
      "q68_star_sql" -> ((s: SparkSession, dir: String) => {
        CubeCatalog.forDir(s, dir).registerStarViews()
        s.sql("""SELECT region, region_label,
          |CAST(SUM(CAST(revenue_raw AS DECIMAL(27,6))) AS DOUBLE)
          |  AS revenue,
          |COUNT(1) AS cnt
          |FROM sales_star GROUP BY region, region_label
          |ORDER BY region""".stripMargin)
      }),
      // the role-scoped SQL surface: the emea member grant filters the
      // published rows (drillthrough semantics), so user SQL over the
      // star view can only aggregate the role's regions. Role-scoped
      // views live under their own suffixed name (`__<role>`), disjoint
      // from the unrestricted `<cube>_star` namespace — registration
      // order can never swap the data behind a shared name.
      "q69_star_sql_role" -> ((s: SparkSession, dir: String) => {
        CubeCatalog.forDir(s, dir).registerStarViews(Some("emea"))
        s.sql("""SELECT region, region_label,
          |CAST(SUM(CAST(total_sales_raw AS DECIMAL(27,6))) AS DOUBLE)
          |  AS total_sales,
          |COUNT(1) AS cnt
          |FROM orders_star__emea GROUP BY region, region_label
          |ORDER BY region""".stripMargin)
      }),
      // COUNT(Members) in a calculated member — the per-member-average
      // denominator, a plan-time schema-reader constant (memoized per
      // catalog; role-visible members under a role)
      "q71_mdx_count" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[rev_per_brand] AS
            |  '[Measures].[Revenue] / COUNT([Part].[Brands].[Brand].Members)'
            |SELECT {[Measures].[Revenue], [Measures].[rev_per_brand]}
            |  ON COLUMNS,
            |[Geography].[Region].Members ON ROWS
            |FROM sales""".stripMargin))
      }),
      // MDX Rank (3-arg measure form): per-region brand rank by revenue —
      // one axis-sized window partitioned by the other drilled dimension
      "q72_mdx_rank" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[brand_rank] AS
            |  'Rank([Part].CurrentMember, [Part].[Brands].[Brand].Members,
            |        [Measures].[Revenue])'
            |SELECT {[Measures].[Revenue], [Measures].[brand_rank]}
            |  ON COLUMNS,
            |NON EMPTY CROSSJOIN([Geography].[Region].Members,
            |  [Part].[Brands].[Brand].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // MDX set aggregates in calc members: revenue vs the per-region
      // brand average, and the per-region brand max — one axis window each
      "q73_mdx_setavg" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[vs_brand_avg] AS
            |  '[Measures].[Revenue] - AVG([Part].[Brands].[Brand].Members,
            |                              [Measures].[Revenue])'
            |MEMBER [Measures].[brand_max] AS
            |  'MAX([Part].[Brands].[Brand].Members, [Measures].[Revenue])'
            |MEMBER [Measures].[brand_median] AS
            |  'MEDIAN([Part].[Brands].[Brand].Members, [Measures].[Revenue])'
            |SELECT {[Measures].[Revenue], [Measures].[vs_brand_avg],
            |  [Measures].[brand_max], [Measures].[brand_median]} ON COLUMNS,
            |NON EMPTY CROSSJOIN([Geography].[Region].Members,
            |  [Part].[Brands].[Brand].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // aggregate-designer candidate table with MEASURED-exact sizes: one
      // GROUPING SETS fact pass sizes the whole candidate lattice
      "q76_advisor_exact" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        val workload = Seq(
          CubeQuery("sales",
            Seq(LevelDrill(LevelRef("Geography", Some("Region")))),
            Seq("revenue"), nonempty = true),
          CubeQuery("sales",
            Seq(LevelDrill(LevelRef("Geography", Some("Region"))),
              LevelDrill(LevelRef("ShipDate", Some("Year"), Some("Monthly")))),
            Seq("revenue"), nonempty = true),
          CubeQuery("sales",
            Seq(LevelDrill(LevelRef("Part", Some("Brand"), Some("Brands")))),
            Seq("revenue"), nonempty = true))
        Rollups.candidateTable(c, c.cube("sales"), workload)
      }),
      // TOPCOUNT over a TUPLE set: top-15 (nation, brand) cells by
      // revenue — ORDER + HEAD on the whole axis (TakeOrderedAndProject)
      "q75_mdx_topcount_tuples" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |TOPCOUNT(CROSSJOIN([Geography].[Nation].Members,
            |  [Part].[Brands].[Brand].Members), 15,
            |  [Measures].[Revenue]) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // MDX conditionals: IIF + IsEmpty guarding a PrevMember ratio (the
      // canonical month-over-month percent with a sentinel first month)
      "q74_mdx_iif" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[mom_pct] AS
            |  'IIF(IsEmpty(([Measures].[Revenue], [ShipDate].PrevMember)),
            |       -1.0,
            |       [Measures].[Revenue] /
            |         ([Measures].[Revenue], [ShipDate].PrevMember) - 1.0)'
            |SELECT {[Measures].[Revenue], [Measures].[mom_pct]} ON COLUMNS,
            |NON EMPTY CROSSJOIN([ShipDate].[Monthly].[Year].Members,
            |  [ShipDate].[Monthly].[Month].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // MDX member navigation as a slicer: ANCESTOR walks up the
      // denormalized hierarchy — the cut is the nation's REGION (every
      // nation in it), resolved by one memoized 1-row dim lookup
      "q77_mdx_ancestor" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue], [Measures].[Line Count]} ON COLUMNS,
            |NON EMPTY [Part].[Brands].[Brand].Members ON ROWS
            |FROM sales
            |WHERE ANCESTOR([Geography].[Nation].[3], [Geography].[Region])
            |""".stripMargin))
      }),
      // CLOSINGPERIOD: the LAST Month member (full path — Year AND Quarter
      // AND Month, a member is its path) under Year 1995, by member order
      "q78_mdx_closingperiod" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue], [Measures].[Quantity]} ON COLUMNS,
            |NON EMPTY [Geography].[Nation].Members ON ROWS
            |FROM sales
            |WHERE CLOSINGPERIOD([ShipDate].[Monthly].[Month],
            |  [ShipDate].[Monthly].[Year].[1995])
            |""".stripMargin))
      }),
      // NEXTMEMBER / Lead(n): forward navigation — negative lag periods,
      // with the time-domain expansion extended FORWARD of cut members
      "q79_mdx_lead" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """WITH MEMBER [Measures].[next_rev] AS
            |  '([Measures].[Revenue], [ShipDate].NextMember)'
            |MEMBER [Measures].[rev_in_3mo] AS
            |  '([Measures].[Revenue], [ShipDate].CurrentMember.Lead(3))'
            |SELECT {[Measures].[Revenue], [Measures].[next_rev],
            |  [Measures].[rev_in_3mo]} ON COLUMNS,
            |NON EMPTY CROSSJOIN([ShipDate].[Monthly].[Year].Members,
            |  [ShipDate].[Monthly].[Month].Members) ON ROWS
            |FROM sales""".stripMargin))
      }),
      "q38_mdx_filter_order" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |ORDER(FILTER([Part].[Brands].[Brand].Members,
            |  [Measures].[Revenue] > 10000000),
            |  [Measures].[Revenue], DESC) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // member.Children navigation
      "q39_mdx_children" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |[Geography].[Region].[2].Children ON ROWS
            |FROM sales""".stripMargin))
      }),
      // BOTTOMCOUNT (ascending top-k cut)
      "q40_mdx_bottomcount" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |BOTTOMCOUNT([ShipDate].[Monthly].[Year].Members, 2,
            |  [Measures].[Revenue]) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // set algebra (EXCEPT → NOT-IN exclusion cut) + SUBSET paging
      "q41_mdx_set_algebra" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.forDir(s, dir)
        Planner.plan(c, MdxParser.parse(c.cube("sales"),
          """SELECT {[Measures].[Revenue]} ON COLUMNS,
            |SUBSET(EXCEPT([Geography].[Nation].Members,
            |  {[Geography].[Nation].[3], [Geography].[Nation].[7]}),
            |  5, 10) ON ROWS
            |FROM sales""".stripMargin))
      }),
      // B17 in the hash gate: answered from a registered aggregate table
      // (an isolated catalog so the routing never leaks into the other
      // queries, memoized because agg tables are built once — nightly, not
      // per query; the reference queries a pre-built one too). Decimal
      // partials re-aggregate exactly, so the rollup path must hash-match
      // the same SQL as a fact scan would.
      "q35_rollup_routed" -> ((s: SparkSession, dir: String) => {
        val c = CubeCatalog.shared(s, dir, "rollup") {
          val cc = TpchCatalog.build(s, dir)
          val r = Rollups.build(cc, cc.cube("sales"), Seq(
            LevelRef("Geography", Some("Region")),
            LevelRef("Part", Some("Brand"), Some("Brands")),
            LevelRef("ShipDate", Some("Year"), Some("Monthly"))))
          // durable agg table: parquet, like the reference's, not a cache
          val path = java.nio.file.Files
            .createTempDirectory("graft-aggtable").toString
          Rollups.save(r, path)
          cc.deleteOnClose(path)
          cc.addRollup(Rollups.load(s, r.cube, r.levels, path), cache = false)
          cc
        }
        Planner.plan(c, CubeQuery("sales",
          Seq(drill("Geography", "Region"), drill("Part", "Brand", "Brands")),
          Seq("revenue", "cnt"),
          cuts = Seq(RangeCut(L("ShipDate", "Year", "Monthly"), 1996, 1997))))
      }))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    cubeQueries.map { case (n, q) => n -> cq(q) } ++ opsQueries

  // ============================================================ oracle SQL

  /** Shared oracle prefix for every query that rides the memoized k-means
    * clustering (s06, d15): the full iterative Lloyd procedure UNROLLED in
    * SQL — decimal-mean centroids (VARCHAR hop), sequential
    * list_dot_product scores, ties to the larger cluster id (Spark's
    * lexicographic struct max), empty clusters inheriting the previous
    * round's centroid (COALESCE chain) — ending with
    * `afinal(vec_id, emb, c)`, the per-vector assignment. Callers append
    * further CTEs after a comma or the final SELECT directly. */
  private def kmeansOracleCtes(k: Int, iters: Int): String = {
    def cent(r: Int, from: String): String = {
      val base =
        s"""x$r AS (SELECT c, unnest(emb) AS x,
           |  generate_subscripts(emb, 1) AS pos FROM $from),
           |m$r AS (SELECT c, pos,
           |  CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(27,12))) AS DOUBLE)
           |    / COUNT(1) AS m
           |  FROM x$r GROUP BY c, pos),
           |newc$r AS (SELECT c, list(m ORDER BY pos) AS cent
           |  FROM m$r GROUP BY c)""".stripMargin
      val carry =
        if (r == 1) s"cent$r AS (SELECT c, cent FROM newc$r)"
        else
          s"""cent$r AS (SELECT p.c, COALESCE(n.cent, p.cent) AS cent
             |  FROM cent${r - 1} p LEFT JOIN newc$r n USING (c))""".stripMargin
      s"$base,\n$carry"
    }
    def assign(name: String, centTbl: String): String =
      s"""s_$name AS (SELECT v.vec_id, v.emb, ct.c,
         |  list_dot_product(v.emb, ct.cent)
         |    - list_dot_product(ct.cent, ct.cent) / 2.0 AS score
         |  FROM v CROSS JOIN $centTbl ct),
         |$name AS (SELECT vec_id, emb, c FROM (
         |  SELECT vec_id, emb, c, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY score DESC, c DESC) AS rn FROM s_$name)
         |  WHERE rn = 1)""".stripMargin
    val rounds = (1 to iters).map { r =>
      val c = cent(r, s"a${r - 1}")
      if (r < iters) s"$c,\n${assign(s"a$r", s"cent$r")}" else c
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |a0 AS (SELECT vec_id, emb, CAST(vec_id % $k AS INTEGER) AS c
       |  FROM v),
       |$rounds,
       |${assign("afinal", s"cent$iters")}""".stripMargin
  }

  /** Per-subspace unrolled k-means for the PQ oracles (s12 over raw
    * vectors, s14 over IVF residuals): the [[kmeansOracleCtes]] chain,
    * prefixed `p{j}_` per subspace and run over slices of `src` (a CTE
    * with (vec_id, emb)). Emits per subspace j: `p{j}_v` (sliced),
    * `p{j}_cent{iters}` (carried centroids) and `p{j}_afinal` (final code
    * assignment). */
  private def pqChainCtes(m: Int, ksub: Int, iters: Int, sub: Int,
      src: String): String = {
    def chain(j: Int): String = {
      val P = s"p${j}_"
      def cent(r: Int, from: String): String = {
        val base =
          s"""${P}x$r AS (SELECT c, unnest(emb) AS x,
             |  generate_subscripts(emb, 1) AS pos FROM $from),
             |${P}m$r AS (SELECT c, pos,
             |  CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(27,12))) AS DOUBLE)
             |    / COUNT(1) AS m
             |  FROM ${P}x$r GROUP BY c, pos),
             |${P}newc$r AS (SELECT c, list(m ORDER BY pos) AS cent
             |  FROM ${P}m$r GROUP BY c)""".stripMargin
        val carry =
          if (r == 1) s"${P}cent$r AS (SELECT c, cent FROM ${P}newc$r)"
          else
            s"""${P}cent$r AS (SELECT p.c, COALESCE(n.cent, p.cent) AS cent
               |  FROM ${P}cent${r - 1} p
               |  LEFT JOIN ${P}newc$r n USING (c))""".stripMargin
        s"$base,\n$carry"
      }
      def assign(name: String, centTbl: String): String =
        s"""${P}s_$name AS (SELECT v.vec_id, v.emb, ct.c,
           |  list_dot_product(v.emb, ct.cent)
           |    - list_dot_product(ct.cent, ct.cent) / 2.0 AS score
           |  FROM ${P}v v CROSS JOIN $centTbl ct),
           |$P$name AS (SELECT vec_id, emb, c FROM (
           |  SELECT vec_id, emb, c, ROW_NUMBER() OVER (PARTITION BY vec_id
           |    ORDER BY score DESC, c DESC) AS rn FROM ${P}s_$name)
           |  WHERE rn = 1)""".stripMargin
      val rounds = (1 to iters).map { r =>
        val c = cent(r, s"${P}a${r - 1}")
        if (r < iters) s"$c,\n${assign(s"a$r", s"${P}cent$r")}" else c
      }.mkString(",\n")
      s"""${P}v AS (SELECT vec_id, emb[${j * sub + 1}:${(j + 1) * sub}] AS emb
         |  FROM $src),
         |${P}a0 AS (SELECT vec_id, emb, CAST(vec_id % $ksub AS INTEGER) AS c
         |  FROM ${P}v),
         |$rounds,
         |${assign("afinal", s"${P}cent$iters")}""".stripMargin
    }
    (0 until m).map(chain).mkString(",\n")
  }

  /** s12's prefix: the raw-vector source plus the per-subspace chains. */
  private def pqOracleCtes(m: Int, ksub: Int, iters: Int,
      sub: Int): String =
    s"""WITH v AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |${pqChainCtes(m, ksub, iters, sub, "v")}""".stripMargin

  /** Unrolled oracle for [[graft.ops.TextOps.linearProbe]] (t36): one
    * (gradient, weight-update) CTE pair per GD round, seeded from the
    * all-zero weight row. Per-term DECIMAL(38,18) captures (exact for the
    * shortest-round-trip string of any |term| < 10 — the t14 surprisal
    * recipe), exact order-independent sums, then the derived gradient
    * means round at 1e-9 — the exact shape the Spark side computes, so
    * three rounds of float arithmetic stay bit-identical across engines
    * (squared loss: no transcendentals). */
  private val PROBE_PRED = "(w.wb*f.x0 + w.wu*f.x1 + w.ws*f.x2 + w.wl*f.x3)"
  private def probeSum(term: String) =
    s"round(CAST(SUM(CAST(CAST(($term) AS VARCHAR) AS DECIMAL(38,18))) " +
      s"AS DOUBLE) / COUNT(1), 9)"

  /** Shared CTE prefix: features + the unrolled GD rounds, ending with
    * `w<iters>(wb, wu, ws, wl, mse)` — t36 emits the trace, t37 scores
    * the corpus against the final weights. */
  private def probeCtes(iters: Int, lr: Double): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "wseed" else s"w${i - 1}"
      s"""g$i AS (SELECT
         |  ${probeSum(s"($PROBE_PRED - f.y) * f.x0")} AS g0,
         |  ${probeSum(s"($PROBE_PRED - f.y) * f.x1")} AS g1,
         |  ${probeSum(s"($PROBE_PRED - f.y) * f.x2")} AS g2,
         |  ${probeSum(s"($PROBE_PRED - f.y) * f.x3")} AS g3,
         |  ${probeSum(s"($PROBE_PRED - f.y) * ($PROBE_PRED - f.y)")} AS mse
         |  FROM f CROSS JOIN $prev w),
         |w$i AS (SELECT w.wb - $lr*g.g0 AS wb, w.wu - $lr*g.g1 AS wu,
         |  w.ws - $lr*g.g2 AS ws, w.wl - $lr*g.g3 AS wl, g.mse AS mse
         |  FROM $prev w CROSS JOIN g$i g)""".stripMargin
    }
    s"""WITH q AS (SELECT source,
       |  len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS uniq_ratio,
       |  len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) / len(string_split(text, ' ')) AS stop_ratio,
       |  (length(text) - len(string_split(text, ' ')) + 1) / len(string_split(text, ' ')) AS mean_token_len,
       |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
       |  FROM documents),
       |f AS (SELECT source, 1.0 AS x0, uniq_ratio AS x1, stop_ratio AS x2,
       |  mean_token_len / 10.0 AS x3,
       |  (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
       |   * (0.25 + 0.75 * uniq_ratio)
       |   * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.6 END) AS y
       |  FROM q),
       |wseed AS (SELECT 0.0 AS wb, 0.0 AS wu, 0.0 AS ws, 0.0 AS wl),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private def probeOracle(iters: Int, lr: Double): String = {
    val emit = (1 to iters).map(i =>
      s"""SELECT $i AS round, wb AS w_bias, wu AS w_uniq, ws AS w_stop,
         |  wl AS w_len, mse AS mse_before FROM w$i""".stripMargin)
    s"""${probeCtes(iters, lr)}
       |${emit.mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin
  }

  /** t37: the t36 training CTEs, then one scan scoring every document with
    * the final weights — per-source mean prediction and residual MSE. */
  private def probeScoreOracle(iters: Int, lr: Double): String =
    s"""${probeCtes(iters, lr)}
       |SELECT f.source, COUNT(1) AS n_docs,
       |  ${probeSum(PROBE_PRED)} AS mean_pred,
       |  ${probeSum(s"($PROBE_PRED - f.y) * ($PROBE_PRED - f.y)")} AS mse
       |FROM f CROSS JOIN w$iters w
       |GROUP BY f.source ORDER BY f.source""".stripMargin

  /** Shared oracle CTEs for the bigram-LM score (t14, t28): ends with
    * `scored(doc_id, n_bigrams, lm_score)` — the per-doc mean surprisal,
    * decimal-summed (order-independent) and rounded at 1e-6. */
  private val LM_SCORE_CTES: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |bg AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1,
      |  unnest(w[2:len(w)]) AS w2 FROM toks),
      |c2 AS (SELECT w1, w2, COUNT(1) AS c2 FROM bg GROUP BY w1, w2),
      |c1 AS (SELECT w1, COUNT(1) AS c1 FROM bg GROUP BY w1),
      |sc AS (SELECT bg.doc_id,
      |  CAST(CAST(-ln(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
      |    AS VARCHAR) AS DECIMAL(38,18)) AS s
      |  FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
      |  JOIN c1 ON bg.w1 = c1.w1),
      |scored AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_bigrams,
      |  round(CAST(SUM(s) AS DOUBLE) / COUNT(1), 6) AS lm_score
      |  FROM sc GROUP BY doc_id)""".stripMargin

  /** d04 and d24: exact symmetric 3-gram Jaccard ≥ 0.2 within a lang. */
  private val ngramJaccardOracleSql: String =
    """WITH sh AS (SELECT doc_id, lang,
      |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
      |  ELSE list_distinct(list_transform(
      |    range(1, len(string_split(text, ' ')) - 1),
      |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.sh, b.sh)) AS inter,
      |    len(a.sh) AS na, len(b.sh) AS nb
      |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, inter / (na + nb - inter) AS jaccard
      |FROM pairs WHERE inter / (na + nb - inter) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** d19 and d23: directional containment |A∩B|/|A| ≥ 0.6 over the same
    * shingle sets — all ordered pairs (a ≠ b), int/int double division
    * as in d04. */
  private val containmentOracleSql: String =
    """WITH sh AS (SELECT doc_id, lang,
      |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
      |  ELSE list_distinct(list_transform(
      |    range(1, len(string_split(text, ' ')) - 1),
      |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS na
      |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id
      |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
      |SELECT doc_a, doc_b, inter / na AS containment
      |FROM pairs WHERE inter / na >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin

  /** s01 (and s11's exact side): exhaustive top-5 cosine per query. */
  private val bruteKnnOracleSql: String =
    """WITH e AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |sims AS (
      |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |    list_dot_product(q.v, n.v) AS sim
      |  FROM e q JOIN e n ON q.vec_id <> n.vec_id
      |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
      |  FROM sims)
      |SELECT query_id, rank, neighbor_id, sim FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** s10: the MMR greedy unrolled round by round (the Lloyd-unroll recipe).
    * λ = 0.75 so both λ and 1−λ are binary-exact literals; every dot
    * product is the same ordered float sum [[graft.functions.DotProduct]]
    * computes, so scores agree bit-for-bit. */
  private def mmrOracleSql: String = {
    val rounds = (2 to 5).map { r =>
      val prev = s"sel${r - 1}"
      s"""c$r AS (SELECT sh.query_id, sh.neighbor_id, sh.rel, sh.v,
         |  0.75 * sh.rel - 0.25 * MAX(list_dot_product(sh.v, s.v)) AS score
         |  FROM sh JOIN $prev s USING (query_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |    WHERE x.query_id = sh.query_id
         |      AND x.neighbor_id = sh.neighbor_id)
         |  GROUP BY sh.query_id, sh.neighbor_id, sh.rel, sh.v),
         |p$r AS (SELECT query_id, $r AS pick_rank, neighbor_id, rel, v, score
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id ASC) AS rk FROM c$r)
         |  WHERE rk = 1),
         |sel$r AS (SELECT * FROM $prev UNION ALL
         |  SELECT query_id, pick_rank, neighbor_id, rel, v, score
         |  FROM p$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id IN (0, 1, 2, 3, 4)),
       |sh AS (SELECT query_id, neighbor_id, rel, v FROM (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    list_dot_product(q.v, n.v) AS rel, n.v AS v,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_dot_product(q.v, n.v) DESC, n.vec_id ASC) AS rk
       |  FROM q JOIN e n ON q.vec_id <> n.vec_id)
       |  WHERE rk <= 20),
       |sel1 AS (SELECT query_id, 1 AS pick_rank, neighbor_id, rel, v,
       |  0.75 * rel - 0.25 * 0.0 AS score FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rel DESC, neighbor_id ASC) AS rk FROM sh)
       |  WHERE rk = 1),
       |$rounds
       |SELECT query_id, pick_rank, neighbor_id, rel, score FROM sel5
       |ORDER BY query_id, pick_rank""".stripMargin
  }

  /** t11/d17 shared oracle: exact n-gram decontamination (the bloom
    * prefilter is output-identical, so both gates replay this SQL). */
  private val decontamOracleSql: String =
    """WITH sh AS (SELECT doc_id, source,
      |  CASE WHEN len(string_split(text, ' ')) < 5 THEN []
      |  ELSE list_distinct(list_transform(
      |    range(1, len(string_split(text, ' ')) - 3),
      |    i -> array_to_string((string_split(text, ' '))[i:i+4], ' '))) END AS sh
      |  FROM documents),
      |bench AS (SELECT list_distinct(flatten(list(sh))) AS bg
      |  FROM sh WHERE source = 'src0')
      |SELECT s.doc_id, CAST(len(s.sh) AS INTEGER) AS n_grams,
      |CAST(len(list_intersect(s.sh, b.bg)) AS BIGINT) AS hit_grams,
      |len(list_intersect(s.sh, b.bg)) > 0 AS contaminated
      |FROM sh s, bench b WHERE s.source <> 'src0'
      |ORDER BY s.doc_id""".stripMargin

  /** Horner uint32 from 8 UPPERCASE hex digits of expression `e` starting
    * at 1-based `start` (m05's phash halves). */
  private def hexHornerU(e: String, start: Int): String =
    (start until start + 8)
      .map(i => s"(instr('0123456789ABCDEF', substr($e, $i, 1)) - 1)")
      .reduce((a, b) => s"($a * 16 + $b)")

  /** First 8 hex digits of an md5 column `h` as a uint32 (Horner form —
    * DuckDB has no conv(); shared by the t18/t29 content-hash draws). */
  private val MD5_U_HORNER: String = (1 to 8)
    .map(i => s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1)")
    .reduce((a, b) => s"($a * 16 + $b)")

  /** m12/m14/m15 oracle: the μ-law clips' decoded ground truth — every
    * code byte re-expanded through the integer G.711 formula — behind
    * one parameterized recipe so the expansion, clip-length rule, and
    * feature arithmetic have a single source of truth. m12 checks the
    * direct decode (`fmt` 'ulaw'); m14 re-checks it THROUGH
    * [[graft.ops.Multimodal.transcodePcm16]] (lossless — only the
    * container geometry changes); m15 (`upsample2x`) interposes the 2×
    * linear upsample: originals at even positions, floor((v_i +
    * v_{i+1})/2) at odd ((a+b) is a small integer, /2.0 exact binary,
    * floor ≡ the engine's floorDiv), features over 2n−1 frames at
    * 16 kHz. */
  private def ulawOracleSql(fmt: String, nBytes: String,
      upsample2x: Boolean = false): String = {
    val expand = "CASE WHEN u >= 128" +
      " THEN 132 - ((((u & 15) * 8) + 132) << ((u >> 4) & 7))" +
      " ELSE ((((u & 15) * 8) + 132) << ((u >> 4) & 7)) - 132 END"
    val sampleCtes =
      if (upsample2x)
        s"""vv AS (SELECT doc_id, n, i,
           |  CAST($expand AS INTEGER) AS v FROM cd),
           |up AS (
           |  SELECT doc_id, n, 2 * i AS j, v FROM vv
           |  UNION ALL
           |  SELECT a.doc_id, a.n, 2 * a.i + 1 AS j,
           |    CAST(floor((a.v + b.v) / 2.0) AS INTEGER) AS v
           |  FROM vv a JOIN vv b
           |    ON b.doc_id = a.doc_id AND b.i = a.i + 1),
           |sv AS (SELECT doc_id, n, j AS i, v / 32768.0 AS s FROM up)"""
          .stripMargin
      else
        s"sv AS (SELECT doc_id, n, i, ($expand) / 32768.0 AS s FROM cd)"
    val frames = if (upsample2x) "(2 * n - 1)" else "n"
    val rate = if (upsample2x) "16000" else "8000"
    s"""WITH fr AS (
       |  SELECT doc_id, CAST(doc_id % 10 + 1 AS INTEGER) AS n,
       |    i.range AS i
       |  FROM documents CROSS JOIN range(0, 10) i
       |  WHERE i.range < doc_id % 10 + 1),
       |hb AS (SELECT doc_id, n, i,
       |  md5(CAST(doc_id AS VARCHAR) || ':u:' || CAST(i AS VARCHAR)) AS h
       |  FROM fr),
       |cd AS (SELECT doc_id, n, i,
       |  CAST(255 - (($MD5_U_HORNER) % 256) AS INTEGER) AS u FROM hb),
       |$sampleCtes,
       |tr AS (SELECT doc_id, n, s,
       |  CASE WHEN (s >= 0) !=
       |    (LAG(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
       |    THEN 1 ELSE 0 END AS zx
       |  FROM sv)
       |SELECT doc_id, $fmt AS format,
       |  CAST($rate AS INTEGER) AS sample_rate,
       |  CAST(1 AS INTEGER) AS channels,
       |  CAST($frames AS INTEGER) AS n_frames,
       |  CAST($nBytes AS INTEGER) AS n_bytes,
       |  sqrt(SUM(s * s) / $frames) AS rms,
       |  MAX(ABS(s)) AS peak,
       |  $frames / $rate.0 AS duration_sec,
       |  CAST(SUM(zx) AS DOUBLE) AS zero_crossings
       |FROM tr GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
  }

  /** m13 oracle: the IMA-ADPCM decode unrolled ONE CTE PER NIBBLE (the
    * Lloyd-unroll recipe applied to a sequential codec). The step tables
    * below are the oracle's OWN restatement of the public DVI/IMA spec —
    * independent of the engine's copy, so a transcription error on
    * either side fails the compare. Step k turns (pred_k, idx_k) +
    * nibble k into sample k+1: diff = step>>3 plus step>>2/step>>1/step
    * for the nibble's magnitude bits, sign off bit 3, predictor clamped
    * to int16, index clamped to [0, 88]. Clips are 1–10 samples → ≤ 9
    * unrolled steps; docs whose clip ended earlier carry state through
    * unchanged (LEFT JOIN gives a NULL nibble) and emit nothing. */
  private def adpcmOracleSql: String = {
    val steps = ("[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37," +
      "41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209," +
      "230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963," +
      "1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327," +
      "3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442," +
      "11487,12635,13899,15289,16818,18500,20350,22385,24623,27086," +
      "29794,32767]")
    val adj = "[-1,-1,-1,-1,2,4,6,8]"
    val stepCtes = (0 until 9).map { k =>
      s"""w$k AS (SELECT s.doc_id, s.n, s.pred, s.idx, nb.nib,
         |  CASE WHEN nb.nib IS NULL THEN 0
         |       ELSE ($steps)[s.idx + 1] END AS st
         |  FROM s$k s LEFT JOIN nb ON nb.doc_id = s.doc_id AND nb.i = $k),
         |s${k + 1} AS (SELECT doc_id, n,
         |  CASE WHEN nib IS NULL THEN pred
         |       ELSE GREATEST(-32768, LEAST(32767,
         |    pred + (CASE WHEN (nib & 8) != 0 THEN -1 ELSE 1 END) *
         |      ((st >> 3) + (CASE WHEN (nib & 1) != 0 THEN st >> 2 ELSE 0 END)
         |        + (CASE WHEN (nib & 2) != 0 THEN st >> 1 ELSE 0 END)
         |        + (CASE WHEN (nib & 4) != 0 THEN st ELSE 0 END)))) END AS pred,
         |  CASE WHEN nib IS NULL THEN idx
         |       ELSE GREATEST(0, LEAST(88, idx + ($adj)[(nib & 7) + 1]))
         |  END AS idx
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    val emits = (1 to 9).map(k =>
      s"  UNION ALL SELECT doc_id, n, $k AS i, pred FROM s$k WHERE n > $k")
      .mkString("\n")
    s"""WITH d AS (SELECT doc_id, CAST(doc_id % 10 + 1 AS INTEGER) AS n
       |  FROM documents),
       |hp AS (SELECT doc_id, n,
       |  md5(CAST(doc_id AS VARCHAR) || ':ap') AS h FROM d),
       |pp AS (SELECT doc_id, n,
       |  CAST(($MD5_U_HORNER) % 65536 - 32768 AS INTEGER) AS pred FROM hp),
       |hi AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':ai') AS h
       |  FROM d),
       |ii AS (SELECT doc_id, CAST(($MD5_U_HORNER) % 89 AS INTEGER) AS idx
       |  FROM hi),
       |nh AS (SELECT d.doc_id, i.range AS i,
       |  md5(CAST(d.doc_id AS VARCHAR) || ':a:' ||
       |      CAST(i.range AS VARCHAR)) AS h
       |  FROM d CROSS JOIN range(0, 9) i WHERE i.range < d.n - 1),
       |nb AS (SELECT doc_id, i, CAST(($MD5_U_HORNER) % 16 AS INTEGER)
       |  AS nib FROM nh),
       |s0 AS (SELECT pp.doc_id, pp.n, pp.pred, ii.idx
       |  FROM pp JOIN ii USING (doc_id)),
       |$stepCtes,
       |sm AS (
       |  SELECT doc_id, n, 0 AS i, pred FROM s0
       |$emits),
       |sv AS (SELECT doc_id, n, i, pred / 32768.0 AS s FROM sm),
       |tr AS (SELECT doc_id, n, s,
       |  CASE WHEN (s >= 0) !=
       |    (LAG(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
       |    THEN 1 ELSE 0 END AS zx
       |  FROM sv)
       |SELECT doc_id, 'adpcm' AS format,
       |  CAST(8000 AS INTEGER) AS sample_rate,
       |  CAST(1 AS INTEGER) AS channels, n AS n_frames,
       |  CAST(52 + n // 2 AS INTEGER) AS n_bytes,
       |  sqrt(SUM(s * s) / n) AS rms,
       |  MAX(ABS(s)) AS peak,
       |  n / 8000.0 AS duration_sec,
       |  CAST(SUM(zx) AS DOUBLE) AS zero_crossings
       |FROM tr GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
  }

  /** m17 oracle: the STEREO IMA-ADPCM decode — BOTH channels' sequential
    * recurrences unrolled one CTE per step (the m13 recipe with a dual
    * state vector), then the engine's mean channel mixdown s_i =
    * (p0_i + p1_i)/65536 (exact dyadic). The per-channel headers and
    * nibbles re-derive from the same md5 keys as the fixture generator
    * (":p<c>"/":i<c>"/":n<c>:<k>"), so a misparsed header stride or
    * 4-byte-word interleave on the engine side decodes different nibbles
    * and fails the hash. */
  private def adpcmStereoOracleSql: String = {
    val steps = ("[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37," +
      "41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209," +
      "230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963," +
      "1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327," +
      "3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442," +
      "11487,12635,13899,15289,16818,18500,20350,22385,24623,27086," +
      "29794,32767]")
    val adj = "[-1,-1,-1,-1,2,4,6,8]"
    def updPred(pred: String, nib: String, st: String): String =
      s"""CASE WHEN $nib IS NULL THEN $pred
         |       ELSE GREATEST(-32768, LEAST(32767,
         |    $pred + (CASE WHEN ($nib & 8) != 0 THEN -1 ELSE 1 END) *
         |      (($st >> 3) + (CASE WHEN ($nib & 1) != 0 THEN $st >> 2 ELSE 0 END)
         |        + (CASE WHEN ($nib & 2) != 0 THEN $st >> 1 ELSE 0 END)
         |        + (CASE WHEN ($nib & 4) != 0 THEN $st ELSE 0 END)))) END"""
        .stripMargin
    def updIdx(idx: String, nib: String): String =
      s"CASE WHEN $nib IS NULL THEN $idx ELSE GREATEST(0, LEAST(88, " +
        s"$idx + ($adj)[($nib & 7) + 1])) END"
    val stepCtes = (0 until 9).map { k =>
      s"""w$k AS (SELECT s.doc_id, s.n, s.p0, s.x0, s.p1, s.x1,
         |  a.nib AS nib0, bb.nib AS nib1,
         |  CASE WHEN a.nib IS NULL THEN 0 ELSE ($steps)[s.x0 + 1] END AS st0,
         |  CASE WHEN bb.nib IS NULL THEN 0 ELSE ($steps)[s.x1 + 1] END AS st1
         |  FROM s$k s
         |  LEFT JOIN nb0 a ON a.doc_id = s.doc_id AND a.i = $k
         |  LEFT JOIN nb1 bb ON bb.doc_id = s.doc_id AND bb.i = $k),
         |s${k + 1} AS (SELECT doc_id, n,
         |  ${updPred("p0", "nib0", "st0")} AS p0,
         |  ${updIdx("x0", "nib0")} AS x0,
         |  ${updPred("p1", "nib1", "st1")} AS p1,
         |  ${updIdx("x1", "nib1")} AS x1
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    val emits = (1 to 9).map(k =>
      s"  UNION ALL SELECT doc_id, n, $k AS i, p0, p1 FROM s$k WHERE n > $k")
      .mkString("\n")
    def chanCtes(c: Int): String =
      s"""hp$c AS (SELECT doc_id, n,
         |  md5(CAST(doc_id AS VARCHAR) || ':p$c') AS h FROM d),
         |pp$c AS (SELECT doc_id, n,
         |  CAST(($MD5_U_HORNER) % 65536 - 32768 AS INTEGER) AS pred
         |  FROM hp$c),
         |hi$c AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':i$c')
         |  AS h FROM d),
         |ii$c AS (SELECT doc_id, CAST(($MD5_U_HORNER) % 89 AS INTEGER)
         |  AS idx FROM hi$c),
         |nh$c AS (SELECT d.doc_id, i.range AS i,
         |  md5(CAST(d.doc_id AS VARCHAR) || ':n$c:' ||
         |      CAST(i.range AS VARCHAR)) AS h
         |  FROM d CROSS JOIN range(0, 9) i WHERE i.range < d.n - 1),
         |nb$c AS (SELECT doc_id, i, CAST(($MD5_U_HORNER) % 16 AS INTEGER)
         |  AS nib FROM nh$c)""".stripMargin
    s"""WITH d AS (SELECT doc_id, CAST(doc_id % 10 + 1 AS INTEGER) AS n
       |  FROM documents),
       |${chanCtes(0)},
       |${chanCtes(1)},
       |s0 AS (SELECT p0.doc_id, p0.n, p0.pred AS p0, i0.idx AS x0,
       |  p1.pred AS p1, i1.idx AS x1
       |  FROM pp0 p0 JOIN ii0 i0 USING (doc_id)
       |  JOIN pp1 p1 USING (doc_id) JOIN ii1 i1 ON i1.doc_id = p0.doc_id),
       |$stepCtes,
       |sm AS (
       |  SELECT doc_id, n, 0 AS i, p0, p1 FROM s0
       |$emits),
       |sv AS (SELECT doc_id, n, i, (p0 + p1) / 65536.0 AS s FROM sm),
       |tr AS (SELECT doc_id, n, s,
       |  CASE WHEN (s >= 0) !=
       |    (LAG(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
       |    THEN 1 ELSE 0 END AS zx
       |  FROM sv)
       |SELECT doc_id, 'adpcm2' AS format,
       |  CAST(8000 AS INTEGER) AS sample_rate,
       |  CAST(2 AS INTEGER) AS channels, n AS n_frames,
       |  CAST(56 + 8 * ((n + 6) // 8) AS INTEGER) AS n_bytes,
       |  sqrt(SUM(s * s) / n) AS rms,
       |  MAX(ABS(s)) AS peak,
       |  n / 8000.0 AS duration_sec,
       |  CAST(SUM(zx) AS DOUBLE) AS zero_crossings
       |FROM tr GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
  }

  /** m18 oracle: the MS-ADPCM decode unrolled one CTE per nibble from
    * the oracle's OWN restatement of the public coefficient/adaptation
    * tables. State per step: (s1, s2, delta); step k computes
    * pred = floor((s1·c1 + s2·c2)/256) + signed4(nibble)·delta (clamped
    * to int16), shifts the sample window, and updates delta =
    * max(16, (adapt[nibble]·delta)//256). Clips are 2–11 samples: i=0
    * emits the header's iSamp2 (the OLDER sample), i=1 iSamp1, then one
    * step per nibble — ≤ 9 unrolled steps; floor(x/256.0) on an exact
    * small integer ≡ the engine's arithmetic >> 8. */
  private def msAdpcmOracleSql: String = {
    val adapt = "[230,230,230,230,307,409,512,614,768,614,512,409,307," +
      "230,230,230]"
    val c1s = "[256,512,0,192,240,460,392]"
    val c2s = "[0,-256,0,64,0,-208,-232]"
    val stepCtes = (0 until 9).map { k =>
      s"""w$k AS (SELECT s.doc_id, s.n, s.c1, s.c2, s.s1, s.s2, s.dl,
         |  nb.nib
         |  FROM s$k s LEFT JOIN nb ON nb.doc_id = s.doc_id AND nb.i = $k),
         |s${k + 1} AS (SELECT doc_id, n, c1, c2,
         |  CASE WHEN nib IS NULL THEN s1
         |       ELSE GREATEST(-32768, LEAST(32767,
         |    CAST(floor((s1 * c1 + s2 * c2) / 256.0) AS INTEGER) +
         |    (CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END) * dl)) END AS s1,
         |  CASE WHEN nib IS NULL THEN s2 ELSE s1 END AS s2,
         |  CASE WHEN nib IS NULL THEN dl
         |       ELSE GREATEST(16, (($adapt)[nib + 1] * dl) // 256) END AS dl
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    val emits = (1 to 9).map(k =>
      s"  UNION ALL SELECT doc_id, n, ${k + 1} AS i, s1 AS v FROM s$k" +
        s" WHERE n > ${k + 1}")
      .mkString("\n")
    s"""WITH d AS (SELECT doc_id, CAST(doc_id % 10 + 2 AS INTEGER) AS n
       |  FROM documents),
       |hb AS (SELECT doc_id, n,
       |  md5(CAST(doc_id AS VARCHAR) || ':mb') AS h FROM d),
       |bp AS (SELECT doc_id, n,
       |  CAST(($MD5_U_HORNER) % 7 AS INTEGER) AS b FROM hb),
       |hd AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':md') AS h
       |  FROM d),
       |dd AS (SELECT doc_id, CAST(($MD5_U_HORNER) % 32768 AS INTEGER)
       |  AS dl FROM hd),
       |h1 AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':m1') AS h
       |  FROM d),
       |m1 AS (SELECT doc_id, CAST(($MD5_U_HORNER) % 65536 - 32768
       |  AS INTEGER) AS s1 FROM h1),
       |h2 AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':m2') AS h
       |  FROM d),
       |m2 AS (SELECT doc_id, CAST(($MD5_U_HORNER) % 65536 - 32768
       |  AS INTEGER) AS s2 FROM h2),
       |nh AS (SELECT d.doc_id, i.range AS i,
       |  md5(CAST(d.doc_id AS VARCHAR) || ':mn:' ||
       |      CAST(i.range AS VARCHAR)) AS h
       |  FROM d CROSS JOIN range(0, 9) i WHERE i.range < d.n - 2),
       |nb AS (SELECT doc_id, i, CAST(($MD5_U_HORNER) % 16 AS INTEGER)
       |  AS nib FROM nh),
       |s0 AS (SELECT bp.doc_id, bp.n,
       |  ($c1s)[bp.b + 1] AS c1, ($c2s)[bp.b + 1] AS c2,
       |  m1.s1, m2.s2, dd.dl
       |  FROM bp JOIN dd USING (doc_id) JOIN m1 USING (doc_id)
       |  JOIN m2 ON m2.doc_id = bp.doc_id),
       |$stepCtes,
       |sm AS (
       |  SELECT doc_id, n, 0 AS i, s2 AS v FROM s0
       |  UNION ALL SELECT doc_id, n, 1 AS i, s1 AS v FROM s0
       |$emits),
       |sv AS (SELECT doc_id, n, i, v / 32768.0 AS s FROM sm),
       |tr AS (SELECT doc_id, n, s,
       |  CASE WHEN (s >= 0) !=
       |    (LAG(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
       |    THEN 1 ELSE 0 END AS zx
       |  FROM sv)
       |SELECT doc_id, 'msadpcm' AS format,
       |  CAST(8000 AS INTEGER) AS sample_rate,
       |  CAST(1 AS INTEGER) AS channels, n AS n_frames,
       |  CAST(85 + (n - 1) // 2 AS INTEGER) AS n_bytes,
       |  sqrt(SUM(s * s) / n) AS rms,
       |  MAX(ABS(s)) AS peak,
       |  n / 8000.0 AS duration_sec,
       |  CAST(SUM(zx) AS DOUBLE) AS zero_crossings
       |FROM tr GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
  }

  /** m19 oracle: the STEREO MS-ADPCM decode — both channels' (s1, s2,
    * delta) recurrences unrolled one CTE per frame from the oracle's own
    * tables (the m18 recipe with a dual state vector), then the engine's
    * mean mixdown (v0 + v1)/65536. Channel headers and nibbles re-derive
    * from the fixture's md5 keys (":sb<c>"/":sd<c>"/":s1<c>"/":s2<c>"/
    * ":sn<c>:<k>"); hi-nibble = channel 0 per the WAVE stereo packing. */
  private def msAdpcmStereoOracleSql: String = {
    val adapt = "[230,230,230,230,307,409,512,614,768,614,512,409,307," +
      "230,230,230]"
    val c1s = "[256,512,0,192,240,460,392]"
    val c2s = "[0,-256,0,64,0,-208,-232]"
    def upd(ch: String, nib: String): String =
      s"""  CASE WHEN $nib IS NULL THEN s1$ch
         |       ELSE GREATEST(-32768, LEAST(32767,
         |    CAST(floor((s1$ch * c1$ch + s2$ch * c2$ch) / 256.0) AS INTEGER) +
         |    (CASE WHEN $nib >= 8 THEN $nib - 16 ELSE $nib END) * dl$ch))
         |  END AS s1$ch,
         |  CASE WHEN $nib IS NULL THEN s2$ch ELSE s1$ch END AS s2$ch,
         |  CASE WHEN $nib IS NULL THEN dl$ch
         |       ELSE GREATEST(16, (($adapt)[$nib + 1] * dl$ch) // 256)
         |  END AS dl$ch""".stripMargin
    val stepCtes = (0 until 9).map { k =>
      s"""w$k AS (SELECT s.*, nb.nib0, nb.nib1
         |  FROM s$k s LEFT JOIN nb ON nb.doc_id = s.doc_id AND nb.i = $k),
         |s${k + 1} AS (SELECT doc_id, n, c1a, c2a, c1b, c2b,
         |${upd("a", "nib0")},
         |${upd("b", "nib1")}
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    val emits = (1 to 9).map(k =>
      s"  UNION ALL SELECT doc_id, n, ${k + 1} AS i, s1a + s1b AS v" +
        s" FROM s$k WHERE n > ${k + 1}")
      .mkString("\n")
    def hdr(key: String, expr: String, alias: String): String =
      s"""h_$alias AS (SELECT doc_id, n,
         |  md5(CAST(doc_id AS VARCHAR) || ':$key') AS h FROM d),
         |v_$alias AS (SELECT doc_id, n, CAST($expr AS INTEGER) AS $alias
         |  FROM h_$alias)""".stripMargin
    val hdrs = Seq(
      hdr("sb0", s"($MD5_U_HORNER) % 7", "ba"),
      hdr("sb1", s"($MD5_U_HORNER) % 7", "bb"),
      hdr("sd0", s"($MD5_U_HORNER) % 32768", "dla"),
      hdr("sd1", s"($MD5_U_HORNER) % 32768", "dlb"),
      hdr("s10", s"($MD5_U_HORNER) % 65536 - 32768", "s1a"),
      hdr("s11", s"($MD5_U_HORNER) % 65536 - 32768", "s1b"),
      hdr("s20", s"($MD5_U_HORNER) % 65536 - 32768", "s2a"),
      hdr("s21", s"($MD5_U_HORNER) % 65536 - 32768", "s2b")
    ).mkString(",\n")
    s"""WITH d AS (SELECT doc_id, CAST(doc_id % 10 + 2 AS INTEGER) AS n
       |  FROM documents),
       |$hdrs,
       |nh AS (SELECT d.doc_id, i.range AS i,
       |  md5(CAST(d.doc_id AS VARCHAR) || ':sn0:' ||
       |      CAST(i.range AS VARCHAR)) AS h0,
       |  md5(CAST(d.doc_id AS VARCHAR) || ':sn1:' ||
       |      CAST(i.range AS VARCHAR)) AS h1
       |  FROM d CROSS JOIN range(0, 9) i WHERE i.range < d.n - 2),
       |nb AS (SELECT doc_id, i,
       |  CAST((${MD5_U_HORNER.replace("substr(h,", "substr(h0,")}) % 16
       |    AS INTEGER) AS nib0,
       |  CAST((${MD5_U_HORNER.replace("substr(h,", "substr(h1,")}) % 16
       |    AS INTEGER) AS nib1 FROM nh),
       |s0 AS (SELECT ba.doc_id, ba.n,
       |  ($c1s)[ba.ba + 1] AS c1a, ($c2s)[ba.ba + 1] AS c2a,
       |  ($c1s)[bb.bb + 1] AS c1b, ($c2s)[bb.bb + 1] AS c2b,
       |  s1a.s1a, s2a.s2a, dla.dla AS dla,
       |  s1b.s1b, s2b.s2b, dlb.dlb AS dlb
       |  FROM v_ba ba JOIN v_bb bb USING (doc_id)
       |  JOIN v_dla dla USING (doc_id) JOIN v_dlb dlb USING (doc_id)
       |  JOIN v_s1a s1a USING (doc_id) JOIN v_s1b s1b USING (doc_id)
       |  JOIN v_s2a s2a USING (doc_id)
       |  JOIN v_s2b s2b ON s2b.doc_id = ba.doc_id),
       |$stepCtes,
       |sm AS (
       |  SELECT doc_id, n, 0 AS i, s2a + s2b AS v FROM s0
       |  UNION ALL SELECT doc_id, n, 1 AS i, s1a + s1b AS v FROM s0
       |$emits),
       |sv AS (SELECT doc_id, n, i, v / 65536.0 AS s FROM sm),
       |tr AS (SELECT doc_id, n, s,
       |  CASE WHEN (s >= 0) !=
       |    (LAG(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
       |    THEN 1 ELSE 0 END AS zx
       |  FROM sv)
       |SELECT doc_id, 'msadpcm2' AS format,
       |  CAST(8000 AS INTEGER) AS sample_rate,
       |  CAST(2 AS INTEGER) AS channels, n AS n_frames,
       |  CAST(90 + n AS INTEGER) AS n_bytes,
       |  sqrt(SUM(s * s) / n) AS rms,
       |  MAX(ABS(s)) AS peak,
       |  n / 8000.0 AS duration_sec,
       |  CAST(SUM(zx) AS DOUBLE) AS zero_crossings
       |FROM tr GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
  }

  /** m20/m21 oracle: the FLAC fixture's decoded ground truth — sample 0
    * is the warmup, sample i is warmup + the running residual sum (the
    * FIXED-order-1 recurrence collapses to one window SUM), every value
    * re-derived from the generator's md5 keys. m20 checks the direct
    * decode (`fmt` 'flac', fixed 200-byte stream); m21 re-checks it
    * THROUGH transcodePcm16 (lossless — only the container geometry
    * changes to the canonical 44 + 2n-byte WAV). */
  private def flacOracleSql(fmt: String, nBytes: String): String =
    s"""WITH d AS (SELECT doc_id, CAST(doc_id % 10 + 2 AS INTEGER) AS n
       |  FROM documents),
       |hw AS (SELECT doc_id, n,
       |  md5(CAST(doc_id AS VARCHAR) || ':fw') AS h FROM d),
       |w0 AS (SELECT doc_id, n,
       |  CAST(($MD5_U_HORNER) % 2000 - 1000 AS INTEGER) AS s0 FROM hw),
       |rh AS (SELECT d.doc_id, i.range AS i,
       |  md5(CAST(d.doc_id AS VARCHAR) || ':fr:' ||
       |      CAST(i.range AS VARCHAR)) AS h
       |  FROM d CROSS JOIN range(0, 10) i WHERE i.range < d.n - 1),
       |rs AS (SELECT doc_id, i,
       |  CAST(($MD5_U_HORNER) % 64 - 32 AS INTEGER) AS r FROM rh),
       |cum AS (SELECT doc_id, i + 1 AS i,
       |  SUM(r) OVER (PARTITION BY doc_id ORDER BY i) AS c FROM rs),
       |sm AS (
       |  SELECT doc_id, n, 0 AS i, CAST(s0 AS BIGINT) AS v FROM w0
       |  UNION ALL
       |  SELECT c.doc_id, w.n, c.i, w.s0 + c.c AS v
       |  FROM cum c JOIN w0 w USING (doc_id)),
       |sv AS (SELECT doc_id, n, i, v / 32768.0 AS s FROM sm),
       |tr AS (SELECT doc_id, n, s,
       |  CASE WHEN (s >= 0) !=
       |    (LAG(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
       |    THEN 1 ELSE 0 END AS zx
       |  FROM sv)
       |SELECT doc_id, $fmt AS format,
       |  CAST(8000 AS INTEGER) AS sample_rate,
       |  CAST(1 AS INTEGER) AS channels, n AS n_frames,
       |  CAST($nBytes AS INTEGER) AS n_bytes,
       |  sqrt(SUM(s * s) / n) AS rms,
       |  MAX(ABS(s)) AS peak,
       |  n / 8000.0 AS duration_sec,
       |  CAST(SUM(zx) AS DOUBLE) AS zero_crossings
       |FROM tr GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  /** m22 oracle: 24-bit FLAC decoded ground truth. Mono (even) docs are
    * the m20 running-sum recipe at depth — s_i = v_i / 2^23. Stereo
    * (odd) docs reconstruct the left/side decorrelation's mean mixdown
    * in closed form: R_i = L_i − side, so mix_i = L_i − side/2. Every
    * feature sum is exact dyadic arithmetic (s² numerators ≤ 2^44, ≤ 11
    * terms → partial sums fit 53 bits), so both engines' doubles agree
    * bit-for-bit with no quantization. */
  private def flac24OracleSql: String =
    s"""WITH d AS (SELECT doc_id, CAST(doc_id % 10 + 2 AS INTEGER) AS n,
       |  doc_id % 2 = 1 AS st FROM documents),
       |hw AS (SELECT doc_id, n, st,
       |  md5(CAST(doc_id AS VARCHAR) || ':g24w') AS h FROM d),
       |w0 AS (SELECT doc_id, n, st,
       |  CAST(($MD5_U_HORNER) % 2000000 - 1000000 AS BIGINT) AS s0 FROM hw),
       |hs AS (SELECT doc_id,
       |  md5(CAST(doc_id AS VARCHAR) || ':g24s') AS h FROM d),
       |sd AS (SELECT doc_id,
       |  CAST(($MD5_U_HORNER) % 40000 - 20000 AS BIGINT) AS side FROM hs),
       |rh AS (SELECT d.doc_id, i.range AS i,
       |  md5(CAST(d.doc_id AS VARCHAR) || ':g24r:' ||
       |      CAST(i.range AS VARCHAR)) AS h
       |  FROM d CROSS JOIN range(0, 10) i WHERE i.range < d.n - 1),
       |rs AS (SELECT doc_id, i,
       |  CAST(($MD5_U_HORNER) % 64 - 32 AS INTEGER) AS r FROM rh),
       |cum AS (SELECT doc_id, i + 1 AS i,
       |  SUM(r) OVER (PARTITION BY doc_id ORDER BY i) AS c FROM rs),
       |sm AS (
       |  SELECT doc_id, n, st, 0 AS i, CAST(s0 AS BIGINT) AS v FROM w0
       |  UNION ALL
       |  SELECT c.doc_id, w.n, w.st, c.i, w.s0 + c.c AS v
       |  FROM cum c JOIN w0 w USING (doc_id)),
       |sv AS (SELECT s.doc_id, s.n, s.st, s.i,
       |  (s.v - CASE WHEN s.st THEN sd.side / 2.0 ELSE 0.0 END)
       |    / 8388608.0 AS s
       |  FROM sm s JOIN sd USING (doc_id)),
       |tr AS (SELECT doc_id, n, st, s,
       |  CASE WHEN (s >= 0) !=
       |    (LAG(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
       |    THEN 1 ELSE 0 END AS zx
       |  FROM sv)
       |SELECT doc_id, 'flac' AS format,
       |  CAST(8000 AS INTEGER) AS sample_rate,
       |  CAST(CASE WHEN st THEN 2 ELSE 1 END AS INTEGER) AS channels,
       |  n AS n_frames, CAST(300 AS INTEGER) AS n_bytes,
       |  sqrt(SUM(s * s) / n) AS rms,
       |  MAX(ABS(s)) AS peak,
       |  n / 8000.0 AS duration_sec,
       |  CAST(SUM(zx) AS DOUBLE) AS zero_crossings
       |FROM tr GROUP BY doc_id, n, st ORDER BY doc_id""".stripMargin

  /** m23 oracle: 32-bit FLAC decoded ground truth. The fixture scales
    * everything by 256, so the dyadic sample value is s = v / 2³¹ =
    * u / 2²³ with u small enough that every square and partial sum is
    * exactly representable (the m22 argument one octave up). Mono (even)
    * docs: u₀ = m_w mod 16,000,000 − 8,000,000 plus the residual running
    * sum. Stereo (odd) docs: u₀ = 2²³−1−a and the mixdown subtracts
    * side_u/2 = (2²⁴−1−a−b)/2 (a = m_w mod 1000 + 320, b = m_s mod 1000
    * + 320) — the closed form of L − side/2 where side exceeds 2³¹ in
    * the v domain. */
  private def flac32OracleSql: String =
    s"""WITH d AS (SELECT doc_id, CAST(doc_id % 10 + 2 AS INTEGER) AS n,
       |  doc_id % 2 = 1 AS st FROM documents),
       |hw AS (SELECT doc_id, n, st,
       |  md5(CAST(doc_id AS VARCHAR) || ':g32w') AS h FROM d),
       |mw AS (SELECT doc_id, n, st,
       |  CAST(($MD5_U_HORNER) AS BIGINT) AS m FROM hw),
       |hs AS (SELECT doc_id,
       |  md5(CAST(doc_id AS VARCHAR) || ':g32s') AS h FROM d),
       |ms AS (SELECT doc_id,
       |  CAST(($MD5_U_HORNER) AS BIGINT) AS m FROM hs),
       |w0 AS (SELECT w.doc_id, w.n, w.st,
       |  CASE WHEN w.st THEN 8388607 - (w.m % 1000 + 320)
       |       ELSE w.m % 16000000 - 8000000 END AS s0,
       |  CASE WHEN w.st THEN
       |    (16777215 - (w.m % 1000 + 320) - (s.m % 1000 + 320)) / 2.0
       |       ELSE 0.0 END AS halfside
       |  FROM mw w JOIN ms s USING (doc_id)),
       |rh AS (SELECT d.doc_id, i.range AS i,
       |  md5(CAST(d.doc_id AS VARCHAR) || ':g32r:' ||
       |      CAST(i.range AS VARCHAR)) AS h
       |  FROM d CROSS JOIN range(0, 10) i WHERE i.range < d.n - 1),
       |rs AS (SELECT doc_id, i,
       |  CAST(($MD5_U_HORNER) % 64 - 32 AS INTEGER) AS r FROM rh),
       |cum AS (SELECT doc_id, i + 1 AS i,
       |  SUM(r) OVER (PARTITION BY doc_id ORDER BY i) AS c FROM rs),
       |sm AS (
       |  SELECT doc_id, n, st, 0 AS i, CAST(s0 AS BIGINT) AS v,
       |    halfside FROM w0
       |  UNION ALL
       |  SELECT c.doc_id, w.n, w.st, c.i, w.s0 + c.c AS v, w.halfside
       |  FROM cum c JOIN w0 w USING (doc_id)),
       |sv AS (SELECT doc_id, n, st, i,
       |  (v - halfside) / 8388608.0 AS s FROM sm),
       |tr AS (SELECT doc_id, n, st, s,
       |  CASE WHEN (s >= 0) !=
       |    (LAG(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
       |    THEN 1 ELSE 0 END AS zx
       |  FROM sv)
       |SELECT doc_id, 'flac' AS format,
       |  CAST(8000 AS INTEGER) AS sample_rate,
       |  CAST(CASE WHEN st THEN 2 ELSE 1 END AS INTEGER) AS channels,
       |  n AS n_frames, CAST(420 AS INTEGER) AS n_bytes,
       |  sqrt(SUM(s * s) / n) AS rms,
       |  MAX(ABS(s)) AS peak,
       |  n / 8000.0 AS duration_sec,
       |  CAST(SUM(zx) AS DOUBLE) AS zero_crossings
       |FROM tr GROUP BY doc_id, n, st ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = ListMap(
    "q01_returnflag_agg" ->
      s"""SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
         |${sumd("l_quantity", "sum_qty")}, ${sumd("l_extendedprice", "gross")},
         |${sumd(REV, "revenue")},
         |${sumd("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", "charge")},
         |COUNT(1) AS cnt, ${avgd("l_discount", "avg_disc")}
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_star_drilldown" ->
      s"""SELECT r_regionkey AS region, r_name AS region_label,
         |p_brand AS brand, ${sumd(REV, "revenue")}, ${sumd("l_quantity", "sum_qty")}
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    // q87: Generate + TOPPERCENT — per-region minimal 40%-coverage brand
    // prefix; the oracle replays the partitioned DECIMAL(27,6) cumulative
    // windows (VARCHAR-hop casts) and the cum_before < limit comparator
    "q87_mdx_generate_pct" ->
      s"""WITH b AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |  p_brand AS brand, ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3),
         |w AS (SELECT region, region_label, brand, revenue,
         |  COALESCE(CAST(SUM(CAST(CAST(revenue AS VARCHAR)
         |    AS DECIMAL(27,6))) OVER (PARTITION BY region
         |    ORDER BY revenue DESC, brand ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE),
         |    0.0) AS cum_before,
         |  CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6)))
         |    OVER (PARTITION BY region) AS DOUBLE) AS total,
         |  ROW_NUMBER() OVER (PARTITION BY region
         |    ORDER BY revenue DESC, brand ASC) AS rk
         |  FROM b)
         |SELECT region, region_label, brand, revenue FROM w
         |WHERE cum_before < 40.0 / 100.0 * total
         |ORDER BY region, rk""".stripMargin,
    // q91: FILTER composed inside TOPCOUNT — the HAVING prunes the
    // (region, brand) pairs before the per-region rank, so the top-2 is
    // of the filtered set (avg_disc is the scale-invariant gate)
    "q91_mdx_generate_topfilter" ->
      s"""WITH base AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |  p_brand AS brand, ${sumd(REV, "revenue")},
         |  ${avgd("l_discount", "avg_disc")}
         |  $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3),
         |flt AS (SELECT * FROM base WHERE avg_disc > 0.05),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY region
         |    ORDER BY revenue DESC, brand ASC) AS rk FROM flt)
         |SELECT region, region_label, brand, revenue FROM ranked
         |WHERE rk <= 2 ORDER BY region, rk""".stripMargin,
    // q90: Generate + inner ORDER — every (region, brand) tuple, region
    // blocks sorted by revenue desc (brand asc tiebreak), no truncation
    "q90_mdx_generate_order" ->
      s"""WITH base AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |  p_brand AS brand, ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY region
         |    ORDER BY revenue DESC, brand ASC) AS rk FROM base)
         |SELECT region, region_label, brand, revenue FROM ranked
         |ORDER BY region, rk""".stripMargin,
    // q89: Generate + inner FILTER — per-region HAVING on the (region,
    // brand) aggregation; hierarchical default order (region, brand)
    "q89_mdx_generate_filter" ->
      s"""SELECT r_regionkey AS region, r_name AS region_label,
         |p_brand AS brand, ${sumd(REV, "revenue")}
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY 1, 2, 3
         |HAVING CAST(SUM(CAST(($REV) AS DECIMAL(27,6))) AS DOUBLE)
         |  > 2300000.0
         |ORDER BY 1, 3""".stripMargin,
    // q88: Extract projects away the Nation drill; the slicer still cuts,
    // so this is brand revenue within region 2
    "q88_mdx_extract" ->
      s"""SELECT p_brand AS brand, ${sumd(REV, "revenue")}
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |WHERE r_regionkey = 2
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q86: Generate(Region.Members, TopCount(Brand.Members, 3, Revenue))
    // — per-region top-3 brands; the oracle replays the GroupedTopK
    // ranking (measure desc, member key asc tiebreak) with a window and
    // keeps each region block in rank order like the axis does
    "q86_mdx_generate" ->
      s"""WITH base AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |  p_brand AS brand, ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY region
         |    ORDER BY revenue DESC, brand ASC) AS rk FROM base)
         |SELECT region, region_label, brand, revenue FROM ranked
         |WHERE rk <= 3 ORDER BY region, rk""".stripMargin,
    "q03_crossjoin_3d" ->
      s"""SELECT r_regionkey AS region, r_name AS region_label,
         |l_returnflag AS return_flag,
         |CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |${sumd(REV, "revenue")}, COUNT(1) AS cnt
         |$SUPP_GEO_JOIN
         |GROUP BY 1, 2, 3, 4 ORDER BY 1, 3, 4""".stripMargin,
    "q04_cut_member" ->
      s"""SELECT n_nationkey AS nation, n_name AS nation_label,
         |${sumd(REV, "revenue")}
         |$SUPP_GEO_JOIN
         |WHERE r_regionkey = 2 GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q05_cut_set" ->
      s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |${sumd(REV, "revenue")}, COUNT(1) AS cnt
         |FROM lineitem WHERE l_returnflag IN ('A', 'R')
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q06_cut_range" ->
      s"""SELECT p_brand AS brand, ${sumd(REV, "revenue")}
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE year(l_shipdate) BETWEEN 1996 AND 1998
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_descendants" ->
      s"""SELECT s_suppkey AS supplier, s_name AS supplier_label,
         |${sumd(REV, "revenue")}, COUNT(1) AS cnt
         |$SUPP_GEO_JOIN
         |WHERE r_regionkey = 3 GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q08_having" ->
      s"""SELECT p_brand AS brand, ${sumd(REV, "revenue")}, COUNT(1) AS cnt
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 HAVING CAST(SUM(CAST(($REV) AS DECIMAL(27,6))) AS DOUBLE) > 10000000.0
         |ORDER BY 1""".stripMargin,
    "q09_order_topk" ->
      s"""SELECT brand, revenue FROM (
         |SELECT p_brand AS brand, ${sumd(REV, "revenue")}
         |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
         |ORDER BY revenue DESC, brand ASC LIMIT 10""".stripMargin,
    "q10_offset_limit" ->
      s"""SELECT s_suppkey AS supplier, s_name AS supplier_label,
         |${sumd(REV, "revenue")}
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1, 2 ORDER BY 1 LIMIT 4 OFFSET 3""".stripMargin,
    "q11_dense_axes" ->
      """WITH agg AS (
        |  SELECT CAST(ts AS DATE) AS event_day, event_type,
        |    CAST(SUM(CAST(CAST((value) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS value_sum,
        |    COUNT(1) AS event_count
        |  FROM events GROUP BY 1, 2)
        |SELECT d.event_day, t.event_type, a.value_sum, a.event_count
        |FROM (SELECT DISTINCT CAST(ts AS DATE) AS event_day FROM events) d
        |CROSS JOIN (SELECT DISTINCT event_type FROM events) t
        |LEFT JOIN agg a USING (event_day, event_type)
        |ORDER BY 1, 2""".stripMargin,
    "q12_sparse" ->
      """WITH agg AS (
        |  SELECT CAST(ts AS DATE) AS event_day, event_type,
        |    CAST(SUM(CAST(CAST((value) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS value_sum,
        |    COUNT(1) AS event_count
        |  FROM events GROUP BY 1, 2),
        |dense AS (
        |  SELECT d.event_day, t.event_type, a.value_sum, a.event_count
        |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS event_day FROM events) d
        |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
        |  LEFT JOIN agg a USING (event_day, event_type))
        |SELECT * FROM dense
        |WHERE value_sum IS NOT NULL OR event_count IS NOT NULL
        |ORDER BY 1, 2""".stripMargin,
    "q13_distinct_count" ->
      s"""SELECT r_regionkey AS region, r_name AS region_label,
         |COUNT(DISTINCT l_orderkey) AS order_cnt, COUNT(1) AS cnt
         |$SUPP_GEO_JOIN
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q14_expr_measure" ->
      s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |${sumd("CASE WHEN l_discount > 0.05 THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", "promo_rev")},
         |${sumd(REV, "revenue")}
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_calc_member" ->
      s"""WITH agg AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    ${sumd("l_extendedprice", "gross")},
         |    ${sumd("l_extendedprice * l_discount", "disc_amt")}
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2)
         |SELECT region, region_label, gross - disc_amt AS net,
         |disc_amt / gross AS disc_rate, gross
         |FROM agg ORDER BY region""".stripMargin,
    "q16_time_lag" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1, 2),
         |lagd AS (
         |  SELECT ship_year, ship_month, revenue,
         |    lag(revenue) OVER (ORDER BY ship_year, ship_month) AS prev_revenue
         |  FROM agg)
         |SELECT ship_year, ship_month, revenue, prev_revenue,
         |CASE WHEN prev_revenue = 0.0 OR prev_revenue IS NULL THEN NULL
         |ELSE (revenue - prev_revenue) / prev_revenue END AS revenue_growth
         |FROM lagd ORDER BY ship_year, ship_month""".stripMargin,
    // q42: PARALLELPERIOD = lag 12 over the month axis (same semantics as
    // the planner: lag over aggregated-axis member order)
    "q42_parallel_period" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1, 2),
         |lagd AS (
         |  SELECT ship_year, ship_month, revenue,
         |    lag(revenue, 12) OVER (ORDER BY ship_year, ship_month)
         |      AS yoy_prev_revenue
         |  FROM agg)
         |SELECT ship_year, ship_month, revenue, yoy_prev_revenue,
         |CASE WHEN yoy_prev_revenue = 0.0 OR yoy_prev_revenue IS NULL
         |THEN NULL
         |ELSE (revenue - yoy_prev_revenue) / yoy_prev_revenue END
         |  AS yoy_growth
         |FROM lagd ORDER BY ship_year, ship_month""".stripMargin,
    // q48: the YTD window re-quantizes the aggregated double through
    // DECIMAL(27,6) (VARCHAR hop) exactly like the planner's applyCum
    "q48_ytd" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1, 2)
         |SELECT ship_year, ship_month, revenue,
         |CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6))) OVER (
         |  PARTITION BY ship_year ORDER BY ship_year, ship_month
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |  AS ytd_revenue
         |FROM agg ORDER BY ship_year, ship_month""".stripMargin,
    // q54: DOMAIN lag — windows run over the full month domain, the cut
    // filters the AXIS afterwards (lag at Apr = the cut-away Mar; Ytd
    // includes it)
    "q54_lag_gap_cut" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1, 2),
         |w AS (
         |  SELECT ship_year, ship_month, revenue,
         |    lag(revenue) OVER (ORDER BY ship_year, ship_month)
         |      AS prev_revenue,
         |    CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6))) OVER (
         |      PARTITION BY ship_year ORDER BY ship_year, ship_month
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |      AS ytd_revenue
         |  FROM agg)
         |SELECT ship_year, ship_month, revenue, prev_revenue,
         |CASE WHEN prev_revenue = 0.0 OR prev_revenue IS NULL THEN NULL
         |ELSE (revenue - prev_revenue) / prev_revenue END AS revenue_growth,
         |ytd_revenue
         |FROM w WHERE ship_month IN (1, 2, 4)
         |ORDER BY ship_year, ship_month""".stripMargin,
    // q55: dense axes + lag — the lag runs over the (user × calendar-day)
    // spine BEFORE the dense left-join shape, so filler cells carry the
    // domain-lag value and the null-safe growth ratio
    "q55_dense_lag" ->
      s"""WITH agg AS (
         |  SELECT user_id AS "user", CAST(ts AS DATE) AS event_day,
         |    ${sumd("value", "value_sum")}
         |  FROM events GROUP BY 1, 2),
         |users AS (SELECT DISTINCT "user" FROM agg),
         |days AS (SELECT DISTINCT event_day FROM agg),
         |spine AS (SELECT "user", event_day FROM users CROSS JOIN days),
         |w AS (
         |  SELECT s."user", s.event_day, a.value_sum,
         |    lag(a.value_sum) OVER (PARTITION BY s."user"
         |      ORDER BY s.event_day) AS prev_day_value
         |  FROM spine s LEFT JOIN agg a USING ("user", event_day))
         |SELECT "user", event_day, value_sum, prev_day_value,
         |CASE WHEN prev_day_value = 0.0 OR prev_day_value IS NULL THEN NULL
         |ELSE (value_sum - prev_day_value) / prev_day_value END
         |  AS day_value_growth
         |FROM w ORDER BY "user", event_day""".stripMargin,
    // q60: the moving window runs over the FULL month domain (decimal sum /
    // non-null count, both cast double before dividing), the cut filters
    // the axis afterwards — Apr averages Feb+Mar+Apr even though they're cut
    "q60_moving_avg" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1, 2),
         |w AS (
         |  SELECT ship_year, ship_month, revenue,
         |    CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6)))
         |      OVER (ORDER BY ship_year, ship_month
         |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) /
         |    CAST(COUNT(revenue) OVER (ORDER BY ship_year, ship_month
         |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |      AS revenue_3mo_avg
         |  FROM agg)
         |SELECT ship_year, ship_month, revenue, revenue_3mo_avg
         |FROM w WHERE ship_month IN (1, 4, 9)
         |ORDER BY ship_year, ship_month""".stripMargin,
    // q59: ALL-member total on dense axes — the total window runs over the
    // spine (nulls ignored), so every filler day carries the user's total
    "q59_dense_share" ->
      s"""WITH agg AS (
         |  SELECT user_id AS "user", CAST(ts AS DATE) AS event_day,
         |    ${sumd("value", "value_sum")}
         |  FROM events GROUP BY 1, 2),
         |users AS (SELECT DISTINCT "user" FROM agg),
         |days AS (SELECT DISTINCT event_day FROM agg),
         |spine AS (SELECT "user", event_day FROM users CROSS JOIN days),
         |j AS (SELECT s."user", s.event_day, a.value_sum
         |  FROM spine s LEFT JOIN agg a USING ("user", event_day))
         |SELECT "user", event_day, value_sum,
         |CAST(SUM(CAST(CAST(value_sum AS VARCHAR) AS DECIMAL(27,6)))
         |  OVER (PARTITION BY "user") AS DOUBLE) AS value_user_total
         |FROM j ORDER BY "user", event_day""".stripMargin,
    "q17_namedset_drill" ->
      s"""WITH b AS (
         |  SELECT p_brand AS brand, ${sumd(REV, "revenue")}
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
         |top AS (SELECT brand FROM b ORDER BY revenue DESC, brand ASC LIMIT 5)
         |SELECT b.brand, b.revenue FROM b JOIN top USING (brand)
         |ORDER BY brand""".stripMargin,
    "q18_namedset_cut" ->
      s"""WITH b AS (
         |  SELECT p_brand AS brand, ${sumd(REV, "revenue")}
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
         |top AS (SELECT brand FROM b ORDER BY revenue DESC, brand ASC LIMIT 5)
         |SELECT r_regionkey AS region, r_name AS region_label,
         |${sumd(REV, "revenue")}, COUNT(1) AS cnt
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |WHERE p_brand IN (SELECT brand FROM top)
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q19_virtual_cube" ->
      s"""WITH s AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2),
         |o AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    ${sumd("o_totalprice", "total_sales")}, COUNT(1) AS order_count
         |  $CUST_GEO_JOIN
         |  GROUP BY 1, 2)
         |SELECT region, region_label, revenue, total_sales,
         |revenue / order_count AS rev_per_order
         |FROM s FULL JOIN o USING (region, region_label)
         |ORDER BY region""".stripMargin,
    // q92: the ad-hoc cross-cube calc replays as the same full-outer
    // drill-across as q19 with the ratio computed over the merged frame
    "q92_mdx_virtual_calc" ->
      s"""WITH s AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2),
         |o AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    ${sumd("o_totalprice", "total_sales")}
         |  $CUST_GEO_JOIN
         |  GROUP BY 1, 2)
         |SELECT region, region_label, revenue, total_sales,
         |revenue / total_sales AS rps
         |FROM s FULL JOIN o USING (region, region_label)
         |ORDER BY region""".stripMargin,
    // q93: q92's drill-across ratio with the FILTER threshold applied
    // after derivation — same decimal discipline, rows where rps > 0.7
    "q93_mdx_virtual_filter" ->
      s"""WITH s AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2),
         |o AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    ${sumd("o_totalprice", "total_sales")}
         |  $CUST_GEO_JOIN
         |  GROUP BY 1, 2)
         |SELECT region, region_label, revenue, total_sales,
         |revenue / total_sales AS rps
         |FROM s FULL JOIN o USING (region, region_label)
         |WHERE revenue / total_sales > 0.7
         |ORDER BY region""".stripMargin,
    // q71: COUNT(Brand.Members) is the distinct-brand count of the dim
    // table (the schema reader's member list, slicer-independent)
    "q71_mdx_count" ->
      s"""WITH n AS (SELECT COUNT(DISTINCT p_brand) AS nb FROM part),
         |r AS (SELECT r_regionkey AS region, r_name AS region_label,
         |  ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2)
         |SELECT region, region_label, revenue,
         |  revenue / CAST(nb AS DOUBLE) AS rev_per_brand
         |FROM r CROSS JOIN n ORDER BY region""".stripMargin,
    // q70: the orders part carries the emea region filter, the sales part
    // doesn't — outside {0, 3} total_sales is NULL while revenue survives
    "q70_role_virtual" ->
      s"""WITH s AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2),
         |o AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    ${sumd("o_totalprice", "total_sales")}
         |  $CUST_GEO_JOIN
         |  WHERE r_regionkey IN (0, 3)
         |  GROUP BY 1, 2)
         |SELECT region, region_label, revenue, total_sales
         |FROM s FULL JOIN o USING (region, region_label)
         |ORDER BY region""".stripMargin,
    "q20_grand_total" ->
      s"""SELECT ${sumd(REV, "revenue")}, ${sumd("l_quantity", "sum_qty")},
         |COUNT(1) AS cnt, COUNT(DISTINCT l_orderkey) AS order_cnt
         |FROM lineitem""".stripMargin,
    "q21_parents" ->
      s"""SELECT r_regionkey AS region, r_name AS region_label,
         |n_nationkey AS nation, n_name AS nation_label,
         |s_suppkey AS supplier, s_name AS supplier_label,
         |${sumd(REV, "revenue")}
         |$SUPP_GEO_JOIN
         |GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY 1, 3, 5""".stripMargin,
    "q22_properties" ->
      s"""SELECT p_partkey AS part, p_name AS part_label,
         |MIN(p_size) AS part_size, MIN(p_retailprice) AS part_retailprice,
         |${sumd(REV, "revenue")}
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q23_order_by_property" ->
      s"""SELECT part, part_label, part_retailprice, revenue FROM (
         |SELECT p_partkey AS part, p_name AS part_label,
         |MIN(p_retailprice) AS part_retailprice, ${sumd(REV, "revenue")}
         |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2)
         |ORDER BY part_retailprice DESC, part ASC LIMIT 20""".stripMargin,
    "q24_order_by_caption" ->
      s"""SELECT n_nationkey AS nation, n_name AS nation_label, COUNT(1) AS cnt
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1, 2 ORDER BY nation_label ASC, nation ASC""".stripMargin,
    "q25_slicer_tuple" ->
      s"""SELECT p_brand AS brand, ${sumd(REV, "revenue")}
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |WHERE r_regionkey = 1 AND l_returnflag = 'R'
         |AND year(l_shipdate) BETWEEN 1996 AND 1997
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q26_distinct" ->
      """SELECT l_returnflag AS return_flag, COUNT(1) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // q63: drillthrough — same cell, same projection, same total order
    "q63_drillthrough" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey = 3 AND year(l_shipdate) = 1996
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |LIMIT 50""".stripMargin,
    // q61: B18 partial rollup policy — the role's member grant (customer
    // regions 0 and 3) is a plain WHERE on the oracle side
    "q61_role_partial" ->
      s"""SELECT o_orderpriority AS order_priority,
         |${sumd("o_totalprice", "total_sales")}, COUNT(1) AS order_count
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE n_regionkey IN (0, 3)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q68: the star-view SQL surface — the same join/quantization the
    // planner would produce, spelled as user SQL over sales_star
    "q68_star_sql" ->
      s"""SELECT r_regionkey AS region, r_name AS region_label,
         |${sumd(REV, "revenue")}, CAST(COUNT(1) AS BIGINT) AS cnt
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // q69: the emea grant (customer regions {0, 3}) filters the star
    // view's ROWS — the SQL surface can only see the role's data
    "q69_star_sql_role" ->
      s"""SELECT r_regionkey AS region, r_name AS region_label,
         |${sumd("o_totalprice", "total_sales")},
         |CAST(COUNT(1) AS BIGINT) AS cnt
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_regionkey IN (0, 3)
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // q67: the top-3 slots go to VISIBLE nations only (role-scoped set
    // evaluation); their values aggregate visible customers (= complete
    // nation sums — the member grant sits at Region, so a visible
    // nation's whole subtree is visible)
    "q67_role_topcount" ->
      s"""WITH nat AS (
         |  SELECT n_nationkey AS nation, n_name AS nation_label,
         |    ${sumd("o_totalprice", "total_sales")}
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  WHERE n_regionkey IN (0, 3)
         |  GROUP BY 1, 2),
         |top AS (SELECT nation FROM nat
         |  ORDER BY total_sales DESC, nation ASC LIMIT 3)
         |SELECT nat.nation, nat.nation_label, nat.total_sales
         |FROM nat JOIN top USING (nation)
         |ORDER BY nation""".stripMargin,
    // q62: B18 full rollup policy drilled AT the grant level — membership
    // filters the axis, values stay the complete per-region rollups
    "q62_role_full" ->
      s"""SELECT r_regionkey AS region, r_name AS region_label,
         |${sumd("o_totalprice", "total_sales")},
         |COUNT(DISTINCT o_custkey) AS customer_count
         |$CUST_GEO_JOIN
         |WHERE r_regionkey IN (0, 3)
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q27_orders_cube" ->
      s"""SELECT c_mktsegment AS segment,
         |CAST(year(o_orderdate) AS INTEGER) AS order_year,
         |${sumd("o_totalprice", "total_sales")}, COUNT(1) AS order_count,
         |COUNT(DISTINCT o_custkey) AS customer_count,
         |${avgd("o_totalprice", "avg_order")}, MAX(o_totalprice) AS max_order
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q28_big_dim_join" ->
      s"""SELECT o_orderpriority AS order_priority, ${sumd(REV, "revenue")},
         |COUNT(1) AS cnt
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_minmax" ->
      s"""SELECT l_returnflag AS return_flag, MIN(l_extendedprice) AS min_price,
         |MAX(l_extendedprice) AS max_price, ${avgd("l_discount", "avg_disc")}
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_events_daily" ->
      """SELECT CAST(ts AS DATE) AS event_day, event_type,
        |CAST(SUM(CAST(CAST((value) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS value_sum,
        |COUNT(1) AS event_count, COUNT(DISTINCT user_id) AS user_count
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // ------------------------- LLM-pipeline operators (DuckDB equivalents;
    // every query is oracle-checked — d03 rides md5-derived portable
    // fingerprints, replayed bit-exactly below)
    // d03: per-token 64 bits = two md5 hex words (nibble-decoded — the m01
    // recipe), strict-majority bit votes, all-pairs Hamming ≤ 3 (the oracle
    // needs no blocking; Spark's pigeonhole candidates are verified exact)
    "d03_simhash" -> {
      def word(c: Int): String = (0 until 8).map(i =>
        s"(CAST(instr('0123456789abcdef', substr(m, ${c + i}, 1)) - 1 " +
          s"AS BIGINT) * ${1L << (4 * (7 - i))})")
        .mkString("(", " + ", ")")
      val votes = (0 until 32).flatMap(b => Seq(
        s"SUM((hi >> $b) & 1) AS h$b", s"SUM((lo >> $b) & 1) AS l$b"))
        .mkString(",\n  ")
      def fp(prefix: String): String = (0 until 32).map(b =>
        s"(CASE WHEN $prefix$b * 2 > n THEN CAST(${1L << b} AS BIGINT) " +
          "ELSE 0 END)")
        .mkString("(", " + ", ")")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |  FROM documents),
         |h AS (SELECT doc_id, md5(t) AS m FROM tok),
         |w AS (SELECT doc_id, ${word(1)} AS hi, ${word(9)} AS lo FROM h),
         |v AS (SELECT doc_id, COUNT(1) AS n,
         |  $votes
         |  FROM w GROUP BY doc_id),
         |fp AS (SELECT doc_id, ${fp("h")} AS fhi, ${fp("l")} AS flo FROM v),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.fhi, b.fhi))
         |    + bit_count(xor(a.flo, b.flo)) AS INTEGER) AS hamming
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "t01_token_stats" ->
      """SELECT source, COUNT(1) AS docs,
        |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(1) AS avg_tokens,
        |CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "t02_quality" ->
      """WITH q AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS uniq_ratio,
        |  len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) / len(string_split(text, ' ')) AS stop_ratio,
        |  (length(text) - len(string_split(text, ' ')) + 1) / len(string_split(text, ' ')) AS mean_token_len
        |  FROM documents)
        |SELECT doc_id, n_tokens, uniq_ratio, stop_ratio, mean_token_len,
        |(CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
        | * (0.25 + 0.75 * uniq_ratio)
        | * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.6 END) AS quality_score
        |FROM q ORDER BY doc_id""".stripMargin,
    "t03_langid" ->
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'is', 'with', 'that'))) AS INTEGER) AS s_en,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'les', 'et', 'est', 'une', 'dans'))) AS INTEGER) AS s_fr,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das', 'und', 'ist', 'ein', 'mit'))) AS INTEGER) AS s_de,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('el', 'los', 'las', 'y', 'es', 'una', 'con'))) AS INTEGER) AS s_es
        |  FROM documents)
        |SELECT doc_id, lang,
        |CASE
        | WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
        | WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
        | WHEN s_de >= s_es AND s_de > 0 THEN 'de'
        | WHEN s_es > 0 THEN 'es'
        | ELSE 'und' END AS pred_lang,
        |s_en, s_fr, s_de, s_es
        |FROM s ORDER BY doc_id""".stripMargin,
    "t04_fingerprint" ->
      """SELECT doc_id, substr(md5(text), 1, 16) AS fp,
        |MIN(doc_id) OVER (PARTITION BY substr(md5(text), 1, 16)) AS canonical_id,
        |doc_id <> MIN(doc_id) OVER (PARTITION BY substr(md5(text), 1, 16)) AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT COUNT(1) AS docs, COUNT(DISTINCT md5(text)) AS distinct_docs,
        |COUNT(1) - COUNT(DISTINCT md5(text)) AS dups_removed
        |FROM documents""".stripMargin,
    // d02: the LSH path verifies candidates with exact Jaccard >= 0.5; the
    // corpus's pair-similarity distribution is bimodal (gap (0.15, 0.9)), so
    // banding (32 bands x 4 rows) recalls every >=0.5 pair and the result
    // equals the exhaustive all-pairs form below. Jaccard over xxhash64-hashed
    // shingles (Spark) == over string shingles (here): sizes are
    // hash-invariant.
    "d02_minhash_lsh" ->
      """WITH sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) AS na, len(b.sh) AS nb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |SELECT doc_a, doc_b, inter / (na + nb - inter) AS jaccard
        |FROM pairs WHERE inter / (na + nb - inter) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // d14: all pairs with a delta (src3) member — the set the incremental
    // index must reproduce exactly (recall-1.0 argument as d02)
    "d14_delta_ingest" ->
      """WITH sh AS (SELECT doc_id, source,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) AS na, len(b.sh) AS nb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND (a.source = 'src3' OR b.source = 'src3'))
        |SELECT doc_a, doc_b, inter / (na + nb - inter) AS jaccard
        |FROM p WHERE inter / (na + nb - inter) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // t26: d06's exact survivors + d13's recursive-reachability survivors +
    // t21's covered-position counts, rolled up per source
    "t26_dedup_report" ->
      """WITH RECURSIVE dd AS (SELECT doc_id, source,
        |  string_split(text, ' ') AS w FROM documents),
        |ex AS (SELECT doc_id FROM documents
        |  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND len(list_intersect(a.sh, b.sh))
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.node = e.a),
        |fz AS (SELECT node AS doc_id FROM reach GROUP BY node
        |  HAVING node = MIN(r)),
        |sp AS (SELECT doc_id, g AS pos,
        |  array_to_string(w[g:g+9], ' ') AS span
        |  FROM (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 9)) AS g FROM dd)),
        |shared AS (SELECT span FROM
        |  (SELECT span, COUNT(DISTINCT doc_id) AS nd FROM sp GROUP BY span)
        |  WHERE nd >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos + o AS cpos
        |  FROM (SELECT s.doc_id, s.pos, unnest(generate_series(0, 9)) AS o
        |    FROM sp s JOIN shared sh2 ON s.span = sh2.span)),
        |rem AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS nr
        |  FROM cov GROUP BY doc_id)
        |SELECT dd.source, CAST(COUNT(1) AS BIGINT) AS docs,
        |CAST(SUM(CASE WHEN ex.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |  AS docs_after_exact,
        |CAST(SUM(CASE WHEN fz.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |  AS docs_after_fuzzy,
        |CAST(SUM(len(dd.w)) AS BIGINT) AS tokens,
        |CAST(SUM(len(dd.w) - COALESCE(rem.nr, 0)) AS BIGINT)
        |  AS tokens_after_trim
        |FROM dd LEFT JOIN ex ON dd.doc_id = ex.doc_id
        |LEFT JOIN fz ON dd.doc_id = fz.doc_id
        |LEFT JOIN rem ON dd.doc_id = rem.doc_id
        |GROUP BY dd.source ORDER BY dd.source""".stripMargin,
    // d09: the d02 all-pairs oracle + source labels + a per-source-pair
    // rollup (decimal-summed mean Jaccard via the VARCHAR hop)
    "d09_dup_sources" ->
      """WITH sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) AS na, len(b.sh) AS nb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0),
        |jp AS (SELECT doc_a, doc_b, inter / (na + nb - inter) AS jaccard
        |  FROM pairs WHERE inter / (na + nb - inter) >= 0.5),
        |lab AS (SELECT
        |  LEAST(da.source, db.source) AS src_lo,
        |  GREATEST(da.source, db.source) AS src_hi, jp.jaccard
        |  FROM jp JOIN documents da ON jp.doc_a = da.doc_id
        |  JOIN documents db ON jp.doc_b = db.doc_id)
        |SELECT src_lo, src_hi, CAST(COUNT(1) AS BIGINT) AS pairs,
        |  CAST(SUM(CAST(CAST(jaccard AS VARCHAR) AS DECIMAL(27,12)))
        |    AS DOUBLE) / COUNT(1) AS avg_jaccard
        |FROM lab GROUP BY src_lo, src_hi
        |ORDER BY src_lo, src_hi""".stripMargin,
    // clusters = min reachable doc id over the (symmetric) near-dup pair
    // graph; DuckDB's recursive CTE is the closed-form of the same
    // label-propagation fixpoint the Spark side iterates
    "d07_dup_clusters" ->
      """WITH RECURSIVE sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND len(list_intersect(a.sh, b.sh))
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.node = e.a)
        |SELECT node AS doc_id, MIN(r) AS cluster_id
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    // d22: surviving pairs are deletion-invariant, so the oracle is d07's
    // exact-Jaccard recursive-CTE clustering recomputed from scratch on the
    // tombstone-filtered corpus — the incremental Spark path must bit-match
    "d22_tombstone_delete" ->
      """WITH RECURSIVE surv AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 37 <> 0),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM surv),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND len(list_intersect(a.sh, b.sh))
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM surv
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.node = e.a)
        |SELECT node AS doc_id, MIN(r) AS cluster_id
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    // t40: d07's clusters → 1/|cluster| weights and effective token mass
    "t40_soft_dedup" ->
      """WITH RECURSIVE sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND len(list_intersect(a.sh, b.sh))
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.node = e.a),
        |cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id
        |  FROM reach GROUP BY node),
        |sz AS (SELECT cluster_id, CAST(COUNT(1) AS BIGINT) AS cluster_size
        |  FROM cl GROUP BY 1),
        |tok AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT cl.doc_id, cl.cluster_id, sz.cluster_size,
        |  1.0 / CAST(sz.cluster_size AS DOUBLE) AS weight,
        |  (1.0 / CAST(sz.cluster_size AS DOUBLE))
        |    * CAST(tok.n_tokens AS DOUBLE) AS eff_tokens
        |FROM cl JOIN sz USING (cluster_id)
        |JOIN tok ON tok.doc_id = cl.doc_id
        |ORDER BY cl.doc_id""".stripMargin,
    // d13: d07's recursive-reachability clusters, keeping the row whose id
    // IS its cluster label (min of the component)
    "d13_keep_canonical" ->
      """WITH RECURSIVE sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND len(list_intersect(a.sh, b.sh))
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.node = e.a),
        |cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id
        |  FROM reach GROUP BY node)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN cl ON d.doc_id = cl.doc_id
        |WHERE d.doc_id = cl.cluster_id
        |ORDER BY d.doc_id""".stripMargin,
    "d04_ngram_jaccard" -> ngramJaccardOracleSql,
    // d24: at gate scale the prefix-df cap never engages, so the capped
    // form must be BIT-IDENTICAL to the exact symmetric Jaccard join
    "d24_ngram_jaccard_auto" -> ngramJaccardOracleSql,
    "d19_containment" -> containmentOracleSql,
    // d23: at gate scale the df cap never engages (max df 5 ≪ 256), so
    // the capped form must be BIT-IDENTICAL to the exact directional
    // containment join
    "d23_containment_auto" -> containmentOracleSql,
    // the planted clone (min vec_id, shifted id) makes the gate row a
    // found pair instead of a shared empty result
    "d05_embedding_neardup" ->
      """WITH emb2 AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 900000000, label, embedding FROM embeddings
        |  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
        |e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM emb2)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |list_dot_product(a.v, b.v) AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) >= 0.8
        |ORDER BY vec_a, vec_b""".stripMargin,
    "s01_knn_brute" -> bruteKnnOracleSql,
    // s15: the θ-bound certified PQ search is EXACT by construction, so
    // its oracle is the same brute-force SQL — the index must not change
    // a single row, rank, or sim bit
    "s15_knn_pq_exact" -> bruteKnnOracleSql,
    // s16: the certified range search is exact too — oracle is the plain
    // radius filter over all pairs, ranked per query
    "s16_knn_range" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |sims AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    list_dot_product(q.v, n.v) AS sim
        |  FROM e q JOIN e n ON q.vec_id <> n.vec_id
        |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
        |f AS (SELECT * FROM sims WHERE sim >= 0.25)
        |SELECT query_id,
        |CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |  ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank,
        |neighbor_id, sim FROM f
        |ORDER BY query_id, rank""".stripMargin,
    // s11: recall@5 of the LSH search vs exhaustive truth — both sides are
    // the already-gated s01/s02 replays, nested as subquery CTEs
    "s11_knn_recall" ->
      s"""WITH approx AS ($lshOracleSql),
         |exact AS ($bruteKnnOracleSql)
         |SELECT e.query_id, COUNT(1) AS n_exact,
         |CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |  THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |  THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE)
         |  AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s10_mmr_rerank" -> mmrOracleSql,
    // s08: s01 restricted to candidates outside the query's label
    "s08_knn_filtered" ->
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |sims AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    list_dot_product(q.v, n.v) AS sim
        |  FROM e q JOIN e n ON q.vec_id <> n.vec_id AND q.label <> n.label
        |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
        |  FROM sims)
        |SELECT query_id, rank, neighbor_id, sim FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // s05: replay the two-phase quantized search — int8 codes as
    // integer-valued doubles (floor half-up matches Spark), integer-dot
    // shortlist of 20, exact-dot re-rank of the shortlist only
    "s05_knn_quantized" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |coded AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
        |codes AS (SELECT vec_id, v,
        |  CASE WHEN maxabs = 0.0 THEN list_transform(v, x -> 0.0)
        |  ELSE list_transform(v, x -> floor(x * 127.0 / maxabs + 0.5))
        |  END AS codes FROM coded),
        |qd AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    list_dot_product(q.codes, n.codes) AS qdot, q.v AS v_q, n.v AS v_n
        |  FROM codes q JOIN codes n ON q.vec_id <> n.vec_id
        |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
        |short AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY qdot DESC, neighbor_id ASC) AS srank FROM qd),
        |rescored AS (
        |  SELECT query_id, neighbor_id, list_dot_product(v_q, v_n) AS sim
        |  FROM short WHERE srank <= 20),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
        |  FROM rescored)
        |SELECT query_id, rank, neighbor_id, sim FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // s13: the s07 lexical CTEs (rank <= 20) full-joined with the s01
    // vector shortlist; rrf = the two reciprocal terms summed v-then-t
    "s13_hybrid_rrf" ->
      """WITH sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |q AS (SELECT doc_id AS query_id, sh FROM sh
        |  WHERE doc_id IN (0, 1, 2, 3, 4) AND len(sh) > 0),
        |p AS (SELECT q.query_id, c.doc_id AS cand_id,
        |    len(list_intersect(q.sh, c.sh)) AS inter,
        |    len(q.sh) AS nq, len(c.sh) AS nc
        |  FROM q JOIN sh c ON c.doc_id <> q.query_id
        |  WHERE len(c.sh) > 0),
        |ts AS (SELECT query_id, cand_id,
        |    inter / (nq + nc - inter) AS jaccard
        |  FROM p WHERE inter > 0),
        |tr AS (SELECT query_id, cand_id AS doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY jaccard DESC, cand_id ASC) AS trank FROM ts),
        |t20 AS (SELECT * FROM tr WHERE trank <= 20),
        |e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |vq AS (SELECT qe.vec_id AS query_id, n.vec_id AS doc_id,
        |    list_dot_product(qe.v, n.v) AS sim
        |  FROM e qe JOIN e n ON qe.vec_id <> n.vec_id
        |  WHERE qe.vec_id IN (0, 1, 2, 3, 4)),
        |vr AS (SELECT query_id, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, doc_id ASC) AS vrank FROM vq),
        |v20 AS (SELECT * FROM vr WHERE vrank <= 20),
        |f AS (SELECT COALESCE(v.query_id, t.query_id) AS query_id,
        |    COALESCE(v.doc_id, t.doc_id) AS doc_id, v.vrank, t.trank
        |  FROM v20 v FULL JOIN t20 t
        |    ON v.query_id = t.query_id AND v.doc_id = t.doc_id),
        |s AS (SELECT query_id, doc_id,
        |  COALESCE(1.0 / (60 + vrank), 0.0)
        |    + COALESCE(1.0 / (60 + trank), 0.0) AS rrf FROM f),
        |r AS (SELECT query_id, doc_id, rrf,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rank FROM s)
        |SELECT query_id, rank, doc_id, rrf FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // s12: per-subspace k-means unrolled, ADC = left-fold sum of subspace
    // centroid dots (the query-side lookup table, replayed directly),
    // shortlist by ADC, exact re-rank — same two-phase shape as s05/s09
    "s12_knn_pq" -> {
      val (m, ksub, iters, sub) = (16, 16, 2, 4)
      val adc = (0 until m).map(j =>
        s"list_dot_product(q.emb[${j * sub + 1}:${(j + 1) * sub}], c$j.cent)")
        .mkString("(", "\n + ", ")")
      val codeJoin = (0 until m).map(j =>
        s"JOIN p${j}_afinal a$j ON a$j.vec_id = n.vec_id\n" +
          s"JOIN p${j}_cent$iters c$j ON c$j.c = a$j.c").mkString("\n")
      s"""${pqOracleCtes(m, ksub, iters, sub)},
         |qd AS (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    $adc AS adc, q.emb AS v_q, n.emb AS v_n
         |  FROM v q JOIN v n ON q.vec_id <> n.vec_id
         |  $codeJoin
         |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
         |short AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY adc DESC, neighbor_id ASC) AS srank FROM qd),
         |rescored AS (
         |  SELECT query_id, neighbor_id, list_dot_product(v_q, v_n) AS sim
         |  FROM short WHERE srank <= 20),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
         |  FROM rescored)
         |SELECT query_id, rank, neighbor_id, sim FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    // s14: IVF-PQ fully unrolled — the s06-style coarse k-means (2 iters),
    // residuals rebuilt by unnest-join-list, the s12 per-subspace chains
    // retrained on the RESIDUAL frame, coarse probe ranking by the same
    // (score DESC, cdot DESC, cell DESC) order as the Spark window, ADC =
    // q·c_cell + Σ subspace lookups over the probed cells only, exact
    // re-rank of the 20-candidate shortlist
    "s14_knn_ivfpq" -> {
      val (nlist, ivfIters, m, ksub, pqIters, sub) = (8, 2, 16, 16, 2, 4)
      val adc = (0 until m).map(j =>
        s"list_dot_product(p.emb[${j * sub + 1}:${(j + 1) * sub}], c$j.cent)")
        .mkString("(", "\n + ", ")")
      val codeJoin = (0 until m).map(j =>
        s"JOIN p${j}_afinal a$j ON a$j.vec_id = n.vec_id\n" +
          s"JOIN p${j}_cent$pqIters c$j ON c$j.c = a$j.c").mkString("\n")
      s"""${kmeansOracleCtes(nlist, ivfIters)},
         |res0 AS (SELECT vec_id, c, unnest(emb) AS ax,
         |  generate_subscripts(emb, 1) AS pos FROM afinal),
         |cexp AS (SELECT c, unnest(cent) AS cx,
         |  generate_subscripts(cent, 1) AS pos FROM cent$ivfIters),
         |rv AS (SELECT r.vec_id, list(r.ax - ce.cx ORDER BY r.pos) AS emb
         |  FROM res0 r JOIN cexp ce ON r.c = ce.c AND r.pos = ce.pos
         |  GROUP BY r.vec_id),
         |${pqChainCtes(m, ksub, pqIters, sub, "rv")},
         |qs AS (SELECT q.vec_id AS query_id, q.emb, ct.c AS cell_q,
         |  list_dot_product(q.emb, ct.cent)
         |    - list_dot_product(ct.cent, ct.cent) / 2.0 AS score,
         |  list_dot_product(q.emb, ct.cent) AS cdot
         |  FROM v q CROSS JOIN cent$ivfIters ct
         |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
         |pr AS (SELECT query_id, emb, cell_q, cdot FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, cdot DESC, cell_q DESC) AS rn FROM qs)
         |  WHERE rn <= 3),
         |qd AS (
         |  SELECT p.query_id, n.vec_id AS neighbor_id,
         |    p.cdot + $adc AS adc, p.emb AS v_q, n.emb AS v_n
         |  FROM pr p
         |  JOIN afinal n ON n.c = p.cell_q AND n.vec_id <> p.query_id
         |  $codeJoin),
         |short AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY adc DESC, neighbor_id ASC) AS srank FROM qd),
         |rescored AS (
         |  SELECT query_id, neighbor_id, list_dot_product(v_q, v_n) AS sim
         |  FROM short WHERE srank <= 20),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
         |  FROM rescored)
         |SELECT query_id, rank, neighbor_id, sim FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    // s06: the full iterative k-means UNROLLED in SQL — decimal-mean
    // centroids (VARCHAR hop), sequential list_dot_product scores, ties to
    // the larger cluster id (Spark's lexicographic struct max). Empty
    // clusters inherit the previous round's centroid (COALESCE chain),
    // mirroring kmeansLoop's keep-previous rule.
    "s06_kmeans_assign" ->
      s"""${kmeansOracleCtes(8, 3)}
         |SELECT vec_id, c AS cluster FROM afinal ORDER BY vec_id""".stripMargin,
    // d15: the s06 assignment CTEs verbatim, then within-cluster pairs and
    // the greedy smaller-id-survives rule
    "d15_semantic_dedup" ->
      s"""${kmeansOracleCtes(8, 3)},
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |  list_dot_product(a.emb, b.emb) AS cos
         |  FROM afinal a JOIN afinal b ON a.c = b.c AND a.vec_id < b.vec_id),
         |dup AS (SELECT DISTINCT vb FROM p WHERE cos >= 0.35)
         |SELECT f.vec_id, f.c AS cluster,
         |CASE WHEN d.vb IS NULL THEN 1 ELSE 0 END AS kept
         |FROM afinal f LEFT JOIN dup d ON f.vec_id = d.vb
         |ORDER BY f.vec_id""".stripMargin,
    // d16: the paper-exact greedy keep-first as the same bounded fixpoint
    // the Spark side unrolls — round 0 keeps no-smaller-neighbor vectors,
    // each round drops on a KEPT smaller neighbor and keeps when all
    // smaller neighbors are decided-dropped (MAX/MIN ignore-null semantics
    // match Spark's)
    "d16_semdedup_greedy" -> {
      val rounds = 6
      val roundCtes = (1 to rounds).map { r =>
        s"s$r AS (SELECT s.vec_id, CASE WHEN s.kept IS NOT NULL THEN s.kept " +
          "WHEN n.any_kept = 1 THEN 0 WHEN n.all_decided = 1 THEN 1 " +
          "ELSE NULL END AS kept " +
          s"FROM s${r - 1} s LEFT JOIN (SELECT p.vb, MAX(ps.kept) AS any_kept, " +
          "MIN(CASE WHEN ps.kept IS NULL THEN 0 ELSE 1 END) AS all_decided " +
          s"FROM p JOIN s${r - 1} ps ON p.va = ps.vec_id GROUP BY p.vb) n " +
          "ON s.vec_id = n.vb)"
      }.mkString(",\n")
      s"""${kmeansOracleCtes(8, 3)},
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM afinal a JOIN afinal b ON a.c = b.c AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.emb, b.emb) >= 0.35),
         |s0 AS (SELECT f.vec_id,
         |  CASE WHEN sm.vb IS NULL THEN 1 ELSE NULL END AS kept
         |  FROM afinal f LEFT JOIN (SELECT DISTINCT vb FROM p) sm
         |  ON f.vec_id = sm.vb),
         |$roundCtes
         |SELECT f.vec_id, f.c AS cluster,
         |CAST(s$rounds.kept AS INTEGER) AS kept
         |FROM afinal f JOIN s$rounds ON f.vec_id = s$rounds.vec_id
         |ORDER BY f.vec_id""".stripMargin
    },
    // t30: the (hash, doc_id) order is total, so ROW_NUMBER is deterministic
    // and both engines pick identical stratum samples
    "t30_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, source,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || text) AS sample_hash
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, source, sample_hash,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY sample_hash, doc_id) AS INTEGER) AS sample_rank
        |  FROM h)
        |SELECT doc_id, lang, source, sample_hash, sample_rank
        |FROM r WHERE sample_rank <= 2
        |ORDER BY lang, source, sample_rank""".stripMargin,
    // t27: the vocab is top-16 by (count desc, token asc) — a total order,
    // so LIMIT is deterministic; SUM of ints is HUGEINT in DuckDB → BIGINT
    "t27_vocab_coverage" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split(text, ' ')) AS token FROM documents),
        |vocab AS (SELECT token FROM (
        |  SELECT token, COUNT(1) AS cnt FROM tok GROUP BY token
        |  ORDER BY cnt DESC, token ASC LIMIT 16)),
        |j AS (SELECT t.doc_id,
        |  CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok t LEFT JOIN vocab v ON t.token = v.token)
        |SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_tok,
        |CAST(SUM(oov) AS BIGINT) AS n_oov,
        |CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS oov_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e01_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |lagd AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id) AS prev_us FROM ev),
        |flagged AS (SELECT *, CASE WHEN prev_us IS NULL
        |  OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM lagd),
        |sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sess_idx
        |  FROM flagged)
        |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
        |MIN(ts_us) AS start_us, MAX(ts_us) AS end_us, COUNT(1) AS n_events,
        |CAST(SUM(CAST(CAST((value) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS value_sum
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // e09: e01's session table rolled up by start day (exact integer micros
    // into one fixed-shape double division — the e06 convention)
    "e09_session_stats" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |lagd AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id) AS prev_us FROM ev),
        |flagged AS (SELECT *, CASE WHEN prev_us IS NULL
        |  OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM lagd),
        |sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sess_idx
        |  FROM flagged),
        |st AS (SELECT user_id, sess_idx, MIN(ts_us) AS start_us,
        |  MAX(ts_us) AS end_us, COUNT(1) AS n_events
        |  FROM sess GROUP BY 1, 2)
        |SELECT CAST(make_timestamp(start_us) AS DATE) AS day,
        |COUNT(1) AS sessions,
        |CAST(SUM(n_events) AS BIGINT) AS events,
        |CAST(SUM(end_us - start_us) AS DOUBLE) / COUNT(1) / 1000000.0
        |  AS avg_secs,
        |CAST(SUM(n_events) AS DOUBLE) / COUNT(1) AS avg_events
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin,
    "t06_bpeish_tokens" ->
      """SELECT source, COUNT(1) AS docs,
        |CAST(SUM(
        |  len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> len(x) > 0)) +
        |  len(list_filter(regexp_split_to_array(text, '[A-Za-z0-9\s]+'), x -> len(x) > 0))
        |) AS BIGINT) AS bpeish_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "e02_json_extract" ->
      """SELECT event_type,
        |CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
        |CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
        |COUNT(json_extract_string(props, '$.k')) AS k_cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "d06_dedup_keep_first" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
        |ORDER BY doc_id""".stripMargin,
    "t05_top_words" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |cnts AS (SELECT lang, token, COUNT(1) AS cnt FROM tok GROUP BY 1, 2),
        |ranked AS (SELECT lang, token, cnt,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY cnt DESC, token ASC) AS INTEGER) AS rank
        |  FROM cnts)
        |SELECT lang, rank, token, cnt FROM ranked WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,
    "s03_label_centroids" ->
      """WITH e AS (
        |  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS val,
        |    CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos
        |  FROM embeddings)
        |SELECT label, pos,
        |CAST(SUM(CAST(CAST(val AS VARCHAR) AS DECIMAL(27,12))) AS DOUBLE) / COUNT(1) AS centroid,
        |COUNT(1) AS n
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "m02_frame_sample" ->
      """SELECT doc_id, CAST(doc_id % 10 + 1 AS INTEGER) AS n_frames,
        |CAST(unnest(range(0, doc_id % 10 + 1, 2)) AS INTEGER) AS frame_idx
        |FROM documents ORDER BY doc_id, frame_idx""".stripMargin,
    // m05: the payload-hex phash halves replayed by Horner; all-pairs
    // verify (the blocked Spark path finds the same pairs by pigeonhole
    // completeness); injections mirror the Spark-side clones
    "m05_phash_neardup" ->
      s"""WITH base AS (SELECT doc_id, upper(md5(text)) AS h
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, h FROM base
         |  UNION ALL SELECT doc_id + 1000000, h FROM base
         |    WHERE doc_id % 97 = 0
         |  UNION ALL SELECT doc_id + 2000000,
         |    substr(h, 1, 15) || translate(substr(h, 16, 1),
         |      '0123456789ABCDEF', '1032547698BADCFE') || substr(h, 17, 16)
         |  FROM base WHERE doc_id % 101 = 0),
         |fp AS (SELECT doc_id,
         |  CAST(${hexHornerU("h", 1)} AS BIGINT) AS hi,
         |  CAST(${hexHornerU("h", 9)} AS BIGINT) AS lo FROM m)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.hi, b.hi))
         |    + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // m07: the oracle recomputes the synthetic Y4M clips' GROUND TRUTH —
    // per-frame luma means from the md5-derived planes (every quantity
    // exact dyadic arithmetic, so double equality is bit-exact across
    // engines) — while the Spark side must PARSE the real containers
    "m07_video_decode" ->
      s"""WITH fr AS (
         |  SELECT doc_id, CAST(doc_id % 10 + 1 AS INTEGER) AS n,
         |    f.range AS f
         |  FROM documents CROSS JOIN range(0, 10) f
         |  WHERE f.range < doc_id % 10 + 1),
         |hb AS (SELECT doc_id, n, f,
         |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(f AS VARCHAR)) AS h
         |  FROM fr),
         |ab AS (SELECT doc_id, n, f, ($MD5_U_HORNER) % 200 AS a FROM hb),
         |pm AS (SELECT ab.doc_id, ab.n, ab.f,
         |  SUM((ab.a + p.range * 13) % 200) / 8.0 AS m
         |  FROM ab CROSS JOIN range(0, 8) p GROUP BY 1, 2, 3),
         |dl AS (SELECT doc_id, n, f, m,
         |  m - LAG(m) OVER (PARTITION BY doc_id ORDER BY f) AS dm FROM pm)
         |SELECT doc_id, 'y4m' AS format, CAST(4 AS INTEGER) AS width,
         |  CAST(2 AS INTEGER) AS height, n AS n_frames,
         |  CAST(35 + 18 * n AS INTEGER) AS n_bytes,
         |  SUM(m) / n AS mean_luma,
         |  CASE WHEN n = 1 THEN 0.0 ELSE SUM(ABS(dm)) / (n - 1) END
         |    AS activity,
         |  n / 25.0 AS duration_sec, 25.0 AS fps
         |FROM dl GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    // m08: fingerprints replayed from the same ground-truth arithmetic —
    // window means are exact dyadics, so the delta SIGNS (the bits) are
    // engine-portable; all-pairs verify, injections mirror the Spark side
    "m08_video_neardup" ->
      s"""WITH d AS (SELECT doc_id FROM documents),
         |m AS (
         |  SELECT doc_id, doc_id AS src, 0 AS sh FROM d
         |  UNION ALL SELECT doc_id + 1000000, doc_id, 0 FROM d
         |    WHERE doc_id % 97 = 0
         |  UNION ALL SELECT doc_id + 2000000, doc_id, 8 FROM d
         |    WHERE doc_id % 101 = 0),
         |fr AS (
         |  SELECT m.doc_id, m.sh, CAST(m.src % 10 + 60 AS INTEGER) AS n,
         |    f.range AS f, m.src
         |  FROM m CROSS JOIN range(0, 70) f WHERE f.range < m.src % 10 + 60),
         |hb AS (SELECT doc_id, sh, n, f,
         |  md5(CAST(src AS VARCHAR) || ':' || CAST(f AS VARCHAR)) AS h
         |  FROM fr),
         |ab AS (SELECT doc_id, sh, n, f, ($MD5_U_HORNER) % 200 AS a
         |  FROM hb),
         |pm AS (SELECT ab.doc_id, ab.n,
         |  CAST((ab.f * LEAST(65, ab.n)) // ab.n AS INTEGER) AS w,
         |  SUM((ab.a + p.range * 13) % 200) / 8.0 + ab.sh AS fm
         |  FROM ab CROSS JOIN range(0, 8) p
         |  GROUP BY ab.doc_id, ab.n, ab.f, ab.sh),
         |wm AS (SELECT doc_id, w, SUM(fm) / COUNT(1) AS wmean
         |  FROM pm GROUP BY 1, 2),
         |dl AS (SELECT doc_id, w,
         |  CASE WHEN wmean > LAG(wmean) OVER (PARTITION BY doc_id ORDER BY w)
         |    THEN 1 ELSE 0 END AS rising
         |  FROM wm),
         |fp AS (SELECT doc_id,
         |  COALESCE(SUM(CASE WHEN rising = 1 AND w >= 33
         |    THEN (CAST(1 AS BIGINT) << (w - 33)) END), 0) AS hi,
         |  COALESCE(SUM(CASE WHEN rising = 1 AND w < 33
         |    THEN (CAST(1 AS BIGINT) << (w - 1)) END), 0) AS lo
         |  FROM dl WHERE w >= 1 GROUP BY 1)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
         |    AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // m11: the incremental-ingest contract replayed — fingerprints from
    // the same ground-truth arithmetic as m08, membership (index vs
    // delta) by construction; the result is the union's pairs RESTRICTED
    // to those touching the delta (index-only pairs were reported at
    // index build and must not reappear)
    "m11_video_delta_neardup" ->
      s"""WITH d AS (SELECT doc_id FROM documents),
         |m AS (
         |  SELECT doc_id, doc_id AS src, 0 AS sh, 0 AS del FROM d
         |    WHERE doc_id % 2 = 0
         |  UNION ALL SELECT doc_id, doc_id, 0, 1 FROM d WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id + 1000000, doc_id, 0, 1 FROM d
         |    WHERE doc_id % 2 = 0 AND doc_id % 97 = 0
         |  UNION ALL SELECT doc_id + 2000000, doc_id, 8, 1 FROM d
         |    WHERE doc_id % 2 = 0 AND doc_id % 101 = 0),
         |fr AS (
         |  SELECT m.doc_id, m.sh, m.del,
         |    CAST(m.src % 10 + 60 AS INTEGER) AS n, f.range AS f, m.src
         |  FROM m CROSS JOIN range(0, 70) f WHERE f.range < m.src % 10 + 60),
         |hb AS (SELECT doc_id, sh, del, n, f,
         |  md5(CAST(src AS VARCHAR) || ':' || CAST(f AS VARCHAR)) AS h
         |  FROM fr),
         |ab AS (SELECT doc_id, sh, del, n, f, ($MD5_U_HORNER) % 200 AS a
         |  FROM hb),
         |pm AS (SELECT ab.doc_id, ab.del, ab.n,
         |  CAST((ab.f * LEAST(65, ab.n)) // ab.n AS INTEGER) AS w,
         |  SUM((ab.a + p.range * 13) % 200) / 8.0 + ab.sh AS fm
         |  FROM ab CROSS JOIN range(0, 8) p
         |  GROUP BY ab.doc_id, ab.del, ab.n, ab.f, ab.sh),
         |wm AS (SELECT doc_id, del, w, SUM(fm) / COUNT(1) AS wmean
         |  FROM pm GROUP BY 1, 2, 3),
         |dl AS (SELECT doc_id, del, w,
         |  CASE WHEN wmean > LAG(wmean) OVER (PARTITION BY doc_id ORDER BY w)
         |    THEN 1 ELSE 0 END AS rising
         |  FROM wm),
         |fp AS (SELECT doc_id, del,
         |  COALESCE(SUM(CASE WHEN rising = 1 AND w >= 33
         |    THEN (CAST(1 AS BIGINT) << (w - 33)) END), 0) AS hi,
         |  COALESCE(SUM(CASE WHEN rising = 1 AND w < 33
         |    THEN (CAST(1 AS BIGINT) << (w - 1)) END), 0) AS lo
         |  FROM dl WHERE w >= 1 GROUP BY 1, 2)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
         |    AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2
         |  AND (a.del = 1 OR b.del = 1)
         |ORDER BY doc_a, doc_b""".stripMargin,
    // m09: the synthetic WAV clips' ground truth — exact dyadic sample
    // values (raw/128 with raw even in [-100, 100]) make RMS, peak,
    // zero-crossings, and duration independently recomputable; sqrt and
    // single divisions are correctly-rounded IEEE on identical operands
    "m09_audio_decode" ->
      s"""WITH fr AS (
         |  SELECT doc_id, CAST(doc_id % 10 + 1 AS INTEGER) AS n,
         |    i.range AS i
         |  FROM documents CROSS JOIN range(0, 10) i
         |  WHERE i.range < doc_id % 10 + 1),
         |hb AS (SELECT doc_id, n, i,
         |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)) AS h
         |  FROM fr),
         |sv AS (SELECT doc_id, n, i,
         |  (2 * (($MD5_U_HORNER) % 101 - 50)) / 128.0 AS s FROM hb),
         |tr AS (SELECT doc_id, n, s,
         |  CASE WHEN (s >= 0) !=
         |    (LAG(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
         |    THEN 1 ELSE 0 END AS zx
         |  FROM sv)
         |SELECT doc_id, 'wav' AS format,
         |  CAST(8000 AS INTEGER) AS sample_rate,
         |  CAST(1 AS INTEGER) AS channels, n AS n_frames,
         |  CAST(44 + n AS INTEGER) AS n_bytes,
         |  sqrt(SUM(s * s) / n) AS rms,
         |  MAX(ABS(s)) AS peak,
         |  n / 8000.0 AS duration_sec,
         |  CAST(SUM(zx) AS DOUBLE) AS zero_crossings
         |FROM tr GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    // m12: the μ-law clips' ground truth — every code byte re-expanded
    // through the integer G.711 formula (u = 255 − code; t = ((u&15)·8 +
    // 132) << ((u>>4)&7); v = sign(u&128) ? 132−t : t−132), then the same
    // exact-dyadic feature arithmetic as m09: v/32768 is exact, v² fits
    // 30 mantissa bits so the sum is order-independent, sqrt and the
    // single divisions are correctly-rounded IEEE on identical operands
    "m12_ulaw_decode" -> ulawOracleSql("'ulaw'", "44 + n"),
    // m14: the SAME decoded ground truth re-checked THROUGH the
    // transcode — G.711 expands to exact int16, so canonicalizing to
    // 16-bit WAV is lossless and only the container geometry changes
    // (format 'wav', 44-byte header + 2 bytes/sample)
    "m14_transcode_pcm16" -> ulawOracleSql("'wav'", "44 + 2 * n"),
    // m15: see ulawOracleSql — the 2x-upsampled ground truth via the
    // shared recipe's upsample2x variant
    "m15_resample2x" ->
      ulawOracleSql("'wav'", "44 + 2 * (2 * n - 1)", upsample2x = true),
    // m16: the A-law clips' ground truth — every code byte re-expanded
    // through the integer A-law formula (a = code XOR 0x55; seg =
    // (a&0x70)>>4; v = ((a&15)<<4)+8, +0x100 from segment 1, << seg−1
    // above segment 1; sign POSITIVE when the toggled top bit is set),
    // then the m12 feature arithmetic on the same exactness argument
    "m16_alaw_decode" ->
      s"""WITH fr AS (
         |  SELECT doc_id, CAST(doc_id % 10 + 1 AS INTEGER) AS n,
         |    i.range AS i
         |  FROM documents CROSS JOIN range(0, 10) i
         |  WHERE i.range < doc_id % 10 + 1),
         |hb AS (SELECT doc_id, n, i,
         |  md5(CAST(doc_id AS VARCHAR) || ':al:' || CAST(i AS VARCHAR))
         |    AS h
         |  FROM fr),
         |cd AS (SELECT doc_id, n, i,
         |  CAST(xor(($MD5_U_HORNER) % 256, 85) AS INTEGER) AS a FROM hb),
         |vm AS (SELECT doc_id, n, i, a, (a & 112) >> 4 AS seg,
         |  ((a & 15) << 4) + 8 AS m0 FROM cd),
         |vs AS (SELECT doc_id, n, i, a,
         |  CASE WHEN seg > 1 THEN (m0 + 256) << (seg - 1)
         |       WHEN seg = 1 THEN m0 + 256
         |       ELSE m0 END AS mag
         |  FROM vm),
         |sv AS (SELECT doc_id, n, i,
         |  (CASE WHEN (a & 128) = 0 THEN -mag ELSE mag END) / 32768.0 AS s
         |  FROM vs),
         |tr AS (SELECT doc_id, n, s,
         |  CASE WHEN (s >= 0) !=
         |    (LAG(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
         |    THEN 1 ELSE 0 END AS zx
         |  FROM sv)
         |SELECT doc_id, 'alaw' AS format,
         |  CAST(8000 AS INTEGER) AS sample_rate,
         |  CAST(1 AS INTEGER) AS channels, n AS n_frames,
         |  CAST(44 + n AS INTEGER) AS n_bytes,
         |  sqrt(SUM(s * s) / n) AS rms,
         |  MAX(ABS(s)) AS peak,
         |  n / 8000.0 AS duration_sec,
         |  CAST(SUM(zx) AS DOUBLE) AS zero_crossings
         |FROM tr GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    // m13: see adpcmOracleSql — the compressed codec's decode unrolled
    // CTE by CTE from the oracle's own copy of the DVI step tables
    "m13_adpcm_decode" -> adpcmOracleSql,
    // m17/m18: see adpcmStereoOracleSql / msAdpcmOracleSql — the stereo
    // IMA word-interleave and the MS ADPCM recurrence, both unrolled
    // from the oracle's own restatement of the public tables
    "m17_adpcm_stereo" -> adpcmStereoOracleSql,
    "m18_msadpcm_decode" -> msAdpcmOracleSql,
    "m19_msadpcm_stereo" -> msAdpcmStereoOracleSql,
    // m20: the FLAC fixture's FIXED-order-1 chain is warmup + running
    // residual sum — the oracle recomputes it per sample from md5 while
    // the engine must decode the Rice bitstream to recover the residuals
    "m20_flac_decode" -> flacOracleSql("'flac'", "200"),
    "m22_flac24_decode" -> flac24OracleSql,
    "m23_flac32_decode" -> flac32OracleSql,
    // m21: the SAME decoded ground truth re-checked THROUGH
    // transcodePcm16 — FLAC→canonical-WAV is lossless, so only the
    // container geometry (format, byte count) changes
    "m21_flac_transcode" -> flacOracleSql("'wav'", "44 + 2 * n"),
    // m10: the audio fingerprint replayed from ground truth — window RMS
    // over exact dyadic samples (window counts are 1 or 2, power-of-two
    // divisions), delta SIGNS are the bits; the half-gain clone's samples
    // are recomputed at half amplitude, not assumed invariant
    "m10_audio_neardup" ->
      s"""WITH d AS (SELECT doc_id FROM documents),
         |m AS (
         |  SELECT doc_id, doc_id AS src, 0 AS hg FROM d
         |  UNION ALL SELECT doc_id + 1000000, doc_id, 0 FROM d
         |    WHERE doc_id % 97 = 0
         |  UNION ALL SELECT doc_id + 2000000, doc_id, 1 FROM d
         |    WHERE doc_id % 101 = 0),
         |fr AS (
         |  SELECT m.doc_id, m.hg, CAST(m.src % 10 + 60 AS INTEGER) AS n,
         |    i.range AS i, m.src
         |  FROM m CROSS JOIN range(0, 70) i WHERE i.range < m.src % 10 + 60),
         |hb AS (SELECT doc_id, hg, n, i,
         |  md5(CAST(src AS VARCHAR) || ':' || CAST(i AS VARCHAR)) AS h
         |  FROM fr),
         |sv AS (SELECT doc_id, n,
         |  CAST((i * LEAST(65, n)) // n AS INTEGER) AS w,
         |  (CASE WHEN hg = 1 THEN ($MD5_U_HORNER) % 101 - 50
         |        ELSE 2 * (($MD5_U_HORNER) % 101 - 50) END) / 128.0 AS s
         |  FROM hb),
         |wr AS (SELECT doc_id, w, sqrt(SUM(s * s) / COUNT(1)) AS rms
         |  FROM sv GROUP BY 1, 2),
         |dl AS (SELECT doc_id, w,
         |  CASE WHEN rms > LAG(rms) OVER (PARTITION BY doc_id ORDER BY w)
         |    THEN 1 ELSE 0 END AS rising FROM wr),
         |fp AS (SELECT doc_id,
         |  COALESCE(SUM(CASE WHEN rising = 1 AND w >= 33
         |    THEN (CAST(1 AS BIGINT) << (w - 33)) END), 0) AS hi,
         |  COALESCE(SUM(CASE WHEN rising = 1 AND w < 33
         |    THEN (CAST(1 AS BIGINT) << (w - 1)) END), 0) AS lo
         |  FROM dl WHERE w >= 1 GROUP BY 1)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
         |    AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // m04: the fake-media metadata recipe + per-modality running byte sum
    "m04_decode_batches" ->
      """WITH m AS (SELECT doc_id,
        |  (['png', 'jpeg', 'wav'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
        |  CAST((64 + (doc_id % 8) * 32) *
        |    (64 + (doc_id % 5) * 48) * (doc_id % 10 + 1) AS BIGINT)
        |    AS est_bytes
        |  FROM documents),
        |o AS (SELECT doc_id, format, est_bytes,
        |  CAST(COALESCE(SUM(est_bytes) OVER (PARTITION BY format
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) AS "offset"
        |  FROM m)
        |SELECT doc_id, format, est_bytes, "offset",
        |"offset" // 1000000 AS batch_id
        |FROM o ORDER BY format, doc_id""".stripMargin,
    "q32_month_ordinal" ->
      s"""SELECT monthname(l_shipdate) AS month_name, ${sumd(REV, "revenue")}
         |FROM lineitem GROUP BY monthname(l_shipdate), month(l_shipdate)
         |ORDER BY month(l_shipdate)""".stripMargin,
    "q33_weekly_hierarchy" ->
      s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |CAST(weekofyear(l_shipdate) AS INTEGER) AS ship_week,
         |${sumd(REV, "revenue")}, COUNT(1) AS cnt
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q31_parent_child" ->
      """WITH RECURSIVE closure AS (
        |  SELECT c_custkey AS ancestor, c_custkey AS descendant FROM customer
        |  UNION ALL
        |  SELECT cl.ancestor, c.c_custkey
        |  FROM closure cl JOIN customer c
        |  ON c.c_custkey // 2 = cl.descendant AND c.c_custkey > 0)
        |SELECT cl.ancestor AS customer,
        |CAST(SUM(CAST(CAST((o_totalprice) AS VARCHAR) AS DECIMAL(27,6))) AS DOUBLE) AS subtree_sales,
        |COUNT(1) AS subtree_orders
        |FROM orders JOIN closure cl ON o_custkey = cl.descendant
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // m06: the oracle replays the fake-meta dims and the exact-integer
    // aspect argmin — |w*bh - bw*h| * (lcm(bh)/bh) with lcm(64,96,128) =
    // 384 -> per-bucket multipliers {6,4,6,3,3}; ROW_NUMBER over
    // (metric, idx) is the same min-struct tie-break, and the in-bucket
    // sequence replays the two-phase prefix count's (doc_id) order
    "m06_ar_buckets" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(64 + (doc_id % 8) * 32 AS INTEGER) AS width,
        |  CAST(64 + (doc_id % 5) * 48 AS INTEGER) AS height
        |  FROM documents),
        |b(idx, bw, bh, mult) AS (VALUES
        |  (0, 64, 64, 6), (1, 128, 96, 4), (2, 128, 64, 6),
        |  (3, 96, 128, 3), (4, 64, 128, 3)),
        |sc AS (SELECT m.doc_id, m.width, m.height, b.idx, b.bw, b.bh,
        |  abs(m.width * b.bh - b.bw * m.height) * b.mult AS metric
        |  FROM m CROSS JOIN b),
        |pick AS (SELECT doc_id, width, height, idx, bw, bh,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY metric, idx)
        |    AS rn FROM sc),
        |sel AS (SELECT doc_id, width, height, idx, bw, bh
        |  FROM pick WHERE rn = 1),
        |seq AS (SELECT *, ROW_NUMBER()
        |  OVER (PARTITION BY idx ORDER BY doc_id) - 1 AS s FROM sel)
        |SELECT doc_id, width, height, CAST(idx AS INTEGER) AS bucket,
        |CAST(bw AS INTEGER) AS bucket_w, CAST(bh AS INTEGER) AS bucket_h,
        |CAST(s // 8 AS INTEGER) AS batch_id
        |FROM seq ORDER BY doc_id""".stripMargin,
    "m03_resize_plan" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(64 + (doc_id % 8) * 32 AS INTEGER) AS width,
        |  CAST(64 + (doc_id % 5) * 48 AS INTEGER) AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |least(1.0, 256 / greatest(width, height)) AS scale,
        |CAST(FLOOR(width * least(1.0, 256 / greatest(width, height))) AS INTEGER) AS out_width,
        |CAST(FLOOR(height * least(1.0, 256 / greatest(width, height))) AS INTEGER) AS out_height
        |FROM m ORDER BY doc_id""".stripMargin,
    // m01: the decoder's REAL path (javax.imageio pixels) can't be
    // replayed by a SQL engine, and the fixture payloads are md5(text)
    // bytes — not image streams — so every row takes the deterministic
    // byte-moment FALLBACK, which the oracle recomputes in SQL (hex
    // digits -> byte values). The pixel path is spec-gated instead
    // (OpsSpec "image decode is REAL"). All intermediate sums are small
    // integers => the double arithmetic is exact and order-independent
    // on both sides.
    "m01_multimodal_decode" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |b AS (SELECT doc_id,
        |  (instr('0123456789abcdef', substr(h, 2*i-1, 1)) - 1) * 16 +
        |  (instr('0123456789abcdef', substr(h, 2*i, 1)) - 1) AS byte
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS i)),
        |s AS (SELECT doc_id, SUM(byte) AS s0, SUM(byte*byte) AS s1,
        |  MAX(byte) AS mx FROM b GROUP BY doc_id)
        |SELECT doc_id,
        |list_extract(['png', 'jpeg', 'wav'], CAST(doc_id % 3 + 1 AS INTEGER)) AS format,
        |CAST(64 + (doc_id % 8) * 32 AS INTEGER) AS width,
        |CAST(64 + (doc_id % 5) * 48 AS INTEGER) AS height,
        |CAST(doc_id % 10 + 1 AS INTEGER) AS n_frames,
        |CAST(16 AS INTEGER) AS n_bytes,
        |CAST(s0 AS DOUBLE) / 16.0 AS f_mean,
        |sqrt(greatest(CAST(s1 AS DOUBLE) / 16.0
        |  - (CAST(s0 AS DOUBLE) / 16.0) * (CAST(s0 AS DOUBLE) / 16.0), 0.0)) AS f_std,
        |CAST(mx AS DOUBLE) AS f_max,
        |CAST(16.0 AS DOUBLE) AS f_n
        |FROM s ORDER BY doc_id""".stripMargin,
    "t10_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tc AS (SELECT doc_id, tok, COUNT(1) AS c FROM tok GROUP BY 1, 2),
        |t AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
        |  FROM tc GROUP BY 1),
        |bg0 AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 2 THEN []
        |  ELSE list_transform(range(1, len(string_split(text, ' '))),
        |    i -> array_to_string((string_split(text, ' '))[i:i+1], ' ')) END AS bgs
        |  FROM documents),
        |bg AS (SELECT doc_id, unnest(bgs) AS bg FROM bg0),
        |bc AS (SELECT doc_id, bg, COUNT(1) AS c FROM bg GROUP BY 1, 2),
        |b AS (SELECT doc_id,
        |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac,
        |  1.0 - CAST(COUNT(1) AS DOUBLE) / SUM(c) AS dup_bigram_frac
        |  FROM bc GROUP BY 1)
        |SELECT t.doc_id, t.top_token_frac, b.top_bigram_frac,
        |b.dup_bigram_frac
        |FROM t LEFT JOIN b USING (doc_id) ORDER BY doc_id""".stripMargin,
    // t11: string 5-gram intersection against the src0 set; counts are
    // invariant under the Spark side's injective xxhash64 shingle hashing
    "t11_decontaminate" -> decontamOracleSql,
    // t41: per-(doc, benchmark) shared-gram counts, contaminated pairs only
    "t41_decontam_multi" ->
      """WITH sh AS (SELECT doc_id, source,
        |  CASE WHEN len(string_split(text, ' ')) < 5 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 3),
        |    i -> array_to_string((string_split(text, ' '))[i:i+4], ' '))) END AS sh
        |  FROM documents),
        |c AS (SELECT doc_id, sh FROM sh
        |  WHERE source NOT IN ('src0', 'src1')),
        |bg AS (SELECT source AS bench, list_distinct(flatten(list(sh))) AS bg
        |  FROM sh WHERE source IN ('src0', 'src1') GROUP BY source)
        |SELECT c.doc_id, b.bench, CAST(len(c.sh) AS INTEGER) AS n_grams,
        |  CAST(len(list_intersect(c.sh, b.bg)) AS BIGINT) AS hit_grams
        |FROM c CROSS JOIN bg b
        |WHERE len(list_intersect(c.sh, b.bg)) > 0
        |ORDER BY c.doc_id, b.bench""".stripMargin,
    // d17: the bloom-prefiltered path is OUTPUT-IDENTICAL to t11 by
    // construction (no false negatives + exact verify) — same oracle
    "d17_bloom_decontam" -> decontamOracleSql,
    // e04: each step is the min event time at-or-after the previous step's
    // time, per user — the same filtered-min cascade the Spark plan runs
    "e04_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(ts_us) AS t1_us FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT ev.user_id, MIN(ev.ts_us) AS t2_us FROM ev
        |  JOIN s1 ON ev.user_id = s1.user_id
        |  WHERE ev.event_type = 'click' AND ev.ts_us >= s1.t1_us
        |  GROUP BY ev.user_id),
        |s3 AS (SELECT ev.user_id, MIN(ev.ts_us) AS t3_us FROM ev
        |  JOIN s2 ON ev.user_id = s2.user_id
        |  WHERE ev.event_type = 'purchase' AND ev.ts_us >= s2.t2_us
        |  GROUP BY ev.user_id)
        |SELECT s1.user_id, s1.t1_us, s2.t2_us, s3.t3_us,
        |CAST(1 + (CASE WHEN s2.t2_us IS NULL THEN 0 ELSE 1 END)
        |  + (CASE WHEN s3.t3_us IS NULL THEN 0 ELSE 1 END) AS INTEGER)
        |  AS steps_completed
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,
    // e20: e04's chained min-aggregations with the 72h consecutive-gap
    // constraint (259200s = 259200000000 µs)
    "e20_windowed_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |s1 AS (SELECT user_id, MIN(ts_us) AS t1_us FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT ev.user_id, MIN(ev.ts_us) AS t2_us FROM ev
        |  JOIN s1 ON ev.user_id = s1.user_id
        |  WHERE ev.event_type = 'click' AND ev.ts_us >= s1.t1_us
        |    AND ev.ts_us <= s1.t1_us + 259200000000
        |  GROUP BY ev.user_id),
        |s3 AS (SELECT ev.user_id, MIN(ev.ts_us) AS t3_us FROM ev
        |  JOIN s2 ON ev.user_id = s2.user_id
        |  WHERE ev.event_type = 'purchase' AND ev.ts_us >= s2.t2_us
        |    AND ev.ts_us <= s2.t2_us + 259200000000
        |  GROUP BY ev.user_id)
        |SELECT s1.user_id, s1.t1_us, s2.t2_us, s3.t3_us,
        |CAST(1 + (CASE WHEN s2.t2_us IS NULL THEN 0 ELSE 1 END)
        |  + (CASE WHEN s3.t3_us IS NULL THEN 0 ELSE 1 END) AS INTEGER)
        |  AS steps_completed
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,
    // t12: frequency-space rarity (no ln(): not bit-specified across
    // engines) — long count sums, IEEE division only at the end
    "t12_rarity" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |counts AS (SELECT tok, COUNT(1) AS c FROM tok GROUP BY tok),
        |total AS (SELECT SUM(c) AS n_total FROM counts),
        |agg AS (SELECT t.doc_id, COUNT(1) AS n_tokens, SUM(c.c) AS sum_c,
        |  MIN(c.c) AS min_c
        |  FROM tok t JOIN counts c ON t.tok = c.tok GROUP BY t.doc_id)
        |SELECT a.doc_id, CAST(a.n_tokens AS BIGINT) AS n_tokens,
        |CAST(a.sum_c AS DOUBLE) / tt.n_total / a.n_tokens AS mean_tok_freq,
        |CAST(a.min_c AS DOUBLE) / tt.n_total AS min_tok_freq
        |FROM agg a, total tt ORDER BY a.doc_id""".stripMargin,
    // d08: string 10-word spans here vs xxhash64-hashed spans in Spark —
    // occurrence counts are invariant under the injective hash
    "d08_dup_spans" ->
      """WITH sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 10 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 8),
        |    i -> array_to_string((string_split(text, ' '))[i:i+9], ' '))) END AS sh
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(1) >= 2),
        |hits AS (SELECT doc_id, COUNT(1) AS shared_grams FROM g
        |  JOIN dup USING (g) GROUP BY doc_id)
        |SELECT s.doc_id, CAST(len(s.sh) AS INTEGER) AS n_grams,
        |CAST(COALESCE(h.shared_grams, 0) AS BIGINT) AS shared_grams,
        |CAST(COALESCE(h.shared_grams, 0) AS DOUBLE)
        |  / greatest(CAST(len(s.sh) AS INTEGER), 1) AS dup_span_frac
        |FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    // t13: log-free BM25; every constant is CAST(... AS DOUBLE) because
    // DuckDB parses bare decimal literals as DECIMAL, which would switch
    // the arithmetic off the IEEE-double path Spark computes on
    "t13_bm25" -> {
      val terms = Seq("spark", "hash", "join")
      val tfs = terms.map(t =>
        s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS INTEGER) AS tf_$t")
        .mkString(",\n")
      val dfs = terms.map(t =>
        s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
        .mkString(",\n")
      val score = terms.map(t =>
        s"""(((n_docs - df_$t + CAST(0.5 AS DOUBLE)) / (df_$t + CAST(0.5 AS DOUBLE)))
           | * ((tf_$t * CAST(2.2 AS DOUBLE)) / (tf_$t + CAST(1.2 AS DOUBLE)
           |   * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (dl / avgdl)))))"""
          .stripMargin)
        .reduce((a, b) => s"($a\n + $b)")
      s"""WITH base AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INTEGER) AS dl,
         |$tfs
         |  FROM documents),
         |stats AS (SELECT COUNT(1) AS n_docs,
         |  CAST(SUM(dl) AS DOUBLE) / COUNT(1) AS avgdl,
         |$dfs
         |  FROM base)
         |SELECT doc_id, dl, ${terms.map(t => s"tf_$t").mkString(", ")},
         |$score AS score
         |FROM base, stats
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },
    // t14: ln() on identical integer-ratio inputs; each surprisal captured
    // as DECIMAL(38,18) via the VARCHAR hop (Spark's double→decimal cast
    // quantizes via the shortest round-trip string), decimal SUM is
    // aggregation-order-independent, round(…,6) absorbs sub-micro residue
    "t14_lm_score" ->
      s"""WITH $LM_SCORE_CTES
         |SELECT doc_id, n_bigrams, lm_score FROM scored
         |ORDER BY doc_id""".stripMargin,
    // t34: Moore-Lewis CE difference — add-one-smoothed seed vs general
    // bigram LMs over one bigram stream; same decimal-sum discipline as
    // t14 (integer adds in BIGINT, one CAST to DOUBLE, VARCHAR-hop
    // quantization, round 6)
    "t34_domain_select" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |bg AS (SELECT doc_id, source, unnest(w[1:len(w)-1]) AS w1,
        |  unnest(w[2:len(w)]) AS w2 FROM toks),
        |c2i AS (SELECT w1, w2, COUNT(1) AS c2i FROM bg
        |  WHERE source = 'src0' GROUP BY 1, 2),
        |c1i AS (SELECT w1, COUNT(1) AS c1i FROM bg
        |  WHERE source = 'src0' GROUP BY 1),
        |vi AS (SELECT COUNT(DISTINCT w2) + 1 AS vi FROM bg
        |  WHERE source = 'src0'),
        |c2g AS (SELECT w1, w2, COUNT(1) AS c2g FROM bg GROUP BY 1, 2),
        |c1g AS (SELECT w1, COUNT(1) AS c1g FROM bg GROUP BY 1),
        |vg AS (SELECT COUNT(DISTINCT w2) + 1 AS vg FROM bg),
        |sc AS (SELECT bg.doc_id, bg.source,
        |  CAST(CAST(
        |    ln(CAST(c2g.c2g + 1 AS DOUBLE) / CAST(c1g.c1g + vg.vg AS DOUBLE))
        |    - ln(CAST(COALESCE(c2i.c2i, 0) + 1 AS DOUBLE)
        |        / CAST(COALESCE(c1i.c1i, 0) + vi.vi AS DOUBLE))
        |    AS VARCHAR) AS DECIMAL(38,18)) AS s
        |  FROM bg
        |  JOIN c2g ON bg.w1 = c2g.w1 AND bg.w2 = c2g.w2
        |  JOIN c1g ON bg.w1 = c1g.w1
        |  LEFT JOIN c2i ON bg.w1 = c2i.w1 AND bg.w2 = c2i.w2
        |  LEFT JOIN c1i ON bg.w1 = c1i.w1
        |  CROSS JOIN vi CROSS JOIN vg)
        |SELECT doc_id, source, CAST(COUNT(1) AS BIGINT) AS n_bigrams,
        |  round(CAST(SUM(s) AS DOUBLE) / COUNT(1), 6) AS ce_diff
        |FROM sc GROUP BY doc_id, source
        |ORDER BY doc_id""".stripMargin,
    // t28: t14's per-doc scores tiled into equi-depth quartiles (NTILE over
    // t36: the 3-round GD distillation, unrolled one CTE pair per round
    "t36_linear_probe" -> probeOracle(3, 0.5),
    // t39: the t36 training CTEs, then integer-exact keep/precision/recall
    // per binary-exact threshold
    "t39_probe_calibration" ->
      s"""${probeCtes(3, 0.5)},
         |sc AS (SELECT (w.wb*f.x0 + w.wu*f.x1 + w.ws*f.x2 + w.wl*f.x3)
         |    AS pred,
         |  CASE WHEN f.y >= 1.0 THEN 1 ELSE 0 END AS good
         |  FROM f CROSS JOIN w3 w),
         |th AS (SELECT CAST(v AS DOUBLE) AS threshold
         |  FROM (VALUES (0.5), (0.75), (1.0), (1.25)) t(v))
         |SELECT th.threshold,
         |  CAST(SUM(CASE WHEN sc.pred >= th.threshold THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN sc.pred >= th.threshold AND sc.good = 1
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_good_kept,
         |  CAST(SUM(sc.good) AS BIGINT) AS n_good,
         |  CASE WHEN SUM(CASE WHEN sc.pred >= th.threshold THEN 1 ELSE 0
         |      END) > 0
         |    THEN CAST(SUM(CASE WHEN sc.pred >= th.threshold AND
         |        sc.good = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / CAST(SUM(CASE WHEN sc.pred >= th.threshold THEN 1 ELSE 0
         |        END) AS DOUBLE) END AS precision,
         |  CASE WHEN SUM(sc.good) > 0
         |    THEN CAST(SUM(CASE WHEN sc.pred >= th.threshold AND
         |        sc.good = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / CAST(SUM(sc.good) AS DOUBLE) END AS recall
         |FROM sc CROSS JOIN th
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // t38: t07's split buckets, train-only add-one bigram LM, valid-split
    // scoring (t14's DECIMAL(38,18) surprisal discipline)
    "t38_heldout_ppl" ->
      """WITH h AS (SELECT doc_id, source, text,
        |  md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS h
        |  FROM documents),
        |sp AS (SELECT doc_id, source, text,
        |  CASE WHEN CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |      + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |      + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 100
        |    AS INTEGER) < 80 THEN 'train'
        |  WHEN CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |      + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |      + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 100
        |    AS INTEGER) < 90 THEN 'valid' ELSE 'test' END AS split
        |  FROM h),
        |toks AS (SELECT source, split, string_split(text, ' ') AS w FROM sp),
        |bg AS (SELECT source, split, unnest(w[1:len(w)-1]) AS w1,
        |  unnest(w[2:len(w)]) AS w2 FROM toks),
        |c2 AS (SELECT w1, w2, COUNT(1) AS c2 FROM bg
        |  WHERE split = 'train' GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(1) AS c1 FROM bg
        |  WHERE split = 'train' GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w2) + 1 AS v FROM bg
        |  WHERE split = 'train'),
        |sc AS (SELECT bg.source, c2.c2 AS c2v,
        |  CAST(CAST(-ln(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
        |      / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE))
        |    AS VARCHAR) AS DECIMAL(38,18)) AS s
        |  FROM bg LEFT JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
        |  LEFT JOIN c1 ON bg.w1 = c1.w1
        |  CROSS JOIN v
        |  WHERE bg.split = 'valid')
        |SELECT source, COUNT(1) AS n_bigrams,
        |  CAST(SUM(CASE WHEN c2v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS unseen_bigrams,
        |  round(CAST(SUM(s) AS DOUBLE) / COUNT(1), 6) AS heldout_ce
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    // t37: the same unrolled training, then the corpus-wide scoring scan
    "t37_probe_score" -> probeScoreOracle(3, 0.5),
    // the (lm_score, doc_id) total order — the Ranking.equiDepthTiles
    // contract) and rolled up per difficulty bucket
    "t28_difficulty_buckets" ->
      s"""WITH $LM_SCORE_CTES,
         |t AS (SELECT *, CAST(NTILE(4) OVER (
         |  ORDER BY lm_score ASC, doc_id ASC) AS INTEGER) AS difficulty
         |  FROM scored)
         |SELECT difficulty, CAST(COUNT(1) AS BIGINT) AS n_docs,
         |MIN(lm_score) AS lo, MAX(lm_score) AS hi,
         |CAST(SUM(n_bigrams) AS BIGINT) AS bigram_budget
         |FROM t GROUP BY difficulty ORDER BY difficulty""".stripMargin,
    // t15: DuckDB list slices are 1-based INCLUSIVE (w[a:b] = b−a+1 items),
    // mirroring Spark's slice(w, start, LENGTH); range() is exclusive → +1
    "t15_chunk_windows" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
        |  len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, w,
        |  unnest(range(0, greatest(0, CAST(ceil((n - 64)
        |    / CAST(48 AS DOUBLE)) AS INTEGER)) + 1)) AS i
        |  FROM d)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |  array_to_string(w[i*48+1 : i*48+64], ' ') AS chunk_text,
        |  CAST(len(w[i*48+1 : i*48+64]) AS INTEGER) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // e06: first-touch → conversion latency; exact integer micros until the
    // final division (same epoch-anchored day convention as e05)
    "e06_time_to_convert" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |f AS (SELECT user_id,
        |  MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS t_from_us,
        |  MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) AS t_to_us
        |  FROM ev GROUP BY user_id),
        |c AS (SELECT CAST(datediff('day', DATE '1996-01-01',
        |    CAST(make_timestamp(t_from_us) AS DATE)) AS INTEGER) AS cohort_day,
        |  t_to_us - t_from_us AS delta_us
        |  FROM f WHERE t_from_us IS NOT NULL AND t_to_us IS NOT NULL
        |    AND t_to_us >= t_from_us)
        |SELECT cohort_day, CAST(COUNT(1) AS BIGINT) AS converted,
        |  CAST(SUM(delta_us) AS DOUBLE) / COUNT(1) / 1000000.0 AS avg_secs,
        |  CAST(MIN(delta_us) AS DOUBLE) / 1000000.0 AS min_secs,
        |  CAST(MAX(delta_us) AS DOUBLE) / 1000000.0 AS max_secs
        |FROM c GROUP BY cohort_day ORDER BY cohort_day""".stripMargin,
    // e07: rolling sums ride as DECIMAL through the window (accumulation
    // order can differ between engines; decimal addition is exact) and cast
    // to DOUBLE only at the end
    "e07_rolling_daily" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(27,6))) AS rev_d,
        |  COUNT(1) AS n_d
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day,
        |  CAST(rev_d AS DOUBLE) AS revenue,
        |  CAST(SUM(rev_d) OVER w AS DOUBLE) AS rolling_revenue,
        |  CAST(SUM(rev_d) OVER w AS DOUBLE) / CAST(SUM(n_d) OVER w AS DOUBLE)
        |    AS rolling_avg_value,
        |  CAST(SUM(n_d) OVER w AS BIGINT) AS rolling_events
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |  RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "d10_embedding_neardup_lsh" -> embLshOracleSql,
    // t16: the oracle's single global window IS the semantics; the Spark
    // plan computes the same prefix sum bucket-distributed
    "t16_seq_pack" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |o AS (SELECT doc_id, n_tok,
        |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS tok_offset
        |  FROM t)
        |SELECT doc_id, n_tok, tok_offset,
        |  tok_offset // 512 AS seq_id,
        |  tok_offset % 512 AS seq_offset,
        |  (tok_offset + n_tok - 1) // 512 - tok_offset // 512 + 1 AS n_seqs
        |FROM o ORDER BY doc_id""".stripMargin,
    // t17: lift's multiplication association order mirrors the Spark column
    // expression exactly (integer-valued doubles, same IEEE rounding)
    "t17_collocations" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS wd FROM toks),
        |uc AS (SELECT wd, COUNT(1) AS c FROM uni GROUP BY wd),
        |bi AS (SELECT w[g] AS w1, w[g + 1] AS w2 FROM
        |  (SELECT w, unnest(generate_series(1, len(w) - 1)) AS g FROM toks)),
        |bc AS (SELECT w1, w2, COUNT(1) AS c_xy FROM bi GROUP BY 1, 2),
        |tot AS (SELECT (SELECT COUNT(1) FROM uni) AS n_total,
        |  (SELECT COUNT(1) FROM bi) AS m_total)
        |SELECT w1, w2, c_xy,
        |  (CAST(c_xy AS DOUBLE) * n_total * n_total) /
        |    (CAST(m_total AS DOUBLE) * u1.c * u2.c) AS lift
        |FROM bc JOIN uc u1 ON bc.w1 = u1.wd JOIN uc u2 ON bc.w2 = u2.wd
        |CROSS JOIN tot
        |WHERE c_xy >= 5
        |ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    // q43: DuckDB GROUPING(a, b) uses the same MSB-first bitmask as Spark's
    // grouping_id() (verified: rollup levels 0, 1, 3)
    "q43_grouping_sets" ->
      s"""SELECT CAST(GROUPING(r_name, p_brand) AS INTEGER) AS gid,
         |r_name AS region, p_brand AS brand,
         |${sumd(REV, "revenue")}, COUNT(1) AS cnt
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY ROLLUP(r_name, p_brand)
         |ORDER BY 1, 2, 3""".stripMargin,
    // q44: ROW_NUMBER over (revenue DESC, brand) is the total order the
    // GroupedTopK heaps rank by
    "q44_topk_per_group" ->
      s"""WITH agg AS (SELECT r_name AS region, p_brand AS brand,
         |  ${sumd(REV, "revenue")}
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY 1, 2),
         |r AS (SELECT region, brand, revenue,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY region
         |    ORDER BY revenue DESC, brand ASC) AS INTEGER) AS rank
         |  FROM agg)
         |SELECT region, rank, brand, revenue FROM r WHERE rank <= 3
         |ORDER BY region, rank""".stripMargin,
    // q45: the running sum accumulates in DECIMAL on both engines, so
    // evaluation order cannot move a bit; cast to double only at the end
    "q45_running_total" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS order_month,
        |  SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(27,6))) AS rev_m
        |  FROM orders GROUP BY 1, 2)
        |SELECT order_year, order_month, CAST(rev_m AS DOUBLE) AS revenue,
        |CAST(SUM(rev_m) OVER (ORDER BY order_year, order_month
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS cumulative_revenue
        |FROM m ORDER BY 1, 2""".stripMargin,
    // q46: region totals via a decimal window sum; the share is one
    // double/double division with identical operands on both engines
    "q46_share_of_parent" ->
      s"""WITH agg AS (SELECT r_name AS region, p_brand AS brand,
         |  SUM(${dec(REV)}) AS rev
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY 1, 2)
         |SELECT region, brand, CAST(rev AS DOUBLE) AS revenue,
         |CAST(rev AS DOUBLE) /
         |  CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE)
         |  AS share_of_region
         |FROM agg ORDER BY region, brand""".stripMargin,
    // q50: same decimal revenue chain; all windows partition by region
    "q50_rank_in_region" ->
      s"""WITH agg AS (SELECT r_name AS region, p_brand AS brand,
         |  SUM(${dec(REV)}) AS rev
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY 1, 2),
         |w AS (SELECT region, brand, rev,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY region
         |    ORDER BY rev DESC, brand ASC) AS INTEGER) AS rnk,
         |  lag(rev) OVER (PARTITION BY region
         |    ORDER BY rev DESC, brand ASC) AS prev,
         |  MAX(rev) OVER (PARTITION BY region) AS leader
         |  FROM agg)
         |SELECT region, rnk, brand, CAST(rev AS DOUBLE) AS revenue,
         |COALESCE(CAST(prev - rev AS DOUBLE), 0.0) AS behind_prev,
         |CAST(rev AS DOUBLE) / CAST(leader AS DOUBLE) AS pct_of_leader
         |FROM w ORDER BY region, rnk""".stripMargin,
    // q51: each check replayed as a scalar-subquery count, unioned
    "q51_dq_audit" ->
      """SELECT * FROM (
        |SELECT 'duplicate_line_number' AS check_name, CAST((SELECT COUNT(1)
        |  FROM (SELECT l_orderkey, l_linenumber FROM lineitem
        |    GROUP BY 1, 2 HAVING COUNT(1) > 1)) AS BIGINT) AS n_violations
        |UNION ALL
        |SELECT 'duplicate_order_key', CAST((SELECT COUNT(1)
        |  FROM (SELECT o_orderkey FROM orders
        |    GROUP BY 1 HAVING COUNT(1) > 1)) AS BIGINT)
        |UNION ALL
        |SELECT 'lineitem_discount_range', CAST((SELECT COUNT(1)
        |  FROM lineitem WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
        |UNION ALL
        |SELECT 'lineitem_nonpositive_qty', CAST((SELECT COUNT(1)
        |  FROM lineitem WHERE l_quantity <= 0) AS BIGINT)
        |UNION ALL
        |SELECT 'lineitem_orphan_order', CAST((SELECT COUNT(1)
        |  FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders)) AS BIGINT)
        |UNION ALL
        |SELECT 'order_null_keys', CAST((SELECT COUNT(1)
        |  FROM orders WHERE o_orderkey IS NULL OR o_custkey IS NULL)
        |  AS BIGINT)
        |UNION ALL
        |SELECT 'order_orphan_customer', CAST((SELECT COUNT(1)
        |  FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer)) AS BIGINT)
        |UNION ALL
        |SELECT 'ship_before_order_date', CAST((SELECT COUNT(1)
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate < o_orderdate) AS BIGINT)
        |) ORDER BY check_name""".stripMargin,
    // e12: lead() replay; the per-prev share is one double division of
    // exact integer counts
    "e12_transitions" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  event_type FROM events),
        |nx AS (SELECT user_id, event_type AS prev_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts_us ASC, event_id ASC) AS next_type FROM ev),
        |p AS (SELECT prev_type, next_type, COUNT(1) AS n FROM nx
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, SUM(n) AS tot FROM p GROUP BY 1)
        |SELECT p.prev_type, p.next_type, CAST(p.n AS BIGINT) AS n,
        |CAST(p.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share
        |FROM p JOIN t ON p.prev_type = t.prev_type
        |ORDER BY n DESC, p.prev_type ASC, p.next_type ASC
        |LIMIT 20""".stripMargin,
    // q52: three NTILE(3) terciles over (value, custkey) total orders —
    // recency inverted (most recent = 3); monetary decimal until the end
    "q52_rfm_segments" ->
      s"""WITH pc AS (SELECT o_custkey AS custkey,
         |  MAX(o_orderdate) AS last_order, COUNT(1) AS frequency,
         |  SUM(${dec("o_totalprice")}) AS monetary
         |  FROM orders GROUP BY 1),
         |a AS (SELECT MAX(o_orderdate) AS anchor FROM orders),
         |b AS (SELECT custkey,
         |  CAST(datediff('day', last_order, a.anchor) AS BIGINT)
         |    AS recency_days,
         |  frequency, monetary FROM pc CROSS JOIN a),
         |t AS (SELECT *,
         |  CAST(4 - NTILE(3) OVER (ORDER BY recency_days ASC, custkey ASC)
         |    AS INTEGER) AS r,
         |  CAST(NTILE(3) OVER (ORDER BY frequency ASC, custkey ASC)
         |    AS INTEGER) AS f,
         |  CAST(NTILE(3) OVER (ORDER BY CAST(monetary AS DOUBLE) ASC,
         |    custkey ASC) AS INTEGER) AS m
         |  FROM b)
         |SELECT CAST(r * 100 + f * 10 + m AS INTEGER) AS rfm_code,
         |CAST(COUNT(1) AS BIGINT) AS n_customers,
         |CAST(SUM(monetary) AS DOUBLE) AS monetary_total
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // q53: per-order distinct brand sets; lift = exact integer products
    // into one double division
    "q53_copurchase" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |p AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
        |  COUNT(1) AS n_ab
        |  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        |  GROUP BY 1, 2 HAVING COUNT(1) >= 5),
        |m AS (SELECT brand, COUNT(1) AS n_b FROM ob GROUP BY 1),
        |t AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM ob)
        |SELECT brand_a, brand_b, CAST(n_ab AS BIGINT) AS n_ab,
        |CAST(n_ab * t.n_orders AS DOUBLE) /
        |  CAST(ma.n_b * mb.n_b AS DOUBLE) AS lift
        |FROM p JOIN m ma ON p.brand_a = ma.brand
        |JOIN m mb ON p.brand_b = mb.brand
        |CROSS JOIN t
        |ORDER BY lift DESC, brand_a ASC, brand_b ASC
        |LIMIT 20""".stripMargin,
    // e10: discrete percentile = the value at rank ⌈p·n/100⌉ in the
    // (value, event_id) total order — the same ROW on both engines, so the
    // double is bit-identical (no interpolation arithmetic to match)
    "e10_value_percentiles" ->
      """WITH r AS (SELECT event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY value ASC NULLS LAST, event_id ASC) AS rn,
        |  COUNT(1) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(COUNT(1) AS BIGINT) AS n_events,
        |MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(50 * n / 100.0) AS INT))
        |  THEN value END) AS p50,
        |MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(90 * n / 100.0) AS INT))
        |  THEN value END) AS p90,
        |MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(99 * n / 100.0) AS INT))
        |  THEN value END) AS p99
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // e11: decimal window sums (rev, rev² exact in DECIMAL(37,12)); the
    // mean/σ/z chain is one fixed-shape double expression on both engines.
    // The square's cast is (19,6) here vs Spark's (18,6): DuckDB multiplies
    // in the operands' common width (int64 overflow at 18), width ≥ 19
    // forces its int128 path — both sides are exact, so values agree
    "e11_anomaly_days" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))) AS rev,
        |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i
        |  FROM events GROUP BY event_type, CAST(ts AS DATE),
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE))),
        |win AS (SELECT event_type, day, rev,
        |  COUNT(rev) OVER tw AS n_prev,
        |  SUM(rev) OVER tw AS s1,
        |  SUM(CAST(CAST(rev AS DECIMAL(19,6)) * CAST(rev AS DECIMAL(19,6))
        |    AS DECIMAL(38,6))) OVER tw AS s2
        |  FROM daily
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY day_i
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |sc AS (SELECT event_type, day, rev, n_prev,
        |  CAST(s1 AS DOUBLE) / n_prev AS mean,
        |  GREATEST(0.0, CAST(s2 AS DOUBLE) / n_prev -
        |    (CAST(s1 AS DOUBLE) / n_prev) * (CAST(s1 AS DOUBLE) / n_prev))
        |    AS variance
        |  FROM win WHERE n_prev >= 2),
        |sg AS (SELECT event_type, day, rev, n_prev, mean,
        |  ROUND(sqrt(variance), 9) AS sigma FROM sc),
        |zz AS (SELECT event_type, day, CAST(rev AS DOUBLE) AS revenue,
        |  n_prev, mean, sigma,
        |  CASE WHEN sigma > 0.0
        |    THEN ROUND((CAST(rev AS DOUBLE) - mean) / sigma, 9) END AS zscore
        |  FROM sg)
        |SELECT event_type, day, revenue, n_prev, mean, sigma, zscore
        |FROM zz WHERE zscore IS NOT NULL AND ABS(zscore) >= 1.5
        |ORDER BY event_type, day""".stripMargin,
    // t22: score = tf · (N − df + ½)/(df + ½) — integer counts into one
    // fixed-shape double expression (see t13); rank order is total
    "t22_tfidf_keywords" ->
      """WITH tfc AS (SELECT doc_id, term, COUNT(1) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |   FROM documents) GROUP BY 1, 2),
        |dfc AS (SELECT term, COUNT(1) AS df FROM tfc GROUP BY term),
        |n AS (SELECT COUNT(1) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |  CAST(tf AS DOUBLE) * ((n_docs - df + 0.5) / (df + 0.5)) AS score
        |  FROM tfc JOIN dfc USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, df, score,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS INTEGER) AS rank
        |  FROM s)
        |SELECT doc_id, rank, term, tf, df, score FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    // q47: bucket = floor of one double division; the per-bucket sum rides
    // DECIMAL (VARCHAR hop) to the final double
    "q47_value_histogram" ->
      """WITH b AS (SELECT
        |  CAST(FLOOR(o_totalprice / 50000.0) AS INT) AS bucket,
        |  CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(27,6)) AS v
        |  FROM orders)
        |SELECT bucket, bucket * CAST(50000.0 AS DOUBLE) AS bucket_lo,
        |CAST(COUNT(1) AS BIGINT) AS n_orders, CAST(SUM(v) AS DOUBLE) AS total
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // q49: NTILE's distribution rule (earlier buckets take the remainder)
    // is SQL-standard and identical in both engines; the order is total
    "q49_value_quartiles" ->
      """WITH o AS (SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(27,6)) AS v
        |  FROM orders),
        |r AS (SELECT v, CAST(NTILE(4) OVER (ORDER BY v ASC, o_orderkey ASC)
        |  AS INTEGER) AS quartile FROM o)
        |SELECT quartile, CAST(COUNT(1) AS BIGINT) AS n_orders,
        |CAST(MIN(v) AS DOUBLE) AS lo, CAST(MAX(v) AS DOUBLE) AS hi,
        |CAST(SUM(v) AS DOUBLE) AS total
        |FROM r GROUP BY quartile ORDER BY quartile""".stripMargin,
    // d12: the d02 all-pairs pair set (recall-1.0 argument, see d02) +
    // unit-cost Levenshtein — identical dynamic-program in both engines
    "d12_edit_verify" ->
      """WITH sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND len(list_intersect(a.sh, b.sh)) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5)
        |SELECT p.doc_a, p.doc_b,
        |CAST(levenshtein(a.text, b.text) AS INTEGER) AS lev,
        |1.0 - levenshtein(a.text, b.text) /
        |  GREATEST(len(a.text), len(b.text)) AS edit_sim
        |FROM p JOIN documents a ON a.doc_id = p.doc_a
        |JOIN documents b ON b.doc_id = p.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
    "t23_textrank" -> textrankOracleSql,
    // s07: all-candidates Jaccard against each query doc (candidates
    // sharing zero shingles never appear — mirror the inverted-index join)
    "s07_similar_docs" ->
      """WITH sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |q AS (SELECT doc_id AS query_id, sh FROM sh
        |  WHERE doc_id IN (0, 1, 2, 3, 4) AND len(sh) > 0),
        |p AS (SELECT q.query_id, c.doc_id AS cand_id,
        |    len(list_intersect(q.sh, c.sh)) AS inter,
        |    len(q.sh) AS nq, len(c.sh) AS nc
        |  FROM q JOIN sh c ON c.doc_id <> q.query_id
        |  WHERE len(c.sh) > 0),
        |s AS (SELECT query_id, cand_id, inter,
        |    inter / (nq + nc - inter) AS jaccard
        |  FROM p WHERE inter > 0),
        |r AS (SELECT query_id, cand_id, inter, jaccard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY jaccard DESC, cand_id ASC) AS INTEGER) AS rank
        |  FROM s)
        |SELECT query_id, rank, cand_id, jaccard FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "t24_ngram_diversity" ->
      """WITH uni AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |u AS (SELECT source, CAST(COUNT(1) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT t) AS BIGINT) AS distinct_tokens,
        |  CAST(COUNT(DISTINCT t) AS DOUBLE) / COUNT(1) AS ttr
        |  FROM uni GROUP BY source),
        |tri AS (SELECT source, unnest(list_transform(
        |    range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))) AS g
        |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents)),
        |t AS (SELECT source, CAST(COUNT(1) AS BIGINT) AS n_trigrams,
        |  CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_trigrams,
        |  CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(1) AS trigram_diversity
        |  FROM tri GROUP BY source)
        |SELECT u.source, n_tokens, distinct_tokens, ttr,
        |n_trigrams, distinct_trigrams, trigram_diversity
        |FROM u LEFT JOIN t ON u.source = t.source
        |ORDER BY u.source""".stripMargin,
    "t25_bpe_fertility" -> bpeFertilityOracleSql,
    // e08: the oracle IS the naive inequality join — the bucketed equi-join
    // must return identical rows
    "e08_interval_join" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS DATE) AS e_day,
        |  datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS e_d
        |  FROM events),
        |od AS (SELECT o_custkey AS user_id,
        |  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS o_d,
        |  CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(27,6)) AS v
        |  FROM orders)
        |SELECT e.event_id, e.user_id, e.e_day,
        |CAST(COUNT(o.o_d) AS BIGINT) AS n_orders,
        |CAST(COALESCE(SUM(o.v), 0) AS DOUBLE) AS order_total
        |FROM ev e LEFT JOIN od o
        |  ON e.user_id = o.user_id AND o.o_d <= e.e_d AND o.o_d > e.e_d - 7
        |GROUP BY 1, 2, 3 ORDER BY e.event_id""".stripMargin,
    // d11: all-pairs cross-set Jaccard (recall-1.0 argument as d02); the
    // division's integer operands make max_jaccard bit-identical
    "d11_fuzzy_decontam" ->
      """WITH sh AS (SELECT doc_id, source,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |p AS (SELECT c.doc_id, b.doc_id AS b_id,
        |    len(list_intersect(c.sh, b.sh)) AS inter,
        |    len(c.sh) AS na, len(b.sh) AS nb
        |  FROM sh c JOIN sh b ON c.source <> 'src0' AND b.source = 'src0'
        |  WHERE len(c.sh) > 0 AND len(b.sh) > 0),
        |j AS (SELECT doc_id, inter / (na + nb - inter) AS jaccard FROM p
        |  WHERE inter / (na + nb - inter) >= 0.5)
        |SELECT doc_id, COUNT(1) AS n_bench_matches,
        |MAX(jaccard) AS max_jaccard
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t19_bpe_merges" -> bpeOracleSql,
    "t20_bpe_tokenize" -> bpeTokenizeOracleSql,
    // t21: span strings + positions replayed verbatim; reassembly is the
    // ordered string_agg twin of Spark's sorted collect_list
    // t31: same injection, same pattern set, same application order
    // (email → ip → phone); counts cast to INTEGER to match Spark's
    // regexp_count type
    "t31_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id, text || ' contact user' ||
        |    CAST(doc_id AS VARCHAR) || '@mail.example.com now' ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' from 10.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |      CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-010-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    AS text
        |  FROM documents),
        |pats AS (SELECT
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS p_email,
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b' AS p_ip,
        |  '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b' AS p_phone),
        |red AS (SELECT doc_id, text,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    p_email, '[EMAIL]', 'g'), p_ip, '[IP]', 'g'),
        |    p_phone, '[PHONE]', 'g') AS clean,
        |  CAST(len(regexp_extract_all(text, p_email)) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(text, p_email, '[EMAIL]', 'g'), p_ip))
        |    AS INTEGER) AS n_ip,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(regexp_replace(text, p_email, '[EMAIL]', 'g'),
        |      p_ip, '[IP]', 'g'), p_phone)) AS INTEGER) AS n_phone
        |  FROM aug CROSS JOIN pats)
        |SELECT doc_id, n_email, n_ip, n_phone,
        |  md5(clean) AS clean_md5,
        |  CAST(length(clean) AS INTEGER) AS clean_len,
        |  CAST(n_email + n_ip + n_phone AS DOUBLE) /
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS pii_per_token
        |FROM red ORDER BY doc_id""".stripMargin,
    "t21_trim_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |sp AS (SELECT doc_id, g AS pos,
        |  array_to_string(w[g:g+9], ' ') AS span
        |  FROM (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 9)) AS g FROM d)),
        |shared AS (SELECT span FROM
        |  (SELECT span, COUNT(DISTINCT doc_id) AS nd FROM sp GROUP BY span)
        |  WHERE nd >= 2),
        |cov AS (SELECT DISTINCT doc_id, pos + o AS cpos
        |  FROM (SELECT s.doc_id, s.pos, unnest(generate_series(0, 9)) AS o
        |    FROM sp s JOIN shared sh ON s.span = sh.span)),
        |toks AS (SELECT doc_id, g AS pos, w[g] AS tok
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS g
        |    FROM d)),
        |kept AS (SELECT t.doc_id, CAST(COUNT(1) AS BIGINT) AS n_kept,
        |  string_agg(t.tok, ' ' ORDER BY t.pos) AS trimmed_text
        |  FROM toks t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.pos = c.cpos
        |  WHERE c.cpos IS NULL GROUP BY t.doc_id)
        |SELECT d.doc_id, CAST(len(d.w) AS INTEGER) AS n_tokens,
        |CAST(len(d.w) - COALESCE(k.n_kept, 0) AS INTEGER) AS n_removed,
        |COALESCE(k.trimmed_text, '') AS trimmed_text
        |FROM d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // t44: the oracle replays the same snapshot mutation, then classifies
    // via the same full-outer join; token counts are whitespace splits on
    // both sides
    "t44_corpus_diff" ->
      """WITH cur AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 53 = 0 THEN 'mv_' || source ELSE source END
        |      AS source,
        |    CASE WHEN doc_id % 43 = 0 THEN text || ' rev2' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 41 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, text FROM documents
        |  WHERE doc_id % 47 = 0),
        |a AS (SELECT doc_id, source AS src_a, text AS text_a,
        |  len(string_split(text, ' ')) AS tok_a FROM documents),
        |b AS (SELECT doc_id, source AS src_b, text AS text_b,
        |  len(string_split(text, ' ')) AS tok_b FROM cur),
        |j AS (SELECT COALESCE(b.src_b, a.src_a) AS source,
        |  CASE WHEN a.text_a IS NULL THEN 'added'
        |       WHEN b.text_b IS NULL THEN 'removed'
        |       WHEN a.text_a <> b.text_b THEN 'changed'
        |       WHEN a.src_a <> b.src_b THEN 'moved'
        |       ELSE 'unchanged' END AS status,
        |  COALESCE(a.tok_a, 0) AS tok_a, COALESCE(b.tok_b, 0) AS tok_b
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT source,
        |CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_added,
        |CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_removed,
        |CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_changed,
        |CAST(SUM(CASE WHEN status = 'moved' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_moved,
        |CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_unchanged,
        |CAST(SUM(tok_b - tok_a) AS BIGINT) AS token_delta
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // t43: the oracle replays the same line injection, then counts line
    // document-frequency per (source, line STRING) — the Spark side joins
    // 64-bit line hashes (the d04/d21 discipline: collision-free at any
    // realistic corpus, and the kept text itself is reassembled from the
    // exact exploded strings, never from hashes)
    "t43_boilerplate" ->
      """WITH aug AS (SELECT doc_id, source,
        |  concat_ws(chr(10), 'nav ' || source, text,
        |    'share ' || CAST(doc_id % 2 AS VARCHAR),
        |    'pair ' || CAST(doc_id // 2 AS VARCHAR),
        |    'sig ' || CAST(doc_id AS VARCHAR)) AS text
        |  FROM documents),
        |l AS (SELECT doc_id, source, generate_subscripts(ls, 1) AS pos,
        |  unnest(ls) AS line
        |  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls
        |    FROM aug)),
        |df AS (SELECT source, line, COUNT(DISTINCT doc_id) AS df
        |  FROM l GROUP BY 1, 2),
        |kept AS (SELECT l.doc_id, l.pos, l.line
        |  FROM l JOIN df ON l.source = df.source AND l.line = df.line
        |  WHERE df.df < 3),
        |agg AS (SELECT doc_id, CAST(COUNT(1) AS INTEGER) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY 1)
        |SELECT a.doc_id,
        |CAST(len(string_split(a.text, chr(10))) AS INTEGER) AS n_lines,
        |CAST(len(string_split(a.text, chr(10))) - COALESCE(g.n_kept, 0)
        |  AS INTEGER) AS n_removed,
        |COALESCE(g.clean_text, '') AS clean_text
        |FROM aug a LEFT JOIN agg g ON a.doc_id = g.doc_id
        |ORDER BY a.doc_id""".stripMargin,
    // d20: exact-substring dedup (Lee et al. 2022) — the Spark side's
    // 64-bit window-hash prefilter is lossless (collisions only add
    // verification candidates; string equality decides), so the oracle
    // groups windows by their STRING directly: duplicated ≥20-token
    // windows, canonical first occurrence (doc_id, pos) survives, covered
    // positions of the rest are removed
    "d20_exact_substring" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |sp AS (SELECT doc_id, g AS pos,
        |  array_to_string(w[g:g+19], ' ') AS span
        |  FROM (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 19)) AS g
        |    FROM d WHERE len(w) >= 20)),
        |occ AS (SELECT doc_id, pos,
        |  ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn,
        |  COUNT(1) OVER (PARTITION BY span) AS n FROM sp),
        |cov AS (SELECT DISTINCT doc_id,
        |  unnest(generate_series(pos, pos + 19)) AS cpos
        |  FROM occ WHERE n >= 2 AND rn > 1),
        |toks AS (SELECT doc_id, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS pos FROM d),
        |kept AS (SELECT t.doc_id, CAST(COUNT(1) AS BIGINT) AS n_kept,
        |  string_agg(t.tok, ' ' ORDER BY t.pos) AS dedup_text
        |  FROM toks t LEFT JOIN cov c
        |    ON t.doc_id = c.doc_id AND t.pos = c.cpos
        |  WHERE c.cpos IS NULL GROUP BY t.doc_id)
        |SELECT d.doc_id, CAST(len(d.w) AS INTEGER) AS n_tokens,
        |CAST(len(d.w) - COALESCE(k.n_kept, 0) AS INTEGER) AS n_removed,
        |COALESCE(k.dedup_text, '') AS dedup_text
        |FROM d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // d21: the oracle intersects STRING shingle sets; the Spark plan joins
    // 64-bit hashed shingles — intersection/union SIZES are hash-invariant
    // (the d04 discipline), and int/int division is double on both sides
    "d21_source_overlap" ->
      """WITH base AS (SELECT source,
        |  CASE WHEN len(string_split(text,' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text,' ')) - 1),
        |    i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))
        |  END AS shl FROM documents),
        |sh AS (SELECT DISTINCT source, unnest(shl) AS sh FROM base),
        |sizes AS (SELECT source, COUNT(1) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.source AS source_a, b.source AS source_b,
        |  COUNT(1) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b, CAST(i.inter AS BIGINT) AS inter,
        |CAST(sa.n + sb.n - i.inter AS BIGINT) AS union_n,
        |i.inter / (sa.n + sb.n - i.inter) AS jaccard
        |FROM inter i JOIN sizes sa ON i.source_a = sa.source
        |JOIN sizes sb ON i.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,
    // e21: engine-neutral calendar math (month_id = year*12 + month, the
    // e05 epoch-integer convention); averages divide exact integer sums
    "e21_stickiness" ->
      """WITH act AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
        |  user_id FROM events),
        |dau AS (SELECT event_type, day, COUNT(1) AS dau
        |  FROM act GROUP BY 1, 2),
        |a AS (SELECT event_type,
        |  CAST(year(day)*12 + month(day) AS BIGINT) AS month_id,
        |  CAST(COUNT(1) AS BIGINT) AS active_days,
        |  CAST(SUM(dau) AS DOUBLE) / COUNT(1) AS avg_dau
        |  FROM dau GROUP BY 1, 2),
        |m AS (SELECT event_type,
        |  CAST(year(day)*12 + month(day) AS BIGINT) AS month_id,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM act GROUP BY 1, 2)
        |SELECT a.event_type, a.month_id, a.active_days, a.avg_dau, m.mau,
        |a.avg_dau / m.mau AS stickiness
        |FROM a JOIN m ON a.event_type = m.event_type
        |  AND a.month_id = m.month_id
        |ORDER BY a.event_type, a.month_id""".stripMargin,
    // t42: DSIR replay — hashed-bigram bucket models (the md5-Horner hash
    // mod 1024), per-term DECIMAL(38,18) capture of cnt·(ln p̂_t − ln p̂_r),
    // round 6, Gumbel key from the t18 content-hash u (u+0.5 exact in
    // binary64), global prefix sum over (−gkey, doc_id)
    "t42_dsir_resample" ->
      s"""WITH d AS (SELECT doc_id, source, text,
         |  string_split(text, ' ') AS w FROM documents),
         |bg AS (SELECT doc_id, source,
         |  md5(concat(w[g], ' ', w[g+1])) AS h
         |  FROM (SELECT doc_id, source, w,
         |    unnest(generate_series(1, len(w) - 1)) AS g
         |    FROM d WHERE len(w) >= 2)),
         |bk AS (SELECT doc_id, source,
         |  CAST($MD5_U_HORNER AS BIGINT) % 1024 AS bkt FROM bg),
         |ct AS (SELECT bkt, COUNT(1) AS ct FROM bk
         |  WHERE source = 'src0' GROUP BY 1),
         |nt AS (SELECT COUNT(1) AS nt FROM bk WHERE source = 'src0'),
         |cr AS (SELECT bkt, COUNT(1) AS cr FROM bk GROUP BY 1),
         |nr AS (SELECT COUNT(1) AS nr FROM bk),
         |pd AS (SELECT doc_id, bkt, COUNT(1) AS cnt FROM bk GROUP BY 1, 2),
         |terms AS (SELECT p.doc_id, CAST(CAST(p.cnt *
         |  (ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
         |     / CAST(nt.nt + 1024 AS DOUBLE))
         |   - ln(CAST(c.cr + 1 AS DOUBLE) / CAST(nr.nr + 1024 AS DOUBLE)))
         |  AS VARCHAR) AS DECIMAL(38,18)) AS term
         |  FROM pd p JOIN cr c USING (bkt) LEFT JOIN ct t USING (bkt),
         |    nt, nr),
         |lw AS (SELECT doc_id, round(CAST(SUM(term) AS DOUBLE), 6)
         |  AS logratio FROM terms GROUP BY 1),
         |hs AS (SELECT doc_id,
         |  md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS h FROM d),
         |us AS (SELECT doc_id, CAST($MD5_U_HORNER AS BIGINT) AS u FROM hs),
         |sc AS (SELECT d.doc_id, d.source, CAST(len(d.w) AS BIGINT)
         |  AS n_tok, COALESCE(l.logratio, 0.0) AS logratio,
         |  round(COALESCE(l.logratio, 0.0)
         |    - ln(-ln((CAST(us.u AS DOUBLE) + 0.5) / 4294967296.0)), 6)
         |    AS gkey
         |  FROM d JOIN us USING (doc_id) LEFT JOIN lw l USING (doc_id)),
         |pre AS (SELECT *, COALESCE(SUM(n_tok) OVER (
         |  ORDER BY -gkey ASC, doc_id ASC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS cum_before FROM sc)
         |SELECT doc_id, source, n_tok, logratio, gkey,
         |  CAST(cum_before AS BIGINT) AS cum_before
         |FROM pre WHERE cum_before < 20000 ORDER BY doc_id""".stripMargin,
    // t18: u = first 8 md5 hex digits as an integer (Horner form — the same
    // instr-digit recipe as t07); the keep test compares exact integers
    // against weight·2³² in double (u < 2³² ⇒ exactly representable)
    "t18_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id, source,
         |  md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS h
         |  FROM documents),
         |u AS (SELECT doc_id, source, CAST($MD5_U_HORNER AS BIGINT) AS u
         |  FROM h),
         |w AS (SELECT doc_id, source, u,
         |  CASE WHEN source = 'src1' THEN 0.25 WHEN source = 'src2' THEN 0.5
         |  WHEN source = 'src3' THEN 0.0 ELSE 1.0 END AS kw FROM u)
         |SELECT doc_id, source, u FROM w WHERE u < kw * 4294967296.0
         |ORDER BY doc_id""".stripMargin,
    // t32: α-smoothed mixture plan — sqrt weights (IEEE-exact both
    // engines), Σw re-quantized through DECIMAL(27,12) (scale 12 keeps the
    // sum's integer units under 2^53, where decimal→double conversion is
    // exact in both engines — scale 18 double-rounds in DuckDB), then the
    // t18 content-hash draw at the derived per-source keep rate
    "t32_temperature_mix" ->
      s"""WITH per AS (SELECT source, COUNT(1) AS n_docs
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT SUM(n_docs) AS n_total FROM per),
         |w AS (SELECT source, n_docs,
         |  CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS raw_share,
         |  sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)) AS w
         |  FROM per, tot),
         |ws AS (SELECT CAST(SUM(CAST(CAST(w AS VARCHAR)
         |  AS DECIMAL(27,12))) AS DOUBLE) AS w_sum FROM w),
         |plan AS (SELECT source, n_docs, raw_share,
         |  w / w_sum AS alpha_share,
         |  LEAST(1.0, w / w_sum * 300.0 / CAST(n_docs AS DOUBLE))
         |    AS keep_rate
         |  FROM w, ws),
         |h AS (SELECT doc_id, source,
         |  md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS h
         |  FROM documents),
         |u AS (SELECT doc_id, source, CAST($MD5_U_HORNER AS BIGINT) AS u
         |  FROM h),
         |drawn AS (SELECT u.source, COUNT(1) AS kept_docs
         |  FROM u JOIN plan USING (source)
         |  WHERE u < keep_rate * 4294967296.0 GROUP BY 1)
         |SELECT p.source, p.n_docs, p.raw_share, p.alpha_share,
         |  p.keep_rate, COALESCE(d.kept_docs, 0) AS kept_docs
         |FROM plan p LEFT JOIN drawn d ON p.source = d.source
         |ORDER BY p.source""".stripMargin,
    // t33: Gopher repetition signals — char coverage of the top word
    // bigram (ties lexicographic) and of duplicated word 5-grams (overlap
    // counted, capped at 1.0). Fractions are int/int double divisions —
    // IEEE-exact in both engines.
    "t33_repetition_signals" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w,
        |  length(text) AS nc FROM documents),
        |g2 AS (SELECT doc_id, array_to_string(w[g:g+1], ' ') AS gram
        |  FROM (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 1)) AS g FROM toks)),
        |c2 AS (SELECT doc_id, gram, COUNT(1) AS c FROM g2 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, gram, c, ROW_NUMBER() OVER (
        |  PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn FROM c2),
        |g5 AS (SELECT doc_id, array_to_string(w[g:g+4], ' ') AS gram
        |  FROM (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 4)) AS g FROM toks)),
        |c5 AS (SELECT doc_id, gram, COUNT(1) AS c FROM g5 GROUP BY 1, 2),
        |d5 AS (SELECT doc_id, SUM(CASE WHEN c >= 2
        |  THEN c * length(gram) END) AS dupchars FROM c5 GROUP BY 1),
        |j AS (SELECT tk.doc_id,
        |  COALESCE(t2.gram, '') AS top_gram,
        |  CAST(COALESCE(t2.c, 0) AS BIGINT) AS top_gram_count,
        |  LEAST(CAST(1.0 AS DOUBLE),
        |    COALESCE(CAST(t2.c * length(t2.gram) AS DOUBLE)
        |    / GREATEST(tk.nc, 1), CAST(0.0 AS DOUBLE))) AS top_char_frac,
        |  LEAST(CAST(1.0 AS DOUBLE), CAST(COALESCE(d5.dupchars, 0)
        |    AS DOUBLE) / GREATEST(tk.nc, 1)) AS dup_char_frac
        |  FROM toks tk
        |  LEFT JOIN (SELECT * FROM t2 WHERE rn = 1) t2
        |    ON tk.doc_id = t2.doc_id
        |  LEFT JOIN d5 ON tk.doc_id = d5.doc_id)
        |SELECT doc_id, top_gram, top_gram_count, top_char_frac,
        |  dup_char_frac,
        |  (top_char_frac > 0.2 OR dup_char_frac > 0.3) AS repetitive
        |FROM j ORDER BY doc_id""".stripMargin,
    // d18: d07's recursive-reachability clusters + the t07 md5-conv bucket
    // over the CLUSTER label ('c:'-prefixed so cluster buckets decorrelate
    // from doc buckets) — near-dup members provably share a split
    "d18_leakage_split" ->
      """WITH RECURSIVE sh AS (SELECT doc_id,
        |  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
        |  ELSE list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND len(list_intersect(a.sh, b.sh))
        |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.node = e.a),
        |cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id
        |  FROM reach GROUP BY node),
        |h AS (SELECT doc_id, cluster_id,
        |  md5(concat('c:', CAST(cluster_id AS VARCHAR))) AS h FROM cl),
        |b AS (SELECT doc_id, cluster_id,
        |  CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |      + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |      + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 100
        |    AS INTEGER) AS bucket
        |  FROM h)
        |SELECT doc_id, cluster_id, bucket,
        |CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid'
        |ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // t35: the t33 + t34 per-doc recipes joined and rolled up per source;
    // every mean rides a VARCHAR-hop DECIMAL(27,6) sum (order-independent)
    "t35_corpus_health" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w,
        |  length(text) AS nc FROM documents),
        |g2 AS (SELECT doc_id, array_to_string(w[g:g+1], ' ') AS gram
        |  FROM (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 1)) AS g FROM toks)),
        |cg2 AS (SELECT doc_id, gram, COUNT(1) AS c FROM g2 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, gram, c, ROW_NUMBER() OVER (
        |  PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn FROM cg2),
        |g5 AS (SELECT doc_id, array_to_string(w[g:g+4], ' ') AS gram
        |  FROM (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w) - 4)) AS g FROM toks)),
        |cg5 AS (SELECT doc_id, gram, COUNT(1) AS c FROM g5 GROUP BY 1, 2),
        |d5 AS (SELECT doc_id, SUM(CASE WHEN c >= 2
        |  THEN c * length(gram) END) AS dupchars FROM cg5 GROUP BY 1),
        |rep AS (SELECT tk.doc_id, tk.source,
        |  LEAST(CAST(1.0 AS DOUBLE),
        |    COALESCE(CAST(t2.c * length(t2.gram) AS DOUBLE)
        |    / GREATEST(tk.nc, 1), CAST(0.0 AS DOUBLE))) AS top_char_frac,
        |  LEAST(CAST(1.0 AS DOUBLE), CAST(COALESCE(d5.dupchars, 0)
        |    AS DOUBLE) / GREATEST(tk.nc, 1)) AS dup_char_frac
        |  FROM toks tk
        |  LEFT JOIN (SELECT * FROM t2 WHERE rn = 1) t2
        |    ON tk.doc_id = t2.doc_id
        |  LEFT JOIN d5 ON tk.doc_id = d5.doc_id),
        |rep2 AS (SELECT *,
        |  (top_char_frac > 0.2 OR dup_char_frac > 0.3) AS repetitive
        |  FROM rep),
        |bg AS (SELECT doc_id, source, unnest(w[1:len(w)-1]) AS w1,
        |  unnest(w[2:len(w)]) AS w2 FROM toks),
        |c2i AS (SELECT w1, w2, COUNT(1) AS c2i FROM bg
        |  WHERE source = 'src0' GROUP BY 1, 2),
        |c1i AS (SELECT w1, COUNT(1) AS c1i FROM bg
        |  WHERE source = 'src0' GROUP BY 1),
        |vi AS (SELECT COUNT(DISTINCT w2) + 1 AS vi FROM bg
        |  WHERE source = 'src0'),
        |c2g AS (SELECT w1, w2, COUNT(1) AS c2g FROM bg GROUP BY 1, 2),
        |c1g AS (SELECT w1, COUNT(1) AS c1g FROM bg GROUP BY 1),
        |vg AS (SELECT COUNT(DISTINCT w2) + 1 AS vg FROM bg),
        |sc AS (SELECT bg.doc_id,
        |  CAST(CAST(
        |    ln(CAST(c2g.c2g + 1 AS DOUBLE) / CAST(c1g.c1g + vg.vg AS DOUBLE))
        |    - ln(CAST(COALESCE(c2i.c2i, 0) + 1 AS DOUBLE)
        |        / CAST(COALESCE(c1i.c1i, 0) + vi.vi AS DOUBLE))
        |    AS VARCHAR) AS DECIMAL(38,18)) AS s
        |  FROM bg
        |  JOIN c2g ON bg.w1 = c2g.w1 AND bg.w2 = c2g.w2
        |  JOIN c1g ON bg.w1 = c1g.w1
        |  LEFT JOIN c2i ON bg.w1 = c2i.w1 AND bg.w2 = c2i.w2
        |  LEFT JOIN c1i ON bg.w1 = c1i.w1
        |  CROSS JOIN vi CROSS JOIN vg),
        |ce AS (SELECT doc_id, round(CAST(SUM(s) AS DOUBLE) / COUNT(1), 6)
        |  AS ce_diff FROM sc GROUP BY doc_id)
        |SELECT r.source, CAST(COUNT(1) AS BIGINT) AS docs,
        |  CAST(SUM(CASE WHEN r.repetitive THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repetitive,
        |  CAST(SUM(CASE WHEN r.repetitive THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(1) AS repetitive_frac,
        |  CAST(SUM(CAST(CAST(r.top_char_frac AS VARCHAR)
        |    AS DECIMAL(27,6))) AS DOUBLE) / COUNT(1) AS mean_top_char_frac,
        |  CAST(SUM(CAST(CAST(r.dup_char_frac AS VARCHAR)
        |    AS DECIMAL(27,6))) AS DOUBLE) / COUNT(1) AS mean_dup_char_frac,
        |  CAST(SUM(CAST(CAST(ce.ce_diff AS VARCHAR)
        |    AS DECIMAL(27,6))) AS DOUBLE) / COUNT(ce.ce_diff)
        |    AS mean_ce_diff
        |FROM rep2 r LEFT JOIN ce ON r.doc_id = ce.doc_id
        |GROUP BY r.source ORDER BY r.source""".stripMargin,
    // t29: the naive windowed spelling of the per-source prefix sum (the
    // Spark side computes the same totals two-phase, bucket-distributed)
    "t29_budget_sample" ->
      s"""WITH h AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |  md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS h
         |  FROM documents),
         |u AS (SELECT doc_id, source, n_tok,
         |  CAST($MD5_U_HORNER AS BIGINT) AS u FROM h),
         |c AS (SELECT doc_id, source, n_tok,
         |  COALESCE(SUM(n_tok) OVER (PARTITION BY source
         |    ORDER BY u ASC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS cum_before FROM u)
         |SELECT doc_id, source, n_tok, CAST(cum_before AS BIGINT)
         |  AS cum_before
         |FROM c WHERE cum_before < 1000 ORDER BY doc_id""".stripMargin,
    // e05: epoch-anchored day indices (no engine week/calendar semantics)
    "e05_retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |  CAST(datediff('day', DATE '1996-01-01', CAST(ts AS DATE)) AS INTEGER) AS d
        |  FROM events),
        |first AS (SELECT user_id, MIN(d) AS cohort_day FROM act
        |  GROUP BY user_id),
        |sizes AS (SELECT cohort_day, COUNT(1) AS cohort_size FROM first
        |  GROUP BY cohort_day),
        |r AS (SELECT f.cohort_day, a.d - f.cohort_day AS day_offset,
        |  COUNT(1) AS active_users
        |  FROM act a JOIN first f ON a.user_id = f.user_id GROUP BY 1, 2)
        |SELECT r.cohort_day, r.day_offset, r.active_users, s.cohort_size,
        |CAST(r.active_users AS DOUBLE) / s.cohort_size AS retention
        |FROM r JOIN sizes s ON r.cohort_day = s.cohort_day
        |ORDER BY r.cohort_day, r.day_offset""".stripMargin,
    // q36: Spark's exact interpolated percentile == DuckDB quantile_cont
    // bit-for-bit (same (1-f)*a + f*b definition over exact order stats)
    "q36_median" ->
      """SELECT c_mktsegment AS segment,
        |quantile_cont(o_totalprice, 0.5) AS median_order,
        |COUNT(1) AS order_count
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t09_sample_quota" ->
      """WITH h AS (SELECT doc_id, source,
        |  md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS h
        |  FROM documents)
        |SELECT doc_id, source, h,
        |CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id)
        |  AS INTEGER) AS rank
        |FROM h QUALIFY rank <= 10 ORDER BY source, rank""".stripMargin,
    // e03: DuckDB replays the as-of via a correlated latest-prior lookup
    // with the same (date desc, orderkey desc) tiebreak
    "e03_asof_join" ->
      """SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_day,
        |(SELECT o.o_orderkey FROM orders o WHERE o.o_custkey = e.user_id
        |  AND o.o_orderdate <= CAST(e.ts AS DATE)
        |  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS last_order_key,
        |(SELECT o.o_totalprice FROM orders o WHERE o.o_custkey = e.user_id
        |  AND o.o_orderdate <= CAST(e.ts AS DATE)
        |  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS last_order_price
        |FROM events e ORDER BY e.event_id""".stripMargin,
    // e13: first/last-touch attribution — IGNORE NULLS window lookups over
    // (ts, event_id) order, frame ending one row before the conversion
    // e15: the U-shaped credit model — one running conversion count
    // assigns journey segments, window rank/count within them, credit by
    // position (all literals CAST to DOUBLE: DuckDB literals are DECIMAL)
    "e15_position_attribution" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  event_type FROM events
        |  WHERE event_type IN ('click', 'view', 'purchase')),
        |seg AS (SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase'
        |  THEN 1 END) OVER (PARTITION BY user_id
        |    ORDER BY ts_us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
        |  FROM e),
        |t AS (SELECT user_id, seg, event_id, ts_us, event_type,
        |  ROW_NUMBER() OVER (PARTITION BY user_id, seg
        |    ORDER BY ts_us ASC, event_id ASC) AS rn,
        |  COUNT(1) OVER (PARTITION BY user_id, seg) AS n
        |  FROM seg WHERE event_type IN ('click', 'view')),
        |c AS (SELECT user_id, seg, event_id AS conv_id,
        |  ts_us AS conv_ts_us FROM seg WHERE event_type = 'purchase')
        |SELECT c.conv_id, c.user_id, c.conv_ts_us,
        |  t.event_id AS touch_id, t.event_type AS touch_type,
        |  CAST(t.rn AS BIGINT) AS touch_rank,
        |  CAST(t.n AS BIGINT) AS n_touches,
        |  CASE WHEN t.n = 1 THEN 'only' WHEN t.rn = 1 THEN 'first'
        |    WHEN t.rn = t.n THEN 'last' ELSE 'middle' END AS position,
        |  CASE WHEN t.n = 1 THEN CAST(1.0 AS DOUBLE)
        |    WHEN t.n = 2 THEN CAST(0.5 AS DOUBLE)
        |    WHEN t.rn = 1 OR t.rn = t.n THEN CAST(0.4 AS DOUBLE)
        |    ELSE CAST(0.2 AS DOUBLE) / (t.n - 2) END AS credit
        |FROM c JOIN t ON c.user_id = t.user_id AND c.seg = t.seg
        |ORDER BY conv_id, touch_rank""".stripMargin,
    // e16: same journey segments as e15; per-touch weight
    // power(2, −Δt/h) quantized through DECIMAL(38,18) (order-independent
    // normalizer), credit rounded at 1e-9 (the t14 libm discipline)
    "e16_time_decay_attribution" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  event_type FROM events
        |  WHERE event_type IN ('click', 'view', 'purchase')),
        |seg AS (SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase'
        |  THEN 1 END) OVER (PARTITION BY user_id
        |    ORDER BY ts_us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
        |  FROM e),
        |t AS (SELECT user_id, seg, event_id AS touch_id,
        |  ts_us AS touch_ts_us, event_type AS touch_type
        |  FROM seg WHERE event_type IN ('click', 'view')),
        |c AS (SELECT user_id, seg, event_id AS conv_id,
        |  ts_us AS conv_ts_us FROM seg WHERE event_type = 'purchase'),
        |j AS (SELECT c.conv_id, c.user_id, c.conv_ts_us, t.touch_id,
        |  t.touch_type, c.conv_ts_us - t.touch_ts_us AS us_before_conv,
        |  CAST(CAST(power(2.0, -(CAST(c.conv_ts_us - t.touch_ts_us
        |    AS DOUBLE) / 86400000000.0)) AS VARCHAR) AS DECIMAL(38,18))
        |    AS w_dec
        |  FROM c JOIN t ON c.user_id = t.user_id AND c.seg = t.seg)
        |SELECT conv_id, user_id, conv_ts_us, touch_id, touch_type,
        |  us_before_conv,
        |  round(CAST(w_dec AS DOUBLE) / CAST(SUM(w_dec)
        |    OVER (PARTITION BY conv_id) AS DOUBLE), 9) AS credit
        |FROM j ORDER BY conv_id, us_before_conv, touch_id""".stripMargin,
    "e13_attribution" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  event_type FROM events),
        |w AS (SELECT event_id, user_id, ts_us, event_type,
        |  FIRST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_id END IGNORE NULLS) OVER pre AS first_touch_id,
        |  FIRST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_type END IGNORE NULLS) OVER pre AS first_touch_type,
        |  LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_id END IGNORE NULLS) OVER pre AS last_touch_id,
        |  LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_type END IGNORE NULLS) OVER pre AS last_touch_type,
        |  LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |      THEN ts_us END IGNORE NULLS) OVER pre AS last_touch_us
        |  FROM e
        |  WINDOW pre AS (PARTITION BY user_id
        |    ORDER BY ts_us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS conv_id, user_id, ts_us AS conv_ts_us,
        |  first_touch_id, first_touch_type, last_touch_id, last_touch_type,
        |  ts_us - last_touch_us AS us_since_last_touch
        |FROM w WHERE event_type = 'purchase' AND last_touch_id IS NOT NULL
        |ORDER BY conv_id""".stripMargin,
    // e14: e01's session-index CTEs + e13's window recipe partitioned by
    // (user, session)
    "e14_session_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  event_type FROM events),
        |lagd AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id) AS prev_us FROM ev),
        |flagged AS (SELECT *, CASE WHEN prev_us IS NULL
        |  OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM lagd),
        |sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sess_idx
        |  FROM flagged),
        |w AS (SELECT event_id, user_id, sess_idx, ts_us, event_type,
        |  FIRST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_id END IGNORE NULLS) OVER pre AS first_touch_id,
        |  LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_id END IGNORE NULLS) OVER pre AS last_touch_id,
        |  LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_type END IGNORE NULLS) OVER pre AS last_touch_type,
        |  LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |      THEN ts_us END IGNORE NULLS) OVER pre AS last_touch_us
        |  FROM sess
        |  WINDOW pre AS (PARTITION BY user_id, sess_idx
        |    ORDER BY ts_us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS conv_id, user_id,
        |  CAST(sess_idx AS BIGINT) AS sess_idx, ts_us AS conv_ts_us,
        |  first_touch_id, last_touch_id, last_touch_type,
        |  ts_us - last_touch_us AS us_since_last_touch
        |FROM w WHERE event_type = 'purchase' AND last_touch_id IS NOT NULL
        |ORDER BY conv_id""".stripMargin,
    // e17: e01's session boundaries, each session's first 8 event types
    // joined into one path string, counted per path
    "e17_top_paths" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  event_type FROM events),
        |lagd AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id) AS prev_us FROM ev),
        |flagged AS (SELECT *, CASE WHEN prev_us IS NULL
        |  OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM lagd),
        |sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sess_idx
        |  FROM flagged),
        |p AS (SELECT user_id, sess_idx, array_to_string(
        |    (list(event_type ORDER BY ts_us ASC, event_id ASC))[1:8], '>')
        |  AS path FROM sess GROUP BY 1, 2)
        |SELECT path, COUNT(1) AS n_sessions FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin,
    // e19: durations in whole days from first signup; non-converters censor
    // at the corpus horizon; survival = product-limit over the day grid,
    // replayed as exp∘Σln rounded at 1e-9 (both engines)
    "e19_kaplan_meier" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type IN ('signup', 'purchase')),
        |h AS (SELECT MAX(epoch_us(ts)) AS h_us FROM events),
        |f AS (SELECT user_id,
        |  MIN(CASE WHEN event_type = 'signup' THEN ts_us END) AS t0,
        |  MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) AS t1
        |  FROM ev GROUP BY user_id),
        |d AS (SELECT
        |  CASE WHEN t1 IS NOT NULL AND t1 >= t0
        |    THEN CAST(floor((t1 - t0) / 86400000000) AS BIGINT)
        |    ELSE CAST(floor(((SELECT h_us FROM h) - t0) / 86400000000)
        |      AS BIGINT) END AS day,
        |  CASE WHEN t1 IS NOT NULL AND t1 >= t0 THEN 1 ELSE 0 END
        |    AS observed
        |  FROM f WHERE t0 IS NOT NULL),
        |byday AS (SELECT day, CAST(SUM(observed) AS BIGINT) AS events,
        |  CAST(SUM(1 - observed) AS BIGINT) AS censored
        |  FROM d GROUP BY day),
        |r AS (SELECT *, CAST(SUM(events + censored) OVER () -
        |  COALESCE(SUM(events + censored) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  AS BIGINT) AS at_risk FROM byday),
        |s AS (SELECT *, 1.0 - CAST(events AS DOUBLE) /
        |  CAST(at_risk AS DOUBLE) AS factor FROM r)
        |SELECT CAST(day AS INTEGER) AS day, at_risk, events, censored,
        |  CASE WHEN SUM(CASE WHEN factor <= 0.0 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
        |    THEN 0.0
        |  ELSE round(exp(SUM(CASE WHEN factor > 0.0 THEN ln(factor)
        |      ELSE 0.0 END) OVER (ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 9)
        |  END AS survival
        |FROM s ORDER BY day""".stripMargin,
    // e18: e01's sessions, per-(session, type) first/last occurrence,
    // ordered-pair counting via a self-join the Spark side does map-side
    "e18_precedence_pairs" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  event_type FROM events),
        |lagd AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id) AS prev_us FROM ev),
        |flagged AS (SELECT *, CASE WHEN prev_us IS NULL
        |  OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM lagd),
        |sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sess_idx
        |  FROM flagged),
        |occ AS (SELECT user_id, sess_idx, event_type,
        |  MIN(ts_us) AS first_us, MAX(ts_us) AS last_us
        |  FROM sess GROUP BY 1, 2, 3)
        |SELECT a.event_type AS before_type, b.event_type AS after_type,
        |  COUNT(1) AS n_sessions
        |FROM occ a JOIN occ b
        |  ON a.user_id = b.user_id AND a.sess_idx = b.sess_idx
        |  AND a.event_type <> b.event_type AND a.first_us < b.last_us
        |GROUP BY 1, 2
        |ORDER BY n_sessions DESC, before_type ASC, after_type ASC
        |LIMIT 20""".stripMargin,
    // t08: the composed pipeline — each CTE is a stage whose standalone
    // query (t02, d06, t07) already hash-matches
    "t08_pipeline_e2e" ->
      """WITH q AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS uniq_ratio,
        |  (length(text) - len(string_split(text, ' ')) + 1) / len(string_split(text, ' ')) AS mean_token_len
        |  FROM documents),
        |scored AS (SELECT doc_id,
        |  (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
        |   * (0.25 + 0.75 * uniq_ratio)
        |   * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.6 END) AS quality_score
        |  FROM q),
        |kept AS (SELECT d.* FROM documents d JOIN scored USING (doc_id)
        |  WHERE quality_score >= 0.5),
        |dedup AS (SELECT * FROM kept
        |  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))),
        |assigned AS (SELECT lang, text,
        |  CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |      + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |      + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 100
        |    AS INTEGER) AS bucket
        |  FROM (SELECT lang, text,
        |    md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS h FROM dedup))
        |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid'
        |ELSE 'test' END AS split, lang, COUNT(1) AS docs,
        |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // t07: first 16 bits of md5 via the hex-digit instr trick; integer
    // arithmetic → exact on both engines
    "t07_hash_split" ->
      """WITH h AS (SELECT doc_id, source,
        |  md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS h
        |  FROM documents),
        |b AS (SELECT doc_id, source,
        |  CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |      + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |      + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 100
        |    AS INTEGER) AS bucket
        |  FROM h)
        |SELECT doc_id, source, bucket,
        |CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid'
        |ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "q34_mdx_topcount" ->
      s"""WITH b AS (
         |  SELECT p_brand AS brand, ${sumd(REV, "revenue")}
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
         |top AS (SELECT brand FROM b ORDER BY revenue DESC, brand ASC LIMIT 5)
         |SELECT b.brand, b.revenue FROM b JOIN top USING (brand)
         |ORDER BY brand""".stripMargin,
    // q94: fixed-member pin, dim off-axis — the conditional aggregate
    // replays with the same VARCHAR-hop decimal quantization inside the
    // mask as the unmasked sum (an empty mask group is NULL on both sides)
    "q94_mdx_pinned_member" ->
      s"""SELECT p_brand AS brand, ${sumd(REV, "revenue")},
         |CAST(SUM(CASE WHEN r_regionkey = 2 THEN ${dec(REV)} END)
         |  AS DOUBLE) AS asia_rev
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q95: pinned dim drilled — the tuple overrides the axis member, so
    // each (region, brand) row carries the brand's region-2 revenue; the
    // oracle restates the axis window as a left join of the region-2 slice
    "q95_mdx_pinned_override" ->
      s"""WITH base AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    p_brand AS brand, ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3),
         |pin AS (SELECT brand, revenue AS asia_rev FROM base
         |  WHERE region = 2)
         |SELECT b.region, b.region_label, b.brand, b.revenue, p.asia_rev
         |FROM base b LEFT JOIN pin p USING (brand)
         |ORDER BY b.region, b.brand""".stripMargin,
    // q96: multi-member tuple, both dims off-axis — the conjunctive mask
    // replays as AND inside the same masked decimal sum as q94
    "q96_mdx_pinned_tuple" ->
      s"""SELECT p_brand AS brand, ${sumd(REV, "revenue")},
         |CAST(SUM(CASE WHEN r_regionkey = 2 AND year(l_shipdate) = 1995
         |  THEN ${dec(REV)} END) AS DOUBLE) AS asia95
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q97: mixed state — the year mask rides the per-cell aggregate, the
    // drilled region selects via the q95 left-join restatement of the
    // axis window
    "q97_mdx_pinned_mixed" ->
      s"""WITH base AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    p_brand AS brand, ${sumd(REV, "revenue")},
         |    CAST(SUM(CASE WHEN year(l_shipdate) = 1995
         |      THEN ${dec(REV)} END) AS DOUBLE) AS pre
         |  $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3),
         |pin AS (SELECT brand, pre AS asia95 FROM base WHERE region = 2)
         |SELECT b.region, b.region_label, b.brand, b.revenue, p.asia95
         |FROM base b LEFT JOIN pin p USING (brand)
         |ORDER BY b.region, b.brand""".stripMargin,
    // q98: coarser pin — per-cell masked DECIMAL partials merged by a
    // window sum partitioned by the non-pinned dim, double-cast AFTER
    // the merge exactly like the planner (decimal addition is
    // associative, so both groupings are the same exact value)
    "q98_mdx_pinned_coarser" ->
      s"""WITH base AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    month(l_shipdate) AS ship_month, ${sumd(REV, "revenue")},
         |    SUM(CASE WHEN year(l_shipdate) = 1995
         |      THEN ${dec(REV)} END) AS pre
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2, 3)
         |SELECT region, region_label, ship_month, revenue,
         |  CAST(SUM(pre) OVER (PARTITION BY region) AS DOUBLE) AS y95
         |FROM base ORDER BY region, ship_month""".stripMargin,
    // q99: mixed nav+pin — LAG over the region-masked per-year decimal
    // aggregate (years are contiguous in the data, so the present-row
    // LAG equals the planner's calendar-domain walk)
    "q99_mdx_pinned_nav" ->
      s"""WITH base AS (
         |  SELECT year(l_shipdate) AS ship_year, ${sumd(REV, "revenue")},
         |    CAST(SUM(CASE WHEN r_regionkey = 2 THEN ${dec(REV)} END)
         |      AS DOUBLE) AS asia
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1)
         |SELECT ship_year, revenue,
         |  LAG(asia) OVER (ORDER BY ship_year) AS prev_asia
         |FROM base ORDER BY ship_year""".stripMargin,
    // q100: tuple-set axis — the listed combinations via VALUES + left
    // join (a listed-but-empty tuple keeps its row with a null value,
    // exactly the dense-axis shape); labels come from the dim row like
    // the planner's dense domains
    "q100_mdx_tuple_axis" ->
      s"""WITH pairs AS (
         |  SELECT * FROM (VALUES (1, '1-URGENT'), (3, '5-LOW'),
         |    (1, '5-LOW')) AS t(region, order_priority)),
         |agg AS (
         |  SELECT r_regionkey AS region,
         |    o_orderpriority AS order_priority, ${sumd(REV, "revenue")}
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_regionkey IN (1, 3)
         |    AND o_orderpriority IN ('1-URGENT', '5-LOW')
         |  GROUP BY 1, 2)
         |SELECT p.region, r.r_name AS region_label, p.order_priority,
         |  a.revenue
         |FROM pairs p
         |JOIN region r ON p.region = r.r_regionkey
         |LEFT JOIN agg a ON a.region = p.region
         |  AND a.order_priority = p.order_priority
         |ORDER BY p.region, p.order_priority""".stripMargin,
    "q37_mdx_with_member" ->
      s"""WITH agg AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    ${sumd(REV, "revenue")},
         |    ${sumd("l_extendedprice", "gross")},
         |    ${sumd("l_extendedprice * l_discount", "disc_amt")}
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2)
         |SELECT region, region_label, revenue, gross - disc_amt AS margin
         |FROM agg ORDER BY 1""".stripMargin,
    // q57: ALL-member total — a decimal window sum over the aggregated axis
    // partitioned by the OTHER dimension (brand); VARCHAR-hop quantization
    // matches the planner's DECIMAL(27,6) re-cast
    "q57_share_of_total" ->
      s"""WITH agg AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    p_brand AS brand, ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3),
         |w AS (SELECT region, region_label, brand, revenue,
         |  CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6)))
         |    OVER (PARTITION BY brand) AS DOUBLE) AS revenue_geo_total
         |  FROM agg)
         |SELECT region, region_label, brand, revenue, revenue_geo_total,
         |CASE WHEN revenue_geo_total = 0.0 OR revenue_geo_total IS NULL
         |THEN NULL ELSE revenue / revenue_geo_total END AS revenue_geo_share
         |FROM w ORDER BY region, brand""".stripMargin,
    // q58: the same share via the MDX All-member tuple; partition flips to
    // region (the total rolls up Part)
    "q58_mdx_share" ->
      s"""WITH agg AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    p_brand AS brand, ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3)
         |SELECT region, region_label, brand, revenue,
         |revenue / CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6)))
         |  OVER (PARTITION BY region, region_label) AS DOUBLE)
         |  AS "brand share"
         |FROM agg ORDER BY region, brand""".stripMargin,
    // q84: share-of-parent — the window partitions by the PARENT level's
    // axis columns (region), the same DECIMAL(27,6) re-quantization as q58
    "q84_parent_share" ->
      s"""WITH agg AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    n_nationkey AS nation, n_name AS nation_label,
         |    ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2, 3, 4)
         |SELECT region, region_label, nation, nation_label, revenue,
         |revenue / CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6)))
         |  OVER (PARTITION BY region, region_label) AS DOUBLE)
         |  AS "nation share"
         |FROM agg ORDER BY region, nation""".stripMargin,
    // q85: closing balance — the closing month per year comes from the
    // corpus-wide calendar domain (the degenerate dim's distinct months),
    // then each (nation, year) row LEFT-joins its value at that month
    // (null when the nation has no data there, Mondrian's empty cell)
    "q85_mdx_closing" ->
      s"""WITH agg AS (
         |  SELECT n_nationkey AS nation, n_name AS nation_label,
         |    year(l_shipdate) AS ship_year, month(l_shipdate) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2, 3, 4),
         |cm AS (SELECT ship_year, MAX(ship_month) AS cmonth FROM (
         |  SELECT DISTINCT year(l_shipdate) AS ship_year,
         |    month(l_shipdate) AS ship_month FROM lineitem)
         |  GROUP BY 1)
         |SELECT a.nation, a.nation_label, a.ship_year, a.ship_month,
         |a.revenue, c.revenue AS "closing revenue"
         |FROM agg a
         |JOIN cm ON a.ship_year = cm.ship_year
         |LEFT JOIN agg c ON c.nation = a.nation
         |  AND c.ship_year = a.ship_year AND c.ship_month = cm.cmonth
         |ORDER BY a.nation, a.ship_year, a.ship_month""".stripMargin,
    // q56: tuple navigation — lag/lag2 run over the month DOMAIN (dense at
    // this sf, so the ordered lag replays it); COALESCEEMPTY = coalesce
    // q76: the advisor's candidate lattice — each candidate's EXACT combo
    // count over the joined fact, plus how many workload queries it covers
    "q76_advisor_exact" ->
      s"""WITH rg AS (SELECT COUNT(1) AS n FROM (
         |  SELECT DISTINCT r_regionkey, r_name $SUPP_GEO_JOIN)),
         |ry AS (SELECT COUNT(1) AS n FROM (
         |  SELECT DISTINCT r_regionkey, r_name, year(l_shipdate)
         |  $SUPP_GEO_JOIN)),
         |b AS (SELECT COUNT(1) AS n FROM (
         |  SELECT DISTINCT p_brand FROM lineitem
         |  JOIN part ON l_partkey = p_partkey)),
         |rb AS (SELECT COUNT(1) AS n FROM (
         |  SELECT DISTINCT r_regionkey, r_name, p_brand $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey)),
         |ryb AS (SELECT COUNT(1) AS n FROM (
         |  SELECT DISTINCT r_regionkey, r_name, year(l_shipdate), p_brand
         |  $SUPP_GEO_JOIN JOIN part ON l_partkey = p_partkey))
         |SELECT * FROM (
         |SELECT 'brand' AS levels, (SELECT n FROM b) AS exact_rows,
         |  CAST(1 AS BIGINT) AS covers
         |UNION ALL SELECT 'brand,region,region_label',
         |  (SELECT n FROM rb), 2
         |UNION ALL SELECT 'brand,region,region_label,ship_year',
         |  (SELECT n FROM ryb), 3
         |UNION ALL SELECT 'region,region_label', (SELECT n FROM rg), 1
         |UNION ALL SELECT 'region,region_label,ship_year',
         |  (SELECT n FROM ry), 2)
         |ORDER BY levels""".stripMargin,
    // q75: top-15 (nation, brand) tuples by revenue, planner tie-break
    // (hierarchical keys ascending) after the measure
    "q75_mdx_topcount_tuples" ->
      s"""SELECT n_nationkey AS nation, n_name AS nation_label,
         |p_brand AS brand, ${sumd(REV, "revenue")}
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, nation ASC, brand ASC LIMIT 15""".stripMargin,
    // q74: the guarded month-over-month ratio — CASE mirrors if/IS NULL
    "q74_mdx_iif" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1, 2)
         |SELECT ship_year, ship_month, revenue,
         |CASE WHEN lag(revenue) OVER (ORDER BY ship_year, ship_month)
         |    IS NULL THEN -1.0
         |  ELSE revenue / lag(revenue) OVER (ORDER BY ship_year, ship_month)
         |    - 1.0 END AS mom_pct
         |FROM agg ORDER BY ship_year, ship_month""".stripMargin,
    // q77: ANCESTOR(nation 5, Region) slicer = the whole region nation 5
    // belongs to
    "q77_mdx_ancestor" ->
      s"""SELECT p_brand AS brand, ${sumd(REV, "revenue")}, COUNT(1) AS cnt
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_regionkey =
         |  (SELECT n_regionkey FROM nation WHERE n_nationkey = 3)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q78: CLOSINGPERIOD = the last (quarter, month) with data under year
    // 1995 in member order — the full path (year AND quarter AND month)
    "q78_mdx_closingperiod" ->
      s"""WITH lastm AS (
         |  SELECT quarter(l_shipdate) AS q, month(l_shipdate) AS m
         |  FROM lineitem WHERE year(l_shipdate) = 1995
         |  ORDER BY 1 DESC, 2 DESC LIMIT 1)
         |SELECT n_nationkey AS nation, n_name AS nation_label,
         |  ${sumd(REV, "revenue")}, ${sumd("l_quantity", "sum_qty")}
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE year(l_shipdate) = 1995
         |  AND quarter(l_shipdate) = (SELECT q FROM lastm)
         |  AND month(l_shipdate) = (SELECT m FROM lastm)
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // q79: NextMember / Lead(3) = SQL lead over the (year, month) axis
    "q79_mdx_lead" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1, 2)
         |SELECT ship_year, ship_month, revenue,
         |  lead(revenue) OVER (ORDER BY ship_year, ship_month) AS next_rev,
         |  lead(revenue, 3) OVER (ORDER BY ship_year, ship_month)
         |    AS rev_in_3mo
         |FROM agg ORDER BY ship_year, ship_month""".stripMargin,
    "q56_mdx_growth" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1, 2)
         |SELECT ship_year, ship_month, revenue,
         |revenue - coalesce(
         |  lag(revenue) OVER (ORDER BY ship_year, ship_month), revenue)
         |  AS growth,
         |lag(revenue, 2) OVER (ORDER BY ship_year, ship_month)
         |  AS rev_2mo_ago
         |FROM agg ORDER BY ship_year, ship_month""".stripMargin,
    // q66: TAIL — the last 12 axis rows of the hierarchical order,
    // emitted forward
    "q66_mdx_tail" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1, 2),
         |t AS (SELECT * FROM agg
         |  ORDER BY ship_year DESC, ship_month DESC LIMIT 12)
         |SELECT ship_year, ship_month, revenue FROM t
         |ORDER BY ship_year, ship_month""".stripMargin,
    // q65: TOPPERCENT — cumulative-before and the set total both ride the
    // DECIMAL(27,6) window recipe; keep while cum_before < 25% of total
    "q65_mdx_toppercent" ->
      s"""WITH b AS (
         |  SELECT p_brand AS brand, ${sumd(REV, "revenue")}
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
         |w AS (SELECT brand, revenue,
         |  COALESCE(CAST(SUM(CAST(CAST(revenue AS VARCHAR)
         |    AS DECIMAL(27,6))) OVER (ORDER BY revenue DESC, brand ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE),
         |    0.0) AS cum_before,
         |  CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6)))
         |    OVER () AS DOUBLE) AS total
         |  FROM b)
         |SELECT brand, revenue FROM w
         |WHERE cum_before < 25.0 / 100.0 * total
         |ORDER BY brand""".stripMargin,
    // q81: fixed-set subtotal/mean per region — the conditional window sum
    // rides the same DECIMAL quantization as the All-member total
    "q81_mdx_subset_agg" ->
      s"""WITH agg AS (
         |  SELECT r_regionkey AS region, r_name AS region_label,
         |    CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  GROUP BY 1, 2, 3)
         |SELECT region, region_label, ship_year, revenue,
         |  CAST(SUM(CASE WHEN ship_year IN (1994, 1995)
         |    THEN CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6)) END)
         |    OVER (PARTITION BY region) AS DOUBLE) AS rev_94_95,
         |  CAST(SUM(CASE WHEN ship_year IN (1994, 1995)
         |    THEN CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6)) END)
         |    OVER (PARTITION BY region) AS DOUBLE)
         |   / COUNT(CASE WHEN ship_year IN (1994, 1995) THEN 1 END)
         |    OVER (PARTITION BY region) AS avg_94_95
         |FROM agg ORDER BY region, ship_year""".stripMargin,
    // q82: the XML-declared catalog plans the same star aggregation the
    // JSON catalog would — aliases minted by MondrianXml (<usage>_<level>),
    // the calc member translated onto post-agg measure aliases
    "q82_xml_catalog" ->
      s"""SELECT n_nationkey AS geography_nation,
         |  n_name AS geography_nation_label,
         |  ${sumd("o_totalprice", "total_sales")},
         |  COUNT(o_orderkey) AS order_count,
         |  COUNT(DISTINCT o_custkey) AS customer_count,
         |  CAST(SUM(${dec("o_totalprice")}) AS DOUBLE)
         |    / COUNT(o_orderkey) AS avg_order
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // q83: the XML-declared apac role — grants nations {8,9,12,18,21},
    // denies customer 43 only under nation 8 (ancestor-confined deny);
    // partial policy = plain WHERE on the oracle side
    "q83_xml_role" ->
      s"""SELECT n_nationkey AS geography_nation,
         |  n_name AS geography_nation_label,
         |  ${sumd("o_totalprice", "total_sales")},
         |  COUNT(o_orderkey) AS order_count
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE n_nationkey IN (8, 9, 12, 18, 21)
         |  AND NOT (n_nationkey = 8 AND c_custkey = 43)
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // q80: q65 with the window order flipped ASC — the ascending prefix
    // whose cumulative share stays under 10% of the set total
    "q80_mdx_bottompercent" ->
      s"""WITH b AS (
         |  SELECT p_brand AS brand, ${sumd(REV, "revenue")}
         |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
         |w AS (SELECT brand, revenue,
         |  COALESCE(CAST(SUM(CAST(CAST(revenue AS VARCHAR)
         |    AS DECIMAL(27,6))) OVER (ORDER BY revenue ASC, brand ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE),
         |    0.0) AS cum_before,
         |  CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6)))
         |    OVER () AS DOUBLE) AS total
         |  FROM b)
         |SELECT brand, revenue FROM w
         |WHERE cum_before < 10.0 / 100.0 * total
         |ORDER BY brand""".stripMargin,
    // q64: Sum(PeriodsToDate(Quarter)) = QTD, Sum(Ytd()) = YTD — both
    // DECIMAL(27,6)-requantized running sums (the q48 recipe), partitioned
    // by their reset member
    "q64_mdx_qtd" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    CAST(quarter(l_shipdate) AS INTEGER) AS ship_quarter,
         |    CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1, 2, 3)
         |SELECT ship_year, ship_quarter, ship_month, revenue,
         |CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6))) OVER (
         |  PARTITION BY ship_year, ship_quarter
         |  ORDER BY ship_year, ship_quarter, ship_month
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |  AS qtd,
         |CAST(SUM(CAST(CAST(revenue AS VARCHAR) AS DECIMAL(27,6))) OVER (
         |  PARTITION BY ship_year
         |  ORDER BY ship_year, ship_quarter, ship_month
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |  AS ytd2
         |FROM agg ORDER BY ship_year, ship_quarter, ship_month""".stripMargin,
    // q73: per-region window AVG (decimal sum / count, the planner's exact
    // shape) and window MAX over the aggregated axis
    "q73_mdx_setavg" ->
      s"""WITH a AS (SELECT r_regionkey AS region, r_name AS region_label,
         |  p_brand AS brand, ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3)
         |SELECT region, region_label, brand, revenue,
         |  revenue - (CAST(SUM(${dec("revenue")}) OVER w AS DOUBLE)
         |    / CAST(COUNT(revenue) OVER w AS DOUBLE)) AS vs_brand_avg,
         |  MAX(revenue) OVER w AS brand_max,
         |  MEDIAN(revenue) OVER w AS brand_median
         |FROM a WINDOW w AS (PARTITION BY region)
         |ORDER BY region, brand""".stripMargin,
    // q72: RANK() over the aggregated axis, per region, ties sharing a rank
    "q72_mdx_rank" ->
      s"""WITH a AS (SELECT r_regionkey AS region, r_name AS region_label,
         |  p_brand AS brand, ${sumd(REV, "revenue")}
         |  $SUPP_GEO_JOIN
         |  JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3)
         |SELECT region, region_label, brand, revenue,
         |  CAST(RANK() OVER (PARTITION BY region ORDER BY revenue DESC)
         |    AS BIGINT) AS brand_rank
         |FROM a ORDER BY region, brand""".stripMargin,
    "q38_mdx_filter_order" ->
      s"""SELECT brand, revenue FROM (
         |SELECT p_brand AS brand, ${sumd(REV, "revenue")}
         |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
         |WHERE revenue > 10000000.0
         |ORDER BY revenue DESC, brand ASC""".stripMargin,
    "q39_mdx_children" ->
      s"""SELECT n_nationkey AS nation, n_name AS nation_label,
         |${sumd(REV, "revenue")}
         |$SUPP_GEO_JOIN
         |WHERE r_regionkey = 2
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q40_mdx_bottomcount" ->
      s"""WITH y AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |    ${sumd(REV, "revenue")}
         |  FROM lineitem GROUP BY 1),
         |bot AS (SELECT ship_year FROM y
         |  ORDER BY revenue ASC, ship_year ASC LIMIT 2)
         |SELECT y.ship_year, y.revenue FROM y JOIN bot USING (ship_year)
         |ORDER BY ship_year""".stripMargin,
    "q41_mdx_set_algebra" ->
      s"""SELECT n_nationkey AS nation, n_name AS nation_label,
         |${sumd(REV, "revenue")}
         |$SUPP_GEO_JOIN
         |WHERE n_nationkey NOT IN (3, 7)
         |GROUP BY 1, 2 ORDER BY 1 LIMIT 10 OFFSET 5""".stripMargin,
    "q35_rollup_routed" ->
      s"""SELECT r_regionkey AS region, r_name AS region_label,
         |p_brand AS brand, ${sumd(REV, "revenue")}, COUNT(1) AS cnt
         |$SUPP_GEO_JOIN
         |JOIN part ON l_partkey = p_partkey
         |WHERE year(l_shipdate) BETWEEN 1996 AND 1997
         |GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    // s02: the random-hyperplane LSH is fully deterministic (seeded planes),
    // so the oracle replays it: the 8 plane vectors are inlined as literals,
    // bucket = sign bits, then exact per-bucket top-k. list_dot_product ==
    // Spark's sequential zip_with fold bit-for-bit (validated on s01/d05).
    "s02_knn_lsh" -> lshOracleSql,
    "s09_knn_projected" -> projectedKnnOracleSql,
    // s04: at this corpus size the IVF probe set (nprobe=3 of nlist=8 cells)
    // contains the true top-5 for every query vector, so the deterministic
    // IVF result equals exhaustive search (validated empirically at the
    // verify SF; the k-means quantizer itself is order-independent decimal
    // arithmetic).
    "s04_knn_ivf" ->
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |sims AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    list_dot_product(q.v, n.v) AS sim
        |  FROM e q JOIN e n ON q.vec_id <> n.vec_id
        |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
        |  FROM sims)
        |SELECT query_id, rank, neighbor_id, sim FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** DuckDB replay of [[ops.Similarity.knnLsh]] with bits=8, dim=64: the
    * seeded hyperplanes are embedded as double literals (shortest round-trip
    * decimal — DuckDB parses back to the identical binary64). */
  // t19: the iterative BPE procedure unrolled — per round: pair counts over
  // the flanked symbol strings, a LIMIT-1 argmax (cnt desc, pair asc — the
  // same total order the Spark driver argmax uses), and a replace() whose
  // left-to-right non-overlapping semantics match Spark's exactly
  /** t25: the tokenize oracle's CTE chain, grouped by lang with the
    * fertility ratio. */
  private lazy val bpeFertilityOracleSql: String = {
    val nested = (1 to bpeRounds).foldLeft("tok.s") { (acc, r) =>
      s"replace($acc, '(' || b$r.a || ')(' || b$r.b || ')', " +
        s"'(' || b$r.a || b$r.b || ')')"
    }
    val bs = (1 to bpeRounds).map(r => s"b$r").mkString(", ")
    s"""WITH $bpeCtes,
       |tok AS (SELECT lang, regexp_replace(w, '(.)', '(\\1)', 'g') AS s
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
       |    FROM documents)),
       |ap AS (SELECT lang, $nested AS s FROM tok, $bs)
       |SELECT lang,
       |CAST(SUM(len(regexp_extract_all(s, '\\(([^)]*)\\)', 1))) AS BIGINT)
       |  AS n_bpe_tokens,
       |COUNT(1) AS n_words,
       |CAST(SUM(len(regexp_extract_all(s, '\\(([^)]*)\\)', 1))) AS DOUBLE) /
       |  COUNT(1) AS fertility
       |FROM ap GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** t23: TextRank oracle — 3 damped PageRank rounds unrolled (the
    * s06/t19 pattern). Per-node neighbor sums ride DECIMAL(38,18) with the
    * VARCHAR hop; the damping step 0.15/n + 0.85·s is one fixed-shape
    * double expression on both engines (DuckDB decimal literals convert to
    * the identical nearest double before `/` and `*`). */
  private lazy val textrankOracleSql: String = {
    def round(i: Int) =
      s"""r$i AS (SELECT n0.tok,
         |  0.15 / nn.n + 0.85 * CAST(COALESCE(SUM(
         |    CAST(CAST(r.pr / d.deg AS VARCHAR) AS DECIMAL(38,18))), 0)
         |    AS DOUBLE) AS pr
         |  FROM nodes n0 CROSS JOIN nn
         |  LEFT JOIN edges e ON e.dst = n0.tok
         |  LEFT JOIN r${i - 1} r ON r.tok = e.src
         |  LEFT JOIN deg d ON d.src = e.src
         |  GROUP BY n0.tok, nn.n)""".stripMargin
    s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
       |bi AS (SELECT w[g] AS x, w[g + 1] AS y
       |  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS g FROM w)
       |  WHERE w[g] <> w[g + 1]),
       |edges AS (SELECT DISTINCT src, dst FROM
       |  (SELECT x AS src, y AS dst FROM bi
       |   UNION ALL SELECT y AS src, x AS dst FROM bi)),
       |nodes AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |nn AS (SELECT COUNT(1) AS n FROM nodes),
       |deg AS (SELECT src, COUNT(1) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT tok, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT tok, ROUND(pr, 12) AS pr FROM r3
       |ORDER BY ROUND(pr, 12) DESC, tok ASC LIMIT 20""".stripMargin
  }

  private val bpeRounds = 6

  /** The shared unrolled-BPE CTE chain: words → w0 and per-round
    * (pair counts p_r, argmax b_r, merged word table w_r). */
  private lazy val bpeCtes: String = {
    val base =
      """words AS (SELECT w, COUNT(1) AS n FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |w0 AS (SELECT regexp_replace(w, '(.)', '(\1)', 'g') AS s, n
        |  FROM words)""".stripMargin
    val perRound = (1 to bpeRounds).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS (SELECT sy[g] AS a, sy[g + 1] AS b, SUM(n) AS cnt FROM (
         |  SELECT regexp_extract_all(s, '\\(([^)]*)\\)', 1) AS sy, n,
         |    unnest(generate_series(1,
         |      len(regexp_extract_all(s, '\\(([^)]*)\\)', 1)) - 1)) AS g
         |  FROM $prev) GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM p$r
         |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |w$r AS (SELECT replace($prev.s, '(' || b$r.a || ')(' || b$r.b || ')',
         |  '(' || b$r.a || b$r.b || ')') AS s, n FROM $prev, b$r)""".stripMargin
    }
    (base +: perRound).mkString(",\n")
  }

  private lazy val bpeOracleSql: String = {
    val selects = (1 to bpeRounds).map { r =>
      s"SELECT CAST($r AS INTEGER) AS round, a AS lhs, b AS rhs, " +
        s"a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b$r"
    }.mkString("\nUNION ALL ")
    s"WITH $bpeCtes\n$selects\nORDER BY round"
  }

  // t20: re-derive the merges (b1..bN) and apply them in training order as
  // nested replace() calls — left-to-right non-overlapping in both engines
  private lazy val bpeTokenizeOracleSql: String = {
    val nested = (1 to bpeRounds).foldLeft("tok.s") { (acc, r) =>
      s"replace($acc, '(' || b$r.a || ')(' || b$r.b || ')', " +
        s"'(' || b$r.a || b$r.b || ')')"
    }
    val bs = (1 to bpeRounds).map(r => s"b$r").mkString(", ")
    s"""WITH $bpeCtes,
       |tok AS (SELECT doc_id, regexp_replace(w, '(.)', '(\\1)', 'g') AS s
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |    FROM documents)),
       |ap AS (SELECT doc_id, $nested AS s FROM tok, $bs)
       |SELECT doc_id,
       |CAST(SUM(len(regexp_extract_all(s, '\\(([^)]*)\\)', 1))) AS BIGINT)
       |  AS n_bpe_tokens,
       |COUNT(1) AS n_words
       |FROM ap GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // d10: the deterministic hyperplanes are expanded to literal lists, so the
  // oracle replays bucket assignment (sign of the same sequential-fold dot),
  // the 2-table candidate union, and the exact cosine verification
  private lazy val embLshOracleSql: String = {
    val (bits, tables, threshold) = (6, 2, 0.4)
    val tableSelects = (0 until tables).map { t =>
      val planes = ops.Similarity.hyperplanes(64, bits, seed = 42L + t)
      val bucket = planes.zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN list_dot_product(v, [${p.mkString(", ")}]) >= 0 " +
          s"THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n  + ")
      s"SELECT vec_id, $t AS t, $bucket AS b FROM e"
    }
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |k AS (${tableSelects.mkString("\nUNION ALL\n")}),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM k a JOIN k b ON a.t = b.t AND a.b = b.b
       |    AND a.vec_id < b.vec_id),
       |p AS (SELECT vec_a, vec_b, list_dot_product(ea.v, eb.v) AS cos
       |  FROM cand JOIN e ea ON vec_a = ea.vec_id
       |  JOIN e eb ON vec_b = eb.vec_id)
       |SELECT vec_a, vec_b, cos FROM p WHERE cos >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // s09: the projection planes embed as double literals (Double.toString
  // round-trips exactly — the s02 convention); two-phase replay like s05
  private lazy val projectedKnnOracleSql: String = {
    val planes = ops.Similarity.hyperplanes(64, 16, seed = 7L)
    val projExpr = planes.map(p =>
      s"list_dot_product(v, [${p.mkString(", ")}])").mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |pr AS (SELECT vec_id, v, [$projExpr] AS p FROM e),
       |qd AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    list_dot_product(q.p, n.p) AS pdot, q.v AS v_q, n.v AS v_n
       |  FROM pr q JOIN pr n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
       |short AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY pdot DESC, neighbor_id ASC) AS srank FROM qd),
       |rescored AS (
       |  SELECT query_id, neighbor_id, list_dot_product(v_q, v_n) AS sim
       |  FROM short WHERE srank <= 20),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM rescored)
       |SELECT query_id, rank, neighbor_id, sim FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private lazy val lshOracleSql: String = {
    val planes = ops.Similarity.hyperplanes(64, 8)
    val bucketExpr = planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product(v, [${p.mkString(", ")}]) >= 0 " +
        s"THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n  + ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e),
       |sims AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    list_dot_product(q.v, n.v) AS sim
       |  FROM b q JOIN b n ON q.bucket = n.bucket AND q.vec_id <> n.vec_id
       |  WHERE q.vec_id IN (0, 1, 2, 3, 4)),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM sims)
       |SELECT query_id, rank, neighbor_id, sim FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }
}
