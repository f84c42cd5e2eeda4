package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Customer/basket analytics on the order star — the segmentation and
  * affinity primitives a warehouse team runs next to the cube queries. */
object Analytics {

  /** RFM SEGMENTATION — recency / frequency / monetary terciles per
    * customer, rolled up per segment code (r·100 + f·10 + m, each 1..3
    * where 3 = best: most recent, most frequent, highest spend). The
    * classic lifecycle segmentation (champions 333, at-risk 1xx, …).
    *
    * The three independent NTILE(3)s run as ONE
    * [[Ranking.groupedEquiDepthTiles]] pass: the per-customer frame melts
    * to (metric, value) rows and the metric id leads the range keys, so a
    * single range shuffle + checkpoint + bucket-offset frame rank all
    * three orders at once (the previous shape paid three full rank
    * pipelines — three range-partitioner sample passes, three
    * checkpoints, three offset broadcasts — over the same frame; r16
    * optimization, guide §2.4 "remove shuffles outright"). Each metric's
    * (value, custkey) total order, and therefore every tile, is
    * UNCHANGED: long→double on recency days is order-preserving below
    * 2^53, f/m were already ranked on their double casts, and the
    * tiebreak stays custkey.
    *
    * Recency is measured in days BEFORE the corpus' last order date (the
    * anchor broadcasts as a 1-row frame), so the operator is deterministic
    * for any snapshot. Monetary rides DECIMAL until the final double. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val perCust = orders
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(expr("CAST(o_totalprice AS DECIMAL(27,6))")).as("monetary"))
    val anchor = orders.agg(max(col("o_orderdate")).as("anchor"))
    val base = perCust.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(col("anchor"), col("last_order")).cast("long"))
      .select("custkey", "recency_days", "frequency", "monetary")
    // melt: one row per (customer, metric); monetary rides along (exact
    // DECIMAL, needed for the final rollup) rather than re-joining base
    val melted = base.select(col("custkey"), col("monetary"), explode(array(
        struct(lit(1).as("mid"), col("recency_days").cast("double").as("mv")),
        struct(lit(2).as("mid"), col("frequency").cast("double").as("mv")),
        struct(lit(3).as("mid"), col("monetary").cast("double").as("mv"))))
        .as("x"))
      .select(col("custkey"), col("monetary"), col("x.mid").as("mid"),
        col("x.mv").as("mv"))
    val tiled = Ranking.groupedEquiDepthTiles(melted, col("mid"),
      col("mv"), col("custkey"), 3)
    // pivot back to one row per customer; recency inverts (tile 1 = most
    // recent = score 3), monetary is identical on all three rows
    val scored = tiled.groupBy("custkey").agg(
      max(when(col("mid") === 1, lit(4) - col("tile"))).cast("int").as("r"),
      max(when(col("mid") === 2, col("tile"))).cast("int").as("f"),
      max(when(col("mid") === 3, col("tile"))).cast("int").as("m"),
      max(col("monetary")).as("monetary"))
    scored
      .withColumn("rfm_code", (col("r") * 100 + col("f") * 10 + col("m")))
      .groupBy("rfm_code")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary")).cast("double").as("monetary_total"))
      .orderBy("rfm_code")
  }

  /** MARKET-BASKET affinity — top-k brand pairs by LIFT, the co-purchase
    * signal behind "frequently bought together". Lift compares the pair's
    * co-occurrence (orders containing both brands) against independence:
    * n_ab·N / (n_a·n_b) — exact integer products into one double division,
    * the log-free PMI form ([[TextOps.collocations]] for baskets).
    *
    * Scale shape: ONE shuffle builds per-order distinct brand sets
    * (`collect_set` dedups in the aggregation buffer — no separate
    * DISTINCT pass), then pairs are generated MAP-SIDE from each sorted
    * set with codegen'd higher-order functions, so the Σ basket_size²
    * pair stream collapses into the ≤ |brands|² partial-aggregation
    * buffers before it ever reaches an exchange — the pair shuffle moves
    * O(partitions · |brands|²) rows, not Σ basket². Brand marginals and
    * the 1-row order total reread the cached basket table; top-k is
    * TakeOrderedAndProject. `minPairs` prunes noise pairs before ranking
    * (result-identical for the returned k as long as real pairs clear
    * it). */
  def copurchaseLift(lineitem: DataFrame, part: DataFrame, k: Int = 20,
      minPairs: Long = 5L): DataFrame = {
    // Brand → int dictionary, RANK-ORDERED: bid is the brand's 1-based
    // rank in string order, so sort_array over bids sorts exactly as it
    // did over brand strings and pair canonical order (a < b) is
    // preserved. Everything fact-sized — the basket exchange, the
    // collect_set buffers, the map-side pair generation, and the pair /
    // marginal aggregation keys — then carries a 4-byte int instead of a
    // string (guide §2.3, shuffle narrower types); strings come back on
    // the marginal broadcasts. The window sorts |brands| distinct values
    // (dim-domain-sized), not the fact; the eager checkpoint computes it
    // once for its two consumers (part projection + marg).
    val dict = part.select(col("p_brand").as("brand")).distinct()
      .withColumn("bid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("brand"))))
      .localCheckpoint() // |brands| rows; feeds the part projection + marg
    // left join: a part with a null brand gets a null bid, which
    // collect_set drops, so its order still counts as a basket (n_orders
    // counts every order with a known part, as the oracle's ob does)
    val baskets = lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))
          .join(dict, col("p_brand") === col("brand"), "left")
          .select(col("p_partkey"), col("bid"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("bid"))
      .groupBy("okey")
      .agg(sort_array(collect_set(col("bid"))).as("brands"))
      .localCheckpoint() // feeds pairs + marginals + total
    // ordered (a < b holds by sort_array) pairs from within each basket —
    // no self-join, no re-shuffle of the Σ basket² pair stream
    val pairs = baskets
      .select(explode(expr(
        """flatten(transform(brands, (a, i) ->
          |  transform(slice(brands, i + 2, size(brands)),
          |            b -> struct(a AS bid_a, b AS bid_b))))"""
          .stripMargin)).as("p"))
      .select(col("p.bid_a"), col("p.bid_b"))
      .groupBy("bid_a", "bid_b").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPairs)
    // the brand string rides the (dim-domain-sized) marginal frame, so the
    // string readback shares the marginal broadcasts instead of adding two
    // more broadcast jobs; checkpointed because BOTH broadcasts consume it —
    // without it each broadcast job re-runs the basket explode + aggregate
    val marg = baskets.select(explode(col("brands")).as("bid"))
      .groupBy("bid").agg(count(lit(1)).as("n_b"))
      .join(dict, Seq("bid"))
      .localCheckpoint()
    val total = baskets.select(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(marg.select(col("bid").as("bid_a"),
        col("n_b").as("n_a"), col("brand").as("brand_a"))), "bid_a")
      .join(broadcast(marg.select(col("bid").as("bid_b"),
        col("n_b").as("n_b"), col("brand").as("brand_b"))), "bid_b")
      .crossJoin(broadcast(total))
      .withColumn("lift", (col("n_ab") * col("n_orders")).cast("double") /
        (col("n_a") * col("n_b")).cast("double"))
      .select("brand_a", "brand_b", "n_ab", "lift")
      .orderBy(col("lift").desc, col("brand_a").asc, col("brand_b").asc)
      .limit(k)
  }
}
