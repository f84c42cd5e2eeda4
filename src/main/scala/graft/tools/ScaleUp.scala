package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-confidence data builder: replicates a driver SF directory's FACT
  * tables `factor`× with shifted keys (dims stay fixed — fact growth is how
  * a warehouse actually scales), so the bench can measure scaling slopes at
  * 10× the largest driver scale without touching the read-only test data.
  *
  * Replicas are decorrelated where exact clones would distort the workload:
  * document text gets a per-replica token suffix (a 10× corpus is NOT ten
  * exact copies of itself — the dedup operators' pair graphs would otherwise
  * blow up ~factor² per near-dup group and measure an artifact, not
  * throughput) and embeddings are circularly rotated per replica (norm- and
  * distribution-preserving, breaks cross-replica cosine). Orders/lineitem
  * shift orderkeys in lockstep so the star joins stay consistent; events
  * shift ids and timestamps (replica i lands i seconds later, keeping
  * per-user streams dense but not duplicated-at-the-same-instant).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = graft.GraftSession.build()
    build(spark, src, dst, factor)
    spark.stop()
  }

  /** The replication itself, callable from other harnesses
    * ([[ScaleSweep]] builds its factor-100 OLAP corpus with it). Requires
    * a [[graft.GraftSession]] (nanosAsLong) when the source events carry
    * TIMESTAMP(NANOS). */
  def build(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    def load(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def save(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // dims: copy as-is
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => save(t, load(t)))

    /** Union of `factor` key-shifted replicas. `stride` must clear the key
      * range; transform customizes each replica beyond the key shift. */
    def replicate(df: DataFrame, factor: Int)(
        transform: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => transform(df, i)).reduce(_ unionByName _)

    val orders = load("orders")
    val orderStride = orders.agg(max("o_orderkey")).head.getLong(0) + 1
    save("orders", replicate(orders, factor) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * orderStride))
    })
    save("lineitem", replicate(load("lineitem"), factor) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * orderStride))
    })

    val events = load("events")
    val eventStride = events.agg(max("event_id")).head.getLong(0) + 1
    val tsIsLong =
      events.schema("ts").dataType == org.apache.spark.sql.types.LongType
    save("events", replicate(events, factor) { (df, i) =>
      val shifted = df.withColumn("event_id",
        col("event_id") + lit(i * eventStride))
      // replica i lands i seconds later (nanos-as-long or µs timestamps)
      if (tsIsLong) shifted.withColumn("ts", col("ts") + lit(i * 1000000000L))
      else shifted.withColumn("ts",
        col("ts") + expr(s"make_interval(0, 0, 0, 0, 0, 0, $i)"))
    })

    val docs = load("documents")
    val docStride = docs.agg(max("doc_id")).head.getLong(0) + 1
    save("documents", replicate(docs, factor) { (df, i) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(i * docStride))
      if (i == 0) shifted
      else shifted
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1$i"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    val emb = load("embeddings")
    val vecStride = emb.agg(max("vec_id")).head.getLong(0) + 1
    save("embeddings", replicate(emb, factor) { (df, i) =>
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(i * vecStride))
      if (i == 0) shifted
      else {
        // rotate by i MOD dim — a raw i beyond the vector width handed
        // slice() a negative length (factor > 64 builds); replicas a full
        // cycle apart repeat a rotation, which is fine for the fact-side
        // scale corpora this feeds (the embedding-op sweeps build their
        // own sign-masked corpus with planted ground truth instead)
        val r = pmod(lit(i), size(col("embedding")))
        shifted.withColumn("embedding",
          concat(slice(col("embedding"), r + lit(1),
              size(col("embedding")) - r),
            slice(col("embedding"), lit(1), r)))
      }
    })
  }
}
