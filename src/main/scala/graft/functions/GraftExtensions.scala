package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.model.GraftException

/** SparkSessionExtensions entry point: registers graft's native Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT simhash64(...)")`
  * works next to the Column API. The normal way in is
  * [[graft.GraftSession.build]], which calls [[GraftExtensions.register]]
  * on the session it builds. An embedding application that owns its
  * session can call `register` itself, or set
  * `spark.sql.extensions=graft.functions.GraftExtensions`; the optimizer
  * rule then runs in a different batch than the one `register` adds it to.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.simhashDesc)
    e.injectFunction(GraftExtensions.minhashDesc)
    e.injectFunction(GraftExtensions.dotDesc)
    e.injectFunction(GraftExtensions.exactSumDesc)
    e.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}

object GraftExtensions {

  private type Desc =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private[functions] val simhashDesc: Desc = (
    FunctionIdentifier("simhash64"),
    info("simhash64", "simhash64(tokens) - 64-bit SimHash of array<string>"),
    (args: Seq[Expression]) => args match {
      case Seq(child) => SimHash64(child)
      case _ => GraftException.badRequest("simhash64 takes 1 argument")
    })

  private[functions] val minhashDesc: Desc = (
    FunctionIdentifier("minhash_sig"),
    info("minhash_sig",
      "minhash_sig(hashes, numHashes) - one-permutation MinHash signature"),
    (args: Seq[Expression]) => args match {
      case Seq(child, k) =>
        // numHashes shapes the output array, so it must be a compile-time
        // constant; a column reference here would throw from k.eval().
        import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
        val integral = Seq(ByteType, ShortType, IntegerType, LongType)
        // foldable/dataType throw on unresolved children — treat as invalid
        val constInt =
          try k.foldable && integral.contains(k.dataType)
          catch { case _: Exception => false }
        if (!constInt)
          GraftException.badRequest(
            "minhash_sig numHashes must be an integer literal")
        else MinHashSig(child, k.eval().asInstanceOf[Number].intValue())
      case _ => GraftException.badRequest(
        "minhash_sig takes (array<bigint>, numHashes)")
    })

  private[functions] val dotDesc: Desc = (
    FunctionIdentifier("dot_product"),
    info("dot_product",
      "dot_product(a, b) - sequential-fold dot product of two array<double>"),
    (args: Seq[Expression]) => args match {
      case Seq(a, b) => DotProduct(a, b)
      case _ => GraftException.badRequest(
        "dot_product takes (array<double>, array<double>)")
    })

  private[functions] val exactSumDesc: Desc = (
    FunctionIdentifier("exact_sum"),
    info("exact_sum",
      "exact_sum(x) - sum(CAST(x AS DECIMAL(27,6))) summed in 128-bit integers"),
    (args: Seq[Expression]) => args match {
      case Seq(child) => ExactSum(child)
      case _ => GraftException.badRequest("exact_sum takes 1 argument")
    })

  /** Register on an already-built session (no extensions hook needed):
    * SQL functions, the GroupedTopK strategy, and the row_number()-filter →
    * GroupedTopK rewrite. */
  def register(spark: SparkSession): Unit = {
    Seq(simhashDesc, minhashDesc, dotDesc, exactSumDesc).foreach {
      case (id, ei, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, ei, builder)
    }
    org.apache.spark.sql.graftshim.SparkShim.addStrategy(spark,
      graft.plans.GroupedTopKStrategy)
    org.apache.spark.sql.graftshim.SparkShim.addOptimization(spark,
      graft.plans.TopKRewrite)
  }
}
