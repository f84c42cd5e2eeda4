package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.GroupedTopK
import SparkTestSession.{catalog => cat, spark}

/** Custom whole-operator plan (LogicalPlan + Strategy + SparkPlan): per-group
  * top-k must equal the window row_number() spelling exactly, on every
  * deterministic ordering, and must plan as the two-phase heap operator. */
class GroupedTopKSpec extends AnyFunSuite {

  private lazy val li = cat.table("lineitem")

  private def windowed(k: Int) = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  private def viaOperator(k: Int) =
    GroupedTopK.topK(
      li.select("l_returnflag", "l_orderkey", "l_linenumber",
        "l_extendedprice"),
      Seq(col("l_returnflag")),
      Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc), k)

  test("grouped top-k equals the row_number window form exactly") {
    // the reference runs as Spark plans it, without graft's rewrite
    val rule = "spark.sql.optimizer.excludedRules"
    Seq(1, 5, 40).foreach { k =>
      spark.conf.set(rule, graft.plans.TopKRewrite.ruleName)
      val exp = try {
        val plan = windowed(k).queryExecution.executedPlan.toString
        assert(plan.contains("Window") && !plan.contains("GroupedTopK"), plan)
        windowed(k).collect().map(_.toSeq).toSet
      } finally spark.conf.unset(rule)
      val got = viaOperator(k).collect().map(_.toSeq).toSet
      assert(got == exp, s"k=$k")
    }
  }

  test("plans as partial + final heap exec around one exchange, no sort") {
    val df = viaOperator(5)
    val plan = df.queryExecution.executedPlan.toString()
    assert("GroupedTopK \\[".r.findAllIn(plan).length == 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("WindowExec"))
    assert(!plan.contains("SortExec") && !plan.contains("Sort "), plan)
  }

  test("TopKRewrite turns the row_number window spelling into GroupedTopK") {
    val df = windowed(5)
    val plan = df.queryExecution.executedPlan.toString()
    assert("GroupedTopK \\[".r.findAllIn(plan).length == 2, plan)
    assert(!plan.contains("Window"), plan)
    // identical rows to the unrewritten execution (set compare vs operator)
    assert(df.collect().map(_.toSeq).toSet ==
      viaOperator(5).collect().map(_.toSeq).toSet)
  }

  test("TopKRewrite keeps residual predicates and rn = 1 semantics") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    val df = li.select("l_returnflag", "l_orderkey", "l_linenumber",
        "l_extendedprice")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("l_extendedprice") > 0)
    val plan = df.queryExecution.executedPlan.toString()
    assert("GroupedTopK \\[".r.findAllIn(plan).length == 2, plan)
    val rows = df.collect()
    assert(rows.length == li.select("l_returnflag").distinct().count())
    assert(rows.forall(_.getInt(4) == 1))
  }

  test("TopKRewrite only unwraps a WindowGroupLimit owned by the window") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending,
      Descending, Expression, LessThanOrEqual, Literal, RowNumber, SortOrder,
      WindowExpression, WindowSpecDefinition, SpecifiedWindowFrame, RowFrame,
      UnboundedPreceding, CurrentRow}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
      LogicalPlan, Window => LWindow, WindowGroupLimit}
    import graft.plans.TopKRewrite
    val base = li.select("l_returnflag", "l_orderkey", "l_extendedprice")
      .queryExecution.analyzed
    val rf = base.output.find(_.name == "l_returnflag").get
    val price = base.output.find(_.name == "l_extendedprice").get
    val ok = base.output.find(_.name == "l_orderkey").get
    val part: Seq[Expression] = Seq(rf)
    val order = Seq(SortOrder(price, Descending), SortOrder(ok, Ascending))
    val spec = WindowSpecDefinition(part, order,
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
    val rn = Alias(WindowExpression(RowNumber(), spec), "rn")()
    def filtered(child: LogicalPlan): LogicalPlan =
      LFilter(LessThanOrEqual(rn.toAttribute, Literal(5)),
        LWindow(Seq(rn), part, order, child))
    // a WGL InferWindowGroupLimit slid under THIS window: subsumed, unwrapped
    val own = WindowGroupLimit(part, order, RowNumber(), 5, base)
    val r1 = TopKRewrite(filtered(own))
    assert(r1.collectFirst { case w: WindowGroupLimit => w }.isEmpty, r1)
    assert(r1.collectFirst { case t: GroupedTopK => t }.nonEmpty, r1)
    // a WGL with a DIFFERENT order spec: not ours — dropping it would change
    // results, so it must survive beneath the heap operator
    val foreign = WindowGroupLimit(part, Seq(SortOrder(ok, Descending)),
      RowNumber(), 5, base)
    val r2 = TopKRewrite(filtered(foreign))
    assert(r2.collectFirst { case w: WindowGroupLimit => w }.nonEmpty, r2)
    assert(r2.collectFirst { case t: GroupedTopK => t }.nonEmpty, r2)
  }

  test("groups smaller than k emit all rows, ranked densely from 1") {
    val rows = viaOperator(100000).where(col("l_returnflag") === "R")
      .collect()
    val total = li.where(col("l_returnflag") === "R").count()
    assert(rows.length == total)
    val ranks = rows.map(_.getInt(4)).sorted
    assert(ranks.head == 1 && ranks.last == total)
    assert(ranks.distinct.length == ranks.length)
  }
}
