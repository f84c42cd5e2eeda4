package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import SparkTestSession.spark

/** `exact_sum(x)` against the expression it replaces,
  * `sum(CAST(x AS DECIMAL(27,6)))`: same type, same value, same null, and
  * with ANSI on the same error. Every property runs with ANSI on and off,
  * and the edge cases also without code generation. */
class ExactSumSpec extends AnyFunSuite {

  private val Ref = "sum(CAST(x AS DECIMAL(27,6)))"

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def ansi[T](on: Boolean)(body: => T): T =
    withConf("spark.sql.ansi.enabled" -> on.toString)(body)

  private def frame(xs: Seq[java.lang.Double], groups: Int): DataFrame = {
    val rows = xs.zipWithIndex.map { case (x, i) => Row((i % groups).toLong, x) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("g", LongType), StructField("x", DoubleType))))
  }

  /** Rows (g, native, reference) where the two sums differ; the output
    * types are checked on the way. */
  private def mismatches(df: DataFrame): Array[Row] = {
    val out = df.groupBy("g").agg(expr("exact_sum(x)").as("native"),
      expr(Ref).as("ref"))
    assert(out.schema("native").dataType == DecimalType(37, 6))
    assert(out.schema("native").dataType == out.schema("ref").dataType)
    out.where(!(col("native") <=> col("ref"))).collect()
  }

  /** The sum's value, or the error's condition and parameters. */
  private def outcome(df: DataFrame, sumExpr: String): Either[String, Seq[Row]] =
    try Right(df.agg(expr(sumExpr)).collect().toSeq)
    catch {
      case e: Throwable =>
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
        val st = chain.collect { case t: SparkThrowable
            if t.getCondition != null && !t.getCondition.startsWith("TASK") => t }
          .lastOption.getOrElse(fail("no Spark error condition", e))
        import scala.jdk.CollectionConverters._
        Left(s"${st.getCondition} ${st.getMessageParameters.asScala.toSeq.sorted}")
    }

  private val fastLimit = 9.007199254740992e9 // 2^53 / 10^6

  private val edges: Seq[Double] = {
    val around = (x: Double) => Seq(Math.nextDown(x), x, Math.nextUp(x))
    // decimal ties at the 6th place, in their shortest form, and the
    // doubles on either side of them; x · 10^6 in doubles lands exactly on
    // the tie, above it (1.0000005) or below it (the last three)
    val ties = Seq("0.0000005", "0.0000015", "0.0000025", "1.0000005",
      "2.5000005", "0.1234565", "123.4567895", "99999.9999995",
      "12345678.1234565", "8999999999.9999995", "16940.5438735",
      "66362.7111185", "17090.0088925")
      .map(_.toDouble).flatMap(around)
    val subnormals = Seq(Double.MinPositiveValue, 2.2250738585072014e-308,
      java.lang.Double.longBitsToDouble(0x000fffffffffffffL), 1e-310)
    val limits = Seq(fastLimit, 1e21, 999999999999999.9, 9.223372036854775e12)
      .flatMap(around)
    val base = ties ++ subnormals ++ limits ++ Seq(0.0, 1.0, 0.1, 0.7, 1e15)
    base ++ base.map(-_) ++ Seq(-0.0)
  }

  for (on <- Seq(false, true)) {
    val mode = if (on) "ANSI on" else "ANSI off"

    test(s"edge values cast like Spark's DECIMAL(27,6) cast ($mode)") {
      val finite = edges.filter(x => Math.abs(x) < 1e21)
      ansi(on) {
        for (codegen <- Seq(true, false))
          withConf("spark.sql.codegen.wholeStage" -> codegen.toString,
              "spark.sql.codegen.factoryMode" ->
                (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")) {
            // one row per group: each row's cast is compared on its own
            assert(mismatches(frame(finite.map(Double.box), finite.size))
              .isEmpty, s"codegen=$codegen")
            assert(mismatches(frame(finite.map(Double.box), 3)).isEmpty)
          }
      }
    }

    test(s"non-double inputs sum like their DECIMAL(27,6) cast ($mode)") {
      ansi(on) {
        for ((t, limit) <- Seq("decimal(20,7)" -> 1e12, "float" -> 1e12,
            "bigint" -> 1e12, "int" -> 2e9)) {
          val xs = edges.filter(x => Math.abs(x) < limit).map(Double.box)
          val df = frame(xs, xs.size).withColumn("x", col("x").cast(t))
          assert(mismatches(df).isEmpty, t)
        }
      }
    }

    test(s"NaN, ±Inf and |x| ≥ 10^21 give the same null or error ($mode)") {
      ansi(on) {
        for (x <- Seq(Double.NaN, Double.PositiveInfinity,
            Double.NegativeInfinity, 1e21, -1e21, Math.nextUp(1e21), 1e300)) {
          val df = frame(Seq(Double.box(x), Double.box(1.5)), 1)
          assert(outcome(df, "exact_sum(x)") == outcome(df, Ref), s"x=$x")
        }
      }
    }

    test(s"all-null groups and empty input are null ($mode)") {
      ansi(on) {
        val df = frame(Seq(null, null, 2.5, null), 2)
        assert(mismatches(df).isEmpty)
        val rows = df.groupBy("g").agg(expr("exact_sum(x)")).orderBy("g")
          .collect().map(_.get(1))
        assert(rows.toSeq == Seq(new java.math.BigDecimal("2.500000"), null))
        val empty = frame(Nil, 1)
        assert(outcome(empty, "exact_sum(x)") == outcome(empty, Ref))
        assert(outcome(empty, "exact_sum(x)") == Right(Seq(Row(null))))
      }
    }

    test(s"sums past a Long's range match the decimal sum ($mode)") {
      ansi(on) {
        // 9.2e18 units is 9.2e12: each group crosses it up, down, or both
        val big = Seq.fill(40)(1e12) ++ Seq.fill(40)(-1e12) ++
          Seq.tabulate(60)(i => if (i % 3 == 0) -9.3e12 else 9.3e12) ++
          Seq.fill(30)(8.9e20) ++ Seq.fill(30)(-fastLimit * 0.999)
        val xs = big.map(Double.box)
        assert(mismatches(frame(xs, 1)).isEmpty)
        assert(mismatches(frame(xs, 4)).isEmpty)
        val total = frame(xs, 1).agg(expr("exact_sum(x)")).head().getDecimal(0)
        assert(total == frame(xs, 1).agg(expr(Ref)).head().getDecimal(0))
      }
    }

    test(s"10^6 random doubles of the data's shape and from random bits " +
        s"($mode)") {
      val rng = new scala.util.Random(20261019L)
      val shaped = Seq.fill(500000) {
        val price = (90000 + rng.nextInt(10410000)) / 100.0
        val disc = rng.nextInt(11) / 100.0
        val tax = rng.nextInt(9) / 100.0
        Double.box(price * (1 - disc) * (1 + tax))
      }
      val bits = Iterator.continually(
          java.lang.Double.longBitsToDouble(rng.nextLong()))
        // with ANSI on, |x| ≥ 10^21 is an error, checked above
        .filter(x => !on || Math.abs(x) < 1e21)
        // a third of the patterns scaled into the fast path's range
        .zipWithIndex.map { case (x, i) =>
          if (i % 3 == 0 && !x.isNaN && !x.isInfinite)
            Math.scalb(x, -Math.getExponent(x) + rng.nextInt(60) - 20)
          else x }
        .take(500000).map(Double.box).toSeq
      ansi(on) {
        for (xs <- Seq(shaped, bits)) {
          assert(mismatches(frame(xs, xs.size)).isEmpty)
          assert(mismatches(frame(xs, 101)).isEmpty)
        }
      }
    }
  }
}
