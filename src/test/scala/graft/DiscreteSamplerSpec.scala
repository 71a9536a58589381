package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ArrayQueries
import graft.random.Kernels

/** The layered inverse-CDF sampler ([[Kernels.cdfLayered]]) against the
  * flat cascade it replaces, and the generated-code size it exists for. */
class DiscreteSamplerSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.spark

  /** (name, cutoffs, base): every `Kernels` CDF builder, then q90's tables. */
  private val tables: Seq[(String, Seq[Double], Long)] = Seq(
    ("poisson(6.5)", Kernels.poissonCdf(6.5), 0L),
    ("binomial(20, 0.3)", Kernels.binomialCdf(20, 0.3), 0L),
    ("zipf(2.0)", Kernels.zipfCdf(2.0), 1L),
    ("logseries(0.6)", Kernels.logseriesCdf(0.6), 1L),
    ("negative_binomial(5, 0.4)", Kernels.negativeBinomialCdf(5, 0.4), 0L),
    ("hypergeometric(7, 13, 8)", Kernels.hypergeometricCdf(7, 13, 8), 0L),
    ("q90 zipf", ArrayQueries.zipfCdf, 1L),
    ("q90 logseries", ArrayQueries.logseriesCdf, 1L),
    ("q90 negative_binomial", ArrayQueries.negBinCdf, 0L),
    ("q90 hypergeometric", ArrayQueries.hyperCdf, 0L))

  test("the layered sampler equals the flat cascade at 20,000 positions") {
    val s = spark
    tables.zipWithIndex.foreach { case ((name, cdf, base), j) =>
      val stream = 9301L + 101L * j
      val l = Kernels.cdfLayered(Kernels.uniform01("id", stream), cdf, "d", base)
      val flat = Kernels.cdfCascade("id", stream, cdf, base)
      val both = s.range(20000)
        .selectExpr(Seq("id", s"$flat AS flat") ++ l.layers.head: _*)
        .selectExpr("id", "flat", s"${l.value} AS layered")
      val r = both.selectExpr(
        "CAST(count(*) AS BIGINT)",
        "CAST(sum(CASE WHEN flat <=> layered THEN 0 ELSE 1 END) AS BIGINT)",
        "CAST(count(DISTINCT layered) AS BIGINT)").head()
      assert(r.getLong(0) == 20000L, name)
      assert(r.getLong(1) == 0L, s"$name: ${r.getLong(1)} positions differ")
      assert(r.getLong(2) > 2L, s"$name: degenerate draw (${r.getLong(2)} values)")
    }
  }

  test("the search tree counts cutoffs below u at and around every cutoff") {
    val cdf = Seq(0.1, 0.25, 0.25, 0.5, 0.9)
    val search = Kernels.cdfSearch("u", cdf, base = 3L)
    val us = Seq(0.0, 0.1, 0.1000001, 0.2, 0.25, 0.2500001, 0.5, 0.7, 0.9, 0.95, 1.0)
    val got = spark.createDataFrame(us.map(Tuple1(_))).toDF("u")
      .selectExpr("u", s"$search AS k").collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    us.foreach(u => assert(got(u) == 3L + cdf.count(_ < u), s"u = $u"))
  }

  test("non-monotone cutoffs are rejected") {
    intercept[IllegalArgumentException](Kernels.cdfLayered("u", Seq(0.1, 0.5, 0.3), "x"))
    intercept[IllegalArgumentException](Kernels.cdfSearch("u", Seq(0.2, Double.NaN, 0.4)))
    Kernels.cdfSearch("u", Seq(0.2, 0.2, 0.4)) // ties are nondecreasing
  }

  test("q90 compiles no generated method over HotSpot's 8000-byte JIT limit") {
    // q90 generates its 20,000 positions: no table is read at any scale
    val df = SparkEntry.queries("q90_random_gen_disc")(spark, TestSpark.sf)
    df.collect()
    val stages = collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty, df.queryExecution.executedPlan.toString)
    val biggest = stages.map { w =>
      CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
    }.max
    assert(biggest <= CodeGenerator.DEFAULT_JVM_HUGE_METHOD_LIMIT,
      s"q90's largest generated method is $biggest bytes: HotSpot interprets it")
  }
}
