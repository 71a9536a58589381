package graft

import org.scalatest.funsuite.AnyFunSuite

/** The sparse queries' dims aggregate (MatrixQueries.liDims) reads
  * MAX(l_partkey)/MAX(l_suppkey) from parquet ROW-GROUP STATISTICS via the
  * v2 reader's aggregate pushdown instead of scanning the fact table
  * (guide §6 — at 100 TB that is a footer read vs a full pass). This spec
  * pins (a) the pushdown actually fires on the bench corpus, (b) the
  * footer value equals the full-scan value, and (c) the two session confs
  * liDims scopes are restored after a sparse query runs. */
class ParquetStatsAggSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private val V1_LIST = "spark.sql.sources.useV1SourceList"
  private val AGG_PD = "spark.sql.parquet.aggregatePushdown"

  test("MAX over lineitem keys pushes to parquet footers and matches the full scan") {
    val s = spark
    val scanned = s.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("CAST(max(l_partkey) AS BIGINT)", "CAST(max(l_suppkey) AS BIGINT)")
      .collect()(0)
    val oldV1 = s.conf.get(V1_LIST)
    val oldPd = s.conf.get(AGG_PD, "false")
    try {
      s.conf.set(V1_LIST,
        oldV1.split(",").map(_.trim).filter(v => v.nonEmpty && v != "parquet")
          .mkString(","))
      s.conf.set(AGG_PD, "true")
      // inferred and footer-declared (Tables, as liDims reads) schemas alike
      for (table <- Seq(s.read.parquet(s"$sf/lineitem.parquet"),
                        Tables.read(s, s"$sf/lineitem.parquet"))) {
        val df = table
          .selectExpr("CAST(max(l_partkey) AS BIGINT)", "CAST(max(l_suppkey) AS BIGINT)")
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
        assert(plan.contains("PushedAggregation: [MAX(l_partkey), MAX(l_suppkey)]"),
          s"aggregate did not push to the scan:\n$plan")
        val pushed = df.collect()(0)
        assert(pushed.getLong(0) == scanned.getLong(0))
        assert(pushed.getLong(1) == scanned.getLong(1))
      }
    } finally {
      s.conf.set(V1_LIST, oldV1); s.conf.set(AGG_PD, oldPd)
    }
  }

  test("a sparse query leaves the v1-list / pushdown confs as it found them") {
    val s = spark
    val beforeV1 = s.conf.get(V1_LIST)
    val beforePd = s.conf.get(AGG_PD, "false")
    SparkEntry.queries("m38_sparse_spgemm")(s, sf)
      .write.format("noop").mode("overwrite").save()
    assert(s.conf.get(V1_LIST) == beforeV1, "useV1SourceList not restored")
    assert(s.conf.get(AGG_PD, "false") == beforePd, "aggregatePushdown not restored")
  }
}
