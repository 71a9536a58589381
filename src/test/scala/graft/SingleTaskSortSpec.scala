package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** [[SingleTaskSort]]: a global sort over an input small enough to
  * broadcast plans as one-partition gather + sort, with no range bounds
  * and so no sampling job; the threshold at -1 gives the range path back. */
class SingleTaskSortSpec extends AnyFunSuite {
  import TestSpark.spark

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** 2000 rows over 4 partitions, 7 distinct keys: every key ties ~286 times. */
  private def tied(s: SparkSession): DataFrame =
    s.range(0, 2000, 1, 4).selectExpr("id % 7 AS k", "id AS v")

  private def withThreshold[T](s: SparkSession, value: String)(body: => T): T = {
    val prev = s.conf.getOption(Threshold)
    s.conf.set(Threshold, value)
    try body finally prev.fold(s.conf.unset(Threshold))(s.conf.set(Threshold, _))
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Jobs the `body` submits, counted in its own job group. */
  private def jobsOf(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"sort-${System.nanoTime()}"
    sc.setJobGroup(group, "sort")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("a small orderBy gathers into one partition: no range bounds") {
    val s = spark
    val p = plan(tied(s).orderBy("k"))
    assert(p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("inputs already in one partition or in order keep Spark's exchange-free plan") {
    val s = spark
    val ordered = plan(s.range(0, 1000, 1, 4).selectExpr("id AS idx", "id * 2 AS v").orderBy("idx"))
    assert(!ordered.contains("Exchange"), ordered)
    val total = plan(tied(s).selectExpr("sum(v) AS t").orderBy("t"))
    assert("\\bExchange ".r.findAllIn(total).length == 1, total) // the aggregate's own
  }

  test("threshold -1 keeps the range path") {
    val s = spark
    val p = withThreshold(s, "-1")(plan(tied(s).orderBy("k")))
    assert(p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("the small sort's action launches one job fewer: no sampling job") {
    val s = spark
    val single = jobsOf(s)(tied(s).orderBy("k").collect())
    val range = withThreshold(s, "-1")(jobsOf(s)(tied(s).orderBy("k").collect()))
    assert(single == range - 1, s"single-partition path $single jobs, range path $range")
  }

  test("orderBy(...).limit(k) stays TakeOrderedAndProject") {
    val s = spark
    val p = plan(tied(s).orderBy("k").limit(5))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), p)
  }

  test("both paths return the same rows, keys non-decreasing") {
    val s = spark
    val single = tied(s).orderBy("k")
    val range = withThreshold(s, "-1")(tied(s).orderBy("k").collect())
    val rows = single.collect()
    val keys = rows.map(_.getLong(0))
    assert(keys.sameElements(keys.sorted), "single-partition sort out of order")
    assert(range.map(_.getLong(0)).sameElements(keys), "range sort keys differ")
    assert(CanonicalHash.ofRows(rows, single.schema) ==
      CanonicalHash.ofRows(range, single.schema))
  }
}
