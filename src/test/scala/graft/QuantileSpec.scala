package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{DistinctRank, ExactQuantile}

class QuantileSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = spark.stop()

  private def q(vals: Seq[Double], ps: Seq[Double]): Seq[Double] = {
    val sp = spark
    import sp.implicits._
    ExactQuantile.quantiles(vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("idx", "v"), "v", ps)
  }

  /** numpy-style linear interpolation oracle. */
  private def ref(vals: Seq[Double], p: Double): Double = {
    val s = vals.sorted
    val h = p * (s.length - 1)
    val lo = s(math.floor(h).toInt); val hi = s(math.ceil(h).toInt)
    lo + (h - math.floor(h)) * (hi - lo)
  }

  test("matches linear interpolation on an unsorted multi-partition input") {
    val vals = (0 until 999).map(i => ((i * 7919) % 999).toDouble)
    for (p <- Seq(0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0)) {
      val got = q(vals, Seq(p)).head
      assert(math.abs(got - ref(vals, p)) < 1e-12, s"p=$p")
    }
  }

  test("single element, all-equal values, two elements") {
    assert(q(Seq(42.0), Seq(0.0, 0.5, 1.0)) == Seq(42.0, 42.0, 42.0))
    assert(q(Seq.fill(100)(7.5), Seq(0.25, 0.75)) == Seq(7.5, 7.5))
    assert(q(Seq(1.0, 3.0), Seq(0.5)) == Seq(2.0))
  }

  test("nulls are skipped like the aggregate would") {
    val sp = spark
    import sp.implicits._
    val df = Seq[(Long, Option[Double])]((0L, Some(1.0)), (1L, None),
      (2L, Some(3.0)), (3L, None)).toDF("idx", "v")
    assert(ExactQuantile.quantiles(df, "v", Seq(0.5)) == Seq(2.0))
  }

  test("empty input fails loudly") {
    val sp = spark
    import sp.implicits._
    val df = Seq.empty[(Long, Double)].toDF("idx", "v")
    intercept[IllegalArgumentException] {
      ExactQuantile.quantiles(df, "v", Seq(0.5))
    }
  }

  test("distinctRanks numbers the sorted distinct values, skipping NULLs and duplicates") {
    val sp = spark
    import sp.implicits._
    // 2000 rows over 301 distinct values (every value repeated), plus NULLs,
    // spread over the 4 range partitions
    val vals: Seq[Option[Double]] = (0 until 2000).map { i =>
      if (i % 97 == 0) None else Some(((i * 7919) % 301 - 150).toDouble / 4)
    }
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("idx", "v")
    val (ranks, release) = DistinctRank.distinctRanks(df, "v")
    try {
      val got = ranks.collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._2).toSeq
      val want = vals.flatten.distinct.sorted.zipWithIndex.map { case (v, i) => (v, i.toLong) }
      assert(got == want)
    } finally release()
  }
}
