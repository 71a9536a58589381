package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Exact int64 compute (the q97 surface): values above 2^53 whose low
  * bits a DOUBLE element table would quantize away must survive every
  * op bit-for-bit. */
class LongArraySpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private val big = 9007199254740993L // 2^53 + 1: not representable as double

  test("map/zip/slice stay exact above 2^53 (double path provably corrupts)") {
    val n = 1000L
    val x = LongArray.arange(spark, big, 7, n) // big, big+7, ... all odd
    // the double path loses the odd low bit at this magnitude
    assert(big.toDouble.toLong != big)
    val vals = x.elements.orderBy("idx").collect().map(_.getLong(1))
    assert(vals.zipWithIndex.forall { case (v, i) => v == big + 7L * i })
    val y = LongArray.arange(spark, 1, 2, n)
    val z = x.zip(y, "v1 + v2").map("v - 1") // stays exact through arithmetic
    val zi = z.slice(100, 200).elements.orderBy("idx").collect()
    zi.zipWithIndex.foreach { case (r, i) =>
      val k = i + 100
      assert(r.getLong(0) == i && r.getLong(1) == big + 7L * k + 2L * k)
    }
  }

  test("cumsum is an exact two-phase prefix, no global window in the plan") {
    val n = 500L
    val x = LongArray.arange(spark, big, 7, n)
    val cs = x.cumsum()
    val got = cs.elements.orderBy("idx").collect().map(r => (r.getLong(0), r.getLong(1)))
    var acc = 0L
    val want = (0L until n).map { i => acc += big + 7L * i; (i, acc) }
    assert(got.toSeq == want)
    assert(!cs.elements.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("stats aggregates exactly; toDouble is the explicit lossy exit") {
    val x = LongArray.arange(spark, big, 1, 100)
    val s = x.stats().collect()(0)
    assert(s.getLong(1) == big && s.getLong(2) == big + 99 && s.getLong(3) == 100L)
    assert(s.getLong(0) == (0 until 100).map(i => big + i).sum)
    val d = x.toDouble.orderBy("idx").collect().map(_.getDouble(1))
    assert(d(0) == big.toDouble) // quantized — but that is what astype asked for
  }

  test("zarr <i8 round trip through the LongArray surface") {
    val dir = Files.createTempDirectory("larr").toString
    val x = LongArray.arange(spark, big, 3, 300)
    LongArray.toZarr(x, dir, 300, chunk = 128, compressor = Some("zstd"))
    val back = LongArray.fromZarr(spark, dir)
    val got = back.elements.orderBy("idx").collect().map(_.getLong(1))
    assert(got.zipWithIndex.forall { case (v, i) => v == big + 3L * i })
  }

  test("cumsum equals a driver scanLeft across partition boundaries") {
    val n = 3000L
    val x = LongArray.arange(spark, big, 7919, n)
      .map("CASE WHEN idx % 3 = 0 THEN -v ELSE v END")
    val cs = x.cumsum()
    assert(cs.elements.rdd.getNumPartitions > 1)
    val in = x.elements.orderBy("idx").collect().map(_.getLong(1))
    val want = in.scanLeft(0L)(_ + _).tail.toSeq
    val got = cs.elements.orderBy("idx").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq == (0L until n))
    assert(got.map(_._2).toSeq == want)
  }

  test("an int64 overflow raises in cumsum, map and stats alike") {
    def overflows(f: => Any): Boolean =
      try { f; false } catch {
        case e: Throwable =>
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[ArithmeticException])
      }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // one partition: the overflow is inside the running sum; four: the
    // three rows may land in separate partitions, so it is in the offsets
    try for (parts <- Seq("1", "4")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val x = LongArray.arange(spark, Long.MaxValue - 1, 0, 3)
      assert(overflows(x.cumsum().elements.collect()), s"cumsum at $parts partitions")
      assert(overflows(x.map("v + 5").elements.collect()))
      assert(overflows(x.stats().collect()))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
