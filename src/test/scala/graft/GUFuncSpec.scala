package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class GUFuncSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("signature parser handles scalar, vector, and multi-operand forms") {
    assert(GUFunc.parse("(i)->()") == GUFunc.Sig(Seq(Seq("i")), Nil))
    assert(GUFunc.parse("(i),(i)->()") == GUFunc.Sig(Seq(Seq("i"), Seq("i")), Nil))
    assert(GUFunc.parse("(i),(j)->(i)") == GUFunc.Sig(Seq(Seq("i"), Seq("j")), Seq("i")))
    assert(GUFunc.parse("()->()") == GUFunc.Sig(Seq(Nil), Nil))
  }

  test("(i),(i)->() rowwise dot matches the algebraic result") {
    val a = DMatrix.tabulate(spark, 15, 6, "i + j")
    val b = DMatrix.tabulate(spark, 15, 6, "2 * j + 1")
    val got = GUFunc.applyScalar("(i),(i)->()", a, b) { case Seq(x, y) =>
      x.zip(y).map { case (p, q) => p * q }.sum
    }.orderBy("idx").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = (a * b).reduceRows("sum(v)").orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("(i)->(i) rowwise centering returns a matrix with zero row-sums") {
    val a = DMatrix.tabulate(spark, 10, 8, "(i * 3 + j * 5) % 7")
    val centered = GUFunc.applyVector("(i)->(i)", a) { case Seq(x) =>
      val m = x.sum / x.length
      x.map(_ - m)
    }
    val sums = centered.reduceRows("sum(v)").collect().map(_.getDouble(1))
    sums.foreach(s0 => assert(math.abs(s0) < 1e-10))
    assert(centered.rows == 10 && centered.cols == 8)
  }

  test("all-zero rows still reach the kernel (absent-cells-are-zero)") {
    // rows 0..9 where odd rows are entirely zero → absent from the sparse
    // element table; a kernel mapping zero to nonzero must still emit them
    val sp = spark
    import sp.implicits._
    val cells = (0 until 10 by 2).flatMap(i =>
      (0 until 4).map(j => (i.toLong, j.toLong, (i + j + 1).toDouble)))
    val a = new DMatrix(cells.toDF("i", "j", "v"), 10, 4, dense = false)
    val got = GUFunc.applyScalar("(i)->()", a) { case Seq(x) => x.sum + 100.0 }
      .orderBy("idx").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == 10, s"expected all 10 loop positions, got ${got.length}")
    assert(got(1) == ((1L, 100.0)) && got(3) == ((3L, 100.0)), "zero row lost")
    assert(got(0)._2 == (1 + 2 + 3 + 4) + 100.0)
  }

  test("core-dimension mismatch is rejected") {
    val a = DMatrix.tabulate(spark, 5, 4, "i + j")
    val b = DMatrix.tabulate(spark, 5, 3, "i + j")
    intercept[IllegalArgumentException] {
      GUFunc.applyScalar("(i),(i)->()", a, b) { case Seq(x, y) => x.sum + y.sum }
    }
  }
}
