package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.linalg.SVD

class SVDSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def maxAbsDiff(a: DMatrix, b: DMatrix): Double =
    a.elements.withColumnRenamed("v", "x")
      .join(b.elements.withColumnRenamed("v", "y"), Seq("i", "j"), "full")
      .selectExpr("abs(coalesce(x, 0) - coalesce(y, 0)) AS d")
      .agg(max("d")).collect()(0).getDouble(0)

  test("symEig reconstructs a symmetric matrix") {
    val n = 6
    val a = new Array[Double](n * n)
    for (i <- 0 until n; j <- 0 until n)
      a(i * n + j) = ((i * 3 + j * 3 + i * j) % 7).toDouble + (if (i == j) 10 else 0)
    // symmetrize
    for (i <- 0 until n; j <- 0 until i) { val m = (a(i*n+j) + a(j*n+i)) / 2; a(i*n+j) = m; a(j*n+i) = m }
    val (ev, v) = SVD.symEig(a, n)
    // A = V diag(ev) Vᵀ
    for (i <- 0 until n; j <- 0 until n) {
      var s = 0.0
      for (k <- 0 until n) s += v(i * n + k) * ev(k) * v(j * n + k)
      assert(math.abs(s - a(i * n + j)) < 1e-9, s"($i,$j)")
    }
    assert(ev.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)), "not descending")
  }

  test("full svd: A = U·S·Vᵀ, U orthonormal, S matches singularValues") {
    val n = 300; val k = 5
    val a = DMatrix.tabulate(spark, n, k, "CAST((i*7 + j*13) % 19 AS DOUBLE) + CAST(i % 5 AS DOUBLE) * j")
    val (u, sv, v, release) = SVD.svd(spark, a, blockRows = 64)
    // UᵀU = I
    u.gram.elements.collect().foreach { r =>
      val want = if (r.getLong(0) == r.getLong(1)) 1.0 else 0.0
      assert(math.abs(r.getDouble(2) - want) < 1e-8)
    }
    // S agrees with the existing singular-value path
    val sv2 = graft.linalg.TSQR.singularValues(spark, a)
    sv.zip(sv2).foreach { case (x, y) => assert(math.abs(x - y) < 1e-7, s"$x vs $y") }
    // A = U S Vᵀ: build S·Vᵀ in-core and multiply distributed
    val svt = new Array[Double](k * k)
    for (i <- 0 until k; j <- 0 until k) svt(i * k + j) = sv(i) * v(j * k + i)
    val sp = spark
    import sp.implicits._
    val svtDM = new DMatrix(
      (for (i <- 0 until k; j <- 0 until k if svt(i * k + j) != 0.0)
        yield (i.toLong, j.toLong, svt(i * k + j))).toDF("i", "j", "v"), k, k, dense = false)
    val recon = u.matmul(svtDM)
    assert(maxAbsDiff(recon, a) < 1e-8)
    release()
  }

  test("svd_compressed power iterations improve a full-spectrum tail") {
    // full-rank 200×30 matrix: truncated rank-6 approximations — the
    // power-iterated probe must capture at least as much spectral energy
    val n = 200; val m = 30
    val a = DMatrix.tabulate(spark, n, m, "((i*7 + j*13) % 19) + ((i + 2*j) % 5)")
    def energy(powerIter: Int): Double = {
      val (_, sv, _, release) = SVD.svdCompressed(spark, a, k = 6, oversample = 2,
        powerIter = powerIter, blockRows = 64)
      release()
      sv.map(x => x * x).sum
    }
    val e0 = energy(0)
    val e2 = energy(2)
    assert(e2 >= e0 - 1e-6, s"power iterations lost energy: $e2 < $e0")
    val frob2 = a.elements.selectExpr("sum(v*v) AS s").collect()(0).getDouble(0)
    assert(e2 <= frob2 + 1e-6)
  }

  test("svd_compressed recovers an exactly low-rank matrix") {
    val n = 240; val m = 80; val rank = 4
    // A = X·Yᵀ, rank 4 by construction
    val x = DMatrix.tabulate(spark, n, rank, "((i*7 + j*3) % 11) - 5")
    val y = DMatrix.tabulate(spark, m, rank, "((i*5 + j*9) % 13) - 6")
    val a = x.matmul(y.t)
    val (u, sv, v, release) = SVD.svdCompressed(spark, a, k = rank, oversample = 4, blockRows = 64)
    assert(sv.length == rank && sv.forall(_ >= 0))
    // A ≈ U S Vᵀ to near machine precision (exact rank ≤ probe width)
    val sp = spark
    import sp.implicits._
    val sDM = new DMatrix(
      (0 until rank).map(i => (i.toLong, i.toLong, sv(i))).toDF("i", "j", "v"), rank, rank,
      dense = false)
    val recon = u.matmul(sDM).matmul(v.t)
    val scale = sv.head
    assert(maxAbsDiff(recon, a) / scale < 1e-9)
    // frobenius preserved: Σ sv² = ‖A‖²
    val frob2 = a.elements.selectExpr("sum(v*v) AS s").collect()(0).getDouble(0)
    assert(math.abs(sv.map(s0 => s0 * s0).sum - frob2) / frob2 < 1e-9)
    release()
  }
}
