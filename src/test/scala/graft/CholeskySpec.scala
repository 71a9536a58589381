package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.linalg.Cholesky

class CholeskySpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** SPD test matrix: A = (M·Mᵀ)/100 + n·I, built distributedly. */
  private def spd(n: Int): DMatrix = {
    val m = DMatrix.tabulate(spark, n, n, "((i*7 + j*13) % 19) - 9")
    val g = m.matmul(m.t).map(s"v / 100")
    val withDiag = g.elements.unionByName(
      DMatrix.eye(spark, n).map(s"v * $n").elements)
      .groupBy("i", "j").agg(sum("v").as("v"))
    new DMatrix(withDiag, n, n, dense = true)
  }

  test("in-core chol: L·Lᵀ = A on a small SPD matrix") {
    val t = 8
    val a = new Array[Double](t * t)
    for (i <- 0 until t; j <- 0 until t) {
      var s = 0.0
      for (k <- 0 until t) s += ((i * 3 + k) % 7) * ((j * 3 + k) % 7)
      a(i * t + j) = s / 10.0 + (if (i == j) t else 0.0)
    }
    val l = Cholesky.localChol(a, t)
    for (i <- 0 until t; j <- 0 until t) {
      var s = 0.0
      for (k <- 0 until t) s += l(i * t + k) * l(j * t + k)
      assert(math.abs(s - a(i * t + j)) < 1e-9, s"LLt($i,$j)")
    }
  }

  test("distributed blocked cholesky: L·Lᵀ = A across multiple tiles") {
    val n = 96
    val a = spd(n)
    val l = Cholesky.cholesky(spark, a, tile = 32) // 3x3 tile grid
    // L is lower triangular
    assert(l.elements.where("j > i").count() == 0)
    // L·Lᵀ = A elementwise (compare only lower triangle; A is symmetric)
    val llt = l.matmul(l.t)
    val diff = llt.elements.where("i >= j").withColumnRenamed("v", "x")
      .join(a.elements.where("i >= j").withColumnRenamed("v", "y"), Seq("i", "j"), "full")
      .selectExpr("abs(coalesce(x, 0) - coalesce(y, 0)) AS d")
      .agg(max("d")).collect()(0).getDouble(0)
    assert(diff < 1e-8, s"max |LLt - A| = $diff")
  }

  test("blocked LU: L·U = A on a diagonally dominant matrix, multi-tile") {
    val n = 80
    // diagonally dominant: offdiag in [-4,4], diag = n
    val base = DMatrix.tabulate(spark, n, n, "((i*5 + j*11) % 9) - 4")
    val a = new DMatrix(
      base.elements.unionByName(DMatrix.eye(spark, n).map(s"v * $n").elements)
        .groupBy("i", "j").agg(sum("v").as("v")), n, n, dense = true)
    val (l, u) = Cholesky.lu(spark, a, tile = 32)
    assert(l.elements.where("j > i").count() == 0, "L not lower")
    assert(u.elements.where("i > j").count() == 0, "U not upper")
    // unit diagonal on L
    l.elements.where("i = j").collect().foreach(r =>
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-12))
    val luProd = l.matmul(u)
    val diff = luProd.elements.withColumnRenamed("v", "x")
      .join(a.elements.withColumnRenamed("v", "y"), Seq("i", "j"), "full")
      .selectExpr("abs(coalesce(x, 0) - coalesce(y, 0)) AS d")
      .agg(max("d")).collect()(0).getDouble(0)
    assert(diff < 1e-8, s"max |LU - A| = $diff")
  }

  test("solveSPD: A·x = b round-trips") {
    val n = 48
    val a = spd(n)
    val b = Array.tabulate(n)(i => ((i * 5) % 11).toDouble - 3)
    val x = Cholesky.solveSPD(spark, a, b, tile = 16)
    // check A·x = b by distributed mat-vec
    val sp = spark
    import sp.implicits._
    val xdf = x.zipWithIndex.toSeq.map { case (v, j) => (j.toLong, v) }.toDF("j", "xv")
    val ax = a.elements.join(broadcast(xdf), "j")
      .groupBy("i").agg(sum(expr("v * xv")).as("axv"))
      .collect().map(r => (r.getLong(0).toInt, r.getDouble(1)))
    ax.foreach { case (i, v) =>
      assert(math.abs(v - b(i)) < 1e-7, s"Ax($i)=$v vs b=${b(i)}")
    }
  }

  test("arrowhead matrix: zero interior blocks receive trailing fill-in") {
    // A = D + border: diagonal + first block-row/column only — every
    // interior off-diagonal TILE of A is exactly zero, yet L has fill-in
    // there (L[i,j] for i,j>0 gets -L[i,0]·L[j,0]ᵀ/..); a tile grid built
    // only from nonzero input cells silently drops those updates
    val n = 96; val t = 32
    val sp = spark
    import sp.implicits._
    val cells = (
      (0 until n).map(i => (i.toLong, i.toLong, (n * 4).toDouble)) ++ // heavy diag
      (t until n).map(i => (i.toLong, (i % t).toLong, ((i * 7) % 13 + 1).toDouble)) ++
      (t until n).map(i => ((i % t).toLong, i.toLong, ((i * 7) % 13 + 1).toDouble))
    ).toDF("i", "j", "v").groupBy("i", "j").agg(sum("v").as("v"))
    val a = new DMatrix(cells, n, n, dense = false)
    val l = Cholesky.cholesky(spark, a, tile = t)
    // fill-in must exist in interior blocks (bi,bj >= 1, bi != bj)
    assert(l.elements.where(s"i >= ${2 * t} AND j >= $t AND j < ${2 * t}").count() > 0,
      "no fill-in emitted for an all-zero input tile")
    val llt = l.matmul(l.t)
    val diff = llt.elements.where("i >= j").withColumnRenamed("v", "x")
      .join(a.elements.where("i >= j").withColumnRenamed("v", "y"), Seq("i", "j"), "full")
      .selectExpr("abs(coalesce(x, 0) - coalesce(y, 0)) AS d")
      .agg(max("d")).collect()(0).getDouble(0)
    assert(diff < 1e-8, s"max |LLt - A| = $diff")
  }

  test("LU arrowhead: zero interior blocks receive trailing fill-in") {
    val n = 64; val t = 16
    val sp = spark
    import sp.implicits._
    val cells = (
      (0 until n).map(i => (i.toLong, i.toLong, (n * 4).toDouble)) ++
      (t until n).map(i => (i.toLong, (i % t).toLong, ((i * 3) % 7 + 1).toDouble)) ++
      (t until n).map(i => ((i % t).toLong, i.toLong, ((i * 5) % 7 + 1).toDouble))
    ).toDF("i", "j", "v").groupBy("i", "j").agg(sum("v").as("v"))
    val a = new DMatrix(cells, n, n, dense = false)
    val (l, u) = Cholesky.lu(spark, a, tile = t)
    val luProd = l.matmul(u)
    val diff = luProd.elements.withColumnRenamed("v", "x")
      .join(a.elements.withColumnRenamed("v", "y"), Seq("i", "j"), "full")
      .selectExpr("abs(coalesce(x, 0) - coalesce(y, 0)) AS d")
      .agg(max("d")).collect()(0).getDouble(0)
    assert(diff < 1e-8, s"max |LU - A| = $diff")
  }

  test("inv: A·A⁻¹ = I on a diagonally dominant matrix, multi-tile") {
    val n = 48
    val base = DMatrix.tabulate(spark, n, n, "((i*5 + j*11) % 9) - 4")
    val a = new DMatrix(
      base.elements.unionByName(DMatrix.eye(spark, n).map(s"v * $n").elements)
        .groupBy("i", "j").agg(sum("v").as("v")), n, n, dense = true)
    val ainv = Cholesky.inv(spark, a, tile = 16)
    val prod = a.matmul(ainv)
    val offDiag = prod.elements.where("i <> j")
      .agg(max(abs(col("v")))).collect()(0).getDouble(0)
    assert(offDiag < 1e-9, s"max offdiag $offDiag")
    prod.elements.where("i = j").collect().foreach(r =>
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9, s"diag ${r.getLong(0)}"))
  }

  test("solveLU: general A·x = b round-trips (non-SPD)") {
    val n = 40
    val base = DMatrix.tabulate(spark, n, n, "((i*7 + j*3) % 11) - 5")
    val a = new DMatrix(
      base.elements.unionByName(DMatrix.eye(spark, n).map(s"v * $n").elements)
        .groupBy("i", "j").agg(sum("v").as("v")), n, n, dense = true)
    val b = Array.tabulate(n)(i => ((i * 3) % 13).toDouble - 6)
    val x = Cholesky.solveLU(spark, a, b, tile = 16)
    val sp = spark
    import sp.implicits._
    val xdf = x.zipWithIndex.toSeq.map { case (v, j) => (j.toLong, v) }.toDF("j", "xv")
    val ax = a.elements.join(broadcast(xdf), "j")
      .groupBy("i").agg(sum(expr("v * xv")).as("axv"))
      .collect().map(r => (r.getLong(0).toInt, r.getDouble(1)))
    ax.foreach { case (i, v) => assert(math.abs(v - b(i)) < 1e-7, s"Ax($i)=$v") }
  }

  test("solve tiers agree: distributed panel path == local LAPACK path") {
    val n = 48
    val a = spd(n)
    val b = Array.tabulate(n)(i => ((i * 5) % 11).toDouble - 3)
    // n=48 ≤ 1024 → local tier; the blocked entry → distributed tier
    val xLocal = Cholesky.solveSPD(spark, a, b, tile = 16)
    val xDist = Cholesky.solveSPDBlocked(spark, a, b, tile = 16)
    xLocal.zip(xDist).zipWithIndex.foreach { case ((lv, dv), i) =>
      assert(math.abs(lv - dv) < 1e-8, s"x($i): local $lv vs distributed $dv")
    }
    val base = DMatrix.tabulate(spark, n, n, "((i*7 + j*3) % 11) - 5")
    val g = new DMatrix(
      base.elements.unionByName(DMatrix.eye(spark, n).map(s"v * $n").elements)
        .groupBy("i", "j").agg(sum("v").as("v")), n, n, dense = true)
    val yLocal = Cholesky.solveLU(spark, g, b, tile = 16)
    val yDist = Cholesky.solveLUBlocked(spark, g, b, tile = 16)
    yLocal.zip(yDist).zipWithIndex.foreach { case ((lv, dv), i) =>
      assert(math.abs(lv - dv) < 1e-8, s"x($i): local $lv vs distributed $dv")
    }
  }

  test("non-tile-aligned size works (padded edge tiles)") {
    val n = 45
    val a = spd(n)
    val l = Cholesky.cholesky(spark, a, tile = 16)
    val llt = l.matmul(l.t)
    val diff = llt.elements.where("i >= j").withColumnRenamed("v", "x")
      .join(a.elements.where("i >= j").withColumnRenamed("v", "y"), Seq("i", "j"), "full")
      .selectExpr("abs(coalesce(x, 0) - coalesce(y, 0)) AS d")
      .agg(max("d")).collect()(0).getDouble(0)
    assert(diff < 1e-8, s"max |LLt - A| = $diff")
  }
}
