package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.linalg.TSQR

class TSQRSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def tall(n: Int, k: Int): DMatrix =
    DMatrix.tabulate(spark, n, k, s"CAST((i*7 + j*13) % 19 AS DOUBLE) + CAST(i % 5 AS DOUBLE) * j")

  test("localQR: A = QR, Q orthonormal, R upper-triangular") {
    val m = 50; val k = 6
    val a = Array.tabulate(m * k)(x => ((x * 37 + 11) % 23).toDouble)
    val (q, r) = TSQR.localQR(a, m, k)
    // R upper triangular
    for (i <- 0 until k; j <- 0 until i)
      assert(math.abs(r(i * k + j)) < 1e-10, s"R($i,$j) not zero")
    // QᵀQ = I
    for (c1 <- 0 until k; c2 <- 0 until k) {
      var dot = 0.0
      for (i <- 0 until m) dot += q(i * k + c1) * q(i * k + c2)
      val want = if (c1 == c2) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-10, s"QtQ($c1,$c2)=$dot")
    }
    // A = QR
    val qr = TSQR.mul(q, r, m, k, k)
    for (x <- 0 until m * k)
      assert(math.abs(qr(x) - a(x)) < 1e-9, s"QR mismatch at $x: ${qr(x)} vs ${a(x)}")
  }

  test("distributed tsqr: A = QR, Q orthonormal, multi-block") {
    val n = 500; val k = 5
    val a = tall(n, k)
    val (q, r) = TSQR.tsqr(spark, a, blockRows = 64) // forces 8 blocks
    // diag(R) >= 0 (deterministic normalization)
    for (j <- 0 until k) assert(r(j * k + j) >= 0, s"R diag $j negative")
    // QᵀQ = I via the distributed gram
    val qtq = q.gram.elements.collect()
    qtq.foreach { row =>
      val (i, j, v) = (row.getLong(0), row.getLong(1), row.getDouble(2))
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(v - want) < 1e-8, s"QtQ($i,$j)=$v")
    }
    // A = Q·R elementwise
    val rdf = spark.createDataFrame(
      for (i <- 0 until k; j <- 0 until k)
        yield (i.toLong, j.toLong, r(i * k + j))).toDF("i", "j", "v")
    val qr = q.matmul(new DMatrix(rdf, k, k, dense = true))
    val diff = qr.zip(a, "abs(v1 - v2)").agg("max(v)" -> "mx").collect()(0).getDouble(0)
    assert(diff < 1e-8, s"max |QR - A| = $diff")
  }

  test("tree combine: >100 blocks, multi-level fan-in, A = QR holds") {
    // 130 blocks of 4 rows with splitEvery=4 → 4 tree levels; also
    // exercises short blocks (blockRows=4 < k=5 → zero-padding path)
    val n = 520; val k = 5
    val a = tall(n, k)
    val (q, r) = TSQR.tsqr(spark, a, blockRows = 4, splitEvery = 4)
    for (j <- 0 until k) assert(r(j * k + j) >= 0, s"R diag $j negative")
    val qtq = q.gram.elements.collect()
    qtq.foreach { row =>
      val (i, j, v) = (row.getLong(0), row.getLong(1), row.getDouble(2))
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(v - want) < 1e-8, s"QtQ($i,$j)=$v")
    }
    val rdf = spark.createDataFrame(
      for (i <- 0 until k; j <- 0 until k)
        yield (i.toLong, j.toLong, r(i * k + j))).toDF("i", "j", "v")
    val qr = q.matmul(new DMatrix(rdf, k, k, dense = true))
    val diff = qr.zip(a, "abs(v1 - v2)").agg("max(v)" -> "mx").collect()(0).getDouble(0)
    assert(diff < 1e-8, s"max |QR - A| = $diff")
    // tree result agrees with the single-level path
    val (_, r1) = TSQR.tsqr(spark, a, blockRows = 128)
    for (x <- 0 until k * k)
      assert(math.abs(r(x) - r1(x)) < 1e-8, s"tree vs flat R mismatch at $x")
  }

  test("rFactor gives tsqr's R bit for bit: multi-level tree, ragged tail, row gaps") {
    // 530 rows in blocks of 4: 133 blocks, more than splitEvery² = 9, so
    // both sweeps combine over 4 tree levels; the last block holds 2 rows,
    // and every block misses its rows with i % 7 = 3, so blocks fall short
    // of k = 5 rows and take the zero-padding path
    val n = 530; val k = 5
    val gapped = new DMatrix(tall(n, k).elements.where("i % 7 <> 3"), n, k, dense = false)
    val (q, r) = TSQR.tsqr(spark, gapped, blockRows = 4, splitEvery = 3)
    q.df.unpersist()
    val rOnly = TSQR.rFactor(spark, gapped, blockRows = 4, splitEvery = 3)
    def bits(m: Array[Double]) = m.map(java.lang.Double.doubleToLongBits).toSeq
    assert(bits(rOnly) == bits(r), s"rFactor ${rOnly.toSeq} vs tsqr ${r.toSeq}")
  }

  test("rFactor gives tsqr's R bit for bit when whole row blocks are absent") {
    // blocks 3, 10 and 11 (rows 12-15 and 40-47) hold no row at all: both
    // sweeps must still stack the same children at every tree node
    val n = 530; val k = 5
    val holed = new DMatrix(tall(n, k).elements.where("NOT (i DIV 4 IN (3, 10, 11))"),
      n, k, dense = false)
    val (q, r) = TSQR.tsqr(spark, holed, blockRows = 4, splitEvery = 3)
    q.df.unpersist()
    val rOnly = TSQR.rFactor(spark, holed, blockRows = 4, splitEvery = 3)
    def bits(m: Array[Double]) = m.map(java.lang.Double.doubleToLongBits).toSeq
    assert(bits(rOnly) == bits(r), s"rFactor ${rOnly.toSeq} vs tsqr ${r.toSeq}")
  }

  test("ragged short tail block (rows % blockRows < k) does not crash") {
    val n = 103; val k = 4 // 64 + 32 + 7-row tail < k? no: tail 7 > 4; use blockRows 25 → tail 3
    val a = tall(n, k)
    val (q, r) = TSQR.tsqr(spark, a, blockRows = 25) // 4 full + 3-row tail
    val rdf = spark.createDataFrame(
      for (i <- 0 until k; j <- 0 until k)
        yield (i.toLong, j.toLong, r(i * k + j))).toDF("i", "j", "v")
    val qr = q.matmul(new DMatrix(rdf, k, k, dense = true))
    val diff = qr.zip(a, "abs(v1 - v2)").agg("max(v)" -> "mx").collect()(0).getDouble(0)
    assert(diff < 1e-8, s"max |QR - A| = $diff")
  }

  test("singular values match a known diagonal case") {
    // diag-ish: A with orthogonal columns scaled 3 and 4 → sv = {4, 3}
    val sp = spark
    import sp.implicits._
    val df = Seq((0L, 0L, 3.0), (1L, 1L, 4.0)).toDF("i", "j", "v")
    val sv = TSQR.singularValues(spark, new DMatrix(df, 2, 2, dense = false))
    assert(math.abs(sv(0) - 4.0) < 1e-10 && math.abs(sv(1) - 3.0) < 1e-10,
      s"got ${sv.toSeq}")
  }

  test("lstsq recovers planted coefficients on a consistent system") {
    // b = A·x0 exactly → lstsq must return x0
    val n = 200; val k = 4
    val a = tall(n, k)
    val x0 = Array(2.0, -1.5, 0.5, 3.0)
    val cells = a.elements.collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
    val b = new Array[Double](n)
    cells.foreach { case (i, j, v) => b(i) += v * x0(j) }
    val x = graft.linalg.TSQR.lstsq(spark, a, b)
    x0.indices.foreach { j =>
      assert(math.abs(x(j) - x0(j)) < 1e-8, s"x($j)=${x(j)} vs ${x0(j)}")
    }
  }

  test("lstsqFull: zero residual on consistent, positive on perturbed; full rank") {
    val n = 200; val k = 4
    val a = tall(n, k)
    val x0 = Array(1.5, -2.0, 0.25, 3.0)
    val cells = a.elements.collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
    val b = new Array[Double](n)
    cells.foreach { case (i, j, v) => b(i) += v * x0(j) }
    val (x, res, rank, sv) = TSQR.lstsqFull(spark, a, b)
    assert(rank == k && sv.length == k)
    assert(res < 1e-12, s"consistent system residual $res")
    x0.indices.foreach(j => assert(math.abs(x(j) - x0(j)) < 1e-8))
    // perturb one b entry: residual must be ≈ the projection of the bump
    val b2 = b.clone(); b2(7) += 10.0
    val (_, res2, _, _) = TSQR.lstsqFull(spark, a, b2)
    assert(res2 > 1.0 && res2 <= 100.0 + 1e-6, s"perturbed residual $res2")
  }

  test("rank deficiency shows in the singular values") {
    // duplicate column: rank 2 in a 3-column matrix
    val sp = spark
    import sp.implicits._
    val rows = (0 until 100).flatMap { i =>
      val x = ((i * 7) % 13).toDouble + 1
      val y = ((i * 5) % 11).toDouble + 1
      Seq((i.toLong, 0L, x), (i.toLong, 1L, y), (i.toLong, 2L, x)) // col2 = col0
    }
    val a = new DMatrix(rows.toDF("i", "j", "v"), 100, 3, dense = true)
    val sv = TSQR.singularValues(spark, a)
    assert(sv(2) < sv(0) * 1e-10, s"expected vanishing third sv, got ${sv.toSeq}")
  }

  test("frobenius norm equals sqrt(sum sv^2)") {
    val a = tall(300, 4)
    val sv = TSQR.singularValues(spark, a)
    val frobSv = math.sqrt(sv.map(x => x * x).sum)
    val frobDirect = math.sqrt(
      a.elements.selectExpr("sum(v * v) AS s").collect()(0).getDouble(0))
    assert(math.abs(frobSv - frobDirect) < 1e-7, s"$frobSv vs $frobDirect")
  }
}
