package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-structural tests for the 2-d layer: the claims in DMatrix's
  * Scaladoc about what Catalyst does for us, pinned as assertions. */
class MatrixSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("matmul broadcasts the small side (no shuffle of the big operand)") {
    val a = DMatrix.tabulate(spark, 1000, 50, "(i + j) % 7")
    val b = DMatrix.tabulate(spark, 50, 20, "(i * j) % 5")
    val plan = a.matmul(b).elements.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join in:\n$plan")
  }

  test("slice filters push through transpose + elemwise into the range scan") {
    val sq = DMatrix.tabulate(spark, 100, 100, "(i * 13 + j) % 19")
    val sliced = (sq + sq.t).slice(0, 5, 0, 5)
    val optimized = sliced.elements.queryExecution.optimizedPlan.toString
    // after pushdown both join inputs are range-scans already filtered:
    // no Filter sits directly on top of the Join output
    val lines = optimized.linesIterator.toList
    val joinIdx = lines.indexWhere(_.contains("Join"))
    assert(joinIdx >= 0)
    assert(!lines.take(joinIdx).exists(_.trim.startsWith("Filter")),
      s"filter not pushed below the join:\n$optimized")
    // and results agree with the unsliced computation
    val full = (sq + sq.t).elements
      .where("i < 5 AND j < 5").orderBy("i", "j").collect()
    val got = sliced.elements.orderBy("i", "j").collect()
    assert(got.toSeq == full.toSeq)
  }

  test("transpose twice is identity on values") {
    val a = DMatrix.tabulate(spark, 7, 5, "i * 10 + j")
    val got = a.t.t.elements.orderBy("i", "j").collect().map(_.getDouble(2)).toSeq
    val want = a.elements.orderBy("i", "j").collect().map(_.getDouble(2)).toSeq
    assert(got == want)
  }

  test("matmul against eye is identity") {
    val a = DMatrix.tabulate(spark, 12, 12, "(i * 3 + j * 7) % 10")
    val got = a.matmul(DMatrix.eye(spark, 12)).elements.orderBy("i", "j").collect()
    val want = a.elements.orderBy("i", "j").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("tiled matmul matches element matmul, including non-tile-aligned shapes") {
    val a = DMatrix.tabulate(spark, 45, 37, "(i * 7 + j * 3) % 11")
    val b = DMatrix.tabulate(spark, 37, 29, "(i * 5 + j * 2) % 13")
    // tiled emits only non-zero cells; align by filtering both sides
    val want = a.matmul(b).elements.where("v <> 0").orderBy("i", "j").collect().toSeq
    val got = a.matmulTiled(b, tile = 16).elements.where("v <> 0").orderBy("i", "j").collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("mapRows applies an in-core kernel per dense row (apply_along_axis)") {
    val a = DMatrix.tabulate(spark, 20, 6, "i * 6 + j")
    val got = a.mapRows(r => r.max - r.min).orderBy("idx")
      .collect().map(_.getDouble(1)).toSeq
    assert(got == Seq.fill(20)(5.0))
  }

  test("blocked cumsum plan uses a partitioned window for the data phase") {
    val plan = DArray.arange(spark, "/unused", 0, 100000, 1).cumsum
      .elements.queryExecution.executedPlan.toString
    // the heavy per-element window must be partitioned by block
    assert(plan.contains("partitionBy") || plan.contains("hashpartitioning(blk"),
      s"no partitioned window found:\n${plan.take(1500)}")
  }

  test("reshape round-trips through ravel") {
    val a = DMatrix.tabulate(spark, 6, 8, "i * 8 + j")
    val r = a.reshape(8, 6).reshape(6, 8)
    assert(r.elements.orderBy("i", "j").collect().toSeq ==
      a.elements.orderBy("i", "j").collect().toSeq)
  }

  test("batched matmul equals per-batch 2-d matmul") {
    val x = NdArray.tabulate(spark, Seq(3L, 8L, 6L), "(c0*3 + c1*7 + c2*3) % 11")
    val y = NdArray.tabulate(spark, Seq(3L, 6L, 5L), "(c0*5 + c1*2 + c2*9) % 13")
    val got = Einsum.nd("bik,bkj->bij", x, y)
    for (b <- 0 until 3) {
      val xb = DMatrix.tabulate(spark, 8, 6, s"($b*3 + i*7 + j*3) % 11")
      val yb = DMatrix.tabulate(spark, 6, 5, s"($b*5 + i*2 + j*9) % 13")
      val want = xb.matmul(yb).elements
        .orderBy("i", "j").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val g = got.where(s"b = $b").select("i", "j", "v")
        .orderBy("i", "j").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(g.toSeq == want.toSeq, s"batch $b")
    }
  }

  test("NdArray stack + reduceAxes sum the batch axis") {
    val a = NdArray.tabulate(spark, Seq(4L, 3L), "c0 + c1")
    val b = NdArray.tabulate(spark, Seq(4L, 3L), "2 * (c0 + c1)")
    val t3 = NdArray.stack(Seq(a, b))
    val summed = t3.reduceAxes(Seq(0), "sum(v)").elements.orderBy("c0", "c1")
      .collect().map(_.getDouble(2))
    val want = a.elements.orderBy("c0", "c1").collect().map(_.getDouble(2) * 3)
    assert(summed.toSeq == want.toSeq)
  }

  // numpy semantics on gapped element tables: triu/tril/eye leave cells
  // out, and an absent cell must read as 0 in zip and map.
  // a = [[1,2,3],[4,5,6],[7,8,9]]
  private def cells(m: DMatrix): (Long, Double) = {
    val r = m.elements.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.sum("v")).collect()(0)
    (r.getLong(0), r.getDouble(1))
  }

  test("gapped zip: triu + tril covers all 9 cells (numpy sum 60)") {
    val a = DMatrix.tabulate(spark, 3, 3, "i*3 + j + 1")
    assert(cells(a.triu() + a.tril()) == (9L, 60.0))
  }

  test("gapped map: triu().map(v + 1) fills the zeros (numpy sum 35)") {
    val a = DMatrix.tabulate(spark, 3, 3, "i*3 + j + 1")
    assert(cells(a.triu().map("v + 1")) == (9L, 35.0))
  }

  test("gapped zip: eye(3) + a keeps every cell of a (numpy sum 48)") {
    val a = DMatrix.tabulate(spark, 3, 3, "i*3 + j + 1")
    assert(cells(DMatrix.eye(spark, 3) + a) == (9L, 48.0))
  }

  test("the same gapped answers through NdArray") {
    val s = spark
    import s.implicits._
    def cellsNd(x: NdArray) = {
      val r = x.elements.selectExpr("count(1)", "sum(v)").collect()(0)
      (r.getLong(0), r.getDouble(1))
    }
    val a = NdArray.tabulate(spark, Seq(3L, 3L), "c0*3 + c1 + 1")
    val eye = NdArray.fromFlat(Seq((0L, 1.0), (4L, 1.0), (8L, 1.0)).toDF("idx", "v"), Seq(3L, 3L))
    assert(cellsNd(a.triu().zip(a.tril(), "v1 + v2")) == (9L, 60.0))
    assert(cellsNd(a.triu().map("v + 1")) == (9L, 35.0))
    assert(cellsNd(eye.zip(a, "v1 + v2")) == (9L, 48.0))
  }

  test("3-operand einsum chain equals pairwise matmul") {
    val a = DMatrix.tabulate(spark, 7, 5, "(i*7 + j*3) % 11")
    val b = DMatrix.tabulate(spark, 5, 6, "(i*5 + j*2) % 13")
    val c = DMatrix.tabulate(spark, 6, 4, "(i*2 + j*9) % 7")
    val got = Einsum("ij,jk,kl->il", a, b, c).orderBy("i", "l")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = a.matmul(b).matmul(c).elements.orderBy("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("3-operand einsum with full contraction to a scalar") {
    val a = DMatrix.tabulate(spark, 4, 3, "i + j + 1")
    val b = DMatrix.tabulate(spark, 3, 5, "i * 2 + j + 1")
    val c = DMatrix.tabulate(spark, 5, 4, "i + 2 * j + 1")
    // einsum("ij,jk,ki->") = trace(A·B·C)
    val got = Einsum("ij,jk,ki->", a, b, c).collect()(0).getDouble(0)
    val want = a.matmul(b).matmul(c).trace.collect()(0).getDouble(0)
    assert(math.abs(got - want) < 1e-9, s"$got vs $want")
  }

  test("norm min orders see fully-absent axes as zero abs-sums") {
    val sp = spark
    import sp.implicits._
    // 3x4 matrix with column 2 and row 1 entirely absent (implicit zero):
    // a stored-cells-only min would report 3; the corrected min is 0
    val df = Seq((0L, 0L, 1.0), (0L, 1L, -2.0), (2L, 0L, 3.0), (2L, 3L, -4.0))
      .toDF("i", "j", "v")
    val m = new DMatrix(df, 3, 4, dense = false)
    def one(d: org.apache.spark.sql.DataFrame) = d.collect()(0).getDouble(0)
    assert(one(m.norm("-1")) == 0.0)   // column 2 empty
    assert(one(m.norm("-inf")) == 0.0) // row 1 empty
    assert(one(m.norm("1")) == 4.0)    // max column abs-sum = |1|+|3|
    assert(one(m.norm("inf")) == 7.0)  // max row abs-sum = |3|+|4|
    assert(math.abs(one(m.norm("fro")) - math.sqrt(1 + 4 + 9 + 16)) < 1e-12)
    // dense matrix: min orders need no correction
    val dense = DMatrix.tabulate(spark, 3, 3, "i + j + 1")
    assert(one(dense.norm("-1")) == 6.0) // min column sum = 1+2+3
  }

  test("disjoint-operand einsum factors into 1-row scalar sums, not an n² cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val a = DMatrix.tabulate(spark, 40, 30, "(i * 3 + j) % 7")
    val b = DMatrix.tabulate(spark, 25, 35, "(i + j * 5) % 11")
    val df = Einsum("ij,kl->", a, b)
    // numpy optimize=True factorization: sum(A) * sum(B), never the
    // (40·30)×(25·35) unreduced cross product
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty, "expected the factored 1x1 scalar join")
    joins.foreach { j =>
      assert(j.left.maxRows.contains(1L) && j.right.maxRows.contains(1L),
        s"disjoint einsum joined non-scalar sides:\n${df.queryExecution.optimizedPlan}")
    }
    // integer-exact value check against the two independent sums
    val got = df.collect()(0).getDouble(0)
    def tot(m: DMatrix) =
      m.df.agg(org.apache.spark.sql.functions.sum("v")).collect()(0).getDouble(0)
    assert(got == tot(a) * tot(b), s"$got vs ${tot(a) * tot(b)}")
  }

  test("einsum pre-join reduction sums dead letters before a shared-letter join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val a = DMatrix.tabulate(spark, 50, 20, "(i * 7 + j) % 5")
    val b = DMatrix.tabulate(spark, 20, 30, "(i + j * 3) % 9")
    val df = Einsum("ij,jk->k", a, b).orderBy("k")
    // i is dead to everything but A: the plan must contract it BEFORE
    // the join on j (joining n rows, not n²) — an Aggregate grouping on
    // the shared letter sits below the join on the A side
    val plan = df.queryExecution.optimizedPlan
    val join = plan.collectFirst { case j: Join => j }.get
    val preAgg = Seq(join.left, join.right).exists(_.collectFirst {
      case ag: Aggregate if ag.groupingExpressions.size == 1 => ag
    }.nonEmpty)
    assert(preAgg, s"no pre-join contraction of the dead letter:\n$plan")
    // value check: equals column sums of A·B (exact small-int arithmetic)
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = Einsum("ij,jk->ik", a, b).groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v").as("v")).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("einsum implicit mode (no arrow) matches the explicit spec on the 2-d path") {
    val a = DMatrix.tabulate(spark, 6, 5, "(i * 3 + j) % 7")
    val b = DMatrix.tabulate(spark, 5, 4, "(i + j * 2) % 5")
    def cells(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    // "ij,jk" -> letters appearing once = i, k -> "ij,jk->ik" (matmul)
    assert(cells(Einsum("ij,jk", a, b)) == cells(Einsum("ij,jk->ik", a, b)))
    // "ii" -> no letter appears once -> scalar trace
    val sq = DMatrix.tabulate(spark, 5, 5, "i * 5 + j")
    assert(cells(Einsum("ii", sq)) == cells(Einsum("ii->", sq)))
  }

  test("numpy alias names: flipud/fliplr delegate to the flip projections") {
    val m = DMatrix.tabulate(spark, 3, 4, "i * 10 + j")
    def cells(x: DMatrix) =
      x.elements.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cells(m.flipud) == cells(m.flipRows))
    assert(cells(m.fliplr) == cells(m.flipCols))
    // flipud[i,j] = m[R-1-i,j]
    assert(cells(m.flipud) == cells(DMatrix.tabulate(spark, 3, 4, "(2 - i) * 10 + j")))
  }
}
