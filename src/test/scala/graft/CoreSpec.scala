package graft

import org.scalatest.funsuite.AnyFunSuite

/** Slice composition (reference `fuse_slice`): slicing [a,b) then [c,d) of
  * the result equals slicing [a+c, min(a+d, b)) of the original. The
  * arithmetic lives in `Simplify`'s slice-into-source rule, which fuses a
  * slice of a scan region with that region. */
class ChunksSpec extends AnyFunSuite {
  import graft.expr._

  private def region(a: Long, b: Long) = ColumnVec("events", "event_id", "value", Some((a, b)))

  test("fuseSlice composes consecutive slices") {
    val src = ColumnVec("events", "event_id", "value")
    // x[2:9][1:4] == x[3:6]
    assert(Simplify(SliceVec(SliceVec(src, 2, 9), 1, 4)) == region(3, 6))
    // clamped by outer bound: x[2:5][1:10] == x[3:5]
    assert(Simplify(SliceVec(SliceVec(src, 2, 5), 1, 10)) == region(3, 5))
  }
}

class SimplifySpec extends AnyFunSuite {
  import graft.expr._

  private val src = ColumnVec("events", "event_id", "value")

  test("map/map chains fuse into one kernel") {
    val e = MapVec(MapVec(src, "v * 2"), "v + 1")
    val s = Simplify(e)
    assert(s == MapVec(src, "(v * 2) + 1"))
  }

  test("every unary node rewrites below itself: a map(map(leaf)) child fuses") {
    val chain = MapVec(MapVec(RangeVec(0, 1, 1000), "v + 1"), "v * 2")
    val unary: Seq[VecExpr => VecExpr] = Seq(
      MapVec(_, "v - 3"), SliceVec(_, 10, 20), ZipOffsetVec(_, 2, "v1 - v2"),
      RechunkVec(_, 64), StrideVec(_, 3), FilterVec(_, "v > 5"),
      SetItemVec(_, Seq((3L, 1.0))), CumVec(_, "sum"), CumBlellochVec(_, "sum"),
      DiffVec(_, 1), SlidingVec(_, 3, "mean", 1), FfillVec(_), CoarsenVec(_, 4, "sum"),
      FlipVec(_), RollVec(_, 5), GradientVec(_), StencilVec(_, 1, "v_m1 + v_p1"),
      RepeatVec(_, 2))
    def maps(e: VecExpr): Int =
      (if (e.isInstanceOf[MapVec]) 1 else 0) + e.children.map(maps).sum
    for (node <- unary) {
      val s = Simplify(node(chain))
      assert(maps(s) == 1, s.pprint())
    }
    // the parallel scan sees the same simplified input as the sequential one
    val sliced = SliceVec(chain, 10, 20)
    assert(Simplify(CumBlellochVec(sliced, "sum")).children ==
      Simplify(CumVec(sliced, "sum")).children)
  }

  test("map fusion keeps a non-cheap producer out of a consumer that reads v twice") {
    // the layered discrete sampler: a uniform projected once, then a
    // search that reads it at every level — fused, the uniform would be
    // copied into every arm (Spark's CollapseProject keeps the same rule)
    val u = "(CAST((1103515245 * (CAST(v AS BIGINT) + 901) + 12345) % 2147483648 AS DOUBLE) + 0.5) / 2147483648.0"
    val search = "CASE WHEN v > 0.5 THEN CASE WHEN v > 0.75 THEN 3 ELSE 2 END " +
      "ELSE CASE WHEN v > 0.25 THEN 1 ELSE 0 END END"
    assert(Simplify(MapVec(MapVec(src, u), search)) == MapVec(MapVec(src, u), search))
    // single-read consumers and cheap producers still fuse
    assert(Simplify(MapVec(MapVec(src, u), "ln(v) + 1")) == MapVec(src, s"ln(($u)) + 1"))
    assert(Simplify(MapVec(MapVec(src, "idx"), "v * v")) == MapVec(src, "(idx) * (idx)"))
    assert(Simplify(MapVec(MapVec(src, "2.5"), "v * v")) == MapVec(src, "(2.5) * (2.5)"))
  }

  test("slice pushes through map into the scan region") {
    val e = SliceVec(MapVec(src, "v * 2"), 10, 20)
    val s = Simplify(e)
    assert(s == MapVec(ColumnVec("events", "event_id", "value", Some((10L, 20L))), "v * 2"))
  }

  test("slice/slice fuses before pushing") {
    val e = SliceVec(SliceVec(src, 10, 100), 5, 20)
    assert(Simplify(e) == ColumnVec("events", "event_id", "value", Some((15L, 30L))))
  }

  test("idx-dependent kernels are rebased when a slice passes them") {
    val e = SliceVec(MapVec(src, "v + idx"), 10, 20)
    val s = Simplify(e)
    assert(s == MapVec(ColumnVec("events", "event_id", "value", Some((10L, 20L))), "v + (idx + 10L)"))
  }

  test("slice of arange refits the range (slice-into-IO for creation)") {
    val e = SliceVec(RangeVec(0.0, 0.5, 100), 10, 20)
    assert(Simplify(e) == RangeVec(5.0, 0.5, 10))
  }

  test("self-zip fuses to a map: the alignment join disappears") {
    // x ⊗ x — operand dedup by content name (reference SingletonExpr)
    val e = ZipVec(src, src, "v1 * v2")
    assert(Simplify(e) == MapVec(src, "(v) * (v)"))
    // f(x) ⊗ g(x): zip-map fusion pulls both kernels in, then self-zip
    // collapses the join — one scan, no exchange
    val e2 = ZipVec(src, MapVec(src, "1 + v % 7"), "v1 * v2")
    val s2 = Simplify(e2)
    assert(collect(s2) { case z: ZipVec => z }.isEmpty, s2.pprint())
    assert(collect(s2) { case m: MapVec => m }.nonEmpty)
  }

  test("autoChunk: block grows as sqrt(n) so the carry table stays bounded") {
    import graft.expr.Blocked
    // up to B^2 elements the configured block is kept — every small-scale
    // multi-block test path is unchanged
    assert(Blocked.autoChunk(1) == Blocked.B)
    assert(Blocked.autoChunk(Blocked.B * Blocked.B) == Blocked.B)
    assert(Blocked.autoChunk(-1) == Blocked.B) // unknown length
    // beyond B^2 the block is ~sqrt(n): numBlocks (the single-partition
    // carry table) is bounded by ~sqrt(n) instead of n/4096 — at 10^12
    // elements that is 1M carry rows, not 244M
    val n = 1000000000000L
    val c = Blocked.autoChunk(n)
    assert(c == math.max(Blocked.B, 1000000L))
    assert((n + c - 1) / c <= 1000001L, s"carry rows = ${(n + c - 1) / c}")
    // the expression default picks it up at the leaf
    assert(RangeVec(0, 1, n).chunk == c)
  }

  test("rechunk changes the grid the blocked ops use, values unchanged") {
    val ctxSpark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val a = graft.DArray.arange(ctxSpark, "/unused", 0, 1000, 1).map("v * 2")
      val plain = a.cumsum.elements.orderBy("idx").collect().map(_.getDouble(1))
      val re = a.rechunk(17).cumsum.elements.orderBy("idx").collect().map(_.getDouble(1))
      assert(plain.toSeq == re.toSeq, "grid change must not change values")
      // the 17-grid really is what the blocked plan partitions by
      val plan = a.rechunk(17).cumsum.elements.queryExecution.optimizedPlan.toString
      assert(plan.contains("17"), s"grid 17 absent from plan:\n${plan.take(800)}")
    } finally ctxSpark.stop()
  }

  test("divmod carries the divisor's sign on negative inputs (numpy, not SQL %)") {
    val ctxSpark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      // values -5..4 against divisor 3: numpy remainder is in [0, 3)
      val a = graft.DArray.arange(ctxSpark, "/unused", -5, 5, 1)
      val (q, r) = a.divmod(3.0)
      val qs = q.elements.orderBy("idx").collect().map(_.getDouble(1))
      val rs = r.elements.orderBy("idx").collect().map(_.getDouble(1))
      val want = (-5 to 4).map(v => (math.floor(v / 3.0), v - 3.0 * math.floor(v / 3.0)))
      assert(qs.toSeq == want.map(_._1), "quotients")
      assert(rs.toSeq == want.map(_._2), "remainders (divisor-signed)")
      // reconstruction identity q*d + r == v
      qs.zip(rs).zipWithIndex.foreach { case ((qv, rv), i) =>
        assert(qv * 3.0 + rv == (i - 5).toDouble, s"identity at $i")
      }
    } finally ctxSpark.stop()
  }

  test("boundary modes compose to the right ghost values") {
    // on arange(0..9): depth-2 ghosts per mode
    val ctxSpark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      def vals(mode: String): Seq[Double] = {
        val a = graft.DArray.arange(ctxSpark, "/unused", 0, 10, 1)
        a.boundary(2, mode, cv = -7.0).elements.orderBy("idx")
          .collect().map(_.getDouble(1)).toSeq
      }
      val core = (0 until 10).map(_.toDouble)
      assert(vals("constant") == Seq(-7.0, -7.0) ++ core ++ Seq(-7.0, -7.0))
      assert(vals("periodic") == Seq(8.0, 9.0) ++ core ++ Seq(0.0, 1.0))
      assert(vals("reflect") == Seq(1.0, 0.0) ++ core ++ Seq(9.0, 8.0))
      assert(vals("nearest") == Seq(0.0, 0.0) ++ core ++ Seq(9.0, 9.0))
    } finally ctxSpark.stop()
  }

  test("offset self-alignment: zip of shifted slices fuses to one scan") {
    // x[0:800] + x[100:900] — the interleaved-alignment shape (q12)
    val e = ZipVec(SliceVec(src, 0, 800), SliceVec(src, 100, 900), "v1 + v2")
    val s = Simplify(e)
    assert(collect(s) { case z: ZipVec => z }.isEmpty, s.pprint())
    val zo = collect(s) { case z: ZipOffsetVec => z }
    assert(zo.length == 1 && zo.head.offset == 100, s.pprint())
    // reversed operand order swaps the kernel, same fused plan
    val r = Simplify(ZipVec(SliceVec(src, 100, 900), SliceVec(src, 0, 800), "v1 - v2"))
    val zo2 = collect(r) { case z: ZipOffsetVec => z }
    assert(zo2.length == 1 && zo2.head.offset == 100)
    assert(zo2.head.exprSql.contains("v2") && zo2.head.exprSql.contains("v1"))
  }

  test("offset-zip fusion preserves NULL-valued positions") {
    // NULL-valued ColumnVec leaves are a supported state (the q11_ffill
    // CASE→NULL shape); the fused ZipOffsetVec must keep those rows and
    // emit NULL exactly like the unfused ZipVec join — presence is a flag
    // column, never a value-NULL sentinel.
    val ctx = graft.expr.Ctx(TestSpark.spark, TestSpark.sf)
    val leaf = ColumnVec("events", "event_id",
      "CASE WHEN value < 200 THEN NULL ELSE value END")
    val e = ZipVec(SliceVec(leaf, 0, 800), SliceVec(leaf, 100, 900), "v1 + v2")
    val fused = Simplify(e)
    assert(collect(fused) { case z: ZipOffsetVec => z }.nonEmpty, fused.pprint())
    def rows(x: VecExpr): Seq[(Long, Option[Double])] =
      x.eval(ctx).orderBy("idx").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
    val unfused = rows(e)
    val got = rows(fused)
    assert(unfused.exists(_._2.isEmpty), "fixture must contain NULL-valued positions")
    assert(got == unfused,
      s"fused ${got.size} rows != unfused ${unfused.size} rows")
  }

  test("slice through concat prunes the untouched side's scan") {
    val a = ColumnVec("events", "event_id", "value", Some((0L, 400L)))
    val b = ColumnVec("events", "event_id", "value * 2", Some((0L, 600L)))
    // fully inside the LEFT input: the right scan disappears
    Simplify(SliceVec(ConcatVec(a, b), 50, 300)) match {
      case ColumnVec(_, _, v, Some((50L, 300L))) => assert(v == "value")
      case other => fail(s"left-only slice kept extra plan: ${other.pprint()}")
    }
    // fully inside the RIGHT input, rebased
    Simplify(SliceVec(ConcatVec(a, b), 400, 700)) match {
      case ColumnVec(_, _, v, Some((0L, 300L))) => assert(v == "value * 2")
      case other => fail(s"right-only slice kept extra plan: ${other.pprint()}")
    }
    // straddling: both sides trimmed to their touched ranges
    Simplify(SliceVec(ConcatVec(a, b), 300, 500)) match {
      case ConcatVec(ColumnVec(_, _, _, Some((300L, 400L))),
                     ColumnVec(_, _, _, Some((0L, 100L)))) => ()
      case other => fail(s"straddle not split: ${other.pprint()}")
    }
  }

  test("concat after an empty unknown-length left side numbers the right side from 0") {
    // a delayed leaf's length is unknown until it runs, so the right
    // side's offset is max(idx) + 1 of the left — NULL when it is empty
    val empty = graft.DArray.fromDelayed(TestSpark.spark, "/unused", "empty")(() => Array.empty[Double])
    assert(empty.exprTree.length < 0, "fixture must take the unknown-length branch")
    val got = (empty ++ graft.DArray.arange(TestSpark.spark, "/unused", 10, 13, 1))
      .elements.orderBy("v").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getDouble(1))).toSeq
    assert(got == Seq((Some(0L), 10.0), (Some(1L), 11.0), (Some(2L), 12.0)), got)
  }

  test("slice pushes through setitem: updates filter and rebase") {
    val e = SliceVec(
      SetItemVec(src, Seq((5L, 9.0), (15L, 3.0), (25L, 1.0))), 10, 20)
    Simplify(e) match {
      case SetItemVec(ColumnVec(_, _, _, Some((10L, 20L))), Seq((5L, 3.0))) => ()
      case other => fail(s"setitem not pushed: ${other.pprint()}")
    }
    // no surviving updates → the setitem node disappears entirely
    val e2 = SliceVec(SetItemVec(src, Seq((5L, 9.0))), 10, 20)
    Simplify(e2) match {
      case ColumnVec(_, _, _, Some((10L, 20L))) => ()
      case other => fail(s"empty setitem kept: ${other.pprint()}")
    }
  }

  test("content-addressed names: identical trees share a name") {
    val a = MapVec(ColumnVec("events", "event_id", "value"), "v * 2")
    val b = MapVec(ColumnVec("events", "event_id", "value"), "v * 2")
    assert(a.name == b.name)
    assert(a.name != MapVec(src, "v * 3").name)
  }

  test("sharing gate: slice does not push below a node another consumer needs whole") {
    // zip(cumsum(m), slice(m)) — m is consumed in full by the cumulative
    // scan, so pushing the slice below m would re-derive m; the gate
    // (reference dask_array/_expr.py:431-468) must decline.
    val m = MapVec(src, "v * 2")
    val e = ZipVec(CumVec(m, "sum"), SliceVec(m, 0, 10), "v1 + v2")
    val s = Simplify(e)
    val slices = collect(s) { case sl: SliceVec => sl }
    assert(slices.nonEmpty, "slice should NOT have been pushed into the shared child")
    val regions = collect(s) { case c: ColumnVec if c.region.nonEmpty => c }
    assert(regions.isEmpty, "no scan region should exist while the child is shared")
  }

  test("without sharing, the same slice pushes to the scan") {
    val m = MapVec(src, "v * 2")
    val s = Simplify(SliceVec(m, 0, 10))
    val regions = collect(s) { case c: ColumnVec if c.region.nonEmpty => c }
    assert(regions.nonEmpty)
  }

  // -- slice-through-overlap (reference tests/test_slice_through_overlap.py)

  private val scoped = ColumnVec("events", "event_id", "value", Some((0L, 1000L)))

  test("slice through sliding keeps a w-1 left halo, residual slice trims it") {
    val s = Simplify(SliceVec(SlidingVec(scoped, 5, "mean", 1), 100, 200))
    assert(s == SliceVec(
      SlidingVec(ColumnVec("events", "event_id", "value", Some((96L, 200L))), 5, "mean", 1),
      4, 104), s.pprint())
    // left-edge bound: no halo to trim, the push is residual-free
    val s2 = Simplify(SliceVec(SlidingVec(scoped, 5, "mean", 1), 0, 200))
    assert(s2 == SlidingVec(ColumnVec("events", "event_id", "value", Some((0L, 200L))), 5, "mean", 1), s2.pprint())
  }

  test("past-the-end slices over windowed ops stay valid at rewrite time") {
    // each previously built an inverted inner SliceVec (lo > hi) and threw;
    // they must instead survive rewriting (and evaluate empty)
    Simplify(SliceVec(CoarsenVec(scoped, 4, "sum"), 260, 261))
    Simplify(SliceVec(GradientVec(scoped), 1005, 1006))
    Simplify(SliceVec(StencilVec(scoped, 2, "v"), 1005, 1006))
  }

  test("sharing gate holds for windowed pushes too") {
    val d = SlidingVec(scoped, 3, "sum", 1)
    val e = ZipVec(CumVec(d, "sum"), SliceVec(d, 0, 10), "v1 + v2")
    val s = Simplify(e)
    // d is consumed whole by the cumsum — the slice must not push below it
    val regions = collect(s) { case c: ColumnVec if c.region != Some((0L, 1000L)) => c }
    assert(regions.isEmpty, s.pprint())
  }

  private def collect[T](e: VecExpr)(pf: PartialFunction[VecExpr, T]): List[T] =
    (if (pf.isDefinedAt(e)) List(pf(e)) else Nil) ++ e.children.flatMap(collect(_)(pf))
}

/** numpy selection-family semantics: piecewise assigns sequentially
  * (LAST matching condition wins), select is first-match, choose gathers
  * by integer selector — including the value/index collision case a
  * naive value-rewriting fold would get wrong. */
/** The composed map_overlap surface (boundary → stencil → trim). */
class MapOverlapSpec extends AnyFunSuite {
  test("mapOverlap kernels see the logical idx, not the boundary-extended one") {
    val d = DArray.arange(TestSpark.spark, "/unused", 0, 10, 1) // v(i) = i
    val got = d.mapOverlap(1, "v * idx", "reflect")
      .elements.orderBy("idx").collect().map(_.getDouble(1)).toSeq
    assert(got == (0 until 10).map(i => (i * i).toDouble))
  }

  test("raw stencil edges read NULL taps; mapOverlap's boundary fills them") {
    val d = DArray.arange(TestSpark.spark, "/unused", 0, 6, 1)
    val raw = d.stencil(1, "v_m1 + v + v_p1")
      .elements.orderBy("idx").collect().map(r => Option(r.get(1)))
    assert(raw.head.isEmpty && raw.last.isEmpty) // NULL at both ends
    val filled = d.mapOverlap(1, "(v_m1 + v) + v_p1", "nearest")
      .elements.orderBy("idx").collect().map(_.getDouble(1)).toSeq
    // nearest: ghost left = 0, ghost right = 5
    assert(filled == Seq(1.0, 3.0, 6.0, 9.0, 12.0, 14.0))
  }

  test("DComplex multiply fuses its four zips onto the one shared source") {
    val s = TestSpark.spark
    val base = graft.DArray.arange(s, "/unused", 0, 50, 1)
    val z1 = graft.DComplex(base.map("v + 1"), base.map("v - 1"))
    val z2 = graft.DComplex(base.map("v * 2"), base.map("v * 3"))
    val w = z1 * z2
    def leaves(e: graft.expr.VecExpr): Seq[graft.expr.VecExpr] =
      if (e.children.isEmpty) Seq(e) else e.children.flatMap(leaves)
    // (ac - bd) over four maps of the SAME arange: zip fusion must
    // collapse the whole real part to a single-leaf tree (one scan)
    assert(leaves(w.re.optimized).distinct.size == 1, w.re.optimized.pprint())
    assert(leaves(w.im.optimized).distinct.size == 1, w.im.optimized.pprint())
    // and the values are the complex product
    val got = w.re.elements.orderBy("idx").collect().map(_.getDouble(1))
    (0 until 50).foreach { v =>
      assert(got(v) == (v + 1.0) * (v * 2.0) - (v - 1.0) * (v * 3.0), s"idx $v")
    }
  }

  test("gradient under an explicit chunk <= halo (clamped bidir grid)") {
    val s = TestSpark.spark
    // rechunk(1) makes chunk == halo for the gradient's ghost exchange;
    // the working grid clamps to halo+1 instead of throwing (r8 advisory)
    val got = graft.DArray.arange(s, "/unused", 0, 6, 1)
      .map("v * v").rechunk(1).gradient
      .elements.orderBy("idx").collect().map(_.getDouble(1)).toSeq
    // central differences of v²: ends one-sided (1, 9), interior 2v
    assert(got == Seq(1.0, 2.0, 4.0, 6.0, 8.0, 9.0))
  }
}

class SelectionSpec extends AnyFunSuite {
  test("piecewise: last matching condition wins on overlap") {
    val s = TestSpark.spark
    val a = graft.DArray.arange(s, "/unused", 0, 10, 1)
      .piecewise(Seq("v < 8", "v < 5"), Seq("v * 10", "v + 100"))
    val got = a.elements.orderBy("idx").collect().map(_.getDouble(1)).toSeq
    // v<5: both conds true -> LAST (v+100); 5<=v<8: first only -> v*10; else 0
    assert(got == Seq(100.0, 101.0, 102.0, 103.0, 104.0, 50.0, 60.0, 70.0, 0.0, 0.0))
  }

  test("select: first matching condition wins (np.select)") {
    val s = TestSpark.spark
    val a = graft.DArray.arange(s, "/unused", 0, 10, 1)
      .select(Seq("v < 8", "v < 5"), Seq("v * 10", "v + 100"), "-1")
    val got = a.elements.orderBy("idx").collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(0.0, 10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, -1.0, -1.0))
  }

  test("choose: picked values colliding with later indices are not re-replaced") {
    val s = TestSpark.spark
    // selector alternates 0,1; choice0 = 1 everywhere (collides with
    // index 1), choice1 = 7 everywhere. A value-rewriting fold would turn
    // the picked 1.0 into 7.0 at the second step.
    val sel = graft.DArray.arange(s, "/unused", 0, 6, 1).map("CAST(v AS INT) % 2")
    val c0 = graft.DArray.arange(s, "/unused", 0, 6, 1).map("1.0")
    val c1 = graft.DArray.arange(s, "/unused", 0, 6, 1).map("7.0")
    val got = sel.choose(Seq(c0, c1)).elements.orderBy("idx")
      .collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(1.0, 7.0, 1.0, 7.0, 1.0, 7.0))
  }
}

/** The public custom-reduction surface: an Aggregator with a user buffer
  * runs as Spark's partial+final tree — the reference's
  * chunk/combine/aggregate contract (`reductions/_reduction.py:259`). */
class CustomReductionSpec extends AnyFunSuite {
  test("geometric mean via a (count, sumlog) buffer matches exp(mean(ln))") {
    val s = TestSpark.spark
    import org.apache.spark.sql.expressions.Aggregator
    import org.apache.spark.sql.{Encoder, Encoders}
    val geomean = new Aggregator[Double, (Long, Double), Double] {
      def zero: (Long, Double) = (0L, 0.0)                                  // chunk identity
      def reduce(b: (Long, Double), v: Double): (Long, Double) =
        (b._1 + 1, b._2 + math.log(v))                                      // chunk
      def merge(a: (Long, Double), b: (Long, Double)): (Long, Double) =
        (a._1 + b._1, a._2 + b._2)                                          // combine
      def finish(b: (Long, Double)): Double =
        if (b._1 == 0) Double.NaN else math.exp(b._2 / b._1)                // aggregate
      def bufferEncoder: Encoder[(Long, Double)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
      def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }
    val a = graft.DArray.arange(s, "/unused", 1, 101, 1)
    val df = a.reduction(geomean, "gm")
    // partial+final: the plan must aggregate in two phases, not one
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial"), s"expected a partial aggregation phase:\n$plan")
    val got = df.collect()(0).getDouble(0)
    val want = math.exp((1 to 100).map(i => math.log(i.toDouble)).sum / 100.0)
    assert(math.abs(got - want) < 1e-9, s"$got vs $want")
  }

  test("GraphVec content address: distinct sources never merge, same instance shares") {
    // the address is a per-INSTANCE monotonic id, not identityHashCode —
    // a hash collision between two different frames would CSE-merge them
    // into one node and silently read the wrong source
    import graft.expr.GraphVec
    val s = TestSpark.spark
    val df1 = s.range(10).selectExpr("id", "id * 2 AS v")
    val df2 = s.range(10).selectExpr("id", "id * 2 AS v") // equal plan, distinct instance
    val a = GraphVec(df1, "id", "v")
    val b = GraphVec(df2, "id", "v")
    assert(a.name != b.name, "distinct DataFrame instances must be distinct nodes")
    val a2 = GraphVec(df1, "id", "v")
    assert(a.name == a2.name, "the same instance must share one node (one evaluation)")
  }
}
