package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.expr.CumBlellochVec

/** method="blelloch" cumulative scans (reference `CumReductionBlelloch`,
  * `dask_array/reductions/_cumulative.py:267`): the round schedule is
  * verified pure against scanLeft for every table size up to 130, and the
  * DataFrame path is pinned against the sequential carry plan for all
  * four ops, including the plan-shape contract that motivates the method
  * (no single-partition carry window anywhere). */
class BlellochSpec extends AnyFunSuite {
  import TestSpark._

  test("schedule computes an ordered inclusive scan for every m in 0..130") {
    for (m <- 0 to 130) {
      // string concat is associative but NOT commutative: a schedule that
      // combined operands in the wrong order (or touched a position with
      // the wrong partner) would scramble the digits, not just reorder
      val vals = Array.tabulate(m)(i => s"<$i>")
      for ((stride, s2, start) <- CumBlellochVec.schedule(m.toLong)) {
        var i = start
        while (i < m) {
          vals(i.toInt) = vals((i - stride).toInt) + vals(i.toInt)
          i += s2
        }
      }
      val want = Array.tabulate(m)(i => (0 to i).map(j => s"<$j>").mkString)
      assert(vals.toSeq == want.toSeq, s"schedule wrong at m=$m")
    }
  }

  test("schedule is O(log m) rounds, work-efficient strides") {
    // 2·ceil(log2 m) bounds the depth; a sequential chain would be m-1
    for (m <- Seq(16L, 97L, 1024L)) {
      val r = CumBlellochVec.schedule(m).size
      val lg = 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
      assert(r <= 2 * lg, s"m=$m took $r rounds (> ${2 * lg})")
    }
  }

  test("blelloch matches sequential for sum/max/min/prod across the carry tree") {
    val n = 1000
    // values cross zero and change sign so cumprod exercises the
    // zero-count and sign-count carry columns through the sweep
    val x = DArray.arange(spark, "/unused", 0, n, 1).map("v % 7 - 3.25").rechunk(64)
    val xz = DArray.arange(spark, "/unused", 0, n, 1).map("v % 7 - 3").rechunk(64) // hits exact zeros
    def vals(d: DArray): Array[Double] =
      d.elements.orderBy("idx").collect().map(_.getDouble(1))
    for ((name, b, s) <- Seq(
        ("cumsum", x.cumsum("blelloch"), x.cumsum),
        ("cummax", x.cummax("blelloch"), x.cummax),
        ("cummin", x.cummin("blelloch"), x.cummin),
        ("cumprod", x.cumprod("blelloch"), x.cumprod),
        ("cumprod-zeros", xz.cumprod("blelloch"), xz.cumprod))) {
      val (bv, sv) = (vals(b), vals(s))
      assert(bv.length == n, s"$name length")
      val bad = bv.zip(sv).zipWithIndex.filter { case ((a, c), _) =>
        math.abs(a - c) > 1e-9 * math.max(1.0, math.abs(c)) }
      assert(bad.isEmpty, s"$name diverges at ${bad.take(3).map(_._2).toSeq}")
    }
  }

  test("blelloch plan has no single-partition carry window; sequential has exactly one") {
    val x = DArray.arange(spark, "/unused", 0, 1000, 1).rechunk(64)
    val seqPlan = x.cumsum.elements.queryExecution.executedPlan.toString
    val blePlan = x.cumsum("blelloch").elements.queryExecution.executedPlan.toString
    // the sequential carry window's physical signature: a strictly-preceding row frame
    // (UNBOUNDED PRECEDING .. -1) over the carry table
    val carryFrame = "unboundedpreceding$(), -1"
    assert(seqPlan.contains(carryFrame), s"sequential carry window missing:\n$seqPlan")
    assert(!blePlan.contains(carryFrame), s"blelloch plan still has a carry window:\n$blePlan")
    // the only Window left is the per-block local scan (partitioned by blk)
    val windows = "Window".r.findAllIn(blePlan).size
    assert(windows >= 1, s"local per-block scan window missing:\n$blePlan")
  }

  test("unknown-length children fall back to the sequential plan") {
    // a bare column scan has no declared length (reference nan-chunks) —
    // the round schedule can't be planned, so eval must fall back
    val d = DArray.fromColumn(spark, sf, "events", "event_id", "CAST(value AS DOUBLE)")
    assert(d.exprTree.length < 0)
    val plan = d.cumsum("blelloch").elements.queryExecution.executedPlan.toString
    assert(plan.contains("unboundedpreceding$(), -1"),
      "fallback should use the sequential carry window")
  }
}
