package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.expr._

/** Decision-record regression spec for chunk alignment — the
  * engine-side analogue of the reference's optimizer benches
  * (`bench/bench_unify_policy.py:33-73`,
  * `bench/bench_rechunk_insertion.py:49-66`). It asserts the outcome
  * metrics the reference records — rechunk count (its "rechunks") and
  * modeled movement (its "est transfer") — for the scenarios where no
  * standalone realignment pass may appear. Mapping to BASELINE.md rows:
  *
  *   scenario          BASELINE row  reference metric       engine metric here
  *   roll_sliver       7             1809 tasks, 1 rechunk  0 standalone rechunks, join-borne realign
  *   cross_io          9             197 tasks, 0 rechunks  0 rechunks, (0, 2-pass) model
  *   negative_control  10            1095 tasks, 0 rechunks 0 rechunks, (0, 0) model
  *
  * The engine has no unify-chunks policy: a zip joins its operands on
  * `idx` whatever their grids, and no query's plan changed when the
  * policy was dropped, so rows 1-6 (shatter_guard, nested_merge) have no
  * engine decision left to record.
  */
class UnifyPolicyBenchSpec extends AnyFunSuite {

  private def rechunks(e: VecExpr): Int =
    (if (e.isInstanceOf[RechunkVec]) 1 else 0) + e.children.map(rechunks).sum

  test("roll_sliver: x + roll(x,1) realigns inside the join — no standalone rechunk pass") {
    // reference post-realign record (BASELINE row 7): 1809 tasks with
    // the realign absorbed, vs 3363 refined sliver tasks before. The
    // engine's roll is an index remap on the SAME grid, so the zip
    // triggers no unify at all and the realignment exchange rides the
    // join the consumer already pays for.
    val x = RangeVec(0, 1, 100000)
    val s = Simplify(ZipVec(x, RollVec(x, 1), "v1 + v2"))
    assert(rechunks(s) == 0, s.pprint())
    val (lo, hi) = s.totalTransfer
    assert(lo == 0L)
    assert(hi <= 2 * 100000 * VecExpr.RowBytes,
      s"roll alignment must cost at most the join's two passes, modeled $hi")
  }

  test("cross_io: matching-grid IO zip plans 0 rechunks and join-only movement") {
    // reference (BASELINE row 9): 197 tasks, 0 rechunks, 504 B moved —
    // was 879 MiB through two TasksRechunks before the insertion rule.
    val a = ColumnVec("events", "event_id", "value", Some((0L, 100000L)))
    val b = ColumnVec("events", "event_id", "value * 2", Some((0L, 100000L)))
    val s = Simplify(ZipVec(a, b, "v1 + v2"))
    assert(rechunks(s) == 0, s.pprint())
    val (lo, hi) = s.totalTransfer
    assert(lo == 0L, s"cross_io modeled a mandatory standalone pass: $lo")
    assert(hi <= 2 * 100000 * VecExpr.RowBytes)
  }

  test("negative_control: roll into a narrow consumer inserts nothing (pure-cost guard)") {
    // reference (BASELINE row 10): roll(x,1).sum() — any policy that
    // "always rechunks after roll" fails here; 0 rechunks, and the
    // narrow chain models zero standalone movement.
    val s = Simplify(MapVec(RollVec(RangeVec(0, 1, 100000), 1), "v * 2"))
    assert(rechunks(s) == 0, s.pprint())
    assert(s.totalTransfer == ((0L, 0L)))
  }
}
