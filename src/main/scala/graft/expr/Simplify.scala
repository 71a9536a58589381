package graft.expr

import scala.annotation.tailrec

/** Fixpoint rewriter — the analogue of the reference's
  * `simplify()` pass (reference `dask_array/_expr.py:506-515`,
  * `.ai-docs/optimizations.md` "Pipeline Overview"), run over the array
  * algebra BEFORE plans are handed to Catalyst (SURVEY §4.2's decision:
  * array-level rewrites need array metadata Catalyst doesn't carry).
  *
  * Rules — each one changes the physical plan of at least one query:
  *   1. identity elision        — `Slice(x, 0, len) → x`
  *   2. self-zip → map          — `Zip(x, x, e) → Map(x, e[v1,v2:=v])`
  *   3. offset self-alignment   — `Zip(x[a:b], x[a+k:b+k]) → ZipOffset`
  *   4. map/map fusion          — `Map(Map(x,e1),e2) → Map(x, e2[v:=e1])`
  *      (reference blockwise fusion, `dask_array/_blockwise.py:1405-1573`),
  *      unless e2 reads `v` more than once and e1 is not cheap
  *   5. zip-operand fusion      — `Zip(Map(a,e1), b, e) → Zip(a, b, e[v1:=e1])`,
  *      either side, idx-free kernels only
  *   6. slice-through-concat    — whole-side scan pruning, straddles split
  *   7. slice-through-setitem   — updates filtered and rebased
  *   8. slice-through-sliding   — the w-1 halo rides in the pushed slice
  *   9. slice-through-map       — rebasing `idx` when the kernel uses it
  *      (reference `.ai-docs/optimizations.md` "Through Blockwise")
  *  10. slice-into-source       — folded into the scan `region`, a region
  *      slice fused with it (reference `FromArray._accept_slice`,
  *      `dask_array/io/_from_array.py`)
  *  11. slice-into-range        — affine refit (slice of arange is arange)
  *
  * Dropped because no query's plan changes without them: identity map and
  * stride, stride∘stride, map-into-zip, rechunk collapse and the
  * unify-chunks cost policy, slice/slice fusion (slice-into-source fuses
  * regions), flip∘flip, adjacent-piece concat coalescing, map-through-
  * concat, and the slice pushes through zip, stride, rechunk, flip,
  * repeat, diff, cumsum, ffill, gradient, stencil, roll and coarsen. A
  * slice over those nodes stays above them; answers are unchanged.
  *
  * Sharing gate (reference `_slice_pushdown`, `dask_array/_expr.py:431-468`):
  * a slice only pushes below a node all of whose dependents are slices —
  * pushing below a node some other consumer needs in full would just
  * re-derive the child. Dependents are counted by content name across the
  * whole DAG, the same dependents-map trick the reference builds.
  */
object Simplify {

  def apply(root: VecExpr): VecExpr = fixpoint(root)((_, _, _) => ())

  /** One trace entry per fixpoint round that changed the plan. */
  final case class TraceStep(round: Int, before: String, after: String)

  /** The rewrite trail (reference `trace_rewrites`,
    * `diagnostics/_diagnostics.py`): runs the SAME fixpoint loop as
    * [[apply]] but records each round's before/after `pprint`. Returns
    * the simplified root plus the trail — driver-side only, no jobs. */
  def trace(root: VecExpr): (VecExpr, Seq[TraceStep]) = {
    val steps = scala.collection.mutable.ArrayBuffer.empty[TraceStep]
    val out = fixpoint(root) { (round, before, after) =>
      steps += TraceStep(round, before.pprint(), after.pprint())
    }
    (out, steps.toSeq)
  }

  private val MaxRounds = 21

  /** Rewrite until the root's content name stops changing or
    * [[MaxRounds]] rounds have run; `changed` sees every round that
    * rewrote the plan. */
  @tailrec
  private def fixpoint(e: VecExpr, round: Int = 0)(
      changed: (Int, VecExpr, VecExpr) => Unit): VecExpr = {
    val next = rewrite(e, dependents(e))
    if (next.name == e.name) next
    else {
      changed(round, e, next)
      if (round + 1 == MaxRounds) next else fixpoint(next, round + 1)(changed)
    }
  }

  /** name → set of parent tokens (for the sharing gate). */
  private def dependents(root: VecExpr): Map[String, List[VecExpr]] = {
    val acc = scala.collection.mutable.Map[String, List[VecExpr]]().withDefaultValue(Nil)
    def walk(e: VecExpr): Unit = {
      e.children.foreach { c => acc(c.name) = e :: acc(c.name); walk(c) }
    }
    walk(root)
    acc.toMap.withDefaultValue(Nil)
  }

  private def allDependentsAreSlices(node: VecExpr, parents: Map[String, List[VecExpr]]): Boolean =
    parents(node.name).forall(_.isInstanceOf[SliceVec])

  private def rewrite(e: VecExpr, parents: Map[String, List[VecExpr]]): VecExpr =
    simplifyNode(e.mapChildren(rewrite(_, parents)), parents)

  /** Spark's `CollapseProject` rule, on kernel text: substitute producer
    * `e1` into consumer `e2` when `e2` reads `v` at most once or `e1` is
    * cheap (a bare column or a literal). Otherwise fusion copies `e1` once
    * per read — `map(uniform).map(search)` would re-inline the uniform into
    * every arm of the search — so the maps stay two projections. */
  private def fusible(e1: String, e2: String): Boolean =
    ReadsV.findAllIn(e2).length <= 1 || CheapKernel.matches(e1.trim)

  private val ReadsV = "\\bv\\b".r
  private val CheapKernel = """[A-Za-z_]\w*|-?\d+(\.\d+)?([eE][-+]?\d+)?[DdLl]?""".r

  private def simplifyNode(e: VecExpr, parents: Map[String, List[VecExpr]]): VecExpr = e match {
    // -- identity elision ---------------------------------------------------
    case SliceVec(c, 0, hi) if c.length == hi             => c

    // -- operand dedup / self-alignment fusion -------------------------------
    // Zipping an expression with ITSELF is an elemwise map: content
    // addressing makes the check one name comparison (the reference gets
    // this free from `SingletonExpr` operand dedup, _expr.py:74). This
    // deletes a whole alignment exchange — the engine's equivalent of an
    // unpushed filter. Fires after zip-map fusion has pulled same-leaf
    // maps into the kernel, so `f(x) ⊗ g(x)` also collapses to one scan.
    case ZipVec(a, b, e) if a.name == b.name =>
      simplifyNode(
        MapVec(a, VecExpr.subst(VecExpr.subst(e, "v1", "v"), "v2", "v")), parents)

    // -- offset self-alignment fusion ----------------------------------------
    // zip of two equal-length REGIONS of the same scan (the x[a:b] +
    // x[a+k:b+k] interleave) fuses to one scan + one exchange via
    // ZipOffsetVec — the unfused plan shuffle-joins the leaf with itself.
    // Restricted to raw column leaves so "same scan" is one leaf-equality
    // check; NULL-valued leaves are safe (ZipOffsetVec tracks side
    // presence with flag columns, not value-NULL sentinels).
    case ZipVec(ColumnVec(t1, i1, x1, Some((a, b))),
                ColumnVec(t2, i2, x2, Some((c, d))), e)
        if t1 == t2 && i1 == i2 && x1 == x2 && (b - a) == (d - c) && a != c =>
      def swap(k: String): String =
        VecExpr.subst(VecExpr.subst(VecExpr.subst(k, "v1", "vSWP"), "v2", "v1"), "vSWP", "v2")
      if (a < c) ZipOffsetVec(ColumnVec(t1, i1, x1, Some((a, d))), c - a, e)
      else ZipOffsetVec(ColumnVec(t1, i1, x1, Some((c, b))), a - c, swap(e))

    // -- elemwise fusion ----------------------------------------------------
    // (map consumers fuse only where that duplicates no work — [[fusible]];
    // zip operands always fuse: kept apart, f(x) ⊗ g(x) would lose the
    // self-zip rule above and pay an alignment join)
    case MapVec(MapVec(c, e1), e2) if fusible(e1, e2) =>
      simplifyNode(MapVec(c, VecExpr.subst(e2, "v", e1)), parents)
    case ZipVec(MapVec(a, e1), b, e) if !VecExpr.usesIdx(e1) =>
      simplifyNode(ZipVec(a, b, VecExpr.subst(e, "v1", VecExpr.subst(e1, "v", "v1"))), parents)
    case ZipVec(a, MapVec(b, e2), e) if !VecExpr.usesIdx(e2) =>
      simplifyNode(ZipVec(a, b, VecExpr.subst(e, "v2", VecExpr.subst(e2, "v", "v2"))), parents)

    // -- slice pushdown -------------------------------------------------------
    // slice-through-concat: prune sides the bound cannot touch — a slice
    // entirely inside one input deletes the other input's SCAN from the
    // plan (reference slice-through-Concatenate); straddling bounds split
    case s0 @ SliceVec(cc @ ConcatVec(a, b), lo, hi) if a.length >= 0 =>
      if (!allDependentsAreSlices(cc, parents)) s0
      else {
        val na = a.length
        if (hi <= na) simplifyNode(SliceVec(a, lo, hi), parents)
        else if (lo >= na)
          simplifyNode(SliceVec(b, lo - na, hi - na), parents)
        else ConcatVec(
          simplifyNode(SliceVec(a, lo, na), parents),
          simplifyNode(SliceVec(b, 0, hi - na), parents))
      }

    // slice-through-setitem: keep only the point updates the bound can
    // see, rebased — the slice keeps pruning at the scan below the
    // copy-on-write projection (reference SetItem is blockwise, so slice
    // pushdown passes it like any elemwise)
    case s0 @ SliceVec(si @ SetItemVec(c, updates), lo, hi) =>
      if (!allDependentsAreSlices(si, parents)) s0
      else {
        val kept = updates.collect {
          case (i, x) if i >= lo && i < hi => (i - lo, x)
        }
        val sliced = simplifyNode(SliceVec(c, lo, hi), parents)
        if (kept.isEmpty) sliced else SetItemVec(sliced, kept)
      }

    // slice-through-sliding: a trailing width-w frame sees at most w-1
    // rows before the bound; the pushed slice starts at lo-w+1 and the
    // residual outer slice trims the halo region (whose partial windows
    // are exactly the rows being discarded, so min_count is unaffected)
    case s0 @ SliceVec(sl @ SlidingVec(c, w, op2, mc), lo, hi) =>
      val start = math.max(0L, lo - (w - 1))
      val shrinks = start > 0 || (c.length >= 0 && hi < c.length)
      if (!allDependentsAreSlices(sl, parents) || !shrinks) s0
      else {
        val inner = SlidingVec(simplifyNode(SliceVec(c, start, hi), parents), w, op2, mc)
        if (lo == start) inner else SliceVec(inner, lo - start, hi - start)
      }

    // slice-through-map: rebasing `idx` when the kernel uses it
    case s @ SliceVec(m @ MapVec(c, e1), lo, hi) =>
      if (!allDependentsAreSlices(m, parents)) s // sharing gate
      else {
        // rebase idx: after pushing, positions are already shifted by -lo
        val rebased = if (VecExpr.usesIdx(e1)) VecExpr.subst(e1, "idx", s"idx + ${lo}L") else e1
        MapVec(simplifyNode(SliceVec(c, lo, hi), parents), rebased)
      }

    // slice-into-source: the bound becomes the scan `region`; a slice of a
    // region composes with it (reference `fuse_slice`,
    // `dask_array/slicing/_utils.py:941`: [a,b) then [c,d) is
    // [a+c, min(a+d, b)))
    case SliceVec(ColumnVec(t, i, v, None), lo, hi) =>
      ColumnVec(t, i, v, Some((lo, hi)))
    case SliceVec(ColumnVec(t, i, v, Some((l0, h0))), lo, hi) =>
      ColumnVec(t, i, v, Some((l0 + lo, math.min(l0 + hi, h0))))

    // slice-into-range: a slice of arange is an arange
    case SliceVec(RangeVec(start, step, n), lo, hi) =>
      RangeVec(start + lo * step, step, math.min(hi, n) - math.min(lo, n))

    case other => other
  }
}
