package graft.expr

import scala.annotation.tailrec

/** Fixpoint rewriter — the analogue of the reference's
  * `simplify()` pass (reference `dask_array/_expr.py:506-515`,
  * `.ai-docs/optimizations.md` "Pipeline Overview"), run over the array
  * algebra BEFORE plans are handed to Catalyst (SURVEY §4.2's decision:
  * array-level rewrites need array metadata Catalyst doesn't carry).
  *
  * Rules:
  *   1. map/map fusion          — `Map(Map(x,e1),e2) → Map(x, e2[v:=e1])`
  *      (reference blockwise fusion, `dask_array/_blockwise.py:1405-1573`),
  *      unless e2 reads `v` more than once and e1 is not cheap
  *   2. map-into-zip fusion     — `Map(Zip(a,b,e),e2) → Zip(a,b, e2[v:=e])`,
  *      same guard
  *   3. slice/slice fusion      — `fuse_slice`
  *      (reference `dask_array/slicing/_utils.py:941`)
  *   4. slice-through-map       — rebasing `idx` when the kernel uses it
  *      (reference `.ai-docs/optimizations.md` "Through Blockwise")
  *   5. slice-through-zip       — pushed to both sides
  *   6. slice-into-source       — folded into the scan `region`
  *      (reference `FromArray._accept_slice`, `dask_array/io/_from_array.py`)
  *   7. slice-into-range        — affine refit (slice of arange is arange)
  *   8. identity elision        — `Map(x,"v") → x`, `Slice(x, 0, len) → x`
  *   9. slice-through-repeat/-setitem — bounds keep pruning at the scan
  *      below partial repeats and copy-on-write point updates
  *  10. map-through-concat      — same idx-free kernel both sides pulls
  *      above the union so adjacent-piece coalescing can fuse the scans
  *  11. slice-through-overlap   — windowed ops need only a bounded halo,
  *      so a bound commutes below diff/sliding/gradient with the halo
  *      folded into the pushed slice; prefix scans (cum/ffill) admit
  *      right-bound pruning; coarsen scales the bound by k; a slice of a
  *      roll dissolves the roll into pushed region scans (reference
  *      `tests/test_slice_through_overlap.py`)
  *
  * Sharing gate (reference `_slice_pushdown`, `dask_array/_expr.py:431-468`):
  * a slice only pushes below a node all of whose dependents are slices —
  * pushing below a node some other consumer needs in full would just
  * re-derive the child. Dependents are counted by content name across the
  * whole DAG, the same dependents-map trick the reference builds.
  */
object Simplify {

  def apply(root: VecExpr): VecExpr = fixpoint(root, 20)

  @tailrec
  private def fixpoint(e: VecExpr, fuel: Int): VecExpr = {
    val parents = dependents(e)
    val next = rewrite(e, parents)
    if (next.name == e.name || fuel == 0) next else fixpoint(next, fuel - 1)
  }

  /** One trace entry per fixpoint round that changed the plan. */
  final case class TraceStep(round: Int, before: String, after: String)

  /** The rewrite trail (reference `trace_rewrites`,
    * `diagnostics/_diagnostics.py`): runs the SAME fixpoint loop as
    * [[apply]] but records each round's before/after `pprint`. Returns
    * the simplified root plus the trail — driver-side only, no jobs. */
  def trace(root: VecExpr): (VecExpr, Seq[TraceStep]) = {
    val steps = scala.collection.mutable.ArrayBuffer.empty[TraceStep]
    var e = root
    var round = 0
    var changed = true
    while (changed && round < 20) {
      val next = rewrite(e, dependents(e))
      changed = next.name != e.name
      if (changed) steps += TraceStep(round, e.pprint(), next.pprint())
      e = next
      round += 1
    }
    (e, steps.toSeq)
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

  private def rewrite(e: VecExpr, parents: Map[String, List[VecExpr]]): VecExpr = {
    val withChildren = e match {
      case MapVec(c, x)        => MapVec(rewrite(c, parents), x)
      case ZipVec(a, b, x)     => ZipVec(rewrite(a, parents), rewrite(b, parents), x)
      case SliceVec(c, lo, hi) => SliceVec(rewrite(c, parents), lo, hi)
      case ZipOffsetVec(c, o, x) => ZipOffsetVec(rewrite(c, parents), o, x)
      case RechunkVec(c, b)    => RechunkVec(rewrite(c, parents), b)
      case StrideVec(c, st)    => StrideVec(rewrite(c, parents), st)
      case FilterVec(c, p)     => FilterVec(rewrite(c, parents), p)
      case ConcatVec(a, b)     => ConcatVec(rewrite(a, parents), rewrite(b, parents))
      case SetItemVec(c, u)    => SetItemVec(rewrite(c, parents), u)
      case CumVec(c, op)       => CumVec(rewrite(c, parents), op)
      case DiffVec(c, n)       => DiffVec(rewrite(c, parents), n)
      case SlidingVec(c, w, op, mc) => SlidingVec(rewrite(c, parents), w, op, mc)
      case FfillVec(c)         => FfillVec(rewrite(c, parents))
      case CoarsenVec(c, k, o) => CoarsenVec(rewrite(c, parents), k, o)
      case FlipVec(c)          => FlipVec(rewrite(c, parents))
      case RollVec(c, s)       => RollVec(rewrite(c, parents), s)
      case GradientVec(c)      => GradientVec(rewrite(c, parents))
      case StencilVec(c, d, k) => StencilVec(rewrite(c, parents), d, k)
      case RepeatVec(c, k)     => RepeatVec(rewrite(c, parents), k)
      case leaf                => leaf
    }
    simplifyNode(withChildren, parents)
  }

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
    case MapVec(c, "v")                                   => c
    case SliceVec(c, 0, hi) if c.length == hi             => c
    case StrideVec(c, 1)                                  => c
    // stride/stride composes multiplicatively
    case StrideVec(StrideVec(c, a), b)                    => StrideVec(c, a * b)

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
    case MapVec(ZipVec(a, b, e1), e2) if fusible(e1, e2) =>
      ZipVec(a, b, VecExpr.subst(e2, "v", e1))
    case ZipVec(MapVec(a, e1), b, e) if !VecExpr.usesIdx(e1) =>
      simplifyNode(ZipVec(a, b, VecExpr.subst(e, "v1", VecExpr.subst(e1, "v", "v1"))), parents)
    case ZipVec(a, MapVec(b, e2), e) if !VecExpr.usesIdx(e2) =>
      simplifyNode(ZipVec(a, b, VecExpr.subst(e, "v2", VecExpr.subst(e2, "v", "v2"))), parents)

    // -- rechunk collapsing + unify-chunks cost policy ------------------------
    // adjacent rechunks collapse to the outermost grid; a rechunk to the
    // grid the child already has is the identity; slices commute through
    // the pure-metadata rechunk node so region pushdown still reaches the
    // scan underneath a re-gridded operand
    case RechunkVec(RechunkVec(c, _), b)      => simplifyNode(RechunkVec(c, b), parents)
    case RechunkVec(c, b) if c.chunk == b     => c
    case SliceVec(RechunkVec(c, b), lo, hi) =>
      simplifyNode(RechunkVec(simplifyNode(SliceVec(c, lo, hi), parents), b), parents)

    // -- slice-through-stride -------------------------------------------------
    // (stride∘slice)[k] = c[(lo+k)·s], so the bound commutes below the
    // stride (scaled by s) and keeps pruning at the scan; gated like every
    // pushdown so a shared stride isn't re-derived
    case s0 @ SliceVec(st @ StrideVec(c, sp), lo, hi) if hi > lo =>
      if (!allDependentsAreSlices(st, parents)) s0
      else StrideVec(
        simplifyNode(SliceVec(c, lo * sp, (hi - 1) * sp + 1), parents), sp)
    // unify-chunks (reference §4.4 policy, `dask_array/_expr.py:723-905`,
    // decision records `bench/bench_unify_policy.py:33-73`): zip operands
    // on different grids must realign. Direction, in priority order:
    //   1. modeled bytes — re-grid the side with fewer (unknown-length
    //      sides count as infinite, so the known-smaller side moves);
    //   2. on a byte TIE, MERGE to the coarser grid (the shatter_guard
    //      record: refining a 10-block side to a per-element partner
    //      mints thousands of downstream partitions — the reference's
    //      60 719-vs-12 401 task blow-up);
    //   3. hard backstop — a merge that would manufacture blocks over
    //      `unify-chunks-limit` refines to the finer grid instead (the
    //      nested_merge inflation record: a 2-chunk operand must not
    //      drag a day-chunked panel up to multi-GiB blocks).
    // UnifyPolicyBenchSpec pins all the decision-record outcomes.
    case ZipVec(a, b, e) if a.chunk != b.chunk =>
      val la = VecExpr.passBytes(a.length)
      val lb = VecExpr.passBytes(b.length)
      val aBytes = if (la < 0) Long.MaxValue else la
      val bBytes = if (lb < 0) Long.MaxValue else lb
      val coarse = math.max(a.chunk, b.chunk)
      val fine = math.min(a.chunk, b.chunk)
      val target0 =
        if (bBytes < aBytes) a.chunk
        else if (aBytes < bBytes) b.chunk
        else coarse
      // The backstop arbitrates the TIE merge only (the nested_merge
      // record is an equal-weight tie): it must never reverse rule 1's
      // byte decision — flipping target to the fine grid also flips WHICH
      // side moves, and rule 1 may have chosen a giant-chunked unknown-
      // length side precisely so the small known side is the one that
      // moves (its manufactured block is then min(len, chunk), far under
      // the nominal grid). Size the check by the blocks the merge would
      // actually mint on the moved side: on a byte tie the lengths are
      // equal, so a grid wider than the array caps at len·RowBytes.
      val target =
        if (aBytes == bBytes && target0 == coarse) {
          val movedLen = math.max(a.length, b.length) // equal on a known tie
          val blockBytes =
            (if (movedLen < 0) coarse else math.min(coarse, movedLen)) * VecExpr.RowBytes
          if (blockBytes > Blocked.unifyLimitBytes) fine else coarse
        } else target0
      if (target == a.chunk) ZipVec(a, RechunkVec(b, target), e)
      else ZipVec(RechunkVec(a, target), b, e)

    // -- slice fusion & pushdown ---------------------------------------------
    case SliceVec(SliceVec(c, a, b), c2, d) =>
      val (lo, hi) = graft.core.Chunks.fuseSlice(a, b, c2, d)
      simplifyNode(SliceVec(c, lo, hi), parents)

    // flip∘flip is the identity
    case FlipVec(FlipVec(c)) => c

    // adjacent-piece concat coalescing (reference concat-of-slices
    // simplification): two touching regions of the same scan, or two
    // contiguous arithmetic ranges, are ONE leaf — half the scans
    case ConcatVec(ColumnVec(t1, i1, v1, Some((a, b))),
                   ColumnVec(t2, i2, v2, Some((c, d))))
        if t1 == t2 && i1 == i2 && v1 == v2 && c == b =>
      ColumnVec(t1, i1, v1, Some((a, d)))
    case ConcatVec(RangeVec(s1, st1, n1), RangeVec(s2, st2, n2))
        if st1 == st2 && s2 == s1 + st1 * n1 =>
      RangeVec(s1, st1, n1 + n2)

    // slice-through-flip: x.flip[lo:hi] = x[n-hi:n-lo].flip — the bound
    // keeps pruning at the scan under the pure index reversal (reference
    // slice pushdown through coordinate remaps); gated like every push
    case s0 @ SliceVec(f @ FlipVec(c), lo, hi)
        if c.length >= 0 && hi <= c.length =>
      if (!allDependentsAreSlices(f, parents)) s0
      else {
        val n = c.length
        FlipVec(simplifyNode(SliceVec(c, n - hi, n - lo), parents))
      }

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

    // map-through-concat (same idx-free kernel both sides): pulling the
    // map ABOVE the union lets adjacent-piece coalescing fuse the scans
    // underneath — `x[0:100].map(f) ++ x[100:200].map(f)` becomes one
    // scan + one kernel (reference blockwise-over-Concatenate fusion)
    case ConcatVec(MapVec(a, e1), MapVec(b, e2))
        if e1 == e2 && !VecExpr.usesIdx(e1) =>
      simplifyNode(MapVec(simplifyNode(ConcatVec(a, b), parents), e1), parents)

    // slice-through-repeat: out[p] = c[p div k], so [lo,hi) needs child
    // rows [lo div k, (hi-1) div k]. Fires only when that child range is
    // strictly narrower (otherwise it rewrites to itself forever); the
    // residual outer slice trims the partial first/last repeats.
    case s0 @ SliceVec(rp @ RepeatVec(c, k), lo, hi) if hi > lo && lo >= 0 =>
      val cl = lo / k
      val ch = (hi - 1) / k + 1
      val shrinks = cl > 0 || (c.length >= 0 && ch < c.length)
      if (!allDependentsAreSlices(rp, parents) || !shrinks) s0
      else simplifyNode(
        SliceVec(RepeatVec(simplifyNode(SliceVec(c, cl, ch), parents), k),
          lo - cl * k, hi - cl * k), parents)

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

    // -- slice-through-overlap (reference tests/test_slice_through_overlap
    // .py): a windowed op reads only a bounded halo beyond the bound, so
    // the slice commutes below it with the halo folded into the pushed
    // slice — pruning reaches the scan underneath the window

    // slice-through-diff: out[j] = x[j+n] - x[j], so [lo,hi) reads exactly
    // x[lo, hi+n) — the halo rides inside the pushed slice, no residual
    case s0 @ SliceVec(d @ DiffVec(c, n), lo, hi) =>
      val shrinks = lo > 0 || (c.length >= 0 && hi + n < c.length)
      if (!allDependentsAreSlices(d, parents) || !shrinks) s0
      else DiffVec(simplifyNode(SliceVec(c, lo, hi + n), parents), n)

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

    // prefix scans (cumsum/ffill): the left prefix is load-bearing, but a
    // right bound cuts the scan tail — x.cum()[lo:hi) == cum(x[0:hi))[lo:)
    case s0 @ SliceVec(cv @ CumVec(c, op2), lo, hi)
        if c.length >= 0 && hi < c.length =>
      if (!allDependentsAreSlices(cv, parents)) s0
      else SliceVec(CumVec(simplifyNode(SliceVec(c, 0, hi), parents), op2), lo, hi)
    case s0 @ SliceVec(fv @ FfillVec(c), lo, hi)
        if c.length >= 0 && hi < c.length =>
      if (!allDependentsAreSlices(fv, parents)) s0
      else SliceVec(FfillVec(simplifyNode(SliceVec(c, 0, hi), parents)), lo, hi)

    // slice-through-gradient: the central difference needs one ghost cell
    // per side; interior positions keep their central stencil, and the
    // pushed slice's own edges coincide with the global edges exactly
    // where the one-sided formula applies
    case s0 @ SliceVec(g @ GradientVec(c), lo, hi) if c.length >= 0 && hi > lo =>
      val n = c.length
      val start = math.max(0L, lo - 1)
      val end = math.min(n, hi + 1)
      val shrinks = start > 0 || end < n
      // start > end = a fully past-the-end slice: leave it to evaluate
      // empty rather than build an inverted inner slice
      if (!allDependentsAreSlices(g, parents) || !shrinks || start > end) s0
      else {
        val inner = GradientVec(simplifyNode(SliceVec(c, start, end), parents))
        if (lo == start && hi == end) inner
        else SliceVec(inner, lo - start, hi - start)
      }

    // slice-through-stencil: same shape as gradient with a ±depth halo —
    // taps of every kept position stay inside the pushed domain (or off
    // the global edge, where both sides read NULL); idx-using kernels are
    // rebased like slice-through-map
    case s0 @ SliceVec(st @ StencilVec(c, dep, k), lo, hi) if c.length >= 0 && hi > lo =>
      val n = c.length
      val start = math.max(0L, lo - dep)
      val end = math.min(n, hi + dep)
      val shrinks = start > 0 || end < n
      // past-the-end slices evaluate empty; don't build an inverted slice
      if (!allDependentsAreSlices(st, parents) || !shrinks || start > end) s0
      else {
        val rebased = if (VecExpr.usesIdx(k)) VecExpr.subst(k, "idx", s"idx + ${start}L") else k
        val inner = StencilVec(simplifyNode(SliceVec(c, start, end), parents), dep, rebased)
        if (lo == start && hi == end) inner
        else SliceVec(inner, lo - start, hi - start)
      }

    // slice-through-roll: the circular shift is a pure index remap, so a
    // contiguous output range reads a contiguous-mod-n input range — the
    // roll dissolves into one (or two, when wrapping) pushed slices and
    // its whole-length crossJoin disappears from the plan
    case s0 @ SliceVec(r @ RollVec(c, sft), lo, hi)
        if c.length > 0 && hi <= c.length && hi > lo =>
      if (!allDependentsAreSlices(r, parents)) s0
      else {
        val n = c.length
        val a = ((lo - sft) % n + n) % n
        val len = hi - lo
        if (a + len <= n) simplifyNode(SliceVec(c, a, a + len), parents)
        else simplifyNode(ConcatVec(
          simplifyNode(SliceVec(c, a, n), parents),
          simplifyNode(SliceVec(c, 0, a + len - n), parents)), parents)
      }

    // slice-through-coarsen: out group g covers child rows [g·k,(g+1)·k),
    // so [lo,hi) reads child [lo·k, hi·k) exactly (ragged tail included —
    // the cap at the child length preserves the partial last group)
    case s0 @ SliceVec(cv @ CoarsenVec(c, k, op2), lo, hi) if hi > lo =>
      // clamp so a past-the-end outer slice (empty result) can't build an
      // inverted inner slice (lo·k above the data, innerHi capped below it)
      val innerHi0 = if (c.length >= 0) math.min(hi * k, c.length) else hi * k
      val innerHi = math.max(lo * k, innerHi0)
      val shrinks = lo > 0 || (c.length >= 0 && innerHi < c.length)
      if (!allDependentsAreSlices(cv, parents) || !shrinks) s0
      else CoarsenVec(simplifyNode(SliceVec(c, lo * k, innerHi), parents), k, op2)

    case s @ SliceVec(m @ MapVec(c, e1), lo, hi) =>
      if (!allDependentsAreSlices(m, parents)) s // sharing gate
      else {
        // rebase idx: after pushing, positions are already shifted by -lo
        val rebased = if (VecExpr.usesIdx(e1)) VecExpr.subst(e1, "idx", s"idx + ${lo}L") else e1
        MapVec(simplifyNode(SliceVec(c, lo, hi), parents), rebased)
      }

    case s @ SliceVec(z @ ZipVec(a, b, e1), lo, hi) =>
      if (!allDependentsAreSlices(z, parents)) s
      else {
        val rebased = if (VecExpr.usesIdx(e1)) VecExpr.subst(e1, "idx", s"idx + ${lo}L") else e1
        ZipVec(simplifyNode(SliceVec(a, lo, hi), parents),
               simplifyNode(SliceVec(b, lo, hi), parents), rebased)
      }

    case SliceVec(src @ ColumnVec(t, i, v, None), lo, hi) =>
      val _ = src
      ColumnVec(t, i, v, Some((lo, hi)))
    case SliceVec(ColumnVec(t, i, v, Some((l0, h0))), lo, hi) =>
      val (nl, nh) = graft.core.Chunks.fuseSlice(l0, h0, lo, hi)
      ColumnVec(t, i, v, Some((nl, nh)))

    case SliceVec(RangeVec(start, step, n), lo, hi) =>
      RangeVec(start + lo * step, step, math.min(hi, n) - math.min(lo, n))

    case other => other
  }
}
