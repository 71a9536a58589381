package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, expr}

import graft.expr._

/** User-facing lazy 1-d array handle — the analogue of the reference's
  * `Array` collection (reference `dask_array/_collection.py:110`): every
  * method builds expression nodes immediately; nothing executes until
  * `elements` / an aggregate is asked for, at which point the tree is
  * `Simplify`-ed (pushdown + fusion) and handed to Catalyst as a DataFrame
  * plan. Operator overloads mirror the reference's Python operator protocol
  * (`dask_array/_collection.py:716-932`).
  */
final class DArray(val exprTree: VecExpr, val ctx: Ctx) {

  private def wrap(e: VecExpr): DArray = new DArray(e, ctx)

  // ---- elemwise (reference `Elemwise`, dask_array/_blockwise.py:837) ------
  def map(sqlOverV: String): DArray        = wrap(MapVec(exprTree, sqlOverV))
  def +(s: Double): DArray                 = map(s"v + $s")
  def -(s: Double): DArray                 = map(s"v - $s")
  def *(s: Double): DArray                 = map(s"v * $s")
  def /(s: Double): DArray                 = map(s"v / $s")
  def +(o: DArray): DArray                 = zip(o, "v1 + v2")
  def -(o: DArray): DArray                 = zip(o, "v1 - v2")
  def *(o: DArray): DArray                 = zip(o, "v1 * v2")
  def /(o: DArray): DArray                 = zip(o, "v1 / v2")
  def zip(o: DArray, sqlOverV1V2: String): DArray = wrap(ZipVec(exprTree, o.exprTree, sqlOverV1V2))

  /** Lift an arbitrary Scala function into an elemwise kernel (reference
    * `frompyfunc` / the `ufunc` wrapper, `dask_array/_ufunc.py:143,183`).
    * This is the NON-CODEGEN tier: the lambda runs as a registered UDF —
    * correct at any scale (one projection, no shuffle, partition-local)
    * but opaque to Catalyst, so constant folding, pushdown THROUGH the
    * kernel, and whole-stage fusion stop at it. Prefer the SQL-text
    * kernels ([[map]]) whenever the function is expressible; reach for
    * this only for genuinely arbitrary JVM logic. NULL (the engine's NaN
    * encoding) propagates: primitive-typed UDFs are null-intolerant, so
    * the lambda never sees a NULL and never has to guard it. */
  def mapTyped(f: Double => Double): DArray = {
    val name = DArray.registerTyped(ctx.spark, f)
    map(s"$name(v)")
  }

  /** Two-input typed lift (`frompyfunc` with nin=2): aligns with `o` and
    * applies the lambda pairwise. Same non-codegen contract as
    * [[mapTyped]]. */
  def zipTyped(o: DArray, f: (Double, Double) => Double): DArray = {
    val name = DArray.registerTyped2(ctx.spark, f)
    zip(o, s"$name(v1, v2)")
  }
  def abs: DArray                          = map("abs(v)")
  def sqrt: DArray                         = map("sqrt(v)")
  def exp: DArray                          = map("exp(v)")
  def log: DArray                          = map("ln(v)")
  def negate: DArray                       = map("-v")
  def pow(p: Double): DArray               = map(s"power(v, $p)")

  // the numpy trig/hyperbolic/log ufunc long tail BY NAME (reference
  // `_ufunc.py` export list) — every kernel a codegen'd Spark builtin;
  // q109 verifies the whole family against a DuckDB oracle under
  // integer-quantized gates (libm results differ across engines at ulp
  // level, so per-row exact comparison would be hash-fragile)
  def sin: DArray                          = map("sin(v)")
  def cos: DArray                          = map("cos(v)")
  def tan: DArray                          = map("tan(v)")
  def arcsin: DArray                       = map("asin(v)")
  def arccos: DArray                       = map("acos(v)")
  def arctan: DArray                       = map("atan(v)")
  def arctan2(o: DArray): DArray           = zip(o, "atan2(v1, v2)")
  def sinh: DArray                         = map("sinh(v)")
  def cosh: DArray                         = map("cosh(v)")
  def tanh: DArray                         = map("tanh(v)")
  def arcsinh: DArray                      = map("asinh(v)")
  def arccosh: DArray                      = map("acosh(v)")
  def arctanh: DArray                      = map("atanh(v)")
  def log10: DArray                        = map("log10(v)")
  def log2: DArray                         = map("log2(v)")
  def log1p: DArray                        = map("log1p(v)")
  def expm1: DArray                        = map("expm1(v)")
  def cbrt: DArray                         = map("cbrt(v)")
  def hypot(o: DArray): DArray             = zip(o, "hypot(v1, v2)")
  /** numpy `logaddexp`: ln(eᵃ + eᵇ) in the overflow-safe max+log1p
    * form — the same formula the oracle replays. */
  def logaddexp(o: DArray): DArray =
    zip(o, "greatest(v1, v2) + log1p(exp(-abs(v1 - v2)))")
  def logaddexp2(o: DArray): DArray =
    zip(o, "greatest(v1, v2) + log2(1.0 + power(2.0, -abs(v1 - v2)))")
  /** numpy `float_power` (always-float pow — doubles here already). */
  def floatPower(e: Double): DArray        = pow(e)
  def fabs: DArray                         = abs
  // IEEE classification as 0/1 doubles (the engine's bool encoding);
  // NULL (≙ NaN) propagates as NULL, matching the q33 convention.
  // A literal NaN value is still reachable (0.0/0.0 inside a SQL
  // kernel never passes through the NULL encoding), and Spark compares
  // doubles NaN-greatest (nanSafeCompareDoubles) — so the > tests need
  // an explicit NOT isnan guard or NaN would classify as +inf
  // (numpy: isinf(nan) is False). isneginf/isfinite are already
  // NaN-correct: NaN-greatest makes `v < -MAX` false and
  // `abs(v) <= MAX` false without a guard.
  def isinf: DArray                        = map("CAST((NOT isnan(v)) AND abs(v) > 1.7976931348623157E308 AS DOUBLE)")
  def isposinf: DArray                     = map("CAST((NOT isnan(v)) AND v > 1.7976931348623157E308 AS DOUBLE)")
  def isneginf: DArray                     = map("CAST(v < -1.7976931348623157E308 AS DOUBLE)")
  def isfinite: DArray                     = map("CAST(abs(v) <= 1.7976931348623157E308 AS DOUBLE)")
  def degrees: DArray                      = map("v * (180.0 / 3.141592653589793)")
  def radians: DArray                      = map("v * (3.141592653589793 / 180.0)")
  def clip(lo: Double, hi: Double): DArray = map(s"least(greatest(v, $lo), $hi)")
  def round(d: Int): DArray                = map(s"round(v, $d)")
  def where(predOverV: String, other: Double): DArray =
    map(s"CASE WHEN $predOverV THEN v ELSE $other END")

  // ---- slicing / masking ---------------------------------------------------
  def slice(lo: Long, hi: Long): DArray    = wrap(SliceVec(exprTree, lo, hi))

  /** Strided slice `x[lo:hi:step]` (reference strided basic indexing):
    * the bounded slice still pushes to the scan; the stride is a narrow
    * reindexing filter above it. A NEGATIVE step walks the SAME [lo, hi)
    * range downward from its high end — out[t] = x[hi-1-t·|step|] — i.e.
    * numpy's `x[hi-1 : lo-1 : -k]` (numpy's literal `x[lo:hi:-k]` with
    * lo < hi is the empty slice; this range-downward form is what the
    * range-plus-direction call signature means here). Composes as the
    * ascending k-grid anchored at the high end plus a flip: still a pure
    * index remap, zero movement. */
  def slice(lo: Long, hi: Long, step: Long): DArray = {
    require(step != 0, "slice step must be nonzero")
    if (step > 0) wrap(StrideVec(SliceVec(exprTree, lo, hi), step))
    else if (hi <= lo) wrap(SliceVec(exprTree, lo, lo)) // empty, like x[lo:lo]
    else {
      val k = -step
      // positions hit (descending from hi-1): hi-1, hi-1-k, ... — i.e.
      // the ASCENDING k-grid anchored at (hi-1-lo) % k, then reversed
      val anchor = (hi - 1 - lo) % k // hi > lo ⇒ dividend >= 0 ⇒ anchor >= 0
      wrap(FlipVec(StrideVec(SliceVec(exprTree, lo + anchor, hi), k)))
    }
  }
  def mask(predOverV: String): DArray      = wrap(FilterVec(exprTree, predOverV))
  /** numpy name: `np.extract(cond, x)` ≡ boolean-mask compress. */
  def extract(predOverV: String): DArray   = mask(predOverV)
  /** Positions of the nonzero values (reference `flatnonzero`,
    * `dask_array/routines/_nonzero.py`): one filtered scan of the element
    * table, O(nnz) output — the 1-d twin of [[DMatrix.argwhere]]. */
  def flatnonzero: DataFrame               = mask("v <> 0.0").elements.select("idx")
  /** Two-output elemwise floor-division + remainder against a scalar
    * (reference `divmod`, `dask_array/_ufunc.py` double-output family;
    * numpy semantics — the remainder carries the DIVISOR's sign, unlike
    * SQL `%`). One shared subtree, two codegen'd projections — the same
    * multi-output shape as frexp/modf (q47). */
  def divmod(d: Double): (DArray, DArray) = {
    require(d != 0.0, "divmod by zero")
    (map(s"floor(v / $d)"), map(s"v - $d * floor(v / $d)"))
  }
  def setItems(updates: Seq[(Long, Double)]): DArray = wrap(SetItemVec(exprTree, updates))

  // ---- numpy.ma surface ------------------------------------------------------
  // The reference flows np.ma.masked_array chunks through its generic
  // machinery (register_chunk_type, `_chunk_types.py:31`; np.ma lookups,
  // `_dispatch.py:248-263`). Here mask ≙ NULL, which gives np.ma's
  // contract for free: masked cells propagate through arithmetic
  // (NULL ⊕ x = NULL = mask union under zip), and Spark aggregates skip
  // NULLs exactly like np.ma reductions skip masked cells. All four ops
  // are single codegen'd projections.

  /** `ma.masked_where(cond, x)`: mask the cells where the predicate
    * holds. The predicate sees `v` (and `idx`). */
  def maskedWhere(predOverV: String): DArray =
    map(s"CASE WHEN $predOverV THEN CAST(NULL AS DOUBLE) ELSE v END")

  /** `ma.masked_invalid(x)`: mask NaN/Inf cells. */
  def maskedInvalid: DArray =
    maskedWhere("isnan(v) OR abs(v) = CAST('Infinity' AS DOUBLE)")

  /** `ma.filled(x, fill)`: replace masked cells with a fill value. */
  def filled(fill: Double): DArray =
    map(s"coalesce(v, CAST($fill AS DOUBLE))")

  /** `ma.getmaskarray(x)`: the mask as a 0/1 array. */
  def getmask: DArray =
    map("CASE WHEN v IS NULL THEN 1.0 ELSE 0.0 END")

  /** `ma.average(x, weights=w)` (reference defers to np.ma.average via the
    * masked dispatch, `_dispatch.py:248-263`): weighted mean over unmasked
    * cells. A masked cell drops BOTH its value and its weight from the
    * normalizer — np.ma's contract. ONE aligned equi-join + ONE
    * partial+final aggregate computing both sums in the same pass (a
    * ZipVec formulation would need two kernel arrays and join twice).
    * Returns the 1-row (avg_w, cnt) frame. */
  def maskedAverage(w: DArray): DataFrame = {
    val l = elements.withColumnRenamed("v", "v1")
    val r = w.elements.withColumnRenamed("v", "v2")
    l.join(r, "idx").agg(
      expr("round(sum(v1 * v2) / sum(CASE WHEN v1 IS NULL THEN NULL ELSE v2 END), 6)")
        .as("avg_w"),
      expr("CAST(count(v1) AS BIGINT)").as("cnt"))
  }

  /** Slice-valued assignment `x[lo:hi) = value` (reference `SetItem` with
    * slice indices, `slicing/_setitem.py:294`): copy-on-write projection,
    * no movement. */
  def setSlice(lo: Long, hi: Long, value: Double): DArray =
    map(s"CASE WHEN idx >= $lo AND idx < $hi THEN CAST($value AS DOUBLE) ELSE v END")

  /** Mask-valued assignment `x[cond] = value` (reference boolean-mask
    * SetItem): elemwise rewrite over the value predicate. */
  def setWhere(predOverVIdx: String, value: Double): DArray =
    map(s"CASE WHEN $predOverVIdx THEN CAST($value AS DOUBLE) ELSE v END")

  // ---- shape ---------------------------------------------------------------
  def ++(o: DArray): DArray                = wrap(ConcatVec(exprTree, o.exprTree))

  /** Extend both edges by `depth` ghost elements per the overlap boundary
    * mode (reference `boundaries`, `dask_array/_overlap.py:715-792`):
    * `constant` (fill `cv`), `periodic` (wrap), `reflect` (mirror incl.
    * edge), `nearest` (repeat edge). Pure composition of slice/flip/
    * repeat/range + concat — all narrow, zero-shuffle index remaps.
    * Windowed ops over the extended
    * array followed by `slice(depth, n+depth)` give the boundary-aware
    * `map_overlap`; the same compositions ARE `pad`'s edge/wrap/reflect
    * modes (reference `creation/_pad.py:17`). Needs a statically known
    * length (slice first when the leaf is unbounded). */
  def boundary(depth: Long, mode: String, cv: Double = 0.0): DArray = {
    val n = exprTree.length
    require(n >= 0, "boundary needs a statically known length — slice first")
    require(depth <= n, s"depth $depth exceeds length $n")
    require(mode != "reflect_strict" || depth < n,
      s"reflect_strict needs depth < length ($depth >= $n)")
    val left = mode match {
      case "constant"              => wrap(RangeVec(cv, 0, depth))
      case "periodic"              => slice(n - depth, n)
      // dask-overlap "reflect" includes the edge element — numpy calls
      // this SYMMETRIC; numpy's strict reflect excludes the edge
      case "reflect" | "symmetric" => slice(0, depth).flip
      case "reflect_strict"        => slice(1, depth + 1).flip
      case "nearest"               => slice(0, 1).repeatEach(depth.toInt)
      case other                   => throw new IllegalArgumentException(s"boundary mode $other")
    }
    val right = mode match {
      case "constant"              => wrap(RangeVec(cv, 0, depth))
      case "periodic"              => slice(0, depth)
      case "reflect" | "symmetric" => slice(n - depth, n).flip
      case "reflect_strict"        => slice(n - depth - 1, n - 1).flip
      case "nearest"               => slice(n - 1, n).repeatEach(depth.toInt)
      case other                   => throw new IllegalArgumentException(s"boundary mode $other")
    }
    left ++ this ++ right
  }

  // ---- shape / layout --------------------------------------------------------
  /** Change the block grid for downstream windowed/sequential ops
    * (reference `rechunk`, `dask_array/_rechunk.py:646`): a lazy metadata
    * node — the exchange happens inside the next blocked op's shuffle,
    * never as a standalone pass. */
  def rechunk(blockSize: Long): DArray     = wrap(RechunkVec(exprTree, blockSize))
  def coarsen(k: Int, op: String): DArray  = wrap(CoarsenVec(exprTree, k, op))
  def flip: DArray                         = wrap(FlipVec(exprTree))
  def roll(s: Long): DArray                = wrap(RollVec(exprTree, s))
  def gradient: DArray                     = wrap(GradientVec(exprTree))
  def repeatEach(k: Int): DArray           = wrap(RepeatVec(exprTree, k))

  // ---- windows / scans -----------------------------------------------------
  def cumsum: DArray                       = wrap(CumVec(exprTree, "sum"))
  def cummax: DArray                       = wrap(CumVec(exprTree, "max"))
  def cummin: DArray                       = wrap(CumVec(exprTree, "min"))
  def cumprod: DArray                      = wrap(CumVec(exprTree, "prod"))
  /** `method` selects the carry plan, as the reference's
    * `cumsum(x, method=)` does (`reductions/_cumulative.py:451`):
    * "sequential" = [[graft.expr.CumVec]] (per-block window + bounded
    * single-partition carry chain), "blelloch" =
    * [[graft.expr.CumBlellochVec]] (log-round partitioned up/down sweep,
    * no single-partition stage at all). */
  def cumsum(method: String): DArray       = wrap(cumMethod("sum", method))
  def cummax(method: String): DArray       = wrap(cumMethod("max", method))
  def cummin(method: String): DArray       = wrap(cumMethod("min", method))
  def cumprod(method: String): DArray      = wrap(cumMethod("prod", method))
  private def cumMethod(op: String, method: String): VecExpr = method match {
    case "sequential" => CumVec(exprTree, op)
    case "blelloch"   => CumBlellochVec(exprTree, op)
    case other        => throw new IllegalArgumentException(
      s"""cum method must be "sequential" or "blelloch", got $other""")
  }
  def diff(n: Int = 1): DArray             = wrap(DiffVec(exprTree, n))
  /** numpy diff's `prepend`/`append` (reference `routines/_diff.py:9` —
    * scalar values concatenated onto the ends BEFORE differencing).
    * Scalars enter as 1-element RangeVec leaves; the concat is the
    * zero-movement offset union, so the cost is the plain diff's. */
  def diff(n: Int, prepend: Option[Double], append: Option[Double]): DArray = {
    def one(v: Double): DArray = wrap(RangeVec(v, 0.0, 1L))
    val withPre = prepend.map(one(_) ++ this).getOrElse(this)
    val withApp = append.map(v => withPre ++ one(v)).getOrElse(withPre)
    withApp.diff(n)
  }
  def sliding(w: Int, op: String, minCount: Int = 1): DArray =
    wrap(SlidingVec(exprTree, w, op, minCount))
  def ffill: DArray                        = wrap(FfillVec(exprTree))

  /** Generic one-axis `map_overlap` (reference `dask_array/_overlap.py:903`
    * — the user-programmable form; diff/sliding/gradient are its pre-baked
    * instances): apply a SQL kernel over the ±depth neighborhood, taps
    * named `v_m<depth>..v_m1, v, v_p1..v_p<depth>` (plus `idx` — the
    * LOGICAL position, i.e. the caller's coordinates, not the
    * boundary-extended ones), with a boundary mode ("constant"/cv,
    * "periodic", "reflect"/"symmetric", "nearest") governing the array
    * ends — boundary-extend, stencil, trim. Needs a statically known
    * length (slice first when the leaf is unbounded), like [[boundary]]
    * itself. */
  def mapOverlap(depth: Int, kernelSql: String, boundaryMode: String = "reflect",
                 cv: Double = 0.0): DArray = {
    val n = exprTree.length
    require(n >= 0, "mapOverlap needs a statically known length — slice first")
    // the stencil runs over the extended array, whose positions sit at
    // logical + depth; rebase so the kernel's idx is the logical one
    val rebased =
      if (graft.expr.VecExpr.usesIdx(kernelSql))
        graft.expr.VecExpr.subst(kernelSql, "idx", s"idx - ${depth}L")
      else kernelSql
    boundary(depth.toLong, boundaryMode, cv)
      .stencil(depth, rebased)
      .slice(depth.toLong, depth.toLong + n)
  }

  /** Raw ±depth stencil without boundary handling: taps beyond the array
    * ends are NULL (compose with [[boundary]] — or use [[mapOverlap]]). */
  def stencil(depth: Int, kernelSql: String): DArray =
    wrap(StencilVec(exprTree, depth, kernelSql))

  // ---- IEEE float-inspection ufuncs (graft.functions.FloatInspect —
  // compositions of the native graft_bits/graft_from_bits bit casts;
  // reference _ufunc.py exports signbit/copysign/nextafter/spacing/
  // i0/ldexp) ---------------------------------------------------------------
  def signbit: DArray              = map(graft.functions.FloatInspect.signbit("v"))
  def copysign(o: DArray): DArray  = zip(o, graft.functions.FloatInspect.copysign("v1", "v2"))
  def nextafter(o: DArray): DArray = zip(o, graft.functions.FloatInspect.nextafter("v1", "v2"))
  def spacing: DArray              = map(graft.functions.FloatInspect.spacing("v"))
  def besselI0: DArray             = map(graft.functions.FloatInspect.i0("v"))
  def ldexp(n: DArray): DArray     = zip(n, graft.functions.FloatInspect.ldexp("v1", "v2"))

  // ---- execution -----------------------------------------------------------
  /** The optimized expression (for plan-structural tests, reference
    * `.ai-docs/testing.md` "Testing Optimizations"). */
  def optimized: VecExpr = Simplify(exprTree)

  /** Element table `(idx BIGINT, v DOUBLE)` after array-level optimization. */
  def elements: DataFrame = optimized.eval(ctx)

  /** Multi-aggregate reduction (reference `reduction()`,
    * `dask_array/reductions/_reduction.py:259`): Spark plans the partial +
    * final split itself — the reference's chunk/combine/aggregate tree. */
  def reduce(aggs: (String, String)*): DataFrame = {
    val cols: Seq[Column] = aggs.map { case (sql, alias) => expr(sql).as(alias) }
    elements.agg(cols.head, cols.tail: _*)
  }

  /** PUBLIC custom-reduction surface (reference `reduction(chunk, combine,
    * aggregate)`, `dask_array/reductions/_reduction.py:259`): a typed Spark
    * `Aggregator[Double, B, O]` IS the reference's 3-function contract —
    * `zero`/`reduce` ≙ chunk, `merge` ≙ combine, `finish` ≙ aggregate —
    * and Catalyst plans it as the same partial (map-side) + final tree the
    * reference builds from its chunk/combine/aggregate layers; arbitrary
    * buffer types ride the Aggregator's own encoders. */
  def reduction[B, O](agg: org.apache.spark.sql.expressions.Aggregator[Double, B, O],
                      name: String = "v"): DataFrame = {
    val sess = elements.sparkSession
    import sess.implicits._
    elements.select(col("v")).as[Double].select(agg.toColumn.name(name)).toDF()
  }

  def sum(alias: String = "sum"): DataFrame  = reduce(s"sum(v)" -> alias)
  def mean(alias: String = "mean"): DataFrame = reduce(s"avg(v)" -> alias)

  /** Positional gather (reference `take`,
    * `dask_array/slicing/_basic.py:303`): output position p holds
    * `x[indices[p]]` — an equi-join of the data against the (broadcast)
    * index table, the reference's shuffle path for disordered indices. */
  def take(indices: DArray): DataFrame =
    elements.join(
      broadcast(indices.elements
        .select(col("idx").as("p"), col("v").cast("long").as("src"))),
      col("idx") === col("src"))
      .select(col("p").as("idx"), col("v"))

  /** Gather with a LARGE indexer (reference `shuffle`,
    * `dask_array/_shuffle.py:54`): `out[p] = x[indexer[p]]` where the
    * indexer is itself a distributed array too big to broadcast — the
    * partition-regrouping gather. Plans as a hash-partitioned equi-join
    * of data against indexer on the source position: both sides shuffle
    * once on the join key, which is exactly the reference's
    * partition-group exchange. [[take]] is the broadcast-indexer fast
    * path; this is the scale path. */
  def takeLarge(indices: DArray): DataFrame =
    elements.join(
      indices.elements.select(col("idx").as("p"), col("v").cast("long").as("src")),
      col("idx") === col("src"))
      .select(col("p").as("idx"), col("v"))

  /** Membership against a test set (reference `isin`,
    * `dask_array/routines/_search.py:101`): the reference broadcasts the
    * aggregated test set to every block; here it is a broadcast LEFT SEMI
    * join — no shuffle of the big side. */
  def isin(test: DArray): DataFrame =
    elements.join(broadcast(test.elements.select(col("v")).distinct()), Seq("v"), "left_semi")
      .select(col("idx"), col("v"))

  /** numpy `piecewise` (reference `routines/_select.py` select/piecewise
    * family): numpy assigns `out[cond] = f(x[cond])` sequentially over the
    * condition list, so on overlap the LAST matching condition wins — the
    * CASE chain is therefore built over the reversed pairs. Positions
    * matching no condition take the optional default kernel (numpy's
    * default otherwise: 0). Pure elemwise — one chained CASE projection,
    * folded by Catalyst into the enclosing codegen stage. */
  def piecewise(condsOverV: Seq[String], kernels: Seq[String]): DArray = {
    require(kernels.length == condsOverV.length ||
      kernels.length == condsOverV.length + 1,
      s"need ${condsOverV.length} or ${condsOverV.length + 1} kernels, got ${kernels.length}")
    val cases = condsOverV.zip(kernels).reverse
      .map { case (c, k) => s"WHEN $c THEN CAST($k AS DOUBLE)" }.mkString(" ")
    val dflt =
      if (kernels.length > condsOverV.length) s"CAST(${kernels.last} AS DOUBLE)"
      else "CAST(0 AS DOUBLE)"
    map(s"CASE $cases ELSE $dflt END")
  }

  /** numpy `select(condlist, choicelist, default)` (reference exports
    * `select` from its routines; np.select semantics): the FIRST matching
    * condition wins — the dual of `piecewise`'s sequential-assignment
    * last-match rule. Pure elemwise CASE chain, one codegen'd
    * projection. */
  def select(condsOverV: Seq[String], kernels: Seq[String],
             default: String = "0"): DArray = {
    require(condsOverV.length == kernels.length,
      s"need ${condsOverV.length} kernels, got ${kernels.length}")
    val cases = condsOverV.zip(kernels)
      .map { case (c, k) => s"WHEN $c THEN CAST($k AS DOUBLE)" }.mkString(" ")
    map(s"CASE $cases ELSE CAST($default AS DOUBLE) END")
  }

  /** numpy `choose(a, choices)` (reference `routines/_select.py:42`,
    * variadic elemwise over np.choose): this array holds the integer
    * selector per position; the k choice arrays align on idx and the
    * selector picks one value per position. k aligned equi-joins on idx —
    * the same alignment-join family as any elemwise zip; out-of-range
    * selectors raise in numpy, here they yield NULL (filtered upstream if
    * the caller wants raise semantics). */
  def choose(choices: Seq[DArray]): DArray = {
    require(choices.nonEmpty, "choose needs at least one choice array")
    // per-choice NULL-masked picks folded with coalesce: every
    // intermediate stays a plain DOUBLE (struct carriers break when
    // fusion pushes them into an eval that casts its kernel to DOUBLE),
    // and because each pick tests the ORIGINAL selector, a picked value
    // equal to a later index can never be re-replaced. The selector is
    // consumed once per choice, but all picks share one leaf — self-zip
    // fusion collapses the chain to a single scan.
    val picks = choices.zipWithIndex.map { case (c, i) =>
      zip(c, s"CASE WHEN CAST(v1 AS INT) = $i THEN v2 END")
    }
    picks.reduce((a, b) => a.zip(b, "coalesce(v1, v2)"))
  }

  /** Bucket index per element against fixed increasing edges (reference
    * `digitize`, `dask_array/routines/_select.py:12`): pure elemwise — the
    * count of edges <= v, a chain Catalyst folds into one projection. */
  def digitize(edges: Seq[Double]): DArray =
    map(edges.map(e => s"(CASE WHEN v >= $e THEN 1 ELSE 0 END)").mkString(" + "))

  /** Distinct values (reference `union1d` building block,
    * `dask_array/routines/_unique.py:226`). */
  def uniqueValues: DataFrame = elements.select(col("v")).distinct()

  /** Distinct values with first position and count (reference `unique`
    * with `return_index`/`return_counts`,
    * `dask_array/routines/_unique.py:167,51,104`): per-block unique +
    * single aggregate in the reference ≙ one hash aggregation here. */
  def uniqueCounts: DataFrame =
    elements.groupBy(col("v"))
      .agg(expr("min(idx)").as("first_idx"), expr("count(*)").as("cnt"))

  /** Occurrence counts of small non-negative integer values (reference
    * `bincount`, `dask_array/routines/_bincount.py:39`), with optional
    * weights: `GROUP BY value` with count/sum(w) — partial aggregation
    * makes this one narrow shuffle of at most `minlength` rows/partition. */
  def bincount(weights: Option[DArray] = None): DataFrame = weights match {
    case None =>
      elements.groupBy(col("v").cast("long").as("value"))
        .agg(expr("count(*)").as("cnt"))
    case Some(w) =>
      val joined = elements.withColumnRenamed("v", "x")
        .join(w.elements.withColumnRenamed("v", "wt"), "idx")
      joined.groupBy(col("x").cast("long").as("value"))
        .agg(expr("count(*)").as("cnt"), expr("sum(wt)").as("wsum"))
  }

  /** Weighted bincount where both the bucket and the weight derive from
    * THIS array: one scan + one partial-aggregated shuffle — the
    * two-array `bincount(Some(w))` form would shuffle-join the leaf with
    * itself on idx (the same whole-exchange-that-shouldn't-exist shape
    * self-zip fusion removes in the expression layer, applied here at the
    * aggregation API level). */
  def bincountBy(bucketSqlOverV: String, weightSqlOverV: String): DataFrame =
    elements.groupBy(expr(s"CAST($bucketSqlOverV AS BIGINT)").as("value"))
      .agg(expr("count(*)").as("cnt"), expr(s"sum($weightSqlOverV)").as("wsum"))

  /** Fixed-bin histogram (reference `histogram`,
    * `dask_array/_histogram.py:41`): bucket index per element + count —
    * the per-block `np.histogram` + tree-sum collapses into Spark's
    * partial+final count. Values outside [lo,hi) are clamped. */
  def histogram(lo: Double, hi: Double, nBins: Int): DataFrame = {
    val w = (hi - lo) / nBins
    elements
      .selectExpr(s"least(greatest(CAST(floor((v - $lo) / $w) AS BIGINT), 0L), ${nBins - 1}L) AS bucket")
      .groupBy("bucket").agg(expr("count(*)").as("cnt"))
  }

  /** Weighted + density histogram (reference `histogram(weights=,
    * density=)`, `dask_array/_histogram.py:41` — per-block weighted counts
    * + tree-sum, density normalized by total weight × bin width): the
    * weight is any SQL kernel over the position `idx` and value `v`;
    * density(b) = W(b) / (ΣW · binWidth). One partial-aggregated shuffle,
    * same as the unweighted form. */
  def histogramWeighted(lo: Double, hi: Double, nBins: Int,
                        weightSql: String): DataFrame = {
    val w = (hi - lo) / nBins
    val binned = elements
      .selectExpr(
        s"least(greatest(CAST(floor((v - $lo) / $w) AS BIGINT), 0L), ${nBins - 1}L) AS bucket",
        s"CAST($weightSql AS DOUBLE) AS wt")
      .groupBy("bucket").agg(expr("sum(wt)").as("wsum"))
    // total weight joins back as a broadcast scalar (the q66 delayed-bins
    // pattern) — the normalizer is an aggregate of the tiny binned table
    binned.crossJoin(broadcast(binned.agg(expr("sum(wsum)").as("tw"))))
      .selectExpr("bucket", "wsum", s"wsum / (tw * $w) AS density")
  }

  /** Insertion index against a sorted (small, broadcast) array (reference
    * `searchsorted`, `dask_array/routines/_search.py:20` — the reference
    * also gathers the sorted side whole per block). */
  def searchsorted(sorted: DArray, side: String = "left"): DataFrame = {
    require(side == "left" || side == "right", s"side must be left/right, got $side")
    val edges = broadcast(sorted.elements.select(col("v").as("edge")))
    // numpy semantics (default side='left', same as numpy's):
    // left → count(edge < v); right → count(edge <= v)
    val cmp = if (side == "left") col("edge") < col("v") else col("edge") <= col("v")
    elements.join(edges, cmp, "left")
      .groupBy("idx", "v").agg(count(col("edge")).as("pos"))
      .select(col("idx"), col("pos"))
  }

  /** argmin/argmax with deterministic tie-breaking on position (reference
    * `dask_array/reductions/_arg_reduction.py:16`): planned as
    * TakeOrderedAndProject — per-partition top-1 + driver merge, the same
    * structured `{vals,arg}` tree the reference builds. */
  def argmax: DataFrame = elements.orderBy(col("v").desc, col("idx").asc).limit(1)
  def argmin: DataFrame = elements.orderBy(col("v").asc, col("idx").asc).limit(1)

  /** Top-k by value (reference `topk`, `dask_array/routines/_topk.py:14`):
    * Spark plans `ORDER BY ... LIMIT k` as per-partition TakeOrdered +
    * driver merge — the same per-block-topk/combine tree the reference
    * builds by hand. */
  /** k largest, sorted descending; NEGATIVE k extracts the -k smallest,
    * sorted ascending (reference `topk`, `routines/_topk.py:14-19`).
    * Either way a TakeOrdered tree — per-partition heads + driver merge
    * of numPartitions·|k| rows, never a global sort. */
  def topk(k: Int): DataFrame =
    if (k >= 0) elements.orderBy(col("v").desc, col("idx").asc).limit(k)
    else elements.orderBy(col("v").asc, col("idx").asc).limit(-k)

  /** Positions of the k largest values as an explicit rank → position map
    * (reference `argtopk`, `dask_array/routines/_topk.py:52`): the same
    * TakeOrdered tree as [[topk]]; the rank window runs over the k
    * surviving rows only (driver-bounded), never over the data. */
  def argtopk(k: Int): DataFrame = {
    // the rank window covers only the |k| TakeOrdered survivors; the
    // pmod partition key is constant-valued yet non-foldable, keeping
    // the bounded window explicitly partitioned (see BlockScan.sequential);
    // negative k ranks the smallest ascending (reference _topk.py:52)
    val ord = if (k >= 0) "v DESC, idx ASC" else "v ASC, idx ASC"
    topk(k).selectExpr(
      "CAST(row_number() OVER (PARTITION BY pmod(idx, 1) " +
        s"ORDER BY $ord) AS BIGINT) - 1 AS rank",
      "idx")
  }

  /** NaN-skipping arg reductions (reference `nanargmax`/`nanargmin`,
    * `dask_array/reductions/_arg_reduction.py:131`; NaN ≙ NULL per the
    * q33 convention) — missing positions simply leave the TakeOrdered
    * race. */
  def nanargmax: DataFrame = mask("v IS NOT NULL").argmax
  def nanargmin: DataFrame = mask("v IS NOT NULL").argmin

  /** NaN-as-identity cumulatives (reference `nancumsum`/`nancumprod`,
    * `dask_array/reductions/_cumulative.py:208`): NULL contributes the
    * identity but every position still emits its running value — numpy
    * semantics, same blocked two-phase carry as cumsum/cumprod. */
  def nancumsum: DArray  = map("coalesce(v, 0.0)").cumsum
  def nancumprod: DArray = map("coalesce(v, 1.0)").cumprod

  /** vdot (reference `vdot`: ravel both sides, conjugate dot; the real
    * case is a plain dot product): one aligned zip + full reduce — when
    * both sides project the same leaf, self-zip fusion collapses the
    * alignment join to a single scan. */
  def vdot(o: DArray): DataFrame = zip(o, "v1 * v2").reduce("sum(v)" -> "vdot")

  /** sliding_window_view (reference `sliding_window_view`,
    * `dask_array/reductions/_sliding_window.py:52`): the window table
    * `(pos, off, v)` with `v = x[pos + off]`, `0 <= off < w` — each
    * element fans out to the ≤w windows containing it via a generator
    * projection, so the expansion is NARROW (no shuffle, no self-join)
    * and windows stay grouped with their source block exactly like the
    * reference's per-chunk view. Needs a statically known length. */
  def slidingWindowView(w: Int): DataFrame = {
    require(w > 0, "window must be positive")
    val n = exprTree.length
    require(n >= 0, "sliding_window_view needs a known length — slice first")
    elements
      .selectExpr("idx", "v",
        s"explode(sequence(CAST(0 AS BIGINT), CAST(${w - 1} AS BIGINT))) AS off")
      .selectExpr("idx - off AS pos", "off", "v")
      .where(s"pos >= 0 AND pos <= ${n - w}")
  }

  /** Binary reinterpret to int64 (reference `view('i8')` — same buffer,
    * new dtype): the raw IEEE-754 bit pattern of every element, via the
    * native codegen'd `graft_bits` expression ([[graft.functions.BitsOf]]);
    * a pure projection, zero movement. Bit patterns exceed double's
    * 53-bit exact-integer range, so the result is a BIGINT DataFrame
    * rather than a DOUBLE-valued DArray. Needs
    * `GraftFunctions.register(spark)` (every SparkEntry query runs
    * behind it). */
  def viewBits: DataFrame = elements.selectExpr("idx", "graft_bits(v) AS bits")

  def pprint: String = exprTree.pprint()
  def pprintOptimized: String = optimized.pprint()
  /** Layout histogram of the (optimized) expression DAG — reference
    * `chunk_report` (see [[graft.expr.VecExpr.chunkReport]]). */
  def chunkReport(limit: Int = 8): String = optimized.chunkReport(limit)
}

object DArray {
  /** Registered typed-lambda kernels, content-keyed per session: a
    * NON-capturing lambda keys by its generated CLASS (every textual
    * lambda compiles to its own class, and with no captured state two
    * instances of it are behaviorally identical — this is what makes an
    * inline `x.mapTyped(v => ...)` re-register-free across query
    * re-construction, since Scala allocates a fresh instance per
    * evaluation of a capturing position but the class is stable); a
    * CAPTURING lambda (it has instance fields — the captured
    * environment) must key by INSTANCE, because two instances of the
    * same class can close over different values and keying them
    * together would silently run the first registration's closure.
    * Contract for capturing lambdas: hoist to a `val` if you need
    * re-registration-free re-construction — each fresh instance is a
    * fresh kernel by design.
    * The outer map holds its SparkSession keys WEAKLY: when a session is
    * collected, its kernel map (and every captured closure environment)
    * goes with it — a flat map keyed by identityHashCode would leak
    * dead-session closures for the JVM lifetime AND could resurrect a
    * stale kernel name after a hash-code collision, yielding
    * "Undefined function" at query time in the new session. */
  private val typedKernels =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[AnyRef, String]]()
  private val typedSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def kernelsOf(s: SparkSession) = typedKernels.synchronized {
    var m = typedKernels.get(s)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[AnyRef, String]()
      typedKernels.put(s, m)
    }
    m
  }

  /** Class key iff provably stateless: captured environments live in
    * instance fields, so "no fields anywhere on the class chain" proves
    * there is nothing an instance could differ by. Two guards beyond the
    * naive check: (a) walk the SUPERCLASS chain — a hand-written
    * Function1 subclass whose state lives in a parent class must not be
    * class-keyed; (b) restrict the fast path to synthetic (compiler-
    * emitted lambda) classes, the only ones where field-freeness is a
    * complete statelessness proof. Everything else keys by instance. */
  private def kernelKey(f: AnyRef): AnyRef = {
    @annotation.tailrec
    def fieldFree(c: Class[_]): Boolean =
      c == null || c == classOf[Object] ||
        (c.getDeclaredFields.isEmpty && fieldFree(c.getSuperclass))
    val c = f.getClass
    val compilerEmitted = c.isSynthetic ||
      c.getName.contains("$$Lambda") || c.getName.contains("$anonfun$")
    if (compilerEmitted && fieldFree(c)) c else f
  }

  private[graft] def registerTyped(s: SparkSession, f: Double => Double): String =
    kernelsOf(s).computeIfAbsent(kernelKey(f), { _ =>
      val name = s"graft_typed_${typedSeq.incrementAndGet()}"
      s.udf.register(name, f)
      name
    })

  private[graft] def registerTyped2(s: SparkSession, f: (Double, Double) => Double): String =
    kernelsOf(s).computeIfAbsent(kernelKey(f), { _ =>
      val name = s"graft_typed_${typedSeq.incrementAndGet()}"
      s.udf.register(name, f)
      name
    })

  /** Array view over a numeric column of a parquet table; `idxSql` must be a
    * dense deterministic position (reference `from_array`,
    * `dask_array/io/_from_array.py:60` — order is part of the data model). */
  def fromColumn(spark: SparkSession, dir: String, table: String,
                 idxSql: String, valueSql: String): DArray =
    new DArray(ColumnVec(table, idxSql, valueSql), Ctx(spark, dir))

  /** 1-block array from a deferred local computation (reference
    * `from_delayed`, `dask_array/io/_from_delayed.py:15,102`): the thunk
    * evaluates INSIDE the Spark task, not on the driver — see
    * [[graft.DelayedVec]]. Plan identity keys on the thunk INSTANCE
    * (pass the same function reference twice to share one evaluation);
    * `label` is a human-readable tag for diagnostics. */
  def fromDelayed(spark: SparkSession, dir: String, label: String)
                 (thunk: () => Array[Double]): DArray =
    new DArray(DelayedVec(thunk, label), Ctx(spark, dir))

  /** Wrap an existing DataFrame as a 1-d array (reference `from_graph`,
    * `dask_array/io/_from_graph.py:12,133` — adopt a prebuilt graph; the
    * graph here is the frame's Catalyst plan). `idxSql` must be a dense
    * deterministic position over the frame. */
  def fromGraph(spark: SparkSession, dir: String, source: DataFrame,
                idxSql: String, valueSql: String): DArray =
    new DArray(GraphVec(source, idxSql, valueSql), Ctx(spark, dir))

  /** numpy name: `asarray` — the from_array alias (reference re-exports
    * both; any positioned column IS already an array here). */
  def asarray(spark: SparkSession, dir: String, table: String,
              idxSql: String, valueSql: String): DArray =
    fromColumn(spark, dir, table, idxSql, valueSql)

  /** arange (reference `dask_array/creation/_arange.py:16`). */
  def arange(spark: SparkSession, dir: String, start: Double, stop: Double, step: Double): DArray = {
    val n = math.max(0L, math.ceil((stop - start) / step).toLong)
    new DArray(RangeVec(start, step, n), Ctx(spark, dir))
  }

  /** linspace (reference `dask_array/creation/_linspace.py:15`). */
  def linspace(spark: SparkSession, dir: String, start: Double, stop: Double, num: Long): DArray = {
    val step = if (num > 1) (stop - start) / (num - 1) else 0.0
    new DArray(RangeVec(start, step, num), Ctx(spark, dir))
  }
}
