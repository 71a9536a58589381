package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lazy N-dimensional array of any rank as an element table
  * `(n0 BIGINT, …, n{r-1} BIGINT, v DOUBLE)` — the one element-table core,
  * the general form of the reference's chunked N-d array (reference
  * `dask_array/_expr.py:221`, chunks as a rank-length tuple; axis-tuple
  * reductions `reductions/_reduction.py:89-95`; transpose
  * `manipulation/_transpose.py:14`; reshape `_reshape.py:132`).
  *
  * The coordinate column names are a field: `c0 … c{r-1}` for arrays built
  * here, `i`, `j` for the rank-2 [[DMatrix]] view, which keeps only the
  * 2-d kernels whose plans really differ (matmul, tiled matmul, gram,
  * kron, …) and calls these ops for everything else. Ops that keep the
  * rank keep the names; ops that change it name their output `c0 …`.
  * [[DArray]] (rank 1) keeps its own slice-pushdown expression layer.
  *
  * Density. Absent cells read as zero (the repo-wide implicit-zero
  * convention), and `dense` is the static fact that every grid cell is
  * present. `tabulate`, `densify` and the ops that keep every cell (shape
  * ops, dense⊗dense `zip` and contraction) are dense; `triu`/`tril`,
  * `mask`, `fromFlat` (store reads), zero pads and the [[DMatrix]]
  * `eye`/`diagOf`/`matmulTiled` outputs are gapped. The fact picks the
  * plan, so dense inputs pay nothing for the convention:
  *  - `zip` of two dense arrays is an inner equi-join; a gapped operand
  *    takes the full outer join with zero fill;
  *  - `map` on a dense array is a plain projection; on a gapped one the
  *    kernel's f(0) is probed once ([[NdArray.zeroPreserving]]), and a
  *    kernel with f(0) ≠ 0 densifies first.
  *
  * Each coordinate is its own BIGINT column, so
  *  - transpose is a pure column-rename projection (zero movement),
  *  - an axis-subset reduction is ONE groupBy on the kept coordinate
  *    columns — one partial-aggregated shuffle no matter how many axes
  *    collapse at once,
  *  - slicing is a conjunctive range predicate Catalyst pushes to the scan,
  *  - reshape is exact integer ravel/unravel arithmetic in a projection,
  *  - tensordot joins on the contracted coordinates and aggregates over
  *    the kept ones — the SUMMA join+agg plan at any rank.
  * All ops stay fully declarative: Catalyst sees plain projections, range
  * predicates, equi-joins and groupBys, so pushdown/pruning/AQE apply
  * unchanged at any rank.
  */
final class NdArray(val df: DataFrame, val shape: Seq[Long], val dense: Boolean,
                    val names: Seq[String]) {
  require(shape.nonEmpty && shape.forall(_ >= 0), s"bad shape $shape")
  require(names.length == shape.length && names.distinct == names,
    s"need ${shape.length} distinct coordinate names, got $names")

  def rank: Int = shape.length
  def size: Long = shape.product

  /** Coordinate names of a rank-`r` result: this array's own when the
    * rank is kept, `c0 …` when it changes. */
  private def namesOf(r: Int): Seq[String] = if (r == rank) names else NdArray.axes(r)

  /** Row-major strides: stride(i) = product of shape(i+1..). */
  private def strides(s: Seq[Long]): Seq[Long] =
    s.scanRight(1L)(_ * _).tail

  // ---- elemwise ------------------------------------------------------------

  /** Elemwise kernel. A dense array is a plain projection. On a gapped
    * one the kernel must see the absent cells too when f(0) ≠ 0: the
    * kernel is probed once driver-side ([[NdArray.zeroPreserving]]), and
    * only zero-preserving kernels take the narrow gapped projection;
    * others densify first (their output is a dense grid regardless, so
    * the fill is inherent, not overhead). */
  def map(sqlOverV: String): NdArray =
    if (dense || NdArray.zeroPreserving(df.sparkSession, sqlOverV)) project(sqlOverV)
    else densify.map(sqlOverV)

  private def project(sqlOverV: String): NdArray =
    new NdArray(df.selectExpr(names :+ s"CAST($sqlOverV AS DOUBLE) AS v": _*),
      shape, dense, names)

  /** Materialize every grid cell: absent cells become explicit 0.0 rows.
    * A generated full-grid left join — the bridge from the gapped
    * convention to numpy's dense semantics when an operator needs to
    * touch the zeros. Always builds the join, dense input or not. */
  def densify: NdArray = {
    val st = strides(shape)
    val grid = df.sparkSession.range(size).selectExpr(shape.indices.map { a =>
      val q = if (st(a) == 1L) "id" else s"id DIV ${st(a)}"
      val c = if (a == 0) q else if (st(a) == 1L) s"id % ${shape(a)}" else s"($q) % ${shape(a)}"
      s"$c AS ${names(a)}"
    }: _*)
    new NdArray(
      grid.join(df, names, "left")
        .select(names.map(col) :+ coalesce(col("v"), lit(0.0)).as("v"): _*),
      shape, dense = true, names)
  }

  /** Aligned elemwise combine — equi-join on all coordinates. Two dense
    * operands have no absent keys, so the join is a plain inner join.
    * With a gapped operand it is FULL OUTER with absent cells read as
    * 0.0 (the implicit-zero convention): a gapped table combines as if its
    * missing positions held zero instead of silently dropping the other
    * side's elements. When both are gapped and the kernel maps (0, 0) to
    * a nonzero value, this side densifies first. */
  def zip(o: NdArray, sqlOverV1V2: String): NdArray = {
    require(shape == o.shape, s"shape mismatch $shape vs ${o.shape}")
    require(names == o.names, s"coordinate names differ: $names vs ${o.names}")
    if (!dense && !o.dense && !NdArray.zeroPreserving(df.sparkSession, sqlOverV1V2))
      densify.zip(o, sqlOverV1V2)
    else {
      val l = df.withColumnRenamed("v", "v1")
      val r = o.df.withColumnRenamed("v", "v2")
      // USING-column joins coalesce the coordinate keys
      val joined =
        if (dense && o.dense) l.join(r, names)
        else l.join(r, names, "full_outer").na.fill(0.0, Seq("v1", "v2"))
      new NdArray(
        joined.selectExpr(names :+ s"CAST($sqlOverV1V2 AS DOUBLE) AS v": _*),
        shape, dense || o.dense, names)
    }
  }

  /** Boolean mask over values/coordinates (`x[mask]` analogue — keeps
    * coordinates, argwhere-style). Operates on PRESENT cells and drops
    * the rest, so the result is gapped: a predicate that should match
    * implicit zeros needs [[densify]] first. */
  def mask(predOverCoordsV: String): NdArray =
    new NdArray(df.where(predOverCoordsV), shape, dense = false, names)

  /** Mask-valued assignment `x[cond] = value` (SetItem bool path). The
    * predicate may read coordinates, so it cannot be probed at zero: a
    * gapped array densifies first, so implicit zeros are assigned too. */
  def setWhere(predOverCoordsV: String, value: Double): NdArray =
    (if (dense) this else densify)
      .project(s"CASE WHEN $predOverCoordsV THEN CAST($value AS DOUBLE) ELSE v END")

  /** Keep the upper triangle of the last two axes at offset k (reference
    * `triu`, `routines/_triangular.py:12`): a coordinate predicate, the
    * dropped cells are implicit zeros. */
  def triu(k: Long = 0): NdArray = triangle(_ >= k)
  def tril(k: Long = 0): NdArray = triangle(_ <= k)

  private def triangle(keep: Column => Column): NdArray = {
    require(rank >= 2, s"triangle needs rank >= 2, got $rank")
    new NdArray(df.where(keep(col(names(rank - 1)) - col(names(rank - 2)))),
      shape, dense = false, names)
  }

  // ---- shape ---------------------------------------------------------------

  /** Axis permutation (numpy `transpose(perm)`): output axis a reads input
    * axis perm(a) — a pure projection, no data movement. */
  def transpose(perm: Seq[Int]): NdArray = {
    require(perm.sorted == (0 until rank), s"bad permutation $perm for rank $rank")
    val proj = perm.zipWithIndex.map { case (src, dst) => s"${names(src)} AS ${names(dst)}" } :+ "v"
    new NdArray(df.selectExpr(proj: _*), perm.map(shape), dense, names)
  }

  /** numpy `rollaxis(a, axis, start)` (reference exports it alongside
    * moveaxis): roll `axis` until it lies before position `start` —
    * numpy's quirky rule reduces to a moveaxis with the destination
    * shifted down by one when the axis starts left of `start`. */
  def rollaxis(axis: Int, start: Int = 0): NdArray = {
    require(axis >= 0 && axis < rank && start >= 0 && start <= rank)
    val dst = if (axis < start) start - 1 else start
    if (dst == axis) this else moveaxis(axis, dst)
  }

  /** swapaxes (reference `manipulation/_transpose.py:63`): the 2-cycle
    * special case of [[transpose]] — still a pure projection. */
  def swapaxes(a: Int, b: Int): NdArray = {
    require(a >= 0 && a < rank && b >= 0 && b < rank, s"bad axes ($a,$b) for rank $rank")
    val p = (0 until rank).toArray
    p(a) = b; p(b) = a
    transpose(p.toSeq)
  }

  /** moveaxis(src, dst) (reference `manipulation/_transpose.py:24`):
    * remove axis `src`, reinsert it at position `dst` — numpy's
    * order-insertion construction over [[transpose]]. */
  def moveaxis(src: Int, dst: Int): NdArray = {
    require(src >= 0 && src < rank && dst >= 0 && dst < rank, s"bad move $src->$dst")
    val rest = (0 until rank).filterNot(_ == src)
    transpose((rest.take(dst) :+ src) ++ rest.drop(dst))
  }

  /** apply_over_axes (reference `routines/_apply.py:10`): reduce the
    * given axes but KEEP them as size-1 dims — numpy's keepdims contract.
    * Still ONE groupBy shuffle ([[reduceAxes]]); the size-1 axes come
    * back as constant-coordinate projections ([[expandDims]]). */
  def applyOverAxes(axes: Seq[Int], sqlAggOverV: String): NdArray = {
    val reduced = reduceAxes(axes, sqlAggOverV)
    axes.sorted.foldLeft(reduced)((a, ax) => a.expandDims(ax))
  }

  /** Rectangular slice: per-axis half-open bounds, coordinates rebased to
    * zero. Bounds are a conjunction of range predicates — Catalyst pushes
    * them through any stack of NdArray projections to the scan. */
  def slice(bounds: Seq[(Long, Long)]): NdArray = {
    require(bounds.length == rank, s"need $rank bounds")
    bounds.zip(shape).foreach { case ((lo, hi), n) =>
      require(lo >= 0 && lo < hi && hi <= n, s"bad bounds $bounds for $shape")
    }
    sliceBy(bounds.map { case (lo, hi) => (lo, hi, 1L) })
  }

  /** Strided slice `[lo:hi:step)` per axis (reference strided basic
    * indexing, `slicing/_basic.py:357`), unchecked: the range predicates
    * clip out-of-grid bounds and an empty range gives a zero extent. With
    * any step ≠ 1, every axis adds a modular filter and DIV-rebases. */
  private[graft] def sliceBy(bounds: Seq[(Long, Long, Long)]): NdArray = {
    require(bounds.length == rank && bounds.forall(_._3 > 0), s"bad strided bounds $bounds")
    val axes = bounds.zip(names)
    val strided = bounds.exists(_._3 != 1L)
    val inRange = df.where(axes.map { case ((lo, hi, _), c) => s"$c >= $lo AND $c < $hi" }
      .mkString(" AND "))
    val kept =
      if (!strided) inRange
      else inRange.where(axes.map { case ((lo, _, st), c) => s"($c - $lo) % $st = 0" }
        .mkString(" AND "))
    val rebased = axes.map { case ((lo, _, st), c) =>
      if (strided) s"($c - $lo) DIV $st AS $c" else s"$c - $lo AS $c"
    } :+ "v"
    new NdArray(kept.selectExpr(rebased: _*),
      bounds.map { case (lo, hi, st) => math.max(0L, (hi - lo + st - 1) / st) }, dense, names)
  }

  /** Row-major flat index of a cell, as SQL over the coordinates. */
  private def flatIndex: String =
    names.zip(strides(shape)).map { case (c, st) => s"$c * ${st}L" }.mkString(" + ")

  /** Row-major reshape (reference `_reshape.py:132`): exact integer
    * ravel on the old strides, unravel on the new — one projection. */
  def reshape(newShape: Seq[Long]): NdArray = {
    require(newShape.product == size, s"reshape $shape -> $newShape size mismatch")
    val nst = strides(newShape)
    val out = namesOf(newShape.length)
    val proj = newShape.indices.map { a =>
      s"(($flatIndex) DIV ${nst(a)}L) % ${newShape(a)}L AS ${out(a)}"
    } :+ "v"
    new NdArray(df.selectExpr(proj: _*), newShape, dense, out)
  }

  /** Flatten to the 1-d element table `(idx, v)`. */
  def ravel: DataFrame = df.selectExpr(s"($flatIndex) AS idx", "v")

  /** Reverse one axis — pure coordinate remap (reference `flip`,
    * `manipulation/_flip.py:10`). */
  def flip(axis: Int): NdArray = {
    require(axis >= 0 && axis < rank)
    val proj = (0 until rank).map { a =>
      if (a == axis) s"${shape(a) - 1}L - ${names(a)} AS ${names(a)}" else names(a)
    } :+ "v"
    new NdArray(df.selectExpr(proj: _*), shape, dense, names)
  }

  /** Circular shift along one axis — coordinate remap (reference `roll`,
    * `manipulation/_roll.py:8`). */
  def roll(axis: Int, s: Long): NdArray = {
    require(axis >= 0 && axis < rank)
    val n = shape(axis)
    val sh = ((s % n) + n) % n
    val proj = (0 until rank).map { a =>
      if (a == axis) s"(${names(a)} + ${sh}L) % ${n}L AS ${names(a)}" else names(a)
    } :+ "v"
    new NdArray(df.selectExpr(proj: _*), shape, dense, names)
  }

  /** Concatenate along one axis — zero-movement union with an offset on
    * the concat axis (reference `Concatenate`,
    * `stacking/_concatenate.py:20`); all other extents must match. */
  def concat(o: NdArray, axis: Int): NdArray = {
    require(o.rank == rank && axis >= 0 && axis < rank)
    require(o.names == names, s"coordinate names differ: $names vs ${o.names}")
    (0 until rank).foreach { a =>
      require(a == axis || shape(a) == o.shape(a),
        s"concat axis $axis: extent mismatch at axis $a ($shape vs ${o.shape})")
    }
    val off = shape(axis)
    val shifted = o.df.selectExpr((0 until rank).map { a =>
      if (a == axis) s"${names(a)} + ${off}L AS ${names(a)}" else names(a)
    } :+ "v": _*)
    new NdArray(df.unionByName(shifted),
      shape.updated(axis, shape(axis) + o.shape(axis)), dense && o.dense, names)
  }

  /** Constant-pad one axis (numpy `pad` constant mode at any rank —
    * reference `creation/_pad.py:17`): `before`/`after` hyperslabs of
    * `cv` concatenated along the axis. Zero fill adds NOTHING to the
    * element table (implicit-zero convention) — the pads are pure
    * coordinate shifts; nonzero fill generates the two slabs from
    * `spark.range` tabulates. */
  def padAxis(axis: Int, before: Long, after: Long, cv: Double = 0.0): NdArray = {
    require(axis >= 0 && axis < rank && before >= 0 && after >= 0)
    val spark = df.sparkSession
    def slab(extent: Long): Option[NdArray] =
      if (extent == 0) None
      else Some(NdArray.grid(spark, shape.updated(axis, extent), names, cv.toString))
    if (cv == 0.0) {
      // pads are implicit zeros: just shift the axis coordinate
      val proj = (0 until rank).map { a =>
        if (a == axis) s"${names(a)} + ${before}L AS ${names(a)}" else names(a)
      } :+ "v"
      new NdArray(df.selectExpr(proj: _*),
        shape.updated(axis, before + shape(axis) + after), dense && before + after == 0, names)
    } else {
      val mid = this
      val withBefore = slab(before).map(_.concat(mid, axis)).getOrElse(mid)
      slab(after).map(withBefore.concat(_, axis)).getOrElse(withBefore)
    }
  }

  /** N-d `pad` with the non-constant numpy modes along one axis
    * (reference `pad`, `creation/_pad.py:17` — rank-generic): pure slab
    * composition of the existing slice/flip/broadcast/concat primitives,
    * exactly the 1-d [[graft.DArray.boundary]] recipe lifted to any rank.
    * Modes: `edge` (repeat the border hyperplane), `wrap` (periodic),
    * `reflect`/`symmetric` (mirror incl. the edge — dask-overlap
    * "reflect"), `reflect_strict` (numpy's edge-excluding reflect).
    * Chain calls for multiple axes (numpy pads axes independently). */
  def padAxisMode(axis: Int, before: Long, after: Long, mode: String): NdArray = {
    require(axis >= 0 && axis < rank && before >= 0 && after >= 0)
    val n = shape(axis)
    def ax(lo: Long, hi: Long): NdArray =
      slice(shape.indices.map(a => if (a == axis) (lo, hi) else (0L, shape(a))))
    def slab(extent: Long, left: Boolean): Option[NdArray] =
      if (extent == 0) None
      else Some(mode match {
        case "edge" =>
          (if (left) ax(0, 1) else ax(n - 1, n)).broadcastAxis(axis, extent)
        case "wrap" =>
          if (left) ax(n - extent, n) else ax(0, extent)
        case "reflect" | "symmetric" =>
          (if (left) ax(0, extent) else ax(n - extent, n)).flip(axis)
        case "reflect_strict" =>
          require(extent < n, s"reflect_strict needs pad depth $extent < axis extent $n")
          (if (left) ax(1, extent + 1) else ax(n - extent - 1, n - 1)).flip(axis)
        case other => throw new IllegalArgumentException(s"pad mode $other")
      })
    // wrap/reflect slabs read at most one whole period/mirror; edge
    // broadcasts the border hyperplane so any width is fine (numpy allows
    // edge pads wider than the axis)
    require(mode == "reflect_strict" || mode == "edge" || before <= n && after <= n,
      s"pad depth exceeds axis extent $n for mode $mode")
    val withBefore = slab(before, left = true).map(_.concat(this, axis)).getOrElse(this)
    slab(after, left = false).map(withBefore.concat(_, axis)).getOrElse(withBefore)
  }

  /** Broadcast a size-1 axis to extent `n` (numpy broadcasting /
    * reference `broadcast_to`): a generated cross join against
    * `spark.range(n)` — the same BroadcastTrick shape as the 2-d outer
    * pattern; Spark broadcasts the tiny range side. */
  def broadcastAxis(axis: Int, n: Long): NdArray = {
    require(axis >= 0 && axis < rank && shape(axis) == 1,
      s"axis $axis extent ${shape(axis)} must be 1 to broadcast")
    require(n > 0)
    val spark = df.sparkSession
    val reps = org.apache.spark.sql.functions.broadcast(
      spark.range(n).toDF("rep__"))
    val proj = (0 until rank).map { a =>
      if (a == axis) s"rep__ AS ${names(a)}" else names(a)
    } :+ "v"
    new NdArray(df.crossJoin(reps).selectExpr(proj: _*), shape.updated(axis, n), dense, names)
  }

  /** Drop a size-1 axis / insert one — coordinate projections. */
  def squeeze(axis: Int): NdArray = {
    require(shape(axis) == 1, s"axis $axis has extent ${shape(axis)}")
    val kept = (0 until rank).filterNot(_ == axis)
    val out = namesOf(kept.length)
    val proj = kept.zipWithIndex.map { case (src, dst) => s"${names(src)} AS ${out(dst)}" } :+ "v"
    new NdArray(df.selectExpr(proj: _*), kept.map(shape), dense, out)
  }
  def expandDims(axis: Int): NdArray = {
    require(axis >= 0 && axis <= rank)
    val out = namesOf(rank + 1)
    def as(src: String, dst: String) = if (src == dst) src else s"$src AS $dst"
    val proj = (0 until rank + 1).map { a =>
      if (a < axis) as(names(a), out(a)) else if (a == axis) s"CAST(0 AS BIGINT) AS ${out(a)}"
      else s"${names(a - 1)} AS ${out(a)}"
    } :+ "v"
    new NdArray(df.selectExpr(proj: _*),
      (shape.take(axis) :+ 1L) ++ shape.drop(axis), dense, out)
  }

  // ---- reductions ----------------------------------------------------------

  /** Reduce away the given axes (numpy `sum(axis=(…))`, reference axis
    * tuples `reductions/_reduction.py:89-95`): ONE groupBy on the kept
    * coordinates, renamed densely — a single partial-aggregated shuffle
    * regardless of how many axes collapse. Reducing all axes yields a
    * rank-0 single-row frame (column `v` only). */
  def reduceAxes(drop: Seq[Int], sqlAggOverV: String): NdArray = {
    require(drop.nonEmpty && drop.forall(a => a >= 0 && a < rank) &&
      drop.distinct.length == drop.length, s"bad axes $drop")
    val kept = (0 until rank).filterNot(drop.contains)
    if (kept.isEmpty) {
      val out = namesOf(1)
      new NdArray(
        df.agg(expr(sqlAggOverV).cast("double").as("v"))
          .selectExpr(s"CAST(0 AS BIGINT) AS ${out.head}", "v"), Seq(1L), dense = true, out)
    } else {
      val agged = df.groupBy(kept.map(a => col(names(a))): _*)
        .agg(expr(sqlAggOverV).cast("double").as("v"))
      val out = namesOf(kept.length)
      val proj = kept.zipWithIndex.map { case (src, dst) => s"${names(src)} AS ${out(dst)}" } :+ "v"
      new NdArray(agged.selectExpr(proj: _*), kept.map(shape), dense, out)
    }
  }

  /** N-d block-local downsampling (reference `coarsen`,
    * `dask_array/routines/_coarsen.py:42` — the 1-d [[graft.expr.CoarsenVec]]
    * generalized): reduce each `factors(0)×…×factors(r-1)` neighborhood
    * with one SQL aggregate — `GROUP BY (cᵢ div kᵢ)`, a single
    * map-side-combinable aggregation at any rank. `trimExcess` follows
    * the reference's flag: trim ragged edges first (numpy-strict
    * otherwise: every extent must divide). A gapped array is densified
    * first: its absent cells are zeros, and count-sensitive aggregates
    * like avg must see them. The result is dense. */
  def coarsen(factors: Seq[Long], sqlAggOverV: String,
              trimExcess: Boolean = false): NdArray = {
    require(factors.length == rank && factors.forall(_ > 0), s"bad factors $factors")
    require(shape.zip(factors).forall { case (n, k) => n >= k },
      s"factors $factors exceed extents $shape — even trimExcess has nothing left")
    val src = if (dense) this else densify
    val base =
      if (trimExcess) src.slice(shape.zip(factors).map { case (n, k) => (0L, n - n % k) })
      else {
        require(shape.zip(factors).forall { case (n, k) => n % k == 0 },
          s"shape $shape not divisible by $factors (pass trimExcess=true to trim)")
        src
      }
    val keys = (0 until rank).map(a => expr(s"${names(a)} DIV ${factors(a)}").as(names(a)))
    new NdArray(
      base.df.groupBy(keys: _*).agg(expr(sqlAggOverV).cast("double").as("v")),
      base.shape.zip(factors).map { case (n, k) => n / k }, dense = true, names)
  }

  /** Cumulative reduction along one axis at any rank (numpy
    * `cumsum/cummin/cummax/cumprod(axis=k)`, any [[graft.expr.BlockScan]]
    * op; reference `reductions/_cumulative.py:100` runs the same per-block
    * scan + carry chain per line). Scale shape: each "line" (fixed other
    * coordinates) is cut into `blockSize` pieces — the in-line prefix
    * scan runs in a window partitioned by (block, line), so no window
    * group ever exceeds `blockSize` rows no matter how long the axis is;
    * block totals carry forward through a window partitioned by line
    * over the O(axisLen/blockSize) block rows. Never a whole-line (let
    * alone global) unpartitioned sort. The running value needs every
    * cell of a line, so a gapped array is densified first (its absent
    * cells are zeros that count); the result is dense. */
  def cumAxis(axis: Int, op: String = "sum", blockSize: Long = 1024L): NdArray = {
    require(axis >= 0 && axis < rank, s"bad axis $axis for rank $rank")
    val scan = graft.expr.BlockScan.op(op, order = col(names(axis)))
    val base = (if (dense) df else densify.df)
      .withColumn("blk", expr(s"${names(axis)} DIV $blockSize"))
    val lines = (0 until rank).filterNot(_ == axis).map(names)
    new NdArray(
      graft.expr.BlockScan.sequential(base, scan, col(names(axis)), lines)
        .select(names.map(col) :+ scan.value.cast("double").as("v"): _*),
      shape, dense = true, names)
  }

  /** Difference along one axis (numpy `diff(axis=k)`): a pure composition
    * of two rectangular slices and the aligned zip —
    * `out[…,c,…] = x[…,c+1,…] - x[…,c,…]`, axis extent shrinks by 1.
    * Both slices are range predicates pushed to the scan; the zip is one
    * coordinate-aligned join. */
  def diffAxis(axis: Int): NdArray = {
    require(axis >= 0 && axis < rank, s"bad axis $axis for rank $rank")
    require(shape(axis) >= 2, s"axis $axis extent ${shape(axis)} too short to diff")
    val full = shape.map(n => (0L, n))
    val hi = slice(full.updated(axis, (1L, shape(axis))))
    val lo = slice(full.updated(axis, (0L, shape(axis) - 1)))
    hi.zip(lo, "v1 - v2")
  }

  // ---- stencils ------------------------------------------------------------

  /** Ghost-extend one axis by `h` cells on each side (the rank-generic
    * halo primitive behind [[stencilSum]]): the axis coordinate shifts up
    * by `h` and two ghost slabs join the union, each a BIJECTIVE
    * coordinate remap of a border slab — `reflect` (numpy 'symmetric':
    * ghost at distance d reads the d-th cell from the edge) or `wrap`
    * (periodic). Pure narrow projections + union: no shuffle, matching
    * the 1-d/2-d halo design (`Blocked.withHalo`). Folding this
    * per axis composes corner ghosts automatically (a later axis extends
    * the earlier axis's ghosts too). */
  /** Ghost-extend every axis in ONE scan: each cell explodes to its
    * ghost IMAGES (extended coords — axis a's domain becomes
    * [0, n+2h), the core cell c landing at c+h, plus its boundary
    * image when c sits within halo of an edge). The first cut
    * union-chained a per-axis (core ∪ lo-slab ∪ hi-slab) extension,
    * which multiplies to 3^rank scan LEAVES of the input — 27 parquet
    * re-reads at rank 3 (thin, filter-pruned, but 27 plan branches
    * Catalyst must plan, codegen, and schedule every run). The explode
    * form scans once and emits ≤ 3 images per halo'd axis per row —
    * the same output rows, the same single groupBy shuffle in the
    * caller, and a plan whose size no longer grows with 3^rank. */
  private def ghostImages(halos: Seq[Long], mode: String): NdArray = {
    var cur = df
    for (a <- 0 until rank if halos(a) > 0) {
      val h = halos(a)
      val n = shape(a)
      val c = names(a)
      require(h <= n, s"halo $h exceeds axis $a extent $n")
      val images = mode match {
        case "reflect" =>
          // core c+h; sources c in [0,h) also at h-1-c; c in [n-h,n)
          // also at h+2n-1-c (mirror with edge repeat, numpy 'symmetric'
          // ghost convention the oracle replays)
          s"filter(array($c + ${h}L, " +
            s"IF($c < ${h}L, ${h - 1}L - $c, NULL), " +
            s"IF($c >= ${n - h}L, ${h + 2 * n - 1}L - $c, NULL)), " +
            "x -> x IS NOT NULL)"
        case "wrap" =>
          // core c+h; sources c in [n-h,n) also at c-(n-h); c in [0,h)
          // also at c+h+n (torus)
          s"filter(array($c + ${h}L, " +
            s"IF($c >= ${n - h}L, $c - ${n - h}L, NULL), " +
            s"IF($c < ${h}L, $c + ${h + n}L, NULL)), " +
            "x -> x IS NOT NULL)"
        case other => sys.error(s"unsupported ghost mode '$other' (reflect/wrap)")
      }
      cur = cur.selectExpr(
        (0 until rank).filter(_ != a).map(names) ++
          Seq(s"explode($images) AS $c", "v"): _*)
    }
    new NdArray(cur.selectExpr(names :+ "v": _*),
      (0 until rank).map(x => shape(x) + 2 * halos(x)), dense, names)
  }

  /** Rank-generic weighted-sum stencil — `map_overlap` at ANY rank for
    * linear kernels (Laplacian, Sobel, box sums; the reference's
    * `map_overlap` is rank-generic, `_overlap.py:143`):
    * `out[c] = Σ_k w_k · x[b(c + off_k)]` with boundary `b` one of
    * `constant` (out-of-domain reads contribute 0), `reflect`, `wrap`.
    *
    * Scale shape: ghost slabs are narrow per-axis coordinate remaps (no
    * shuffle), each stencil tap is a coordinate-shift projection of the
    * same extended table, and the taps union into ONE partial-aggregated
    * groupBy — a single shuffle regardless of rank or stencil size,
    * never a per-tap join chain. */
  def stencilSum(taps: Seq[(Seq[Long], Double)],
                 boundary: String = "constant"): NdArray = {
    val contrib = stencilContrib(taps.map(_._1), Some(taps.map(_._2)),
      boundary, "v * w")
    new NdArray(
      contrib.groupBy(names.map(col): _*)
        .agg(sum("v").cast("double").as("v")),
      shape, stencilDense(boundary), names)
  }

  /** A stencil over a dense array fills every cell when the ghosts give
    * each cell a full neighborhood; with `constant` edges a cell may see
    * no in-domain tap at all, so that output counts as gapped. */
  private def stencilDense(boundary: String): Boolean = dense && boundary != "constant"

  /** Shared stencil scaffolding (one definition for the linear
    * [[stencilSum]] and nonlinear [[stencilAgg]] paths, so the halo /
    * ghost / shift / bounds conventions can never desynchronize):
    * ghost-extend each axis by the offsets' halo, broadcast the tiny tap
    * table (offsets + optional weight column `w`), and remap every input
    * cell to each target it contributes to in ONE scan — a per-tap union
    * would re-scan the 3^rank ghost union once per tap (the first cut did
    * exactly that: 7 taps × 27 branches = 189 scans of the same table,
    * and Catalyst paid for every one in planning + codegen). The single
    * groupBy shuffle happens in the caller; `valueExpr` projects the
    * contribution (`v`, and `w` when weights are given) as column v. */
  private def stencilContrib(offsets: Seq[Seq[Long]],
                             weights: Option[Seq[Double]],
                             boundary: String, valueExpr: String): DataFrame = {
    require(offsets.nonEmpty && offsets.forall(_.length == rank),
      s"offsets must carry one component per axis (rank $rank)")
    val halos = (0 until rank).map(a => offsets.map(off => math.abs(off(a))).max)
    val ext =
      if (boundary == "constant") this
      else ghostImages(halos.map(_.toLong), boundary)
    val shift = if (boundary == "constant") Seq.fill(rank)(0L) else halos.map(_.toLong)
    val inBounds = (0 until rank).map(a => s"${names(a)} >= 0 AND ${names(a)} < ${shape(a)}")
      .mkString(" AND ")
    val spark = df.sparkSession
    val tapRows = offsets.zipWithIndex.map { case (off, t) =>
      org.apache.spark.sql.Row.fromSeq(off ++ weights.map(w => Seq(w(t))).getOrElse(Nil))
    }
    val tapSchema = org.apache.spark.sql.types.StructType(
      (0 until rank).map(a => org.apache.spark.sql.types.StructField(
        s"off$a", org.apache.spark.sql.types.LongType, nullable = false)) ++
        weights.map(_ => org.apache.spark.sql.types.StructField(
          "w", org.apache.spark.sql.types.DoubleType, nullable = false)))
    val tapDf = broadcast(
      spark.createDataFrame(spark.sparkContext.parallelize(tapRows, 1), tapSchema))
    ext.df.crossJoin(tapDf)
      .selectExpr((0 until rank).map { a =>
        s"${names(a)} - ${shift(a)}L - off$a AS ${names(a)}"
      } :+ s"$valueExpr AS v": _*)
      .where(inBounds)
  }

  /** Rank-generic NEIGHBORHOOD-AGGREGATE stencil — `map_overlap` at any
    * rank for nonlinear kernels ([[stencilSum]] covers the linear ones):
    * `out[c] = agg { x[b(c + off_k)] }` for ANY SQL aggregate over the
    * neighbor values — `max(v)` / `min(v)` are morphological
    * dilation/erosion, `percentile(v, 0.5)` the median filter,
    * `avg(v)`/`count(v)` box statistics.
    *
    * Same scale shape as stencilSum: per-axis ghost slabs (narrow
    * bijective remaps, no shuffle), ONE scan of the extended table
    * cross-joined against the tiny broadcast offset list, one
    * partial-aggregated groupBy — a single shuffle at any rank and any
    * neighborhood size. With `boundary = "constant"` out-of-domain
    * neighbors are ABSENT (they don't participate in the aggregate —
    * numpy's 'valid'-edge treatment for order statistics); use
    * `reflect`/`wrap` to give every cell a full neighborhood.
    *
    * Caveat (implicit-zero convention): absent zero cells are invisible
    * to order statistics — run order-statistic stencils over dense
    * tables (tabulate with a nonzero kernel, or densified reads). */
  def stencilAgg(offsets: Seq[Seq[Long]], aggSqlOverV: String,
                 boundary: String = "constant"): NdArray = {
    val contrib = stencilContrib(offsets, None, boundary, "v")
    new NdArray(
      contrib.groupBy(names.map(col): _*)
        .agg(expr(aggSqlOverV).cast("double").as("v")),
      shape, stencilDense(boundary), names)
  }

  // ---- contraction ---------------------------------------------------------

  /** General tensordot (reference `linalg/_tensordot.py:194-316`):
    * contract this array's axes `axesA` against `o`'s `axesB` (matching
    * extents, pairwise). The plan is rank-generic SUMMA: equi-join on the
    * contracted coordinate pairs, groupBy the kept coordinates of both
    * sides (this array's kept axes first, then `o`'s), sum of products —
    * one shuffle per side + one partial-aggregated shuffle out. */
  def tensordot(o: NdArray, axesA: Seq[Int], axesB: Seq[Int]): NdArray = {
    require(axesA.length == axesB.length && axesA.nonEmpty, "axis lists must match")
    // numpy rejects repeated or out-of-range contraction axes; a duplicate
    // here would pass the extent check yet compute a different contraction
    require(axesA.distinct.length == axesA.length &&
      axesA.forall(a => a >= 0 && a < rank),
      s"bad axesA $axesA for rank $rank (must be distinct, in [0,$rank))")
    require(axesB.distinct.length == axesB.length &&
      axesB.forall(b => b >= 0 && b < o.rank),
      s"bad axesB $axesB for rank ${o.rank} (must be distinct, in [0,${o.rank}))")
    axesA.zip(axesB).foreach { case (a, b) =>
      require(shape(a) == o.shape(b),
        s"contracted extents differ: axis $a (${shape(a)}) vs $b (${o.shape(b)})")
    }
    val keptA = (0 until rank).filterNot(axesA.contains)
    val keptB = (0 until o.rank).filterNot(axesB.contains)
    // prefix-rename to avoid column collisions, join keys k0..k{m-1}
    val l = df.selectExpr(
      (axesA.zipWithIndex.map { case (a, m) => s"${names(a)} AS k$m" } ++
        keptA.zipWithIndex.map { case (a, d) => s"${names(a)} AS la$d" } :+ "v AS va"): _*)
    val r = o.df.selectExpr(
      (axesB.zipWithIndex.map { case (b, m) => s"${o.names(b)} AS k$m" } ++
        keptB.zipWithIndex.map { case (b, d) => s"${o.names(b)} AS rb$d" } :+ "v AS vb"): _*)
    val keys = axesA.indices.map(m => s"k$m")
    val outCols = keptA.indices.map(d => s"la$d") ++ keptB.indices.map(d => s"rb$d")
    val joined = l.join(r, keys)
    val outShape =
      if (outCols.isEmpty) Seq(1L) else keptA.map(shape) ++ keptB.map(o.shape)
    val out = namesOf(outShape.length)
    val agged =
      if (outCols.isEmpty)
        joined.agg(sum(expr("va * vb")).as("v"))
          .selectExpr(s"CAST(0 AS BIGINT) AS ${out.head}", "v")
      else joined.groupBy(outCols.map(col): _*).agg(sum(expr("va * vb")).as("v"))
        .selectExpr(outCols.zip(out).map { case (c, n) => s"$c AS $n" } :+ "v": _*)
    // every kept-coordinate pair meets some contracted cell unless a
    // contracted extent is empty
    new NdArray(agged, outShape,
      outCols.isEmpty || dense && o.dense && axesA.forall(shape(_) > 0), out)
  }

  def elements: DataFrame = df

  /** numpy `atleast_1d/2d/3d` (reference `routines/_misc.py` atleast
    * family): promote rank by prepending/appending size-1 axes with
    * numpy's exact placement — 1-d → (1, N) for 2d; 1-d → (1, N, 1) and
    * 2-d → (M, N, 1) for 3d. Pure coordinate projections. */
  def atleast2d: NdArray = if (rank >= 2) this else expandDims(0)
  def atleast3d: NdArray = rank match {
    case r if r >= 3 => this
    case 2           => expandDims(2)
    case 1           => expandDims(0).expandDims(2)
    case _           => expandDims(0).expandDims(2) // rank-0 scalar table
  }
}

object NdArray {
  /** The default coordinate names of a rank-`r` array: `c0 … c{r-1}`. */
  def axes(r: Int): Seq[String] = (0 until r).map(a => s"c$a")

  private val zeroProbe =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Does a kernel over `v` (or `v1`, `v2`) map zero input to 0 or NULL?
    * Memoized per kernel SQL for the JVM. The kernel is evaluated on a
    * one-row LocalRelation, which ConvertToLocalRelation folds
    * driver-side, so the probe launches no Spark job. */
  private[graft] def zeroPreserving(spark: SparkSession, kernelSql: String): Boolean =
    zeroProbe.computeIfAbsent(kernelSql, { k =>
      import spark.implicits._
      val f0 = Seq((0.0, 0.0, 0.0)).toDF("v", "v1", "v2")
        .selectExpr(s"CAST($k AS DOUBLE) AS r").collect()(0)
      java.lang.Boolean.valueOf(f0.isNullAt(0) || f0.getDouble(0) == 0.0)
    })

  /** numpy `broadcast_arrays` (reference `routines/_broadcast.py`):
    * expand both operands to their common broadcast shape — leading
    * size-1 axes inserted by [[NdArray.expandDims]], then size-1 extents
    * replicated via [[NdArray.broadcastAxis]] (a generated broadcast
    * cross join against `spark.range` — no shuffle of the data side).
    * Incompatible extents fail loudly, matching numpy. */
  def broadcastArrays(a: NdArray, b: NdArray): (NdArray, NdArray) = {
    val r = math.max(a.rank, b.rank)
    def lift(x: NdArray): NdArray =
      (x.rank until r).foldLeft(x)((y, _) => y.expandDims(0))
    val (la, lb) = (lift(a), lift(b))
    val common = la.shape.lazyZip(lb.shape).map { (ea, eb) =>
      require(ea == eb || ea == 1L || eb == 1L,
        s"cannot broadcast shapes ${a.shape} and ${b.shape}: extents $ea vs $eb")
      math.max(ea, eb)
    }
    def expand(x: NdArray): NdArray =
      common.indices.foldLeft(x)((y, ax) =>
        if (y.shape(ax) == common(ax)) y else y.broadcastAxis(ax, common(ax)))
    (expand(la), expand(lb))
  }

  /** numpy `stack(arrays, axis)` (reference `stacking/_stack.py`): insert
    * a new axis and concatenate along it — expandDims + the zero-movement
    * offset union `concat` provides. */
  def stack(arrays: Seq[NdArray], axis: Int = 0): NdArray = {
    require(arrays.nonEmpty, "stack needs at least one array")
    require(arrays.forall(_.shape == arrays.head.shape),
      "stack: all arrays must share a shape")
    arrays.map(_.expandDims(axis)).reduce(_.concat(_, axis))
  }

  /** numpy `vstack`/`hstack`/`dstack` (reference `stacking/_simple.py:6,24,43`):
    * the standard promote-then-concat compositions. */
  def vstack(arrays: Seq[NdArray]): NdArray = {
    val promoted = arrays.map(a => if (a.rank == 1) a.expandDims(0) else a)
    promoted.reduce(_.concat(_, 0))
  }
  def hstack(arrays: Seq[NdArray]): NdArray =
    if (arrays.head.rank == 1) arrays.reduce(_.concat(_, 0))
    else arrays.reduce(_.concat(_, 1))
  def dstack(arrays: Seq[NdArray]): NdArray =
    arrays.map(_.atleast3d).reduce(_.concat(_, 2))
  /** Generator over the full coordinate grid — one `spark.range` scan with
    * exact unravel arithmetic; the kernel sees `c0 … c{r-1}`. Dense. */
  def tabulate(spark: SparkSession, shape: Seq[Long], sqlOverCoords: String): NdArray =
    grid(spark, shape, axes(shape.length), sqlOverCoords)

  private def grid(spark: SparkSession, shape: Seq[Long], names: Seq[String],
                   sqlOverCoords: String): NdArray = {
    val strides = shape.scanRight(1L)(_ * _).tail
    val proj = shape.indices.map { a =>
      s"(id DIV ${strides(a)}L) % ${shape(a)}L AS ${names(a)}"
    }
    new NdArray(
      spark.range(shape.product).selectExpr(proj: _*)
        .selectExpr(names :+ s"CAST($sqlOverCoords AS DOUBLE) AS v": _*),
      shape, dense = true, names)
  }

  /** Wrap a flat element table `(idx, v)` as an N-d array (row-major).
    * Gapped: the table may hold any subset of the cells. */
  def fromFlat(flat: DataFrame, shape: Seq[Long]): NdArray = {
    val strides = shape.scanRight(1L)(_ * _).tail
    val proj = shape.indices.map { a =>
      s"(idx DIV ${strides(a)}L) % ${shape(a)}L AS c$a"
    } :+ "v"
    new NdArray(flat.selectExpr(proj: _*), shape, dense = false, axes(shape.length))
  }
}
