package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lazy 2-d array as an element table `(i BIGINT, j BIGINT, v DOUBLE)` —
  * the rank-2 view of [[NdArray]] (reference `dask_array/_collection.py:110`
  * has one array type at every rank), with the coordinates named `i`, `j`.
  * The generic element-table ops (map, zip, transpose, flips, slices,
  * ravel/reshape, densify, mask, triangles, setWhere, axis reductions) are
  * the NdArray ops, so they follow its density rule: two dense operands
  * keep the inner-join / plain-projection plans, a gapped one (eye, triu,
  * mask, store reads) pays the zero-filling plan. This class keeps only
  * the 2-d kernels whose plans really differ.
  *
  * The 2-d ops are pure declarative Catalyst plans: a filter on `i`/`j`
  * commutes through transpose (key projection), elemwise joins (equi-join
  * keys), and the matmul group-by (grouping keys) entirely inside
  * Catalyst's own `PushDownPredicates`, reaching the scan as
  * `PushedFilters` — verified in MatrixSpec.
  *
  * Scale notes (100 TB design):
  *  - matmul (reference `dask_array/linalg/_tensordot.py:45-139`) is the
  *    SUMMA join+agg plan: shuffle both sides on the contracted index,
  *    partial-aggregate before the (i,j) shuffle (Spark inserts the
  *    map-side combine), broadcast the small side when its static size
  *    says so — no driver materialization anywhere.
  *  - transpose/flip/triangle/diag are O(1) metadata/key projections with
  *    zero data movement (reference `manipulation/_transpose.py:14` keeps
  *    the same promise via block-coordinate permutation).
  */
final class DMatrix private (val nd: NdArray) {
  require(nd.names == DMatrix.axes, s"a DMatrix view needs coordinates i, j, got ${nd.names}")

  /** Wrap an `(i, j, v)` element table. `dense` states whether every cell
    * of the `rows x cols` grid is present; say `false` when unsure — a
    * gapped matrix only pays the zero-filling plans. */
  def this(df: DataFrame, rows: Long, cols: Long, dense: Boolean) =
    this(new NdArray(df, Seq(rows, cols), dense, DMatrix.axes))

  def df: DataFrame = nd.df
  def rows: Long = nd.shape(0)
  def cols: Long = nd.shape(1)
  def dense: Boolean = nd.dense

  /** Elements under ~this many doubles are broadcast in joins. */
  private val broadcastElems = 1L << 22

  // ---- elemwise ------------------------------------------------------------
  def map(sqlOverV: String): DMatrix = new DMatrix(nd.map(sqlOverV))

  /** Aligned elemwise combine — equi-join on the grid coordinates
    * (reference blockwise alignment, SURVEY §2.6 item 1). */
  def zip(o: DMatrix, sqlOverV1V2: String): DMatrix = new DMatrix(nd.zip(o.nd, sqlOverV1V2))
  def +(o: DMatrix): DMatrix = zip(o, "v1 + v2")
  def -(o: DMatrix): DMatrix = zip(o, "v1 - v2")
  def *(o: DMatrix): DMatrix = zip(o, "v1 * v2")

  // ---- shape ---------------------------------------------------------------
  /** Transpose: pure key projection (reference
    * `manipulation/_transpose.py:14` — coordinate permutation, no data
    * movement). */
  def t: DMatrix = new DMatrix(nd.transpose(Seq(1, 0)))

  def flipRows: DMatrix = new DMatrix(nd.flip(0))
  def flipCols: DMatrix = new DMatrix(nd.flip(1))
  /** numpy names (reference `flipud`/`fliplr`, `manipulation/_flip.py`). */
  def flipud: DMatrix = flipRows
  def fliplr: DMatrix = flipCols

  /** Counterclockwise quarter rotation `out[i,j] = a[j, C-1-i]`
    * (reference `rot90`, `manipulation/_flip.py:56`) — composed key
    * projections, zero data movement. */
  def rot90: DMatrix = t.flipRows

  /** Rectangular slice `[r0:r1, c0:c1)` with rebasing — the 2-d
    * `SliceSlicesIntegers` (reference `slicing/_basic.py:357`); the range
    * predicates push to the scan through every operator above. An empty
    * range gives an empty (0 x k) matrix. */
  def slice(r0: Long, r1: Long, c0: Long, c1: Long): DMatrix =
    new DMatrix(nd.sliceBy(Seq((r0, r1, 1L), (c0, c1, 1L))))

  /** Strided rectangular slice `[r0:r1:sr, c0:c1:sc)` (reference strided
    * basic indexing): the range predicates still push to the scan; the
    * strides are modular filters + integer-DIV reindexing. */
  def slice(r0: Long, r1: Long, sr: Long, c0: Long, c1: Long, sc: Long): DMatrix =
    new DMatrix(nd.sliceBy(Seq((r0, r1, sr), (c0, c1, sc))))

  /** Flatten C-order to a 1-d element table (reference `ravel`,
    * `manipulation/_reshape.py:709`): an affine index map, no shuffle. */
  def ravel: DataFrame = nd.ravel

  /** Reshape via the linearized index (reference `Reshape`,
    * `manipulation/_reshape.py:265`): relinearize — the element table makes
    * the reference's rechunk-planning unnecessary. */
  def reshape(nr: Long, nc: Long): DMatrix = new DMatrix(nd.reshape(Seq(nr, nc)))

  /** Materialize every grid cell, zero-filling absent ones — the bridge
    * from the gapped element-table convention to dense numpy semantics.
    * Needed before [[mask]] when the predicate can match v = 0 (absent
    * cells are implicit zeros and are otherwise not visited), and used
    * internally by [[integralImage]]. */
  def densify: DMatrix = new DMatrix(nd.densify)

  /** Boolean mask over values/coords (2-d `x[mask]` analogue — keeps
    * coordinates, argwhere-style). Operates on PRESENT cells: a predicate
    * that should match implicit zeros needs [[densify]] first. */
  def mask(predOverVIJ: String): DMatrix = new DMatrix(nd.mask(predOverVIJ))

  /** Coordinates of the nonzero cells (reference `argwhere`,
    * `dask_array/routines/_nonzero.py`): one filtered O(nnz) projection
    * of the element table — the dense grid is never materialized. */
  def argwhere: DataFrame = df.where(col("v") =!= 0.0).select("i", "j")

  /** Mask-valued assignment `x[cond] = value` (2-d SetItem bool path);
    * a gapped matrix densifies first, so implicit zeros are assigned too. */
  def setWhere(predOverVIJ: String, value: Double): DMatrix =
    new DMatrix(nd.setWhere(predOverVIJ, value))

  // ---- triangles / diagonal ------------------------------------------------
  /** Keep the upper triangle at offset k, zero-fill semantics by omission
    * (reference `triu`, `routines/_triangular.py:12`). */
  def triu(k: Long = 0): DMatrix = new DMatrix(nd.triu(k))
  def tril(k: Long = 0): DMatrix = new DMatrix(nd.tril(k))

  /** Extract the k-diagonal as a 1-d element table (reference `diagonal`,
    * `creation/_diagonal.py:16`). */
  def diag(k: Long = 0): DataFrame =
    df.where(col("j") - col("i") === k)
      .select(col("i").as("idx"), col("v"))

  // ---- reductions ----------------------------------------------------------
  def agg(sqlAggsOverV: (String, String)*): DataFrame = {
    val cs = sqlAggsOverV.map { case (sql, alias) => expr(sql).as(alias) }
    df.agg(cs.head, cs.tail: _*)
  }

  /** Reduce over one axis — groupBy the kept coordinate (reference
    * axis-subset reduction, `reductions/_reduction.py:89`): partial
    * aggregation gives the map-side combine of the reference's tree. */
  def reduceRows(sqlAggOverV: String): DataFrame = // one value per row i
    nd.reduceAxes(Seq(1), sqlAggOverV).df.withColumnRenamed("c0", "idx")
  def reduceCols(sqlAggOverV: String): DataFrame =
    nd.reduceAxes(Seq(0), sqlAggOverV).df.withColumnRenamed("c0", "idx")

  /** Diagonal sum (reference `trace`, `reductions/_trace.py:4`). */
  def trace: DataFrame = diag(0).agg(sum(col("v")).as("trace"))

  /** Matrix norms (reference `linalg/_norm.py:13`): `"fro"` =
    * √(ΣΣ v²) — one scalar aggregate; `"1"`/`"-1"` = max/min column
    * abs-sum, `"inf"`/`"-inf"` = max/min row abs-sum — one partial-agg
    * shuffle on the summed axis + a scalar aggregate. The spectral
    * orders (2, −2, "nuc") are σ-value reductions and go through
    * [[graft.linalg.SVD]] instead (the reference routes them to its SVD
    * too). Implicit zeros: a partially-stored axis still sums correctly
    * (absent cells add 0); a FULLY absent axis has abs-sum 0, which the
    * min orders account for explicitly (the max orders cannot be
    * affected — abs-sums are nonnegative). */
  def norm(ord: String): DataFrame = ord match {
    case "fro" =>
      df.agg(sqrt(sum(col("v") * col("v"))).as("norm"))
    case "1" | "-1" | "inf" | "-inf" =>
      val axis = if (ord.endsWith("inf")) "i" else "j"
      val total = if (axis == "i") rows else cols
      val sums = df.groupBy(axis).agg(sum(abs(col("v"))).as("s"))
      if (ord.startsWith("-"))
        sums.agg(min(col("s")).as("mn"), count(lit(1)).as("cnt"))
          .selectExpr(s"CASE WHEN cnt < ${total}L THEN least(mn, CAST(0 AS DOUBLE)) ELSE mn END AS norm")
      else sums.agg(max(col("s")).as("norm"))
    case o => throw new IllegalArgumentException(
      s"norm ord '$o' — spectral orders go through graft.linalg.SVD")
  }

  /** Summed-area table (integral image): `out[i,j] = Σ_{p≤i, q≤j} v[p,q]`
    * — `cumsum(axis=1)` then `cumsum(axis=0)` (reference cumulative
    * reductions along an axis, `reductions/_cumulative.py:100`). Each pass
    * is a window PARTITIONED BY the other coordinate, so parallelism is
    * the line count — never a global single-partition sort. The input is
    * densified against the full grid first: element tables drop zero
    * cells, and a window scan over a sparse line would silently skip the
    * absent positions' carry (the output is inherently dense anyway). */
  def integralImage: DMatrix = {
    import org.apache.spark.sql.expressions.Window
    val grid = densify.df
    val byRow = Window.partitionBy("i").orderBy("j")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byCol = Window.partitionBy("j").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new DMatrix(grid.withColumn("v", sum(col("v")).over(byRow))
      .withColumn("v", sum(col("v")).over(byCol)), rows, cols, dense = true)
  }

  /** Central-difference gradient along axis 0 (reference `gradient`,
    * `routines/_gradient.py:16` with axis=0): interior
    * `(x[i+1,j] - x[i-1,j]) / 2`, one-sided at the row edges. Densifies
    * first (a sparse line's lag/lead would skip absent positions), then
    * runs per-COLUMN partitioned windows — parallelism is the column
    * count, each line in-core, the 2-d sibling of the 1-d blocked
    * GradientVec (use that for tall single-column shapes). */
  def gradientRows: DMatrix = {
    import org.apache.spark.sql.expressions.Window
    require(rows >= 2, s"gradient needs at least 2 rows along the axis, got $rows")
    val w = Window.partitionBy("j").orderBy("i")
    val prev = lag(col("v"), 1).over(w)
    val next = lead(col("v"), 1).over(w)
    new DMatrix(densify.df.select(col("i"), col("j"),
      when(prev.isNull, next - col("v"))
        .when(next.isNull, col("v") - prev)
        .otherwise((next - prev) / 2.0).as("v")), rows, cols, dense = true)
  }

  /** Gradient along axis 1 — the transpose composition. */
  def gradientCols: DMatrix = t.gradientRows.t

  /** Sort each row's values ascending (numpy `sort(axis=-1)`; the
    * reference sorts along an axis per chunk the same way): the rank
    * within the row becomes the new column index. A row-partitioned
    * window — bounded by row width, never a global sort; deterministic
    * tie-break on the source column. Requires a DENSE cell table
    * (tabulate-style); on gapped tables absent cells would not take part
    * in the ranking. */
  def sortRows: DMatrix = {
    import org.apache.spark.sql.expressions.Window
    new DMatrix(df
      .withColumn("j2",
        row_number().over(Window.partitionBy("i").orderBy("v", "j")).cast("long") - 1)
      .select(col("i"), col("j2").as("j"), col("v")), rows, cols, dense)
  }

  /** Apply an in-core kernel to each dense row — `apply_along_axis`
    * (reference `routines/_apply.py:16`): rows are assembled from the
    * sparse element table (absent cells are 0) and mapped per-partition;
    * the kernel returns one double per row. */
  def mapRows(kernel: Array[Double] => Double): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    val k = cols.toInt
    df.groupBy("i").agg(expr("collect_list(struct(j, v))").as("cells"))
      .as[(Long, Array[(Long, Double)])]
      .mapPartitions(_.map { case (i, cells) =>
        val row = new Array[Double](k)
        cells.foreach { case (j, v) => row(j.toInt) = v }
        (i, kernel(row))
      }).toDF("idx", "v")
  }

  /** Pointwise coordinate gather — `.vindex[[i0,i1,...], [j0,j1,...]]`
    * (reference `slicing/_vindex.py:143`): output position p holds
    * `this[pi(p), pj(p)]`. `points` is the (small, broadcast) coordinate
    * table `(p, pi, pj)`. One broadcast-join scan of the data; positions
    * whose cell is absent (implicit zero) are filled from the tiny
    * points-minus-hits anti join — both sides of that join are O(|points|),
    * so nothing large ever shuffles. */
  def vindex(points: DataFrame): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    val pts = points.select(col("p"), col("pi"), col("pj"))
    // ONE scan: the hit set is ≤ |points| rows by construction (points are
    // small enough to broadcast), so it collects; re-deriving it lazily in
    // both the union and the anti-join would scan the data twice
    val hit = df.join(broadcast(pts), col("i") === col("pi") && col("j") === col("pj"))
      .select(col("p").as("idx"), col("v"))
      .as[(Long, Double)].collect()
    val hitKeys = hit.map(_._1).toSet
    val missed = pts.select(col("p")).as[Long].collect()
      .filterNot(hitKeys).map(p => (p, 0.0))
    sess.createDataFrame((hit ++ missed).toSeq).toDF("idx", "v")
  }

  /** Kronecker product `kron(this, o)` (reference composes it from
    * blockwise outer products): every cell pair meets in a broadcast
    * cross join — the small operand ships to every task, the big side
    * never shuffles — with pure index arithmetic for the placement. */
  def kron(o: DMatrix): DMatrix = {
    val b = o.df.select(col("i").as("bi"), col("j").as("bj"), col("v").as("bv"))
    new DMatrix(
      df.crossJoin(broadcast(b))
        .select((col("i") * o.rows + col("bi")).as("i"),
          (col("j") * o.cols + col("bj")).as("j"),
          (col("v") * col("bv")).as("v")),
      rows * o.rows, cols * o.cols, dense && o.dense)
  }

  // ---- contraction ---------------------------------------------------------
  /** Matrix multiply — the join+agg SUMMA plan (reference `tensordot`/
    * `matmul`, `linalg/_tensordot.py:45,194`): equi-join on the contracted
    * index, partial products, hash-agg on the output coordinates. The small
    * side is broadcast when its static element count allows, turning the
    * contraction into a map-side join with zero shuffle of the big side. */
  def matmul(o: DMatrix): DMatrix = {
    require(cols == o.rows, s"matmul shape mismatch: $rows x $cols @ ${o.rows} x ${o.cols}")
    val a = df.select(col("i"), col("j").as("k"), col("v").as("va"))
    val b0 = o.df.select(col("i").as("k"), col("j"), col("v").as("vb"))
    val b = if (o.rows * o.cols <= broadcastElems) broadcast(b0) else b0
    new DMatrix(
      a.join(b, "k").groupBy("i", "j").agg(sum(col("va") * col("vb")).as("v")),
      rows, o.cols, dense && o.dense && cols > 0)
  }
  def @@(o: DMatrix): DMatrix = matmul(o)

  /** Gram matrix AᵀA — the TSQR/SVD building block (reference
    * `linalg/_qr.py`, `linalg/_svd.py:19-168`). */
  def gram: DMatrix = t.matmul(this)

  /** Weighted covariance over rows-as-observations (reference `cov` with
    * `fweights`/`aweights`, `dask_array/routines/_statistics.py` — numpy
    * semantics: w = fw·aw, weighted column means, denominator
    * wsum − ddof·Σ(w·aw)/wsum, which reduces to wsum − ddof when every
    * aw is 1). `weights` is an (i, fw, aw) frame — OBSERVATION-sized, so
    * it equi-joins on the row key (co-partitioned with the data shuffle),
    * never broadcasts; only the k-row means and the 1-row scalar
    * aggregates ride broadcasts. Requires a dense element table (every
    * (i, j) cell present): mean subtraction makes implicit zeros
    * ill-defined, as in the unweighted inline cov (m32). */
  def covWeighted(weights: DataFrame, ddof: Int = 1): DMatrix = {
    val w = weights.selectExpr("i",
      "CAST(fw AS DOUBLE) * CAST(aw AS DOUBLE) AS w", "CAST(aw AS DOUBLE) AS aw")
    val scal = w.agg(sum("w").as("wsum"), sum(expr("w * aw")).as("swa"))
    val xw = df.join(w, "i")
    val mu = xw.groupBy("j").agg(sum(expr("w * v")).as("swv"))
      .crossJoin(broadcast(scal)).selectExpr("j", "swv / wsum AS mu")
    val z = xw.join(broadcast(mu), "j").selectExpr("i", "j", "v - mu AS zv", "w")
    val pairs = z.join(z.selectExpr("i", "j AS j2", "zv AS zv2"), "i")
      .groupBy("j", "j2").agg(sum(expr("w * zv * zv2")).as("s"))
    new DMatrix(
      pairs.crossJoin(broadcast(scal))
        .selectExpr("j AS i", "j2 AS j", s"s / (wsum - $ddof * swa / wsum) AS v"),
      cols, cols, dense)
  }

  /** Tiled matrix multiply — the BLAS3 scale path (reference blockwise
    * contraction, `linalg/_tensordot.py:45` with `_sum_wo_cat`): elements
    * are grouped into dense `tile x tile` blocks, block pairs meet in an
    * equi-join on the contracted tile index, each pair runs an in-core
    * row-major GEMM, and partial tiles sum by output coordinate. Per-row
    * work is O(tile) multiplies instead of the element-join's O(1)-per-
    * intermediate-row explosion: at equal FLOPs the shuffle volume drops
    * by a factor of `tile`. Zero-absent semantics match [[matmul]] (absent
    * cells are zeros). */
  def matmulTiled(o: DMatrix, tile: Int = 512): DMatrix = {
    require(cols == o.rows, s"matmul shape mismatch: $rows x $cols @ ${o.rows} x ${o.cols}")
    val sess = df.sparkSession
    import sess.implicits._
    val tL = tile.toLong

    def tiles(m: DataFrame): org.apache.spark.sql.Dataset[(Long, Long, Array[Double])] =
      m.selectExpr(s"i DIV $tL AS bi", s"j DIV $tL AS bj",
          s"i % $tL AS ti", s"j % $tL AS tj", "v")
        .groupBy("bi", "bj")
        .agg(expr("collect_list(struct(ti, tj, v))").as("cells"))
        .as[(Long, Long, Array[(Long, Long, Double)])]
        .map { case (bi, bj, cells) =>
          val a = new Array[Double](tile * tile)
          cells.foreach { case (ti, tj, v) => a(ti.toInt * tile + tj.toInt) = v }
          (bi, bj, a)
        }

    val at = tiles(df).toDF("bi", "bk", "a")
    val bt = tiles(o.df).toDF("bk", "bj", "b")
    val partial = at.join(bt, "bk")
      .as[(Long, Long, Array[Double], Long, Array[Double])]
      .map { case (_, bi, a, bj, b) =>
        // in-core GEMM on the dense tiles
        val c = new Array[Double](tile * tile)
        var i = 0
        while (i < tile) {
          var l = 0
          while (l < tile) {
            val av = a(i * tile + l)
            if (av != 0.0) {
              var j = 0
              while (j < tile) { c(i * tile + j) += av * b(l * tile + j); j += 1 }
            }
            l += 1
          }
          i += 1
        }
        (bi, bj, c)
      }.toDF("bi", "bj", "c")

    // sum partial tiles, then re-emit non-zero elements
    val out = partial.groupBy("bi", "bj")
      .agg(expr("aggregate(collect_list(c), " +
        s"array_repeat(CAST(0 AS DOUBLE), ${tile * tile}), " +
        "(acc, x) -> zip_with(acc, x, (p, q) -> p + q))").as("c"))
      .as[(Long, Long, Array[Double])]
      .flatMap { case (bi, bj, c) =>
        for {
          ti <- (0 until tile).iterator
          tj <- (0 until tile).iterator
          if c(ti * tile + tj) != 0.0
        } yield (bi * tL + ti, bj * tL + tj, c(ti * tile + tj))
      }.toDF("i", "j", "v")
      .where(col("i") < rows && col("j") < o.cols)

    new DMatrix(out, rows, o.cols, dense = false) // zero cells are not emitted
  }

  def elements: DataFrame = df
}

object DMatrix {
  /** Coordinate names of the 2-d view. */
  private val axes = Seq("i", "j")

  /** Build from a generator kernel over `i`,`j` — covers `fromfunction`,
    * `indices`, `meshgrid` (reference `creation/_mesh.py:114`): one
    * `spark.range` scan, the affine coordinate math folds into the scan. */
  def tabulate(spark: SparkSession, rows: Long, cols: Long, sqlOverIJ: String): DMatrix =
    new DMatrix(
      spark.range(rows * cols).selectExpr(
        s"id DIV $cols AS i", s"id % $cols AS j", s"CAST($sqlOverIJ AS DOUBLE) AS v"),
      rows, cols, dense = true)

  /** Identity at offset k (reference `eye`, `creation/_eye.py:13`):
    * materializes only the diagonal — O(n) rows, not O(n^2), the sparse
    * analogue of the reference's broadcast trick. */
  def eye(spark: SparkSession, n: Long, k: Long = 0): DMatrix =
    new DMatrix(
      spark.range(n).selectExpr("id AS i", s"id + $k AS j", "CAST(1 AS DOUBLE) AS v")
        .where(col("j") >= 0 && col("j") < n),
      n, n, dense = false)

  /** 1-d → 2-d diagonal matrix (reference `diag`, `creation/_diag.py:15`). */
  def diagOf(vecElements: DataFrame, n: Long): DMatrix =
    new DMatrix(vecElements.select(col("idx").as("i"), col("idx").as("j"), col("v")), n, n,
      dense = false)

  /** Outer product of two 1-d element tables (reference `outer`,
    * `routines/_outer.py:6`): broadcast the right side — every (i,j) pair
    * is produced map-side, no shuffle. Gapped: the vectors may be. */
  def outer(a: DataFrame, na: Long, b: DataFrame, nb: Long): DMatrix =
    new DMatrix(
      a.select(col("idx").as("i"), col("v").as("va"))
        .crossJoin(broadcast(b.select(col("idx").as("j"), col("v").as("vb"))))
        .select(col("i"), col("j"), (col("va") * col("vb")).as("v")),
      na, nb, dense = false)

  /** 1-d element table reshaped to (rows x cols) C-order (reference
    * `reshape`, `manipulation/_reshape.py:265`). Gapped: the vector may be. */
  def fromVec(vecElements: DataFrame, rows: Long, cols: Long): DMatrix =
    new DMatrix(
      vecElements.select(expr(s"idx DIV $cols").as("i"), (col("idx") % cols).as("j"), col("v")),
      rows, cols, dense = false)

  /** Assemble a block matrix from a nested grid (reference `block`,
    * `stacking/_block.py:6`): pure unions with coordinate offsets — zero
    * data movement, like concatenate. Row heights/column widths come from
    * the first block of each band and must be consistent. */
  def blockOf(grid: Seq[Seq[DMatrix]]): DMatrix = {
    require(grid.nonEmpty && grid.forall(_.nonEmpty), "empty block grid")
    val rowHeights = grid.map(_.head.rows)
    val colWidths = grid.head.map(_.cols)
    grid.foreach { band =>
      require(band.length == colWidths.length, "ragged block grid")
      band.zip(colWidths).foreach { case (m, w) => require(m.cols == w, "col width mismatch") }
      require(band.forall(_.rows == band.head.rows), "row height mismatch in band")
    }
    val rowOffs = rowHeights.scanLeft(0L)(_ + _)
    val colOffs = colWidths.scanLeft(0L)(_ + _)
    val parts = for {
      (band, bi) <- grid.zipWithIndex
      (m, bj) <- band.zipWithIndex
    } yield m.df.select(
      (col("i") + rowOffs(bi)).as("i"), (col("j") + colOffs(bj)).as("j"), col("v"))
    new DMatrix(parts.reduce(_ unionByName _), rowOffs.last, colOffs.last,
      grid.forall(_.forall(_.dense)))
  }
}
