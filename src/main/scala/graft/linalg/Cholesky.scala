package graft.linalg

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.DMatrix

/** Blocked Cholesky and LU factorizations, triangular solves, `solve` and
  * `inv` (reference `dask_array/linalg/_cholesky.py:27`, `_lu.py:27`,
  * `_solve.py:20,163,225`), built from one set of pieces:
  *
  *  - [[tileGrid]]: a DMatrix as a zero-filled t×t tile set (full grid, or
  *    the lower block triangle for Cholesky), padded diagonal cells 1.0;
  *  - the right-looking panel loops ([[cholPanelsOf]], [[luPanelsOf]],
  *    [[solveTriCore]]): per block step (1) ONLY the t×t diagonal tile is
  *    factored in-core (O(t²) driver bytes — the irreducible sequential
  *    dependency), (2) the panel solves against the BROADCAST diagonal
  *    factor executor-side and stays distributed, (3) the trailing update
  *    broadcast-joins the panel onto the trailing tiles — the Spark
  *    realization of ScaLAPACK's panel broadcast. The O(n³) trailing FLOPs
  *    and all panel solves stay on executors;
  *  - [[cellsOf]] and [[tilesOf]]: the panels a loop returns, as a trimmed
  *    cell table or as the tile set the next solve consumes;
  *  - [[substitute]]: the forward-then-backward solve that `solveSPD`,
  *    `solveLU` and `inv` share.
  *
  * Loop predicates are typed closures (step index captured, not inlined
  * as a literal) so whole-stage codegen compiles ONCE per loop shape, not
  * once per step; generations are localCheckpoint'ed to cut lineage (the
  * panel re-enters the trailing join — nesting would grow plans 3^nb
  * otherwise).
  */
object Cholesky {

  /** Vector-RHS solves at dimension ≤ this run IN-CORE: `b` and `x` are
    * driver arrays by signature already, and an n ≤ 1024 factor is ≤ 8 MB
    * — one collect, where the blocked path pays ~4 scheduled jobs per
    * panel step (diag-tile head, two broadcast builds, a checkpoint) just
    * in latency. This is the ScaLAPACK dispatch: local LAPACK below the
    * distribution crossover, blocked panels above it. The distributed
    * factor surfaces (cholesky/lu/inv and the matrix-RHS solves) are NOT
    * size-dispatched — their outputs are O(n²) and stay on executors. */
  private val LocalSolveMax = 1024L

  /** Collect a small matrix to a row-major dense driver array (guarded
    * by [[LocalSolveMax]] call sites — O(n²) ≤ 8 MB by construction). */
  private def denseOf(a: DMatrix): Array[Double] = {
    val n = a.rows.toInt
    val m = new Array[Double](n * n)
    a.df.collect().foreach { r =>
      m(r.getLong(0).toInt * n + r.getLong(1).toInt) = r.getDouble(2)
    }
    m
  }

  /** Forward substitution L·y = b (driver, vector RHS). */
  private def forwardVec(l: Array[Double], b: Array[Double], n: Int): Array[Double] = {
    val y = new Array[Double](n)
    var i = 0
    while (i < n) {
      var s = b(i); var k = 0
      while (k < i) { s -= l(i * n + k) * y(k); k += 1 }
      y(i) = s / l(i * n + i); i += 1
    }
    y
  }

  /** Backward substitution U·x = y (driver, vector RHS; also TSQR's
    * R·x = Qᵀb). */
  private[linalg] def backwardVec(u: Array[Double], y: Array[Double], n: Int): Array[Double] = {
    val x = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = y(i); var k = i + 1
      while (k < n) { s -= u(i * n + k) * x(k); k += 1 }
      x(i) = s / u(i * n + i); i -= 1
    }
    x
  }

  /** Transpose of a row-major n×n array. */
  private def transpose(a: Array[Double], n: Int): Array[Double] = {
    val out = new Array[Double](n * n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) { out(j * n + i) = a(i * n + j); j += 1 }
      i += 1
    }
    out
  }

  /** In-core lower Cholesky of row-major SPD `a` (t×t). */
  def localChol(a: Array[Double], t: Int): Array[Double] = {
    val l = new Array[Double](t * t)
    var j = 0
    while (j < t) {
      var d = a(j * t + j)
      var k = 0
      while (k < j) { d -= l(j * t + k) * l(j * t + k); k += 1 }
      require(d > 0, s"matrix not positive definite at block row $j (d=$d)")
      val ljj = math.sqrt(d)
      l(j * t + j) = ljj
      var i = j + 1
      while (i < t) {
        var s = a(i * t + j)
        k = 0
        while (k < j) { s -= l(i * t + k) * l(j * t + k); k += 1 }
        l(i * t + j) = s / ljj
        i += 1
      }
      j += 1
    }
    l
  }

  /** Solve X·Lᵀ = B in-core (B t×t row-major, L lower-triangular t×t):
    * forward substitution per row of B. */
  def localSolveXLt(b: Array[Double], l: Array[Double], t: Int): Array[Double] = {
    val x = new Array[Double](t * t)
    var i = 0
    while (i < t) {
      var j = 0
      while (j < t) {
        var s = b(i * t + j)
        var k = 0
        while (k < j) { s -= x(i * t + k) * l(j * t + k); k += 1 }
        x(i * t + j) = s / l(j * t + j)
        j += 1
      }
      i += 1
    }
    x
  }

  /** c -= a · bᵀ for t×t row-major tiles. */
  private def subMulT(c: Array[Double], a: Array[Double], b: Array[Double], t: Int): Unit = {
    var i = 0
    while (i < t) {
      var j = 0
      while (j < t) {
        var s = 0.0
        var k = 0
        while (k < t) { s += a(i * t + k) * b(j * t + k); k += 1 }
        c(i * t + j) -= s
        j += 1
      }
      i += 1
    }
  }

  /** Run `body` with AQE off: the panel loops execute dozens of tiny
    * per-step plans where adaptive re-planning is pure overhead (every
    * join is already a broadcast join; there is nothing to adapt). */
  private def withoutAQE[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val was = s.conf.get(key, "true")
    s.conf.set(key, "false")
    try body finally s.conf.set(key, was)
  }

  private type TileDS = Dataset[(Long, Long, Array[Double])]
  private type PanelDS = Dataset[(Long, Array[Double])]
  /** A loop's panels, each with its block index k: block COLUMN k keyed
    * by row block, or block ROW k keyed by column block. */
  private type Panels = Seq[(Long, PanelDS)]

  /** Zero-filled t×t tile grid of `m` (row-major tiles keyed (bi, bj)),
    * with `diagPad` putting 1.0 on diagonal cells past the logical edge so
    * partial edge tiles stay positive definite / solvable. `lower` keeps
    * only the block triangle bi ≥ bj and reads only the cells i ≥ j.
    * The grid covers EVERY block of that shape, not just blocks with
    * nonzero cells, because trailing updates create fill-in: an all-zero
    * input block still receives A[i,j] -= L[i,k]·L[j,k]ᵀ and dropping it
    * would silently corrupt the factorization (e.g. an arrowhead matrix
    * whose interior blocks are zero). Lazy — callers checkpoint it. */
  private def tileGrid(s: SparkSession, m: DMatrix, t: Int, diagPad: Boolean,
                       lower: Boolean = false): TileDS = {
    import s.implicits._
    val tL = t.toLong
    val n = m.rows
    val nbr = ((m.rows + t - 1) / t).toInt
    val nbc = ((m.cols + t - 1) / t).toInt
    val grid = s.range(nbr.toLong * nbc)
      .selectExpr(s"id DIV $nbc AS bi", s"id % $nbc AS bj")
    val present = (if (lower) m.df.where(col("i") >= col("j")) else m.df)
      .selectExpr(s"i DIV $tL AS bi", s"j DIV $tL AS bj",
        s"i % $tL AS ti", s"j % $tL AS tj", "v")
      .groupBy("bi", "bj")
      .agg(expr("collect_list(struct(ti, tj, v))").as("cells"))
    // tile partition count scales with the grid, not the session default —
    // a 4-block bench matrix shouldn't schedule 32-task stages per step
    val parts = math.max(1, math.min(s.sparkContext.defaultParallelism, nbr * nbc))
    (if (lower) grid.where("bi >= bj") else grid).join(present, Seq("bi", "bj"), "left")
      .selectExpr("bi", "bj",
        "coalesce(cells, CAST(array() AS ARRAY<STRUCT<ti: BIGINT, tj: BIGINT, v: DOUBLE>>)) AS cells")
      .repartition(parts, col("bi"), col("bj"))
      .as[(Long, Long, Array[(Long, Long, Double)])]
      .map { case (bi, bj, cells) =>
        val arr = new Array[Double](t * t)
        if (diagPad && bi == bj) {
          var d = 0
          while (d < t) { if (bi * tL + d >= n) arr(d * t + d) = 1.0; d += 1 }
        }
        cells.foreach { case (ti, tj, v) => arr(ti.toInt * t + tj.toInt) = v }
        (bi, bj, arr)
      }
  }

  /** Panels → cell table (i, j, v), lazily: nonzero cells inside
    * rows×cols that pass the caller's triangle filter `keep`. Block
    * COLUMN panels (`byCol`) put tile cell (ti, tj) of row block b at
    * (b·t + ti, k·t + tj); block ROW panels at (k·t + ti, b·t + tj). */
  private def cellsOf(s: SparkSession, panels: Panels, byCol: Boolean, rows: Long,
                      cols: Long, t: Int, keep: (Long, Long) => Boolean): DataFrame = {
    import s.implicits._
    val tL = t.toLong
    panels.map { case (k, p) =>
      val k0 = k * tL
      p.flatMap { case (b, arr) =>
        for {
          ti <- 0 until t
          tj <- 0 until t
          i = if (byCol) b * tL + ti else k0 + ti
          j = if (byCol) k0 + tj else b * tL + tj
          if i < rows && j < cols && arr(ti * t + tj) != 0.0 && keep(i, j)
        } yield (i, j, arr(ti * t + tj))
      }.toDF("i", "j", "v")
    }.reduce(_ unionByName _)
  }

  /** Panels → one checkpointed tile set keyed (bi, bj): column panels
    * land at (b, k), row panels at (k, b). This is the tile-to-tile bridge
    * between the factorizations and the triangular solves (and from one
    * solve to the next) — the cell-table route (assemble to (i,j,v), then
    * re-grid with a collect_list shuffle) moves every factor cell through
    * TWO extra exchanges per solve, pure overhead at any scale. */
  private def tilesOf(panels: Panels, byCol: Boolean): TileDS = {
    val sess = panels.head._2.sparkSession
    import sess.implicits._
    panels.map { case (k, p) =>
      p.map { case (b, arr) => if (byCol) (b, k, arr) else (k, b, arr) }
    }.reduce(_ unionByName _).localCheckpoint(true)
  }

  private val lowerTri: (Long, Long) => Boolean = (i, j) => i >= j
  private val upperTri: (Long, Long) => Boolean = (i, j) => j >= i
  private val anyCell: (Long, Long) => Boolean = (_, _) => true

  /** Distributed blocked Cholesky. `a` must be symmetric positive definite;
    * only the lower triangle is read. Returns lower-triangular L,
    * assembled lazily from the persisted panels and materialized once:
    * downstream consumers (tile grids of the triangular solves, matmuls)
    * re-read a compact RDD instead of re-deriving every panel per action. */
  def cholesky(s: SparkSession, a: DMatrix, tile: Int = 512): DMatrix = withoutAQE(s) {
    val n = a.rows
    val l = cellsOf(s, cholPanelsOf(s, a, tile), byCol = true, n, n, tile, lowerTri)
    new DMatrix(l.localCheckpoint(true), n, n, dense = false)
  }

  /** The factorization loop of [[cholesky]], returning L's block-column
    * PANELS (column k's tiles keyed by row block) instead of a cell
    * table — the tile-level form the triangular solves consume directly
    * ([[tilesOf]]), skipping a full cells-explode + re-grid shuffle per
    * solve. */
  private def cholPanelsOf(s: SparkSession, a: DMatrix, tile: Int): Panels = withoutAQE(s) {
    require(a.rows == a.cols, "cholesky needs a square matrix")
    import s.implicits._
    val t = tile
    val nb = ((a.rows + t - 1) / t).toInt
    var cur = tileGrid(s, a, t, diagPad = true, lower = true).localCheckpoint(true)

    // L's panels, kept DISTRIBUTED: (bi, tile) per block column k. Every
    // generation and panel is localCheckpoint'ed: the panel re-enters the
    // trailing join, so a plain persist would nest the previous plan three
    // times per step (3^nb plan nodes — the lineage must be CUT, not just
    // the data cached). Checkpointed generations release via the context
    // cleaner as the loop drops its references.
    val lPanels = ArrayBuffer.empty[(Long, PanelDS)]

    var k = 0
    while (k < nb) {
      val kk = k.toLong
      // (1) collect ONLY the diagonal tile — O(t²), the sequential core
      val akk = cur.filter(r => r._1 == kk && r._2 == kk).head()._3
      val lkk = localChol(akk, t)
      val bcLkk = s.sparkContext.broadcast(lkk)
      // (2) panel solve EXECUTOR-side against the broadcast diagonal
      // factor. Loop predicates are typed closures (kk captured, not a
      // literal): every step then reuses ONE compiled codegen class
      // instead of recompiling a literal-specialized plan per step.
      // panel stays LAZY: the trailing join's broadcast build computes it
      // this step, and final assembly re-derives it (O(panel) flops) from
      // the checkpointed generation — one fewer job per step
      val lpan = cur.filter(r => r._2 == kk)
        .map { case (bi, _, arr) =>
          (bi, if (bi == kk) bcLkk.value else localSolveXLt(arr, bcLkk.value, t))
        }
      lPanels += ((kk, lpan))

      if (k < nb - 1) {
        // (3) trailing update: broadcast-JOIN the panel onto the trailing
        // tiles — L[i,k] keyed by row block, L[j,k] by column block (both
        // always present: the panel covers blocks k..nb-1)
        val pan = lpan.toDF("pb", "parr")
        cur = cur.filter(r => r._2 > kk).toDF("bi", "bj", "arr")
          .join(broadcast(pan.select(col("pb").as("rb"), col("parr").as("lik"))),
            col("bi") === col("rb"))
          .join(broadcast(pan.select(col("pb").as("cb"), col("parr").as("ljk"))),
            col("bj") === col("cb"))
          .select(col("bi").as("_1"), col("bj").as("_2"), col("arr").as("_3"),
            col("lik").as("_4"), col("ljk").as("_5"))
          .as[(Long, Long, Array[Double], Array[Double], Array[Double])]
          .map { case (bi, bj, arr, lik, ljk) =>
            val out = arr.clone(); subMulT(out, lik, ljk, t); (bi, bj, out)
          }.localCheckpoint(true)
      }
      k += 1
    }

    lPanels.toSeq
  }

  /** In-core LU without pivoting (Doolittle; unit lower L). Suitable for
    * diagonally dominant tiles — the no-global-pivoting constraint of the
    * blocked algorithm (reference `linalg/_lu.py:27` confines pivoting to
    * per-tile scopes for the same reason). */
  def localLU(a: Array[Double], t: Int): (Array[Double], Array[Double]) = {
    val l = new Array[Double](t * t)
    val u = new Array[Double](t * t)
    var i = 0
    while (i < t) { l(i * t + i) = 1.0; i += 1 }
    var k = 0
    while (k < t) {
      var j = k
      while (j < t) { // U row k
        var s = a(k * t + j)
        var p = 0
        while (p < k) { s -= l(k * t + p) * u(p * t + j); p += 1 }
        u(k * t + j) = s
        j += 1
      }
      require(math.abs(u(k * t + k)) > 1e-12, s"zero pivot at $k (needs pivoting)")
      i = k + 1
      while (i < t) { // L column k
        var s = a(i * t + k)
        var p = 0
        while (p < k) { s -= l(i * t + p) * u(p * t + k); p += 1 }
        l(i * t + k) = s / u(k * t + k)
        i += 1
      }
      k += 1
    }
    (l, u)
  }

  /** Solve X·U = B in-core (U upper-triangular). */
  def localSolveXU(b: Array[Double], u: Array[Double], t: Int): Array[Double] = {
    val x = new Array[Double](t * t)
    var i = 0
    while (i < t) {
      var j = 0
      while (j < t) {
        var s = b(i * t + j)
        var k = 0
        while (k < j) { s -= x(i * t + k) * u(k * t + j); k += 1 }
        x(i * t + j) = s / u(j * t + j)
        j += 1
      }
      i += 1
    }
    x
  }

  /** Solve L·X = B in-core (unit lower-triangular L). */
  def localSolveLX(b: Array[Double], l: Array[Double], t: Int): Array[Double] = {
    val x = new Array[Double](t * t)
    var j = 0
    while (j < t) {
      var i = 0
      while (i < t) {
        var s = b(i * t + j)
        var k = 0
        while (k < i) { s -= l(i * t + k) * x(k * t + j); k += 1 }
        x(i * t + j) = s / l(i * t + i)
        i += 1
      }
      j += 1
    }
    x
  }

  /** c -= a · b (plain, row-major t×t). */
  private def subMul(c: Array[Double], a: Array[Double], b: Array[Double], t: Int): Unit = {
    var i = 0
    while (i < t) {
      var k = 0
      while (k < t) {
        val av = a(i * t + k)
        if (av != 0.0) {
          var j = 0
          while (j < t) { c(i * t + j) -= av * b(k * t + j); j += 1 }
        }
        k += 1
      }
      i += 1
    }
  }

  /** Distributed blocked LU A = L·U without global pivoting (reference
    * `lu`, `linalg/_lu.py:27` — same driver-panel + distributed-trailing
    * shape as [[cholesky]]). Requires a numerically safe (e.g. diagonally
    * dominant) matrix; the per-tile factorization asserts nonzero pivots. */
  def lu(s: SparkSession, a: DMatrix, tile: Int = 512): (DMatrix, DMatrix) = withoutAQE(s) {
    val n = a.rows
    val (lPanels, uPanels) = luPanelsOf(s, a, tile)
    val l = cellsOf(s, lPanels, byCol = true, n, n, tile, lowerTri)
    val u = cellsOf(s, uPanels, byCol = false, n, n, tile, upperTri)
    (new DMatrix(l.localCheckpoint(true), n, n, dense = false),
      new DMatrix(u.localCheckpoint(true), n, n, dense = false))
  }

  /** The factorization loop of [[lu]], returning the factors as PANELS:
    * L's block column k keyed by row block, U's block row k keyed by
    * column block — the tile-level form [[inv]] and the tile solves
    * consume directly, skipping the cells-explode + re-grid shuffle. */
  private def luPanelsOf(s: SparkSession, a: DMatrix, tile: Int): (Panels, Panels) = withoutAQE(s) {
    require(a.rows == a.cols, "lu needs a square matrix")
    import s.implicits._
    val t = tile
    val nb = ((a.rows + t - 1) / t).toInt
    var cur = tileGrid(s, a, t, diagPad = true).localCheckpoint(true)

    // distributed panels: L's block column k keyed by bi, U's block row k
    // keyed by bj — the factors accumulate as these checkpointed tile
    // sets (lineage CUT per step; see cholesky)
    val lPanels = ArrayBuffer.empty[(Long, PanelDS)]
    val uPanels = ArrayBuffer.empty[(Long, PanelDS)]

    var k = 0
    while (k < nb) {
      val kk = k.toLong
      // collect ONLY the diagonal tile — O(t²) driver bytes per step
      val akk = cur.filter(r => r._1 == kk && r._2 == kk).head()._3
      val (lkk, ukk) = localLU(akk, t)
      val bcLkk = s.sparkContext.broadcast(lkk)
      val bcUkk = s.sparkContext.broadcast(ukk)
      // panel solves EXECUTOR-side against the broadcast diagonal factors
      // panels stay LAZY (see cholesky): materialized by this step's
      // trailing broadcast builds, re-derived cheaply at assembly
      val lCol = cur.filter(r => r._2 == kk && r._1 >= kk)
        .map { case (bi, _, arr) =>
          (bi, if (bi == kk) bcLkk.value else localSolveXU(arr, bcUkk.value, t))
        }
      val uRow = cur.filter(r => r._1 == kk && r._2 >= kk)
        .map { case (_, bj, arr) =>
          (bj, if (bj == kk) bcUkk.value else localSolveLX(arr, bcLkk.value, t))
        }
      lPanels += ((kk, lCol))
      uPanels += ((kk, uRow))

      if (k < nb - 1) {
        // trailing update A[i,j] -= L[i,k]·U[k,j] via two broadcast joins
        cur = cur.filter(r => r._1 > kk && r._2 > kk).toDF("bi", "bj", "arr")
          .join(broadcast(lCol.toDF("rb", "lik")), col("bi") === col("rb"))
          .join(broadcast(uRow.toDF("cb", "ukj")), col("bj") === col("cb"))
          .select(col("bi").as("_1"), col("bj").as("_2"), col("arr").as("_3"),
            col("lik").as("_4"), col("ukj").as("_5"))
          .as[(Long, Long, Array[Double], Array[Double], Array[Double])]
          .map { case (bi, bj, arr, lik, ukj) =>
            val out = arr.clone(); subMul(out, lik, ukj, t); (bi, bj, out)
          }.localCheckpoint(true)
      }
      k += 1
    }
    (lPanels.toSeq, uPanels.toSeq)
  }

  /** Solve U·X = B in-core (U upper-triangular, t×t row-major): backward
    * substitution per column of B. */
  def localSolveUX(b: Array[Double], u: Array[Double], t: Int): Array[Double] = {
    val x = new Array[Double](t * t)
    var j = 0
    while (j < t) {
      var i = t - 1
      while (i >= 0) {
        var s = b(i * t + j)
        var k = i + 1
        while (k < t) { s -= u(i * t + k) * x(k * t + j); k += 1 }
        x(i * t + j) = s / u(i * t + i)
        i -= 1
      }
      j += 1
    }
    x
  }

  /** Block forward substitution with a MATRIX right-hand side: X with
    * L·X = B, both distributed tile sets (reference `solve_triangular`,
    * `linalg/_solve.py:20` — lower=True path). Right-looking, fully
    * distributed (same shape as [[cholesky]]): per block step the X
    * block-row solves executor-side under the broadcast-joined diagonal
    * factor tile, and the trailing rows take `B_i -= F_ik·X_k` via
    * broadcast joins of the factor's block column and the fresh X row —
    * user code collects nothing. */
  def solveLowerTiles(s: SparkSession, l: DMatrix, b: DMatrix, tile: Int = 512): DMatrix = {
    solveTriTiles(s, l, b, tile, lower = true)
  }

  /** Block backward substitution: X with U·X = B (upper path). */
  def solveUpperTiles(s: SparkSession, u: DMatrix, b: DMatrix, tile: Int = 512): DMatrix = {
    solveTriTiles(s, u, b, tile, lower = false)
  }

  /** Identity right-hand side as tiles, generated — no shuffle, no
    * driver data (each task writes its own diagonal ones). */
  private def eyeTiles(s: SparkSession, n: Long, t: Int): TileDS = {
    import s.implicits._
    val nb = ((n + t - 1) / t).toInt
    val (tc, nc) = (t, n)
    s.range(nb.toLong * nb)
      .selectExpr(s"id DIV $nb AS bi", s"id % $nb AS bj")
      .as[(Long, Long)]
      .map { case (bi, bj) =>
        val arr = new Array[Double](tc * tc)
        if (bi == bj) {
          var d = 0
          while (d < tc) { if (bi * tc + d < nc) arr(d * tc + d) = 1.0; d += 1 }
        }
        (bi, bj, arr)
      }.localCheckpoint(true)
  }

  /** A driver vector as a one-block-column tile set (O(n) driver bytes —
    * the vector already lives there by signature). */
  private def vecTiles(s: SparkSession, b: Array[Double], t: Int): TileDS = {
    import s.implicits._
    val tc = t
    s.createDataset(b.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .groupByKey(_._1 / tc)
      .mapGroups { (bi, it) =>
        val arr = new Array[Double](tc * tc)
        it.foreach { case (i, v) => arr((i % tc).toInt * tc) = v }
        (bi, 0L, arr)
      }.localCheckpoint(true)
  }

  /** Transposed view of a tile set (lazy map over the checkpoint). */
  private def transposeTiles(tiles: TileDS, t: Int): TileDS = {
    val sess = tiles.sparkSession
    import sess.implicits._
    tiles.map { case (bi, bj, arr) => (bj, bi, transpose(arr, t)) }
  }

  private def solveTriTiles(s: SparkSession, f: DMatrix, b: DMatrix, tile: Int,
                            lower: Boolean): DMatrix = withoutAQE(s) {
    require(f.rows == f.cols && f.rows == b.rows, "shape mismatch")
    val n = f.rows
    val m = b.cols
    // the factor's tile grid is built ONCE and stays distributed; block
    // columns broadcast-join into each step from this checkpoint. Lineage
    // is CUT per generation (see cholesky — plain persist would nest
    // plans exponentially through the panel joins).
    val fTiles = tileGrid(s, f, tile, diagPad = true).localCheckpoint(true)
    val bTiles = tileGrid(s, b, tile, diagPad = false).localCheckpoint(true)
    val xPanels = solveTriCore(s, fTiles, bTiles, n, tile, lower)
    new DMatrix(cellsOf(s, xPanels, byCol = false, n, m, tile, anyCell), n, m, dense = false)
  }

  /** The block substitution loop over tile sets (see [[solveLowerTiles]]
    * for the algorithm shape). `fTiles`/`bTiles` must be materialized
    * (checkpointed) tile datasets; returns X's block-row panels. */
  private def solveTriCore(s: SparkSession, fTiles: TileDS, bTilesIn: TileDS,
                           n: Long, tile: Int, lower: Boolean): Panels = withoutAQE(s) {
    import s.implicits._
    val t = tile
    val nb = ((n + t - 1) / t).toInt
    var cur = bTilesIn
    val xPanels = ArrayBuffer.empty[(Long, PanelDS)]
    val ks = if (lower) 0 until nb else (nb - 1) to 0 by -1
    for (k <- ks) {
      val kk = k.toLong
      // block column k of the factor (triangular half only)
      val low = lower
      val fcol = fTiles.filter(r =>
        r._2 == kk && (if (low) r._1 >= kk else r._1 <= kk))
      // X_k = Fkk⁻¹·B_k executor-side: block row k of B under the single
      // broadcast-joined diagonal factor tile
      val fdiag = fcol.filter(r => r._1 == kk).map(_._3)
      val xk = cur.filter(r => r._1 == kk).toDF("bi", "bj", "arr")
        .crossJoin(broadcast(fdiag.toDF("fkk")))
        .select(col("bj").as("_1"), col("arr").as("_2"), col("fkk").as("_3"))
        .as[(Long, Array[Double], Array[Double])]
        .map { case (bj, arr, fkk) =>
          (bj, if (low) localSolveLX(arr, fkk, t) else localSolveUX(arr, fkk, t))
        }
      xPanels += ((kk, xk))
      if (ks.last != k) {
        // trailing update B_i -= F_ik·X_k via broadcast joins (a zero
        // F_ik tile is a no-op multiply; the grid carries every block)
        cur = cur.filter(r => if (low) r._1 > kk else r._1 < kk)
          .toDF("bi", "bj", "arr")
          .join(broadcast(fcol.toDF("fb", "fc", "fik").select("fb", "fik")),
            col("bi") === col("fb"))
          .join(broadcast(xk.toDF("xb", "xkj")), col("bj") === col("xb"))
          .select(col("bi").as("_1"), col("bj").as("_2"), col("arr").as("_3"),
            col("fik").as("_4"), col("xkj").as("_5"))
          .as[(Long, Long, Array[Double], Array[Double], Array[Double])]
          .map { case (bi, bj, arr, fik, xkj) =>
            val out = arr.clone(); subMul(out, fik, xkj, t); (bi, bj, out)
          }.localCheckpoint(true)
      }
    }
    xPanels.toSeq
  }

  /** X with L·U·X = B for factor tile sets `lT` (lower) and `uT`
    * (upper): the forward block solve, then the backward block solve on
    * its result as tiles. `uT` is by-name: a factor built from panels is
    * checkpointed only once the forward solve has run. Returns X's
    * block-row panels. */
  private def substitute(s: SparkSession, lT: TileDS, uT: => TileDS, rhs: TileDS,
                         n: Long, tile: Int): Panels = {
    val y = solveTriCore(s, lT, rhs, n, tile, lower = true)
    solveTriCore(s, uT, tilesOf(y, byCol = false), n, tile, lower = false)
  }

  /** A one-column solution's panels → the driver vector x. */
  private def vecOf(s: SparkSession, x: Panels, n: Long, tile: Int): Array[Double] = {
    val out = new Array[Double](n.toInt)
    cellsOf(s, x, byCol = false, n, 1, tile, anyCell).collect()
      .foreach(r => out(r.getLong(0).toInt) = r.getDouble(2))
    out
  }

  /** Matrix inverse via LU (reference `inv`, `linalg/_solve.py:225` —
    * `solve(a, eye)`): A⁻¹ = U⁻¹ L⁻¹ I by two blocked triangular solves
    * with the identity as the right-hand side. The result is dense n² by
    * nature; every heavy stage stays distributed. */
  def inv(s: SparkSession, a: DMatrix, tile: Int = 512): DMatrix = withoutAQE(s) {
    require(a.rows == a.cols, "inv needs a square matrix")
    val n = a.rows
    // tile-to-tile: LU panels feed the solves directly, the identity RHS
    // is generated as tiles, and Y chains into the second solve as tiles
    // — no factor or intermediate ever takes the cells-explode + re-grid
    // round trip (two full exchanges of n² cells per solve saved)
    val (lp, up) = luPanelsOf(s, a, tile)
    val lT = tilesOf(lp, byCol = true)
    val uT = tilesOf(up, byCol = false)
    val x = substitute(s, lT, uT, eyeTiles(s, n, tile), n, tile)
    new DMatrix(cellsOf(s, x, byCol = false, n, n, tile, anyCell), n, n, dense = false)
  }

  private def checkSolve(a: DMatrix, b: Array[Double]): Unit = {
    require(a.rows == a.cols, "solve needs a square matrix")
    require(b.length == a.rows, s"rhs length ${b.length} != ${a.rows}")
  }

  /** General (non-SPD) solve A·x = b via LU + two triangular solves
    * (reference `solve`, `linalg/_solve.py:163`): in-core up to
    * [[LocalSolveMax]], blocked above it. */
  def solveLU(s: SparkSession, a: DMatrix, b: Array[Double], tile: Int = 512): Array[Double] = withoutAQE(s) {
    checkSolve(a, b)
    if (a.rows > LocalSolveMax) solveLUBlocked(s, a, b, tile)
    else {
      val n = a.rows.toInt
      val (l, u) = localLU(denseOf(a), n)
      backwardVec(u, forwardVec(l, b, n), n)
    }
  }

  /** The blocked tier of [[solveLU]], at any size. */
  private[graft] def solveLUBlocked(s: SparkSession, a: DMatrix, b: Array[Double],
                                    tile: Int): Array[Double] = withoutAQE(s) {
    val (lp, up) = luPanelsOf(s, a, tile)
    vecOf(s, substitute(s, tilesOf(lp, byCol = true), tilesOf(up, byCol = false),
      vecTiles(s, b, tile), a.rows, tile), a.rows, tile)
  }

  /** Solve A·x = b for SPD A via Cholesky + two triangular solves, Lᵀ
    * handled as a transpose of the one factor (reference `solve`,
    * `linalg/_solve.py:163`): in-core up to [[LocalSolveMax]], blocked
    * above it. */
  def solveSPD(s: SparkSession, a: DMatrix, b: Array[Double], tile: Int = 512): Array[Double] = withoutAQE(s) {
    checkSolve(a, b)
    if (a.rows > LocalSolveMax) solveSPDBlocked(s, a, b, tile)
    else {
      val n = a.rows.toInt
      val l = localChol(denseOf(a), n)
      backwardVec(transpose(l, n), forwardVec(l, b, n), n)
    }
  }

  /** The blocked tier of [[solveSPD]], at any size: two distributed
    * blocked triangular solves; the O(n) vector is the only data that
    * touches the driver. */
  private[graft] def solveSPDBlocked(s: SparkSession, a: DMatrix, b: Array[Double],
                                     tile: Int): Array[Double] = withoutAQE(s) {
    val lT = tilesOf(cholPanelsOf(s, a, tile), byCol = true)
    // Lᵀ materialized once: solveTriCore consumes its factor from ~3
    // actions per block step, and a lazy transposed view would redo the
    // O(n²) transpose map on every one of them
    val x = substitute(s, lT, transposeTiles(lT, tile).localCheckpoint(true),
      vecTiles(s, b, tile), a.rows, tile)
    vecOf(s, x, a.rows, tile)
  }
}
