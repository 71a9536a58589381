package graft.linalg

import org.apache.spark.sql.{DataFrame, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.DMatrix

/** Tall-skinny QR and SVD (reference `dask_array/linalg/_qr.py:560` tsqr,
  * `linalg/_svd.py:170`): the classic TSQR —
  *
  *  1. rows are grouped into blocks of [[defaultBlockRows]]; each block
  *     gets an in-core Householder QR ([[blockQR]], one task per block);
  *  2. the block R factors combine up a tree: each node stacks its
  *     children's k×k R factors and QRs the stack in one task
  *     ([[combineRs]] — the reference's `StackRFactors` → `InCoreQR`);
  *     the ≤ splitEvery factors left at the root combine on the driver,
  *     with signs normalized so diag(R) ≥ 0 ([[rootCombine]]);
  *  3. Q = Q_block · (product of the k×k Q slices down the tree), a
  *     block-local multiply, emitted back as a distributed element table.
  *
  * [[tsqr]] runs this with a persisted level per tree round (Q needs the
  * levels on the way down); [[rFactor]] chains the same kernels lazily
  * for R alone. `lstsq`, `lstsqFull` and `singularValues` are built from
  * their R (and Q). Only O(splitEvery·k²) bytes of factors ever reach the
  * driver (the reference makes the same assumption); the n×k data stays
  * partitioned throughout. The sign normalization makes the
  * factorization unique and deterministic for full-rank inputs.
  */
object TSQR {

  val defaultBlockRows = 4096

  /** In-core thin Householder QR of row-major `a` (m×k, m ≥ k).
    * Returns (Q m×k, R k×k), both row-major. */
  def localQR(a: Array[Double], m: Int, k: Int): (Array[Double], Array[Double]) = {
    require(m >= k, s"localQR needs m >= k, got $m x $k")
    require(k <= 64, s"thin QR supports k <= 64, got $k")
    val r = a.clone() // will hold R in upper triangle, reflectors below
    val betas = new Array[Double](k)
    var j = 0
    while (j < k) {
      // Householder vector for column j
      var norm2 = 0.0
      var i = j
      while (i < m) { val x = r(i * k + j); norm2 += x * x; i += 1 }
      val norm = math.sqrt(norm2)
      val x0 = r(j * k + j)
      val alpha = if (x0 >= 0) -norm else norm
      val v0 = x0 - alpha
      val vnorm2 = norm2 - x0 * x0 + v0 * v0
      if (vnorm2 > 1e-300) {
        betas(j) = 2.0 / vnorm2
        r(j * k + j) = v0
        // apply reflector to remaining columns
        var c = j + 1
        while (c < k) {
          var dot = 0.0
          i = j
          while (i < m) { dot += r(i * k + j) * r(i * k + c); i += 1 }
          val f = betas(j) * dot
          i = j
          while (i < m) { r(i * k + c) -= f * r(i * k + j); i += 1 }
          c += 1
        }
      } else betas(j) = 0.0
      // r(j,j) now holds the reflector head; the R diagonal is alpha
      rDiag(j) = alpha
      j += 1
    }
    // extract R (k×k): upper triangle of the transformed matrix, with the
    // stashed diagonal
    val rr = new Array[Double](k * k)
    var p = 0
    while (p < k) {
      rr(p * k + p) = rDiag(p)
      var q = p + 1
      while (q < k) { rr(p * k + q) = r(p * k + q); q += 1 }
      p += 1
    }
    // build thin Q: apply reflectors (in reverse) to the first k columns
    // of I_m
    val qm = new Array[Double](m * k)
    p = 0
    while (p < k) { qm(p * k + p) = 1.0; p += 1 }
    j = k - 1
    while (j >= 0) {
      if (betas(j) != 0.0) {
        var c = 0
        while (c < k) {
          var dot = 0.0
          var i = j
          while (i < m) { dot += r(i * k + j) * qm(i * k + c); i += 1 }
          val f = betas(j) * dot
          i = j
          while (i < m) { qm(i * k + c) -= f * r(i * k + j); i += 1 }
          c += 1
        }
      }
      j -= 1
    }
    (qm, rr)
  }
  // scratch for the R diagonal during localQR (k is small; thread-local to
  // stay safe under parallel task execution)
  private val rDiagTL = new ThreadLocal[Array[Double]] {
    override def initialValue(): Array[Double] = new Array[Double](64)
  }
  private def rDiag: Array[Double] = rDiagTL.get()

  /** Row-major matmul c = a(m×n) · b(n×p). */
  def mul(a: Array[Double], b: Array[Double], m: Int, n: Int, p: Int): Array[Double] = {
    val c = new Array[Double](m * p)
    var i = 0
    while (i < m) {
      var l = 0
      while (l < n) {
        val av = a(i * n + l)
        if (av != 0.0) {
          var j = 0
          while (j < p) { c(i * p + j) += av * b(l * p + j); j += 1 }
        }
        l += 1
      }
      i += 1
    }
    c
  }

  /** The rows of `mat` as (row id, its (column, value) cells), grouped
    * into blocks of `blockRows` ids — the element table stores implicit
    * zeros sparsely, so [[blockQR]] places values by column index. */
  private def rowBlocks(s: SparkSession, mat: DMatrix, blockRows: Int)
      : KeyValueGroupedDataset[Long, (Long, Array[(Long, Double)])] = {
    import s.implicits._
    mat.df.groupBy("i")
      .agg(expr("collect_list(struct(j, v))").as("cells"))
      .as[(Long, Array[(Long, Double)])]
      .groupByKey { case (i, _) => i / blockRows }
  }

  /** In-core QR of one row block: rows sorted by id, placed densely and
    * zero-padded to k rows when the block is shorter (ragged tail, sparse
    * row gaps) — QR([A;0]) has the same R, and the padded Q rows are
    * dropped. Returns (row ids, Q trimmed to those rows, R). */
  private def blockQR(rows: Iterator[(Long, Array[(Long, Double)])], k: Int)
      : (Array[Long], Array[Double], Array[Double]) = {
    val rs = rows.toArray.sortBy(_._1)
    val m = rs.length
    val mp = math.max(m, k)
    val a = new Array[Double](mp * k)
    var i = 0
    while (i < m) {
      rs(i)._2.foreach { case (j, v) => a(i * k + j.toInt) = v }
      i += 1
    }
    val (q, r) = localQR(a, mp, k)
    (rs.map(_._1), java.util.Arrays.copyOf(q, m * k), r)
  }

  /** One tree node's combine: its children's k×k R factors, stacked in
    * id order and QR'd in-core. Returns (each child's k×k slice of the
    * stack's Q, keyed by child id; the node's R). */
  private def combineRs(children: Iterator[(Long, Array[Double])], k: Int)
      : (Array[(Long, Array[Double])], Array[Double]) = {
    val ch = children.toArray.sortBy(_._1)
    val stacked = new Array[Double](ch.length * k * k)
    ch.zipWithIndex.foreach { case ((_, r), i) =>
      System.arraycopy(r, 0, stacked, i * k * k, k * k)
    }
    val (q, r) = localQR(stacked, ch.length * k, k)
    (ch.zipWithIndex.map { case ((cr, _), i) =>
      (cr, java.util.Arrays.copyOfRange(q, i * k * k, (i + 1) * k * k))
    }, r)
  }

  /** The root combine on the driver: [[combineRs]] normalized so
    * diag(R) ≥ 0 — a negative diagonal entry flips its R row and the
    * matching column of every child's Q slice. */
  private def rootCombine(children: Array[(Long, Array[Double])], k: Int)
      : (Array[(Long, Array[Double])], Array[Double]) = {
    val (chunks, r) = combineRs(children.iterator, k)
    var j = 0
    while (j < k) {
      if (r(j * k + j) < 0) {
        var c = j
        while (c < k) { r(j * k + c) = -r(j * k + c); c += 1 }
        chunks.foreach { case (_, q) =>
          var i = 0
          while (i < k) { q(i * k + j) = -q(i * k + j); i += 1 }
        }
      }
      j += 1
    }
    (chunks, r)
  }

  /** Tree fan-in for the R-combine (reference tsqr recursion,
    * `linalg/_qr.py:560`, split_every=16 per `.ai-docs/reductions.md`). */
  val defaultSplitEvery = 16

  /** Distributed TSQR. Returns (Q as an element-table DMatrix, R row-major
    * k×k on the driver).
    *
    * The R-combine is a TREE: each round groups `splitEvery` R factors,
    * QRs the stack in one task, and keeps the per-child k×k Q chunks as a
    * distributed level; only the final ≤ splitEvery factors reach the
    * driver. A single-level collect of all per-block R factors would be
    * O(numBlocks·k²) driver bytes — fine at p≈100, an OOM at p≈10⁶ fine
    * blocks over 100 TB. Q factors then propagate back DOWN the levels as
    * distributed k×k joins: factor(child) = chunk(child) · factor(parent). */
  def tsqr(s: SparkSession, mat: DMatrix, blockRows: Int = defaultBlockRows,
           splitEvery: Int = defaultSplitEvery): (DMatrix, Array[Double]) = {
    require(splitEvery >= 2, s"splitEvery must be >= 2, got $splitEvery")
    import s.implicits._
    val k = mat.cols.toInt
    val n = mat.rows

    val blockQRs = rowBlocks(s, mat, blockRows)
      .mapGroups { (b, it) => val (ids, q, r) = blockQR(it, k); (b, ids, q, r) }
      .persist()

    // upward sweep: (node id, R) → grouped stacks, one level per round;
    // each level keeps (child id, parent id, k×k chunk) distributed. Tree
    // nodes are addressed by block id, as in [[rFactor]], so the round
    // count follows from the static row count and the two build the
    // same tree (and R) even when whole row blocks are absent
    val kk = k
    var rs = blockQRs.map { case (b, _, _, r) => (b, r) }
    var levels = List.empty[org.apache.spark.rdd.RDD[(Long, (Long, Array[Double]))]]
    var cached = List[AnyRef](blockQRs) // everything to free once Q is materialized
    var width = (n + blockRows - 1) / blockRows
    while (width > splitEvery) {
      val lvl = rs.groupByKey(_._1 / splitEvery).mapGroups { (parent, it) =>
        val (chunks, rNew) = combineRs(it, kk)
        (parent, rNew, chunks)
      }.persist()
      lvl.count()
      cached ::= lvl
      // level edges keyed by parent for the downward join
      levels = lvl.flatMap { case (p0, _, chunks) =>
        chunks.map { case (cr, c) => (p0, (cr, c)) }
      }.rdd :: levels
      rs = lvl.map { case (p0, r, _) => (p0, r) }
      width = (width + splitEvery - 1) / splitEvery
    }

    // final driver combine over the ≤ splitEvery surviving R factors
    val (top, rFinal) = rootCombine(rs.collect(), k)

    // downward sweep: factor(child) = chunk(child) · factor(parent),
    // one distributed join per level (node count shrinks 16× per level up,
    // so every join is against the SMALLER upper level)
    var factors: org.apache.spark.rdd.RDD[(Long, Array[Double])] =
      s.sparkContext.parallelize(top.toSeq)
    levels.foreach { lvl =>
      factors = lvl.join(factors).map { case (_, ((child, chunk), fac)) =>
        (child, mul(chunk, fac, kk, kk, kk))
      }
    }

    // Q = Q_block · factor(block), re-emitted as an element table. The
    // result is materialized HERE so every intermediate cache (blockQR +
    // one dataset per tree level) can be released immediately — without
    // this, repeated tsqr calls (e.g. svd_compressed power iterations)
    // accumulate dead cached levels in executor storage.
    val qRDD = blockQRs.rdd
      .map { case (b, ids, q, _) => (b, (ids, q)) }
      .join(factors)
      .flatMap { case (_, ((ids, q), fac)) =>
        val qf = mul(q, fac, ids.length, kk, kk)
        for (ri <- ids.indices.iterator; c <- (0 until kk).iterator)
          yield (ids(ri), c.toLong, qf(ri * kk + c))
      }
    val qDF: DataFrame = qRDD.toDF("i", "j", "v").persist()
    qDF.count()
    cached.foreach {
      case d: org.apache.spark.sql.Dataset[_] => d.unpersist()
      case _                                  =>
    }

    // every present row gets all k columns
    (new DMatrix(qDF, n, k, mat.dense), rFinal)
  }

  /** R factor only — the upward tree sweep without Q materialization.
    * The tree DEPTH is derived arithmetically from the max block id (ids
    * live in [0, span); each round divides the span by splitEvery), so the
    * sweep chains its rounds lazily and the whole lineage — block QRs
    * included — evaluates exactly ONCE, at the final collect. No per-round
    * action, no cache. Use when only R / singular values are needed. */
  def rFactor(s: SparkSession, mat: DMatrix, blockRows: Int = defaultBlockRows,
              splitEvery: Int = defaultSplitEvery): Array[Double] = {
    require(splitEvery >= 2, s"splitEvery must be >= 2, got $splitEvery")
    import s.implicits._
    val k = mat.cols.toInt
    var rs = rowBlocks(s, mat, blockRows)
      .mapGroups { (b, it) => (b, blockQR(it, k)._3) }
    // block ids lie in [0, span); grouping on id DIV splitEvery maps that
    // to [0, ceil(span/splitEvery)) per round — span is an upper bound on
    // the surviving width even when ids are sparse, so the round count is
    // known up front from the STATIC row count (no extra job at all)
    var span = (mat.rows + blockRows - 1) / blockRows
    while (span > splitEvery) {
      rs = rs.groupByKey(_._1 / splitEvery)
        .mapGroups { (parent, it) => (parent, combineRs(it, k)._2) }
      span = (span + splitEvery - 1) / splitEvery
    }
    rootCombine(rs.collect(), k)._2
  }

  /** Short-fat QR (reference `sfqr`, `dask_array/linalg/_qr.py:529`) —
    * the transpose twin of [[tsqr]]: factor A = Q·R for m×n with SMALL m
    * and huge n (a single row-panel, the regime the reference's `qr`
    * dispatches here for). Q is fully determined by the leading m×m
    * panel: ONE in-core Householder QR of that panel (O(m²) driver
    * bytes — the same budget class as tsqr's R), then R = Qᵀ·A as ONE
    * distributed matmul where the tiny m×m Qᵀ broadcasts — the n-sized
    * data never shuffles. Returns (Q row-major m×m, R as a DMatrix).
    * Requires the leading panel to be nonsingular (loud failure
    * otherwise, matching the reference's full-rank assumption). */
  def sfqr(s: SparkSession, a: DMatrix): (Array[Double], DMatrix) = {
    val m = a.rows.toInt
    require(m <= 64 && a.cols >= a.rows,
      s"sfqr wants a short-fat matrix (m <= 64, n >= m), got ${a.rows} x ${a.cols}")
    val panel = new Array[Double](m * m)
    a.df.where(col("j") < m).collect()
      .foreach(r => panel(r.getLong(0).toInt * m + r.getLong(1).toInt) = r.getDouble(2))
    val (q, r11) = localQR(panel, m, m)
    var d = 0
    while (d < m) {
      require(math.abs(r11(d * m + d)) > 1e-12,
        s"sfqr: leading $m x $m panel is singular at column $d")
      d += 1
    }
    // R = Qᵀ A — emit Qᵀ as a tiny element table; matmul broadcasts it
    val qtRows = for (l <- 0 until m; i <- 0 until m)
      yield (l.toLong, i.toLong, q(i * m + l))
    import s.implicits._
    val qt = new DMatrix(qtRows.toDF("i", "j", "v"), m, m, dense = true)
    (q, qt.matmul(a))
  }

  /** x = R⁻¹·(Qᵀb) from one [[tsqr]]: Qᵀb is one distributed mat-vec
    * (broadcast b), the k×k back-substitution runs on the driver, and
    * Q's cache is released before returning. Returns (x, R). */
  private def qrSolve(s: SparkSession, mat: DMatrix, b: Array[Double])
      : (Array[Double], Array[Double]) = {
    require(b.length == mat.rows, "rhs length must match rows")
    val k = mat.cols.toInt
    val (q, r) = tsqr(s, mat)
    val qtb = new Array[Double](k)
    q.elements.join(broadcast(vecDF(s, b, "i", "bv")), "i")
      .groupBy("j").agg(sum(expr("v * bv")).as("s"))
      .collect().foreach(row => qtb(row.getLong(0).toInt) = row.getDouble(1))
    q.df.unpersist()
    (Cholesky.backwardVec(r, qtb, k), r)
  }

  /** A driver vector as a two-column (index, value) table. */
  private def vecDF(s: SparkSession, x: Array[Double], idx: String, v: String): DataFrame = {
    import s.implicits._
    x.zipWithIndex.toSeq.map { case (xv, i) => (i.toLong, xv) }.toDF(idx, v)
  }

  /** Least squares min ‖Ax − b‖ via TSQR (reference `lstsq`,
    * `dask_array/linalg/_solve.py:305` — QR-based): x = R⁻¹·(Qᵀb). */
  def lstsq(s: SparkSession, mat: DMatrix, b: Array[Double]): Array[Double] =
    qrSolve(s, mat, b)._1

  /** lstsq with the reference's full outputs (reference `LstsqRank`/
    * `LstsqSingular`, `linalg/_solve.py:305`): solution, squared residual
    * ‖Ax−b‖² (one distributed pass), numerical rank, singular values.
    * ONE TSQR sweep serves everything — x comes from its R + Qᵀb, the
    * singular values from the SAME R (sv(A) = sv(R)). Requires full
    * column rank for the solution itself (QR-based). */
  def lstsqFull(s: SparkSession, mat: DMatrix, b: Array[Double])
      : (Array[Double], Double, Int, Array[Double]) = {
    val (x, r) = qrSolve(s, mat, b)
    val sv = SVD.localSVD(r, mat.cols.toInt)._2 // sv(A) = sv(R)
    val tol = sv.headOption.getOrElse(0.0) * 1e-12 * math.max(mat.rows, mat.cols)
    val rank = sv.count(_ > tol)
    // residual over ALL rows incl. zero rows of A: left join Ax onto b
    val ax = mat.df.join(broadcast(vecDF(s, x, "j", "xv")), "j")
      .groupBy("i").agg(sum(expr("v * xv")).as("axv"))
    val res = vecDF(s, b, "i", "bv").join(ax, Seq("i"), "left")
      .selectExpr("power(bv - coalesce(axv, 0.0), 2) AS r2")
      .agg(sum("r2")).collect()(0).getDouble(0)
    (x, res, rank, sv)
  }

  /** Singular values via TSQR: sv(A) = sv(R) = sqrt(eig(RᵀR)), descending
    * (reference `linalg/_svd.py:170` builds SVD from the same TSQR
    * pieces). Uses the R-only sweep — no Q is ever materialized. */
  def singularValues(s: SparkSession, mat: DMatrix): Array[Double] =
    SVD.localSVD(rFactor(s, mat), mat.cols.toInt)._2
}
