package graft.linalg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.DMatrix

/** Tall-skinny QR and SVD (reference `dask_array/linalg/_qr.py:560` tsqr,
  * `linalg/_svd.py:170`): the classic two-level TSQR —
  *
  *  1. rows are grouped into blocks of [[defaultBlockRows]]; each block
  *     gets an in-core Householder QR (`mapGroups`, one task per block);
  *  2. the p stacked k×k R factors (tiny: O(p·k²)) are QR'd in-core on the
  *     driver — exactly the reference's `StackRFactors` → `InCoreQR` step;
  *  3. Q = Q_block · Q2_block, a block-local k×k multiply, emitted back as
  *     a distributed element table.
  *
  * Only O(p·k²) bytes ever reach the driver (the reference makes the same
  * assumption); the n×k data stays partitioned throughout. Signs are
  * normalized so diag(R) ≥ 0, making the factorization unique and
  * deterministic for full-rank inputs.
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

  /** Eigenvalues of a symmetric k×k matrix (cyclic Jacobi), descending. */
  def symEigvals(a0: Array[Double], n: Int): Array[Double] = {
    val a = a0.clone()
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-22) {
      off = 0.0
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          off += a(p * n + q) * a(p * n + q)
          q += 1
        }
        p += 1
      }
      if (off > 1e-22) {
        p = 0
        while (p < n) {
          var q = p + 1
          while (q < n) {
            val apq = a(p * n + q)
            if (math.abs(apq) > 1e-300) {
              val theta = (a(q * n + q) - a(p * n + p)) / (2 * apq)
              val t = math.signum(theta) match {
                case 0.0 => 1.0
                case sg  => sg / (math.abs(theta) + math.sqrt(theta * theta + 1))
              }
              val c = 1.0 / math.sqrt(t * t + 1)
              val s = t * c
              var r = 0
              while (r < n) {
                val arp = a(r * n + p); val arq = a(r * n + q)
                a(r * n + p) = c * arp - s * arq
                a(r * n + q) = s * arp + c * arq
                r += 1
              }
              r = 0
              while (r < n) {
                val apr = a(p * n + r); val aqr = a(q * n + r)
                a(p * n + r) = c * apr - s * aqr
                a(q * n + r) = s * apr + c * aqr
                r += 1
              }
            }
            q += 1
          }
          p += 1
        }
      }
      sweep += 1
    }
    (0 until n).map(i => a(i * n + i)).sortBy(-_).toArray
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
    * distributed k×k joins: factor(child) = chunk(child) · factor(parent).
    *
    * Blocks shorter than k rows (ragged tail, sparse row gaps) are
    * zero-padded to k before the local QR — QR([A;0]) has the same R, and
    * the padded Q rows are dropped on emit. */
  def tsqr(s: SparkSession, mat: DMatrix, blockRows: Int = defaultBlockRows,
           splitEvery: Int = defaultSplitEvery): (DMatrix, Array[Double]) = {
    require(splitEvery >= 2, s"splitEvery must be >= 2, got $splitEvery")
    import s.implicits._
    val k = mat.cols.toInt
    val n = mat.rows

    // assemble dense rows (the element table stores implicit zeros
    // sparsely — place values by column index), then per-block local QR
    val rowDs = mat.df.groupBy("i")
      .agg(expr("collect_list(struct(j, v))").as("cells"))
      .as[(Long, Array[(Long, Double)])]

    val blockQR = rowDs
      .groupByKey { case (i, _) => i / blockRows }
      .mapGroups { (b, it) =>
        val rs = it.toArray.sortBy(_._1)
        val m = rs.length
        val mp = math.max(m, k) // zero-pad short blocks up to k rows
        val a = new Array[Double](mp * k)
        var i = 0
        while (i < m) {
          rs(i)._2.foreach { case (j, v) => a(i * k + j.toInt) = v }
          i += 1
        }
        val (q, r) = localQR(a, mp, k)
        (b, rs.map(_._1), java.util.Arrays.copyOf(q, m * k), r)
      }
      .persist()

    // dense ranks for tree addressing (block ids can be sparse); only the
    // 8-byte ids reach the driver, never the k×k factors
    val blockIds = blockQR.map(_._1).collect().sorted
    val rankOf = blockIds.zipWithIndex.map { case (b, i) => (b, i.toLong) }.toMap
    val bcRank = s.sparkContext.broadcast(rankOf)

    // upward sweep: (rank, R) → grouped stacks, one level per round;
    // each level keeps (childRank, parentRank, k×k chunk) distributed
    val kk = k
    var rs = blockQR.map { case (b, _, _, r) => (bcRank.value(b), r) }
    var levels = List.empty[org.apache.spark.rdd.RDD[(Long, (Long, Array[Double]))]]
    var cached = List[AnyRef](blockQR) // everything to free once Q is materialized
    var width = blockIds.length.toLong
    while (width > splitEvery) {
      val lvl = rs.groupByKey(_._1 / splitEvery).mapGroups { (parent, it) =>
        val ch = it.toArray.sortBy(_._1)
        val g = ch.length
        val stacked = new Array[Double](g * kk * kk)
        ch.zipWithIndex.foreach { case ((_, r), i) =>
          System.arraycopy(r, 0, stacked, i * kk * kk, kk * kk)
        }
        val (q2, rNew) = localQR(stacked, g * kk, kk)
        val chunks = ch.zipWithIndex.map { case ((cr, _), i) =>
          (cr, java.util.Arrays.copyOfRange(q2, i * kk * kk, (i + 1) * kk * kk))
        }
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

    // final driver QR over the ≤ splitEvery surviving R factors
    val top = rs.collect().sortBy(_._1)
    val p = top.length
    val stacked = new Array[Double](p * k * k)
    top.zipWithIndex.foreach { case ((_, r), bi) =>
      System.arraycopy(r, 0, stacked, bi * k * k, k * k)
    }
    val (q2all, rFinal) = localQR(stacked, p * k, k)

    // normalize: diag(R) >= 0 (flip R rows + Q2 columns)
    var j = 0
    while (j < k) {
      if (rFinal(j * k + j) < 0) {
        var c = j
        while (c < k) { rFinal(j * k + c) = -rFinal(j * k + c); c += 1 }
        var i = 0
        while (i < p * k) { q2all(i * k + j) = -q2all(i * k + j); i += 1 }
      }
      j += 1
    }

    // downward sweep: factor(child) = chunk(child) · factor(parent),
    // one distributed join per level (node count shrinks 16× per level up,
    // so every join is against the SMALLER upper level)
    var factors: org.apache.spark.rdd.RDD[(Long, Array[Double])] =
      s.sparkContext.parallelize(top.zipWithIndex.map { case ((rk, _), bi) =>
        (rk, java.util.Arrays.copyOfRange(q2all, bi * k * k, (bi + 1) * k * k))
      }.toSeq)
    levels.foreach { lvl =>
      factors = lvl.join(factors).map { case (_, ((childRank, chunk), fac)) =>
        (childRank, mul(chunk, fac, kk, kk, kk))
      }
    }

    // Q = Q_block · factor(block), re-emitted as an element table. The
    // result is materialized HERE so every intermediate cache (blockQR +
    // one dataset per tree level) can be released immediately — without
    // this, repeated tsqr calls (e.g. svd_compressed power iterations)
    // accumulate dead cached levels in executor storage.
    val qRDD = blockQR.rdd
      .map { case (b, ids, q, _) => (bcRank.value(b), (ids, q)) }
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
    import s.implicits._
    val k = mat.cols.toInt
    val rowDs = mat.df.groupBy("i")
      .agg(expr("collect_list(struct(j, v))").as("cells"))
      .as[(Long, Array[(Long, Double)])]
    val kk = k
    val blockR = rowDs
      .groupByKey { case (i, _) => i / blockRows }
      .mapGroups { (b, it) =>
        val rs = it.toArray.sortBy(_._1)
        val m = rs.length
        val mp = math.max(m, kk)
        val a = new Array[Double](mp * kk)
        var i = 0
        while (i < m) {
          rs(i)._2.foreach { case (j, v) => a(i * kk + j.toInt) = v }
          i += 1
        }
        (b, localQR(a, mp, kk)._2)
      }
    require(splitEvery >= 2, s"splitEvery must be >= 2, got $splitEvery")
    var rs0 = blockR.map { case (b, r) => (b, r) }
    // block ids lie in [0, span); grouping on id DIV splitEvery maps that
    // to [0, ceil(span/splitEvery)) per round — span is an upper bound on
    // the surviving width even when ids are sparse, so the round count is
    // known up front from the STATIC row count (no extra job at all)
    var span = (mat.rows + blockRows - 1) / blockRows
    while (span > splitEvery) {
      rs0 = rs0.groupByKey(_._1 / splitEvery).mapGroups { (parent, it) =>
        val ch = it.toArray.sortBy(_._1)
        val stacked = new Array[Double](ch.length * kk * kk)
        ch.zipWithIndex.foreach { case ((_, r), i) =>
          System.arraycopy(r, 0, stacked, i * kk * kk, kk * kk)
        }
        (parent, localQR(stacked, ch.length * kk, kk)._2)
      }
      span = (span + splitEvery - 1) / splitEvery
    }
    val top = rs0.collect().sortBy(_._1)
    val stacked = new Array[Double](top.length * k * k)
    top.zipWithIndex.foreach { case ((_, r), bi) =>
      System.arraycopy(r, 0, stacked, bi * k * k, k * k)
    }
    val (_, rFinal) = localQR(stacked, top.length * k, k)
    var j = 0
    while (j < k) {
      if (rFinal(j * k + j) < 0) {
        var c = j
        while (c < k) { rFinal(j * k + c) = -rFinal(j * k + c); c += 1 }
      }
      j += 1
    }
    rFinal
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

  /** Least squares min ‖Ax − b‖ via TSQR (reference `lstsq`,
    * `dask_array/linalg/_solve.py:305` — QR-based): x = R⁻¹·(Qᵀb). Qᵀb is
    * one distributed mat-vec (broadcast b); the k×k back-substitution runs
    * on the driver. */
  def lstsq(s: SparkSession, mat: DMatrix, b: Array[Double]): Array[Double] = {
    require(b.length == mat.rows, "rhs length must match rows")
    val k = mat.cols.toInt
    val (q, r) = tsqr(s, mat)
    import s.implicits._
    val bdf = b.zipWithIndex.toSeq.map { case (v, i) => (i.toLong, v) }.toDF("i", "bv")
    val qtb = new Array[Double](k)
    q.elements.join(broadcast(bdf), "i")
      .groupBy("j").agg(sum(expr("v * bv")).as("s"))
      .collect().foreach(row => qtb(row.getLong(0).toInt) = row.getDouble(1))
    q.df.unpersist() // Q served its one purpose; free the tsqr cache
    // back-substitute R x = Qᵀb
    val x = new Array[Double](k)
    var i = k - 1
    while (i >= 0) {
      var acc = qtb(i)
      var j = i + 1
      while (j < k) { acc -= r(i * k + j) * x(j); j += 1 }
      x(i) = acc / r(i * k + i)
      i -= 1
    }
    x
  }

  /** lstsq with the reference's full outputs (reference `LstsqRank`/
    * `LstsqSingular`, `linalg/_solve.py:305`): solution, squared residual
    * ‖Ax−b‖² (one distributed pass), numerical rank, singular values.
    * ONE TSQR sweep serves everything — x comes from its R + Qᵀb, the
    * singular values from the SAME R (sv(A) = sv(R)) — and the Q cache is
    * released before returning. Requires full column rank for the
    * solution itself (QR-based). */
  def lstsqFull(s: SparkSession, mat: DMatrix, b: Array[Double])
      : (Array[Double], Double, Int, Array[Double]) = {
    require(b.length == mat.rows, "rhs length must match rows")
    val k = mat.cols.toInt
    val (q, r) = tsqr(s, mat)
    import s.implicits._
    val bdf0 = b.zipWithIndex.toSeq.map { case (v, i) => (i.toLong, v) }.toDF("i", "bv")
    val qtb = new Array[Double](k)
    q.elements.join(broadcast(bdf0), "i")
      .groupBy("j").agg(sum(expr("v * bv")).as("s"))
      .collect().foreach(row => qtb(row.getLong(0).toInt) = row.getDouble(1))
    q.df.unpersist() // tsqr materializes Q; nothing below needs it
    // back-substitute R x = Qᵀb
    val x = new Array[Double](k)
    var i = k - 1
    while (i >= 0) {
      var acc = qtb(i)
      var j = i + 1
      while (j < k) { acc -= r(i * k + j) * x(j); j += 1 }
      x(i) = acc / r(i * k + i)
      i -= 1
    }
    // sv(A) = sv(R): reuse the R already in hand
    val rtr = new Array[Double](k * k)
    i = 0
    while (i < k) {
      var j = 0
      while (j < k) {
        var sum0 = 0.0
        var l = 0
        while (l < k) { sum0 += r(l * k + i) * r(l * k + j); l += 1 }
        rtr(i * k + j) = sum0
        j += 1
      }
      i += 1
    }
    val sv = symEigvals(rtr, k).map(e => math.sqrt(math.max(e, 0.0)))
    val tol = sv.headOption.getOrElse(0.0) * 1e-12 * math.max(mat.rows, mat.cols)
    val rank = sv.count(_ > tol)
    val xdf = x.zipWithIndex.toSeq.map { case (v, j) => (j.toLong, v) }.toDF("j", "xv")
    // residual over ALL rows incl. zero rows of A: left join Ax onto b
    val ax = mat.df.join(broadcast(xdf), "j")
      .groupBy("i").agg(sum(expr("v * xv")).as("axv"))
    val res = bdf0.join(ax, Seq("i"), "left")
      .selectExpr("power(bv - coalesce(axv, 0.0), 2) AS r2")
      .agg(sum("r2")).collect()(0).getDouble(0)
    (x, res, rank, sv)
  }

  /** Singular values via TSQR: sv(A) = sv(R) = sqrt(eig(RᵀR)) (reference
    * `linalg/_svd.py:170` builds SVD from the same TSQR pieces). Uses the
    * R-only sweep — no Q is ever materialized. */
  def singularValues(s: SparkSession, mat: DMatrix): Array[Double] = {
    val k = mat.cols.toInt
    val r = rFactor(s, mat)
    val rtr = new Array[Double](k * k)
    var i = 0
    while (i < k) {
      var j = 0
      while (j < k) {
        var sum = 0.0
        var l = 0
        while (l < k) { sum += r(l * k + i) * r(l * k + j); l += 1 }
        rtr(i * k + j) = sum
        j += 1
      }
      i += 1
    }
    symEigvals(rtr, k).map(e => math.sqrt(math.max(e, 0.0)))
  }
}
