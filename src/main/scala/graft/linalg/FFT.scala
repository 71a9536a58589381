package graft.linalg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed O(n log n) FFT (reference `dask_array/fft.py:119` — the
  * reference only FFTs along single-chunk axes, delegating the kernel to
  * numpy and rechunking first; here the four-step Bailey decomposition
  * makes the transform itself distributed, so no rechunk-to-one-task
  * bottleneck exists at all):
  *
  * with n = n1·n2 (divisor pair, ~√n each; any length — non-power-of-two
  * line kernels route through Bluestein):
  *   1. inner FFTs: group by j2 = idx % n2 → n2 independent in-core
  *      length-n1 FFTs (one task each, map-side);
  *   2. twiddle: multiply by w_n^(j2·k1) — elemwise, free;
  *   3. outer FFTs: regroup by k1 → n1 independent length-n2 FFTs;
  *   4. output index k = k1 + n1·k2 — pure index math.
  *
  * Two shuffles of n rows total, every in-core kernel bounded at O(√n) —
  * the transpose-based parallel FFT a 1000-executor cluster wants.
  *
  * Derivation (j = j1·n2 + j2, k = k1 + n1·k2):
  * X[k] = Σ_{j2} w_n^{j2 k1} (Σ_{j1} x[j1 n2 + j2] w_{n1}^{j1 k1}) w_{n2}^{j2 k2}
  */
object FFT {

  /** In-core DFT of ANY length; arrays mutated in place. Power-of-two
    * lengths take the radix-2 butterflies directly; every other length
    * routes through [[bluestein]] (chirp-z), which evaluates the DFT as a
    * circular convolution computed with radix-2 FFTs at the next power of
    * two ≥ 2n−1 — still O(n log n), matching numpy's any-n contract.
    * No scaling applied (callers scale once for the inverse). */
  def fftInPlace(re: Array[Double], im: Array[Double], inverse: Boolean): Unit = {
    val n = re.length
    require(n == im.length, s"re/im length mismatch $n vs ${im.length}")
    if (n <= 1) return
    if ((n & (n - 1)) == 0) radix2InPlace(re, im, inverse)
    else bluestein(re, im, inverse)
  }

  /** Bluestein's chirp-z DFT for arbitrary n: X_k = c_k · Σ_j (x_j c_j) ·
    * conj(c)_{k−j} with chirp c_k = exp(∓iπk²/n) — a circular convolution
    * at padded power-of-two length m ≥ 2n−1, done with three radix-2
    * transforms. Chirp angles reduce k² mod 2n BEFORE the float divide,
    * so the phase stays accurate at any n (k² alone would lose ulps once
    * k² outgrows the mantissa). */
  private def bluestein(re: Array[Double], im: Array[Double], inverse: Boolean): Unit = {
    val n = re.length
    val sign = if (inverse) 1.0 else -1.0
    var m = 1
    while (m < 2 * n - 1) m <<= 1
    val cr = new Array[Double](n); val ci = new Array[Double](n)
    var k = 0
    while (k < n) {
      val t = (k.toLong * k) % (2L * n) // πk²/n mod 2π
      val ang = sign * math.Pi * t / n
      cr(k) = math.cos(ang); ci(k) = math.sin(ang)
      k += 1
    }
    val ar = new Array[Double](m); val ai = new Array[Double](m)
    k = 0
    while (k < n) {
      ar(k) = re(k) * cr(k) - im(k) * ci(k)
      ai(k) = re(k) * ci(k) + im(k) * cr(k)
      k += 1
    }
    // conjugate chirp, circularly wrapped: b_k = b_{m−k} = conj(c)_k
    val br = new Array[Double](m); val bi = new Array[Double](m)
    br(0) = cr(0); bi(0) = -ci(0)
    k = 1
    while (k < n) {
      br(k) = cr(k); bi(k) = -ci(k)
      br(m - k) = cr(k); bi(m - k) = -ci(k)
      k += 1
    }
    radix2InPlace(ar, ai, inverse = false)
    radix2InPlace(br, bi, inverse = false)
    k = 0
    while (k < m) {
      val r = ar(k) * br(k) - ai(k) * bi(k)
      val i2 = ar(k) * bi(k) + ai(k) * br(k)
      ar(k) = r; ai(k) = i2
      k += 1
    }
    radix2InPlace(ar, ai, inverse = true)
    k = 0
    while (k < n) {
      val rr = ar(k) / m; val ri = ai(k) / m
      re(k) = rr * cr(k) - ri * ci(k)
      im(k) = rr * ci(k) + ri * cr(k)
      k += 1
    }
  }

  /** In-core iterative radix-2 Cooley-Tukey; arrays mutated in place. */
  private def radix2InPlace(re: Array[Double], im: Array[Double], inverse: Boolean): Unit = {
    val n = re.length
    // bit-reversal permutation
    var i = 1; var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    // butterflies
    var len = 2
    while (len <= n) {
      val ang = (if (inverse) 2.0 else -2.0) * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var blk = 0
      while (blk < n) {
        var cr = 1.0; var ci = 0.0
        var p = 0
        while (p < len / 2) {
          val a = blk + p; val b = a + len / 2
          val xr = re(b) * cr - im(b) * ci
          val xi = re(b) * ci + im(b) * cr
          re(b) = re(a) - xr; im(b) = im(a) - xi
          re(a) += xr; im(a) += xi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr; cr = ncr
          p += 1
        }
        blk += len
      }
      len <<= 1
    }
  }

  /** Split n into a divisor pair (n1, n2), n1 ≤ n2, n1 as close to √n as
    * divisibility allows — the general Cooley-Tukey decomposition (the
    * four-step derivation never needed powers of two, only n = n1·n2; the
    * per-line kernels handle any length via [[bluestein]]). A PRIME n
    * degenerates to (1, n): one in-core Bluestein line — correct, but
    * single-task; prefer composite lengths for distributed transforms. */
  def split(n: Long): (Long, Long) = {
    require(n > 0, s"FFT length must be positive, got $n")
    var d = math.sqrt(n.toDouble).toLong
    while (d > 1 && n % d != 0) d -= 1
    (d.max(1), n / d.max(1))
  }

  /** Distributed FFT of the complex element table `(idx, re, im)` of any
    * length n. Returns the same schema. */
  def fft(s: SparkSession, df: DataFrame, n: Long, inverse: Boolean = false): DataFrame = {
    import s.implicits._
    val (n1, n2) = split(n)
    val inv = inverse
    val sign = if (inverse) 2.0 else -2.0
    val scale = if (inverse) 1.0 / n else 1.0

    // step 1: inner length-n1 FFT per column j2 (j1 = idx DIV n2)
    val inner = df
      .selectExpr(s"idx % $n2 AS j2", s"idx DIV $n2 AS j1", "re", "im")
      .as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (j2, it) =>
        val re = new Array[Double](n1.toInt)
        val im = new Array[Double](n1.toInt)
        it.foreach { case (_, j1, r, i0) => re(j1.toInt) = r; im(j1.toInt) = i0 }
        fftInPlace(re, im, inv)
        // step 2: twiddle w_n^(±j2·k1) applied on emit
        (0 until n1.toInt).iterator.map { k1 =>
          val ang = sign * math.Pi * j2 * k1 / n
          val cr = math.cos(ang); val ci = math.sin(ang)
          (k1.toLong, j2, re(k1) * cr - im(k1) * ci, re(k1) * ci + im(k1) * cr)
        }
      }.toDF("k1", "j2", "re", "im")

    // step 3: outer length-n2 FFT per row k1; step 4: k = k1 + n1·k2
    inner.as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (k1, it) =>
        val re = new Array[Double](n2.toInt)
        val im = new Array[Double](n2.toInt)
        it.foreach { case (_, j2, r, i0) => re(j2.toInt) = r; im(j2.toInt) = i0 }
        fftInPlace(re, im, inv)
        (0 until n2.toInt).iterator.map { k2 =>
          (k1 + n1 * k2, re(k2) * scale, im(k2) * scale)
        }
      }.toDF("idx", "re", "im")
  }

  /** Real-input FFT keeping the non-negative-frequency half, bins
    * 0..n/2 inclusive (reference `rfft`, fft.py:119 via fft_wrap): the
    * negative-frequency bins of a real signal are conjugates, so the
    * distributed transform just drops them. */
  def rfft(s: SparkSession, real: DataFrame, n: Long): DataFrame =
    fft(s, real.selectExpr("idx", "v AS re", "CAST(0 AS DOUBLE) AS im"), n)
      .where(col("idx") <= n / 2)

  /** Inverse of [[rfft]]: rebuild the negative-frequency bins by conjugate
    * symmetry, run the inverse transform, return the real part. */
  def irfft(s: SparkSession, half: DataFrame, n: Long): DataFrame = {
    val mirror = half
      .where(col("idx") > 0 && col("idx") < n - n / 2)
      .selectExpr(s"$n - idx AS idx", "re", "-im AS im")
    fft(s, half.unionByName(mirror), n, inverse = true)
      .select(col("idx"), col("re").as("v"))
  }

  /** FFT of a signal with Hermitian symmetry, given as its half-spectrum
    * `(idx, re, im)` for bins 0..n/2 — real output of length n (reference
    * `hfft`, fft.py:254-316): `hfft(a, n) = n · irfft(conj(a), n)`. */
  def hfft(s: SparkSession, half: DataFrame, n: Long): DataFrame =
    irfft(s, half.selectExpr("idx", "re", "-im AS im"), n)
      .selectExpr("idx", s"v * CAST($n AS DOUBLE) AS v")

  /** Inverse of [[hfft]] (reference `ihfft`): `conj(rfft(a)) / n`. */
  def ihfft(s: SparkSession, real: DataFrame, n: Long): DataFrame =
    rfft(s, real, n).selectExpr("idx",
      s"re / CAST($n AS DOUBLE) AS re", s"-im / CAST($n AS DOUBLE) AS im")

  /** 2-d FFT of a complex cell table `(i, j, re, im)` with shape
    * rows×cols, any extents (reference `fft2` via fft_wrap,
    * fft.py:119): [[fftn]] at rank 2 over `(j, i)` renamed to its
    * `(c0, c1)` and back, so each row transforms first, then each column. */
  def fft2(s: SparkSession, df: DataFrame, rows: Long, cols: Long,
           inverse: Boolean = false): DataFrame =
    fftn(s, df.select(col("j").as("c0"), col("i").as("c1"), col("re"), col("im")),
      Seq(cols, rows), inverse)
      .select(col("c1").as("i"), col("c0").as("j"), col("re"), col("im"))

  /** N-d FFT of a complex cell table `(c0..c{r-1}, re, im)` (reference
    * `fftn`/`ifftn` via fft_wrap, fft.py:240,243): the DFT separates per
    * axis, so this is `rank` grouped passes — each pass groups the lines
    * of one axis by the RAVELED other coordinates and runs the in-core
    * radix-2 transform per line. Parallelism per pass is the product of
    * the other extents (the natural line count), no line ever crosses
    * tasks, and the exchange per pass is one hash shuffle on the line
    * key. Extents may be any length (Bluestein covers non-powers-of-two).
    * The same loop covers every rank; [[fft2]] is this at rank 2. */
  def fftn(s: SparkSession, df: DataFrame, shape: Seq[Long],
           inverse: Boolean = false): DataFrame = {
    import s.implicits._
    require(shape.nonEmpty && shape.forall(_ > 0), s"bad shape $shape")
    val r = shape.length
    val inv = inverse
    val scale = if (inverse) 1.0 / shape.product else 1.0
    var cur = df
    for (ax <- 0 until r) {
      val others = (0 until r).filter(_ != ax)
      // row-major strides over the OTHER axes: lk = Σ c_o · stride_o
      val strides = others.scanRight(1L)((o, acc) => acc * shape(o)).tail
      val lkSql =
        if (others.isEmpty) "CAST(0 AS BIGINT)"
        else others.zip(strides).map { case (o, st) => s"c$o * ${st}L" }.mkString(" + ")
      val lineLen = shape(ax).toInt
      val out = cur
        .selectExpr(s"CAST($lkSql AS BIGINT) AS lk", s"c$ax AS pk", "re", "im")
        .as[(Long, Long, Double, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (lk, it) =>
          val re = new Array[Double](lineLen)
          val im = new Array[Double](lineLen)
          it.foreach { case (_, p, rr, ii) => re(p.toInt) = rr; im(p.toInt) = ii }
          fftInPlace(re, im, inv)
          (0 until lineLen).iterator.map(p => (lk, p.toLong, re(p), im(p)))
        }.toDF("lk", "pk", "re", "im")
      // unravel lk back into the other coordinates; c_ax = pk
      val coordSqls = (0 until r).map { a =>
        if (a == ax) s"pk AS c$a"
        else {
          val st = strides(others.indexOf(a))
          s"(lk DIV ${st}L) % ${shape(a)}L AS c$a"
        }
      }
      cur = out.selectExpr(coordSqls :+ "re" :+ "im": _*)
    }
    val coords = (0 until r).map(a => s"c$a")
    cur.selectExpr(coords :+ s"re * $scale AS re" :+ s"im * $scale AS im": _*)
  }

  /** Real-input N-d FFT (reference `rfftn`/`rfft2` via fft_wrap,
    * fft.py:245-246): the full transform of a real-valued table (`im`
    * must be zero) restricted to the non-negative half of the LAST axis
    * — every dropped bin is determined by the N-d Hermitian symmetry
    * X(−k⃗) = conj(X(k⃗)) of a real signal, exactly the 1-d [[rfft]]
    * composition lifted to rank r. */
  def rfftn(s: SparkSession, real: DataFrame, shape: Seq[Long]): DataFrame =
    fftn(s, real, shape).where(col(s"c${shape.length - 1}") <= shape.last / 2)

  /** Inverse of [[rfftn]] (reference `irfftn`/`irfft2`, fft.py:248-249):
    * mirror the missing last-axis bins through the N-d Hermitian
    * symmetry — coordinate negation mod extent on EVERY axis, conjugate
    * — then run the inverse transform and keep the real part. */
  def irfftn(s: SparkSession, half: DataFrame, shape: Seq[Long]): DataFrame = {
    val r = shape.length
    val nl = shape.last
    val mirrorCoords = (0 until r).map { a =>
      if (a == r - 1) s"$nl - c$a AS c$a"
      else s"(${shape(a)} - c$a) % ${shape(a)} AS c$a"
    }
    val mirror = half
      .where(col(s"c${r - 1}") > 0 && col(s"c${r - 1}") < nl - nl / 2)
      .selectExpr(mirrorCoords :+ "re" :+ "-im AS im": _*)
    fftn(s, half.unionByName(mirror), shape, inverse = true)
      .select((0 until r).map(a => col(s"c$a")) :+ col("re").as("v"): _*)
  }

  /** Sample frequencies (reference `fftfreq`, fft.py:254): exact rational
    * index arithmetic — [0..n/2-1, -n/2..-1] / (n·d). */
  def fftfreq(s: SparkSession, n: Long, d: Double = 1.0): DataFrame =
    s.range(n).selectExpr("id AS idx",
      s"CAST(CASE WHEN id < ($n + 1) DIV 2 THEN id ELSE id - $n END AS DOUBLE) / (${n}L * $d) AS v")

  /** Real-input sample frequencies (reference `rfftfreq`, fft.py:272):
    * the half-spectrum grid [0..n/2] / (n·d). */
  def rfftfreq(s: SparkSession, n: Long, d: Double = 1.0): DataFrame =
    s.range(n / 2 + 1).selectExpr("id AS idx",
      s"CAST(id AS DOUBLE) / (${n}L * $d) AS v")

  /** Swap half-spaces (reference `fftshift`, fft.py:301): pure index roll
    * by ⌊n/2⌋ (numpy's `roll(x, n//2)` — zero bin lands at position
    * ⌊n/2⌋ for odd n too) — no data movement beyond the remap. */
  def fftshift(df: DataFrame, n: Long): DataFrame =
    df.select((((col("idx") + n / 2) % n).as("idx") +:
      df.columns.filter(_ != "idx").toIndexedSeq.map(col)): _*)

  /** Inverse shift (reference `ifftshift`, fft.py:316): roll by ⌈n/2⌉, so
    * `ifftshift(fftshift(x)) == x` for odd n as well. */
  def ifftshift(df: DataFrame, n: Long): DataFrame =
    df.select((((col("idx") + (n + 1) / 2) % n).as("idx") +:
      df.columns.filter(_ != "idx").toIndexedSeq.map(col)): _*)
}
