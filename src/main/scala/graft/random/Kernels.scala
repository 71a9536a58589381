package graft.random

/** Parameterized SQL sampler kernels — the public, reusable form of the
  * engine's counter-based RNG core (the oracle-gated q36–q95 queries pin
  * the same math under fixed literals).
  *
  * Every kernel is pure SQL text over a BIGINT position expression: the
  * draw at position i is a deterministic function of (i, stream), so the
  * result is independent of partitioning, re-runnable, and identical on
  * any engine that evaluates the same text (the DuckDB oracle replays it
  * verbatim). No state, no shuffle, no UDF — one codegen'd projection at
  * any scale (reference contract: `dask_array/random/_generator.py`,
  * `_random_state.py` — per-block spawned generators keyed by block id).
  *
  * Streams: combining draws (Box-Muller pairs, gamma sums, chi ratios)
  * needs cross-stream independence, and compositions of affine LCG maps
  * stay affine; multiplying two DISTINCT affine states mod 2^31 breaks
  * the linearity (see ArrayQueries.unif2Kernel's moment-check note). All
  * arithmetic is `*`/`+`/`%` over positive BIGINTs cast to DOUBLE before
  * any fraction, so Spark and DuckDB type the fragment identically.
  *
  * Samplers whose value reads a draw many times (rejection cascades,
  * inverse-CDF searches) come in [[Layered]] form: the draws are projected
  * once as named columns and the value reads the columns. Discrete draws
  * use [[cdfLayered]]; the flat [[cdfCascade]] text stays only as the
  * independent reference the oracles and parity specs replay.
  */
object Kernels {

  /** Uniform (0,1) at `iExpr`, stream `s` — product-mixed double-LCG. */
  def uniform01(iExpr: String, s: Long): String = {
    val sa = s & 0x7fffffffL // keep literals positive; % semantics match
    val a = s"((1103515245 * ($iExpr + $sa) + 12345) % 2147483648)"
    val b = s"((69069 * ($iExpr) + ${(sa * sa) % 0x7fffffffL} + $sa * 2654435761) % 2147483648)"
    s"(CAST(($a * $b) % 2147483648 AS DOUBLE) + 0.5) / 2147483648.0"
  }

  def uniform(iExpr: String, s: Long, low: Double, high: Double): String =
    s"($low + ($high - $low) * (${uniform01(iExpr, s)}))"

  /** Standard normal via Box-Muller over streams s and s+1. */
  def standardNormal(iExpr: String, s: Long): String =
    s"(sqrt(-2 * ln(${uniform01(iExpr, s)})) * cos(2 * pi() * (${uniform01(iExpr, s + 1)})))"

  def normal(iExpr: String, s: Long, loc: Double, scale: Double): String =
    s"($loc + $scale * ${standardNormal(iExpr, s)})"

  def exponential(iExpr: String, s: Long, scale: Double): String =
    s"(-($scale) * ln(${uniform01(iExpr, s)}))"

  /** Gamma(shape, scale) at ANY shape > 0. Integer and half-integer
    * shapes keep the exact one-pass draw (sum of exponentials plus, for
    * the half, z²/2 — streams s .. s+2k+1); every other real shape goes
    * through [[gammaMT]], the bounded-unroll Marsaglia–Tsang rejection
    * kernel (reference uses the same rejection family,
    * `dask_array/random/_generator.py:100`). */
  def gammaKernel(iExpr: String, s: Long, shape: Double, scale: Double): String = {
    require(shape > 0, s"gamma shape must be positive: $shape")
    val k = math.floor(shape).toInt
    val half = shape - k
    if (half == 0.0 || half == 0.5) {
      val parts =
        (if (k > 0)
          Seq(s"-ln(" + (0 until k).map(j => s"(${uniform01(iExpr, s + j)})").mkString(" * ") + ")")
        else Seq.empty) ++
        (if (half == 0.5)
          Seq(s"power(${standardNormal(iExpr, s + k)}, 2) / 2.0")
        else Seq.empty)
      s"(($scale) * (${parts.mkString(" + ")}))"
    } else gammaMT(iExpr, s, shape, scale)
  }

  /** Marsaglia–Tsang (2000) gamma rejection as a BOUNDED UNROLL: a fixed
    * cascade of `attempts` independent (z, u) proposals, accepting the
    * first with v = (1+cz)³ > 0 and ln u < z²/2 + d − dv + d·ln v, where
    * d = shape − 1/3, c = 1/√(9d). Per-attempt acceptance is ≥ ~95% for
    * shape ≥ 1, so the deterministic ELSE fallback (the distribution
    * mean — shared literal text, identical on any engine) is reached with
    * probability ≤ 0.05^attempts ≈ 1.6e-8: statistically invisible, and
    * exactness of replay is unconditional because the fallback is the
    * same pure function of position on both engines. Shapes < 1 use the
    * standard boost gamma(a) = gamma(a+1) · u^(1/a). One codegen'd
    * projection, no loop state, no shuffle — the Spark-native form of the
    * reference's per-element rejection loop. Streams s .. s+4·attempts+2. */
  def gammaMT(iExpr: String, s: Long, shape: Double, scale: Double, attempts: Int = 6): String = {
    require(shape > 0, s"gamma shape must be positive: $shape")
    if (shape < 1.0) {
      val boost = s"power(${uniform01(iExpr, s + 4L * attempts + 2)}, ${1.0 / shape})"
      s"((${gammaMT(iExpr, s, shape + 1.0, 1.0, attempts)}) * ($boost) * ($scale))"
    } else {
      val d = shape - 1.0 / 3.0
      val c = 1.0 / math.sqrt(9.0 * d)
      val arms = (0 until attempts).map { j =>
        val z = standardNormal(iExpr, s + 4L * j)
        val u = uniform01(iExpr, s + 4L * j + 2)
        val v = s"power(1.0 + $c * ($z), 3)"
        // greatest() guards ln() on the (already-rejected) v <= 0 rows so
        // neither engine can error before the conjunction masks them out
        val accept = s"(1.0 + $c * ($z)) > 0.0 AND " +
          s"ln($u) < 0.5 * power($z, 2) + $d - $d * ($v) + $d * ln(greatest($v, 1e-300))"
        s"WHEN $accept THEN $d * ($v)"
      }
      s"(($scale) * (CASE ${arms.mkString(" ")} ELSE $shape END))"
    }
  }

  /** A rejection sampler in LAYERED form: `layers` are successive
    * SELECT-list fragments (each lists only its NEW columns; the consumer
    * adds pass-throughs), `value` is the acceptance cascade over those
    * column names. The single-expression kernels above re-inline each
    * proposal's text into every cascade arm — O(attempts × kernel-size)
    * trees that Catalyst then has to analyze and compile; the layered
    * form is O(attempts + kernel-size). Layers are plain nested SELECTs,
    * so the identical text replays on any SQL engine. */
  final case class Layered(layers: Seq[Seq[String]], value: String)

  /** [[gammaMT]] in layered form (shape ≥ 1 — boost shapes < 1 with an
    * extra uniform at the call site). Columns: {prefix}z/u per attempt
    * (layer 1), {prefix}v per attempt (layer 2). */
  def gammaMTLayered(iExpr: String, s: Long, shape: Double, scale: Double,
                     prefix: String, attempts: Int = 6): Layered = {
    require(shape >= 1.0, s"layered Marsaglia-Tsang covers shape >= 1 (got $shape)")
    val d = shape - 1.0 / 3.0
    val c = 1.0 / math.sqrt(9.0 * d)
    val l1 = (0 until attempts).flatMap { j => Seq(
      s"${standardNormal(iExpr, s + 4L * j)} AS ${prefix}z$j",
      s"${uniform01(iExpr, s + 4L * j + 2)} AS ${prefix}u$j") }
    val l2 = (0 until attempts).map { j =>
      s"power(1.0 + $c * ${prefix}z$j, 3) AS ${prefix}v$j" }
    val arms = (0 until attempts).map { j =>
      s"WHEN ${prefix}v$j > 0.0 AND ln(${prefix}u$j) < " +
        s"0.5 * power(${prefix}z$j, 2) + $d - $d * ${prefix}v$j + " +
        s"$d * ln(greatest(${prefix}v$j, 1e-300)) THEN $d * ${prefix}v$j" }
    Layered(Seq(l1, l2), s"(($scale) * (CASE ${arms.mkString(" ")} ELSE $shape END))")
  }

  /** [[vonmises]] in layered form. Columns: {prefix}z (cos π·u1),
    * {prefix}a (u2), {prefix}b (u3) per attempt plus the fallback normal
    * {prefix}w (layer 1); {prefix}f per attempt (layer 2). */
  def vonmisesLayered(iExpr: String, s: Long, mu: Double, kappa: Double,
                      prefix: String, attempts: Int = 8): Layered = {
    val tau = 1.0 + math.sqrt(1.0 + 4.0 * kappa * kappa)
    val rho = (tau - math.sqrt(2.0 * tau)) / (2.0 * kappa)
    val r = (1.0 + rho * rho) / (2.0 * rho)
    val l1 = (0 until attempts).flatMap { j => Seq(
      s"cos(pi() * (${uniform01(iExpr, s + 3L * j)})) AS ${prefix}z$j",
      s"${uniform01(iExpr, s + 3L * j + 1)} AS ${prefix}a$j",
      s"${uniform01(iExpr, s + 3L * j + 2)} AS ${prefix}b$j") } :+
      s"${standardNormal(iExpr, s + 3L * attempts)} AS ${prefix}w"
    val l2 = (0 until attempts).map { j =>
      s"((1.0 + $r * ${prefix}z$j) / ($r + ${prefix}z$j)) AS ${prefix}f$j" }
    def cE(j: Int) = s"($kappa * ($r - ${prefix}f$j))"
    val arms = (0 until attempts).map { j =>
      val acosE = s"acos(least(greatest(${prefix}f$j, -1.0), 1.0))"
      s"WHEN (${cE(j)} * (2.0 - ${cE(j)}) - ${prefix}a$j > 0.0 OR " +
        s"ln(greatest(${cE(j)} / ${prefix}a$j, 1e-300)) + 1.0 - ${cE(j)} >= 0.0) " +
        s"THEN (CASE WHEN ${prefix}b$j < 0.5 THEN $mu - $acosE ELSE $mu + $acosE END)" }
    val zf = s"($mu + ${prefix}w / sqrt($kappa))"
    val fallback = s"(($zf) - 2 * pi() * floor((($zf) + pi()) / (2 * pi())))"
    Layered(Seq(l1, l2), s"(CASE ${arms.mkString(" ")} ELSE $fallback END)")
  }

  /** Alias of the column an `expr AS alias` fragment binds (a bare
    * column name passes through unchanged). */
  def aliasOf(e: String): String = {
    val ix = e.lastIndexOf(" AS ")
    if (ix < 0) e.trim else e.substring(ix + 4).trim
  }

  def chisquare(iExpr: String, s: Long, df: Double): String =
    gammaKernel(iExpr, s, df / 2.0, 2.0)

  /** Beta(a,b) = Ga/(Ga+Gb) over disjoint streams, any a, b > 0. */
  def beta(iExpr: String, s: Long, a: Double, b: Double): String = {
    val ga = gammaKernel(iExpr, s, a, 1.0)
    val gb = gammaKernel(iExpr, s + 64, b, 1.0)
    s"(($ga) / (($ga) + ($gb)))"
  }

  /** Snedecor F(dfnum, dfden), any positive dfs. */
  def f(iExpr: String, s: Long, dfnum: Double, dfden: Double): String =
    s"((${chisquare(iExpr, s, dfnum)} / $dfnum) / (${chisquare(iExpr, s + 64, dfden)} / $dfden))"

  /** Student t(df), any df > 0: z * sqrt(df / chi2(df)). */
  def standardT(iExpr: String, s: Long, df: Double): String =
    s"(${standardNormal(iExpr, s)} * sqrt($df / (${chisquare(iExpr, s + 64, df)})))"

  def lognormal(iExpr: String, s: Long, mean: Double, sigma: Double): String =
    s"exp(${normal(iExpr, s, mean, sigma)})"

  def laplace(iExpr: String, s: Long, loc: Double, scale: Double): String = {
    val u = uniform01(iExpr, s)
    s"($loc - ($scale) * sign(($u) - 0.5) * ln(1.0 - 2.0 * abs(($u) - 0.5)))"
  }

  def logistic(iExpr: String, s: Long, loc: Double, scale: Double): String = {
    val u = uniform01(iExpr, s)
    s"($loc + ($scale) * ln(($u) / (1.0 - ($u))))"
  }

  def gumbel(iExpr: String, s: Long, loc: Double, scale: Double): String =
    s"($loc - ($scale) * ln(-ln(${uniform01(iExpr, s)})))"

  def rayleigh(iExpr: String, s: Long, scale: Double): String =
    s"(($scale) * sqrt(-2.0 * ln(${uniform01(iExpr, s)})))"

  // exponents are DRIVER-computed doubles (shortest round-trip repr): a
  // literal `1.0 / a` in the SQL text would be DECIMAL/DECIMAL in Spark
  // (quantized at 6 decimals) but DOUBLE in DuckDB — the q89 pw lesson
  def pareto(iExpr: String, s: Long, a: Double): String =
    s"(power(${uniform01(iExpr, s)}, ${-1.0 / a}) - 1.0)"

  def weibull(iExpr: String, s: Long, a: Double): String =
    s"power(-ln(${uniform01(iExpr, s)}), ${1.0 / a})"

  def power(iExpr: String, s: Long, a: Double): String =
    s"power(${uniform01(iExpr, s)}, ${1.0 / a})"

  def standardCauchy(iExpr: String, s: Long): String =
    s"tan(pi() * ((${uniform01(iExpr, s)}) - 0.5))"

  /** Geometric(p), numpy convention: trials to first success, k >= 1. */
  def geometric(iExpr: String, s: Long, p: Double): String =
    s"CAST(1 + floor(ln(${uniform01(iExpr, s)}) / ln(${1.0 - p})) AS BIGINT)"

  def triangular(iExpr: String, s: Long, left: Double, mode: Double, right: Double): String = {
    val u = uniform01(iExpr, s)
    val fc = (mode - left) / (right - left)
    s"(CASE WHEN ($u) < $fc THEN $left + sqrt(($u) * ${(right - left) * (mode - left)}) " +
      s"ELSE $right - sqrt((1.0 - ($u)) * ${(right - left) * (right - mode)}) END)"
  }

  /** Wald / inverse-Gaussian via the Michael–Schucany–Haas transform.
    * Layered caller beware: the kernel references its own subexpressions
    * textually — fine for codegen (CSE) and for the oracle. */
  def wald(iExpr: String, s: Long, mean: Double, scale: Double): String = {
    val y = s"power(${standardNormal(iExpr, s)}, 2)"
    val mu = mean; val lam = scale
    val x = s"($mu + ${mu * mu / (2 * lam)} * ($y) - ${mu / (2 * lam)} * " +
      s"sqrt(${4 * mu * lam} * ($y) + ${mu * mu} * ($y) * ($y)))"
    val u = uniform01(iExpr, s + 2)
    s"(CASE WHEN ($u) <= $mu / ($mu + ($x)) THEN ($x) ELSE ${mu * mu} / ($x) END)"
  }

  /** EXACT von Mises(mu, kappa) by Best–Fisher (1979) rejection as a
    * bounded unroll (same contract as [[gammaMT]]): `attempts` independent
    * (u1,u2,u3) proposals with z = cos(π·u1), f = (1+rz)/(r+z),
    * c = κ(r−f), accepted when c(2−c) > u2 or ln(c/u2) + 1 − c ≥ 0; the
    * accepted angle is mu ± acos(f). Per-attempt acceptance is ≥ ~66% at
    * any κ, so the fallback — the wrapped-normal σ²=1/κ draw, itself a
    * deterministic shared-text kernel — is reached with probability
    * ≤ 0.34^attempts ≈ 2e-4: replay stays exact on any engine, and the
    * distributional contamination is below any gate's resolution.
    * Streams s .. s+3·attempts+1. */
  def vonmises(iExpr: String, s: Long, mu: Double, kappa: Double, attempts: Int = 8): String = {
    val tau = 1.0 + math.sqrt(1.0 + 4.0 * kappa * kappa)
    val rho = (tau - math.sqrt(2.0 * tau)) / (2.0 * kappa)
    val r = (1.0 + rho * rho) / (2.0 * rho)
    val arms = (0 until attempts).map { j =>
      val u1 = uniform01(iExpr, s + 3L * j)
      val u2 = uniform01(iExpr, s + 3L * j + 1)
      val u3 = uniform01(iExpr, s + 3L * j + 2)
      val z = s"cos(pi() * ($u1))"
      val f = s"((1.0 + $r * ($z)) / ($r + ($z)))"
      val c = s"($kappa * ($r - $f))"
      // greatest() guards ln() (c→0 only on rejected rows); least/greatest
      // clamp acos's argument against ulp drift past ±1
      val accept = s"(($c) * (2.0 - ($c)) - ($u2) > 0.0 OR " +
        s"ln(greatest(($c) / ($u2), 1e-300)) + 1.0 - ($c) >= 0.0)"
      val theta = s"(CASE WHEN ($u3) < 0.5 THEN $mu - acos(least(greatest($f, -1.0), 1.0)) " +
        s"ELSE $mu + acos(least(greatest($f, -1.0), 1.0)) END)"
      s"WHEN $accept THEN $theta"
    }
    val zf = s"($mu + ${standardNormal(iExpr, s + 3L * attempts)} / sqrt($kappa))"
    val fallback = s"(($zf) - 2 * pi() * floor((($zf) + pi()) / (2 * pi())))"
    s"(CASE ${arms.mkString(" ")} ELSE $fallback END)"
  }

  /** The wrapped-normal σ²=1/κ von Mises approximation — kept as the
    * [[vonmises]] fallback arm and for callers that want the one-uniform
    * cheap form. */
  def vonmisesWrapped(iExpr: String, s: Long, mu: Double, kappa: Double): String = {
    val z = s"($mu + ${standardNormal(iExpr, s)} / sqrt($kappa))"
    s"(($z) - 2 * pi() * floor((($z) + pi()) / (2 * pi())))"
  }

  def noncentralChisquare(iExpr: String, s: Long, df: Int, nonc: Double): String =
    s"(${chisquare(iExpr, s, df - 1)} + power(${standardNormal(iExpr, s + 64)} + sqrt($nonc), 2))"

  def noncentralF(iExpr: String, s: Long, dfnum: Int, dfden: Int, nonc: Double): String =
    s"((${noncentralChisquare(iExpr, s, dfnum, nonc)} / $dfnum.0) / " +
      s"(${chisquare(iExpr, s + 192, dfden)} / $dfden.0))"

  /** Integers in [low, high) — uniform over the range via floor. */
  def randint(iExpr: String, s: Long, low: Long, high: Long): String =
    s"CAST($low + floor((${uniform01(iExpr, s)}) * ${high - low}) AS BIGINT)"

  /** The discrete inverse-CDF sampler in layered form — the engine's
    * discrete-sampler template. Layer 1 projects the uniform `uExpr` once
    * as the column {prefix}u; the value is [[cdfSearch]] over that column,
    * k = #{cutoffs < u} (+ `base`, e.g. 1 for 1-based supports).
    *
    * The flat form ([[cdfCascade]]) re-inlines the whole uniform into each
    * of its K arms, and every row evaluates all K: q90's four cascades
    * compiled to one 9169-byte generated method, over HotSpot's 8000-byte
    * JIT limit, so it ran in the interpreter. Projected once and
    * searched as a balanced tree, a row evaluates one uniform and
    * ⌈log2(K+1)⌉ comparisons. Both forms return the same integer at every
    * position (same cutoff literals, same `u > c` test). */
  def cdfLayered(uExpr: String, cutoffs: Seq[Double], prefix: String,
                 base: Long = 0L): Layered =
    Layered(Seq(Seq(s"$uExpr AS ${prefix}u")), cdfSearch(s"${prefix}u", cutoffs, base))

  /** k = #{cutoffs < u} (+ `base`) as a BIGINT, by a balanced CASE tree
    * over the column `uCol`. The tree reads `uCol` at every level, so it
    * must name a projected column, not an inline kernel (see
    * [[cdfLayered]]). Cutoffs must be nondecreasing: the tree's halving
    * is only a count for sorted cutoffs. */
  def cdfSearch(uCol: String, cutoffs: Seq[Double], base: Long = 0L): String = {
    require(cutoffs.forall(!_.isNaN) &&
      cutoffs.iterator.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
      s"inverse-CDF cutoffs must be nondecreasing: ${cutoffs.mkString(", ")}")
    // known: cutoffs(0 until lo) < u <= cutoffs(hi until K)
    def node(lo: Int, hi: Int): String =
      if (lo == hi) s"${base + lo}"
      else {
        val mid = (lo + hi) / 2
        s"CASE WHEN $uCol > ${cutoffs(mid)} THEN ${node(mid + 1, hi)} " +
          s"ELSE ${node(lo, mid)} END"
      }
    s"CAST(${node(0, cutoffs.length)} AS BIGINT)"
  }

  /** k = #{cutoffs < u} as one flat expression: the uniform inlined into
    * each of the K arms. The independent reference [[cdfLayered]] is
    * checked against; engine plans use the layered form. */
  def cdfCascade(iExpr: String, s: Long, cutoffs: Seq[Double], base: Long = 0L): String = {
    val u = uniform01(iExpr, s)
    s"CAST($base + " + cutoffs.map(c => s"(CASE WHEN ($u) > $c THEN 1 ELSE 0 END)")
      .mkString(" + ") + " AS BIGINT)"
  }

  /** Value pick from `options` with cumulative weights `cum` (same length;
    * last cutoff ignored — the ELSE arm). */
  def weightedChoice(iExpr: String, s: Long, options: Seq[Double], cum: Seq[Double]): String = {
    val u = uniform01(iExpr, s)
    "(CASE " + options.init.zip(cum.init).map { case (v, c) =>
      s"WHEN ($u) < $c THEN CAST($v AS DOUBLE)"
    }.mkString(" ") + s" ELSE CAST(${options.last} AS DOUBLE) END)"
  }

  // ---- driver-side CDF builders (literal cutoffs shared with oracles) ----

  /** Cumulative Poisson(lam) cutoffs covering mean + 10 sigma + 20. */
  def poissonCdf(lam: Double): Seq[Double] = {
    val kMax = (lam + 10 * math.sqrt(lam) + 20).toInt
    val pmf = Iterator.iterate((math.exp(-lam), 0)) { case (p, k) =>
      (p * lam / (k + 1), k + 1)
    }.map(_._1).take(kMax).toSeq
    pmf.scanLeft(0.0)(_ + _).tail
  }

  private def comb(a: Int, b: Int): Double =
    if (b < 0 || b > a) 0.0 else (1 to b).map(i => (a - b + i).toDouble / i).product

  /** Cumulative Binomial(n, p) cutoffs, k = 0..n-1 (exact support). */
  def binomialCdf(n: Int, p: Double): Seq[Double] = {
    require(n <= 512, s"binomial n=$n: cutoff cascade bounded at 512 (use the normal approximation beyond)")
    (0 until n).map(k => comb(n, k) * math.pow(p, k) * math.pow(1 - p, n - k))
      .scanLeft(0.0)(_ + _).tail
  }

  /** Cumulative zipf(a) cutoffs k=1..kMax (tail mass lands on kMax+1 —
    * the truncation is part of the sampler, shared with the oracle). */
  def zipfCdf(a: Double, kMax: Int = 50): Seq[Double] = {
    val zeta = (1 to 2000000).iterator.map(k => math.pow(k.toDouble, -a)).sum
    (1 to kMax).map(k => math.pow(k.toDouble, -a) / zeta).scanLeft(0.0)(_ + _).tail
  }

  def logseriesCdf(p: Double, kMax: Int = 40): Seq[Double] =
    (1 to kMax).map(k => -math.pow(p, k) / (k * math.log(1 - p)))
      .scanLeft(0.0)(_ + _).tail

  /** Cumulative NegativeBinomial(n, p) cutoffs (numpy: k failures). */
  def negativeBinomialCdf(n: Int, p: Double): Seq[Double] = {
    val mean = n * (1 - p) / p
    val kMax = (mean + 10 * math.sqrt(mean / p) + 20).toInt
    (0 until kMax).map(k => comb(k + n - 1, k) * math.pow(p, n) * math.pow(1 - p, k))
      .scanLeft(0.0)(_ + _).tail
  }

  /** Cumulative Hypergeometric(ngood, nbad, nsample) cutoffs over the
    * exact finite support (cutoffs stop before the last point). */
  def hypergeometricCdf(ngood: Int, nbad: Int, nsample: Int): Seq[Double] = {
    val tot = comb(ngood + nbad, nsample)
    val lo = math.max(0, nsample - nbad)
    val hi = math.min(ngood, nsample)
    require(lo == 0, s"hypergeometric support starts at $lo; cascade assumes 0 (add base)")
    (0 until hi).map(k => comb(ngood, k) * comb(nbad, nsample - k) / tot)
      .scanLeft(0.0)(_ + _).tail
  }
}
