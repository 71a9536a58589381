package graft.random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.DArray
import graft.operators.RangeCarrier

/** The legacy `RandomState` object (reference
  * `dask_array/random/_random_state.py:17` — same named-method surface,
  * same defaults), re-expressed on the engine's counter-based kernels.
  *
  * Statefulness is exactly what the legacy contract needs and no more:
  * each draw call advances a STREAM counter, so successive calls yield
  * independent streams, while every returned array is itself a pure
  * position-keyed projection — deterministic under any partitioning,
  * re-runnable, and cheap (one codegen'd scan over `spark.range`, no
  * state on executors). `seed(s)` resets both the seed and the stream
  * counter, replaying the numpy reseed semantics.
  *
  * Shapes here are 1-d (`size` = element count); N-d sizes compose with
  * `NdArray.fromFlat` over `.elements` like every other 1-d surface.
  * Samplers whose draw needs a rejection loop (general-real-shape gamma,
  * exact von Mises) use the BOUNDED-UNROLL rejection kernels
  * ([[Kernels.gammaMT]], [[Kernels.vonmises]]): a fixed cascade of
  * independent proposals with a deterministic shared-text fallback, so
  * every draw stays a pure position-keyed projection.
  */
class RandomState(spark: SparkSession, dir: String, seed0: Long = 0L) {
  private var seedV: Long = seed0
  private var ctr: Long = 0L

  /** Reseed: identical to constructing afresh (numpy `seed`). */
  def seed(s: Long): Unit = { seedV = s; ctr = 0L }

  /** Allocate the next call's base stream: golden-ratio mix of (seed,
    * call#) — far-apart, nonlinearly separated stream keys. Each call may
    * consume up to 256 substreams (gamma sums, beta's two gammas, ...). */
  private def next(): Long = { ctr += 1; RandomState.streamFor(seedV, ctr) }

  private val I = "CAST(v AS BIGINT)"
  private def draw(size: Long, kernel: String): DArray =
    DArray.arange(spark, dir, 0, size.toDouble, 1).map(kernel)

  /** A discrete draw: the uniform projected once, then searched
    * ([[Kernels.cdfSearch]] — the layered sampler as two maps, which
    * `Simplify` keeps apart because the search reads `v` at every level). */
  private def drawDiscrete(size: Long, cutoffs: Seq[Double], base: Long = 0L): DArray =
    draw(size, Kernels.uniform01(I, next())).map(Kernels.cdfSearch("v", cutoffs, base))

  // ---- continuous ----------------------------------------------------------

  def random_sample(size: Long): DArray = draw(size, Kernels.uniform01(I, next()))
  def rand(size: Long): DArray = random_sample(size)
  def ranf(size: Long): DArray = random_sample(size)
  def sample(size: Long): DArray = random_sample(size)

  def uniform(low: Double = 0.0, high: Double = 1.0, size: Long): DArray =
    draw(size, Kernels.uniform(I, next(), low, high))

  def standard_normal(size: Long): DArray = draw(size, Kernels.standardNormal(I, next()))
  def randn(size: Long): DArray = standard_normal(size)

  def normal(loc: Double = 0.0, scale: Double = 1.0, size: Long): DArray =
    draw(size, Kernels.normal(I, next(), loc, scale))

  def standard_exponential(size: Long): DArray = exponential(1.0, size)
  def exponential(scale: Double = 1.0, size: Long): DArray =
    draw(size, Kernels.exponential(I, next(), scale))

  /** Any `shape` > 0: integer/half-integer shapes draw exactly one-pass;
    * general real shapes go through the bounded-unroll Marsaglia–Tsang
    * rejection kernel ([[Kernels.gammaMT]]). */
  def gamma(shape: Double, scale: Double = 1.0, size: Long): DArray =
    draw(size, Kernels.gammaKernel(I, next(), shape, scale))
  def standard_gamma(shape: Double, size: Long): DArray = gamma(shape, 1.0, size)

  def chisquare(df: Double, size: Long): DArray = draw(size, Kernels.chisquare(I, next(), df))

  /** Any `a`, `b` > 0. */
  def beta(a: Double, b: Double, size: Long): DArray =
    draw(size, Kernels.beta(I, next(), a, b))

  def f(dfnum: Double, dfden: Double, size: Long): DArray =
    draw(size, Kernels.f(I, next(), dfnum, dfden))

  def standard_t(df: Double, size: Long): DArray = draw(size, Kernels.standardT(I, next(), df))

  def lognormal(mean: Double = 0.0, sigma: Double = 1.0, size: Long): DArray =
    draw(size, Kernels.lognormal(I, next(), mean, sigma))

  def laplace(loc: Double = 0.0, scale: Double = 1.0, size: Long): DArray =
    draw(size, Kernels.laplace(I, next(), loc, scale))

  def logistic(loc: Double = 0.0, scale: Double = 1.0, size: Long): DArray =
    draw(size, Kernels.logistic(I, next(), loc, scale))

  def gumbel(loc: Double = 0.0, scale: Double = 1.0, size: Long): DArray =
    draw(size, Kernels.gumbel(I, next(), loc, scale))

  def rayleigh(scale: Double = 1.0, size: Long): DArray =
    draw(size, Kernels.rayleigh(I, next(), scale))

  def pareto(a: Double, size: Long): DArray = draw(size, Kernels.pareto(I, next(), a))
  def weibull(a: Double, size: Long): DArray = draw(size, Kernels.weibull(I, next(), a))
  def power(a: Double, size: Long): DArray = draw(size, Kernels.power(I, next(), a))

  def standard_cauchy(size: Long): DArray = draw(size, Kernels.standardCauchy(I, next()))

  def triangular(left: Double, mode: Double, right: Double, size: Long): DArray =
    draw(size, Kernels.triangular(I, next(), left, mode, right))

  def wald(mean: Double, scale: Double, size: Long): DArray =
    draw(size, Kernels.wald(I, next(), mean, scale))

  /** EXACT Best–Fisher rejection (bounded unroll — [[Kernels.vonmises]]). */
  def vonmises(mu: Double, kappa: Double, size: Long): DArray =
    draw(size, Kernels.vonmises(I, next(), mu, kappa))

  /** df >= 2 (the df-1 chi component needs positive shape). */
  def noncentral_chisquare(df: Int, nonc: Double, size: Long): DArray = {
    require(df >= 2, s"noncentral_chisquare df=$df: one-pass kernel needs df >= 2")
    draw(size, Kernels.noncentralChisquare(I, next(), df, nonc))
  }

  def noncentral_f(dfnum: Int, dfden: Int, nonc: Double, size: Long): DArray = {
    require(dfnum >= 2, s"noncentral_f dfnum=$dfnum: one-pass kernel needs dfnum >= 2")
    draw(size, Kernels.noncentralF(I, next(), dfnum, dfden, nonc))
  }

  // ---- discrete ------------------------------------------------------------

  def poisson(lam: Double = 1.0, size: Long): DArray =
    drawDiscrete(size, Kernels.poissonCdf(lam))

  def binomial(n: Int, p: Double, size: Long): DArray =
    drawDiscrete(size, Kernels.binomialCdf(n, p))

  def geometric(p: Double, size: Long): DArray =
    draw(size, Kernels.geometric(I, next(), p))

  def zipf(a: Double, size: Long): DArray =
    drawDiscrete(size, Kernels.zipfCdf(a), base = 1L)

  def logseries(p: Double, size: Long): DArray =
    drawDiscrete(size, Kernels.logseriesCdf(p), base = 1L)

  def negative_binomial(n: Int, p: Double, size: Long): DArray =
    drawDiscrete(size, Kernels.negativeBinomialCdf(n, p))

  def hypergeometric(ngood: Int, nbad: Int, nsample: Int, size: Long): DArray =
    drawDiscrete(size, Kernels.hypergeometricCdf(ngood, nbad, nsample))

  def randint(low: Long, high: Long, size: Long): DArray =
    draw(size, Kernels.randint(I, next(), low, high))
  /** Legacy inclusive-bounds variant. */
  def random_integers(low: Long, high: Long, size: Long): DArray =
    randint(low, high + 1, size)
  def tomaxint(size: Long): DArray = randint(0, Long.MaxValue >> 33, size)
  /** Generator-era name for the same draw. */
  def integers(low: Long, high: Long, size: Long): DArray = randint(low, high, size)

  /** Uniform pick from `options` (replace=true). */
  def choice(options: Seq[Double], size: Long): DArray = {
    val cum = options.indices.map(i => (i + 1.0) / options.length)
    draw(size, Kernels.weightedChoice(I, next(), options, cum))
  }

  /** Weighted pick: `p` sums to 1 (replace=true). */
  def choice(options: Seq[Double], p: Seq[Double], size: Long): DArray = {
    require(options.length == p.length && math.abs(p.sum - 1.0) < 1e-9,
      s"choice: p must align with options and sum to 1 (got ${p.sum})")
    draw(size, Kernels.weightedChoice(I, next(), options, p.scanLeft(0.0)(_ + _).tail))
  }

  /** `choice(n, size=k, replace=False)` — k DISTINCT picks from 0..n-1,
    * uniformly: the first k slots of a keyed [[permutation]] (sampling
    * without replacement IS a permutation prefix — the same identity the
    * exact multivariate-hypergeometric kernel uses). One range-partitioned
    * sort bounded by n, then a k-prefix filter. */
  def choiceNoReplace(n: Long, k: Long): DataFrame = {
    require(k <= n, s"cannot draw $k distinct values from $n")
    permutation(n).where(s"idx < $k")
  }

  /** Multinomial(n, pvals): one row per draw, one BIGINT count column per
    * category (`c0..c{k-1}`) — n summed categorical picks, exact. Bounded
    * unroll (n <= 64) keeps the projection codegen-friendly. */
  def multinomial(n: Int, pvals: Seq[Double], size: Long): DataFrame = {
    require(n <= 64, s"multinomial n=$n: pick unroll bounded at 64")
    require(math.abs(pvals.sum - 1.0) < 1e-9, s"pvals must sum to 1 (got ${pvals.sum})")
    val s = next()
    val cum = pvals.scanLeft(0.0)(_ + _).tail
    def pick(j: Int): String = {
      val u = Kernels.uniform01(I, s + j)
      "(CASE " + cum.init.zipWithIndex.map { case (c, cat) =>
        s"WHEN ($u) < $c THEN $cat"
      }.mkString(" ") + s" ELSE ${pvals.length - 1} END)"
    }
    val counts = pvals.indices.map { cat =>
      "CAST(" + (0 until n).map(j => s"(CASE WHEN ${pick(j)} = $cat THEN 1 ELSE 0 END)")
        .mkString(" + ") + s" AS BIGINT) AS c$cat"
    }
    DArray.arange(spark, dir, 0, size.toDouble, 1)
      .elements.selectExpr(Seq("idx") ++ counts: _*)
  }

  /** A TRUE uniform permutation of 0..n-1 at any n (the oracle-gated q52
    * uses the shuffle-free affine bijection where n = 2^k allows it; this
    * is the general form): rank positions by their keyed uniform, ties
    * broken by position — a bijection. Scale shape: the
    * [[graft.operators.RangeCarrier]] — one range-partitioned sort, one
    * count fold, a partition-local zipWithIndex — NO global window and no
    * driver materialization (the q57/DistinctRank rule). Both passes see
    * identical partitions: the RangePartitioner's boundaries are fixed
    * once and every input is position-keyed deterministic. */
  def permutation(n: Long): DataFrame = {
    val s = next()
    val keyed = RangeCarrier.sorted(
      spark.range(n).selectExpr("id AS p", s"${Kernels.uniform01("id", s)} AS u"),
      col("u"), col("p")).rdd
    val rows = RangeCarrier.counted(keyed).pass { (start, it) =>
      it.zipWithIndex.map { case (r, j) => Row(start + j, r.getLong(0).toDouble) }
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("idx", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false))))
  }

  /** Shuffle an array of length n: gather through [[permutation]]'s
    * indexer — one hash-partitioned equi-join on the source position (the
    * `takeLarge` scale path; reference `shuffle` re-chunks and permutes). */
  def shuffle(x: DArray, n: Long): DataFrame = {
    x.elements.join(
      permutation(n).select(col("idx").as("p"), col("v").cast("long").as("src")),
      col("idx") === col("src"))
      .select(col("p").as("idx"), col("v"))
  }
}

object RandomState {
  def apply(spark: SparkSession, dir: String, seed: Long = 0L): RandomState =
    new RandomState(spark, dir, seed)

  /** The stream key the `call`-th draw (1-based) of a RandomState seeded
    * `seed` uses — public so an oracle can replay a facade query's kernel
    * text verbatim (q96). */
  def streamFor(seed: Long, call: Long): Long = {
    val h = seed * 0x9E3779B97F4A7C15L + call * 0xC2B2AE3D27D4EB4FL
    (h ^ (h >>> 31)) & 0x3fffffffL
  }
}
