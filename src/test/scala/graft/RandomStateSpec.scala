package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.random.RandomState

/** The legacy RandomState facade (reference `random/_random_state.py`):
  * determinism and stream semantics exactly, distributions by moment
  * checks (the underlying kernel MATH is pinned exactly by the oracle
  * queries q36–q95; the facade's job is surface + stream management). */
class RandomStateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = spark.stop()

  private def vals(a: DArray): Array[Double] =
    a.elements.orderBy("idx").collect().map(_.getDouble(1))
  private def mean(x: Array[Double]): Double = x.sum / x.length
  private def sd(x: Array[Double]): Double = {
    val m = mean(x); math.sqrt(x.map(v => (v - m) * (v - m)).sum / (x.length - 1))
  }
  private val N = 20000L

  test("same seed replays the same stream; successive calls differ") {
    val r1 = RandomState(spark, dir, seed = 42)
    val a = vals(r1.normal(0, 1, N))
    val b = vals(r1.normal(0, 1, N)) // second call: NEW stream
    assert(a.toSeq != b.toSeq)
    val r2 = RandomState(spark, dir, seed = 42)
    val a2 = vals(r2.normal(0, 1, N)) // fresh object, same seed: replay
    assert(a.toSeq == a2.toSeq)
    r1.seed(42) // legacy reseed: stream counter resets too
    assert(vals(r1.normal(0, 1, N)).toSeq == a.toSeq)
    val r3 = RandomState(spark, dir, seed = 43)
    assert(vals(r3.normal(0, 1, N)).toSeq != a.toSeq)
  }

  test("continuous families hit their moments") {
    val r = RandomState(spark, dir, seed = 7)
    val u = vals(r.uniform(2.0, 6.0, N))
    assert(math.abs(mean(u) - 4.0) < 0.05 && u.forall(v => v >= 2 && v < 6))
    val z = vals(r.standard_normal(N))
    assert(math.abs(mean(z)) < 0.03 && math.abs(sd(z) - 1.0) < 0.03)
    val e = vals(r.exponential(3.0, N))
    assert(math.abs(mean(e) - 3.0) < 0.1 && e.forall(_ >= 0))
    val g = vals(r.gamma(3.5, 2.0, N)) // mean k*theta = 7, var k*theta^2 = 14
    assert(math.abs(mean(g) - 7.0) < 0.15 && math.abs(sd(g) - math.sqrt(14)) < 0.2)
    val ln = vals(r.lognormal(0.0, 0.5, N)) // mean exp(sigma^2/2)
    assert(math.abs(mean(ln) - math.exp(0.125)) < 0.05)
    val w = vals(r.wald(2.0, 8.0, N)) // mean 2, var mu^3/lambda = 1
    assert(math.abs(mean(w) - 2.0) < 0.05 && math.abs(sd(w) - 1.0) < 0.1)
    val t = vals(r.triangular(-1, 1, 3, N)) // mean (a+b+c)/3 = 1
    assert(math.abs(mean(t) - 1.0) < 0.05 && t.forall(v => v >= -1 && v <= 3))
    val b = vals(r.beta(2.0, 3.0, N)) // mean a/(a+b) = 0.4
    assert(math.abs(mean(b) - 0.4) < 0.02 && b.forall(v => v > 0 && v < 1))
  }

  test("discrete families: integer support and first moments") {
    val r = RandomState(spark, dir, seed = 11)
    val p = vals(r.poisson(6.5, N))
    assert(math.abs(mean(p) - 6.5) < 0.15 && p.forall(v => v == math.floor(v) && v >= 0))
    val b = vals(r.binomial(20, 0.3, N)) // mean 6
    assert(math.abs(mean(b) - 6.0) < 0.15 && b.forall(v => v >= 0 && v <= 20))
    val ge = vals(r.geometric(0.25, N)) // mean 1/p = 4
    assert(math.abs(mean(ge) - 4.0) < 0.15 && ge.forall(_ >= 1))
    val nb = vals(r.negative_binomial(4, 0.4, N)) // mean n(1-p)/p = 6
    assert(math.abs(mean(nb) - 6.0) < 0.25)
    val hg = vals(r.hypergeometric(9, 11, 10, N)) // mean n*ngood/tot = 4.5
    assert(math.abs(mean(hg) - 4.5) < 0.1 && hg.forall(v => v >= 0 && v <= 9))
    val ri = vals(r.randint(5, 15, N))
    assert(ri.forall(v => v >= 5 && v < 15) && math.abs(mean(ri) - 9.5) < 0.15)
    val z = vals(r.zipf(3.0, N))
    assert(z.forall(_ >= 1) && math.abs(z.count(_ == 1.0).toDouble / z.length - 0.832) < 0.02)
  }

  test("choice respects the weight vector; multinomial rows sum to n exactly") {
    val r = RandomState(spark, dir, seed = 3)
    val opts = Seq(1.0, 5.0, 9.0)
    val c = vals(r.choice(opts, Seq(0.2, 0.5, 0.3), N))
    assert(c.toSet.subsetOf(opts.toSet))
    assert(math.abs(c.count(_ == 5.0).toDouble / c.length - 0.5) < 0.02)
    val mn = r.multinomial(12, Seq(0.5, 0.3, 0.2), 500)
    val rows = mn.collect()
    assert(rows.length == 500)
    assert(rows.forall(w => w.getLong(1) + w.getLong(2) + w.getLong(3) == 12L))
    val c0 = rows.map(_.getLong(1)).sum.toDouble / 500
    assert(math.abs(c0 - 6.0) < 0.3)
  }

  test("permutation is an exact bijection at non-power-of-two n; shuffle preserves the multiset") {
    val r = RandomState(spark, dir, seed = 5)
    val n = 10007L // prime
    val perm = r.permutation(n).collect()
    assert(perm.length == n)
    assert(perm.map(_.getLong(0)).sorted.toSeq == (0L until n).toSeq) // dense idx
    assert(perm.map(_.getDouble(1).toLong).sorted.toSeq == (0L until n).toSeq) // bijection
    // not the identity (vanishing probability)
    assert(perm.count(w => w.getLong(0) == w.getDouble(1).toLong) < 100)
    val x = DArray.arange(spark, dir, 0, 500, 1).map("v * 3 + 1")
    val sh = r.shuffle(x, 500).collect()
    assert(sh.map(_.getDouble(1)).sorted.toSeq == (0 until 500).map(_ * 3.0 + 1).toSeq)
    assert(sh.map(_.getLong(0)).sorted.toSeq == (0L until 500L).toSeq)
    // choice without replacement = permutation prefix: k distinct picks
    val picks = r.choiceNoReplace(1000, 100).collect().map(_.getDouble(1).toLong)
    assert(picks.length == 100 && picks.distinct.length == 100)
    assert(picks.forall(v => v >= 0 && v < 1000))
    assert(intercept[IllegalArgumentException](r.choiceNoReplace(5, 6))
      .getMessage.contains("distinct"))
  }

  test("permutation is a bijection at 1, 3 and 7 shuffle partitions") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try for (parts <- Seq(1, 3, 7)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val n = 1001L // not a power of 2
      val perm = RandomState(spark, dir, seed = 21).permutation(n).collect()
      assert(perm.map(_.getLong(0)).sorted.toSeq == (0L until n), s"idx at $parts partitions")
      assert(perm.map(_.getDouble(1).toLong).sorted.toSeq == (0L until n), s"values at $parts partitions")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("permutation plans without a single-partition global window") {
    val r = RandomState(spark, dir, seed = 9)
    val plan = r.permutation(50000L).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(400))
  }

  test("Generator: default_rng surface + spawned children are independent and replayable") {
    import graft.random.Generator
    val g = Generator.defaultRng(spark, dir, seed = 17)
    val base = vals(g.random(5000))
    assert(math.abs(mean(base) - 0.5) < 0.02)
    val kids = g.spawn(3)
    val draws = kids.map(k => vals(k.standard_normal(5000)))
    // all pairwise distinct streams (parent and siblings)
    assert(draws.map(_.toSeq).distinct.length == 3)
    assert(!draws.exists(_.toSeq == base.toSeq))
    // spawning is deterministic: same parent seed → same first children
    val kids2 = Generator.defaultRng(spark, dir, seed = 17).spawn(3)
    assert(vals(kids2(1).standard_normal(5000)).toSeq == draws(1).toSeq)
    // but a SECOND spawn of the same parent yields fresh children
    val more = g.spawn(1)
    assert(vals(more(0).standard_normal(5000)).toSeq != draws(0).toSeq)
  }

  test("general-shape gamma family (Marsaglia-Tsang bounded unroll) hits its moments") {
    val r = RandomState(spark, dir, seed = 13)
    val g = vals(r.gamma(1.3, 2.0, N)) // mean 2.6, var 1.3*4 = 5.2
    assert(math.abs(mean(g) - 2.6) < 0.1 && math.abs(sd(g) - math.sqrt(5.2)) < 0.15)
    assert(g.forall(_ > 0))
    val gs = vals(r.gamma(0.7, 1.0, N)) // shape < 1: boost path; mean 0.7
    assert(math.abs(mean(gs) - 0.7) < 0.05 && gs.forall(_ > 0))
    val c = vals(r.chisquare(3.3, N)) // mean df, var 2*df
    assert(math.abs(mean(c) - 3.3) < 0.1 && math.abs(sd(c) - math.sqrt(6.6)) < 0.2)
    val b = vals(r.beta(2.3, 1.7, N)) // mean a/(a+b) = 0.575
    assert(math.abs(mean(b) - 0.575) < 0.02 && b.forall(v => v > 0 && v < 1))
    val t = vals(r.standard_t(5.5, N)) // mean 0, var df/(df-2) = 1.5714
    assert(math.abs(mean(t)) < 0.05 && math.abs(sd(t) - math.sqrt(5.5 / 3.5)) < 0.1)
    val fv = vals(r.f(3.3, 7.7, N)) // mean dfden/(dfden-2) = 1.3509
    assert(math.abs(mean(fv) - 7.7 / 5.7) < 0.12 && fv.forall(_ > 0))
  }

  test("exact von Mises (Best-Fisher bounded unroll): support and circular moment") {
    val r = RandomState(spark, dir, seed = 23)
    val vm = vals(r.vonmises(0.0, 4.0, N))
    assert(vm.forall(v => v >= -math.Pi && v <= math.Pi))
    // E[cos θ] = I1(κ)/I0(κ); at κ=4 that is ≈ 0.86351 — the wrapped-normal
    // approximation gives ≈ 0.8825 instead, so this check pins EXACTNESS
    assert(math.abs(mean(vm.map(math.cos)) - 0.86351) < 0.01)
    assert(math.abs(mean(vm.map(math.sin))) < 0.02) // symmetry about mu=0
  }

  test("unsupported shapes are rejected loudly, not silently approximated") {
    val r = RandomState(spark, dir, seed = 1)
    assert(intercept[IllegalArgumentException](r.gamma(-1.0, 1.0, 10))
      .getMessage.contains("positive"))
    assert(intercept[IllegalArgumentException](r.noncentral_chisquare(1, 2.0, 10))
      .getMessage.contains("df >= 2"))
    assert(intercept[IllegalArgumentException](r.multinomial(65, Seq(0.5, 0.5), 10))
      .getMessage.contains("bounded"))
    assert(intercept[IllegalArgumentException](r.choice(Seq(1.0, 2.0), Seq(0.7, 0.7), 10))
      .getMessage.contains("sum to 1"))
  }
}
