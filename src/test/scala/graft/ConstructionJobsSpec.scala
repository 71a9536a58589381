package graft

import org.scalatest.funsuite.AnyFunSuite

/** Building a query's DataFrame launches no Spark job: every input table
  * comes through [[Tables]] with a footer-declared schema, so the work
  * happens when the query's action runs.
  *
  * Pinned for the timed `floor` sample of the benchmark
  * (`perfbench/pools.json`). Across the whole floor pool, the queries
  * that still launch jobs while they are built are the sanctioned set
  * below (a traced whole-pool floor run at sf0.1, jobs per query); it may
  * only shrink, by moving that work into the plan:
  *   - q57 (7), q28, q65, q104 (5 each), q97 (4), q98 (3);
  *   - the store round trips, which write their store while being built:
  *     z01-z07, z09, z12 (2 each), z08, z10, z11 (4 each), q88 (2),
  *     h01 (2), h03, h04, h05, h06 (1 each), np01, np02 (2 each),
  *     td01 (2), td02 (4).
  */
class ConstructionJobsSpec extends AnyFunSuite {
  import TestSpark.spark

  // the sf0.01 tables, beside the shared sf0.001 ones
  private val sf = new java.io.File(TestSpark.sf).getParent + "/sf0.01"

  private val floorSample = Seq(
    "d02_diag_expr_table", "f08_fft_anylen_parseval", "g02_gufunc_center",
    "q09_setitem", "q58_insert_delete", "q63_strided_slice",
    "q87_histogram_density", "q90_random_gen_disc",
    // not in the floor sample: its eye(…).map("v * 3") is a map over a
    // gapped matrix, whose zero probe must not launch a job either
    "m10_eye_matmul")

  test("the floor sample builds its DataFrames without launching a job") {
    val s = spark
    val sc = s.sparkContext
    val jobs = floorSample.map { name =>
      val group = s"construct-$name"
      sc.setJobGroup(group, "construction")
      try SparkEntry.queries(name)(s, sf) finally sc.clearJobGroup()
      name -> sc.statusTracker.getJobIdsForGroup(group).length
    }
    assert(jobs.forall(_._2 == 0),
      jobs.filter(_._2 > 0).map { case (n, j) => s"$n: $j job(s)" }.mkString(", "))
  }
}
