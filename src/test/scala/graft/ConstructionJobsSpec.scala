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
  *   - q57 (7), q28, q65, q104 (5 each), q97 (4), q98 (3) and t34: the
  *     range-carrier users, whose counts the carrier test pins at sf0.01
  *     (the same numbers, t34 also 5);
  *   - the store round trips, which write their store while being built:
  *     z01-z07, z09, z12 (2 each), z08, z10, z11 (4 each), q88 (2),
  *     h01 (2), h03, h04, h05, h06 (1 each), np01, np02 (2 each),
  *     td01 (2), td02 (4).
  *   The store test pins these counts, measured again at sf0.01; the
  *   linalg test pins the blocked-factorization and TSQR driver loops
  *   (l01-l12) the same way.
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

  /** Jobs each query launches while its DataFrame is built at sf0.01. */
  private def constructionJobs(names: Seq[String]): Seq[(String, Int)] = {
    val sc = spark.sparkContext
    names.map { name =>
      val group = s"construct-$name"
      sc.setJobGroup(group, "construction")
      try SparkEntry.queries(name)(spark, sf) finally sc.clearJobGroup()
      name -> sc.statusTracker.getJobIdsForGroup(group).length
    }
  }

  /** Fails on any query over its pinned ceiling, listing every count. */
  private def assertCeiling(pinned: Map[String, Int]): Unit = {
    val jobs = constructionJobs(pinned.keys.toSeq.sorted)
    val over = jobs.filter { case (n, j) => j > pinned(n) }
    assert(over.isEmpty, over.map { case (n, j) =>
      s"$n: $j job(s), pinned ${pinned(n)}" }.mkString(", ") +
      s" (all: ${jobs.map { case (n, j) => s"$n=$j" }.mkString(" ")})")
  }

  test("the floor sample builds its DataFrames without launching a job") {
    val jobs = constructionJobs(floorSample)
    assert(jobs.forall(_._2 == 0),
      jobs.filter(_._2 > 0).map { case (n, j) => s"$n: $j job(s)" }.mkString(", "))
  }

  /** Jobs each sanctioned floor-pool query launches while it is built at
    * sf0.01 — the range-carrier users (exact quantiles, distinct ranks,
    * the int64 prefix sum and the permutation), which sort, count and
    * collect before their frame exists. A ceiling, like the counts below. */
  private val carrierJobs = Map(
    "q57_unique_inverse" -> 7, "q28_quantiles" -> 5, "q65_nanquantile" -> 5,
    "q104_quantile_methods" -> 5, "q97_int64_exact_compute" -> 4,
    "q98_randomstate_perm" -> 3, "t34_quality_percentile_filter" -> 5)

  test("the range-carrier queries launch no more construction jobs than pinned") {
    assertCeiling(carrierJobs)
  }

  /** Jobs each store round trip launches while it is built at sf0.01 —
    * a ceiling: a change to the store read and write paths may lower a
    * count, never raise it. */
  private val storeJobs = Map(
    "z01_zarr_roundtrip" -> 2, "z02_zarr_2d" -> 2, "z03_zarr_v3" -> 2,
    "z04_zarr_nd" -> 2, "z05_zarr_zstd" -> 2, "z06_zarr_blosc" -> 2,
    "z07_zarr_sharded" -> 2, "z08_zarr_i4_u1_write" -> 4, "z09_zarr_sharded_long" -> 2,
    "z10_zarr_consolidated" -> 4, "z11_zarr_consolidated_v3" -> 4,
    "z12_zarr_bitshuffle" -> 2, "q88_zarr_int64_exact" -> 2,
    "h01_hdf5_roundtrip" -> 2, "h02_hdf5_datasets" -> 0, "h03_hdf5_chunked" -> 1,
    "h04_hdf5_v4_latest" -> 1, "h05_hdf5_dense_group" -> 1, "h06_hdf5_nested_groups" -> 1,
    "np01_npy_roundtrip" -> 2, "np02_npy_nd" -> 2,
    "td01_tiledb_roundtrip" -> 2, "td02_tiledb_shadow" -> 4)

  test("the store round trips launch no more construction jobs than pinned") {
    assertCeiling(storeJobs)
  }

  /** Jobs each linalg query launches while it is built at sf0.01 — the
    * driver loops of the blocked factorizations and the TSQR tree. A
    * ceiling, like the store counts: moving a loop into the plan may
    * lower a count, never raise it. */
  private val linalgJobs = Map(
    "l01_tsqr_rtr" -> 3, "l02_svd_frobenius" -> 3, "l03_cholesky_trace" -> 16,
    "l04_inv" -> 36, "l05_svd_full" -> 22, "l06_svd_compressed" -> 33,
    "l07_lstsq" -> 10, "l08_solve_lu" -> 1, "l09_lu_reconstruct" -> 15,
    "l10_solve_spd" -> 1, "l11_sfqr" -> 1, "l12_matrix_norms" -> 0)

  test("the linalg queries launch no more construction jobs than pinned") {
    assertCeiling(linalgJobs)
  }
}
