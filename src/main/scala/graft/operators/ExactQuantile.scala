package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The range carrier: the one two-pass scan over a range-sorted table,
  * behind exact quantiles ([[ExactQuantile.brackets]]), distinct ranks
  * ([[DistinctRank.distinctRanks]]), the exact int64 prefix sum
  * (`graft.LongArray.cumsum`) and the uniform permutation
  * (`graft.random.RandomState.permutation`). A global
  * `Window.orderBy` would do each in one task; the carrier keeps every
  * stage distributed and moves O(numPartitions) values to the driver:
  *
  *   1. [[sorted]]: range-partition by key into `spark.sql.shuffle.partitions`
  *      ranges (Spark's sampled RangePartitioner) and sort inside each;
  *   2. [[fold]]: one job folds each partition to one value, collected
  *      in partition order; the driver turns them into prefix offsets
  *      (`offsets(i)` folds the partitions before i, `offsets.last` all);
  *   3. [[Carried.pass]]: a function runs inside each partition, starting
  *      from that partition's offset.
  *
  * Both passes read the same partitions: the range partitioner's bounds
  * are fixed when the RDD is built, and callers feed it position-keyed,
  * deterministic rows (or persist the sorted table). */
object RangeCarrier {

  /** Step 1: range-partition `df` on `keys`, sort each partition by them. */
  def sorted(df: DataFrame, keys: Column*): DataFrame = {
    val parts = math.max(1, df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    df.repartitionByRange(parts, keys: _*).sortWithinPartitions(keys: _*)
  }

  /** A sorted RDD with the prefix offsets of its partition folds. */
  final class Carried[T, F: ClassTag](rdd: RDD[T], val offsets: Array[F]) {
    /** `f(offset of the partition, its rows)` inside each partition. */
    def pass[U: ClassTag](f: (F, Iterator[T]) => Iterator[U]): RDD[U] = {
      val bc = rdd.sparkContext.broadcast(offsets)
      rdd.mapPartitionsWithIndex { case (i, it) => f(bc.value(i), it) }
    }
  }

  /** One job folds each partition of `rdd` from `zero` with `step`; the
    * prefix offsets add the folds with `plus`. */
  def fold[T, F: ClassTag](rdd: RDD[T], zero: F)(step: (F, T) => F)(
      plus: (F, F) => F): Carried[T, F] = {
    val folds = rdd.mapPartitionsWithIndex { case (i, it) => Iterator((i, it.foldLeft(zero)(step))) }
      .collect().sortBy(_._1).map(_._2)
    new Carried(rdd, folds.scanLeft(zero)(plus))
  }

  /** [[fold]] by row count: a partition's offset is its first row's
    * global rank, `offsets.last` the row count. */
  def counted[T](rdd: RDD[T]): Carried[T, Long] = fold(rdd, 0L)((c, _) => c + 1)(_ + _)
}

/** Distributed exact quantiles via range-partitioned sort + rank selection.
  *
  * Spark's built-in exact `percentile` is a TypedImperativeAggregate that
  * buffers EVERY value into one final merge buffer — a single-task OOM at
  * 100 TB. The reference's scale path merges per-chunk percentile sketches
  * (reference dask_array/reductions/_percentile.py:151,256); this is the
  * exact-answer equivalent built on Spark's distributed sort:
  *
  *   1. the [[RangeCarrier]]'s range-partitioned sort on the value —
  *      every partition holds a contiguous value range;
  *   2. its count fold → per-partition offsets (O(numPartitions) driver
  *      bytes, the same bound a global sort's range sampling already pays);
  *   3. its pass, a selection that emits ONLY the ≤ 2·|ps| global ranks
  *      the requested quantiles interpolate between.
  *
  * Interpolation matches Spark/DuckDB `percentile`(_cont_):
  * `lo + (h - floor(h)) * (hi - lo)` at `h = p * (n-1)`.
  */
object ExactQuantile {

  /** Exact p-quantiles of `df(valueCol)`; two distributed passes, driver
    * traffic bounded by O(numPartitions + |ps|). `method` selects numpy's
    * interpolation (reference `quantile(method=)`,
    * `reductions/_percentile.py`): "linear" (default, the percentile_cont
    * rule), "lower"/"higher" (bracketing order statistics), "nearest"
    * (round-half-to-even on the rank, numpy's np.around), "midpoint". */
  def quantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
                method: String = "linear"): Seq[Double] =
    brackets(df, valueCol, ps).map { case (h, lo, hi) => interp(h, lo, hi, method) }

  /** One method-combination step over a bracket (h, lo, hi). */
  def interp(h: Double, lo: Double, hi: Double, method: String): Double =
    method match {
      case "linear"   => lo + (h - math.floor(h)) * (hi - lo)
      case "lower"    => lo
      case "higher"   => hi
      // numpy np.around semantics: round the rank half-to-even
      case "nearest"  => if (math.rint(h) == math.floor(h)) lo else hi
      case "midpoint" => (lo + hi) / 2
      case other => throw new IllegalArgumentException(
        s"unknown quantile method '$other' (linear/lower/higher/nearest/midpoint)")
    }

  /** The shared two-pass rank selection: for each p, the fractional rank
    * h = p·(n−1) and the order statistics at ⌊h⌋ and ⌈h⌉ — every
    * interpolation method combines these three numbers. */
  def brackets(df: DataFrame, valueCol: String, ps: Seq[Double]): Seq[(Double, Double, Double)] = {
    val sorted = RangeCarrier.sorted(
      df.select(col(valueCol).cast("double").as("v")).where(col("v").isNotNull), col("v"))
      .persist()
    try {
      val counted = RangeCarrier.counted(sorted.rdd.map(_.getDouble(0)))
      val n = counted.offsets.last
      require(n > 0, "quantile of empty input")
      val hs = ps.map(p => p * (n - 1))
      val targets = hs.flatMap(h => Seq(math.floor(h).toLong, math.ceil(h).toLong)).toSet
      val found = counted.pass { (start, it) =>
        it.zipWithIndex.collect { case (v, j) if targets.contains(start + j) => (start + j, v) }
      }.collect().toMap
      hs.map(h => (h, found(math.floor(h).toLong), found(math.ceil(h).toLong)))
    } finally { sorted.unpersist(); () }
  }

  /** Approximate quantiles via Spark's mergeable QuantileSummaries (GK)
    * sketch — `approx_percentile` — the engine's analogue of the
    * reference's merge-percentiles / t-digest scale path
    * (`reductions/_percentile.py:151,256`). ONE partial+final aggregation:
    * each partition keeps an O(accuracy) summary, summaries merge on the
    * reduce side, no value ever buffers whole. Rank error is bounded by
    * n/accuracy. Returns one row: `est` (array, one per p) and `n`. */
  /** The `approx_percentile` SQL fragment shared by the batch and
    * streaming quantile paths — one construction site so the literal
    * formatting cannot drift between them. */
  def approxPercentileExpr(valueCol: String, ps: Seq[Double], accuracy: Int): String = {
    val arr = ps.map(p => s"${p}D").mkString(", ")
    s"approx_percentile($valueCol, array($arr), $accuracy)"
  }

  def approx(df: DataFrame, valueCol: String, ps: Seq[Double],
             accuracy: Int = 10000): DataFrame =
    df.select(col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull)
      .agg(
        expr(approxPercentileExpr("v", ps, accuracy)).as("est"),
        count(col("v")).as("n"))
}
