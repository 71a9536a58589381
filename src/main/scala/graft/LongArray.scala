package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.RangeCarrier

/** Exact int64 compute surface — the COMPUTE half of dtype fidelity
  * (reference carries real dtypes end-to-end, `dask_array/_expr.py:213`;
  * the engine's main element table is DOUBLE, exact only below 2^53).
  *
  * A LongArray is an element table `(idx BIGINT, v BIGINT)`: every op
  * stays in BIGINT SQL — map/zip/slice are codegen'd projections/joins
  * exactly like the DOUBLE surface, aggregates are Spark's exact integer
  * aggregates, and `cumsum` is a range-partitioned two-phase prefix (the
  * [[graft.operators.RangeCarrier]]: per-partition totals to the driver
  * — O(numPartitions) — then a partition-local running sum; no global
  * window, no double round-trip). Overflow raises everywhere: Spark's
  * ANSI arithmetic (on by default since Spark 4) fails `map`, `zip` and
  * `stats` with `ARITHMETIC_OVERFLOW`, and `cumsum` adds with
  * `Math.addExact` (an `ArithmeticException`). numpy wraps silently; an
  * exact surface that wrapped would hand back a wrong answer.
  *
  * Interop: `toDouble` lowers into the main DOUBLE surface when exactness
  * above 2^53 is no longer needed; zarr `<i8` stores round-trip through
  * [[graft.sources.Zarr.read1dLong]]/`write1dLong` (q88).
  */
final class LongArray(val elements: DataFrame) {

  /** BIGINT projection over `v` (and `idx`). */
  def map(sqlOverV: String): LongArray =
    new LongArray(elements.selectExpr("idx", s"CAST($sqlOverV AS BIGINT) AS v"))

  /** Half-open slice, rebased to 0 like the DOUBLE surface. */
  def slice(lo: Long, hi: Long): LongArray =
    new LongArray(elements.where(col("idx") >= lo && col("idx") < hi)
      .selectExpr(s"idx - ${lo}L AS idx", "v"))

  def filter(predOverV: String): LongArray =
    new LongArray(elements.where(predOverV))

  /** Aligned binary op: `v1`/`v2` in scope, result BIGINT. */
  def zip(other: LongArray, sqlOverV1V2: String): LongArray =
    new LongArray(elements.withColumnRenamed("v", "v1")
      .join(other.elements.withColumnRenamed("v", "v2"), "idx")
      .selectExpr("idx", s"CAST($sqlOverV1V2 AS BIGINT) AS v"))

  /** Exact integer aggregate row: sum/min/max/count (a sum past int64
    * raises; callers needing wider sums cast to DECIMAL first). */
  def stats(): DataFrame =
    elements.agg(
      sum("v").cast("long").as("s"),
      min("v").as("lo"), max("v").as("hi"),
      count("v").as("n"))

  def sumExact(): Long = stats().collect()(0).getLong(0)

  /** Exact prefix sum through the [[graft.operators.RangeCarrier]]: one
    * range-partitioned sort on `idx`, one O(numPartitions) totals fold,
    * one partition-local running sum. Both passes see identical
    * partitions — the RangePartitioner's boundaries are fixed at RDD
    * construction. Totals, offsets and running sums add with
    * `Math.addExact`, so an overflow raises like every other op. */
  def cumsum(): LongArray = {
    val spark = elements.sparkSession
    import spark.implicits._
    val rdd = RangeCarrier.sorted(
      elements.select(col("idx").cast("long"), col("v").cast("long")), col("idx"))
      .as[(Long, Long)].rdd
    val out = RangeCarrier.fold(rdd, 0L)((t, r) => Math.addExact(t, r._2))(Math.addExact(_, _))
      .pass { (start, it) =>
        var acc = start
        it.map { case (idx, v) => acc = Math.addExact(acc, v); (idx, acc) }
      }
    new LongArray(out.toDF("idx", "v"))
  }

  /** Lower to the DOUBLE element-table surface (exactness above 2^53 ends
    * here — the caller's explicit `astype(float64)`). */
  def toDouble: DataFrame = elements.selectExpr("idx", "CAST(v AS DOUBLE) AS v")
}

object LongArray {

  /** From a parquet table column: `idxSql` a dense position, `valueSql`
    * any BIGINT expression. */
  def fromParquet(spark: SparkSession, dir: String, table: String,
                  idxSql: String, valueSql: String): LongArray =
    new LongArray(Tables.read(spark, s"$dir/$table.parquet")
      .selectExpr(s"CAST($idxSql AS BIGINT) AS idx", s"CAST($valueSql AS BIGINT) AS v"))

  /** Exact integer arange (start, start+step, ...), n values. */
  def arange(spark: SparkSession, start: Long, step: Long, n: Long): LongArray =
    new LongArray(spark.range(n)
      .selectExpr("id AS idx", s"${start}L + id * ${step}L AS v"))

  /** A zarr `<i8`/`<i4` store, bit-exact (values above 2^53 survive). */
  def fromZarr(spark: SparkSession, zarrDir: String): LongArray =
    new LongArray(graft.sources.Zarr.read1dLong(spark, zarrDir))

  /** Write as a zarr `<i8` store, bit-exact. */
  def toZarr(x: LongArray, zarrDir: String, n: Long, chunk: Long,
             compressor: Option[String] = None): Unit =
    graft.sources.Zarr.write1dLong(x.elements, zarrDir, n, chunk, compressor)
}
