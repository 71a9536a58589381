package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dense 0-based rank of each DISTINCT value — the scale-safe engine for
  * `unique(return_inverse=True)` (reference `routines/_unique.py:167`).
  *
  * `row_number().over(Window.orderBy("v"))` computes the same thing, but an
  * unpartitioned window collapses the whole distinct set onto ONE task —
  * fine for a handful of buckets, an OOM for `unique()` over
  * high-cardinality data (the normal case at 100 TB). This runs the
  * [[RangeCarrier]] instead: range-partitioned sort of the distinct
  * values, one O(numPartitions) count fold for per-partition offsets,
  * then a partition-local zipWithIndex — every stage distributed, driver
  * traffic bounded by O(numPartitions).
  */
object DistinctRank {

  /** Returns (`(v, inv)` DataFrame, release). `inv` is v's 0-based rank
    * among the distinct values of `df(valueCol)`, ascending. The frame
    * reads a persisted range-sort — call `release()` after its last
    * consumer has executed. */
  def distinctRanks(df: DataFrame, valueCol: String): (DataFrame, () => Unit) = {
    val dist = RangeCarrier.sorted(
      df.select(col(valueCol).cast("double").as("v")).where(col("v").isNotNull).distinct(),
      col("v")).persist()
    val ranked = RangeCarrier.counted(dist.rdd).pass { (start, it) =>
      it.zipWithIndex.map { case (r, j) => Row(r.getDouble(0), start + j) }
    }
    val schema = StructType(Seq(
      StructField("v", DoubleType, nullable = false),
      StructField("inv", LongType, nullable = false)))
    (df.sparkSession.createDataFrame(ranked, schema), () => { dist.unpersist(); () })
  }
}
