package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{DArray, Tables}
import graft.expr.Diagnostics

/** Oracle gates for the diagnostics surface (SURVEY §2.14, reference
  * `dask_array/diagnostics/_diagnostics.py` chunk_report +
  * `_expr_flow.py` expr_table) — the cost/layout MODEL emitted as data.
  *
  * Everything the model reports is a closed-form function of the input
  * length, so the DuckDB oracle re-derives every numeric column from
  * `count(*)` over the same parquet table: block size =
  * `greatest(4096, ceil(sqrt(len)))` ([[graft.expr.Blocked.autoChunk]]),
  * modeled bytes = `len * 16` ([[graft.expr.VecExpr.RowBytes]]), per-op
  * transfer bounds (cum/zip move one input pass on the max side, narrow
  * ops move nothing). Running the gate at two scale factors exercises the
  * formulas at two lengths — a model change, an optimizer change that
  * alters the DAG's node set, or a consumer-count bug all hash-mismatch.
  * The formatted-string renderers stay spec-tested (DiagnosticsSpec);
  * these queries gate the numbers underneath them.
  */
object DiagQueries {

  /** Length of the events table, summed from the parquet footers' row
    * counts — metadata, as the reference derives chunk sizes without
    * executing; no Spark job. */
  private def eventsLen(s: SparkSession, d: String): Long =
    Tables.rows(s, s"$d/events.parquet")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // chunk_report as data: slice→map→cumsum→diff→coarsen over events
    // yields three layouts (len n, len n-1, len ceil((n-1)/4)); rows are
    // (len, block, nodes, worst_bytes, op), largest layout first.
    "d01_diag_chunk_report" -> ((s, d) => {
      import s.implicits._
      val n = eventsLen(s, d)
      val root = DArray.fromColumn(s, d, "events", "event_id", "value")
        .slice(0, n).map("v * 2.0D + 1.0D").cumsum.diff(1).coarsen(4, "sum")
      root.optimized.chunkReportRows
        .map { case (len, blk, nodes, worst, op) => (len, blk, nodes.toLong, worst, op) }
        .toDF("len", "block", "nodes", "worst_bytes", "op")
        .orderBy(desc("worst_bytes"))
    }),

    // expr_table as data over a DAG with a genuinely shared subtree:
    // zip(cumsum(shared), shared) with shared = map(column). Simplify
    // fuses the zip's map-child into the zip kernel, so the optimized DAG
    // is zip(cum(map(column)), column) — the COLUMN leaf is the shared
    // node (two distinct consumers, counted once each), the transfer
    // model prices zip at two input passes and cum at one.
    "d02_diag_expr_table" -> ((s, d) => {
      import s.implicits._
      val n = eventsLen(s, d)
      val shared = DArray.fromColumn(s, d, "events", "event_id", "value")
        .slice(0, n).map("v * v")
      val root = shared.cumsum.zip(shared, "v1 - v2")
      Diagnostics.exprTableRows(root.optimized)
        .map { case (op, len, uses, lo, hi) => (op, len, uses.toLong, lo, hi) }
        .toDF("op", "len", "uses", "moved_lo", "moved_hi")
        .orderBy("op")
    })
  )

  def oracles: Map[String, String] = Map(

    "d01_diag_chunk_report" ->
      """WITH p AS (SELECT CAST(count(*) AS BIGINT) AS c FROM events)
         SELECT len, GREATEST(4096, CAST(ceil(sqrt(len)) AS BIGINT)) AS block,
                nodes, len * 16 AS worst_bytes, op
         FROM (
           SELECT c AS len, CAST(3 AS BIGINT) AS nodes, 'cum' AS op FROM p
           UNION ALL SELECT c - 1, 1, 'diff' FROM p
           UNION ALL SELECT (c - 1 + 3) // 4, 1, 'coarsen' FROM p
         ) ORDER BY worst_bytes DESC""",

    "d02_diag_expr_table" ->
      """WITH p AS (SELECT CAST(count(*) AS BIGINT) AS c FROM events)
         SELECT * FROM (
           SELECT 'column' AS op, c AS len, CAST(2 AS BIGINT) AS uses,
                  CAST(0 AS BIGINT) AS moved_lo, CAST(0 AS BIGINT) AS moved_hi FROM p
           UNION ALL SELECT 'cum',  c, 1, 0, c * 16     FROM p
           UNION ALL SELECT 'map',  c, 1, 0, 0          FROM p
           UNION ALL SELECT 'zip',  c, 0, 0, 2 * c * 16 FROM p
         ) ORDER BY op"""
  )
}
