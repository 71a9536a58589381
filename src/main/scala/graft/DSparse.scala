package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Explicit SPARSE matrix surface over the engine's implicit-zero element
  * table (reference: sparse chunks flow through every elemwise/reduction
  * via `register_chunk_type`, `dask_array/_chunk_types.py:31` — scipy
  * arrays ride the same array API; here sparsity IS the element table's
  * native representation, so the sparse type is a SEMANTIC wrapper: it
  * tracks the implicit zeros and refuses to densify silently).
  *
  * Every operation stays O(nnz) or fails loudly:
  *  - `map` probes the kernel once driver-side (the [[NdArray.map]]
  *    zero-probe) and REJECTS non-zero-preserving kernels — `x + 1` on a
  *    sparse operand is the classic accidental-densification bug; the
  *    caller must say `.toDense` to mean it (reference mirrors scipy
  *    here: scipy.sparse raises on implicit densification too).
  *  - `zip` is a full-outer join with absent cells read as zero — the
  *    union-support sparse combine; the result stores only nonzeros.
  *  - reductions correct for the implicit zeros (a min over a matrix
  *    with any absent cell must consider 0).
  *  - `matmul` is SpGEMM: join on the contracted coordinate, aggregate —
  *    cost O(flops over nnz), never rows×cols.
  */
final class DSparse(val df: DataFrame, val rows: Long, val cols: Long,
                    /** The PRE-dedup (i, j, v) cells when this matrix came
                      * from [[DSparse.fromCOO]]. [[gram]] is BILINEAR per
                      * row — Σₐ Σᵦ vₐ·vᵦ over a row's duplicate cells
                      * equals the product of their sums — so it can
                      * accumulate the raw cells directly and skip the
                      * dedup aggregation plus its extra exchange (guide
                      * §2.4). Never observable through `df`. */
                    private val rawCells: Option[DataFrame] = None) {
  def size: Long = rows * cols
  /** Stored-nonzero count — cached: the scan behind it is the same
    * every time, and callers (diagnostics, density reports) re-ask. */
  lazy val nnz: Long = df.where(col("v") =!= 0.0).count()

  /** Elemwise over STORED values — zero-preserving kernels only (probed
    * like [[NdArray.map]]); others must go through [[toDense]] first. */
  def map(sqlOverV: String): DSparse = {
    require(NdArray.zeroPreserving(df.sparkSession, sqlOverV),
      s"kernel '$sqlOverV' maps 0 to a nonzero value: applying it sparsely would " +
        "silently drop the implicit cells — call .toDense first to densify explicitly")
    new DSparse(
      df.selectExpr("i", "j", s"CAST($sqlOverV AS DOUBLE) AS v").where("v <> 0.0"),
      rows, cols)
  }

  /** Union-support elemwise combine: full-outer join on coordinates,
    * absent cells read as 0 on either side; only nonzero results stored. */
  def zip(o: DSparse, sqlOverV1V2: String): DSparse = {
    require(rows == o.rows && cols == o.cols,
      s"shape mismatch ${(rows, cols)} vs ${(o.rows, o.cols)}")
    val l = df.withColumnRenamed("v", "v1")
    val r = o.df.withColumnRenamed("v", "v2")
    val joined = l.join(r, Seq("i", "j"), "full_outer").na.fill(0.0, Seq("v1", "v2"))
    new DSparse(
      joined.selectExpr("i", "j", s"CAST($sqlOverV1V2 AS DOUBLE) AS v").where("v <> 0.0"),
      rows, cols)
  }

  def +(o: DSparse): DSparse = zip(o, "v1 + v2")
  def -(o: DSparse): DSparse = zip(o, "v1 - v2")
  /** Hadamard product — intersection support, so an inner join suffices;
    * still routed through [[zip]] for one code path (absent→0 annihilates). */
  def *(o: DSparse): DSparse = zip(o, "v1 * v2")

  def t: DSparse =
    new DSparse(df.select(col("j").as("i"), col("i").as("j"), col("v")), cols, rows)

  /** Global aggregates with the implicit-zero correction: when any cell is
    * absent, min/max must consider 0. One scan: count rides the same
    * aggregate as the extremes. */
  def aggAll(): DataFrame =
    df.agg(
      sum("v").as("s"), min("v").as("mn"), max("v").as("mx"),
      sum(when(col("v") =!= 0.0, 1L).otherwise(0L)).as("n"))
      .selectExpr(
        "coalesce(s, 0.0) AS sum",
        s"CASE WHEN coalesce(n, 0) < ${size}L THEN least(coalesce(mn, 0.0), 0.0) " +
          "ELSE mn END AS min",
        s"CASE WHEN coalesce(n, 0) < ${size}L THEN greatest(coalesce(mx, 0.0), 0.0) " +
          "ELSE mx END AS max",
        "coalesce(n, 0) AS nnz")

  /** Per-row sums (implicit zeros contribute nothing): rows with no stored
    * cell are absent from the result — itself a sparse vector. */
  def rowSums: DataFrame =
    df.groupBy("i").agg(sum("v").as("v"))

  /** SpGEMM C = this · o: equi-join on the contracted coordinate plus a
    * partial-aggregated shuffle on (i, j) — cost O(Σ flops over matching
    * nonzeros), never rows×cols. The classic sparse matmul plan. */
  def matmul(o: DSparse): DSparse = {
    require(cols == o.rows, s"inner dimension mismatch $cols vs ${o.rows}")
    val a = df.select(col("i"), col("j").as("k"), col("v").as("va"))
    val b = o.df.select(col("i").as("k"), col("j"), col("v").as("vb"))
    new DSparse(
      a.join(b, "k").groupBy("i", "j").agg(sum(expr("va * vb")).as("v"))
        .where("v <> 0.0"),
      rows, o.cols)
  }

  /** Gram matrix AᵀA via per-task dense accumulation — the small-output
    * SpGEMM special case. When cols² fits in task memory, the general
    * join+agg plan ([[matmul]]) wastes its time materializing the
    * O(Σ nnz_row²) product rows through a shuffle; here each task
    * accumulates its rows' outer products into a LOCAL cols×cols dense
    * block (one tight JVM loop — the engine's typed-kernel tier) and
    * emits it ONCE. The merge exchanges dense ROWS (j₁ → length-cols
    * array) with map-side combine, not individual cells: the same bytes
    * move, but as O(tasks·cols) records instead of O(tasks·cols²) — the
    * per-record shuffle overhead on tens of millions of 3-field cells
    * was the dominant cost of the first cut. All-zero accumulator rows
    * are never emitted, so a sparse result stays cheap. One hash
    * shuffle on the row key keeps each input row's cells in one task.
    * Falls back to the general SpGEMM above the width cap — a wide
    * Gram's output is genuinely big, and join+agg is then the right
    * plan. Accumulation order differs from [[matmul]]'s (as any
    * parallel sum's does); integer-valued inputs stay exact on both
    * paths. */
  def gram: DSparse = {
    if (cols > 2048) return t.matmul(this)
    val k = cols.toInt
    val sp = df.sparkSession
    import sp.implicits._
    // gram is bilinear per row, so duplicate coordinates need NO pre-dedup
    // (Σₐ Σᵦ vₐ·vᵦ = (Σv)ᵢ·(Σv)ⱼ exactly — the flush loop accumulates all
    // pairs): a fromCOO matrix feeds its RAW cells straight in, dropping
    // the dedup aggregation and its exchange — the cell table crosses the
    // network ONCE (guide §2.4; DSparseSpec pins both the values and the
    // single-exchange plan). NULL values are skipped like sum() skips
    // them; explicit zeros contribute nothing. The per-row dense
    // accumulation needs every cell of a row in ONE task, hence the
    // repartition.
    val cells = rawCells.getOrElse(df)
      .where(col("v").isNotNull)
      .select(col("i"), col("j").cast("int").as("j"), col("v").cast("double").as("v"))
      .repartition(col("i")).sortWithinPartitions("i")
      .as[(Long, Int, Double)]
      .mapPartitions { it =>
        val acc = Array.ofDim[Double](k, k)
        val touched = new Array[Boolean](k)
        val js = new scala.collection.mutable.ArrayBuffer[Int]
        val vs = new scala.collection.mutable.ArrayBuffer[Double]
        var cur = Long.MinValue
        def flush(): Unit = {
          var a = 0
          while (a < js.length) {
            touched(js(a)) = true
            var b = 0
            while (b < js.length) { acc(js(a))(js(b)) += vs(a) * vs(b); b += 1 }
            a += 1
          }
          js.clear(); vs.clear()
        }
        while (it.hasNext) {
          val (i, j, v) = it.next()
          if (i != cur) { flush(); cur = i }
          js += j; vs += v
        }
        flush()
        (0 until k).iterator.filter(touched).map(j1 => (j1.toLong, acc(j1)))
      }
      .groupByKey(_._1)
      .reduceGroups { (a, b) =>
        val out = a._2.clone()
        var x = 0
        while (x < k) { out(x) += b._2(x); x += 1 }
        (a._1, out)
      }
      .flatMap { case (j1, (_, row)) =>
        (0 until k).iterator.collect {
          case j2 if row(j2) != 0.0 => (j1, j2.toLong, row(j2))
        }
      }
      .toDF("i", "j", "v")
    new DSparse(cells, cols, cols)
  }

  /** Sparse mat × dense vector (vector as an (i, v) frame of positions,
    * broadcast): one broadcast join + one groupBy — O(nnz). */
  def matvec(x: DataFrame): DataFrame =
    df.join(broadcast(x.select(col("i").as("j"), col("v").as("xv"))), "j")
      .groupBy("i").agg(sum(expr("v * xv")).as("v"))

  /** Bridge to the dense surface (the element table is shared — this is a
    * zero-copy reinterpretation as a gapped [[DMatrix]], whose ops fill
    * the zeros where they need them). */
  def toDense: DMatrix = new DMatrix(df, rows, cols, dense = false)

  /** One-line layout row in the [[graft.expr.VecExpr.chunkReport]] idiom:
    * shape, stored nonzeros, density, and stored-vs-dense bytes — the
    * number that says whether a `.toDense` would be survivable. Runs the
    * (cached) nnz count; everything else is metadata. */
  def report: String = {
    val dense = rows * cols * 8L
    val stored = nnz * 24L // (i: i64, j: i64, v: f8)
    f"sparse ${rows}x$cols  nnz=$nnz (${100.0 * nnz / math.max(1L, rows * cols)}%.3f%%)  " +
      f"stored=$stored B  dense=$dense B"
  }
}

object DSparse {
  /** From any (i, j, v) COO frame — explicit zeros dropped, duplicate
    * coordinates summed (scipy's COO duplicate convention). The raw
    * frame is kept alongside for [[gram]]'s bilinear shortcut (one
    * exchange instead of dedup + re-key); every other consumer sees only
    * the deduped table. */
  def fromCOO(df: DataFrame, rows: Long, cols: Long): DSparse =
    new DSparse(
      df.groupBy("i", "j").agg(sum("v").as("v")).where("v <> 0.0"),
      rows, cols, rawCells = Some(df))

  /** From a dense matrix: stored zeros dropped. */
  def fromDense(m: DMatrix): DSparse =
    new DSparse(m.df.where(col("v") =!= 0.0), m.rows, m.cols)

  /** Sparse identity. */
  def eye(spark: SparkSession, n: Long): DSparse =
    new DSparse(
      spark.range(n).selectExpr("id AS i", "id AS j", "CAST(1.0 AS DOUBLE) AS v"), n, n)
}
