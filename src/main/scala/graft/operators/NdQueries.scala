package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{NdArray, Tables}

/** General N-d array queries (SURVEY §2.11 N-d over [[graft.NdArray]]):
  * axis-tuple reductions, axis permutations, rank
  * changes, rectangular slices and rank-generic tensordot, all over
  * rank-4 fixtures.
  *
  * Like [[MatrixQueries]], inputs are integer-arithmetic `tabulate`
  * kernels shared verbatim with the DuckDB oracle — values are exact in
  * double, no rounding anywhere.
  */
object NdQueries {

  /** Rank-4 fixture: coordinates from one range scan, same unravel
    * arithmetic on both sides. */
  private final case class Tab4(s0: Long, s1: Long, s2: Long, s3: Long, kernel: String) {
    def shape = Seq(s0, s1, s2, s3)
    def spark(s: SparkSession): NdArray = NdArray.tabulate(s, shape, kernel)
    def duck: String = {
      val n = s0 * s1 * s2 * s3
      s"""(SELECT c0, c1, c2, c3, CAST($kernel AS DOUBLE) AS v FROM
          (SELECT x // ${s1 * s2 * s3} AS c0, (x // ${s2 * s3}) % $s1 AS c1,
                  (x // $s3) % $s2 AS c2, x % $s3 AS c3 FROM range($n) t(x)))"""
    }
  }

  private val A4 = Tab4(3, 4, 5, 6, "(c0*7 + c1*5 + c2*3 + c3) % 11")
  private val B4 = Tab4(2, 3, 4, 5, "(c0*9 + c1*4 + c2*5 + c3*2) % 13")
  private val C4 = Tab4(2, 3, 4, 5, "(c0*3 + c1*8 + c2 + c3*6) % 7")

  // 3-d pair for tensordot: contract A3 axes (1,2) with B3 axes (1,0)
  private val A3k = "(c0*5 + c1*3 + c2*2) % 9"
  private val B3k = "(c0*4 + c1*7 + c2) % 8"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // axis-TUPLE reduction (numpy sum(axis=(1,3))): one groupBy on the
    // kept coordinates — a single partial-aggregated shuffle
    "n01_nd_axis_reduce" -> ((s, d) =>
      A4.spark(s).reduceAxes(Seq(1, 3), "sum(v)").elements.orderBy("c0", "c1")),

    // transpose (pure projection) → rectangular slice (range predicates
    // pushed through the permutation) → row-major ravel
    "n02_nd_transpose_slice" -> ((s, d) =>
      A4.spark(s).transpose(Seq(2, 0, 3, 1))
        .slice(Seq((1L, 4L), (0L, 3L), (2L, 5L), (1L, 3L)))
        .ravel.orderBy("idx")),

    // reshape is exact ravel/unravel arithmetic: (3,4,5,6) -> (15,24),
    // then slice rows of the reshaped view
    "n03_nd_reshape" -> ((s, d) =>
      A4.spark(s).reshape(Seq(15L, 24L))
        .slice(Seq((5L, 10L), (0L, 24L)))
        .ravel.orderBy("idx")),

    // rank-generic tensordot: contract (5,6)-extent axis pairs of two 3-d
    // arrays — equi-join on contracted coords + groupBy kept coords
    "n04_nd_tensordot" -> ((s, d) => {
      val a = NdArray.tabulate(s, Seq(4L, 5L, 6L), A3k)
      val b = NdArray.tabulate(s, Seq(6L, 5L, 3L), B3k)
      a.tensordot(b, Seq(1, 2), Seq(1, 0)).elements.orderBy("c0", "c1")
    }),

    // rank-4 aligned elemwise zip + full reduction to a scalar
    "n05_nd_zip_reduce" -> ((s, d) =>
      B4.spark(s).zip(C4.spark(s), "v1 * v2 + v1")
        .reduceAxes(Seq(0, 1, 2, 3), "sum(v)").elements),

    // unravel_index / ravel_multi_index round trip over REAL data: wrap a
    // parquet column as a rank-3 array (flat idx -> coords), then ravel
    // back — both directions are exact integer stride arithmetic
    // flip + roll + concat along an axis — all pure coordinate remaps /
    // offset unions; the reduce proves values landed at the right coords
    "n07_nd_flip_roll_concat" -> ((s, d) => {
      val a = NdArray.tabulate(s, Seq(3L, 4L, 5L), "(c0*7 + c1*3 + c2) % 9")
      val b = NdArray.tabulate(s, Seq(3L, 2L, 5L), "(c0*2 + c1*5 + c2*4) % 7")
      a.flip(1).roll(2, 2).concat(b, 1)
        .reduceAxes(Seq(2), "sum(v)").elements.orderBy("c0", "c1")
    }),

    // moveaxis (pure projection: (3,4,5,6) → axis 3 to front = (6,3,4,5))
    // then apply_over_axes over the new axes (0,2): one groupBy shuffle,
    // reduced axes kept as size-1 dims (numpy keepdims contract)
    "n08_moveaxis_applyover" -> ((s, d) =>
      A4.spark(s).moveaxis(3, 0)
        .applyOverAxes(Seq(0, 2), "sum(v)").elements.orderBy("c1", "c3")),

    "n06_nd_unravel" -> ((s, d) => {
      val flat = Tables.read(s, s"$d/events.parquet")
        .selectExpr("event_id AS idx", "value AS v").where("idx < 360")
      NdArray.fromFlat(flat, Seq(5L, 8L, 9L)).elements
        .selectExpr("c0", "c1", "c2", "v", "c0 * 72 + c1 * 9 + c2 AS flat")
        .orderBy("flat")
    }),

    // cumulative sum along ONE axis of a rank-4 array: per-line blocked
    // prefix scan + per-line block-carry — no window group ever exceeds
    // the block size (blockSize forced tiny so the carry path is what
    // this query exercises)
    "n09_nd_cum_axis" -> ((s, d) =>
      A4.spark(s).cumAxis(2, "sum", blockSize = 2L).ravel.orderBy("idx")),

    // diff along one axis: two pushed rectangular slices + one aligned
    // zip (out[…,c,…] = x[…,c+1,…] - x[…,c,…])
    "n10_nd_diff_axis" -> ((s, d) =>
      A4.spark(s).diffAxis(1).ravel.orderBy("idx")),

    // numpy broadcasting: a (1,40) row broadcast to (30,40) via the
    // generated broadcast cross join, then the classic broadcast-add zip
    "n11_broadcast_add" -> ((s, d) => {
      val m = NdArray.tabulate(s, Seq(30L, 40L), "c0 * 3 + c1")
      val row = NdArray.tabulate(s, Seq(1L, 40L), "c1 * 2 + 1").broadcastAxis(0, 30)
      m.zip(row, "v1 + v2").elements.orderBy("c0", "c1")
    }),

    // constant pad along one axis (nonzero fill): generated slabs
    // concatenated, originals shifted
    "n12_pad_axis" -> ((s, d) =>
      NdArray.tabulate(s, Seq(5L, 6L), "(c0*5 + c1) % 7 + 1")
        .padAxis(1, 2, 1, cv = 2.5).elements.orderBy("c0", "c1")),

    // N-d einsum: batched matmul as ONE einsum call ("bij,bjk->bik") —
    // the rank-generic letter-join fold; the batch letter rides the join
    "n13_einsum_nd" -> ((s, d) => {
      val a = NdArray.tabulate(s, Seq(2L, 6L, 4L), "(c0*9 + c1*7 + c2*3) % 11")
      val b = NdArray.tabulate(s, Seq(2L, 4L, 5L), "(c0*5 + c1*2 + c2) % 13")
      graft.Einsum.nd("bij,bjk->bik", a, b).orderBy("b", "i", "k")
    }),

    // rank-3 boundary-aware stencil (map_overlap at rank ≥ 3; reference
    // _overlap.py:143 is rank-generic): 7-point Laplacian with reflect
    // ghosts — per-axis halo slabs are narrow coordinate remaps, the 7
    // taps union into ONE partial-aggregated groupBy (a single shuffle
    // regardless of rank or stencil size)
    "n14_nd_stencil3d" -> ((s, d) => {
      val x = NdArray.tabulate(s, Seq(12L, 10L, 8L), "(c0*7 + c1*3 + c2*5) % 11 - 3")
      val taps = Seq(
        (Seq(0L, 0L, 0L), -6.0),
        (Seq(1L, 0L, 0L), 1.0), (Seq(-1L, 0L, 0L), 1.0),
        (Seq(0L, 1L, 0L), 1.0), (Seq(0L, -1L, 0L), 1.0),
        (Seq(0L, 0L, 1L), 1.0), (Seq(0L, 0L, -1L), 1.0))
      x.stencilSum(taps, boundary = "reflect").elements.orderBy("c0", "c1", "c2")
    }),

    // rank-3 ORDER-STATISTIC stencil (morphological dilation = max over
    // the 7-point neighborhood, periodic boundary): stencilAgg runs ANY
    // SQL aggregate over the neighbor values with the same one-scan +
    // one-shuffle shape as the linear stencil — nonlinear map_overlap at
    // any rank (reference _overlap.py:143 is rank-generic)
    "n15_nd_dilate3d" -> ((s, d) => {
      val x = NdArray.tabulate(s, Seq(9L, 7L, 5L), "(c0*5 + c1*11 + c2*3) % 13 + 1")
      val offs = Seq(
        Seq(0L, 0L, 0L),
        Seq(1L, 0L, 0L), Seq(-1L, 0L, 0L),
        Seq(0L, 1L, 0L), Seq(0L, -1L, 0L),
        Seq(0L, 0L, 1L), Seq(0L, 0L, -1L))
      x.stencilAgg(offs, "max(v)", boundary = "wrap")
        .elements.orderBy("c0", "c1", "c2")
    }),

    // N-d coarsen with ragged-edge trim (reference coarsen trim_excess,
    // routines/_coarsen.py:42): ONE map-side-combinable groupBy on
    // (c_i div k_i) at any rank — (3,4,5,6) by (2,3,2,4) trims to
    // (2,3,4,4) then reduces to (1,1,2,1); integer sums stay exact
    "n16_nd_coarsen" -> ((s, d) =>
      A4.spark(s).coarsen(Seq(2L, 3L, 2L, 4L), "sum(v)", trimExcess = true)
        .elements.orderBy("c0", "c1", "c2", "c3")),

    // N-d pad, non-constant modes (reference pad edge/wrap/reflect at any
    // rank): slab composition of slice/flip/concat — reflect on axis 0,
    // then periodic wrap on axis 1; axes pad independently so the oracle
    // is one per-axis index remap over the source kernel
    "n17_nd_pad_modes" -> ((s, d) =>
      NdArray.tabulate(s, Seq(5L, 6L), "(c0*7 + c1*3) % 11")
        .padAxisMode(0, 2, 1, "reflect")
        .padAxisMode(1, 1, 2, "wrap")
        .elements.orderBy("c0", "c1")))

  val oracles: Map[String, String] = Map(
    "n01_nd_axis_reduce" ->
      s"""SELECT c0, c2 AS c1, sum(v) AS v FROM ${A4.duck}
          GROUP BY 1, 2 ORDER BY c0, c1""",

    // transposed coords (b0,b1,b2,b3) = (c2,c0,c3,c1); slice bounds on the
    // transposed axes; ravel with the sliced shape's strides (3,3,3,2)
    "n02_nd_transpose_slice" ->
      s"""SELECT (c2 - 1) * 18 + c0 * 6 + (c3 - 2) * 2 + (c1 - 1) AS idx, v
          FROM ${A4.duck}
          WHERE c2 >= 1 AND c2 < 4 AND c0 >= 0 AND c0 < 3
            AND c3 >= 2 AND c3 < 5 AND c1 >= 1 AND c1 < 3
          ORDER BY idx""",

    // flat index is invariant under reshape; slicing reshaped rows 5..10
    // of width 24 keeps flat positions [120, 240), rebased by -120
    "n03_nd_reshape" ->
      s"""SELECT (c0 * 120 + c1 * 30 + c2 * 6 + c3) - 120 AS idx, v
          FROM ${A4.duck}
          WHERE c0 * 120 + c1 * 30 + c2 * 6 + c3 >= 120
            AND c0 * 120 + c1 * 30 + c2 * 6 + c3 < 240
          ORDER BY idx""",

    "n04_nd_tensordot" ->
      s"""SELECT a.c0 AS c0, b.c2 AS c1, sum(a.v * b.v) AS v FROM
          (SELECT c0, c1, c2, CAST($A3k AS DOUBLE) AS v FROM
            (SELECT x // 30 AS c0, (x // 6) % 5 AS c1, x % 6 AS c2
             FROM range(120) t(x))) a
          JOIN
          (SELECT c0, c1, c2, CAST($B3k AS DOUBLE) AS v FROM
            (SELECT x // 15 AS c0, (x // 3) % 5 AS c1, x % 3 AS c2
             FROM range(90) t(x))) b
          ON a.c1 = b.c1 AND a.c2 = b.c0
          GROUP BY 1, 2 ORDER BY c0, c1""",

    "n05_nd_zip_reduce" ->
      s"""SELECT CAST(0 AS BIGINT) AS c0, sum(a.v * b.v + a.v) AS v
          FROM ${B4.duck} a JOIN ${C4.duck} b
          ON a.c0 = b.c0 AND a.c1 = b.c1 AND a.c2 = b.c2 AND a.c3 = b.c3""",

    // moveaxis(3,0) makes old axes (c3,c0,c1,c2); apply_over_axes (0,2)
    // sums out old c3 and c1, keeping old c0 (as c1) and old c2 (as c3)
    // with size-1 axes at 0 and 2
    "n08_moveaxis_applyover" ->
      s"""SELECT CAST(0 AS BIGINT) AS c0, c0 AS c1, CAST(0 AS BIGINT) AS c2,
            c2 AS c3, sum(v) AS v
          FROM ${A4.duck} GROUP BY 2, 4 ORDER BY c1, c3""",

    "n06_nd_unravel" ->
      """SELECT event_id // 72 AS c0, (event_id // 9) % 8 AS c1,
            event_id % 9 AS c2, value AS v, event_id AS flat
         FROM events WHERE event_id < 360 ORDER BY flat""",

    // running sum over c2 per (c0,c1,c3) line; ravel strides (120,30,6,1)
    "n09_nd_cum_axis" ->
      s"""SELECT CAST(c0 * 120 + c1 * 30 + c2 * 6 + c3 AS BIGINT) AS idx,
            CAST(sum(v) OVER (PARTITION BY c0, c1, c3 ORDER BY c2) AS DOUBLE) AS v
          FROM ${A4.duck} ORDER BY idx""",

    // out c1 in 0..2 holds x[c1+1] - x[c1]; result shape (3,3,5,6),
    // strides (90,30,6,1)
    "n10_nd_diff_axis" ->
      s"""SELECT CAST(c0 * 90 + c1 * 30 + c2 * 6 + c3 AS BIGINT) AS idx,
            CAST(nv - v AS DOUBLE) AS v FROM (
            SELECT c0, c1, c2, c3, v,
              lead(v) OVER (PARTITION BY c0, c2, c3 ORDER BY c1) AS nv
            FROM ${A4.duck})
          WHERE c1 < 3 ORDER BY idx""",

    "n11_broadcast_add" ->
      """SELECT c0, c1, CAST(c0 * 3 + c1 + c1 * 2 + 1 AS DOUBLE) AS v
         FROM (SELECT x // 40 AS c0, x % 40 AS c1 FROM range(1200) t(x))
         ORDER BY c0, c1""",

    "n12_pad_axis" ->
      """SELECT c0, c1,
           CAST(CASE WHEN c1 < 2 OR c1 >= 8 THEN 2.5
                ELSE (c0 * 5 + (c1 - 2)) % 7 + 1 END AS DOUBLE) AS v
         FROM (SELECT x // 9 AS c0, x % 9 AS c1 FROM range(45) t(x))
         ORDER BY c0, c1""",

    "n13_einsum_nd" ->
      """SELECT a.c0 AS b, a.c1 AS i, bb.c2 AS k, sum(a.v * bb.v) AS v FROM
          (SELECT c0, c1, c2, CAST((c0*9 + c1*7 + c2*3) % 11 AS DOUBLE) AS v FROM
            (SELECT x // 24 AS c0, (x // 4) % 6 AS c1, x % 4 AS c2
             FROM range(48) t(x))) a
          JOIN
          (SELECT c0, c1, c2, CAST((c0*5 + c1*2 + c2) % 13 AS DOUBLE) AS v FROM
            (SELECT x // 20 AS c0, (x // 5) % 4 AS c1, x % 5 AS c2
             FROM range(40) t(x))) bb
          ON a.c0 = bb.c0 AND a.c2 = bb.c1
          GROUP BY 1, 2, 3 ORDER BY b, i, k""",

    // the oracle replays the stencil from the generating formula with
    // inline reflect-index arithmetic — no joins needed
    "n14_nd_stencil3d" -> {
      def r(t: String, n: Int) =
        s"(CASE WHEN ($t) < 0 THEN -($t)-1 WHEN ($t) >= $n THEN ${2 * n - 1}-($t) ELSE ($t) END)"
      def f(a: String, b: String, c: String) =
        s"((($a)*7 + ($b)*3 + ($c)*5) % 11 - 3)"
      s"""SELECT c0, c1, c2, CAST(
           -6 * ${f("c0", "c1", "c2")}
           + ${f(r("c0-1", 12), "c1", "c2")} + ${f(r("c0+1", 12), "c1", "c2")}
           + ${f("c0", r("c1-1", 10), "c2")} + ${f("c0", r("c1+1", 10), "c2")}
           + ${f("c0", "c1", r("c2-1", 8))} + ${f("c0", "c1", r("c2+1", 8))}
           AS DOUBLE) AS v
         FROM (SELECT x // 80 AS c0, (x // 8) % 10 AS c1, x % 8 AS c2
               FROM range(960) t(x))
         ORDER BY c0, c1, c2"""
    },

    "n15_nd_dilate3d" -> {
      def w(t: String, n: Int) = s"((($t) + $n) % $n)"
      def f(a: String, b: String, c: String) =
        s"((($a)*5 + ($b)*11 + ($c)*3) % 13 + 1)"
      s"""SELECT c0, c1, c2, CAST(GREATEST(
           ${f("c0", "c1", "c2")},
           ${f(w("c0-1", 9), "c1", "c2")}, ${f(w("c0+1", 9), "c1", "c2")},
           ${f("c0", w("c1-1", 7), "c2")}, ${f("c0", w("c1+1", 7), "c2")},
           ${f("c0", "c1", w("c2-1", 5))}, ${f("c0", "c1", w("c2+1", 5))})
           AS DOUBLE) AS v
         FROM (SELECT x // 35 AS c0, (x // 5) % 7 AS c1, x % 5 AS c2
               FROM range(315) t(x))
         ORDER BY c0, c1, c2"""
    },

    "n16_nd_coarsen" ->
      s"""SELECT c0 // 2 AS c0, c1 // 3 AS c1, c2 // 2 AS c2, c3 // 4 AS c3,
           CAST(sum(v) AS DOUBLE) AS v
         FROM ${A4.duck}
         WHERE c0 < 2 AND c1 < 3 AND c2 < 4 AND c3 < 4
         GROUP BY 1, 2, 3, 4 ORDER BY c0, c1, c2, c3""",

    // src row = reflect(i-2 over 5, mirror incl. edge), src col =
    // (j-1) mod 6 — the same independent per-axis maps the slabs encode
    "n17_nd_pad_modes" ->
      """SELECT i AS c0, j AS c1, CAST((si*7 + sj*3) % 11 AS DOUBLE) AS v
         FROM (SELECT i, j,
            CASE WHEN i - 2 < 0 THEN -(i - 2) - 1
                 WHEN i - 2 >= 5 THEN 9 - (i - 2) ELSE i - 2 END AS si,
            ((j - 1) % 6 + 6) % 6 AS sj
            FROM (SELECT x // 9 AS i, x % 9 AS j FROM range(72) t(x)))
         ORDER BY c0, c1""",

    // flip maps out c1 = 3 - src c1; the roll permutes within the summed
    // axis (sum-invariant); b lands at c1 + 4
    "n07_nd_flip_roll_concat" ->
      """SELECT c0, c1, sum(v) AS v FROM (
           SELECT c0, 3 - c1 AS c1, CAST((c0*7 + c1*3 + c2) % 9 AS DOUBLE) AS v
           FROM (SELECT x // 20 AS c0, (x // 5) % 4 AS c1, x % 5 AS c2
                 FROM range(60) t(x))
           UNION ALL
           SELECT c0, c1 + 4 AS c1, CAST((c0*2 + c1*5 + c2*4) % 7 AS DOUBLE) AS v
           FROM (SELECT x // 10 AS c0, (x // 5) % 2 AS c1, x % 5 AS c2
                 FROM range(30) t(x)))
         GROUP BY c0, c1 ORDER BY c0, c1""")
}
