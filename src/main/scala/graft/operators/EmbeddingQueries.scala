package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity-search operators over the `embeddings` table
  * (`vec_id BIGINT, embedding ARRAY<FLOAT>, label INT`; vectors are
  * L2-normalized so cosine similarity = dot product).
  *
  * Scale design (100 TB): the vector math runs through the native
  * codegen'd [[graft.functions.DotProduct]] Catalyst expression
  * (`graft_dot` — a primitive loop inside whole-stage codegen; Catalyst
  * HOF lambdas are interpreted per element, ~an order of magnitude slower
  * on this hot path) — no UDFs, no driver collection. Brute-force scans
  * are bounded to a broadcast query set (the ANN baseline); the scale
  * path is the random-hyperplane LSH bucketing (e03/e05): one projection
  * pass, then a bucket-partitioned shuffle, the embedding analogue of
  * MinHash banding.
  *
  * Portability: hyperplanes are integer-arithmetic pseudo-random
  * (`((p*73 + d*37) % 19) - 9`), so the DuckDB oracle reproduces them
  * exactly; accumulation runs in ascending dimension order on both sides.
  */
object EmbeddingQueries {

  private[graft] val DIM = 64

  /** Sorted-neighborhood bound on within-block pair joins (same guard as
    * TextQueries.WINDOW): pair count per block is O(n·W), never O(n²). */
  private val WINDOW = 16

  /** dot(a, b) over two array columns — the native codegen'd
    * [[graft.functions.DotProduct]] expression (registered per session in
    * [[emb]]); same ascending-index double fold as the DuckDB oracle. */
  private def sparkDot(a: String, b: String): String =
    s"graft_dot($a, $b)"
  private def duckDot(a: String, b: String): String =
    s"CAST(list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in generate_series(1, $DIM)]) AS DOUBLE)"

  /** Signed projection onto deterministic pseudo-random hyperplane p —
    * the weight vector folds to an array literal, so the projection is
    * one codegen'd dot, not an interpreted per-element lambda. */
  private def sparkProj(p: Int): String = {
    val w = (0 until DIM).map(d => s"CAST(${(p * 73 + d * 37) % 19 - 9} AS DOUBLE)")
    s"graft_dot(embedding, array(${w.mkString(", ")}))"
  }
  private def duckProj(p: String): String =
    s"CAST(list_sum([CAST(embedding[d] AS DOUBLE) * ((($p * 73 + (d - 1) * 37) % 19) - 9) for d in generate_series(1, $DIM)]) AS DOUBLE)"

  /** 8-bit hyperplane LSH bucket. */
  private val sparkBucket: String =
    (0 until 8).map(p => s"(CASE WHEN round(${sparkProj(p)}, 6) > 0 THEN ${1 << p} ELSE 0 END)").mkString(" + ")
  private val duckBucket: String =
    (0 until 8).map(p => s"(CASE WHEN round(${duckProj(p.toString)}, 6) > 0 THEN ${1 << p} ELSE 0 END)").mkString(" + ")

  private def emb(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s) // idempotent per session
    Tables.read(s, s"$d/embeddings.parquet")
  }

  /** PQ codebook weight for (sub, code, dim) — the JVM value. The SQL
    * twin [[pqW]] must stay in algebraic lockstep (PQSpec asserts it). */
  private[graft] def pqWeight(sub: Int, c: Int, d: Int): Int =
    (c * 29 + d * 13 + sub * 7) % 19 - 9

  /** ADC score of a query array `qe` against code columns c0..c7:
    * Σ_sub dot(q_sub, codebook[code_sub]) — shared by the e09/e15 batch
    * rankers and the streaming serving twin
    * ([[graft.streaming.StreamOps.searchVectors]]). */
  private[graft] def adcScoreSql: String =
    (0 until 8).map(sub =>
      s"aggregate(sequence(0, 7), CAST(0 AS DOUBLE), (acc, d) -> acc + " +
        s"CAST(element_at(qe, $sub * 8 + d + 1) AS DOUBLE) * ${pqW(sub, s"c$sub", "d")})")
      .mkString("(", " + ", ")")

  /** PQ codebook weight as a SQL fragment over symbolic c/d — used by the
    * e09 ADC score and both oracles; same formula as [[pqWeight]]. */
  private[operators] def pqW(sub: Int, c: String, d: String): String =
    s"((($c) * 29 + ($d) * 13 + $sub * 7) % 19 - 9)"

  /** Squared distance of subvector `sub` to code `c` in the oracle —
    * ascending-dim fold so accumulation order matches the JVM kernel. */
  private def pqDistDuck(sub: Int, c: Int): String =
    s"CAST(list_sum([(CAST(embedding[$sub * 8 + d + 1] AS DOUBLE) - ${pqW(sub, c.toString, "d")}) * " +
      s"(CAST(embedding[$sub * 8 + d + 1] AS DOUBLE) - ${pqW(sub, c.toString, "d")}) " +
      s"for d in generate_series(0, 7)]) AS DOUBLE)"

  /** argmin over the 16 codes (first-min tie break) — oracle form. */
  private def pqCodeDuck(sub: Int): String = {
    val arr = (0 until 16).map(c => pqDistDuck(sub, c)).mkString("[", ", ", "]")
    s"CAST(list_position($arr, list_min($arr)) - 1 AS BIGINT)"
  }

  /** PQ encode as a one-pass typed JVM kernel (Catalyst HOF lambdas are
    * interpreted — the same ~50× lesson as the MinHash kernel; the SQL
    * fragment lives on only as the DuckDB oracle). Distances accumulate
    * in ascending dim order and ties keep the first min, bit-matching
    * [[pqDistDuck]]/list_position. Returns (vec_id, c0..c7). */
  private def pqCodesDF(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    emb(s, d).select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          val codes = new Array[Long](8)
          var sub = 0
          while (sub < 8) {
            var best = 0L; var bestD = Double.MaxValue
            var c = 0
            while (c < 16) {
              var dist = 0.0
              var d0 = 0
              while (d0 < 8) {
                val x = e(sub * 8 + d0).toDouble - pqWeight(sub, c, d0)
                dist += x * x
                d0 += 1
              }
              if (dist < bestD) { bestD = dist; best = c.toLong }
              c += 1
            }
            codes(sub) = best
            sub += 1
          }
          (id, codes(0), codes(1), codes(2), codes(3), codes(4), codes(5), codes(6), codes(7))
        }
      }.toDF("vec_id", "c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
  }

  // ---- k-means (Lloyd) under the exact oracle gate -----------------
  // Distributed Lloyd iterations are THE canonical Spark clustering
  // shape: per iteration one full scan scores every point against k
  // broadcast centroid literals (k·d doubles — driver traffic is
  // O(k·d·iters), metadata-sized, never the data), then one partial-agg
  // shuffle recomputes per-cluster sums. Hash-exactness comes from the
  // q89 lesson applied to geometry: points quantize ONCE to an integer
  // grid (floor(x·4096) — exact: float→double widening and a power-of-2
  // scale are lossless), centroids live on a KM_G-times-finer integer
  // grid via exact floor division, and every distance/argmin compares
  // integer-valued doubles below 2^53 — no libm, no rounding, so the
  // DuckDB twin (which computes distances in BIGINT outright) lands on
  // identical assignments, counts, and centroid coordinates.
  private val KM_K = 8 // clusters (seeded from the first KM_K vectors)
  private val KM_IT = 3 // Lloyd update iterations (+ one final assignment)
  private[graft] val KM_G = 1024L // centroid grid refinement over the point grid

  /** Quantize an `embedding` column to the integer point grid — the
    * shared entry of the batch Lloyd loop and the streaming assignment
    * twin ([[graft.streaming.StreamOps.assignVectors]]). */
  private[graft] val kmeansQuantizeSql: String =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 4096.0) AS BIGINT)) AS p"

  /** Per-centroid score columns over a quantized `pD` (double view of
    * `p`): ||m||² − 2·KM_G·dot(p, m) — squared distance minus the
    * point-constant term; every value an exact integer-valued double. */
  private[graft] def kmeansScoreSqls(cent: Seq[(Long, Array[Long])]): Seq[String] =
    cent.zipWithIndex.map { case ((_, m), i) =>
      val lit = m.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
      val m2 = m.map(v => v * v).sum
      s"(CAST(${m2}L AS DOUBLE) - CAST(${2 * KM_G} AS DOUBLE) * graft_dot(pD, $lit)) AS s$i"
    }

  /** First-min CASE cascade over the score columns = lowest-cluster
    * tie-break, matching the oracle's row_number ORDER BY (dist, c). */
  private[graft] def kmeansCaseSql(cent: Seq[(Long, Array[Long])]): String = {
    val cases = (0 until cent.size - 1).map { i =>
      val rest = (i + 1 until cent.size).map(j => s"s$j")
      val bound = if (rest.size == 1) rest.head else s"least(${rest.mkString(", ")})"
      s"WHEN s$i <= $bound THEN CAST(${cent(i)._1} AS BIGINT)"
    }.mkString(" ")
    s"CASE $cases ELSE CAST(${cent.last._1} AS BIGINT) END"
  }

  /** 3 Lloyd iterations + final assignment; output per cluster: size,
    * first 4 centroid coordinates (integer grid), exact Σp₁ of members. */
  private def kmeansLloyd(s: SparkSession, d: String): DataFrame =
    kmeansLloydFrom(emb(s, d))

  /** Quantized point table (p integer grid, pD double view), persisted
    * for the training iterations — the input of the Lloyd loop, the PQ
    * trainer, and the e17 outlier audit. Callers unpersist once training
    * is done; the returned (lazy) result then recomputes the one narrow
    * quantization projection instead of pinning the cache for the
    * session's lifetime. */
  private def kmeansPts(embDf: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embDf.sparkSession)
    embDf.selectExpr("vec_id", kmeansQuantizeSql)
      .selectExpr("vec_id", "p", "transform(p, x -> CAST(x AS DOUBLE)) AS pD")
      .persist()
  }

  /** One scan: score every point against the centroid literals (see
    * [[kmeansScoreSqls]] — ||m||² ≤ 64·2^44, 2·KM_G·dot ≤ 2^51, all
    * exact integer-valued doubles), then the first-min CASE cascade. */
  private def kmeansAssigned(pts: DataFrame,
                             cent: Seq[(Long, Array[Long])]): DataFrame =
    pts.selectExpr(Seq("vec_id", "p") ++ kmeansScoreSqls(cent): _*)
      .selectExpr("vec_id", "p", s"${kmeansCaseSql(cent)} AS c")

  /** The Lloyd training loop: init from the first KM_K vectors, KM_IT
    * exact-integer update iterations; returns the trained centroids. */
  private[graft] def kmeansTrainOn(pts: DataFrame): Seq[(Long, Array[Long])] = {
    var cent: Seq[(Long, Array[Long])] =
      pts.where(s"vec_id < $KM_K").select("vec_id", "p").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray.map(_ * KM_G)))
        .sortBy(_._1).toSeq
    for (_ <- 1 to KM_IT) {
      // per-cluster exact integer sums (partial-agg shuffle), collected
      // as k rows of k·d longs — the only driver traffic of an iteration
      val sums = kmeansAssigned(pts, cent).groupBy("c")
        .agg(count(lit(1)).as("n"),
          (1 to DIM).map(i => sum(expr(s"element_at(p, $i)")).as(s"s$i")): _*)
        .collect()
      val upd = sums.map { r =>
        val n = r.getLong(1)
        (r.getLong(0),
          (1 to DIM).map(i => Math.floorDiv(r.getLong(1 + i) * KM_G, n)).toArray)
      }.toMap
      cent = cent.map { case (c, m) => (c, upd.getOrElse(c, m)) } // empty keeps old
    }
    cent
  }

  /** The Lloyd loop over any (vec_id, embedding) frame — injectable for
    * the partitioning-invariance spec (exact integer sums make every
    * iteration independent of the input's physical layout). */
  private[graft] def kmeansLloydFrom(embDf: DataFrame): DataFrame = {
    val s = embDf.sparkSession
    import s.implicits._
    val pts = kmeansPts(embDf)
    val cent = kmeansTrainOn(pts)
    pts.unpersist(blocking = false) // training done; final pass recomputes
    val centDf = cent.map { case (c, m) => (c, m(0), m(1), m(2), m(3)) }
      .toDF("c", "m1", "m2", "m3", "m4")
    kmeansAssigned(pts, cent).groupBy("c")
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(expr("element_at(p, 1)")).cast("bigint").as("s1"))
      .join(broadcast(centDf), "c")
      .select("c", "n", "m1", "m2", "m3", "m4", "s1")
      .orderBy("c")
  }

  /** Embedding OUTLIER audit: top-N points by exact squared distance to
    * their nearest TRAINED centroid — the data-cleaning companion of
    * SemDeDup (far-from-every-cluster vectors are the mislabeled/garbage
    * candidates a curation pass reviews). dist = KM_G²·||p||² + the
    * [[kmeansScoreSqls]] score, every term an exact integer-valued
    * double ≤ 2^52.3 — ordering and the hash gate are exact. */
  private def kmeansOutliers(s: SparkSession, d: String, topN: Int): DataFrame = {
    val pts = kmeansPts(emb(s, d))
    val cent = kmeansTrainOn(pts)
    pts.unpersist(blocking = false) // training done; final pass recomputes
    val g2 = KM_G * KM_G
    val minScore = (0 until cent.size).map(i => s"s$i").mkString("least(", ", ", ")")
    pts.selectExpr(Seq("vec_id", "pD") ++ kmeansScoreSqls(cent): _*)
      .selectExpr("vec_id",
        s"CAST(CAST($g2 AS DOUBLE) * graft_dot(pD, pD) + $minScore AS BIGINT) AS dist")
      .orderBy(col("dist").desc, col("vec_id")).limit(topN)
  }

  // ---- PQ codebook TRAINING (per-subspace k-means) ------------------
  // e08/e09 encode and search against FIXED deterministic codebooks;
  // real product quantization trains them — 8 independent k-means, one
  // per 8-dim subspace, 16 codes each. The Spark shape trains ALL
  // subspaces in one scan per iteration: 128 centroid-literal scores
  // (graft_dot over array slices), 8 first-min cascades, then ONE
  // stack + ONE partial-agg shuffle keyed (sub, code) recomputes every
  // codebook. Same exact-integer grids as e13, so the oracle gate
  // hashes exactly.
  private val PQ_SUBS = 8
  private val PQ_CODES = 16
  private val PQ_IT = 2 // Lloyd update iterations (+ one final assignment)

  /** Train the 8×16 PQ codebooks (2 Lloyd iterations, init = the first
    * 16 vectors' subvectors); output per (sub, code): member count,
    * first 2 centroid coords (integer grid), exact Σ of the members'
    * first subvector coord. */
  private def pqTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pts = kmeansPts(emb(s, d))
    // cent(sub)(code): 8-dim centroid on the refined grid
    var cent: Array[Array[Array[Long]]] = {
      val init = pts.where(s"vec_id < $PQ_CODES").select("vec_id", "p").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
      Array.tabulate(PQ_SUBS, PQ_CODES) { (sub, c) =>
        init(c)._2.slice(sub * 8, sub * 8 + 8).map(_ * KM_G)
      }
    }
    // one scan: per subspace, ONE `graft_argmin_dot` kernel picks the
    // nearest code. The score is ONE fused dot: ||m||² − 2G·dot(p, m)
    //   = dot([p_sub, 1], [−2G·m_0..7, ||m||²])
    // with the candidate table a slice of an array-typed literal. Array
    // literals ride the codegen REFERENCES array, so every iteration's
    // plan compiles to byte-identical code and janino's cache serves
    // iterations 2+ (one compile per loop SHAPE — PQSpec pins the
    // property). The r9 form kept ||m||² in a SEPARATE scalar
    // element_at, which constant-folds to an INLINE `…D` literal and
    // silently re-compiled every iteration; the r12 form scored all 128
    // (sub, code) pairs as separate projection columns plus eight
    // 16-deep least/when cascades, whose generated method was the
    // largest in the suite and degraded ~10× under a full 276-query
    // session's JIT/code-cache pressure (r12 verdict #2) — the argmin
    // kernel generates two small nested loops regardless of codebook
    // size. Every term stays an exact integer-valued double
    // (|−2G·m| ≤ 2^33, |p·2G·m| ≤ 2^45, ||m||² ≤ 2^47, 9-term sum
    // < 2^53), so the re-associated fold is bit-identical to the
    // subtract form the oracle replays, and ArgminDot's strict-< first-
    // minimum matches the cascade's `s(i) <= least(s(i+1..))` tie rule.
    def assigned: DataFrame = {
      val flat = for (sub <- 0 until PQ_SUBS; c <- 0 until PQ_CODES)
        yield cent(sub)(c)
      val centsLit = typedLit(flat.map { m =>
        (m.map(v => (-2L * KM_G * v).toDouble) :+
          m.map(v => v.toDouble * v).sum).toSeq
      })
      val caseCols = (0 until PQ_SUBS).map { sub =>
        call_function("graft_argmin_dot",
          concat(slice(col("pD"), sub * 8 + 1, 8), array(lit(1.0))),
          slice(centsLit, sub * PQ_CODES + 1, PQ_CODES)).as(s"c$sub")
      }
      pts.select(col("vec_id") +: col("p") +: caseCols: _*)
    }
    // (vec, sub) rows AFTER assignment → one keyed shuffle per iteration
    def stacked: DataFrame = {
      val stackArgs = (0 until PQ_SUBS).map { sub =>
        s"CAST($sub AS INT), c$sub, " +
          (0 until 8).map(dm => s"element_at(p, ${sub * 8 + dm + 1})").mkString(", ")
      }.mkString(", ")
      val outCols = (0 until 8).map(i => s"x$i").mkString(", ")
      assigned.selectExpr(s"stack($PQ_SUBS, $stackArgs) AS (sub, code, $outCols)")
    }
    for (_ <- 1 to PQ_IT) {
      val sums = stacked.groupBy("sub", "code")
        .agg(count(lit(1)).as("n"), (0 until 8).map(i => sum(s"x$i").as(s"s$i")): _*)
        .collect()
      val upd = sums.map { r =>
        val n = r.getLong(2)
        ((r.getInt(0), r.getInt(1)),
          Array.tabulate(8)(i => Math.floorDiv(r.getLong(3 + i) * KM_G, n)))
      }.toMap
      cent = Array.tabulate(PQ_SUBS, PQ_CODES) { (sub, c) =>
        upd.getOrElse((sub, c), cent(sub)(c)) // empty code keeps its centroid
      }
    }
    pts.unpersist(blocking = false) // training done; final pass recomputes
    val centRows = for (sub <- 0 until PQ_SUBS; c <- 0 until PQ_CODES)
      yield (sub, c, cent(sub)(c)(0), cent(sub)(c)(1))
    val centDf = centRows.toDF("sub", "code", "m1", "m2")
    stacked.groupBy("sub", "code")
      .agg(count(lit(1)).cast("bigint").as("n"), sum("x0").cast("bigint").as("s1"))
      .join(broadcast(centDf), Seq("sub", "code"))
      .select("sub", "code", "n", "m1", "m2", "s1")
      .orderBy("sub", "code")
  }

  /** Oracle twin of [[pqTrain]]: per-(vec, sub) membership rows, BIGINT
    * distances, row_number (dist, code) tie-break, exact floor-division
    * centroid updates. */
  private def pqTrainOracle: String = {
    def dist(prev: String) =
      s"list_sum([(sp[i]*$KM_G - $prev.m[i])*(sp[i]*$KM_G - $prev.m[i]) " +
        s"for i in generate_series(1, 8)])"
    def assign(prev: String) =
      s"""SELECT vec_id, sub, sp, code FROM (
            SELECT mem.vec_id, mem.sub, mem.sp, $prev.code,
              row_number() OVER (PARTITION BY mem.vec_id, mem.sub
                ORDER BY ${dist(prev)}, $prev.code) AS rn
            FROM mem JOIN $prev ON $prev.sub = mem.sub) WHERE rn = 1"""
    def update(a: String, prev: String) =
      s"""SELECT $prev.sub AS sub, $prev.code AS code, coalesce(u.m, $prev.m) AS m
          FROM $prev LEFT JOIN (
            SELECT sub, code, list(CAST(floor(s * $KM_G.0 / n) AS BIGINT) ORDER BY dd) AS m
            FROM (SELECT sub, code, g.dd AS dd, CAST(sum(sp[g.dd]) AS BIGINT) AS s,
                    CAST(count(*) AS BIGINT) AS n
                  FROM $a, generate_series(1, 8) g(dd) GROUP BY sub, code, g.dd)
            GROUP BY sub, code) u ON u.sub = $prev.sub AND u.code = $prev.code"""
    s"""WITH pts AS (SELECT vec_id,
            [CAST(floor(CAST(embedding[i] AS DOUBLE) * 4096.0) AS BIGINT)
             for i in generate_series(1, $DIM)] AS p FROM embeddings),
          mem AS (SELECT vec_id, s.sub AS sub,
                    p[s.sub * 8 + 1 : s.sub * 8 + 8] AS sp
                  FROM pts, generate_series(0, ${PQ_SUBS - 1}) s(sub)),
          c0 AS (SELECT sub, CAST(vec_id AS INT) AS code, [x * $KM_G for x in sp] AS m
                 FROM mem WHERE vec_id < $PQ_CODES),
          a1 AS (${assign("c0")}), c1 AS (${update("a1", "c0")}),
          a2 AS (${assign("c1")}), c2 AS (${update("a2", "c1")}),
          a3 AS (${assign("c2")})
        SELECT sub, code, n, m1, m2, s1 FROM (
          SELECT a3.sub AS sub, a3.code AS code,
            CAST(count(*) AS BIGINT) AS n,
            min(c2.m[1]) AS m1, min(c2.m[2]) AS m2,
            CAST(sum(a3.sp[1]) AS BIGINT) AS s1
          FROM a3 JOIN c2 ON c2.sub = a3.sub AND c2.code = a3.code
          GROUP BY a3.sub, a3.code)
        ORDER BY sub, code"""
  }

  /** Oracle twin of [[kmeansLloyd]]: same grids, distances in BIGINT
    * outright, row_number (dist, c) = the CASE cascade's first-min. */
  private def kmeansDistDuck(prev: String) =
    s"list_sum([(p[i]*$KM_G - $prev.m[i])*(p[i]*$KM_G - $prev.m[i]) " +
      s"for i in generate_series(1, $DIM)])"

  /** Shared oracle CTE prefix: quantized pts, init c0, three Lloyd
    * iterations ending at the trained c3 — reused by the e13 gate and
    * the e17 outlier audit. */
  private def kmeansCtesDuck: String = {
    def assign(prev: String) =
      s"""SELECT vec_id, p, c FROM (
            SELECT pts.vec_id, pts.p, $prev.c,
              row_number() OVER (PARTITION BY pts.vec_id
                ORDER BY ${kmeansDistDuck(prev)}, $prev.c) AS rn
            FROM pts, $prev) WHERE rn = 1"""
    def update(a: String, prev: String) =
      s"""SELECT $prev.c AS c, coalesce(u.m, $prev.m) AS m FROM $prev LEFT JOIN (
            SELECT c, list(CAST(floor(s * $KM_G.0 / n) AS BIGINT) ORDER BY d) AS m
            FROM (SELECT c, g.d AS d, CAST(sum(p[g.d]) AS BIGINT) AS s,
                    CAST(count(*) AS BIGINT) AS n
                  FROM $a, generate_series(1, $DIM) g(d) GROUP BY c, g.d)
            GROUP BY c) u ON u.c = $prev.c"""
    s"""WITH pts AS (SELECT vec_id,
            [CAST(floor(CAST(embedding[i] AS DOUBLE) * 4096.0) AS BIGINT)
             for i in generate_series(1, $DIM)] AS p FROM embeddings),
          c0 AS (SELECT vec_id AS c, [x * $KM_G for x in p] AS m
                 FROM pts WHERE vec_id < $KM_K),
          a1 AS (${assign("c0")}), c1 AS (${update("a1", "c0")}),
          a2 AS (${assign("c1")}), c2 AS (${update("a2", "c1")}),
          a3 AS (${assign("c2")}), c3 AS (${update("a3", "c2")}),
          a4 AS (${assign("c3")})"""
  }

  private def kmeansOracle: String =
    s"""$kmeansCtesDuck
        SELECT c, CAST(count(*) AS BIGINT) AS n, m1, m2, m3, m4,
          CAST(sum(p1) AS BIGINT) AS s1
        FROM (SELECT a4.c AS c, c3.m[1] AS m1, c3.m[2] AS m2,
                c3.m[3] AS m3, c3.m[4] AS m4, a4.p[1] AS p1
              FROM a4 JOIN c3 ON a4.c = c3.c)
        GROUP BY c, m1, m2, m3, m4 ORDER BY c"""

  /** Brute-force cosine top-3 per query vector (qids < 5): the ANN
    * correctness baseline — query side broadcast, ties broken on rounded
    * sim + id. Shared by e02 and the e12 recall audit. */
  private def bruteTop3(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.where("vec_id < 5")
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .selectExpr("qid", "vec_id",
        s"round(${sparkDot("embedding", "qe")}, 4) AS sim")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("sim").desc, col("vec_id"))))
      .where("rn <= 3")
  }

  /** Two-stage IVF top-3 per query vector (qids < 5): coarse assign via
    * tiny broadcast of per-label centroids, exact fine rank inside the
    * `nprobe` nearest cells (the recall dial every IVF deployment turns
    * — probing 2 cells searches ~2/cells of the corpus). Shared by e07
    * (nprobe=1), the e12 recall audit, and e16 (nprobe=2). */
  /** Coarse IVF stage shared by the whole family (e07/e12/e15/e16): the
    * per-label mean centroid table (rounded so both engines agree),
    * broadcast against the first `maxQid` query vectors; each query keeps
    * its nearest `nprobe` cells by (dot desc, label) row_number — the
    * tie-break the oracles mirror. One tweak here reaches every IVF gate. */
  private def ivfCoarseAssign(e: DataFrame, maxQid: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("p", "x")))
      .groupBy(col("label"), col("p"))
      .agg(round(avg(col("x").cast("double")), 6).as("m"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(p, m))), s -> s.m)").as("cvec"))
    val q = e.where(s"vec_id < $maxQid")
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    q.crossJoin(broadcast(cent))
      .selectExpr("qid", "qe", "label",
        s"round(${sparkDot("qe", "cvec")}, 4) AS cd")
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cd").desc, col("label"))))
      .where(s"rn <= $nprobe").select("qid", "qe", "label")
  }

  /** Build the IVF index as a PERSISTED BUCKETED table keyed on the
    * coarse cell — the index-build half of e18. At 100 TB this is the
    * one-time write that makes every serving join/agg on the cell id
    * exchange-free on the corpus side (the batch-serving case where the
    * query set is too big to broadcast shuffles ONLY the query side);
    * `sortBy(label)` additionally lets sort-merge serving skip the
    * per-task sort. External path under tmp; overwrite = idempotent
    * rebuild. */
  private[graft] def ivfBucketedTable(s: SparkSession, d: String): String = {
    // key table name AND path by the dataset dir (and thereby the JVM's
    // view of it): a fixed name would let interleaved datasets or
    // concurrent suites overwrite each other's build or serve a stale
    // foreign corpus from the shared tmpdir
    val tag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(d))
    val name = s"graft_ivf_cells_$tag"
    val path = s"${System.getProperty("java.io.tmpdir")}/$name"
    graft.sources.Bucketed.writeBucketed(
      emb(s, d).select(col("vec_id"), col("label"), col("embedding")),
      name, "label", 8, Some(path))
    name
  }

  private def ivfTop3(s: SparkSession, d: String, nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, d)
    val assign = ivfCoarseAssign(e, maxQid = 5, nprobe = nprobe)
    // fine: exact top-3 across the probed cells
    assign.join(e, Seq("label"))
      .where("vec_id <> qid")
      .selectExpr("qid", "label", "vec_id",
        s"round(${sparkDot("embedding", "qe")}, 4) AS sim")
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))))
      .where("rn <= 3")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // vector norms — the elemwise/aggregate HOF baseline (≈1.0 everywhere
    // confirms the corpus is L2-normalized)
    "e01_norms" -> ((s, d) =>
      emb(s, d).where("vec_id < 50").selectExpr(
        "vec_id",
        s"round(sqrt(${sparkDot("embedding", "embedding")}), 4) AS norm")
        .orderBy("vec_id")),

    // brute-force cosine top-3 per query vector: the ANN correctness
    // baseline — query side broadcast, ties broken on rounded sim + id
    "e02_knn_bruteforce" -> ((s, d) =>
      bruteTop3(s, d).select("qid", "rn", "vec_id", "sim").orderBy("qid", "rn")),

    // random-hyperplane LSH bucketing — the scale path: one projection
    // pass, bucket histogram shows the partitioning the ANN join would use
    "e03_lsh_buckets" -> ((s, d) =>
      emb(s, d).selectExpr(s"$sparkBucket AS bucket")
        .groupBy("bucket").agg(expr("CAST(count(*) AS BIGINT)").as("n"))
        .orderBy("bucket")),

    // per-label centroids (the IVF coarse quantizer): posexplode + groupBy
    "e04_centroids" -> ((s, d) =>
      emb(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), (col("pos") + 1).as("dim"))
        .agg(round(avg(col("x").cast("double")), 4).as("m"))
        .where("dim <= 8")
        .orderBy("label", "dim")),

    // bucketed ANN: cosine top-pairs within the same LSH bucket — the
    // candidate join is bucket-partitioned AND window-bounded: each vector
    // pairs only with the next WINDOW vectors (by id) in its bucket, so a
    // degenerate bucket of n vectors yields O(n·W) candidates, not O(n²)
    // (the same sorted-neighborhood guard the t06 LSH pipeline uses)
    "e05_ann_bucketed" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // W lead(struct) columns in one window pass replace the rn
      // self-join — one scan of the embeddings, one bucket shuffle; the
      // struct carries the partner's embedding for the exact dot product
      val w = Window.partitionBy("bucket").orderBy("vec_id")
      emb(s, d)
        .selectExpr("vec_id", "embedding", s"$sparkBucket AS bucket")
        .withColumn("nbrs",
          array((1 to WINDOW).map(i => lead(struct(col("vec_id"), col("embedding")), i).over(w)): _*))
        .selectExpr("vec_id AS a", "embedding AS ea", "explode(nbrs) AS nb")
        .where("nb IS NOT NULL")
        .selectExpr("a", "nb.vec_id AS b",
          s"round(${sparkDot("ea", "nb.embedding")}, 4) AS sim")
        .orderBy(col("sim").desc, col("a"), col("b")).limit(20)
    }),

    // IVF search: per-label centroids are the coarse quantizer; each query
    // probes its nearest centroid's cell only, then ranks exactly within
    // it — the two-stage ANN plan (coarse assign = tiny broadcast,
    // fine rank = cell-partitioned join, never a full scan per query)
    "e07_ivf_search" -> ((s, d) =>
      ivfTop3(s, d).select("qid", "label", "rn", "vec_id", "sim")
        .orderBy("qid", "rn")),

    // IVF INDEX BUILD + serve from the persisted bucketed table: the
    // lifecycle e07 skips — write the corpus once, hash-bucketed +
    // sorted on the coarse cell, then serve against the table scan.
    // Same results as e07 (the oracle replays e07's SQL); what changes
    // is the 100 TB story: the corpus side of every serving join/agg on
    // the cell id is exchange-free (BucketingSpec asserts single-probe
    // serving plans exactly ONE exchange — the probe side — with
    // broadcast disabled, and cell-stat aggs plan zero)
    "e18_ivf_bucketed" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = s.table(ivfBucketedTable(s, d))
      val assign = ivfCoarseAssign(emb(s, d), maxQid = 5, nprobe = 1)
      assign.join(cells, Seq("label"))
        .where("vec_id <> qid")
        .selectExpr("qid", "label", "vec_id",
          s"round(${sparkDot("embedding", "qe")}, 4) AS sim")
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))))
        .where("rn <= 3")
        .select("qid", "label", "rn", "vec_id", "sim")
        .orderBy("qid", "rn")
    }),

    // recall@3 audit of the IVF index against the brute-force baseline —
    // the quality dial every ANN deployment watches. Both sides are
    // deterministic, so the measurement itself sits under the exact
    // oracle gate; at scale it runs on a fixed query SAMPLE, so cost is
    // O(sample · corpus) for the baseline and O(sample · cell) for IVF
    "e12_ann_recall" -> ((s, d) => {
      val bf = bruteTop3(s, d).select("qid", "vec_id")
      val ivf = ivfTop3(s, d).select("qid", "vec_id").withColumn("hit", lit(1))
      bf.join(ivf, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("bigint").as("hits"))
        .selectExpr("qid", "hits", "round(CAST(hits AS DOUBLE) / 3, 4) AS recall")
        .orderBy("qid")
    }),

    // product quantization (the 100 TB ANN memory-compression tool —
    // beyond the reference, like IVF): 64 dims → 8 subvectors × 16-code
    // deterministic codebooks; per subvector each vector takes the
    // argmin-distance code (ascending-dim accumulation on both engines, so
    // distances are bit-identical and argmin is exact). Output: the
    // (sub, code) histogram — the codebook balance a PQ index lives on.
    // One narrow pass + one bin-bounded groupBy; codes are 4 bits, so the
    // whole corpus compresses 64 floats → 8 nibbles
    "e08_pq_codes" -> ((s, d) =>
      pqCodesDF(s, d)
        .selectExpr(s"stack(8, ${(0 until 8).map(x => s"$x, c$x").mkString(", ")}) AS (sub, code)")
        .groupBy("sub", "code").agg(expr("CAST(count(*) AS BIGINT)").as("cnt"))
        .orderBy("sub", "code")),

    // renormalization (the embedding-hygiene step every ingest pipeline
    // runs): scale each vector to unit L2 — a real array-in/array-out
    // transform — then verify by recomputing the norm of the NEW array;
    // per-element division + in-order summation are identical IEEE ops
    // on both engines, so round(·, 6) is pure safety margin
    "e10_renormalize" -> ((s, d) =>
      emb(s, d).where("vec_id < 200")
        .selectExpr("vec_id",
          s"transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(${sparkDot("embedding", "embedding")})) AS ne")
        .selectExpr("vec_id",
          "round(sqrt(aggregate(zip_with(ne, ne, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, z) -> acc + z)), 6) AS nrm")
        .orderBy("vec_id")),

    // SemDeDup (semantic near-dup removal): cluster cells = the coarse
    // `label` assignment, then pairwise cosine INSIDE each cell only; a
    // vector is a near-dup if an earlier same-cell vector sits above the
    // threshold. The pair generator is an equi-join on the cell id — pair
    // work is O(Σ|cell|²) with |cell| ≈ n/k held constant by scaling the
    // cluster count k with n (how SemDeDup is deployed); never a cross
    // join. Vectors are L2-normalized, so cosine = the codegen'd dot.
    "e11_semdedup" -> ((s, d) => {
      val e = emb(s, d).select("vec_id", "label", "embedding")
      val a = e.selectExpr("label", "vec_id AS aid", "embedding AS ae")
      val b = e.selectExpr("label", "vec_id AS bid", "embedding AS be")
      val dup = a.join(b, "label").where("aid < bid")
        .where(expr(s"${sparkDot("ae", "be")} >= 0.3"))
        .select("label", "bid").distinct()
      e.groupBy("label").agg(count(lit(1)).as("n"))
        .join(dup.groupBy("label").agg(count(lit(1)).as("n_dup")), Seq("label"), "left")
        .selectExpr("label", "CAST(n AS BIGINT) AS n",
          "CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup",
          "CAST(n - coalesce(n_dup, 0) AS BIGINT) AS kept")
        .orderBy("label")
    }),

    // PQ asymmetric-distance search (ADC): queries score against the
    // 8-nibble codes via per-subvector lookup — dot(q_sub, codebook[code])
    // summed over subs. At 100 TB the scan side touches ONLY the codes
    // (16x smaller than floats); the lookup table is a broadcast literal.
    // Top-3 per query by approximate similarity, ids ascending on ties
    "e09_pq_adc" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val codes = pqCodesDF(s, d)
      val q = emb(s, d).where("vec_id < 3")
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      // ADC score: Σ_sub dot(q_sub, w(sub, code_sub)) — the code picks the
      // codebook row, the q-side dot folds dims ascending (exact both sides)
      val score = adcScoreSql
      codes.join(broadcast(q), col("vec_id") =!= col("qid"))
        .selectExpr("qid", "vec_id", s"round($score, 4) AS adc")
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("adc").desc, col("vec_id"))))
        .where("rn <= 3")
        .select("qid", "rn", "vec_id", "adc").orderBy("qid", "rn")
    }),

    // IVF-PQ search — the composed index every large ANN deployment
    // actually runs (FAISS IVFPQ): coarse-probe the nearest label cell
    // (tiny broadcast centroid table, e07's stage), then rank INSIDE the
    // probed cell by PQ asymmetric distance over the 8-nibble codes
    // (e09's stage) — at 100 TB the fine stage touches only the probed
    // cell's codes: ~1/cells of the corpus at 16× compression, and the
    // scan side never loads a float vector. Deterministic end to end, so
    // the composition sits under the exact oracle gate like its parts
    "e15_ivfpq_search" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val assign = ivfCoarseAssign(e, maxQid = 3, nprobe = 1)
      // fine rank: ADC over the probed cell's codes only
      val codes = pqCodesDF(s, d)
        .join(e.select("vec_id", "label"), "vec_id")
      val score = adcScoreSql
      codes.join(broadcast(assign), Seq("label"))
        .where("vec_id <> qid")
        .selectExpr("qid", "label", "vec_id", s"round($score, 4) AS adc")
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("adc").desc, col("vec_id"))))
        .where("rn <= 3")
        .select("qid", "label", "rn", "vec_id", "adc").orderBy("qid", "rn")
    }),

    // IVF-PQ + EXACT REFINE (the FAISS IVFPQR shape, completing the ANN
    // accuracy ladder e07 → e15 → here): the ADC pass is a cheap
    // 16×-compressed scorer whose quantization error can reorder close
    // neighbors — so rank a WIDE shortlist (top-8) with ADC inside the
    // probed cell, then re-rank just those 8 with the EXACT dot product
    // on their true float vectors and keep the top-3. At 100 TB the
    // refine stage touches 8 full vectors per query — the corpus-wide
    // scan stays compressed, and the shortlist (rows × (qid, vec_id))
    // broadcasts back against the corpus for the single fetch join.
    "e19_ivfpq_refine" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val assign = ivfCoarseAssign(e, maxQid = 3, nprobe = 1)
      val codes = pqCodesDF(s, d)
        .join(e.select("vec_id", "label"), "vec_id")
      val short = codes.join(broadcast(assign), Seq("label"))
        .where("vec_id <> qid")
        .selectExpr("qid", "qe", "vec_id",
          s"round($adcScoreSql, 4) AS adc")
        .withColumn("arn", row_number().over(
          Window.partitionBy("qid").orderBy(col("adc").desc, col("vec_id"))))
        .where("arn <= 8")
        .select("qid", "qe", "vec_id")
      e.selectExpr("vec_id", "embedding AS ce")
        .join(broadcast(short), Seq("vec_id"))
        .selectExpr("qid", "vec_id",
          s"round(${sparkDot("qe", "ce")}, 4) AS sim")
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))))
        .where("rn <= 3")
        .select("qid", "rn", "vec_id", "sim").orderBy("qid", "rn")
    }),

    // cosine top-pairs within a label block (IVF-style blocking), window-
    // bounded like e05: per-label sorted neighborhood caps pair generation
    // at O(n·W) per label — an unbounded within-label all-pairs is O(n²)
    // at fixed label cardinality and would not survive 100 TB
    "e06_label_topk_pairs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // same one-pass lead(struct) neighborhood as e05, label-partitioned
      val w = Window.partitionBy("label").orderBy("vec_id")
      emb(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
        .withColumn("nbrs",
          array((1 to WINDOW).map(i => lead(struct(col("vec_id"), col("embedding")), i).over(w)): _*))
        .selectExpr("label", "vec_id AS a", "embedding AS ea", "explode(nbrs) AS nb")
        .where("nb IS NOT NULL")
        .selectExpr("label", "a", "nb.vec_id AS b",
          s"round(${sparkDot("ea", "nb.embedding")}, 4) AS sim")
        .orderBy(col("sim").desc, col("a"), col("b")).limit(10)
    }),

    // distributed k-means (Lloyd): 3 broadcast-centroid scoring passes +
    // exact-integer centroid updates + a final assignment — the coarse
    // quantizer TRAINING step the IVF/SemDeDup queries consume. See
    // [[kmeansLloyd]] for the 100 TB shape (O(k·d·iters) driver traffic,
    // one scan + one partial-agg shuffle per iteration)
    "e13_kmeans_lloyd" -> ((s, d) => kmeansLloyd(s, d)),

    // multi-probe IVF recall audit — the recall dial turned one notch:
    // probing the 2 nearest cells searches ~2/cells of the corpus and
    // its recall@3 must dominate e12's single-probe readings row for
    // row. Both sides deterministic, so the measurement itself sits
    // under the exact oracle gate
    "e16_ivf_multiprobe" -> ((s, d) => {
      val bf = bruteTop3(s, d).select("qid", "vec_id")
      val ivf = ivfTop3(s, d, nprobe = 2).select("qid", "vec_id")
        .withColumn("hit", lit(1))
      bf.join(ivf, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("bigint").as("hits"))
        .selectExpr("qid", "hits", "round(CAST(hits AS DOUBLE) / 3, 4) AS recall")
        .orderBy("qid")
    }),

    // PQ codebook TRAINING: 8 per-subspace k-means trained together —
    // per iteration ONE scan (128 centroid-literal scores, 8 cascades)
    // + ONE (sub, code)-keyed partial-agg shuffle; driver traffic
    // O(subs·codes·dims·iters). Completes the PQ lifecycle around
    // e08 (encode) and e09 (ADC search). See [[pqTrain]].
    "e14_pq_train" -> ((s, d) => pqTrain(s, d)),

    // embedding OUTLIER audit: top-10 points by exact distance to their
    // nearest trained centroid — the curation companion of SemDeDup
    // (see [[kmeansOutliers]]; one extra scoring scan over the trained
    // model, no new shuffle shape)
    "e17_outliers" -> ((s, d) => kmeansOutliers(s, d, 10)),
  )

  /** Oracle twin of [[bruteTop3]] (no trailing ORDER BY — also used as a
    * CTE body in the e12 recall audit). */
  private val duckBruteTop3 =
    s"""SELECT q.vec_id AS qid,
          CAST(row_number() OVER (PARTITION BY q.vec_id
            ORDER BY round(${duckDot("e.embedding", "q.embedding")}, 4) DESC, e.vec_id) AS INT) AS rn,
          e.vec_id AS vec_id,
          round(${duckDot("e.embedding", "q.embedding")}, 4) AS sim
        FROM embeddings e, embeddings q
        WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
        QUALIFY rn <= 3"""

  /** Oracle twin of [[ivfTop3]] (no trailing ORDER BY — also an e12 CTE). */
  private def duckIvfTop3(nprobe: Int = 1): String =
    s"""WITH cent AS (
          SELECT label, list(m ORDER BY p) AS cvec FROM (
            SELECT label, g.p AS p, round(avg(CAST(embedding[g.p] AS DOUBLE)), 6) AS m
            FROM embeddings, generate_series(1, $DIM) g(p) GROUP BY 1, 2)
          GROUP BY label),
        q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        assign AS (
          SELECT qid, qe, label FROM (
            SELECT q.qid, q.qe, cent.label,
              row_number() OVER (PARTITION BY q.qid ORDER BY
                round(CAST(list_sum([CAST(q.qe[i] AS DOUBLE) * cvec[i]
                  for i in generate_series(1, $DIM)]) AS DOUBLE), 4) DESC,
                cent.label) AS rn
            FROM q, cent) WHERE rn <= $nprobe)
        SELECT qid, label, CAST(rn AS INT) AS rn, vec_id, sim FROM (
          SELECT a.qid, a.label, e.vec_id,
            round(${duckDot("e.embedding", "a.qe")}, 4) AS sim,
            row_number() OVER (PARTITION BY a.qid ORDER BY
              round(${duckDot("e.embedding", "a.qe")}, 4) DESC, e.vec_id) AS rn
          FROM assign a JOIN embeddings e ON e.label = a.label
          WHERE e.vec_id <> a.qid)
        WHERE rn <= 3"""

  val oracles: Map[String, String] = Map(
    "e01_norms" ->
      s"""SELECT vec_id, round(sqrt(${duckDot("embedding", "embedding")}), 4) AS norm
          FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""",

    "e02_knn_bruteforce" -> s"$duckBruteTop3 ORDER BY qid, rn",

    "e03_lsh_buckets" ->
      s"""SELECT $duckBucket AS bucket, CAST(count(*) AS BIGINT) AS n
          FROM embeddings GROUP BY 1 ORDER BY bucket""",

    "e04_centroids" ->
      s"""SELECT label, g.d AS dim, round(avg(CAST(embedding[g.d] AS DOUBLE)), 4) AS m
          FROM embeddings, generate_series(1, 8) g(d)
          GROUP BY 1, 2 ORDER BY label, dim""",

    "e05_ann_bucketed" ->
      s"""WITH b AS (SELECT vec_id, embedding, $duckBucket AS bucket,
            row_number() OVER (PARTITION BY $duckBucket ORDER BY vec_id) AS rn
          FROM embeddings)
          SELECT x.vec_id AS a, y.vec_id AS b,
            round(${duckDot("x.embedding", "y.embedding")}, 4) AS sim
          FROM b x JOIN b y ON x.bucket = y.bucket
            AND y.rn > x.rn AND y.rn <= x.rn + $WINDOW
          ORDER BY sim DESC, a, b LIMIT 20""",

    "e07_ivf_search" -> s"${duckIvfTop3()} ORDER BY qid, rn",

    // identical results to e07 — the bucketed build changes the plan,
    // not the math
    "e18_ivf_bucketed" -> s"${duckIvfTop3()} ORDER BY qid, rn",

    "e12_ann_recall" ->
      s"""WITH bf AS ($duckBruteTop3),
          ivf AS (${duckIvfTop3()})
          SELECT bf.qid AS qid, CAST(count(ivf.vec_id) AS BIGINT) AS hits,
            round(count(ivf.vec_id) / 3.0, 4) AS recall
          FROM bf LEFT JOIN ivf ON bf.qid = ivf.qid AND bf.vec_id = ivf.vec_id
          GROUP BY bf.qid ORDER BY qid""",

    "e10_renormalize" ->
      s"""SELECT vec_id, round(sqrt(CAST(list_sum([ne[i] * ne[i]
            for i in generate_series(1, $DIM)]) AS DOUBLE)), 6) AS nrm
          FROM (SELECT vec_id,
            [CAST(embedding[i] AS DOUBLE) / sqrt(${duckDot("embedding", "embedding")})
             for i in generate_series(1, $DIM)] AS ne
            FROM embeddings WHERE vec_id < 200)
          ORDER BY vec_id""",

    "e11_semdedup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
          dup AS (SELECT DISTINCT a.label AS label, b.vec_id AS bid
                  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
                  WHERE ${duckDot("a.embedding", "b.embedding")} >= 0.3),
          t AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY label),
          dc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_dup FROM dup GROUP BY label)
          SELECT t.label AS label, t.n, CAST(coalesce(dc.n_dup, 0) AS BIGINT) AS n_dup,
            CAST(t.n - coalesce(dc.n_dup, 0) AS BIGINT) AS kept
          FROM t LEFT JOIN dc ON t.label = dc.label
          ORDER BY t.label""",

    "e09_pq_adc" -> {
      val score = (0 until 8).map(sub =>
        s"CAST(list_sum([CAST(qe[$sub * 8 + d + 1] AS DOUBLE) * ${pqW(sub, s"c$sub", "d")} " +
          s"for d in generate_series(0, 7)]) AS DOUBLE)")
        .mkString("(", " + ", ")")
      s"""WITH codes AS (
            SELECT vec_id, ${(0 until 8).map(sub => s"${pqCodeDuck(sub)} AS c$sub").mkString(", ")}
            FROM embeddings),
          q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3)
          SELECT qid, CAST(rn AS INT) AS rn, vec_id, adc FROM (
            SELECT q.qid, codes.vec_id, round($score, 4) AS adc,
              row_number() OVER (PARTITION BY q.qid
                ORDER BY round($score, 4) DESC, codes.vec_id) AS rn
            FROM codes, q WHERE codes.vec_id <> q.qid)
          WHERE rn <= 3 ORDER BY qid, rn"""
    },

    "e08_pq_codes" ->
      s"""SELECT sub, code, CAST(count(*) AS BIGINT) AS cnt FROM (
          ${(0 until 8).map(sub =>
            s"SELECT $sub AS sub, ${pqCodeDuck(sub)} AS code FROM embeddings")
            .mkString("\n UNION ALL ")})
          GROUP BY 1, 2 ORDER BY sub, code""",

    "e06_label_topk_pairs" ->
      s"""WITH e AS (SELECT vec_id, embedding, label,
            row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
          FROM embeddings)
          SELECT x.label AS label, x.vec_id AS a, y.vec_id AS b,
            round(${duckDot("x.embedding", "y.embedding")}, 4) AS sim
          FROM e x JOIN e y ON x.label = y.label
            AND y.rn > x.rn AND y.rn <= x.rn + $WINDOW
          ORDER BY sim DESC, a, b LIMIT 10""",

    "e13_kmeans_lloyd" -> kmeansOracle,

    "e14_pq_train" -> pqTrainOracle,

    "e17_outliers" ->
      s"""$kmeansCtesDuck
          SELECT vec_id, CAST(min(${kmeansDistDuck("c3")}) AS BIGINT) AS dist
          FROM pts, c3 GROUP BY vec_id
          ORDER BY dist DESC, vec_id LIMIT 10""",

    "e16_ivf_multiprobe" ->
      s"""WITH bf AS ($duckBruteTop3),
          ivf AS (${duckIvfTop3(2)})
          SELECT bf.qid AS qid, CAST(count(ivf.vec_id) AS BIGINT) AS hits,
            round(count(ivf.vec_id) / 3.0, 4) AS recall
          FROM bf LEFT JOIN ivf ON bf.qid = ivf.qid AND bf.vec_id = ivf.vec_id
          GROUP BY bf.qid ORDER BY qid""",

    "e15_ivfpq_search" -> {
      val score = (0 until 8).map(sub =>
        s"""CAST(list_sum([CAST(qe[$sub * 8 + d + 1] AS DOUBLE) * ${pqW(sub, s"c$sub", "d")}
            for d in generate_series(0, 7)]) AS DOUBLE)""")
        .mkString("(", " + ", ")")
      s"""WITH cent AS (
            SELECT label, list(m ORDER BY p) AS cvec FROM (
              SELECT label, g.p AS p, round(avg(CAST(embedding[g.p] AS DOUBLE)), 6) AS m
              FROM embeddings, generate_series(1, $DIM) g(p) GROUP BY 1, 2)
            GROUP BY label),
          q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
          assign AS (
            SELECT qid, qe, label FROM (
              SELECT q.qid, q.qe, cent.label,
                row_number() OVER (PARTITION BY q.qid ORDER BY
                  round(CAST(list_sum([CAST(q.qe[i] AS DOUBLE) * cvec[i]
                    for i in generate_series(1, $DIM)]) AS DOUBLE), 4) DESC,
                  cent.label) AS rn
              FROM q, cent) WHERE rn = 1),
          codes AS (
            SELECT vec_id, label,
              ${(0 until 8).map(sub => s"${pqCodeDuck(sub)} AS c$sub").mkString(", ")}
            FROM embeddings)
          SELECT qid, label, CAST(rn AS INT) AS rn, vec_id, adc FROM (
            SELECT a.qid, a.label, codes.vec_id, round($score, 4) AS adc,
              row_number() OVER (PARTITION BY a.qid
                ORDER BY round($score, 4) DESC, codes.vec_id) AS rn
            FROM codes JOIN assign a ON codes.label = a.label
            WHERE codes.vec_id <> a.qid)
          WHERE rn <= 3 ORDER BY qid, rn"""
    },

    // e15's CTE chain widened to an ADC top-8 shortlist, then the exact
    // refine: true-vector dot on just those rows, top-3
    "e19_ivfpq_refine" -> {
      val score = (0 until 8).map(sub =>
        s"""CAST(list_sum([CAST(qe[$sub * 8 + d + 1] AS DOUBLE) * ${pqW(sub, s"c$sub", "d")}
            for d in generate_series(0, 7)]) AS DOUBLE)""")
        .mkString("(", " + ", ")")
      s"""WITH cent AS (
            SELECT label, list(m ORDER BY p) AS cvec FROM (
              SELECT label, g.p AS p, round(avg(CAST(embedding[g.p] AS DOUBLE)), 6) AS m
              FROM embeddings, generate_series(1, $DIM) g(p) GROUP BY 1, 2)
            GROUP BY label),
          q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
          assign AS (
            SELECT qid, qe, label FROM (
              SELECT q.qid, q.qe, cent.label,
                row_number() OVER (PARTITION BY q.qid ORDER BY
                  round(CAST(list_sum([CAST(q.qe[i] AS DOUBLE) * cvec[i]
                    for i in generate_series(1, $DIM)]) AS DOUBLE), 4) DESC,
                  cent.label) AS rn
              FROM q, cent) WHERE rn = 1),
          codes AS (
            SELECT vec_id, label,
              ${(0 until 8).map(sub => s"${pqCodeDuck(sub)} AS c$sub").mkString(", ")}
            FROM embeddings),
          short AS (
            SELECT qid, qe, vec_id FROM (
              SELECT a.qid, a.qe, codes.vec_id,
                row_number() OVER (PARTITION BY a.qid
                  ORDER BY round($score, 4) DESC, codes.vec_id) AS arn
              FROM codes JOIN assign a ON codes.label = a.label
              WHERE codes.vec_id <> a.qid)
            WHERE arn <= 8)
          SELECT qid, CAST(rn AS INT) AS rn, vec_id, sim FROM (
            SELECT short.qid, short.vec_id,
              round(${duckDot("short.qe", "e.embedding")}, 4) AS sim,
              row_number() OVER (PARTITION BY short.qid
                ORDER BY round(${duckDot("short.qe", "e.embedding")}, 4) DESC,
                  short.vec_id) AS rn
            FROM short JOIN embeddings e ON e.vec_id = short.vec_id)
          WHERE rn <= 3 ORDER BY qid, rn"""
    },
  )
}
