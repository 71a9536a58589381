package graft.expr

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.Tables

/** Evaluation context: a session plus the scale-factor directory holding the
  * parquet tables (see /root/repo/TESTDATA.md). */
final case class Ctx(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")
}

/** Lazy 1-d array expression — the element-table realization of the
  * reference's `ArrayExpr` (reference `dask_array/_expr.py:74`): nodes are
  * content-addressed (deterministic `name`, reference
  * `.ai-docs/testing.md` "Why `._name` Comparison?"), metadata is derived
  * without executing, and `eval` emits a DataFrame with schema
  * `(idx BIGINT, v DOUBLE)` — the "element table" of SURVEY.md §1.5.
  *
  * Scalar kernels are carried as Spark SQL fragments over `v`/`v1`/`v2`/`idx`
  * rather than opaque closures, so they stay hashable (content addressing),
  * printable (`pprint`), fusable by substitution (the analogue of blockwise
  * fusion, reference `dask_array/_blockwise.py:1405-1573`), and — critically —
  * fully visible to Catalyst: every elemwise chain compiles to native column
  * expressions inside WholeStageCodegen, never a Scala closure.
  */
sealed trait VecExpr {
  def children: Seq[VecExpr]

  /** The same node over `f` of each child — the one child rebuild every
    * rewrite goes through ([[Simplify]]); abstract, so a new node cannot
    * be skipped by it. */
  def mapChildren(f: VecExpr => VecExpr): VecExpr

  /** Operation token incl. parameters — the content-addressing payload. */
  def token: String

  /** Deterministic content hash; identical expressions get identical names
    * (reference `SingletonExpr`, `dask_array/_expr.py:74`). */
  final lazy val name: String = VecExpr.sha(token + children.map(_.name).mkString("(", ",", ")"))

  /** Length if statically known, else -1 (the reference's nan-chunks
    * condition, reference `dask_array/slicing/_bool_index.py:118` — block
    * count known, sizes not; Spark's native state). */
  def length: Long = -1L

  /** Realize as the element table `(idx BIGINT, v DOUBLE)`. */
  def eval(ctx: Ctx): DataFrame

  /** Block-grid size governing every downstream blocked/windowed plan —
    * the element-table analogue of the reference's chunks tuple
    * (`dask_array/_expr.py:221`). Propagates from children; leaves default
    * to [[Blocked.autoChunk]] of their length (B for anything up to B²
    * elements, √n beyond — keeps the carry table bounded at any scale);
    * [[RechunkVec]] overrides. The grid is VIRTUAL: it materializes as
    * `idx DIV chunk` partitioning inside the consuming blocked op, so
    * changing it costs nothing until a blocked op runs — the reference's
    * lazy rechunk-task insertion, minus the extra pass. */
  def chunk: Long = children.headOption.map(_.chunk).getOrElse(Blocked.autoChunk(length))

  /** (min, max) bytes this node moves across partition boundaries — the
    * reference's `transfer_bytes` cost model (`dask_array/_expr.py:241-286`,
    * per-op overrides e.g. `_blockwise.py:147`): narrow ops and pure alias
    * routing cost (0, 0); shuffling ops cost one pass of their input at
    * [[VecExpr.RowBytes]] per element (min 0 when the input may already be
    * partitioned on the key). Unknown lengths propagate as -1 on the max
    * side. Drives [[pprintCost]] and the plan-structural tests. */
  def transferBytes: (Long, Long) = (0L, 0L)

  final def pprint(indent: Int = 0): String =
    (" " * indent) + token + "\n" + children.map(_.pprint(indent + 2)).mkString

  /** Plan display with per-node transfer-cost annotations (reference
    * `pprint` + `chunk_report`, `.ai-docs` §2.14). */
  final def pprintCost(indent: Int = 0): String = {
    val (lo, hi) = transferBytes
    val hiS = if (hi < 0) "?" else hi.toString
    (" " * indent) + f"$token  [moved: $lo..$hiS B]\n" +
      children.map(_.pprintCost(indent + 2)).mkString

  }

  /** The chunk-report data itself — one row per distinct (length, block)
    * layout over the content-addressed DAG: `(len, block, nodes,
    * worstBytes, exampleOp)`, largest modeled layout first. Unknown
    * lengths group under `(-1, -1)` with `worstBytes = -1`. The example
    * op is the first worst-cost node in DFS preorder from the root (the
    * same node the formatted report names). [[chunkReport]] renders these
    * rows; the d01 oracle query re-derives every numeric column from
    * `count(*)` in closed form, so the layout model (autoChunk, RowBytes)
    * is gated against DuckDB, not just spec'd. */
  /** The DAG's distinct nodes in DFS preorder (shared subtrees once,
    * content-addressed by [[name]]) — the walk [[chunkReportRows]],
    * [[chunkReport]] and the [[Diagnostics]] tables all report over. */
  private[expr] def distinctNodes: Seq[VecExpr] = {
    val nodes = scala.collection.mutable.LinkedHashMap[String, VecExpr]()
    def walk(e: VecExpr): Unit =
      if (!nodes.contains(e.name)) { nodes(e.name) = e; e.children.foreach(walk) }
    walk(this)
    nodes.values.toSeq
  }

  private def modeledBytes(e: VecExpr): Long =
    if (e.length < 0) -1L else e.length * VecExpr.RowBytes

  final def chunkReportRows: Seq[(Long, Long, Int, Long, String)] =
    distinctNodes
      .groupBy(e => if (e.length < 0) (-1L, -1L) else (e.length, Blocked.autoChunk(e.length)))
      .toSeq
      .map { case ((len, blk), es) =>
        val worst = es.maxBy(modeledBytes)
        (len, blk, es.size, modeledBytes(worst), VecExpr.opOf(worst))
      }.sortBy(-_._4)

  /** Layout histogram across the expression DAG (reference
    * `chunk_report`, `_diagnostics.py:43`): one line per distinct
    * (length, carry-block) layout — node count, modeled bytes of the
    * layout's largest node, an example op — plus the `limit` largest
    * nodes. Shared subtrees count once (content-addressed [[name]]).
    * Metadata only; nothing computes. Renders [[chunkReportRows]]. */
  final def chunkReport(limit: Int = 8): String = {
    val nodes = distinctNodes
    def sig(len: Long, blk: Long): String =
      if (len < 0) "len=?" else s"len=$len block=$blk"
    val perLayout = chunkReportRows
    val header = s"chunk report: ${nodes.size} array nodes, ${perLayout.size} layouts"
    val layoutLines = perLayout.map { case (len, blk, count, worst, ex) =>
      val b = if (worst < 0) "?" else s"$worst B"
      f"  $count%5d  ${sig(len, blk)}%-32s <= $b%10s  e.g. $ex"
    }
    val largest = nodes.sortBy(e => -modeledBytes(e)).take(limit)
      .map(e => f"  ${if (modeledBytes(e) < 0) "?" else s"${modeledBytes(e)} B"}%12s  ${sig(e.length, if (e.length < 0) -1L else Blocked.autoChunk(e.length))}%-32s  ${VecExpr.opOf(e)}")
    (header +: layoutLines :+ s"largest nodes ($limit):" ).mkString("\n") +
      "\n" + largest.mkString("\n")
  }

  /** Total (min, max) moved bytes over the whole tree. */
  final def totalTransfer: (Long, Long) = {
    val own = transferBytes
    children.map(_.totalTransfer).foldLeft(own) { case ((a, b), (c, d)) =>
      (a + c, if (b < 0 || d < 0) -1L else b + d)
    }
  }
}

object VecExpr {
  /** Bytes per element-table row (idx BIGINT + v DOUBLE). */
  val RowBytes = 16L

  /** Operator name of a node — the token up to its parameter bracket
    * (`cum[sum]` → `cum`). The stable diagnostic identity used by
    * [[VecExpr.chunkReportRows]] / `Diagnostics.exprTableRows`. */
  def opOf(e: VecExpr): String = e.token.takeWhile(_ != '[')

  /** max-side bytes for a full pass over `len` elements (-1 if unknown). */
  def passBytes(len: Long): Long = if (len < 0) -1L else len * RowBytes

  def sha(s: String): String = {
    val d = MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** Textual kernel substitution — elemwise fusion primitive. Replaces the
    * placeholder identifier `what` (whole-word) with `(repl)`. */
  def subst(expr: String, what: String, repl: String): String =
    expr.replaceAll(s"\\b$what\\b", java.util.regex.Matcher.quoteReplacement(s"($repl)"))

  /** Does the kernel reference the positional index? (Gates slice pushdown:
    * pushing a slice below an idx-dependent kernel must rebase `idx`.) */
  def usesIdx(expr: String): Boolean = "\\bidx\\b".r.findFirstIn(expr).isDefined
}

/** Leaf: a numeric column of a parquet table as a 1-d array. `idxSql` is the
  * position expression (a dense key like `event_id`), `valueSql` the payload.
  * `region` is a deferred half-open slice folded into the scan — the
  * reference's slice-fusion-into-FromArray (`dask_array/io/_from_array.py`
  * `_region`, `.ai-docs/io.md`): it becomes a parquet `PushedFilters` range,
  * so culled blocks are never read. */
final case class ColumnVec(
    table: String,
    idxSql: String,
    valueSql: String,
    region: Option[(Long, Long)] = None
) extends VecExpr {
  def children: Seq[VecExpr] = Nil
  def mapChildren(f: VecExpr => VecExpr): VecExpr = this
  def token: String = s"column[$table,$idxSql,$valueSql,$region]"
  /** A scoped region has a statically known length; a bare scan does not
    * (the reference's nan-chunks condition). */
  override def length: Long = region.map { case (lo, hi) => hi - lo }.getOrElse(-1L)
  def eval(ctx: Ctx): DataFrame = {
    val base = ctx.table(table)
    val scoped = region match {
      case Some((lo, hi)) =>
        base.where(s"($idxSql) >= $lo AND ($idxSql) < $hi")
          .selectExpr(s"CAST(($idxSql) - $lo AS BIGINT) AS idx", s"CAST($valueSql AS DOUBLE) AS v")
      case None =>
        base.selectExpr(s"CAST($idxSql AS BIGINT) AS idx", s"CAST($valueSql AS DOUBLE) AS v")
    }
    scoped
  }
}

/** Leaf: a 1-block array from a deferred local computation — `from_delayed`
  * (reference `dask_array/io/_from_delayed.py:15,102`). The thunk is
  * SHIPPED TO THE TASK and evaluated there (`mapPartitions` over a
  * single-row seed range), matching the reference's semantics: a delayed
  * value computes inside the scheduled task, never eagerly on the
  * driver/client. One thunk = one block = one partition; compose several
  * with [[ConcatVec]] (`++`) for a multi-block delayed array, each block
  * evaluating in its own task. Plan identity (CSE/sharing) keys on the
  * THUNK INSTANCE, not the label: two leaves share one evaluation iff
  * they hold the same thunk reference. An earlier scheme keyed on the
  * label alone — two live leaves with equal labels but different thunks
  * silently CSE-merged and one thunk's result was read for both (the
  * silent-wrong-answer foot-gun GraphVec's per-instance ids exist to
  * prevent); the label stays in the token for readable diagnostics. */
final case class DelayedVec(thunk: () => Array[Double], label: String) extends VecExpr {
  def children: Seq[VecExpr] = Nil
  def mapChildren(f: VecExpr => VecExpr): VecExpr = this
  def token: String = s"delayed[$label#${DelayedVec.idOf(thunk)}]"
  def eval(ctx: Ctx): DataFrame = {
    val sp = ctx.spark
    import sp.implicits._
    val f = thunk // stable local so the closure captures the thunk, not `this`
    sp.range(1).coalesce(1).as[Long]
      .mapPartitions(_ => f().iterator.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("idx", "v")
      .selectExpr("idx", "CAST(v AS DOUBLE) AS v")
  }
}

object DelayedVec {
  /** Per-instance id keyed on the thunk reference — same contract and
    * rationale as [[GraphVec.idOf]]: reference identity decides sharing,
    * a monotonic counter (not identityHashCode) makes collisions
    * impossible, and the weak map lets dead thunks age out. */
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[() => Array[Double], java.lang.Long]())
  private def idOf(f: () => Array[Double]): Long =
    ids.computeIfAbsent(f, _ => java.lang.Long.valueOf(seq.incrementAndGet()))
}

/** Leaf: wrap an EXISTING DataFrame as a 1-d array — `from_graph`
  * (reference `dask_array/io/_from_graph.py:12,133`: adopt a
  * foreign/prebuilt task graph as an array). Here the "graph" IS a
  * Catalyst logical plan, so adoption is a projection: `idxSql` must be
  * a dense deterministic position over the frame, `valueSql` the
  * payload. Everything downstream (slicing pushdown, elemwise fusion,
  * reductions) composes onto the wrapped plan and Catalyst optimizes
  * across the boundary — the interop/persist-rebuild use the reference
  * serves with from_graph. */
final case class GraphVec(source: DataFrame, idxSql: String, valueSql: String)
    extends VecExpr {
  def children: Seq[VecExpr] = Nil
  def mapChildren(f: VecExpr => VecExpr): VecExpr = this
  def token: String = s"graph[${GraphVec.idOf(source)},$idxSql,$valueSql]"
  def eval(ctx: Ctx): DataFrame =
    source.selectExpr(s"CAST($idxSql AS BIGINT) AS idx", s"CAST($valueSql AS DOUBLE) AS v")
}

object GraphVec {
  /** Stable per-INSTANCE id for the wrapped frame's content address.
    * identityHashCode is neither unique (2³¹ space, reuse after GC) nor
    * collision-free — two different sources colliding would CSE-merge
    * into ONE node and silently read the wrong frame. A monotonic id
    * keyed by reference identity keeps the contract exact: same instance
    * ⇒ shared node, different instances ⇒ distinct nodes. WeakHashMap
    * (Dataset doesn't override equals, so keys compare by reference)
    * lets unreferenced frames age out; the GraphVec itself strongly
    * holds `source`, so the key outlives every live node. */
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, java.lang.Long]())
  private def idOf(df: DataFrame): Long =
    ids.computeIfAbsent(df, _ => java.lang.Long.valueOf(seq.incrementAndGet()))
}

/** Leaf: arithmetic progression — `arange`/`linspace` (reference
  * `dask_array/creation/_arange.py:16`, `_linspace.py:15`). Realized as
  * `spark.range` (no materialization; Catalyst folds the affine map). */
final case class RangeVec(start: Double, step: Double, n: Long) extends VecExpr {
  def children: Seq[VecExpr] = Nil
  def mapChildren(f: VecExpr => VecExpr): VecExpr = this
  def token: String = s"range[$start,$step,$n]"
  override def length: Long = n
  def eval(ctx: Ctx): DataFrame =
    ctx.spark.range(n).selectExpr("id AS idx", s"CAST($start AS DOUBLE) + CAST(id AS DOUBLE) * CAST($step AS DOUBLE) AS v")
}

/** Unary elemwise projection (reference `Elemwise`,
  * `dask_array/_blockwise.py:837`): SQL kernel over `v` (and optionally
  * `idx`). Chains fuse by substitution in [[Simplify]]. */
final case class MapVec(child: VecExpr, exprSql: String) extends VecExpr {
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"map[$exprSql]"
  override def length: Long = child.length
  def eval(ctx: Ctx): DataFrame =
    child.eval(ctx).selectExpr("idx", s"CAST($exprSql AS DOUBLE) AS v")
}

/** Binary elemwise — blockwise alignment as a co-partitioned equi-join on
  * position (SURVEY §2.6 item 1; reference chunk alignment
  * `dask_array/_expr.py:723-905`). Kernel over `v1`, `v2`. */
final case class ZipVec(left: VecExpr, right: VecExpr, exprSql: String) extends VecExpr {
  def children: Seq[VecExpr] = Seq(left, right)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(left = f(left), right = f(right))
  def token: String = s"zip[$exprSql]"
  override def length: Long = if (left.length >= 0) left.length else right.length
  override def transferBytes: (Long, Long) = {
    val l = VecExpr.passBytes(left.length); val r = VecExpr.passBytes(right.length)
    (0L, if (l < 0 || r < 0) -1L else l + r)
  }
  def eval(ctx: Ctx): DataFrame = {
    val l = left.eval(ctx).withColumnRenamed("v", "v1")
    val r = right.eval(ctx).withColumnRenamed("v", "v2")
    l.join(r, "idx").selectExpr("idx", s"CAST($exprSql AS DOUBLE) AS v")
  }
}

/** Offset self-alignment `out[i] = f(x[i], x[i+offset])` — the fused form
  * of `zip(x[a:b], x[a+off:b+off])` (reference interleaved alignment, the
  * `x + roll(x, k)` case of chunk alignment `dask_array/_expr.py:723`).
  * Where the unfused zip shuffle-JOINS two scans of the same leaf (two
  * exchanges + sort), this plans as ONE union of two projections of one
  * scan + ONE hash aggregation — half the movement, no sort, offset-size
  * independent. Produced only by [[Simplify]]'s offset-zip rule (never
  * user-built). Side presence is encoded with explicit flag columns (not
  * value-NULL sentinels), so NULL-valued positions — a supported leaf
  * state, e.g. a CASE→NULL kernel feeding ffill — survive the join with
  * the same semantics as the unfused [[ZipVec]]. */
final case class ZipOffsetVec(child: VecExpr, offset: Long, exprSql: String) extends VecExpr {
  require(offset > 0, s"offset must be positive, got $offset")
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"zipoffset[$offset,$exprSql]"
  override def length: Long =
    if (child.length >= 0) math.max(child.length - offset, 0) else -1
  override def transferBytes: (Long, Long) =
    (0L, VecExpr.passBytes(child.length)) // one pass — vs ZipVec's two
  def eval(ctx: Ctx): DataFrame = {
    val base = child.eval(ctx)
    val self = base.select(col("idx"), col("v").as("a1"),
      lit(null).cast("double").as("a2"), lit(1).as("p1"), lit(0).as("p2"))
    val part = base.where(col("idx") >= offset)
      .select((col("idx") - offset).as("idx"),
        lit(null).cast("double").as("a1"), col("v").as("a2"),
        lit(0).as("p1"), lit(1).as("p2"))
    self.unionByName(part)
      .groupBy("idx").agg(
        max(col("a1")).as("v1"), max(col("a2")).as("v2"),
        max(col("p1")).as("h1"), max(col("p2")).as("h2"))
      .where(col("h1") === 1 && col("h2") === 1)
      .selectExpr("idx", s"CAST($exprSql AS DOUBLE) AS v")
  }
}

/** Basic slice `x[lo:hi)` with reindexing (reference `SliceSlicesIntegers`,
  * `dask_array/slicing/_basic.py:357`). [[Simplify]] pushes it to the leaves
  * so it prunes at scan time (reference `.ai-docs/optimizations.md`). */
final case class SliceVec(child: VecExpr, lo: Long, hi: Long) extends VecExpr {
  require(lo >= 0 && hi >= lo, s"bad slice [$lo,$hi)")
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"slice[$lo,$hi]"
  override def length: Long = hi - lo
  def eval(ctx: Ctx): DataFrame =
    child.eval(ctx).where(col("idx") >= lo && col("idx") < hi)
      .select((col("idx") - lo).as("idx"), col("v"))
}

/** Stride view `x[::step]` over the child (reference strided basic
  * slicing, `slicing/_basic.py:357` — step slices compose with the
  * bounded slice below, which [[Simplify]] still pushes to the scan):
  * keep every step-th position, reindex densely. Narrow filter +
  * projection, no movement. */
final case class StrideVec(child: VecExpr, step: Long) extends VecExpr {
  require(step > 0, s"step must be positive, got $step")
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"stride[$step]"
  override def length: Long =
    if (child.length >= 0) (child.length + step - 1) / step else -1
  def eval(ctx: Ctx): DataFrame =
    child.eval(ctx).where(col("idx") % step === 0)
      .selectExpr(s"idx DIV $step AS idx", "v") // integer DIV: exact at any Long
}

/** Boolean mask (reference `BooleanIndexFlattened`,
  * `dask_array/slicing/_bool_index.py:118`): value predicate over `v`/`idx`.
  * Keeps original positions (argwhere-style) — the compacting variant is
  * `compact=true`, which is the reference's unknown-chunks case and simply
  * maps to Spark's "row count unknown" native condition. */
final case class FilterVec(child: VecExpr, predSql: String) extends VecExpr {
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"filter[$predSql]"
  def eval(ctx: Ctx): DataFrame = child.eval(ctx).where(predSql)
}

/** Concatenate along the axis (reference `Concatenate`,
  * `dask_array/stacking/_concatenate.py:20`): pure union with an index
  * offset — zero data movement, matching the reference's `transfer_bytes`
  * (0,0) aliasing. Offset is the left length (broadcast scalar when not
  * statically known). */
final case class ConcatVec(left: VecExpr, right: VecExpr) extends VecExpr {
  def children: Seq[VecExpr] = Seq(left, right)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(left = f(left), right = f(right))
  def token: String = "concat"
  override def length: Long =
    if (left.length >= 0 && right.length >= 0) left.length + right.length else -1L
  /** The COARSER of the two sides, not the default head-child grid: a
    * 1-element end-value leaf (diff prepend/append, pad) must not drag a
    * √n-gridded main operand back to the B-sized grid — that would put
    * an n/B-row carry table through one single-partition window at scale,
    * the exact failure [[Blocked.autoChunk]] exists to prevent. */
  override def chunk: Long = math.max(left.chunk, right.chunk)
  def eval(ctx: Ctx): DataFrame = {
    val l = left.eval(ctx)
    val r = right.eval(ctx)
    val shifted =
      if (left.length >= 0) r.select((col("idx") + left.length).as("idx"), col("v"))
      else {
        // an empty left side has max(idx) NULL: its offset is 0, not NULL
        val off = l.agg(max(col("idx")).as("m")).select(coalesce(col("m") + 1, lit(0L)).as("off"))
        r.crossJoin(broadcast(off)).select((col("idx") + col("off")).as("idx"), col("v"))
      }
    l.unionByName(shifted)
  }
}

/** Point assignment `x[i] = val` (reference `SetItem`,
  * `dask_array/slicing/_setitem.py:294`): copy-on-write rewrite; small update
  * sets compile to a `CASE WHEN` chain (broadcast-join semantics without the
  * join). */
final case class SetItemVec(child: VecExpr, updates: Seq[(Long, Double)]) extends VecExpr {
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"setitem[${updates.mkString(";")}]"
  override def length: Long = child.length
  def eval(ctx: Ctx): DataFrame = {
    val cases = updates.map { case (i, x) => s"WHEN idx = $i THEN CAST($x AS DOUBLE)" }.mkString(" ")
    child.eval(ctx).selectExpr("idx", s"CASE $cases ELSE v END AS v")
  }
}

/** Blocked-window helpers: every sequential/windowed operator partitions the
  * element table into blocks of [[B]] positions (`idx DIV B`) and works
  * per-block, exchanging only O(numBlocks) carry rows or O(halo) ghost rows —
  * the reference's per-block-scan + carry-chain plan
  * (`dask_array/reductions/_cumulative.py:100,425-597` and the overlap
  * machinery `dask_array/_overlap.py:70-152`). A global
  * `Window.orderBy(idx)` would collapse 100 TB onto one task; these plans
  * keep the heavy phase partitioned by block and spend the single-partition
  * window only on the numBlocks-row carry table (the reference runs the same
  * carry chain on the driver). This object holds the block grid and the
  * one halo builder and tail; the scans' carry is [[BlockScan]]. */
object Blocked {
  /** Default rows per block. Small enough that sf0.01 testdata (10k rows)
    * already spans multiple blocks — the carry/halo paths are exercised by
    * the correctness gate, not just at scale. Tunable via
    * -Dgraft.block.size; per-expression override via [[RechunkVec]]. */
  val B: Long = sys.props.getOrElse("graft.block.size", "4096").toLong

  /** Length-aware default block: B up to B² elements (every small-scale
    * plan unchanged), then √n — so the per-block scan and the
    * single-partition carry table are each bounded by ~√n rows at ANY
    * length. A fixed 4096 block at 10¹³ elements would put a 2.4-billion-
    * row carry on one task; √n gives ~3.2M-row blocks and a ~3.2M-row
    * carry, both fine for one executor. Unknown lengths (-1) fall back
    * to B. */
  def autoChunk(n: Long): Long =
    if (n <= 0) B else math.max(B, math.ceil(math.sqrt(n.toDouble)).toLong)

  /** Attach the block id for grid size `b`. */
  def withBlk(df: DataFrame, b: Long = B): DataFrame =
    df.withColumn("blk", expr(s"idx DIV $b"))

  /** Own rows (`tblk = blk`) plus ghost copies of each block's edge rows
    * into its neighbors — the halo exchange under `map_overlap`
    * (reference `dask_array/_overlap.py:626`): the last `before` rows of
    * a block go to its successor (`tblk = blk + 1`, the rows a lag
    * reads), the first `after` rows to its predecessor (`tblk = blk - 1`,
    * the rows a lead reads). A grid `b` no larger than the halo is
    * clamped up to halo + 1 rows per block, so each ghost slab reaches
    * one neighbor only; callers read the returned `blk`/`tblk`, never `b`.
    * Pure narrow projections and a union: no shuffle of its own. */
  def withHalo(df: DataFrame, before: Long, after: Long, b: Long): DataFrame = {
    val eb = math.max(b, math.max(before, after) + 1)
    val base = withBlk(df, eb)
    val ghosts =
      (if (before > 0) Seq(base.where(expr(s"idx % $eb >= ${eb - before}"))
        .withColumn("tblk", col("blk") + 1)) else Nil) ++
      (if (after > 0) Seq(base.where(expr(s"idx % $eb < $after AND blk > 0"))
        .withColumn("tblk", col("blk") - 1)) else Nil)
    ghosts.foldLeft(base.withColumn("tblk", col("blk")))(_ unionByName _)
  }

  /** The one halo tail: [[withHalo]], then the columns `cols` builds
    * over the window of each target block in `idx` order (ghosts
    * included), keeping only the block's own rows. `cols` is the whole
    * select list, and must carry `blk` and `tblk` through. */
  def haloWindow(df: DataFrame, before: Long, after: Long, b: Long)(
      cols: WindowSpec => Seq[Column]): DataFrame =
    withHalo(df, before, after, b)
      .select(cols(Window.partitionBy("tblk").orderBy("idx")): _*)
      .where(col("tblk") === col("blk"))

  /** The halo rows' own columns, in the order the stencil tails select. */
  private[expr] val haloKeys: Seq[Column] = Seq(col("idx"), col("blk"), col("tblk"))
}

/** The block-scan op table: every cumulative in the engine — [[CumVec]],
  * [[FfillVec]], [[CumBlellochVec]], `NdArray.cumAxis` and the t15 packing
  * offsets — is one entry of it run through one of two carries. Each op
  * is the reference's two-phase `CumReduction`
  * (`dask_array/reductions/_cumulative.py:100,425-597`): a prefix scan
  * inside each block plus a carry over the totals of the blocks before it.
  *
  * An op gives, per running column ([[BlockScan.Part]]), the aggregate
  * the in-block window and the carry window both apply, the block total,
  * and the combine of two adjacent totals (the Blelloch sweep's step);
  * [[BlockScan.Op.value]] merges the running and carry columns into the
  * output. sum, min and max run one column; prod runs the log-space
  * triple (zero count, negative count, Σ log|v|), so a running product
  * never overflows or underflows before the final `exp`; ffill carries
  * the last non-null value.
  *
  * [[BlockScan.sequential]] runs the carry chain as a window over the
  * strictly preceding blocks of each line; [[CumBlellochVec]] replaces
  * only that chain, with its sweep over the same totals. */
object BlockScan {
  /** One running column: `agg(input)` over the in-block window is named
    * `run`; `total`, aggregated per block, is named `tot`; `agg` of the
    * totals over the carry window is named `carry`; `combine(earlier,
    * later)` folds two adjacent totals. */
  final case class Part(agg: Column => Column, input: Column, total: Column,
                        combine: (Column, Column) => Column,
                        run: String, tot: String, carry: String)

  final case class Op(parts: Seq[Part], merge: (Seq[Column], Seq[Column]) => Column) {
    /** The scanned value from the running columns and the named carry
      * columns (a NULL carry: no earlier block). */
    def value(carries: Seq[String]): Column = merge(parts.map(p => col(p.run)), carries.map(col))
    def value: Column = value(parts.map(_.carry))
  }

  /** The table entry `name` over input column `x` in `order` (ffill's
    * block total is the last non-null `x` in that order). */
  def op(name: String, x: Column = col("v"), order: Column = col("idx")): Op = {
    def one(agg: Column => Column, combine: (Column, Column) => Column, total: Column,
            tot: String = "tot") =
      Seq(Part(agg, x, total, combine, "lv", tot, "c"))
    def plus(a: Column, b: Column): Column = a + b
    name match {
      case "sum" =>
        Op(one(sum, plus, sum(x)), (l, c) => l(0) + coalesce(c(0), lit(0)))
      case "min" | "max" =>
        val (agg, combine): (Column => Column, (Column, Column) => Column) =
          if (name == "min") (min, (a, b) => least(a, b)) else (max, (a, b) => greatest(a, b))
        Op(one(agg, combine, agg(x)),
          (l, c) => when(c(0).isNull, l(0)).otherwise(combine(l(0), c(0))))
      case "prod" =>
        def counted(s: String, y: Column) = Part(sum, y, sum(y), plus, s"l$s", s"b$s", s"c$s")
        Op(Seq(counted("z", when(x === 0.0, 1).otherwise(0)),
            counted("n", when(x < 0.0, 1).otherwise(0)),
            counted("l", when(x =!= 0.0, log(abs(x))).otherwise(0.0))),
          (l, c) => when(l(0) + coalesce(c(0), lit(0)) > 0, 0.0)
            .otherwise(exp(l(2) + coalesce(c(2), lit(0))) *
              pow(lit(-1.0), (l(1) + coalesce(c(1), lit(0))) % 2)))
      case "ffill" =>
        Op(one(last(_, ignoreNulls = true), (a, b) => coalesce(b, a),
            max_by(x, when(x.isNotNull, order)), tot = "bl"),
          (l, c) => coalesce(l(0), c(0)))
      case other => throw new IllegalArgumentException(s"cum op $other")
    }
  }

  /** `base` plus every part's running column, each over its (`blk`,
    * `lines`) block in `order` — one select, so one Window operator
    * computes them all. */
  def running(base: DataFrame, op: Op, order: Column, lines: Seq[String] = Nil): DataFrame = {
    val inBlock = Window.partitionBy(("blk" +: lines).map(col): _*).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.select(col("*") +: op.parts.map(p => p.agg(p.input).over(inBlock).as(p.run)): _*)
  }

  /** One row per (`blk`, `lines`) block with every part's total. */
  def totals(base: DataFrame, op: Op, lines: Seq[String] = Nil): DataFrame = {
    val ts = op.parts.map(p => p.total.as(p.tot))
    base.groupBy(("blk" +: lines).map(col): _*).agg(ts.head, ts.tail: _*)
  }

  /** The sequential carry: [[running]] joined with every part's `carry`,
    * its `agg` over the totals of the strictly preceding blocks of the
    * same line; callers select [[Op.value]]. The rank is what picks the
    * carry's layout:
    *  - rank 1 (`lines` empty): the carry table has O(numBlocks) rows
    *    (O(√n) under [[Blocked.autoChunk]], the reference's driver-side
    *    chain). Its window is partitioned by a CONSTANT-VALUED,
    *    NON-FOLDABLE key, `pmod(blk, 1)` — 0 on every block id, yet no
    *    rule folds it; a bare literal would be stripped by Spark 4's
    *    `EliminateWindowPartitions`, degrading the window to the
    *    unpartitioned warning path. The table is broadcast back.
    *  - rank N: the carry window is partitioned by the off-axis `lines`,
    *    and the table, which grows with the line count, joins back on
    *    (`blk`, `lines`) without a broadcast. */
  def sequential(base: DataFrame, op: Op, order: Column, lines: Seq[String] = Nil): DataFrame = {
    val keys = "blk" +: lines
    val before = (if (lines.isEmpty) Window.partitionBy(pmod(col("blk"), lit(1)))
                  else Window.partitionBy(lines.map(col): _*))
      .orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    val carry = totals(base, op, lines).select(
      keys.map(col) ++ op.parts.map(p => p.agg(col(p.tot)).over(before).as(p.carry)): _*)
    val local = running(base, op, order, lines)
    if (lines.isEmpty) local.join(broadcast(carry), "blk") else local.join(carry, keys)
  }

  /** The 1-d cumulative `op` of `child` on its block grid. */
  def cumulative(child: VecExpr, op: String, ctx: Ctx): DataFrame = {
    val scan = BlockScan.op(op)
    sequential(Blocked.withBlk(child.eval(ctx), child.chunk), scan, col("idx"))
      .select(col("idx"), scan.value.cast("double").as("v"))
  }
}

/** Explicit chunk-grid change (reference `rechunk`,
  * `dask_array/_rechunk.py:646`): a pure metadata node — `eval` is the
  * child's plan unchanged, and the new grid takes effect inside whichever
  * blocked op consumes it (its `idx DIV chunk` partitioning). This is the
  * element-table form of the reference's lazy rechunk: the data exchange
  * happens once, inside the consumer's shuffle, never as a standalone
  * pass. A zip whose operands sit on different grids joins them on
  * `idx` as they are; blocked ops above it use the left operand's grid. */
final case class RechunkVec(child: VecExpr, newChunk: Long) extends VecExpr {
  require(newChunk > 0, s"chunk must be positive, got $newChunk")
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"rechunk[$newChunk]"
  override def length: Long = child.length
  override def chunk: Long = newChunk
  def eval(ctx: Ctx): DataFrame = child.eval(ctx)
}

/** A blocked scan or halo window over one child (the cumulatives and the
  * `map_overlap` family): as long as the child, and it moves at most one
  * pass of the child across partition boundaries. */
sealed trait BlockedVec extends VecExpr {
  def child: VecExpr
  def children: Seq[VecExpr] = Seq(child)
  override def length: Long = child.length
  override def transferBytes: (Long, Long) = (0L, VecExpr.passBytes(child.length))
}

/** Cumulative scan (reference `CumReduction`,
  * `dask_array/reductions/_cumulative.py:100`): per-block prefix scan
  * (partitioned window) + O(numBlocks) carry table broadcast back — the
  * reference's exact two-phase plan, with Spark's shuffle as the carrier;
  * `op` is any [[BlockScan]] entry. */
final case class CumVec(child: VecExpr, op: String) extends BlockedVec {
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"cum[$op]"
  def eval(ctx: Ctx): DataFrame = BlockScan.cumulative(child, op, ctx)
}

/** Work-efficient parallel cumulative scan — `method="blelloch"` (reference
  * `CumReductionBlelloch`, `dask_array/reductions/_cumulative.py:267` +
  * `crates/.../blelloch.rs`). Same two-phase shape and the same
  * [[BlockScan]] op table as [[CumVec]] (per-block partitioned prefix
  * window + carry broadcast back), but the carry table's
  * own prefix scan is an explicit Blelloch up/down sweep: ceil(log2 B)+
  * rounds of PARTITIONED equi-joins over the O(B)-row block-totals table,
  * with ZERO single-partition windows anywhere in the plan. [[CumVec]]
  * spends one bounded single-partition window on the O(√n) carry table
  * (the reference's sequential carry chain); the Blelloch path removes
  * even that at the cost of log B extra (tiny) rounds — the same trade
  * the reference documents for `method="blelloch"`. Each round is
  * `localCheckpoint`ed, the established iterative-lineage pattern
  * (connected components, Cholesky generations), so the plan stays O(1)
  * per round instead of O(3^rounds).
  *
  * Requires a known child length (the round schedule is planned
  * statically from numBlocks); unknown-length children fall back to the
  * sequential [[CumVec]] plan. */
final case class CumBlellochVec(child: VecExpr, op: String) extends BlockedVec {
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"cumblelloch[$op]"

  /** One sweep round: rows at positions `start, start+s2, start+2·s2, …`
    * are replaced by combine(partner, self) where the partner sits
    * `stride` positions to the left; every other row passes through. The
    * update is an equi-join on a shifted key — shuffle-partitioned by j,
    * never a global window. */
  private def round(p: DataFrame, stride: Long, s2: Long, start: Long,
                    cols: Seq[String], comb: Seq[(Column, Column) => Column]): DataFrame = {
    val sel = col("j") >= start && pmod(col("j") - start, lit(s2)) === 0
    val left = p.select((col("j") + stride).as("j") +: cols.map(c => col(c).as("L_" + c)): _*)
    val updated = p.where(sel).join(left, "j")
      .select(col("j") +: cols.zip(comb).map { case (c, f) => f(col("L_" + c), col(c)).as(c) }: _*)
    p.where(!sel).unionByName(updated).localCheckpoint(true)
  }

  /** Inclusive prefix scan of the m-row totals table following
    * [[CumBlellochVec.schedule]]. */
  private def sweep(p0: DataFrame, m: Long, cols: Seq[String],
                    comb: Seq[(Column, Column) => Column]): DataFrame =
    CumBlellochVec.schedule(m).foldLeft(p0.localCheckpoint(true)) {
      case (p, (stride, s2, start)) => round(p, stride, s2, start, cols, comb)
    }

  def eval(ctx: Ctx): DataFrame = {
    val n = child.length
    if (n < 0) return CumVec(child, op).eval(ctx) // round schedule needs numBlocks
    val b = child.chunk
    val numBlocks = math.max((n + b - 1) / b, 1L)
    val m = numBlocks - 1 // totals of blocks 0..B-2 feed carries of blocks 1..B-1
    val base = Blocked.withBlk(child.eval(ctx), b)
    val scan = BlockScan.op(op)
    // the sweep runs the op table's block totals as DOUBLE columns t0, t1, …
    val ts = scan.parts.indices.map(i => s"t$i")
    val local = BlockScan.running(base, scan, col("idx"))
    def finish(df: DataFrame) = df.select(col("idx"), scan.value(ts).cast("double").as("v"))
    if (numBlocks <= 1)
      return finish(ts.foldLeft(local)((df, c) => df.withColumn(c, lit(null).cast("double"))))
    val p0 = BlockScan.totals(base, scan).where(col("blk") < m).select(col("blk").as("j") +:
      scan.parts.zip(ts).map { case (p, t) => col(p.tot).cast("double").as(t) }: _*)
    val scanned = sweep(p0, m, ts, scan.parts.map(_.combine))
    val carry = scanned.select((col("j") + 1).as("blk") +: ts.map(col): _*)
    finish(local.join(broadcast(carry), Seq("blk"), "left"))
  }
}

object CumBlellochVec {
  /** The Blelloch round schedule as (stride, stride2, start) triples —
    * round r updates positions `start, start+stride2, …` (< m) with
    * their partner `stride` to the left; the reference's exact loop
    * structure (`_cumulative.py:365-396`): upsweep doubling while
    * stride2 ≤ m, downsweep from 2^ceil(log2(m/2)) halving to 1.
    * Pure so the spec can simulate any m against scanLeft. */
  private[graft] def schedule(m: Long): Seq[(Long, Long, Long)] = {
    if (m < 2) return Seq.empty
    val rounds = Seq.newBuilder[(Long, Long, Long)]
    var stride = 1L; var s2 = 2L
    while (s2 <= m) {
      rounds += ((stride, s2, s2 - 1))
      stride = s2; s2 *= 2
    }
    val half = math.max(m / 2, 1L)
    s2 = 1L
    while (s2 < half) s2 *= 2 // 2^ceil(log2(m/2)), floored at 2 below
    s2 = math.max(2L, s2)
    stride = s2 / 2
    while (stride > 0) {
      rounds += ((stride, s2, s2 + stride - 1))
      s2 = stride; stride /= 2
    }
    rounds.result()
  }
}

/** n-th discrete difference (reference `diff`,
  * `dask_array/routines/_diff.py:6`): `v - lag(v, n)` window expr; the
  * overlap exchange the reference performs is Spark's sort boundary. */
final case class DiffVec(child: VecExpr, n: Int) extends BlockedVec {
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"diff[$n]"
  override def length: Long = if (child.length >= 0) math.max(child.length - n, 0) else -1
  def eval(ctx: Ctx): DataFrame = {
    // halo of n ghost rows from the preceding block feeds the lag; windows
    // stay partitioned by block (assumes dense idx, as diff is positional)
    Blocked.haloWindow(child.eval(ctx), n.toLong, 0L, child.chunk)(w =>
        Seq(col("*"), lag(col("v"), n).over(w).as("pv")))
      .where(col("idx") >= n)
      .select((col("idx") - n).as("idx"), (col("v") - col("pv")).as("v"))
  }
}

/** Trailing sliding-window reduction (reference `SlidingWindowReduction`,
  * `dask_array/reductions/_sliding_window.py:405` and the `bottleneck.move_*`
  * `min_count` semantics at `:249`): a row frame
  * `ROWS BETWEEN w-1 PRECEDING AND CURRENT ROW` — Spark evaluates it
  * incrementally, which is the banded plan the reference builds by hand. */
final case class SlidingVec(child: VecExpr, w: Int, op: String, minCount: Int) extends BlockedVec {
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"sliding[$w,$op,$minCount]"
  def eval(ctx: Ctx): DataFrame = {
    // trailing frame fed by a (w-1)-row halo from the preceding block; the
    // banded per-block plan of the reference, with the halo as the band
    val agg = op match {
      case "sum"  => sum(col("v"))
      case "mean" => avg(col("v"))
      case "min"  => min(col("v"))
      case "max"  => max(col("v"))
      case "std"  => stddev_samp(col("v"))
      case other  => throw new IllegalArgumentException(s"sliding op $other")
    }
    Blocked.haloWindow(child.eval(ctx), (w - 1).toLong, 0L, child.chunk) { win =>
        val frame = win.rowsBetween(-(w - 1), Window.currentRow)
        Blocked.haloKeys :+ when(count(col("v")).over(frame) >= minCount, agg.over(frame))
          .cast("double").as("v")
      }.select(col("idx"), col("v"))
  }
}

/** Forward fill of nulls (reference `push`/ffill,
  * `dask_array/_overlap.py:1441`): `last(v, ignoreNulls) OVER (ORDER BY idx)`. */
final case class FfillVec(child: VecExpr) extends BlockedVec {
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = "ffill"
  def eval(ctx: Ctx): DataFrame =
    // per-block ffill (partitioned) + carry = last non-null of any earlier
    // block, ffilled over the tiny per-block summary and broadcast back
    BlockScan.cumulative(child, "ffill", ctx)
}

/** Block-local downsampling (reference `coarsen`,
  * `dask_array/routines/_coarsen.py:42`): reduce over k-sized neighborhoods
  * — `GROUP BY idx div k` + agg, a pure map-side-combinable aggregation. */
final case class CoarsenVec(child: VecExpr, k: Int, op: String) extends VecExpr {
  require(k > 0)
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"coarsen[$k,$op]"
  override def transferBytes: (Long, Long) =
    (0L, VecExpr.passBytes(length)) // map-side combine: only k-fold-reduced rows move
  override def length: Long =
    if (child.length >= 0) (child.length + k - 1) / k else -1
  def eval(ctx: Ctx): DataFrame =
    child.eval(ctx).groupBy((col("idx") / k).cast("long").as("idx"))
      .agg(expr(s"$op(v)").cast("double").as("v"))
}

object VecLen {
  /** Attach the (possibly data-dependent) total length as a broadcast scalar
    * column `n` — the reference's `compute_chunk_sizes` moment
    * (`dask_array/_collection.py:415`), but kept inside the plan: no driver
    * action, just a broadcast of a 1-row aggregate. */
  def withN(df: DataFrame, staticLen: Long): DataFrame =
    if (staticLen >= 0) df.withColumn("n", lit(staticLen))
    else df.crossJoin(broadcast(df.agg((max(col("idx")) + 1).as("n"))))
}

/** Reversed view (reference `flip`, `dask_array/manipulation/_flip.py:10`):
  * pure index remap `i → n-1-i`, no data movement beyond the remap. */
final case class FlipVec(child: VecExpr) extends VecExpr {
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = "flip"
  override def length: Long = child.length
  def eval(ctx: Ctx): DataFrame =
    VecLen.withN(child.eval(ctx), child.length)
      .select((col("n") - 1 - col("idx")).as("idx"), col("v"))
}

/** Circular shift (reference `roll`, `dask_array/manipulation/_roll.py:8`):
  * `out[(i+s) mod n] = in[i]` — an index remap; the reference lowers it to
  * two slices + concat, which is the same exchange. */
final case class RollVec(child: VecExpr, s: Long) extends VecExpr {
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"roll[$s]"
  override def length: Long = child.length
  def eval(ctx: Ctx): DataFrame =
    VecLen.withN(child.eval(ctx), child.length)
      .select(((col("idx") + s + col("n")) % col("n")).as("idx"), col("v"))
}

/** Central-difference gradient (reference `gradient`,
  * `dask_array/routines/_gradient.py:16`): interior `(x[i+1]-x[i-1])/2`,
  * one-sided at the edges — the reference's halo exchange is the window
  * sort boundary here. */
final case class GradientVec(child: VecExpr) extends BlockedVec {
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = "gradient"
  def eval(ctx: Ctx): DataFrame = {
    // bidirectional halo of 1: last row of each block ghosts into the next
    // block, first row into the previous — the stencil's ghost cells
    Blocked.haloWindow(child.eval(ctx), 1L, 1L, child.chunk) { w =>
        val prev = lag(col("v"), 1).over(w)
        val next = lead(col("v"), 1).over(w)
        Blocked.haloKeys :+ when(prev.isNull, next - col("v"))
          .when(next.isNull, col("v") - prev)
          .otherwise((next - prev) / 2.0).as("v")
      }.select(col("idx"), col("v"))
  }
}

/** Generic ±depth stencil — the user-programmable one-axis `map_overlap`
  * body (reference `map_overlap`, `dask_array/_overlap.py:903`): the
  * kernel is a SQL fragment over named taps `v` (center),
  * `v_m1..v_m<depth>` (left neighbors), `v_p1..v_p<depth>` (right
  * neighbors), plus `idx`. Taps that fall off the array ends are NULL;
  * the public `DArray.mapOverlap` composes [[DArray.boundary]] below and
  * a trim slice above so user-visible edges follow the chosen boundary
  * mode instead. Plan shape = [[GradientVec]] generalized: bidirectional
  * ghost slabs of `depth` rows per block edge, windows stay partitioned
  * by block — one scan + one bounded exchange at any scale. */
final case class StencilVec(child: VecExpr, depth: Int, kernelSql: String) extends BlockedVec {
  require(depth >= 1, s"stencil depth must be >= 1, got $depth")
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"stencil[$depth,$kernelSql]"
  def eval(ctx: Ctx): DataFrame = {
    // one select → one Window operator for all 2·depth tap columns
    Blocked.haloWindow(child.eval(ctx), depth.toLong, depth.toLong, child.chunk)(w =>
        (Blocked.haloKeys :+ col("v")) ++ (1 to depth).flatMap(j => Seq(
          lag(col("v"), j).over(w).as(s"v_m$j"),
          lead(col("v"), j).over(w).as(s"v_p$j"))))
      .selectExpr("idx", s"CAST($kernelSql AS DOUBLE) AS v")
  }
}

/** Element repetition (reference `repeat`,
  * `dask_array/creation/_repeat.py:13`): `explode(array_repeat(...))` —
  * a generator with static fan-out, no shuffle. */
final case class RepeatVec(child: VecExpr, k: Int) extends VecExpr {
  require(k > 0)
  def children: Seq[VecExpr] = Seq(child)
  def mapChildren(f: VecExpr => VecExpr): VecExpr = copy(child = f(child))
  def token: String = s"repeat[$k]"
  override def length: Long = if (child.length >= 0) child.length * k else -1
  def eval(ctx: Ctx): DataFrame =
    child.eval(ctx)
      .select(col("idx"), col("v"), explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select((col("idx") * k + col("j")).as("idx"), col("v"))
}
