package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst dot product over two array columns — the hot kernel of
  * every embedding operator (brute kNN, LSH projections, ANN ranking,
  * renormalization).
  *
  * Catalyst's higher-order `aggregate`/`zip_with` lambdas are INTERPRETED
  * per element; this expression participates in whole-stage codegen with
  * a primitive `for` loop (`doGenCode`), the preference order the engine
  * follows everywhere: native Expression > typed kernel > HOF > UDF.
  * Semantics match the HOF form exactly: ascending-index fold, every
  * element widened to double — so DuckDB oracles (`list_sum` ascending)
  * keep hash-matching (reference einsum/tensordot contraction kernels,
  * `dask_array/linalg/_tensordot.py:45`; the reference gets this codegen
  * for free from numpy's compiled dot).
  *
  * Accepts float and double arrays on either side (embeddings are
  * `ARRAY<FLOAT>`, derived centroids `ARRAY<DOUBLE>`). Degenerate inputs
  * keep the HOF's NULL semantics exactly: a NULL element on either side
  * or a length mismatch yields NULL (zip_with pads the shorter array
  * with NULLs and `acc + NULL` poisons the fold) — a malformed vector
  * surfaces as NULL instead of a plausible-looking partial similarity.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def okType(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left.dataType) && okType(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot needs array<float|double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val af = isFloat(left); val bf = isFloat(right)
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getA = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $getA * $getB;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session registration for the native expressions (idempotent). */
object GraftFunctions {
  /** SINGLE source of truth for the native-function surface:
    * (name, arity, implementing class, builder). Consumed by BOTH
    * registration routes — [[register]] (embedded, temp functions) and
    * `graft.GraftExtensions` (cluster-wide, `spark.sql.extensions`) — so
    * the two can never diverge (register's idempotence guard keys on the
    * FIRST name existing; a function present on one route but not the
    * other would silently go missing in extension-built sessions). */
  val builders: Seq[(String, Int, Class[_],
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    ("graft_dot", 2, classOf[DotProduct],
      exprs => DotProduct(exprs.head, exprs(1))),
    ("graft_argmin_dot", 2, classOf[ArgminDot],
      exprs => ArgminDot(exprs.head, exprs(1))),
    ("graft_win_hashes", 2, classOf[WinHashes],
      exprs => WinHashes(exprs.head, exprs(1))),
    ("graft_bits", 1, classOf[BitsOf], exprs => BitsOf(exprs.head)),
    ("graft_from_bits", 1, classOf[FromBits], exprs => FromBits(exprs.head)),
    ("graft_bloom_agg", 3,
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1), exprs(2))),
    ("graft_bloom_might", 2,
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1))))

  /** The builder wrapped with its arity check (shared by both routes). */
  def checkedBuilder(name: String, arity: Int,
      build: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression):
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression =
    exprs => {
      require(exprs.length == arity,
        s"$name takes $arity args, got ${exprs.length}")
      build(exprs)
    }

  /** The planner strategies both routes install (the same one-list rule
    * as [[builders]]). */
  val strategies: Seq[org.apache.spark.sql.execution.SparkStrategy] = Seq(graft.SingleTaskSort)

  def register(spark: SparkSession): Unit = {
    strategies.foreach { st =>
      if (!spark.sessionState.planner.strategies.contains(st))
        spark.experimental.extraStrategies = st +: spark.experimental.extraStrategies
    }
    // Skip when already registered: createOrReplaceTempFunction logs a
    // "replaced a previously registered function" WARN per call, and every
    // SparkEntry query calls register, so a 191-query run floods the log.
    if (spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(builders.head._1))) return
    builders.foreach { case (name, arity, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, checkedBuilder(name, arity, build), "built-in")
    }
  }
}
