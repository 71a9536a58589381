package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generalized-ufunc application (reference `apply_gufunc`,
  * `dask_array/_gufunc.py:154` with the signature parser at `:32`):
  * `"(i),(i)->()"`-style signatures where core dimensions are passed whole
  * to an in-core kernel and loop dimensions are mapped over.
  *
  * For the 2-d surface the row axis is the loop dimension and the column
  * axis the core dimension: each operand's rows are densified (sparse
  * element table → zero-filled arrays), aligned on the loop index with an
  * equi-join, and the kernel runs per loop position inside `mapPartitions`
  * — one narrow stage after the alignment join, no driver involvement.
  * Core-dimension consistency is validated against the signature exactly
  * like the reference's `_validate_normalize_axes`.
  */
object GUFunc {

  final case class Sig(ins: Seq[Seq[String]], out: Seq[String])

  /** Parse `"(i),(j)->(i)"`. Empty parens = scalar (no core dims). */
  def parse(s: String): Sig = {
    val Array(l, r) = s.replace(" ", "").split("->", -1)
    def one(x: String): Seq[String] = {
      require(x.startsWith("(") && x.endsWith(")"), s"bad signature part '$x'")
      val inner = x.substring(1, x.length - 1)
      if (inner.isEmpty) Nil else inner.split(",").toSeq
    }
    val ins = l.split("(?<=\\)),(?=\\()").toSeq.map(one)
    Sig(ins, one(r))
  }

  private def checkCoreDims(sig: Sig, ops: Seq[DMatrix]): Map[String, Long] = {
    require(sig.ins.length == ops.length,
      s"signature has ${sig.ins.length} inputs, got ${ops.length} operands")
    val bound = scala.collection.mutable.Map[String, Long]()
    sig.ins.zip(ops).foreach { case (dims, m) =>
      require(dims.length <= 1, "2-d surface supports at most one core dim per operand")
      dims.foreach { d =>
        bound.get(d) match {
          case Some(n) => require(n == m.cols, s"core dim '$d' bound to $n, operand has ${m.cols}")
          case None    => bound(d) = m.cols
        }
      }
    }
    bound.toMap
  }

  /** Densified rows of each operand, aligned on the loop index. Driven
    * from the FULL loop range, not an inner join of present rows: under
    * absent-cells-are-zero semantics an all-zero row has no cells, and an
    * inner join would drop that loop position entirely — wrong for any
    * kernel that maps zero input to nonzero output. Missing rows densify
    * to empty cell lists (→ zero-filled arrays). */
  private def alignedRows(ops: Seq[DMatrix]): DataFrame = {
    val sess = ops.head.df.sparkSession
    val rows = ops.head.rows
    require(ops.forall(_.rows == rows),
      s"loop dimension mismatch: ${ops.map(_.rows).mkString(",")}")
    val base = sess.range(rows).toDF("i")
    ops.zipWithIndex.foldLeft(base) { case (acc, (m, n)) =>
      acc.join(
          m.df.groupBy("i").agg(expr("collect_list(struct(j, v))").as(s"c$n")),
          Seq("i"), "left")
        .withColumn(s"c$n", coalesce(col(s"c$n"),
          expr("CAST(array() AS ARRAY<STRUCT<j: BIGINT, v: DOUBLE>>)")))
    }
  }

  private def densify(cells: Seq[org.apache.spark.sql.Row], k: Int): Array[Double] = {
    val a = new Array[Double](k)
    cells.foreach(r => a(r.getLong(0).toInt) = r.getDouble(1))
    a
  }

  /** Scalar-output gufunc, e.g. `"(i)->()"` or `"(i),(i)->()"`: one double
    * per loop position. Returns the 1-d element table (idx, v). */
  def applyScalar(signature: String, ops: DMatrix*)(
      kernel: Seq[Array[Double]] => Double): DataFrame = {
    val sig = parse(signature)
    require(sig.out.isEmpty, s"'$signature' is not scalar-output")
    checkCoreDims(sig, ops)
    val ks = ops.map(_.cols.toInt)
    val sess = ops.head.df.sparkSession
    import sess.implicits._
    val n = ops.length
    alignedRows(ops).map { row =>
      val i = row.getLong(0)
      val args = (0 until n).map(c => densify(row.getSeq[org.apache.spark.sql.Row](c + 1), ks(c)))
      (i, kernel(args))
    }.toDF("idx", "v")
  }

  /** Vector-output gufunc, e.g. `"(i)->(i)"` or `"(i),(i)->(i)"`: the
    * kernel returns the output core dimension. Returns a [[DMatrix]]. */
  def applyVector(signature: String, ops: DMatrix*)(
      kernel: Seq[Array[Double]] => Array[Double]): DMatrix = {
    val sig = parse(signature)
    require(sig.out.length == 1, s"'$signature' is not vector-output")
    val bound = checkCoreDims(sig, ops)
    val outK = bound.getOrElse(sig.out.head,
      throw new IllegalArgumentException(
        s"output core dim '${sig.out.head}' not bound by any input"))
    val ks = ops.map(_.cols.toInt)
    val sess = ops.head.df.sparkSession
    import sess.implicits._
    val n = ops.length
    val outDF = alignedRows(ops).flatMap { row =>
      val i = row.getLong(0)
      val args = (0 until n).map(c => densify(row.getSeq[org.apache.spark.sql.Row](c + 1), ks(c)))
      val out = kernel(args)
      require(out.length == outK, s"kernel returned ${out.length}, expected $outK")
      out.iterator.zipWithIndex.collect { case (v, j) if v != 0.0 => (i, j.toLong, v) }
    }.toDF("i", "j", "v")
    new DMatrix(outDF, ops.head.rows, outK, dense = false) // zero outputs are dropped
  }
}
