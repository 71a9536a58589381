package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** einsum over element-table arrays (reference `dask_array/_einsum.py:181`
  * — notation parser lowering to a single blockwise contraction; here the
  * lowering target is the join+agg plan of [[DMatrix.matmul]]).
  *
  * Supported: any number of operands of any rank, index letters, repeated
  * letters within an operand (diagonal extraction, `"ii->i"`), contraction
  * over any subset (`"ij,jk->ik"`, `"ij,ij->"`, `"ij->j"`), pure
  * permutation (`"ij->ji"`), n-ary chains (`"ij,jk,kl->il"`) and numpy's
  * `...` ellipsis.
  *
  * N-ary plans fold left with EAGER intermediate contraction: after each
  * join, any letter that appears in no remaining operand and not in the
  * output is summed out immediately (groupBy + sum). For a matmul chain
  * this reproduces the pairwise `(A·B)·C` plan — the intermediate stays
  * O(rows·cols), never the O(rows·k·cols) unreduced product — which is
  * the reference's `optimize=True` contraction-ordering win. Shared-letter
  * joins are preferred over cross joins by reordering operands greedily.
  *
  * DISJOINT operands (r10 verdict hardening): when the next operand
  * shares no letter with the accumulator, each side first sums out every
  * letter alive only on itself (valid by distributivity — einsum is a
  * sum of products, and a letter confined to one factor commutes out).
  * `"i,j->"` therefore plans two independent scalar sums joined 1-row ×
  * 1-row — never an n²-row cartesian before the reduce (numpy
  * `optimize=True` performs the same factorization). The same pre-join
  * reduction also shrinks shared-letter joins (`"ij,jk->k"` pre-sums the
  * accumulator over i, joining n rows instead of n²). A genuinely
  * dense outer product (`"i,j->ij"`) has no dead letters and keeps its
  * cross join — that one IS the requested output. EinsumSpec pins the
  * factored plan shape.
  */
object Einsum {

  /** Sum `letters diff (out ∪ remaining ∪ otherSide)` out of one side
    * BEFORE a join: those letters live nowhere else in the expression,
    * so contracting them early is exact and strictly shrinks the join
    * input. Shared letters are in `otherSide` and always survive. */
  private def reduceSide(df: DataFrame, letters: Set[String],
                         out: Set[String], remaining: Set[String],
                         otherSide: Set[String]): (DataFrame, Set[String]) = {
    val dead = letters diff (out union remaining union otherSide)
    if (dead.isEmpty) (df, letters)
    else {
      val keep = (letters diff dead).toSeq.sorted
      val r =
        if (keep.isEmpty) df.agg(sum(col("vr")).as("vr"))
        else df.groupBy(keep.map(col): _*).agg(sum(col("vr")).as("vr"))
      (r, keep.toSet)
    }
  }

  /** The n-ary contraction fold: greedily join shared-letter operands,
    * pre-reduce each side's exclusively-held dead letters, and sum out
    * letters dead to the remaining expression after each merge. */
  private def foldContract(first: (DataFrame, Set[String]),
                           rest: List[(DataFrame, Set[String])],
                           outLetters: Seq[String]): (DataFrame, Set[String]) = {
    val out = outLetters.toSet
    var (acc, accLetters) = first
    var pending = rest
    while (pending.nonEmpty) {
      val idx = pending.indexWhere { case (_, ls) => (ls intersect accLetters).nonEmpty }
      val pick = if (idx >= 0) idx else 0
      val (d0, ls0) = pending(pick)
      pending = pending.patch(pick, Nil, 1)
      val remaining = pending.flatMap(_._2).toSet
      val (accR, accL) = reduceSide(acc, accLetters, out, remaining, ls0)
      val (dR, dL) = reduceSide(d0, ls0, out, remaining, accL)
      val shared = (accL intersect dL).toSeq.sorted
      val joined =
        if (shared.nonEmpty) accR.join(dR.withColumnRenamed("vr", "vn"), shared)
        else accR.crossJoin(dR.withColumnRenamed("vr", "vn"))
      val merged = joined.withColumn("vr", col("vr") * col("vn")).drop("vn")
      var newLetters = accL union dL
      val live = remaining union out
      val dead = (newLetters diff live).toSeq.sorted
      if (dead.nonEmpty && (newLetters diff dead.toSet).nonEmpty) {
        val keep = (newLetters diff dead.toSet).toSeq.sorted
        acc = merged.groupBy(keep.map(col): _*).agg(sum(col("vr")).as("vr"))
        newLetters = keep.toSet
      } else acc = merged
      accLetters = newLetters
    }
    (acc, accLetters)
  }

  /** Final projection: permute to the output letters, or contract what
    * remains into the requested groupBy/scalar. */
  private def finish(acc: DataFrame, accLetters: Set[String],
                     outLetters: Seq[String]): DataFrame = {
    val contracted = accLetters.filterNot(outLetters.contains)
    val product: Column = col("vr")
    if (contracted.isEmpty && outLetters.nonEmpty)
      acc.select(outLetters.map(col) :+ product.as("v"): _*)
    else if (outLetters.isEmpty)
      acc.agg(sum(product).as("v"))
    else
      acc.groupBy(outLetters.map(col): _*)
        .agg(sum(product).as("v"))
  }

  /** einsum over [[DMatrix]] operands: their [[NdArray]] views through
    * [[nd]], so the 2-d path has no plan of its own. */
  def apply(spec: String, ops: DMatrix*): DataFrame = nd(spec, ops.map(_.nd): _*)

  /** numpy ellipsis sugar (reference einsum `...` broadcasting,
    * `dask_array/_einsum.py`): `...` in an operand stands for its
    * unlisted LEADING axes. Fresh letters are allocated once and
    * RIGHT-aligned per operand, so shorter ellipses bind to the trailing
    * batch dims — numpy's alignment rule; the output's `...` receives
    * all of them. Mismatched ellipsis extents fail in the join/shape
    * layer rather than broadcasting silently. */
  private def expandEllipsis(spec: String, ranks: Seq[Int]): String = {
    val Array(lhs, rhs) = spec.split("->", -1)
    val terms = lhs.split(",", -1)
    require(terms.length == ranks.length,
      s"'$spec' names ${terms.length} operands, got ${ranks.length}")
    val counts = terms.toSeq.zip(ranks).map { case (t, r) =>
      if (t.contains("...")) {
        val k = r - t.replace("...", "").length
        require(k >= 0, s"operand spec '$t' lists more axes than its rank $r")
        k
      } else 0
    }
    val maxK = counts.max
    val used = spec.filter(_.isLetter).toSet
    val fresh = ('a' to 'z').filterNot(used.contains).take(maxK).mkString
    require(fresh.length == maxK, "not enough free letters to expand '...'")
    val newTerms = terms.toSeq.zip(counts).map { case (t, k) =>
      t.replace("...", fresh.takeRight(k))
    }
    newTerms.mkString(",") + "->" + rhs.replace("...", fresh)
  }

  /** einsum over [[NdArray]] operands of ANY rank (the reference's einsum
    * is N-dimensional; `"bij,bjk->bik"` is one call, not a special-cased
    * batch op): rename coordinate columns to index letters, fold with
    * shared-letter joins, pre-join dead-letter reduction, and EAGER
    * intermediate contraction — the letter count per operand is its
    * rank. Repeated letters within an operand take the diagonal (equality
    * predicate over the repeated coordinates). Output columns are the
    * `->` letters plus `v`. */
  def nd(spec: String, ops: NdArray*): DataFrame = {
    val cleaned = spec.replace(" ", "")
    // implicit mode (numpy: no '->'): output = '...' (if present) then
    // the letters appearing exactly ONCE across all operands, sorted
    val withArrow =
      if (cleaned.contains("->")) cleaned
      else {
        val letters = cleaned.replace(",", "").replace(".", "")
        val once = letters.groupBy(identity).collect {
          case (c, g) if g.length == 1 => c
        }.toSeq.sorted.mkString
        cleaned + "->" + (if (cleaned.contains("...")) "..." else "") + once
      }
    val expanded =
      if (withArrow.contains("...")) expandEllipsis(withArrow, ops.map(_.rank)) else withArrow
    val Array(lhs, rhs) = expanded.split("->", -1)
    val inSpecs = lhs.split(",").toSeq
    require(inSpecs.length == ops.length, s"$spec expects ${inSpecs.length} operands")
    require(ops.nonEmpty, "einsum needs at least one operand")
    val outLetters = rhs.toSeq.map(_.toString)

    def prep(a: NdArray, letters: String, vName: String): DataFrame = {
      require(letters.length == a.rank,
        s"operand spec '$letters' is rank ${letters.length}, array is rank ${a.rank}")
      val ls = letters.map(_.toString)
      // diagonal collapse: all positions of a repeated letter must agree
      def first(l: String) = a.names(ls.indexOf(l))
      val pred = ls.zipWithIndex.collect {
        case (l, p) if ls.indexOf(l) != p => s"${first(l)} = ${a.names(p)}"
      }.mkString(" AND ")
      val filtered = if (pred.isEmpty) a.df else a.df.where(pred)
      filtered.selectExpr(ls.distinct.map(l => s"${first(l)} AS $l") :+ s"v AS $vName": _*)
    }

    val pending: List[(DataFrame, Set[String])] =
      inSpecs.zip(ops).zipWithIndex.map { case ((ls, a), n) =>
        (prep(a, ls, s"v$n").withColumnRenamed(s"v$n", "vr"),
          ls.distinct.map(_.toString).toSet)
      }.toList

    val (acc, accLetters) = foldContract(pending.head, pending.tail, outLetters)
    finish(acc, accLetters, outLetters)
  }
}
