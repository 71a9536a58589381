package graft.expr

/** Plan diagnostics beyond `pprint`/`pprintCost` — the engine's analogue
  * of the reference's `expr_flow` / `expr_table` / `trace_rewrites`
  * surface (`dask_array/diagnostics/_expr_flow.py:554`,
  * `_diagnostics.py`). Everything here is a pure driver-side walk over the
  * [[VecExpr]] DAG: no job runs, no data moves.
  *
  *  - [[exprTable]]: one row per DISTINCT node (content-addressed, so
  *    shared subtrees appear once with their consumer count) — name
  *    prefix, op token, static length, per-node and subtree transfer
  *    bytes. The reference renders the same columns into its HTML table.
  *  - [[flowDot]]: the DAG as Graphviz DOT with cost-annotated labels —
  *    the data behind the reference's expr_flow SVG, emitted as portable
  *    text (render with any dot binary; none ships in this container).
  *  - [[Simplify.trace]]: the rewrite trail — one entry per fixpoint
  *    round that changed the plan, with the before/after `pprint`.
  */
object Diagnostics {

  /** Consumer counts over the DEDUPLICATED DAG: each distinct parent
    * contributes its child edges exactly once. (Counting on every visit
    * would double-count everything below a shared subtree — the d02
    * oracle gate caught exactly that.) */
  private def consumerCounts(root: VecExpr): Map[String, Int] = {
    val acc = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val seen = scala.collection.mutable.Set[String]()
    def walk(e: VecExpr): Unit =
      if (seen.add(e.name)) {
        e.children.foreach { c => acc(c.name) += 1 }
        e.children.foreach(walk)
      }
    walk(root)
    acc.toMap.withDefaultValue(0)
  }

  /** The expr-table data itself — one row per DISTINCT node in DFS
    * preorder from the root (content-addressed, so a shared subtree
    * appears once): `(op, len, uses, movedLo, movedHi)`. `uses` is the
    * consumer count over the deduplicated DAG; moved bytes are the node's
    * own [[VecExpr.transferBytes]]. [[exprTable]] renders these rows (plus
    * the content-address id column, which has no SQL analogue); the d02
    * oracle query re-derives every numeric column from `count(*)` in
    * closed form, gating the transfer-bytes model and the
    * content-addressed consumer counting against DuckDB. */
  def exprTableRows(root: VecExpr): Seq[(String, Long, Int, Long, Long)] = {
    val consumers = consumerCounts(root)
    root.distinctNodes.map { e =>
      val (lo, hi) = e.transferBytes
      (VecExpr.opOf(e), e.length, consumers(e.name), lo, hi)
    }
  }

  /** Fixed-width text table over the distinct DAG nodes (the reference's
    * `expr_table`): id, op, static length, consumers, own moved bytes. */
  def exprTable(root: VecExpr): String = {
    val consumers = consumerCounts(root)
    val rows = root.distinctNodes.map { e =>
      val (lo, hi) = e.transferBytes
      val hiS = if (hi < 0) "?" else hi.toString
      (e.name.take(8), e.token, if (e.length < 0) "?" else e.length.toString,
        consumers(e.name).toString, s"$lo..$hiS")
    }
    val header = ("id", "op", "len", "uses", "moved B")
    val all = header +: rows
    def w(i: Int) = all.map(r => r.productElement(i).asInstanceOf[String].length).max
    all.map { r =>
      (0 until 5).map(i => r.productElement(i).asInstanceOf[String].padTo(w(i), ' '))
        .mkString("  ")
    }.mkString("\n")
  }

  /** Self-contained SVG of the expression DAG — the reference's expr_flow
    * output format (`_expr_flow.py:554` renders through graphviz; no dot
    * binary ships here, so the layered layout is computed directly):
    * longest-path layering with leaves on the bottom row and the root on
    * top, one box per distinct node (shared subtrees appear once), edges
    * drawn child→parent with arrowheads, cost labels from
    * [[VecExpr.transferBytes]]. Pure text — no rendering dependency. */
  def flowSvg(root: VecExpr): String = {
    val nodes = root.distinctNodes
    val depth = scala.collection.mutable.Map[String, Int]()
    def d(e: VecExpr): Int = depth.getOrElseUpdate(e.name,
      if (e.children.isEmpty) 0 else 1 + e.children.map(d).max)
    nodes.foreach(d)
    val maxLayer = nodes.map(e => depth(e.name)).max
    val byLayer = nodes.groupBy(e => depth(e.name))
    val (bw, bh, hgap, vgap, pad) = (190, 42, 30, 55, 20)
    val cols = byLayer.values.map(_.size).max
    val width = pad * 2 + cols * bw + (cols - 1) * hgap
    val height = pad * 2 + (maxLayer + 1) * bh + maxLayer * vgap
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    // center each layer's row; root layer (maxLayer) at the top
    val pos: Map[String, (Int, Int)] = byLayer.flatMap { case (layer, es) =>
      val rowW = es.size * bw + (es.size - 1) * hgap
      val x0 = (width - rowW) / 2
      es.zipWithIndex.map { case (e, i) =>
        e.name -> (x0 + i * (bw + hgap), pad + (maxLayer - layer) * (bh + vgap))
      }
    }
    val sb = new StringBuilder(
      s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" viewBox="0 0 $width $height">\n""" +
        """  <defs><marker id="arr" markerWidth="8" markerHeight="8" refX="7" refY="3" orient="auto">""" +
        """<path d="M0,0 L7,3 L0,6 z" fill="#555"/></marker></defs>""" + "\n")
    nodes.foreach { e =>
      e.children.foreach { c =>
        val (cx, cy) = pos(c.name); val (px, py) = pos(e.name)
        sb ++= s"""  <line x1="${cx + bw / 2}" y1="$cy" x2="${px + bw / 2}" y2="${py + bh}" stroke="#555" marker-end="url(#arr)"/>\n"""
      }
    }
    nodes.foreach { e =>
      val (x, y) = pos(e.name)
      val (lo, hi) = e.transferBytes
      val hiS = if (hi < 0) "?" else hi.toString
      sb ++= s"""  <rect x="$x" y="$y" width="$bw" height="$bh" rx="4" fill="#f6f8fa" stroke="#333"/>\n"""
      sb ++= s"""  <text x="${x + bw / 2}" y="${y + 17}" font-family="monospace" font-size="11" text-anchor="middle">${esc(e.token.take(28))}</text>\n"""
      sb ++= s"""  <text x="${x + bw / 2}" y="${y + 33}" font-family="monospace" font-size="10" text-anchor="middle" fill="#666">moved $lo..$hiS B</text>\n"""
    }
    sb ++= "</svg>\n"
    sb.result()
  }

  /** Graphviz DOT of the expression DAG with transfer-cost labels (the
    * reference's expr_flow, as text). Shared subtrees collapse to one
    * node because edges key on content names. */
  def flowDot(root: VecExpr): String = {
    val nodes = root.distinctNodes
    val ids = nodes.map(_.name).zipWithIndex.toMap
    val sb = new StringBuilder("digraph exprflow {\n  rankdir=BT;\n")
    nodes.foreach { e =>
      val (lo, hi) = e.transferBytes
      val hiS = if (hi < 0) "?" else hi.toString
      val label = e.token.replace("\\", "\\\\").replace("\"", "\\\"")
      sb ++= s"""  n${ids(e.name)} [shape=box, label="$label\\nmoved $lo..$hiS B"];\n"""
    }
    nodes.foreach { e =>
      e.children.foreach { c =>
        sb ++= s"  n${ids(c.name)} -> n${ids(e.name)};\n"
      }
    }
    sb ++= "}\n"
    sb.result()
  }
}
