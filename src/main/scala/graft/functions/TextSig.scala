package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** One-pass in-block text-signature kernel — the engine's "numpy role"
  * (SURVEY §7.3 item 1): a tight JVM loop per document computing the char
  * trigram hash list, its distinct set, 8 minhashes, the 16-bit simhash and
  * the rolling fingerprint together.
  *
  * Semantics are SPECIFIED by the SQL fragments in
  * [[graft.operators.TextQueries]] (the DuckDB oracles run them); this
  * kernel implements the identical integer arithmetic ~50x faster than
  * Catalyst's interpreted higher-order-function lambdas (measured 6-8 s →
  * <0.5 s per signature query at sf0.1). It is a narrow per-partition map:
  * at 100 TB it is one stage over the corpus, no shuffle.
  */
object TextSig {

  final case class SigRow(
      doc_id: Long,
      mh0: Long, mh1: Long, mh2: Long, mh3: Long,
      mh4: Long, mh5: Long, mh6: Long, mh7: Long,
      simhash: Long, fp: Long, dhl: Array[Int])

  private val P = 1000003L
  private val H = 8

  def sig(id: Long, text: String): SigRow = {
    // CODE POINTS, not UTF-16 units: SQL substring/length/ascii index
    // code points (both Spark and DuckDB), so a charAt-based kernel
    // would desync from the SQL twins on any non-BMP text — same
    // parity rule as the streaming gopher kernel (identical on ASCII,
    // where every code point is one char)
    val cps: Array[Int] = text.codePoints().toArray
    val n = cps.length
    val m = math.max(n - 2, 1)

    // trigram polyhash list (positional; matches ascii(substring(...)) with
    // out-of-range substrings hashing as 0, exactly like SQL ascii(''))
    val hl = new Array[Int](m)
    var i = 0
    while (i < m) {
      // i can exceed n-1 only for n == 0 (m is forced to 1); SQL's
      // ascii(substring('', 1, 1)) = ascii('') = 0, so hash 0 likewise
      val c0 = if (i < n) cps(i) else 0
      val c1 = if (i + 1 < n) cps(i + 1) else 0
      val c2 = if (i + 2 < n) cps(i + 2) else 0
      hl(i) = c0 * 961 + c1 * 31 + c2
      i += 1
    }

    // 8 minhashes over the (multi)set — min is distinct-agnostic
    val mins = Array.fill(H)(Long.MaxValue)
    i = 0
    while (i < m) {
      val h = hl(i).toLong
      var j = 0
      while (j < H) {
        val v = ((17 + 13 * j) * h + (89 + 31 * j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }

    // distinct hash set (insertion order, like SQL array_distinct)
    val seen = new java.util.LinkedHashSet[Integer]()
    i = 0
    while (i < m) { seen.add(hl(i)); i += 1 }
    val dhl = new Array[Int](seen.size())
    val it = seen.iterator(); i = 0
    while (it.hasNext) { dhl(i) = it.next(); i += 1 }

    // 16-bit simhash over the distinct set
    val cnt = new Array[Int](16)
    i = 0
    while (i < dhl.length) {
      val h = dhl(i)
      var b = 0
      while (b < 16) { cnt(b) += (if (((h >> b) & 1) == 1) 1 else -1); b += 1 }
      i += 1
    }
    var simhash = 0L
    var b = 0
    while (b < 16) { if (cnt(b) > 0) simhash |= (1L << b); b += 1 }

    // rolling fingerprint over the raw text (code points — see above)
    var fp = 0L
    i = 0
    while (i < n) { fp = (fp * 31 + cps(i)) % P; i += 1 }

    SigRow(id, mins(0), mins(1), mins(2), mins(3), mins(4), mins(5), mins(6),
      mins(7), simhash, fp, dhl)
  }

  /** Signature table (doc_id, mh0..mh7, simhash, fp, dhl) — one narrow
    * per-partition pass over `documents`. */
  def rows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.read(s, s"$d/documents.parquet").select("doc_id", "text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => sig(id, t) })
      .toDF()
  }
}
