package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[TileDb]] — format-subset invariants, the per-block-fragment write,
  * the committed-manifest read, and the fragment shadowing merge
  * (reference `from_tiledb`/`to_tiledb`, `io/_tiledb.py:12,72`). */
class TileDbSpec extends AnyFunSuite {
  import TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-tdb").toString
    java.nio.file.Files.delete(java.nio.file.Paths.get(d))
    d
  }

  test("schema and fragment-metadata structs round-trip and reject junk") {
    val sc = TileDb.Schema(Seq(100L, 40L), Seq(10L, 40L), fill = -1.5)
    val back = TileDb.parseSchema(TileDb.schemaBytes(sc))
    assert(back == sc)
    val dom = Seq((30L, 59L), (0L, 39L))
    assert(TileDb.parseFragMeta(TileDb.fragMetaBytes(dom)) == dom)
    val junk = "not a tiledb file at all".getBytes("ASCII")
    assert(intercept[IllegalArgumentException](TileDb.parseSchema(junk))
      .getMessage.contains("not a graft-subset"))
  }

  test("1-d round trip: per-block fragments, sparse gaps densify to fill") {
    val s = spark
    val uri = freshDir()
    val n = 1000L
    TileDb.createArray(s, uri, TileDb.Schema(Seq(n), Seq(128L), fill = 0.5))
    // sparse input: idx % 7 == 0 rows missing → fill value 0.5 on read
    val el = s.range(n).selectExpr("id AS idx", "CAST(id * 3 % 17 AS DOUBLE) AS v")
      .where("idx % 7 <> 0")
    TileDb.write(el, uri, ts = 1L, blockCells = 128L)
    // layout invariants: fragment dirs + commit markers + schema
    val names = StoreIO.listNames(s"$uri/__fragments")
    assert(names.size == 8 && names.forall(_.matches("__1_1_[0-9a-f]{32}_21")))
    assert(StoreIO.listNames(s"$uri/__commits").count(_.endsWith(".wrt")) == 8)
    val got = TileDb.read(s, uri).orderBy("idx")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == n)
    got.foreach { case (i, v) =>
      val want = if (i % 7 == 0) 0.5 else (i * 3 % 17).toDouble
      assert(v == want, s"idx $i: got $v want $want")
    }
  }

  test("fragment shadowing: later timestamp wins cell-by-cell") {
    val s = spark
    val uri = freshDir()
    val n = 300L
    TileDb.createArray(s, uri, TileDb.Schema(Seq(n), Seq(64L)))
    TileDb.write(s.range(n).selectExpr("id AS idx", "CAST(id AS DOUBLE) AS v"),
      uri, ts = 1L, blockCells = 64L)
    TileDb.write(
      s.range(100L, 180L).selectExpr("id AS idx", "CAST(-id AS DOUBLE) AS v"),
      uri, ts = 5L, lo = 100L, hi = 179L, blockCells = 64L)
    val got = TileDb.read(s, uri).orderBy("idx")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == n) // a vacuous foreach-on-empty must not pass
    got.foreach { case (i, v) =>
      val want = if (i >= 100 && i < 180) -i.toDouble else i.toDouble
      assert(v == want, s"idx $i: got $v want $want")
    }
  }

  test("uncommitted fragments are invisible (commit marker honored)") {
    val s = spark
    val uri = freshDir()
    val n = 100L
    TileDb.createArray(s, uri, TileDb.Schema(Seq(n), Seq(50L)))
    TileDb.write(s.range(n).selectExpr("id AS idx", "CAST(id AS DOUBLE) AS v"),
      uri, ts = 1L, blockCells = 50L)
    // simulate a crashed writer: delete one commit marker
    val (fs, base) = StoreIO.fsOf(uri)
    val marker = StoreIO.listNames(s"$uri/__commits").filter(_.endsWith(".wrt")).sorted.last
    fs.delete(new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(base, "__commits"), marker), false)
    val got = TileDb.read(s, uri).orderBy("idx")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == n) // gap densified from fill
    // cells of the uncommitted fragment read as fill (0.0), not data
    assert(got.filter(_._1 >= 50).forall(_._2 == 0.0))
    assert(got.filter(_._1 < 50).forall { case (i, v) => v == i.toDouble })
  }

  test("same-timestamp writes over disjoint subarrays compose (no name collision)") {
    val s = spark
    val uri = freshDir()
    val n = 200L
    TileDb.createArray(s, uri, TileDb.Schema(Seq(n), Seq(50L)))
    // two parallel writers, SAME logical timestamp, different halves —
    // fragment names derive from the absolute start cell, so neither
    // overwrites the other (the r9 review's silent-data-loss finding)
    TileDb.write(s.range(0, 100).selectExpr("id AS idx", "CAST(id AS DOUBLE) AS v"),
      uri, ts = 3L, lo = 0L, hi = 99L, blockCells = 50L)
    TileDb.write(s.range(100, 200).selectExpr("id AS idx", "CAST(-id AS DOUBLE) AS v"),
      uri, ts = 3L, lo = 100L, hi = 199L, blockCells = 50L)
    val got = TileDb.read(s, uri).orderBy("idx")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == n)
    got.foreach { case (i, v) =>
      assert(v == (if (i < 100) i.toDouble else -i.toDouble), s"idx $i: $v")
    }
  }

  test("schema evolution picks the numerically-latest timestamp (ts=10 > ts=2)") {
    val s = spark
    val uri = freshDir()
    TileDb.createArray(s, uri, TileDb.Schema(Seq(100L), Seq(50L), fill = 1.0), ts = 2L)
    TileDb.createArray(s, uri, TileDb.Schema(Seq(100L), Seq(50L), fill = 9.0), ts = 10L)
    // no fragments: every cell reads as the LATEST schema's fill
    val got = TileDb.read(s, uri).collect().map(_.getDouble(1))
    assert(got.length == 100 && got.forall(_ == 9.0),
      s"stale schema won: distinct fills ${got.distinct.toSeq}")
  }

  test("round-trip sweep: ragged edges, single-block, block=1 extremes") {
    val s = spark
    // (n, blockCells) corners: ragged last block, exact multiple, one
    // block covering everything, degenerate 1-cell blocks
    for ((n, bc) <- Seq((37L, 10L), (40L, 10L), (25L, 64L), (9L, 1L))) {
      val uri = freshDir()
      TileDb.createArray(s, uri, TileDb.Schema(Seq(n), Seq(bc)))
      val el = s.range(n).selectExpr("id AS idx", "CAST((id * 13) % 7 - 3 AS DOUBLE) AS v")
      TileDb.write(el, uri, ts = 1L, blockCells = bc)
      val got = TileDb.read(s, uri).orderBy("idx")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == n, s"n=$n bc=$bc")
      got.foreach { case (i, v) =>
        assert(v == ((i * 13) % 7 - 3).toDouble, s"n=$n bc=$bc idx=$i")
      }
    }
  }

  test("N-d round trip with a ragged last row-block") {
    val s = spark
    val uri = freshDir()
    val a = graft.NdArray.tabulate(s, Seq(7L, 3L, 2L), "(c0*5 + c1*3 + c2) % 9 + 1")
    TileDb.writeNd(a, uri, ts = 1L, blockRows = 3L)
    val got = TileDb.readNd(s, uri)
    assert(got.shape == Seq(7L, 3L, 2L))
    val vals = got.elements.orderBy("c0", "c1", "c2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(vals.length == 42)
    vals.foreach { case (i, j, k, v) =>
      assert(v == ((i * 5 + j * 3 + k) % 9 + 1).toDouble, s"($i,$j,$k)")
    }
  }

  test("N-d partial store: uncovered row-blocks densify to the schema fill") {
    val s = spark
    val uri = freshDir()
    // schema spans 10 rows with a NONZERO fill; the write covers only
    // rows 0..3 — readNd must densify rows 4..9 to 7.5 (the same fill
    // contract as the 1-d read), not drop them
    TileDb.createArray(s, uri, TileDb.Schema(Seq(10L, 3L, 2L), Seq(4L, 3L, 2L), fill = 7.5))
    val a = graft.NdArray.tabulate(s, Seq(4L, 3L, 2L), "c0*10 + c1*2 + c2 + 1")
    TileDb.writeNd(a, uri, ts = 2L, blockRows = 4L)
    val got = TileDb.readNd(s, uri)
    assert(got.shape == Seq(10L, 3L, 2L))
    val vals = got.elements.orderBy("c0", "c1", "c2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(vals.length == 60, s"expected 60 dense cells, got ${vals.length}")
    vals.foreach { case (i, j, k, v) =>
      val want = if (i < 4) (i * 10 + j * 2 + k + 1).toDouble else 7.5
      assert(v == want, s"($i,$j,$k): got $v want $want")
    }
  }

  /** A 1-d array of 300 cells in three 100-cell fragments, and the
    * `a0.tdb` payload path of the fragment starting at cell `start`. */
  private def threeFragments(start: Long): (String, java.nio.file.Path) = {
    val s = spark
    val uri = freshDir()
    TileDb.createArray(s, uri, TileDb.Schema(Seq(300L), Seq(100L)))
    TileDb.write(s.range(300).selectExpr("id AS idx", "CAST(id AS DOUBLE) AS v"),
      uri, ts = 1L, blockCells = 100L)
    val frag = StoreIO.listNames(s"$uri/__fragments")
      .find(_.matches(f"__1_1_.{16}$start%016x_21")).get
    (uri, java.nio.file.Paths.get(uri, "__fragments", frag, "a0.tdb"))
  }

  private def rejects(file: String)(read: => Any): Unit = {
    val err = intercept[Exception](read)
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains(file)), err.toString)
  }

  test("a truncated fragment payload is rejected, not read as missing cells") {
    val (uri, a0) = threeFragments(100L)
    val bytes = java.nio.file.Files.readAllBytes(a0)
    java.nio.file.Files.write(a0, bytes.take(bytes.length - 8))
    rejects(a0.getParent.getFileName.toString)(TileDb.read(spark, uri).collect())
  }

  test("an over-long fragment payload is rejected, not spilled past its domain") {
    val (uri, a0) = threeFragments(200L)
    java.nio.file.Files.write(a0, java.nio.file.Files.readAllBytes(a0) ++ new Array[Byte](16))
    rejects(a0.getParent.getFileName.toString)(TileDb.readNd(spark, uri).elements.collect())
  }
}
