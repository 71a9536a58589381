package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.NpyStack

class NpyStackSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = spark.stop()

  test("npy bytes round-trip through the pure-Scala codec") {
    val vals = Array(1.5, -2.25, 3.0, 1e300, -0.0)
    val bytes = NpyStack.npyBytes(vals)
    assert(NpyStack.parseNpy(bytes).toSeq == vals.toSeq)
    assert(NpyStack.parseCount(bytes.take(128)) == 5L)
    // header block is 64-byte aligned like numpy's writer
    assert((10 + ((bytes(9) & 0xff) << 8 | (bytes(8) & 0xff))) % 64 == 0)
  }

  test("write/read stack round-trips a ragged multi-block array") {
    val dir = Files.createTempDirectory("npystack").toString
    val n = 257 // 3 blocks of 100 + ragged 57
    val src = DArray.arange(spark, "/unused", 0, n, 1).map("v * 1.5 - 3")
    NpyStack.write(src.elements, dir, blockSize = 100, n = n)
    assert(Files.list(java.nio.file.Paths.get(dir)).count() == 3)
    val back = NpyStack.read(spark, dir).orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val want = src.elements.orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(back.toSeq == want.toSeq)
  }

  test("rank-3 writeNd/readNd round trip with a ragged last block") {
    val dir = java.nio.file.Files.createTempDirectory("npyNd").toString
    val a = NdArray.tabulate(spark, Seq(5L, 2L, 3L), "(c0*7 + c1*4 + c2) % 10 + 1")
    sources.NpyStack.writeNd(a, dir, blockRows = 2) // blocks of 2,2,1 rows
    val back = sources.NpyStack.readNd(spark, dir)
    assert(back.shape == Seq(5L, 2L, 3L))
    val exp = a.ravel.orderBy("idx").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = back.ravel.orderBy("idx").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == exp.toSeq)
    // 1-d files written by the N-d path read back through the 1-d path
    val dir1 = java.nio.file.Files.createTempDirectory("npyNd1").toString
    val a1 = NdArray.tabulate(spark, Seq(9L), "c0 * 2 + 1")
    sources.NpyStack.writeNd(a1, dir1, blockRows = 4)
    val got1 = sources.NpyStack.read(spark, dir1).orderBy("idx")
      .collect().map(_.getDouble(1)).toSeq
    assert(got1 == (0 until 9).map(i => i * 2.0 + 1))
  }

  test("write densifies idx gaps and empty blocks (sparse element tables)") {
    val dir = Files.createTempDirectory("npysparse").toString
    val sp = spark
    import sp.implicits._
    // n=250, blockSize=100: block 0 has two scattered values, block 1 is
    // entirely absent, ragged block 2 has one value — positions must be
    // preserved by idx, never compacted by sort order
    val el = Seq((3L, 7.5), (97L, -1.25), (240L, 9.0)).toDF("idx", "v")
    NpyStack.write(el, dir, blockSize = 100, n = 250)
    assert(Files.list(java.nio.file.Paths.get(dir)).count() == 3)
    val back = NpyStack.read(spark, dir).orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(back.length == 250)
    assert(back(3) == ((3L, 7.5)) && back(97) == ((97L, -1.25)) && back(240) == ((240L, 9.0)))
    assert(back(4) == ((4L, 0.0)) && back(150) == ((150L, 0.0))) // gap + empty block
  }

  /** The cause chain of a failed read holds an IllegalArgumentException
    * naming `file`. */
  private def rejects(file: String)(read: => Any): Unit = {
    val err = intercept[Exception](read)
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains(file)), err.toString)
  }

  private def stackOf(n: Int): String = {
    val dir = Files.createTempDirectory("npybad").toString
    val sp = spark
    import sp.implicits._
    NpyStack.write((0 until n).map(i => (i.toLong, i + 0.5)).toDF("idx", "v"), dir,
      blockSize = 100, n = n)
    dir
  }

  test("a truncated block is rejected, not read as missing cells") {
    val dir = stackOf(250)
    val f = java.nio.file.Paths.get(dir, "1.npy")
    val bytes = Files.readAllBytes(f)
    Files.write(f, bytes.take(bytes.length - 16)) // two values short
    rejects("1.npy")(NpyStack.read(spark, dir).collect())
  }

  test("an over-long block is rejected, not spilled into the next block's range") {
    val dir = stackOf(250)
    val f = java.nio.file.Paths.get(dir, "0.npy")
    Files.write(f, Files.readAllBytes(f) ++ NpyStack.npyBytes(Array(7.0, 8.0)).takeRight(16))
    rejects("0.npy")(NpyStack.read(spark, dir).collect())
  }

  test("a header length past the end of the bytes throws IllegalArgumentException") {
    val bytes = NpyStack.npyBytes(Array(1.0, 2.0))
    val overrun = bytes.clone()
    overrun(8) = 0xff.toByte; overrun(9) = 0x7f.toByte // 32767-byte header
    val e = intercept[IllegalArgumentException](NpyStack.parseNpy(overrun))
    assert(e.getMessage.contains("header length"), e.getMessage)
    intercept[IllegalArgumentException](NpyStack.parseNpy(bytes.take(9)))
  }
}
