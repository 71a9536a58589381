package graft.sources

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Seeded header-mutation sweep over the store header parsers: every
  * mutant of a valid header either parses or is rejected with an
  * `IllegalArgumentException`/`IOException` — never another exception
  * type, a hang, or an unbounded allocation — within 2 s each. Mutants:
  * byte flips, truncations, and the rank / length fields overwritten with
  * 0, −1 and `Int.MaxValue`. */
class HeaderMutationSpec extends AnyFunSuite {

  private val Mutants = 500

  /** `n` seeded mutants of `valid`: flips land in `[0, flipEnd)`, field
    * overwrites at `fields` (offset, writer of one value). */
  private def mutants(valid: Array[Byte], flipEnd: Int, seed: Long,
                      fields: Seq[(Array[Byte], Int) => Unit]): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    val specials = Seq(0, -1, Int.MaxValue)
    (0 until Mutants).map { i =>
      val b = valid.clone()
      i % 3 match {
        case 0 =>
          (0 to rnd.nextInt(3)).foreach { _ =>
            val at = rnd.nextInt(flipEnd)
            b(at) = (b(at) ^ (1 + rnd.nextInt(255))).toByte
          }
          b
        case 1 => b.take(rnd.nextInt(valid.length))
        case _ =>
          fields(rnd.nextInt(fields.length))(b, specials(rnd.nextInt(specials.length)))
          b
      }
    }
  }

  private def sweep(what: String, inputs: Seq[Array[Byte]])(parse: Array[Byte] => Any): Unit = {
    val bad = inputs.zipWithIndex.flatMap { case (in, i) =>
      val t0 = System.nanoTime()
      val outcome =
        try { Await.result(Future(parse(in)), 2.seconds); None }
        catch {
          case _: IllegalArgumentException | _: java.io.IOException => None
          case _: java.util.concurrent.TimeoutException => Some("no answer within 2 s")
          case e: Throwable => Some(e.toString)
        }
      val ms = (System.nanoTime() - t0) / 1e6
      outcome.orElse(if (ms > 2000) Some(f"took $ms%.0f ms") else None)
        .map(o => s"$what mutant $i (${in.length} bytes): $o")
    }
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
  }

  private def putLE(b: Array[Byte], at: Int, v: Int, width: Int): Unit =
    if (at + width <= b.length)
      (0 until width).foreach(k => b(at + k) = ((v >>> (8 * k)) & 0xff).toByte)

  /** Overwrite the `k`-th shape dim of an NPY header's dict text. */
  private def npyDim(k: Int)(b: Array[Byte], v: Int): Unit = {
    val s = new String(b, "ISO-8859-1")
    val digits = "\\d+".r.findAllMatchIn(s.substring(0, math.min(s.length, 128))).toSeq
      .filter(_.start > 10)
    digits.lift(k).foreach { m =>
      val repl = v.toString.padTo(m.end - m.start, ' ').take(m.end - m.start)
      repl.getBytes("ISO-8859-1").copyToArray(b, m.start)
    }
  }

  private val npy = NpyStack.npyBytesNd(Array.tabulate(6)(_ * 1.5), Seq(2L, 3L))
  private val npyHeaderEnd = 10 + (((npy(9) & 0xff) << 8) | (npy(8) & 0xff))
  private val npyFields: Seq[(Array[Byte], Int) => Unit] =
    Seq((b, v) => putLE(b, 8, v, 2), npyDim(0), npyDim(1))

  test("NPY parseShape: header mutants parse or fail with IllegalArgumentException") {
    sweep("parseShape", mutants(npy.take(npyHeaderEnd), npyHeaderEnd, 1201L, npyFields))(
      NpyStack.parseShape)
  }

  test("NPY parseNpy: header mutants parse or fail with IllegalArgumentException") {
    sweep("parseNpy", mutants(npy, npyHeaderEnd, 1202L, npyFields))(NpyStack.parseNpy)
  }

  private val schema = TileDb.schemaBytes(TileDb.Schema(Seq(10L, 4L), Seq(5L, 4L), fill = 0.5))

  test("TileDB parseSchema: mutants parse or fail with IllegalArgumentException") {
    // nattr at byte 10, rank at byte 14, then per dim (lo, hi, tile)
    sweep("parseSchema", mutants(schema, schema.length, 1203L, Seq(
      (b, v) => putLE(b, 10, v, 4), (b, v) => putLE(b, 14, v, 4),
      (b, v) => putLE(b, 26, v, 4))))(TileDb.parseSchema)
  }

  private val fragMeta = TileDb.fragMetaBytes(Seq((5L, 9L), (0L, 3L)))

  test("TileDB parseFragMeta: mutants parse or fail with IllegalArgumentException") {
    // rank at byte 8, then per dim (lo, hi), then the cell count
    sweep("parseFragMeta", mutants(fragMeta, fragMeta.length, 1204L, Seq(
      (b, v) => putLE(b, 8, v, 4), (b, v) => putLE(b, 20, v, 4),
      (b, v) => putLE(b, fragMeta.length - 8, v, 4))))(TileDb.parseFragMeta)
  }

  /** Field writers for an HDF5 file: each dim of the dataspace whose
    * extent is `shape` (found as its run of little-endian u64s), and every
    * 4-byte-aligned word of the file. */
  private def h5Fields(file: Array[Byte], shape: Seq[Long]): Seq[(Array[Byte], Int) => Unit] = {
    val dims = file.indexOfSlice(shape.flatMap(d => (0 until 8).map(k => (d >>> (8 * k)).toByte)))
    assert(dims >= 0, s"no dataspace $shape in the fixture")
    val dimFields = shape.indices.map(k => (b: Array[Byte], v: Int) => putLE(b, dims + 8 * k, v, 4))
    dimFields ++ dimFields ++
      (0 until file.length by 4).map(at => (b: Array[Byte], v: Int) => putLE(b, at, v, 4))
  }

  /** Every dataset of a mutant is listed and decoded. */
  private def h5Sweep(what: String, file: Array[Byte], shape: Seq[Long], seed: Long): Unit =
    sweep(what, mutants(file, file.length, seed, h5Fields(file, shape))) { b =>
      Hdf5.datasets(b).foreach(Hdf5.parseData(b, _))
    }

  private val h5Vals = Array.tabulate(257)(i => ((i * 31) % 101) - 50.0)

  test("HDF5 h5Bytes: mutants parse or fail with IllegalArgumentException") {
    h5Sweep("h5Bytes", Hdf5.h5Bytes(Seq(("beta", h5Vals.take(37), Seq(37L)),
      ("g/alpha", h5Vals.take(12), Seq(3L, 4L)))), Seq(3L, 4L), 1205L)
  }

  test("HDF5 h5BytesChunked (deflate, shuffle, fletcher32): mutants parse or fail with IllegalArgumentException") {
    h5Sweep("h5BytesChunked", Hdf5.h5BytesChunked("d", h5Vals.take(63), Seq(7L, 9L),
      Seq(3L, 4L), deflate = true, shuffle = true, fletcher = true), Seq(7L, 9L), 1206L)
  }

  Seq("single" -> 1207L, "implicit" -> 1208L, "fixed" -> 1209L, "ext" -> 1210L,
    "btree2" -> 1211L).foreach { case (idx, seed) =>
    test(s"HDF5 h5BytesV4 $idx index: mutants parse or fail with IllegalArgumentException") {
      val (n, chunk) = if (idx == "single") (40, 64L) else (257, 16L)
      val filtered = idx == "fixed" || idx == "btree2"
      h5Sweep(s"h5BytesV4 $idx", Hdf5V4.h5BytesV4("d", h5Vals.take(n), Seq(n.toLong),
        Seq(chunk), idx, deflate = filtered, shuffle = filtered), Seq(n.toLong), seed)
    }
  }
}
