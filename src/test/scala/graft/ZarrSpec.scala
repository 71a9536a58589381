package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.Zarr

class ZarrSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("1-d round trip, ragged edge chunk, raw compressor") {
    val dir = Files.createTempDirectory("zarr1").toString
    val sp = spark
    import sp.implicits._
    val n = 257
    val el = (0 until n).map(i => (i.toLong, i * 1.5 - 3)).toDF("idx", "v")
    Zarr.write1d(el, dir, n, chunk = 100)
    val m = Zarr.readMeta(dir)
    assert(m.shape == Seq(257L) && m.chunks == Seq(100L) && m.compressor.isEmpty)
    // v2 stores FULL edge chunks: 3 files of exactly 100 doubles each
    assert(Files.size(Paths.get(dir, "2")) == 800L)
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(back.length == n)
    assert(back.toSeq == (0 until n).map(i => (i.toLong, i * 1.5 - 3)))
  }

  test("zlib compressor round trip") {
    val dir = Files.createTempDirectory("zarrz").toString
    val sp = spark
    import sp.implicits._
    val el = (0 until 300).map(i => (i.toLong, (i % 7).toDouble)).toDF("idx", "v")
    Zarr.write1d(el, dir, 300, chunk = 128, compressor = Some("zlib"))
    assert(Zarr.readMeta(dir).compressor.contains("zlib"))
    // compressible data must actually be compressed
    assert(Files.size(Paths.get(dir, "0")) < 1024L)
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect().map(_.getDouble(1))
    assert(back.toSeq == (0 until 300).map(i => (i % 7).toDouble))
  }

  test("externally-written store: hand-crafted v2 bytes, fill_value, missing chunk") {
    // byte-level .zarray + raw LE chunks exactly as the zarr v2 spec lays
    // them out — what a numpy/zarr writer produces for an uncompressed
    // f8 array; chunk 1 is deliberately absent => fill_value = 2.5
    val dir = Files.createTempDirectory("zarrx").toString
    val meta =
      """{"chunks": [4], "compressor": null, "dtype": "<f8", "fill_value": 2.5,
        |"filters": null, "order": "C", "shape": [10], "zarr_format": 2}""".stripMargin
    Files.write(Paths.get(dir, ".zarray"), meta.getBytes(StandardCharsets.UTF_8))
    def chunk(vals: Seq[Double]): Array[Byte] = {
      val b = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putDouble); b.array()
    }
    Files.write(Paths.get(dir, "0"), chunk(Seq(1, 2, 3, 4)))
    // chunk "1" missing; chunk "2" covers idx 8,9 (+2 pad values ignored)
    Files.write(Paths.get(dir, "2"), chunk(Seq(9, 10, 999, 999)))
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(back.toSeq == Seq(
      (0L, 1.0), (1L, 2.0), (2L, 3.0), (3L, 4.0),
      (4L, 2.5), (5L, 2.5), (6L, 2.5), (7L, 2.5),
      (8L, 9.0), (9L, 10.0)))
  }

  test("2-d round trip with non-aligned edges") {
    val dir = Files.createTempDirectory("zarr2").toString
    val sp = spark
    import sp.implicits._
    val rows = 13; val cols = 7
    val cells = (for (i <- 0 until rows; j <- 0 until cols)
      yield (i.toLong, j.toLong, (i * 31 + j * 17 + 1).toDouble)).toDF("i", "j", "v")
    Zarr.write2d(cells, dir, rows, cols, chunkR = 5, chunkC = 4)
    val m = Zarr.readMeta(dir)
    assert(m.chunkGrid == Seq(3L, 2L))
    val back = Zarr.read2d(spark, dir).orderBy("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(back.length == rows * cols)
    for (((i, j, v), k) <- back.zipWithIndex) {
      val (ei, ej) = (k / cols, k % cols)
      assert(i == ei && j == ej && v == ei * 31 + ej * 17 + 1, s"cell $k")
    }
  }

  test("sparse element table densifies within chunks (zeros preserved)") {
    val dir = Files.createTempDirectory("zarrs").toString
    val sp = spark
    import sp.implicits._
    val el = Seq((2L, 5.0), (205L, -1.0)).toDF("idx", "v")
    Zarr.write1d(el, dir, 300, chunk = 100)
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect().map(_.getDouble(1))
    assert(back.length == 300)
    assert(back(2) == 5.0 && back(205) == -1.0 && back(3) == 0.0 && back(150) == 0.0)
  }

  test("v3 1-d round trip with gzip codec") {
    val dir = Files.createTempDirectory("zarr3").toString
    val sp = spark
    import sp.implicits._
    val el = (0L until 700L).map(i => (i, (i * 3 % 17).toDouble)).toDF("idx", "v")
    Zarr.write1d(el, dir, 700, chunk = 256, compressor = Some("gzip"), format = 3)
    assert(Files.exists(Paths.get(dir, "zarr.json")))
    assert(Files.exists(Paths.get(dir, "c", "0")), "v3 chunks live under c/")
    val m = Zarr.readMeta(dir)
    assert(m.format == 3 && m.compressor.contains("gzip") && m.chunkGrid == Seq(3L))
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect().map(_.getDouble(1))
    assert(back.length == 700)
    for (i <- 0 until 700) assert(back(i) == (i * 3 % 17).toDouble, s"i=$i")
  }

  test("v3 2-d round trip, raw bytes codec") {
    val dir = Files.createTempDirectory("zarr3b").toString
    val m0 = DMatrix.tabulate(spark, 11, 13, "(i * 31 + j * 17 + 1) % 23")
    Zarr.write2d(m0.df, dir, 11, 13, 4, 5, format = 3)
    assert(Files.exists(Paths.get(dir, "c", "0", "0")))
    val back = Zarr.read2d(spark, dir).orderBy("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(back.length == 11 * 13)
    for ((i, j, v) <- back) assert(v == ((i * 31 + j * 17 + 1) % 23).toDouble, s"($i,$j)")
  }

  test("externally-written v3 store: hand-crafted zarr.json, fill_value, missing chunk") {
    val dir = Files.createTempDirectory("zarr3x").toString
    val meta =
      """{"zarr_format": 3, "node_type": "array", "shape": [10],
        |"data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": 2.5,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin
    Files.write(Paths.get(dir, "zarr.json"), meta.getBytes(StandardCharsets.UTF_8))
    Files.createDirectories(Paths.get(dir, "c"))
    def chunk(vals: Seq[Double]): Array[Byte] = {
      val b = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putDouble); b.array()
    }
    Files.write(Paths.get(dir, "c", "0"), chunk(Seq(1, 2, 3, 4)))
    // chunk c/1 missing; c/2 covers idx 8,9 (+2 pad values ignored)
    Files.write(Paths.get(dir, "c", "2"), chunk(Seq(9, 10, 999, 999)))
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(back.toSeq == Seq(
      (0L, 1.0), (1L, 2.0), (2L, 3.0), (3L, 4.0),
      (4L, 2.5), (5L, 2.5), (6L, 2.5), (7L, 2.5),
      (8L, 9.0), (9L, 10.0)))
  }

  test("v3 codec parsing: zstd/blosc accepted, unknown + bad sharding rejected") {
    val tpl =
      """{"zarr_format": 3, "shape": [8], "data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        |"fill_value": 0,
        |"codecs": [{"name": "CODEC", "configuration": {}}]}""".stripMargin
    // sharding without a chunk_shape must fail loudly, not guess
    assert(intercept[RuntimeException](
      Zarr.parseMetaV3(tpl.replace("CODEC", "sharding_indexed")))
      .getMessage.contains("chunk_shape"))
    assert(Zarr.parseMetaV3(tpl.replace("CODEC", "blosc")).compressor.contains("blosc"))
    assert(Zarr.parseMetaV3(tpl.replace("CODEC", "zstd")).compressor.contains("zstd"))
    assert(intercept[IllegalArgumentException](
      Zarr.parseMetaV3(tpl.replace("CODEC", "lzma"))).getMessage.contains("codec"))
    // sharding whose inner shape does not divide the shard shape
    val badShard =
      """{"zarr_format": 3, "shape": [8], "data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        |"fill_value": 0,
        |"codecs": [{"name": "sharding_indexed", "configuration": {
        |  "chunk_shape": [3],
        |  "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}}]}"""
        .stripMargin
    assert(intercept[IllegalArgumentException](
      Zarr.parseMetaV3(badShard)).getMessage.contains("divide"))
  }

  test("zstd compressor round trip, v2 and v3, real zstd frames on disk") {
    val sp = spark
    import sp.implicits._
    for (fmt <- Seq(2, 3)) {
      val dir = Files.createTempDirectory(s"zarrzstd$fmt").toString
      val el = (0 until 300).map(i => (i.toLong, (i % 11).toDouble)).toDF("idx", "v")
      Zarr.write1d(el, dir, 300, chunk = 128, compressor = Some("zstd"), format = fmt)
      assert(Zarr.readMeta(dir).compressor.contains("zstd"))
      val chunk0 = if (fmt == 3) Paths.get(dir, "c", "0") else Paths.get(dir, "0")
      val head = Files.readAllBytes(chunk0).take(4)
      // standard zstd frame magic 0xFD2FB528 (little-endian on disk)
      assert(head.toSeq == Seq(0x28.toByte, 0xB5.toByte, 0x2F.toByte, 0xFD.toByte),
        s"v$fmt chunk is not a zstd frame: ${head.toSeq}")
      assert(Files.size(chunk0) < 1024L) // compressible data actually compressed
      val back = Zarr.read1d(spark, dir).orderBy("idx").collect().map(_.getDouble(1))
      assert(back.toSeq == (0 until 300).map(i => (i % 11).toDouble))
    }
  }

  test("store with ALL chunks absent reads as pure fill (incl. NaN fill)") {
    // lazily-written stores may defer every chunk to fill_value — the
    // reader must not die on the empty chunk glob
    val dir = Files.createTempDirectory("zarrf").toString
    val meta =
      """{"zarr_format": 3, "node_type": "array", "shape": [6],
        |"data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": "NaN",
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin
    Files.write(Paths.get(dir, "zarr.json"), meta.getBytes(StandardCharsets.UTF_8))
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect()
    assert(back.length == 6)
    assert(back.forall(r => r.getDouble(1).isNaN))
    // zero-fill variant: reads as the EMPTY element table (implicit zeros)
    val dir0 = Files.createTempDirectory("zarrf0").toString
    Files.write(Paths.get(dir0, ".zarray"),
      """{"chunks": [4], "compressor": null, "dtype": "<f8", "fill_value": 0,
        |"filters": null, "order": "C", "shape": [6], "zarr_format": 2}""".stripMargin
        .getBytes(StandardCharsets.UTF_8))
    assert(Zarr.read1d(spark, dir0).count() == 0)
  }

  test("non-default v3 chunk_key_encoding is rejected loudly") {
    val json =
      """{"zarr_format": 3, "shape": [8], "data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        |"chunk_key_encoding": {"name": "v2", "configuration": {"separator": "."}},
        |"fill_value": 0,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin
    val e = intercept[IllegalArgumentException](Zarr.parseMetaV3(json))
    assert(e.getMessage.contains("chunk_key_encoding"), e.getMessage)
  }

  test("codec detection reads the codecs array, not stray attribute strings") {
    val json =
      """{"zarr_format": 3, "shape": [8], "data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        |"fill_value": 0, "attributes": {"note": "exported via gzip pipeline"},
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin
    assert(Zarr.parseMetaV3(json).compressor.isEmpty)
  }

  test("truncated zlib chunk fails loudly instead of hanging") {
    val full = Zarr.encodeChunk(Array.tabulate(64)(_.toDouble), Some("zlib"))
    val truncated = full.take(full.length / 2)
    val e = intercept[java.io.IOException](
      Zarr.decodeChunk(truncated, 64, Some("zlib")))
    assert(e.getMessage.contains("corrupt zlib chunk"), e.getMessage)
  }

  test("a raw or blosc chunk longer than its volume is rejected, not cut to it") {
    val vals = Array(1.5, 2.5, 3.5)
    for (c <- Seq(None, Some("blosc"))) {
      val e = intercept[IllegalArgumentException](
        Zarr.decodeChunk(Zarr.encodeChunk(vals, c), 2, c))
      assert(e.getMessage.contains("24 bytes"), s"$c: ${e.getMessage}")
    }
  }

  test("a zlib, gzip or zstd stream must end at the chunk's volume") {
    val vals = Array.tabulate(64)(_.toDouble)
    for (c <- Seq("zlib", "gzip", "zstd")) {
      val full = Zarr.encodeChunk(vals, Some(c))
      // the stream holds 64 values: declared 32 (over-long) or 128 (short)
      for (n <- Seq(32, 128)) {
        val e = intercept[Exception](Zarr.decodeChunk(full, n, Some(c)))
        assert(e.isInstanceOf[java.io.IOException] || e.isInstanceOf[IllegalArgumentException],
          s"$c as $n values: $e")
      }
      assert(Zarr.decodeChunk(full, 64, Some(c)).sameElements(vals), c)
    }
  }

  test("v2 blosc accepted (real-world default); unknown compressor rejected") {
    val json =
      """{"chunks": [4], "compressor": {"id": "blosc", "cname": "lz4"},
        |"dtype": "<f8", "fill_value": 0, "filters": null, "order": "C",
        |"shape": [8], "zarr_format": 2}""".stripMargin
    assert(Zarr.parseMeta(json).compressor.contains("blosc"))
    val e = intercept[IllegalArgumentException](
      Zarr.parseMeta(json.replace("\"blosc\"", "\"lzma\"")))
    assert(e.getMessage.contains("compressors"))
  }

  test("bit-shuffled blosc round trips, v2 and v3; metadata says shuffle 2 / bitshuffle") {
    val sp = spark
    import sp.implicits._
    val el = (0 until 500).map(i => (i.toLong, ((i * 7) % 23) - 11.0)).toDF("idx", "v")
    for (fmt <- Seq(2, 3)) {
      val dir = Files.createTempDirectory(s"zarrbit$fmt").toString
      Zarr.write1d(el, dir, 500, chunk = 128, compressor = Some("blosc-bit"),
        format = fmt)
      val metaFile = if (fmt == 2) ".zarray" else "zarr.json"
      val doc = new String(Files.readAllBytes(Paths.get(dir, metaFile)),
        StandardCharsets.UTF_8)
      if (fmt == 2) assert(doc.contains("\"shuffle\": 2"), doc)
      else assert(doc.contains("\"bitshuffle\""), doc)
      // the chunk objects are genuine bit-shuffle frames (flag 0x04)
      val chunk0 = Files.readAllBytes(Paths.get(dir,
        if (fmt == 2) "0" else "c/0"))
      assert((chunk0(2) & 0x04) != 0 && (chunk0(2) & 0x01) == 0,
        s"v$fmt chunk flags ${chunk0(2)}")
      val back = Zarr.read1d(spark, dir).orderBy("idx").collect()
      assert(back.length == 500)
      back.zipWithIndex.foreach { case (r, i) =>
        assert(r.getDouble(1) == ((i * 7) % 23) - 11.0, s"v$fmt idx $i")
      }
    }
  }

  test("v2 blosc-lz4 store round trip; chunks are real blosc frames") {
    val dir = Files.createTempDirectory("zarrblosc").toString
    val sp = spark
    import sp.implicits._
    val n = 600
    val el = (0 until n).map(i => (i.toLong, math.sin(i / 9.0) * 50)).toDF("idx", "v")
    Zarr.write1d(el, dir, n, chunk = 256, compressor = Some("blosc"))
    val m = Zarr.readMeta(dir)
    assert(m.compressor.contains("blosc"))
    // on-disk chunk carries the 16-byte blosc header: cbytes == file size
    val chunk0 = Files.readAllBytes(Paths.get(dir, "0"))
    val bb = ByteBuffer.wrap(chunk0).order(ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt(4) == 256 * 8, "nbytes field")
    assert(bb.getInt(12) == chunk0.length, "cbytes field")
    assert(chunk0.length < 256 * 8, "smooth doubles must compress")
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect()
    assert(back.length == n)
    back.foreach(r => assert(r.getDouble(1) == math.sin(r.getLong(0) / 9.0) * 50))
  }

  test("sharded v3 store reads: index at end, missing inner chunk takes fill") {
    // shape [16], one shard of 8 per file, inner chunks of 4 — shard c/1
    // has its second inner chunk ABSENT (offset/nbytes = 2^64-1) → fill 5.0
    val dir = Files.createTempDirectory("zarrshard").toString
    Files.write(Paths.get(dir, "zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [16],
        |"data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [8]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": 5.0,
        |"codecs": [{"name": "sharding_indexed", "configuration": {
        |  "chunk_shape": [4],
        |  "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |  "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |                   {"name": "crc32c"}],
        |  "index_location": "end"}}]}""".stripMargin
        .getBytes(StandardCharsets.UTF_8))
    Files.createDirectories(Paths.get(dir, "c"))
    def chunkBytes(vals: Seq[Double]): Array[Byte] = {
      val b = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putDouble); b.array()
    }
    def shardFile(chunks: Seq[Option[Seq[Double]]]): Array[Byte] = {
      val data = new java.io.ByteArrayOutputStream()
      val index = ByteBuffer.allocate(chunks.length * 16 + 4)
        .order(ByteOrder.LITTLE_ENDIAN)
      var off = 0L
      chunks.foreach {
        case Some(vals) =>
          val enc = chunkBytes(vals)
          index.putLong(off); index.putLong(enc.length.toLong)
          data.write(enc); off += enc.length
        case None =>
          index.putLong(-1L); index.putLong(-1L)
      }
      val crc = new java.util.zip.CRC32C
      crc.update(index.array(), 0, chunks.length * 16)
      index.putInt(chunks.length * 16, crc.getValue.toInt)
      data.write(index.array())
      data.toByteArray
    }
    Files.write(Paths.get(dir, "c", "0"),
      shardFile(Seq(Some(Seq(1.0, 2, 3, 4)), Some(Seq(5.0, 6, 7, 8)))))
    Files.write(Paths.get(dir, "c", "1"),
      shardFile(Seq(Some(Seq(9.0, 10, 11, 12)), None)))
    val m = Zarr.readMeta(dir)
    assert(m.shard.contains(Seq(4L)) && m.chunks == Seq(8L))
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect().map(_.getDouble(1))
    assert(back.toSeq ==
      (1 to 12).map(_.toDouble) ++ Seq(5.0, 5.0, 5.0, 5.0))
    // corrupt index crc must fail loudly
    val f = Paths.get(dir, "c", "0")
    val bytes = Files.readAllBytes(f)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x7f).toByte
    Files.write(f, bytes)
    val err = intercept[org.apache.spark.SparkException](
      Zarr.read1d(spark, dir).collect())
    assert(err.getMessage.contains("crc32c") ||
      Option(err.getCause).exists(_.getMessage.contains("crc32c")))
  }

  test("sharded v3 2-d store via readNd, index at start, gzip inner codec") {
    val dir = Files.createTempDirectory("zarrshard2d").toString
    // shape [4,6], shards [4,3] (grid 1x2), inner chunks [2,3] (2 per shard)
    Files.write(Paths.get(dir, "zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [4, 6],
        |"data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4, 3]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": 0.0,
        |"codecs": [{"name": "sharding_indexed", "configuration": {
        |  "chunk_shape": [2, 3],
        |  "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |             {"name": "gzip", "configuration": {"level": 1}}],
        |  "index_codecs": [{"name": "bytes"}, {"name": "crc32c"}],
        |  "index_location": "start"}}]}""".stripMargin
        .getBytes(StandardCharsets.UTF_8))
    Files.createDirectories(Paths.get(dir, "c", "0"))
    def gzipped(vals: Seq[Double]): Array[Byte] = {
      val b = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putDouble)
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b.array()); g.close()
      bos.toByteArray
    }
    // want[i][j] = i*10 + j over the 4x6 array; shard (0,s) holds cols
    // 3s..3s+2; inner chunk e within shard holds rows 2e..2e+1
    def shardFile(colBase: Int): Array[Byte] = {
      val encs = (0 until 2).map { e =>
        gzipped(for (r <- 2 * e until 2 * e + 2; c <- 0 until 3)
          yield (r * 10 + colBase + c).toDouble)
      }
      val idxBytes = 2 * 16 + 4
      val index = ByteBuffer.allocate(idxBytes).order(ByteOrder.LITTLE_ENDIAN)
      var off = idxBytes.toLong // data follows the leading index
      encs.foreach { enc =>
        index.putLong(off); index.putLong(enc.length.toLong); off += enc.length
      }
      val crc = new java.util.zip.CRC32C
      crc.update(index.array(), 0, 32)
      index.putInt(32, crc.getValue.toInt)
      val out = new java.io.ByteArrayOutputStream()
      out.write(index.array()); encs.foreach(out.write)
      out.toByteArray
    }
    Files.write(Paths.get(dir, "c", "0", "0"), shardFile(0))
    Files.write(Paths.get(dir, "c", "0", "1"), shardFile(3))
    val nd = Zarr.readNd(spark, dir)
    assert(nd.shape == Seq(4L, 6L))
    val got = nd.elements.orderBy("c0", "c1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 24)
    got.foreach { case (i, j, v) => assert(v == i * 10 + j, s"($i,$j)") }
  }

  test("float32 storage round trip (dtype='<f4' write path)") {
    val dir = Files.createTempDirectory("zarrf4w").toString
    val sp = spark
    import sp.implicits._
    val n = 300
    // multiples of 0.25 are exactly representable in float32
    val el = (0 until n).map(i => (i.toLong, i * 0.25 - 10)).toDF("idx", "v")
    Zarr.write1d(el, dir, n, chunk = 128, compressor = Some("zstd"), dtype = "<f4")
    val m = Zarr.readMeta(dir)
    assert(m.dtype == "<f4")
    // on-disk chunk is 4 bytes/value (decompressed)
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect()
    assert(back.length == n)
    back.foreach(r => assert(r.getDouble(1) == r.getLong(0) * 0.25 - 10))
    // v3 f4 store writes float32 data_type
    val dir3 = Files.createTempDirectory("zarrf4w3").toString
    Zarr.write1d(el, dir3, n, chunk = 128, compressor = Some("gzip"),
      format = 3, dtype = "<f4")
    val meta3 = new String(Files.readAllBytes(Paths.get(dir3, "zarr.json")),
      StandardCharsets.UTF_8)
    assert(meta3.contains("\"float32\""))
    val back3 = Zarr.read1d(spark, dir3).orderBy("idx").collect()
    back3.foreach(r => assert(r.getDouble(1) == r.getLong(0) * 0.25 - 10))
  }

  test("sharded v3 write round-trips through the sharding_indexed reader") {
    val dir = Files.createTempDirectory("zarrshw").toString
    val sp = spark
    import sp.implicits._
    val n = 300 // chunk 128, inner 32: 3 shards, last one partial
    val el = (0 until n).map(i => (i.toLong, i * 1.5 - 7)).toDF("idx", "v")
    Zarr.write1dSharded(el, dir, n, chunk = 128, inner = 32,
      compressor = Some("gzip"))
    // our own metadata re-parses with the shard config intact
    val m = Zarr.readMeta(dir)
    assert(m.shard.contains(Seq(32L)) && m.indexLoc == "end" && m.format == 3)
    assert(m.compressor.contains("gzip"))
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect()
    assert(back.length == n)
    back.foreach(r => assert(r.getDouble(1) == r.getLong(0) * 1.5 - 7))
    // byte level: each shard object ends with a crc32c-valid index of
    // 128/32 = 4 entries (the reader would throw otherwise — force it)
    val shardFile = Paths.get(dir, "c", "0")
    assert(Files.exists(shardFile))
    val content = Files.readAllBytes(shardFile)
    val flipped = content.clone()
    flipped(flipped.length - 1) = (flipped(flipped.length - 1) ^ 0x1).toByte
    val ex = intercept[IllegalArgumentException] {
      Zarr.decodeChunkFull(flipped, m)
    }
    assert(ex.getMessage.contains("crc32c"), ex.getMessage)
  }

  test("int64 exact round trip above 2^53 (write1dLong/read1dLong)") {
    val dir = Files.createTempDirectory("zarri8").toString
    val sp = spark
    import sp.implicits._
    val base = 9007199254740993L // 2^53 + 1: not representable as a double
    val n = 300
    val el = (0 until n).map(i => (i.toLong, base + 7L * i)).toDF("idx", "v")
    Zarr.write1dLong(el, dir, n, chunk = 128, compressor = Some("blosc"))
    assert(Zarr.readMeta(dir).dtype == "<i8")
    val back = Zarr.read1dLong(spark, dir).orderBy("idx").collect()
    assert(back.length == n)
    back.foreach { r =>
      assert(r.getLong(1) == base + 7L * r.getLong(0), s"idx ${r.getLong(0)}")
    }
    // the double path would corrupt odd values up here: prove the test is
    // sharp (2^53 + 1 has no double representation; 7·i keeps ~half odd)
    assert(base.toDouble.toLong != base)
  }

  test("<i4 write: raw little-endian int32 chunk bytes, v2 and v3 metadata") {
    val dir = Files.createTempDirectory("zarri4").toString
    val sp = spark
    import sp.implicits._
    val n = 10
    val el = (0 until n).map(i => (i.toLong, (i * 3 - 7).toDouble)).toDF("idx", "v")
    Zarr.write1d(el, dir, n, chunk = 10, dtype = "<i4") // raw, no compressor
    // byte-level: exactly 40 bytes, little-endian int32 values
    val bytes = Files.readAllBytes(Paths.get(dir, "0"))
    assert(bytes.length == 40, s"raw <i4 chunk must be 4 bytes/value, got ${bytes.length}")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => assert(bb.getInt == i * 3 - 7, s"value $i"))
    val meta = new String(Files.readAllBytes(Paths.get(dir, ".zarray")),
      StandardCharsets.UTF_8)
    assert(meta.contains("\"<i4\""))
    assert(meta.contains("\"fill_value\": 0"), "integer dtype takes an integer fill")
    assert(!meta.contains("\"fill_value\": 0.0"))
    // v3 metadata maps the dtype to int32
    val dir3 = Files.createTempDirectory("zarri4v3").toString
    Zarr.write1d(el, dir3, n, chunk = 10, format = 3, dtype = "<i4")
    val meta3 = new String(Files.readAllBytes(Paths.get(dir3, "zarr.json")),
      StandardCharsets.UTF_8)
    assert(meta3.contains("\"int32\""))
    val back = Zarr.read1d(spark, dir3).orderBy("idx").collect()
    assert(back.map(_.getDouble(1)).toSeq == (0 until n).map(i => (i * 3 - 7).toDouble))
  }

  test("|u1 write: one byte per value, uint8 v3 dtype, round trip") {
    val dir = Files.createTempDirectory("zarru1").toString
    val sp = spark
    import sp.implicits._
    val n = 300 // ragged edge over chunk 256; values exercise the full byte range
    val el = (0 until n).map(i => (i.toLong, ((i * 37) % 256).toDouble)).toDF("idx", "v")
    Zarr.write1d(el, dir, n, chunk = 256, dtype = "|u1")
    // byte-level: chunk 0 is exactly 256 single bytes, values UNSIGNED
    val bytes = Files.readAllBytes(Paths.get(dir, "0"))
    assert(bytes.length == 256)
    (0 until 256).foreach(i => assert((bytes(i) & 0xFF) == (i * 37) % 256, s"byte $i"))
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect()
    assert(back.length == n)
    back.foreach(r => assert(r.getDouble(1) == (r.getLong(0) * 37 % 256).toDouble))
    // v3 store declares uint8 and reads back through parseMetaV3
    val dir3 = Files.createTempDirectory("zarru1v3").toString
    Zarr.write1d(el, dir3, n, chunk = 256, format = 3,
      compressor = Some("gzip"), dtype = "|u1")
    assert(new String(Files.readAllBytes(Paths.get(dir3, "zarr.json")),
      StandardCharsets.UTF_8).contains("\"uint8\""))
    assert(Zarr.read1d(spark, dir3).orderBy("idx").collect()
      .map(_.getDouble(1)).toSeq == back.map(_.getDouble(1)).toSeq)
  }

  test("integer writers refuse non-integral and out-of-range values") {
    intercept[Exception] {
      Zarr.encodeChunk(Array(1.5), None, "<i4") // numpy would silently truncate
    }
    intercept[Exception] { Zarr.encodeChunk(Array(-1.0), None, "|u1") }
    intercept[Exception] { Zarr.encodeChunk(Array(256.0), None, "|u1") }
    intercept[Exception] { Zarr.encodeChunk(Array(3e9), None, "<i4") } // > 2^31
    // in-range integral values are fine
    assert(Zarr.encodeChunk(Array(255.0, 0.0), None, "|u1").toSeq ==
      Seq((-1).toByte, 0.toByte))
  }

  test("sharded v3 write carries the new dtypes (<i4 inner chunks)") {
    val dir = Files.createTempDirectory("zarrshi4").toString
    val sp = spark
    import sp.implicits._
    val n = 200
    val el = (0 until n).map(i => (i.toLong, (i * 5 - 99).toDouble)).toDF("idx", "v")
    Zarr.write1dSharded(el, dir, n, chunk = 64, inner = 16,
      compressor = Some("gzip"), dtype = "<i4")
    val m = Zarr.readMeta(dir)
    assert(m.dtype == "<i4" && m.shard == Some(Seq(16L)))
    val back = Zarr.read1d(spark, dir).orderBy("idx").collect()
    assert(back.length == n)
    back.foreach(r => assert(r.getDouble(1) == (r.getLong(0) * 5 - 99).toDouble))
  }

  test("sharded v3 int64 write round-trips above 2^53 (write1dLong inner)") {
    val dir = Files.createTempDirectory("zarrshl").toString
    val sp = spark
    import sp.implicits._
    val base = 9007199254740993L // 2^53 + 1
    val n = 300 // 3 shards of 128 (last ragged), 4 inner chunks each
    val el = (0 until n).map(i => (i.toLong, base + 7L * i)).toDF("idx", "v")
    Zarr.write1dLong(el, dir, n, chunk = 128, compressor = Some("zstd"),
      format = 3, inner = Some(32L))
    val m = Zarr.readMeta(dir)
    assert(m.dtype == "<i8" && m.shard == Some(Seq(32L)))
    // shard structure: index of 4 entries + crc at the END of the object
    val shard0 = Files.readAllBytes(Paths.get(dir, "c", "0"))
    val entries = 4
    val bb = ByteBuffer.wrap(shard0).order(ByteOrder.LITTLE_ENDIAN)
    val idxOff = shard0.length - (entries * 16 + 4)
    var off = 0L
    (0 until entries).foreach { e =>
      assert(bb.getLong(idxOff + e * 16) == off, s"entry $e offset")
      off += bb.getLong(idxOff + e * 16 + 8)
    }
    assert(off == idxOff, "inner chunks must tile the shard body exactly")
    val back = Zarr.read1dLong(spark, dir).orderBy("idx").collect()
    assert(back.length == n)
    back.foreach(r => assert(r.getLong(1) == base + 7L * r.getLong(0)))
    assert(base.toDouble.toLong != base) // the test stays sharp
  }

  test("rank-3 writeNd/readNd round trip with uneven edge chunks") {
    val dir = Files.createTempDirectory("zarrNd").toString
    // (5,4,3) with chunks (2,3,2): every axis has a ragged edge chunk
    val a = graft.NdArray.tabulate(spark, Seq(5L, 4L, 3L),
      "(c0*11 + c1*5 + c2*3) % 13 + 1") // +1: no zeros, full round trip
    sources.Zarr.writeNd(a, dir, Seq(2L, 3L, 2L), compressor = Some("zlib"))
    val back = sources.Zarr.readNd(spark, dir)
    assert(back.shape == Seq(5L, 4L, 3L))
    val exp = a.ravel.orderBy("idx").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = back.ravel.orderBy("idx").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == exp.toSeq)
    // v3+gzip through the same rank-generic path
    val dir3 = Files.createTempDirectory("zarrNd3").toString
    sources.Zarr.writeNd(a, dir3, Seq(4L, 4L, 3L), compressor = Some("gzip"), format = 3)
    assert(Files.exists(Paths.get(dir3, "c", "0", "0", "0")))
    val got3 = sources.Zarr.readNd(spark, dir3).ravel.orderBy("idx")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got3.toSeq == exp.toSeq)
  }

  test("rank-3 SHARDED writeNd round-trips through readNd (v3 sharding_indexed)") {
    val dir = Files.createTempDirectory("zarrNdSh").toString
    // (5,4,6) sharded (4,4,4) with inner (2,2,2): 8 inner chunks per shard,
    // ragged edges on every axis exercise the pad-and-skip path
    val a = graft.NdArray.tabulate(spark, Seq(5L, 4L, 6L),
      "(c0*17 + c1*7 + c2*3) % 11 + 1")
    sources.Zarr.writeNd(a, dir, Seq(4L, 4L, 4L), compressor = Some("zstd"),
      format = 3, shard = Some(Seq(2L, 2L, 2L)))
    val m = sources.Zarr.readMeta(dir)
    assert(m.shard.contains(Seq(2L, 2L, 2L)) && m.format == 3)
    // shard objects exist at the OUTER chunk grid (2x1x2)
    assert(Files.exists(Paths.get(dir, "c", "0", "0", "0")))
    assert(Files.exists(Paths.get(dir, "c", "1", "0", "1")))
    val exp = a.ravel.orderBy("idx").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = sources.Zarr.readNd(spark, dir).ravel.orderBy("idx")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == exp.toSeq)
    // sharding without v3 is rejected loudly
    val ex = intercept[IllegalArgumentException] {
      sources.Zarr.writeNd(a, dir + "x", Seq(4L, 4L, 4L), shard = Some(Seq(2L, 2L, 2L)))
    }
    assert(ex.getMessage.contains("v3"))
  }

  test("readNd fills missing chunks at any rank (non-zero fill)") {
    val dir = Files.createTempDirectory("zarrNdF").toString
    val meta =
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 4],
        |"data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 2]}},
        |"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        |"fill_value": 7.5,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin
    Files.write(Paths.get(dir, "zarr.json"), meta.getBytes(StandardCharsets.UTF_8))
    Files.createDirectories(Paths.get(dir, "c", "0"))
    val b = ByteBuffer.allocate(4 * 8).order(ByteOrder.LITTLE_ENDIAN)
    Seq(1.0, 2.0, 3.0, 4.0).foreach(b.putDouble)
    Files.write(Paths.get(dir, "c", "0", "0"), b.array()) // chunk (0,0) only
    val got = sources.Zarr.readNd(spark, dir).elements
      .orderBy("c0", "c1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      (0L, 0L, 1.0), (0L, 1L, 2.0), (0L, 2L, 7.5), (0L, 3L, 7.5),
      (1L, 0L, 3.0), (1L, 1L, 4.0), (1L, 2L, 7.5), (1L, 3L, 7.5)))
  }

  test("v3 metadata parsing is key-order independent (nested objects)") {
    // chunk_key_encoding with its configuration object BEFORE the name: a
    // first-}-terminated extractor would truncate at the inner brace, lose
    // the name, and silently read a non-default encoding as default
    val reordered =
      """{"zarr_format": 3, "shape": [8], "data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        |"chunk_key_encoding": {"configuration": {"separator": "."}, "name": "v2"},
        |"fill_value": 0,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin
    val e = intercept[IllegalArgumentException](Zarr.parseMetaV3(reordered))
    assert(e.getMessage.contains("chunk_key_encoding"), e.getMessage)
    // same ordering with the default encoding parses fine, separator kept
    val ok = reordered.replace("\"name\": \"v2\"", "\"name\": \"default\"")
    val m = Zarr.parseMetaV3(ok)
    assert(m.sep == ".")
    // an encoding object with NO extractable name must not pass vacuously
    val anon =
      """{"zarr_format": 3, "shape": [8], "data_type": "float64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        |"chunk_key_encoding": {"configuration": {"separator": "."}},
        |"fill_value": 0,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin
    assert(intercept[IllegalArgumentException](
      Zarr.parseMetaV3(anon)).getMessage.contains("without a name"))
  }

  test("int64/float32 external stores read as exact doubles") {
    // a numpy writer's <i8 store (raw LE) — int64 is exact in a double
    // up to 2^53, the element-table value type
    val d1 = Files.createTempDirectory("zarri8").toString
    Files.write(Paths.get(d1, ".zarray"),
      """{"chunks": [3], "compressor": null, "dtype": "<i8", "fill_value": 0,
        |"filters": null, "order": "C", "shape": [5], "zarr_format": 2}"""
        .stripMargin.getBytes(StandardCharsets.UTF_8))
    def i8chunk(vals: Seq[Long]): Array[Byte] = {
      val b = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putLong); b.array()
    }
    Files.write(Paths.get(d1, "0"), i8chunk(Seq(1L, -7L, 4503599627370496L)))
    Files.write(Paths.get(d1, "1"), i8chunk(Seq(42L, 5L, 0L)))
    val b1 = Zarr.read1d(spark, d1).orderBy("idx").collect().map(_.getDouble(1))
    assert(b1.toSeq == Seq(1.0, -7.0, 4503599627370496.0, 42.0, 5.0))

    // a <f4 store: 4-byte items, padded edge chunk
    val d2 = Files.createTempDirectory("zarrf4").toString
    Files.write(Paths.get(d2, ".zarray"),
      """{"chunks": [4], "compressor": null, "dtype": "<f4", "fill_value": 0,
        |"filters": null, "order": "C", "shape": [6], "zarr_format": 2}"""
        .stripMargin.getBytes(StandardCharsets.UTF_8))
    def f4chunk(vals: Seq[Float]): Array[Byte] = {
      val b = ByteBuffer.allocate(vals.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putFloat); b.array()
    }
    Files.write(Paths.get(d2, "0"), f4chunk(Seq(1.5f, -2.25f, 3f, 4f)))
    Files.write(Paths.get(d2, "1"), f4chunk(Seq(5.5f, 6f, 0f, 0f)))
    val b2 = Zarr.read1d(spark, d2).orderBy("idx").collect().map(_.getDouble(1))
    assert(b2.toSeq == Seq(1.5, -2.25, 3.0, 4.0, 5.5, 6.0))

    // v3 int64 data_type maps to the same decode path
    val m3 = Zarr.parseMetaV3(
      """{"zarr_format": 3, "shape": [8], "data_type": "int64",
        |"chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        |"fill_value": 0,
        |"codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin)
    assert(m3.dtype == "<i8")
  }

  test("consolidated metadata: one GET opens members; no per-array fallback") {
    val root = Files.createTempDirectory("zarrcons").toString
    val sp = spark
    import sp.implicits._
    val el = (0 until 120).map(i => (i.toLong, i * 0.5)).toDF("idx", "v")
    Zarr.writeGroup(root)
    Zarr.write1d(el, s"$root/a", 120, chunk = 50, compressor = Some("zlib"))
    Zarr.write1d(el.selectExpr("idx", "v + 1 AS v"), s"$root/b", 120, chunk = 40)
    Zarr.consolidateMetadata(root)
    // the doc embeds the group marker and BOTH member .zarray objects,
    // zarr_consolidated_format = 1 (zarr-python's open_consolidated layout)
    val doc = new String(Files.readAllBytes(Paths.get(root, ".zmetadata")),
      StandardCharsets.UTF_8)
    for (k <- Seq("\".zgroup\"", "\"a/.zarray\"", "\"b/.zarray\"",
        "\"zarr_consolidated_format\": 1"))
      assert(doc.contains(k), s"missing $k in .zmetadata:\n$doc")
    // PROOF the consolidated path never GETs the member's own .zarray:
    // delete it — reads must still work, with the right per-member meta
    Files.delete(Paths.get(root, "a", ".zarray"))
    val ma = Zarr.readMetaConsolidated(root, "a")
    assert(ma.chunks == Seq(50L) && ma.compressor.contains("zlib"))
    val va = Zarr.read1dConsolidated(spark, root, "a")
      .orderBy("idx").collect().map(_.getDouble(1))
    assert(va.length == 120 && va(7) == 3.5, s"member a wrong: ${va.take(8).toSeq}")
    val vb = Zarr.read1dConsolidated(spark, root, "b")
      .orderBy("idx").collect().map(_.getDouble(1))
    assert(vb(7) == 4.5, "member b must resolve its OWN meta, not a's")
    // loud failures: absent member, unconsolidated store
    val eAbsent = intercept[RuntimeException] {
      Zarr.readMetaConsolidated(root, "nope")
    }
    assert(eAbsent.getMessage.contains("absent"))
    val plain = Files.createTempDirectory("zarrplain").toString
    Zarr.write1d(el, plain, 120, chunk = 60)
    val eUncons = intercept[IllegalArgumentException] {
      Zarr.readMetaConsolidated(plain, "")
    }
    assert(eUncons.getMessage.contains("not consolidated"))
  }

  test("consolidated lookup ignores a member key spelled inside an attribute string") {
    // r13 ADVICE: the old flat-regex lookup matched the FIRST occurrence
    // of '"a/.zarray":' anywhere in the document — an embedded .zattrs
    // whose string VALUE contains that spelling (with a decoy metadata
    // object after it) would be parsed as the member's metadata. The
    // top-level walker must skip it.
    val root = Files.createTempDirectory("zarrdecoy").toString
    val sp = spark
    import sp.implicits._
    val el = (0 until 120).map(i => (i.toLong, i * 0.5)).toDF("idx", "v")
    Zarr.writeGroup(root)
    Zarr.write1d(el, s"$root/a", 120, chunk = 50, compressor = Some("zlib"))
    // a root .zattrs whose value embeds the member key + a decoy meta —
    // consolidation inlines it into .zmetadata BEFORE "a/.zarray"
    // (".zattrs" sorts first), exactly the hijack position
    Files.write(Paths.get(root, ".zattrs"),
      """{"note": "see \"a/.zarray\": {\"shape\": [9], \"chunks\": [9]} for details"}"""
        .getBytes(StandardCharsets.UTF_8))
    Zarr.consolidateMetadata(root)
    val doc = new String(Files.readAllBytes(Paths.get(root, ".zmetadata")),
      StandardCharsets.UTF_8)
    assert(doc.indexOf("a/.zarray") < doc.lastIndexOf("a/.zarray"),
      "the decoy must precede the real key for this test to bite")
    val ma = Zarr.readMetaConsolidated(root, "a")
    assert(ma.shape == Seq(120L) && ma.chunks == Seq(50L),
      s"lookup hijacked by the embedded decoy: $ma")
  }

  test("v3 consolidated metadata: root zarr.json alone opens members") {
    val root = Files.createTempDirectory("zarrcons3").toString
    val sp = spark
    import sp.implicits._
    val el = (0 until 120).map(i => (i.toLong, i * 0.5)).toDF("idx", "v")
    Zarr.write1d(el, s"$root/a", 120, chunk = 50,
      compressor = Some("gzip"), format = 3)
    Zarr.write1d(el.selectExpr("idx", "v + 1 AS v"), s"$root/b", 120,
      chunk = 40, format = 3)
    Zarr.consolidateMetadataV3(root)
    // zarr-python 3's layout: node_type group + consolidated_metadata
    // with kind inline and per-member zarr.json docs keyed by node path
    val doc = new String(Files.readAllBytes(Paths.get(root, "zarr.json")),
      StandardCharsets.UTF_8)
    for (k <- Seq("\"node_type\": \"group\"", "\"consolidated_metadata\"",
        "\"kind\": \"inline\"", "\"must_understand\": false", "\"a\":", "\"b\":"))
      assert(doc.contains(k), s"missing $k in root zarr.json:\n$doc")
    // PROOF the consolidated path never GETs the member's own zarr.json
    Files.delete(Paths.get(root, "a", "zarr.json"))
    val ma = Zarr.readMetaConsolidated(root, "a")
    assert(ma.format == 3 && ma.chunks == Seq(50L) &&
      ma.compressor.contains("gzip"), s"wrong v3 meta: $ma")
    val va = Zarr.read1dConsolidated(spark, root, "a")
      .orderBy("idx").collect().map(_.getDouble(1))
    assert(va.length == 120 && va(7) == 3.5, s"member a wrong: ${va.take(8).toSeq}")
    val vb = Zarr.read1dConsolidated(spark, root, "b")
      .orderBy("idx").collect().map(_.getDouble(1))
    assert(vb(7) == 4.5, "member b must resolve its OWN meta, not a's")
    // loud failure: absent member
    val eAbsent = intercept[RuntimeException] {
      Zarr.readMetaConsolidated(root, "nope")
    }
    assert(eAbsent.getMessage.contains("absent"))
    // member '' on a v3 ARRAY store resolves the root zarr.json itself
    // (r14 ADVICE: this used to fail with a misleading "member '' absent")
    val mb = Zarr.readMetaConsolidated(s"$root/b", "")
    assert(mb.format == 3 && mb.chunks == Seq(40L), s"root-array meta: $mb")
    val vRoot = Zarr.read1dConsolidated(spark, s"$root/b", "")
      .orderBy("idx").collect().map(_.getDouble(1))
    assert(vRoot(7) == 4.5, s"root-array read wrong: ${vRoot.take(8).toSeq}")
    // but member '' on a GROUP store stays a loud, non-misleading failure
    val eRoot = intercept[RuntimeException] {
      Zarr.readMetaConsolidated(root, "")
    }
    assert(eRoot.getMessage.contains("not an array"), eRoot.getMessage)
  }

  test("v3 consolidated metadata carries a SHARDED member's full codec config") {
    // the combination a real v3 object store hits: consolidated opens of
    // members whose zarr.json declares sharding_indexed — the inlined
    // document must round-trip the shard config (inner chunk, index
    // location) through the top-level walk, not just plain arrays
    val root = Files.createTempDirectory("zarrcons3s").toString
    val sp = spark
    import sp.implicits._
    val el = (0 until 200).map(i => (i.toLong, (i * 7 % 19) * 0.5)).toDF("idx", "v")
    Zarr.write1dSharded(el, s"$root/sh", 200, chunk = 64, inner = 16,
      compressor = Some("zstd"))
    Zarr.write1d(el, s"$root/plain", 200, chunk = 50, format = 3)
    Zarr.consolidateMetadataV3(root)
    Files.delete(Paths.get(root, "sh", "zarr.json"))
    val ms = Zarr.readMetaConsolidated(root, "sh")
    assert(ms.format == 3 && ms.chunks == Seq(64L) &&
      ms.shard.contains(Seq(16L)) && ms.compressor.contains("zstd"),
      s"sharded meta lost through consolidation: $ms")
    val vs = Zarr.read1dConsolidated(spark, root, "sh")
      .orderBy("idx").collect().map(_.getDouble(1))
    assert(vs.length == 200 && vs(7) == (7 * 7 % 19) * 0.5,
      s"sharded member wrong through the consolidated path: ${vs.take(8).toSeq}")
  }
}
