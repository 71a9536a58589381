package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Hdf5]] — byte-level format checks plus the distributed stack
  * round trip (reference `to_hdf5` / h5py ingest, `io/_store.py:331`). */
class Hdf5Spec extends AnyFunSuite {
  import TestSpark.spark

  test("h5Bytes -> datasets/parseData round-trips names, shapes, values") {
    val xs = Array.tabulate(37)(i => i * 1.5 - 3)
    val ys = Array.tabulate(12)(i => (i % 5).toDouble)
    val bytes = Hdf5.h5Bytes(Seq(("beta", xs, Seq(37L)), ("alpha", ys, Seq(3L, 4L))))
    val ds = Hdf5.datasets(bytes).sortBy(_.name)
    assert(ds.map(_.name) == Seq("alpha", "beta"))
    assert(ds(0).shape == Seq(3L, 4L) && ds(1).shape == Seq(37L))
    assert(ds.forall(_.dtype == "f8"))
    assert(Hdf5.parseData(bytes, ds(0)).toSeq == ys.toSeq)
    assert(Hdf5.parseData(bytes, ds(1)).toSeq == xs.toSeq)
  }

  test("a truncated contiguous dataset is rejected, not read as trailing zeros") {
    val bytes = Hdf5.h5Bytes(Seq(("data", Array.tabulate(64)(i => i + 1.0), Seq(64L))))
    val cut = bytes.take(bytes.length - 80)
    val e = intercept[IllegalArgumentException](Hdf5.parseData(cut, Hdf5.datasets(cut).head))
    assert(e.getMessage.contains("runs past"), e.getMessage)
  }

  test("format invariants: signature, superblock v0, EOF address") {
    val bytes = Hdf5.h5Bytes(Seq(("d", Array(1.0, 2.0), Seq(2L))))
    assert((bytes(0) & 0xff) == 0x89 && new String(bytes.slice(1, 4)) == "HDF")
    assert(bytes(8) == 0) // superblock version 0
    val eof = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .getLong(40)
    assert(eof == bytes.length.toLong, s"EOF address $eof != ${bytes.length}")
  }

  test("stack round trip: distributed write + header-manifest read") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-h5").toString
    val n = 1000L
    // sparse input (gaps must densify to zero in the written blocks)
    val el = s.range(n).selectExpr("id AS idx", "CAST(id * 3 % 17 AS DOUBLE) AS v")
      .where("idx % 7 <> 0")
    Hdf5.writeStack(el, dir, blockSize = 256, n = n)
    assert(new java.io.File(dir).listFiles.count(_.getName.endsWith(".h5")) == 4)
    val back = Hdf5.readStack(s, dir).orderBy("idx").collect()
    assert(back.length == n)
    back.foreach { r =>
      val idx = r.getLong(0)
      val want = if (idx % 7 == 0) 0.0 else (idx * 3 % 17).toDouble
      assert(r.getDouble(1) == want, s"idx $idx")
    }
  }

  test("chunked layout: ragged 1-d round trip through the v1 chunk B-tree") {
    val vals = Array.tabulate(100)(i => (i * 3 % 17).toDouble)
    val bytes = Hdf5.h5BytesChunked("d", vals, Seq(100L), Seq(32L))
    val ds = Hdf5.datasets(bytes)
    assert(ds.size == 1 && ds.head.name == "d")
    assert(ds.head.dataAddr == -3L && ds.head.chunkDims == Seq(32L))
    assert(Hdf5.parseData(bytes, ds.head).toSeq == vals.toSeq)
  }

  test("chunked layout: edge-chunk padding is clipped, never read as data") {
    // HDF5 stores edge chunks FULL-SIZE; the final chunk of 100/32 holds
    // 4 valid values + 28 padding slots. Poke garbage into the padded
    // tail bytes — the decode must clip it, not surface it.
    val vals = Array.tabulate(100)(i => (i % 7).toDouble)
    val bytes = Hdf5.h5BytesChunked("d", vals, Seq(100L), Seq(32L))
    // uncompressed chunk blobs sit at the file tail: the padded region
    // is the last 28 * 8 bytes of the file
    val patched = bytes.clone()
    for (k <- patched.length - 28 * 8 until patched.length)
      patched(k) = 0x5a.toByte
    val ds = Hdf5.datasets(patched).head
    val got = Hdf5.parseData(patched, ds)
    assert(got.length == 100 && got.toSeq == vals.toSeq,
      "padded edge-chunk bytes leaked into the decoded data")
  }

  test("chunked layout: shuffle + deflate pipeline round-trips") {
    val vals = Array.tabulate(257)(i => ((i * 31) % 101).toDouble - 50)
    val bytes = Hdf5.h5BytesChunked("d", vals, Seq(257L), Seq(64L),
      deflate = true, shuffle = true)
    val ds = Hdf5.datasets(bytes).head
    assert(ds.filters == Seq(2, 1), s"pipeline order wrong: ${ds.filters}")
    assert(bytes.length < 257 * 8, "deflate produced no compression on repetitive data")
    assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq)
  }

  test("chunked layout: rank-2 ragged grid reassembles in C order") {
    val vals = Array.tabulate(7 * 9)(i => (i * 13 % 23).toDouble)
    val bytes = Hdf5.h5BytesChunked("m", vals, Seq(7L, 9L), Seq(3L, 4L),
      deflate = true)
    val ds = Hdf5.datasets(bytes).head
    assert(ds.shape == Seq(7L, 9L) && ds.chunkDims == Seq(3L, 4L))
    assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq)
  }

  test("chunked layout: a MULTI-LEVEL chunk B-tree reads correctly") {
    // our writer emits one level-0 node; real libraries split big chunk
    // sets into internal+leaf nodes. Rewrite a 4-chunk file's index into
    // a depth-1 tree (internal node -> two 2-entry leaves, appended at
    // EOF) and patch the layout message's B-tree address — the reader's
    // recursive walk must reassemble identically.
    import java.nio.{ByteBuffer, ByteOrder}
    val vals = Array.tabulate(128)(i => ((i * 11) % 29).toDouble)
    val bytes = Hdf5.h5BytesChunked("d", vals, Seq(128L), Seq(32L))
    val ds0 = Hdf5.datasets(bytes).head
    val bt = ds0.btreeAddr.toInt
    val rd = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val used = rd.getShort(bt + 6)
    assert(used == 4, s"expected 4 chunks, got $used")
    val keySize = 8 + 8 * 2 // size+mask + (rank+1) offsets
    val stride = keySize + 8
    def entry(k: Int): Array[Byte] = {
      val a = new Array[Byte](stride)
      System.arraycopy(bytes, bt + 24 + k * stride, a, 0, stride)
      a
    }
    def node(level: Int, entries: Seq[Array[Byte]], finalKey: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(24 + entries.size * stride + keySize)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.put("TREE".getBytes("ASCII")); b.put(1.toByte); b.put(level.toByte)
      b.putShort(entries.size.toShort)
      b.putLong(-1L); b.putLong(-1L)
      entries.foreach(b.put)
      b.put(finalKey, 0, keySize)
      b.array()
    }
    def internalEntry(key: Array[Byte], child: Long): Array[Byte] = {
      val a = key.clone()
      ByteBuffer.wrap(a).order(ByteOrder.LITTLE_ENDIAN).putLong(keySize, child)
      a
    }
    val finalKey = entry(3).drop(0).take(keySize) // any key bytes; reader ignores
    val leafA = node(0, Seq(entry(0), entry(1)), finalKey)
    val leafB = node(0, Seq(entry(2), entry(3)), finalKey)
    val leafAAddr = bytes.length.toLong
    val leafBAddr = leafAAddr + leafA.length
    val rootAddr = leafBAddr + leafB.length
    val rootNode = node(1,
      Seq(internalEntry(entry(0), leafAAddr), internalEntry(entry(2), leafBAddr)),
      finalKey)
    val patched = bytes ++ leafA ++ leafB ++ rootNode
    // patch the layout message's btree address (version 3, class 2)
    var at = -1
    var i = 0
    while (at < 0 && i < patched.length - 12) {
      if (patched(i) == 0x08 && patched(i + 1) == 0 &&
          patched(i + 8) == 3 && patched(i + 9) == 2 &&
          ByteBuffer.wrap(patched).order(ByteOrder.LITTLE_ENDIAN)
            .getLong(i + 11) == ds0.btreeAddr) at = i + 11
      i += 1
    }
    assert(at > 0, "layout message not found to patch")
    ByteBuffer.wrap(patched).order(ByteOrder.LITTLE_ENDIAN).putLong(at, rootAddr)
    val ds = Hdf5.datasets(patched).head
    assert(ds.btreeAddr == rootAddr)
    assert(Hdf5.parseData(patched, ds).toSeq == vals.toSeq,
      "multi-level chunk B-tree reassembly diverged")
  }

  test("chunked layout fuzz: random shapes × chunk grids × filters round-trip") {
    // deterministic sweep over the codec's parameter space: ranks 1-3,
    // shapes that exercise exact-fit, ragged, and chunk-bigger-than-axis
    // grids, all four filter combinations — every cell must round-trip
    // bit-exactly (doubles compared by identity) through the v1 B-tree.
    val rnd = new scala.util.Random(0x5eed14)
    for (trial <- 0 until 40) {
      val rank = 1 + rnd.nextInt(3)
      val shape = Seq.fill(rank)(1L + rnd.nextInt(13))
      val chunks = shape.map(s =>
        1L + rnd.nextInt((s + 3).toInt)) // sometimes > axis: single padded chunk
      val n = shape.product.toInt
      val vals = Array.fill(n)((rnd.nextInt(2001) - 1000) * 0.25)
      val deflate = rnd.nextBoolean()
      val shuffle = rnd.nextBoolean()
      val bytes = Hdf5.h5BytesChunked("f", vals, shape, chunks,
        deflate = deflate, shuffle = shuffle)
      val ds = Hdf5.datasets(bytes).head
      assert(ds.shape == shape && ds.chunkDims == chunks,
        s"trial $trial meta: $ds vs shape=$shape chunks=$chunks")
      val got = Hdf5.parseData(bytes, ds)
      assert(got.toSeq == vals.toSeq,
        s"trial $trial (shape=$shape chunks=$chunks deflate=$deflate " +
          s"shuffle=$shuffle): first diff at " +
          got.toSeq.zip(vals.toSeq).indexWhere { case (a, b) => a != b })
    }
  }

  test("filter-pipeline message v2: built-in filters omit the Name Length field") {
    // r14 ADVICE (medium): v2 messages for id < 256 drop the Name Length
    // field — flags at +2, cvals at +4, client data unpadded. Parsing
    // them with v1 offsets walks a 2-filter shuffle+gzip message (the
    // common h5py pair) to a garbage offset. Rewrite the writer's v1
    // message body in v2 form in place; the parse must still see [2, 1]
    // and the data must still round-trip.
    val vals = Array.tabulate(96)(i => ((i * 7) % 31).toDouble)
    val bytes = Hdf5.h5BytesChunked("d", vals, Seq(96L), Seq(32L),
      deflate = true, shuffle = true)
    var patched: Array[Byte] = null
    var i = 0
    while (patched == null && i < bytes.length - 42) {
      // v1 message: type 0x000B, body at i+8 = [ver=1, nf=2, pad(6),
      // id=2 entry(16), id=1 entry(16)]
      if (bytes(i) == 0x0B && bytes(i + 1) == 0 && bytes(i + 8) == 1 &&
          bytes(i + 9) == 2 && bytes(i + 16) == 2 && bytes(i + 17) == 0) {
        val c = bytes.clone()
        val b = i + 8
        // v2 body: ver=2, nf=2, then per built-in filter:
        // id(2) flags(2) cvals(2) cdata(4*cvals) — no name, no padding
        val body = java.nio.ByteBuffer.wrap(c, b, 24).order(
          java.nio.ByteOrder.LITTLE_ENDIAN)
        body.put(2.toByte).put(2.toByte)
        body.putShort(2).putShort(0).putShort(1).putInt(8) // shuffle, es=8
        body.putShort(1).putShort(0).putShort(1).putInt(6) // deflate, lvl 6
        // zero the v1 body's remaining 16 bytes (message size unchanged;
        // the walker advances by the declared size, slack is ignored)
        java.util.Arrays.fill(c, b + 24, b + 40, 0.toByte)
        patched = c
      }
      i += 1
    }
    assert(patched != null, "v1 filter message not found to rewrite")
    val ds = Hdf5.datasets(patched).head
    assert(ds.filters == Seq(2, 1), s"v2 pipeline misparsed: ${ds.filters}")
    assert(Hdf5.parseData(patched, ds).toSeq == vals.toSeq)
  }

  test("unsupported filter ids are rejected loudly, not silently misread") {
    val bytes = Hdf5.h5BytesChunked("d",
      Array.tabulate(16)(_.toDouble), Seq(16L), Seq(8L), deflate = true)
    // find the filter-pipeline message (type 0x000B, version byte 1 at
    // body start) and flip the deflate id (1) to szip (4) — fletcher32
    // (3) is SUPPORTED since r15, so szip is now the rejection specimen
    var patched: Array[Byte] = null
    var i = 0
    while (patched == null && i < bytes.length - 18) {
      if (bytes(i) == 0x0B && bytes(i + 1) == 0 && bytes(i + 8) == 1 &&
          bytes(i + 9) == 1 && bytes(i + 16) == 1 && bytes(i + 17) == 0) {
        val c = bytes.clone(); c(i + 16) = 4; patched = c
      }
      i += 1
    }
    assert(patched != null, "filter message not found to patch")
    val e = intercept[IllegalArgumentException](Hdf5.datasets(patched))
    assert(e.getMessage.contains("filter id 4"))
  }

  test("v1 chunked writer: fletcher32 joins the shuffle+deflate pipeline") {
    // fletcher32 appears in 1.8-era v1-B-tree files too — the reader's
    // decode is format-version-independent, and the v1 writer now
    // proves it (the v4 matrix proves the latest-format half)
    val vals = Array.tabulate(100)(i => ((i * 19) % 41) - 20.0)
    val bytes = Hdf5.h5BytesChunked("d", vals, Seq(100L), Seq(32L),
      deflate = true, shuffle = true, fletcher = true)
    val ds = Hdf5.datasets(bytes).head
    assert(ds.filters == Seq(2, 1, 3), s"pipeline order: ${ds.filters}")
    assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq)
    // flip one chunk byte: the checksum must catch it loudly
    val corrupt = bytes.clone()
    corrupt(corrupt.length - 9) = (corrupt(corrupt.length - 9) ^ 0x11).toByte
    val e = intercept[RuntimeException](
      Hdf5.parseData(corrupt, Hdf5.datasets(corrupt).head))
    assert(e.getMessage.contains("fletcher32") || e.getMessage.contains("deflate"),
      e.getMessage)
  }

  test("stack read accepts v4 latest-format block files (mixed-version stacks)") {
    // a real corpus's block files can come from different writers; the
    // stack reader's per-file dispatch must handle a v3-superblock file
    // exactly like a v0 one
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-h5v4").toString
    val blocks = Seq(
      Array.tabulate(256)(i => (i % 11).toDouble),
      Array.tabulate(256)(i => ((i * 3) % 7).toDouble),
      Array.tabulate(100)(i => (i % 5).toDouble))
    blocks.zipWithIndex.foreach { case (vs, k) =>
      val bytes =
        if (k == 1) Hdf5.h5Bytes(Seq(("data", vs, Seq(vs.length.toLong)))) // v0
        else Hdf5V4.h5BytesV4("data", vs, Seq(vs.length.toLong), Seq(64L),
          "fixed", deflate = true, shuffle = true) // v3 superblock
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"$k.h5"), bytes)
    }
    val back = Hdf5.readStack(s, dir).orderBy("idx").collect()
    assert(back.length == 612)
    val want = blocks.flatten
    back.zipWithIndex.foreach { case (r, i) =>
      assert(r.getDouble(1) == want(i), s"idx $i")
    }
  }

  test("OHDR continuation blocks (OCHK) parse: layout message moved past chunk 0") {
    // no writer emits continuations, but external 1.10+ files do — move
    // the dataset OHDR's LAST message (the layout) into an OCHK block
    // appended at EOF, replacing it in chunk 0 with a continuation
    // message + NIL filler of identical total size, and re-checksum.
    import java.nio.{ByteBuffer, ByteOrder}
    val vals = Array.tabulate(64)(i => (i % 9).toDouble)
    val bytes = Hdf5V4.h5BytesV4("d", vals, Seq(64L), Seq(16L), "fixed")
    val ds0 = Hdf5.datasets(bytes).head
    // locate the dataset OHDR (addr 48 by the writer's layout)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    assert(new String(bytes, 48, 4, "ASCII") == "OHDR")
    val chunk0Size = bb.getInt(48 + 6)
    val msgStart = 48 + 10
    // walk to the last message (type 0x08 layout)
    var p = msgStart
    var layoutAt = -1
    while (p < msgStart + chunk0Size) {
      val t = bytes(p) & 0xff
      val sz = bb.getShort(p + 1) & 0xffff
      if (t == 0x08) layoutAt = p
      p += 4 + sz
    }
    assert(layoutAt > 0, "layout message not found")
    val layoutSz = bb.getShort(layoutAt + 1) & 0xffff
    val total = 4 + layoutSz // bytes the replacement must fill exactly
    assert(total >= 20 + 4, "layout too small to hold continuation + NIL")
    val ochkAddr = bytes.length.toLong
    val ochkLen = 4 + 4 + layoutSz + 4 // sig + msg hdr + body + checksum
    val out = ByteBuffer.allocate(bytes.length + ochkLen)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put(bytes)
    // build the OCHK block: sig + the original layout message + checksum
    val ochkStart = out.position()
    out.put("OCHK".getBytes("ASCII"))
    out.put(bytes, layoutAt, 4 + layoutSz)
    out.putInt(Hdf5V4.lookup3(out.array(), ochkStart, out.position() - ochkStart))
    val patched = out.array()
    // overwrite the old layout slot: continuation msg (type 0x10, 16-byte
    // body) + a NIL message absorbing the remainder
    val pb = ByteBuffer.wrap(patched).order(ByteOrder.LITTLE_ENDIAN)
    pb.position(layoutAt)
    pb.put(0x10.toByte); pb.putShort(16); pb.put(0.toByte)
    pb.putLong(ochkAddr); pb.putLong(ochkLen.toLong)
    val nilBody = total - 20 - 4
    pb.put(0.toByte); pb.putShort(nilBody.toShort); pb.put(0.toByte)
    // re-checksum chunk 0 (over sig..end of messages)
    pb.putInt(msgStart + chunk0Size,
      Hdf5V4.lookup3(patched, 48, msgStart + chunk0Size - 48))
    val ds = Hdf5.datasets(patched).head
    assert(ds.idxType == ds0.idxType && ds.chunkDims == ds0.chunkDims,
      s"continuation-parsed meta diverged: $ds vs $ds0")
    assert(Hdf5.parseData(patched, ds).toSeq == vals.toSeq,
      "OCHK-relocated layout message mis-parsed")
  }

  // ------------------------------------------------- layout v4 (1.10+)

  test("lookup3 and fletcher32 checksum primitives match their contracts") {
    // lookup3(""): the algorithm returns c = 0xdeadbeef + len + init
    // untouched when len == 0
    assert(Hdf5V4.lookup3(Array.empty, 0, 0) == 0xdeadbeef)
    assert(Hdf5V4.lookup3(Array.empty, 0, 0, 7) == 0xdeadbeef + 7)
    // fletcher32 pins the HDF5 convention: 16-bit words assembled
    // BIG-endian, odd trailing byte high-padded
    assert(Hdf5V4.fletcher32(Array[Byte](0x61, 0x62), 0, 2) == 0x61626162)
    assert(Hdf5V4.fletcher32(Array[Byte](0x61), 0, 1) == 0x61006100)
    assert(Hdf5V4.fletcher32(Array.empty, 0, 0) == 0)
    // and the 360-word modular reduction actually reduces (no overflow
    // into garbage on a long input)
    val big = Array.fill[Byte](4096)(0xFF.toByte)
    val ck = Hdf5V4.fletcher32(big, 0, big.length)
    assert(ck != 0 && ck == Hdf5V4.fletcher32(big.clone(), 0, big.length))
  }

  test("v4 layouts: index-type x filter matrix round-trips (superblock v3, OHDR)") {
    val filterCombos = Seq(
      (false, false, false), (true, true, false),
      (false, false, true), (true, true, true))
    for {
      idx <- Seq("single", "implicit", "fixed", "ext", "btree2")
      (defl, shuf, fle) <- filterCombos
      if !(idx == "implicit" && (defl || shuf || fle))
    } {
      // single needs a one-chunk grid; the others get a ragged 17-chunk one
      val (shape, chunks) =
        if (idx == "single") (Seq(40L), Seq(64L)) else (Seq(257L), Seq(16L))
      val vals = Array.tabulate(shape.head.toInt)(i => ((i * 31) % 101) - 50.0)
      val bytes = Hdf5V4.h5BytesV4("d", vals, shape, chunks, idx,
        deflate = defl, shuffle = shuf, fletcher = fle)
      assert(bytes(8) == 3, "superblock must be version 3")
      val ds = Hdf5.datasets(bytes) match {
        case Seq(one) => one
        case other => fail(s"$idx: expected 1 dataset, got $other")
      }
      val wantIdx = Map("single" -> 1, "implicit" -> 2, "fixed" -> 3,
        "ext" -> 4, "btree2" -> 5)(idx)
      assert(ds.idxType == wantIdx && ds.chunkDims == chunks,
        s"$idx/$defl$shuf$fle meta: $ds")
      val wantFilters = (if (shuf) Seq(2) else Nil) ++
        (if (defl) Seq(1) else Nil) ++ (if (fle) Seq(3) else Nil)
      assert(ds.filters == wantFilters, s"$idx filters: ${ds.filters}")
      assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq,
        s"$idx deflate=$defl shuffle=$shuf fletcher=$fle diverged")
    }
  }

  test("v4 fixed array: PAGED data block (small page bits) round-trips") {
    val vals = Array.tabulate(257)(i => (i % 13).toDouble)
    val bytes = Hdf5V4.h5BytesV4("d", vals, Seq(257L), Seq(16L), "fixed",
      deflate = true, faPageBits = 2) // 17 chunks / 4-entry pages = 5 pages
    val ds = Hdf5.datasets(bytes).head
    assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq)
  }

  test("v4 extensible array: elements spill past the index block into an EASB") {
    // 300 chunks: 4 index-block elements + the 6 directly-addressed data
    // blocks (16+32+32+32+64+64 = 240) + 56 more through super block 4
    val vals = Array.tabulate(2400)(i => ((i * 7) % 29).toDouble)
    val bytes = Hdf5V4.h5BytesV4("d", vals, Seq(2400L), Seq(8L), "ext")
    assert(new String(bytes).contains("EASB"), "expected a super block")
    val ds = Hdf5.datasets(bytes).head
    assert(ds.maxDims.headOption.contains(-1L), "dim 0 must be unlimited")
    assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq)
    // filtered variant (wider index elements)
    val bytesF = Hdf5V4.h5BytesV4("d", vals, Seq(2400L), Seq(8L), "ext",
      deflate = true, shuffle = true)
    val dsF = Hdf5.datasets(bytesF).head
    assert(Hdf5.parseData(bytesF, dsF).toSeq == vals.toSeq)
  }

  test("v4 extensible array: PAGED data blocks (small page bits) round-trip") {
    // eaPageBits = 6 pages 64 elements: sblks 0-3 (index-block dblks,
    // nelmts 16-64) stay non-paged, sblk 5's 128-element dblks page
    // into 2 pages each with per-page checksums and a super-block
    // page-init bitmap. 600 chunks reaches sblk 5.
    val vals = Array.tabulate(1200)(i => ((i * 13) % 31) - 15.0)
    val bytes = Hdf5V4.h5BytesV4("d", vals, Seq(1200L), Seq(2L), "ext",
      eaPageBits = 6)
    val ds = Hdf5.datasets(bytes).head
    assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq)
    // filtered variant too (wider elements, same paging)
    val bytesF = Hdf5V4.h5BytesV4("d", vals, Seq(1200L), Seq(2L), "ext",
      deflate = true, eaPageBits = 6)
    assert(Hdf5.parseData(bytesF, Hdf5.datasets(bytesF).head).toSeq == vals.toSeq)
    // an uninitialized page must read as fill, not garbage: clear one
    // page-init bit in sblk 5's bitmap (the SECOND EASB — the first,
    // sblk 4, holds 64-element non-paged dblks and has NO bitmap)
    val patched = bytes.clone()
    val easbs = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < patched.length - 4) {
      if (patched(i) == 'E' && patched(i + 1) == 'A' && patched(i + 2) == 'S' &&
          patched(i + 3) == 'B') easbs += i
      i += 1
    }
    assert(easbs.size == 2, s"expected sblk-4 and sblk-5 EASBs, got $easbs")
    val at = easbs(1)
    // bitmap starts after sig(4)+ver+client(2)+hdrAddr(8)+blockOffset(4)
    patched(at + 18) = (patched(at + 18) & ~1).toByte // page 0 of dblk 0
    val got = Hdf5.parseData(patched, Hdf5.datasets(patched).head)
    val cleared = got.zip(vals).count { case (g, v) => g == 0.0 && v != 0.0 }
    // page 0 of sblk 5's first dblk = 64 chunks × 2 values, starting at
    // element 500·2 = 1000; a few true zeros in the pattern stay zeros
    assert(cleared > 0 && cleared <= 64 * 2,
      s"expected one 64-chunk page to fall to fill, got $cleared cleared values")
    assert(got.take(1000).toSeq == vals.take(1000).toSeq,
      "elements before the cleared page must be untouched")
  }

  test("v4 v2-B-tree: depth-1 tree (internal root + leaves) round-trips") {
    // 125 chunks > the 31-record leaf capacity at node size 512
    val vals = Array.tabulate(2000)(i => ((i * 11) % 37) - 18.0)
    val bytes = Hdf5V4.h5BytesV4("d", vals, Seq(2000L), Seq(16L), "btree2")
    assert(new String(bytes).contains("BTIN"), "expected an internal node")
    val ds = Hdf5.datasets(bytes).head
    assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq)
  }

  test("v4 rank-2 grid: corners reassemble in C order through a fixed array") {
    val vals = Array.tabulate(7 * 9)(i => (i * 13 % 23).toDouble)
    val bytes = Hdf5V4.h5BytesV4("m", vals, Seq(7L, 9L), Seq(3L, 4L), "fixed",
      deflate = true, shuffle = true, fletcher = true)
    val ds = Hdf5.datasets(bytes).head
    assert(ds.shape == Seq(7L, 9L) && ds.chunkDims == Seq(3L, 4L))
    assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq)
  }

  test("fletcher32 catches a corrupted chunk instead of surfacing garbage") {
    val vals = Array.tabulate(64)(_.toDouble)
    val bytes = Hdf5V4.h5BytesV4("d", vals, Seq(64L), Seq(64L), "single",
      fletcher = true)
    val ds = Hdf5.datasets(bytes).head
    assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq)
    val corrupt = bytes.clone()
    corrupt(corrupt.length - 100) = (corrupt(corrupt.length - 100) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException](
      Hdf5.parseData(corrupt, Hdf5.datasets(corrupt).head))
    assert(e.getMessage.contains("fletcher32"), e.getMessage)
  }

  test("v4 fuzz: random shapes x chunk grids x index types x filters round-trip") {
    val rnd = new scala.util.Random(0x5eed15)
    for (trial <- 0 until 30) {
      val rank = 1 + rnd.nextInt(3)
      val shape = Seq.fill(rank)(1L + rnd.nextInt(13))
      val chunks = shape.map(s => 1L + rnd.nextInt((s + 3).toInt))
      val grid1 = shape.zip(chunks).forall { case (s, c) => c >= s }
      val idx =
        if (grid1) Seq("single", "fixed", "ext", "btree2")(rnd.nextInt(4))
        else Seq("implicit", "fixed", "ext", "btree2")(rnd.nextInt(4))
      val deflate = rnd.nextBoolean() && idx != "implicit"
      val shuffle = rnd.nextBoolean() && idx != "implicit"
      val fletch = rnd.nextBoolean() && idx != "implicit"
      val n = shape.product.toInt
      val vals = Array.fill(n)((rnd.nextInt(2001) - 1000) * 0.25)
      val bytes = Hdf5V4.h5BytesV4("f", vals, shape, chunks, idx,
        deflate = deflate, shuffle = shuffle, fletcher = fletch)
      val ds = Hdf5.datasets(bytes).head
      assert(ds.shape == shape && ds.chunkDims == chunks,
        s"trial $trial meta: $ds vs shape=$shape chunks=$chunks idx=$idx")
      assert(Hdf5.parseData(bytes, ds).toSeq == vals.toSeq,
        s"trial $trial (shape=$shape chunks=$chunks idx=$idx " +
          s"deflate=$deflate shuffle=$shuffle fletcher=$fletch)")
    }
  }

  /** In-place patch of the v4 data-layout message inside a written
    * latest-format file: walks every OHDR's message stream, applies `f`
    * to the 0x08 message body, and recomputes that OHDR's lookup3
    * checksum (the writer puts it right after chunk 0). */
  private def patchV4Layout(bytes: Array[Byte])(f: (Array[Byte], Int) => Unit): Array[Byte] = {
    val out = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    var patched = false
    while (i < out.length - 4) {
      if (out(i) == 'O' && out(i + 1) == 'H' && out(i + 2) == 'D' && out(i + 3) == 'R') {
        val c0 = bb.getInt(i + 6) // writer always emits 4-byte chunk-0 size
        var p = i + 10
        val end = i + 10 + c0
        while (p < end) {
          val t = out(p) & 0xff
          val sz = bb.getShort(p + 1) & 0xffff
          if (t == 0x08) { f(out, p + 4); patched = true }
          p += 4 + sz
        }
        bb.putInt(end, Hdf5V4.lookup3(out, i, 10 + c0))
        i = end + 4
      } else i += 1
    }
    assert(patched, "no v4 layout message found to patch")
    out
  }

  test("v4 DONT_FILTER_PARTIAL_BOUND_CHUNKS + ragged edge + filters is refused loudly") {
    // r15 ADVICE #1: bit 0 of the layout flags (H5Pset_chunk_opts) means
    // edge chunks are stored UNFILTERED; applying the inverse pipeline
    // to them silently returns garbage under a shuffle-only pipeline.
    // The reader must refuse the combination rather than mis-decode.
    val vals = Array.tabulate(20)(_.toDouble)
    val bytes = Hdf5V4.h5BytesV4("d", vals, Seq(20L), Seq(16L), "fixed",
      shuffle = true) // 20 % 16 != 0 -> ragged edge chunk
    val flagged = patchV4Layout(bytes) { (b, body) =>
      b(body + 2) = (b(body + 2) | 0x01).toByte // layout flags byte
    }
    val e = intercept[IllegalArgumentException](Hdf5.datasets(flagged))
    assert(e.getMessage.contains("DONT_FILTER_PARTIAL_BOUND_CHUNKS"), e.getMessage)

    // the SAME flag on an exactly-tiled dataset is harmless: every chunk
    // is a full chunk, so nothing was stored unfiltered — must still read
    val vals32 = Array.tabulate(32)(i => (i * 3 % 17).toDouble)
    val tiled = Hdf5V4.h5BytesV4("d", vals32, Seq(32L), Seq(16L), "fixed",
      shuffle = true)
    val tiledFlagged = patchV4Layout(tiled) { (b, body) =>
      b(body + 2) = (b(body + 2) | 0x01).toByte
    }
    val ds = Hdf5.datasets(tiledFlagged).head
    assert(Hdf5.parseData(tiledFlagged, ds).toSeq == vals32.toSeq)

    // and ragged + flag with NO filter pipeline is also fine (nothing to
    // mis-apply) — the guard keys on the filters, not the flag alone
    val plain = Hdf5V4.h5BytesV4("d", vals, Seq(20L), Seq(16L), "fixed")
    val plainFlagged = patchV4Layout(plain) { (b, body) =>
      b(body + 2) = (b(body + 2) | 0x01).toByte
    }
    val dsP = Hdf5.datasets(plainFlagged).head
    assert(Hdf5.parseData(plainFlagged, dsP).toSeq == vals.toSeq)
  }

  test("dense root group: 10 datasets through a fractal heap + name index") {
    // r15 verdict "next" #2: h5py/libhdf5 switch a latest-format group
    // from compact link messages to DENSE storage (fractal heap + v2
    // B-tree name index) past ~8 links, so any wide real file hits it.
    // Single root direct block shape: 10 short link records fit in the
    // default 512 B starting block.
    val ds = (0 until 10).map(i =>
      (s"data_$i", Array.tabulate(16 + i)(j => (j * 7 % 13) + i * 100.0)))
    val bytes = Hdf5V4.h5BytesV4Dense(ds)
    val got = Hdf5.datasets(bytes)
    assert(got.map(_.name).sorted == ds.map(_._1).sorted,
      s"names: ${got.map(_.name).sorted}")
    ds.foreach { case (nm, vals) =>
      val d = got.find(_.name == nm).get
      assert(d.shape == Seq(vals.length.toLong), s"$nm shape ${d.shape}")
      assert(Hdf5.parseData(bytes, d).toSeq == vals.toSeq, s"$nm values")
    }
  }

  test("dense root group: multi-direct-block heap behind a root indirect block") {
    // 40 longer-named datasets with a 64 B starting block: the link
    // records overflow into several direct blocks across rows of
    // doubling sizes, so the reader must walk the FHIB child table and
    // map global heap offsets through per-block offsets.
    val ds = (0 until 40).map(i =>
      (f"measurement_series_$i%02d", Array.tabulate(8)(j => i * 1000.0 + j)))
    val bytes = Hdf5V4.h5BytesV4Dense(ds, startBlockSize = 64)
    assert(new String(bytes, "ISO-8859-1").contains("FHIB"),
      "fixture must actually contain a root indirect block")
    val got = Hdf5.datasets(bytes)
    assert(got.map(_.name).sorted == ds.map(_._1).sorted)
    ds.foreach { case (nm, vals) =>
      val d = got.find(_.name == nm).get
      assert(Hdf5.parseData(bytes, d).toSeq == vals.toSeq, s"$nm values")
    }
  }

  test("nested groups, v0 era: slash paths round-trip through symbol tables") {
    // the reference's to_hdf5 takes nested paths ('/g/x') and h5py
    // creates the intermediate groups — a group member used to be
    // silently skipped by the root-only enumeration (r16). Three levels,
    // mixed root datasets and nested ones.
    val a = Array.tabulate(10)(_ * 2.0)
    val b = Array.tabulate(12)(i => (i % 5).toDouble)
    val c = Array.tabulate(6)(_ + 100.0)
    val d = Array.tabulate(8)(i => -i.toDouble)
    val bytes = Hdf5.h5Bytes(Seq(
      ("top", a, Seq(10L)),
      ("/grp/x", b, Seq(3L, 4L)),       // leading slash accepted
      ("grp/y", c, Seq(6L)),
      ("grp/deeper/z", d, Seq(8L))))
    val ds = Hdf5.datasets(bytes)
    assert(ds.map(_.name).sorted == Seq("grp/deeper/z", "grp/x", "grp/y", "top"))
    assert(Hdf5.parseData(bytes, ds.find(_.name == "grp/x").get).toSeq == b.toSeq)
    assert(Hdf5.parseData(bytes, ds.find(_.name == "grp/deeper/z").get).toSeq == d.toSeq)
    assert(Hdf5.parseData(bytes, ds.find(_.name == "top").get).toSeq == a.toSeq)
    assert(ds.find(_.name == "grp/x").get.shape == Seq(3L, 4L))
    // a dataset path conflicting with a group name is refused at write
    val e = intercept[IllegalArgumentException](Hdf5.h5Bytes(Seq(
      ("grp", a, Seq(10L)), ("grp/x", b, Seq(12L)))))
    assert(e.getMessage.contains("both a dataset and a group"))
    // trailing/double slashes are rejected, never silently collapsed
    // onto the slashless sibling path (r16 review: 'a/b/' used to
    // overwrite 'a/b' because split drops trailing empty segments)
    intercept[IllegalArgumentException](
      Hdf5.h5Bytes(Seq(("a/b/", a, Seq(10L)))))
    intercept[IllegalArgumentException](
      Hdf5.h5Bytes(Seq(("a//b", a, Seq(10L)))))
    intercept[IllegalArgumentException](
      Hdf5V4.h5BytesV4Dense(Seq("a/b/" -> a)))
  }

  test("nested groups, latest format: dense root + compact subgroups") {
    // root members (2 groups + 2 datasets + filler to stay realistic)
    // go through the fractal heap; subgroup members through compact
    // link messages — the reader classifies each child by its own OHDR
    val ds = Seq(
      "alpha" -> Array.tabulate(16)(_ * 1.0),
      "beta" -> Array.tabulate(8)(_ * 3.0),
      "g1/x" -> Array.tabulate(5)(_ + 0.5),
      "g1/y" -> Array.tabulate(7)(i => (i * i).toDouble),
      "g1/sub/q" -> Array.tabulate(4)(_ - 2.0),
      "g2/z" -> Array.tabulate(9)(i => 1.0 / (i + 1)))
    val bytes = Hdf5V4.h5BytesV4Dense(ds)
    val got = Hdf5.datasets(bytes)
    assert(got.map(_.name).sorted ==
      Seq("alpha", "beta", "g1/sub/q", "g1/x", "g1/y", "g2/z"))
    ds.foreach { case (nm, vals) =>
      val want = nm.stripPrefix("/")
      assert(Hdf5.parseData(bytes, got.find(_.name == want).get).toSeq == vals.toSeq,
        s"$nm values")
    }
  }

  /** Byte offset of the first `sig` occurrence (test-side structure
    * locator for in-place corruption). */
  private def sigAt(bytes: Array[Byte], sig: String): Int = {
    val s = sig.getBytes("ASCII")
    var i = 0
    while (i < bytes.length - s.length) {
      if ((0 until s.length).forall(k => bytes(i + k) == s(k))) return i
      i += 1
    }
    fail(s"no $sig structure in fixture")
  }

  test("dense-group reject paths fire loudly (filtered heap, huge/tiny, child indirect, bad heap id)") {
    val ds = (0 until 10).map(i => (s"d$i", Array.tabulate(4)(j => i * 10.0 + j)))
    val bytes = Hdf5V4.h5BytesV4Dense(ds)
    def patched(f: (Array[Byte], Int) => Unit): Array[Byte] = {
      val out = bytes.clone()
      f(out, sigAt(out, "FRHP"))
      out
    }
    val bb = (a: Array[Byte]) =>
      java.nio.ByteBuffer.wrap(a).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // I/O-filtered direct blocks: encoded-filter length != 0
    val filtered = patched((a, h) => bb(a).putShort(h + 7, 1.toShort))
    val e1 = intercept[IllegalArgumentException](Hdf5.datasets(filtered))
    assert(e1.getMessage.contains("I/O-filtered"), e1.getMessage)
    // huge objects present: nHuge at header+86
    val huge = patched((a, h) => bb(a).putLong(h + 86, 1L))
    val e2 = intercept[IllegalArgumentException](Hdf5.datasets(huge))
    assert(e2.getMessage.contains("huge(1)"), e2.getMessage)
    // child indirect blocks: curRows beyond the direct-row limit
    // (start block 512, max direct 8 KiB -> 6 direct rows)
    val deep = patched((a, h) => bb(a).putShort(h + 140, 7.toShort))
    val e3 = intercept[IllegalArgumentException](Hdf5.datasets(deep))
    assert(e3.getMessage.contains("child indirect blocks"), e3.getMessage)
    // non-managed heap id: flip the first name-index record's id byte
    // to the huge-object type (0x10)
    val badId = bytes.clone()
    badId(sigAt(badId, "BTLF") + 6 + 4) = 0x10.toByte
    val e4 = intercept[IllegalArgumentException](Hdf5.datasets(badId))
    assert(e4.getMessage.contains("not a managed v0 id"), e4.getMessage)
  }

  test("dense/nested fuzz: random trees x member counts x block sizes round-trip") {
    val rnd = new scala.util.Random(0xd1cebead)
    for (trial <- 0 until 12) {
      val nTop = 1 + rnd.nextInt(14)
      val paths = scala.collection.mutable.LinkedHashMap.empty[String, Array[Double]]
      (0 until nTop).foreach { i =>
        val depth = rnd.nextInt(3)
        val segs = (0 until depth).map(k => s"g${i % 3}_$k") :+ f"leaf_$trial%02d_$i%02d"
        val nm = segs.mkString("/")
        if (!paths.contains(nm))
          paths(nm) = Array.tabulate(1 + rnd.nextInt(9))(j => trial * 100.0 + i + j * 0.25)
      }
      val startBlk = Seq(64, 128, 512)(rnd.nextInt(3))
      val bytes =
        try Hdf5V4.h5BytesV4Dense(paths.toSeq, startBlockSize = startBlk)
        catch { case e: IllegalArgumentException
          if e.getMessage.contains("both a dataset and a group") =>
            // a generated leaf collided with a group prefix — valid reject
            null
        }
      if (bytes != null) {
        val got = Hdf5.datasets(bytes)
        assert(got.map(_.name).sorted == paths.keys.toSeq.sorted,
          s"trial $trial names (startBlk=$startBlk)")
        paths.foreach { case (nm, vals) =>
          assert(Hdf5.parseData(bytes, got.find(_.name == nm).get).toSeq == vals.toSeq,
            s"trial $trial $nm")
        }
      }
      // v0 era: same tree through the symbol-table writer when each
      // group stays within its 8-member SNOD bound
      val v0ok =
        try {
          val b0 = Hdf5.h5Bytes(paths.toSeq.map { case (nm, vs) =>
            (nm, vs, Seq(vs.length.toLong)) })
          Some(b0)
        } catch { case e: IllegalArgumentException
          if e.getMessage.contains("members per group") ||
             e.getMessage.contains("both a dataset and a group") => None
        }
      v0ok.foreach { b0 =>
        val got0 = Hdf5.datasets(b0)
        assert(got0.map(_.name).sorted == paths.keys.toSeq.sorted, s"trial $trial v0")
      }
    }
  }

  test("v4 layout class 3 (virtual storage) is refused with a descriptive error") {
    // r15 ADVICE #5: an unhandled layout class used to surface as a bare
    // scala.MatchError; it must get the same loud descriptive rejection
    // as every other unsupported shape.
    val bytes = Hdf5V4.h5BytesV4("d", Array.tabulate(8)(_.toDouble),
      Seq(8L), Seq(8L), "single")
    val virt = patchV4Layout(bytes) { (b, body) =>
      b(body + 1) = 3.toByte // layout class byte: chunked(2) -> virtual(3)
    }
    val e = intercept[IllegalArgumentException](Hdf5.datasets(virt))
    assert(e.getMessage.contains("layout class 3") &&
      e.getMessage.contains("virtual"), e.getMessage)
  }

  // ------------------------------------------------- golden writer bytes

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"$x%02x").mkString

  /** One file per writer option on fixed inputs: `h5Bytes` flat and
    * nested, `h5BytesChunked` under every filter subset, `h5BytesV4` under
    * every index type with and without filters (plus the rank-2, paged,
    * super-block and depth-1 index shapes), `h5BytesV4Dense` with one
    * direct block, with a root indirect block, and nested. */
  private def goldenFiles: Seq[(String, Array[Byte])] = {
    val xs = Array.tabulate(37)(i => i * 1.5 - 3)
    val ys = Array.tabulate(12)(i => (i % 5).toDouble)
    val grid = Array.tabulate(7 * 9)(i => (i * 13 % 23) - 4.5)
    val v0 = Seq(
      "h5Bytes flat" -> Hdf5.h5Bytes(Seq(("beta", xs, Seq(37L)), ("alpha", ys, Seq(3L, 4L)))),
      "h5Bytes nested" -> Hdf5.h5Bytes(Seq(("top", xs, Seq(37L)),
        ("/grp/x", ys, Seq(3L, 4L)), ("grp/deeper/z", grid, Seq(7L, 9L)))))
    val chunked = for (d <- Seq(false, true); s <- Seq(false, true); f <- Seq(false, true))
      yield s"h5BytesChunked deflate=$d shuffle=$s fletcher=$f" ->
        Hdf5.h5BytesChunked("d", grid, Seq(7L, 9L), Seq(3L, 4L),
          deflate = d, shuffle = s, fletcher = f)
    val v = Array.tabulate(2400)(i => ((i * 31) % 101) - 50.0)
    def v4(n: Int, chunk: Long, idx: String, filt: Boolean, fa: Int = 10, ea: Int = 10) =
      Hdf5V4.h5BytesV4("d", v.take(n), Seq(n.toLong), Seq(chunk), idx,
        deflate = filt, shuffle = filt, fletcher = filt, faPageBits = fa, eaPageBits = ea)
    val latest = for {
      idx <- Seq("single", "implicit", "fixed", "ext", "btree2")
      filt <- Seq(false, true) if !(idx == "implicit" && filt)
    } yield s"h5BytesV4 $idx filters=$filt" ->
      (if (idx == "single") v4(40, 64L, idx, filt) else v4(257, 16L, idx, filt))
    val shapes = Seq(
      "h5BytesV4 fixed rank-2" -> Hdf5V4.h5BytesV4("d", grid, Seq(7L, 9L), Seq(3L, 4L),
        "fixed", deflate = true),
      "h5BytesV4 btree2 rank-2" -> Hdf5V4.h5BytesV4("d", grid, Seq(7L, 9L), Seq(3L, 4L),
        "btree2", shuffle = true, fletcher = true),
      "h5BytesV4 fixed paged" -> v4(257, 16L, "fixed", filt = true, fa = 2),
      "h5BytesV4 ext super block" -> v4(2400, 8L, "ext", filt = false),
      "h5BytesV4 ext paged" -> v4(1200, 2L, "ext", filt = true, ea = 6),
      "h5BytesV4 btree2 depth-1" -> v4(2000, 16L, "btree2", filt = false))
    val dense = Seq(
      "h5BytesV4Dense one block" -> Hdf5V4.h5BytesV4Dense((0 until 10).map(i =>
        (s"data_$i", Array.tabulate(16 + i)(j => (j * 7 % 13) + i * 100.0)))),
      "h5BytesV4Dense FHIB" -> Hdf5V4.h5BytesV4Dense((0 until 40).map(i =>
        (f"measurement_series_$i%02d", Array.tabulate(8)(j => i * 1000.0 + j))),
        startBlockSize = 64),
      "h5BytesV4Dense nested" -> Hdf5V4.h5BytesV4Dense(Seq(
        "alpha" -> xs, "g1/x" -> ys, "g1/sub/q" -> grid, "g2/z" -> xs.take(5))))
    v0 ++ chunked ++ latest ++ shapes ++ dense
  }

  /** sha256 of each [[goldenFiles]] entry. */
  private val goldenSha256: Map[String, String] = Map(
    "h5Bytes flat" -> "135ddf13eab30f53f869ce7bcb934c085e268a25e6f515f6b5e8e2e262665e04",
    "h5Bytes nested" -> "946e04ad457e87ce5f9527e8381fb3256a0011e8504265c87e2592679e036921",
    "h5BytesChunked deflate=false shuffle=false fletcher=false" -> "491a25045a229e2600e1acddba349d03e8cac44748f02d739ccba61f4a6fdf97",
    "h5BytesChunked deflate=false shuffle=false fletcher=true" -> "1b8fea6b3fc81e7deecadcd6910b881cb07529c1b371c60696ae30f1ad3f4a8d",
    "h5BytesChunked deflate=false shuffle=true fletcher=false" -> "acf1ad92c7dfd65533d1b49b9b0563b458656d5ba6d35ffeb4deeabbfa7d2861",
    "h5BytesChunked deflate=false shuffle=true fletcher=true" -> "18c0fe5915931e67ad7fb6dccbb8ed245f18957fda7629a096c7eaa1f0125270",
    "h5BytesChunked deflate=true shuffle=false fletcher=false" -> "c62bf363baa401df8dc47082ffc7dbe90d33b37fdeb26643a06e6daeb77d5ea6",
    "h5BytesChunked deflate=true shuffle=false fletcher=true" -> "7cc3da1a9670cc15c76476379b5e7fb74e0b47e84eb8ee5d75efd91110ba395b",
    "h5BytesChunked deflate=true shuffle=true fletcher=false" -> "0e61e7590e5d8c079c2139e2fe04c6e26a842a14ac0b63461c6bff03d610c890",
    "h5BytesChunked deflate=true shuffle=true fletcher=true" -> "84e01093de9c9748f96f14b5998062bc6e98d3c2cc1fc7f26e8c0f3e066e1f5b",
    "h5BytesV4 btree2 depth-1" -> "3ece8bc6e7289c25b9b1b99e72288bc68fc0c1c5a170fcff7c89cebd903ae94b",
    "h5BytesV4 btree2 filters=false" -> "58f42d0a8692cfd1c8dcf315fcd6e79379b0413555fa91f718dc591c9d95ae35",
    "h5BytesV4 btree2 filters=true" -> "eb06aa3910c3e87040f755ab2eb20cee0938d8c22fdf9088474b98c5eb1b3865",
    "h5BytesV4 btree2 rank-2" -> "4687a750e3ab21f57c02dc85a3f2354cfdc26114d0401057f2bdaee9beb816fc",
    "h5BytesV4 ext filters=false" -> "d2b7af37eb8acbf42799edc98569bed87b5acc3a8e003f8dbc163f61d7a88be9",
    "h5BytesV4 ext filters=true" -> "decc9bd6e59a8384231a69c316516214b2b53fe09a1bbb8d99c0d854c82c5775",
    "h5BytesV4 ext paged" -> "d6fa3aefadf91fa116ed4a406535448bd74f9ea746aec6249b9ba9ca9cbacc85",
    "h5BytesV4 ext super block" -> "bd0c229c80af10570958219b9cf007d248603ad04cece5ea955ecc342f8b35b1",
    "h5BytesV4 fixed filters=false" -> "7a6c7084ef253c0fccf32d05bdf4d1d2df91f83a737e248b9b44ee410f5473b7",
    "h5BytesV4 fixed filters=true" -> "9c17b70bdf92a20b9352c55cdc7636bca884964efe46d7e092ddca961316b794",
    "h5BytesV4 fixed paged" -> "adbded6e4453d633914900e0e455dff433d72021fe87f75913c0472cbdbf23d8",
    "h5BytesV4 fixed rank-2" -> "38643df2ada8a34e986f531e94efc1ad97d4f663177b61d642d714fb58d35751",
    "h5BytesV4 implicit filters=false" -> "abd2d4d77dae577f7d04cb0edd778edd6088e8936df5a02dec7987bd80084653",
    "h5BytesV4 single filters=false" -> "0aadcc6f1a632d87b390e08f4fb7f85b3b472971dae3df160e31f5bcff848633",
    "h5BytesV4 single filters=true" -> "d3a191aaf977461dac33031ab1a2e1639cbf816481c4b3a9395964339f0840d8",
    "h5BytesV4Dense FHIB" -> "b0cad84a418d20004b97c08cc2ce2324bb56ed8a38a5e8f34c51f51a1ec727c9",
    "h5BytesV4Dense nested" -> "8bb18774d36e784255c9cb7fbe7eccb158dffabd8dcf2ff84fcba199b020e0c0",
    "h5BytesV4Dense one block" -> "620f602ad857e0acca55932a52ef18143a1f27403a5234399476e9e7704b74ec")

  test("golden writer bytes: every writer emits the pinned sha256 on fixed inputs") {
    val got = goldenFiles.map { case (k, b) => k -> sha256(b) }
    val diff = got.filter { case (k, h) => !goldenSha256.get(k).contains(h) }
    assert(got.map(_._1).toSet == goldenSha256.keySet && diff.isEmpty,
      diff.map { case (k, h) => s"\"$k\" -> \"$h\"," }.mkString("\n"))
  }

  // ------------------------------------- truncated and cyclic structures

  /** Runs `f` on another thread and fails if it has no answer in 2 s. */
  private def within2s[T](f: => T): T = {
    import scala.concurrent.ExecutionContext.Implicits.global
    scala.concurrent.Await.result(scala.concurrent.Future(f),
      scala.concurrent.duration.Duration(2, "s"))
  }

  private def le(b: Array[Byte]) =
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)

  test("a truncated unfiltered chunk is rejected, not read as trailing zeros") {
    val vals = Array.tabulate(100)(i => i + 1.0)
    val v1 = Hdf5.h5BytesChunked("series", vals, Seq(100L), Seq(16L))
    val v4 = Hdf5V4.h5BytesV4("series", vals, Seq(100L), Seq(16L), "implicit")
    Seq(v1, v4).foreach { bytes =>
      val cut = bytes.take(bytes.length - 80)
      val e = intercept[IllegalArgumentException](
        Hdf5.parseData(cut, Hdf5.datasets(cut).head))
      assert(e.getMessage.contains("series") && e.getMessage.contains("past"),
        e.getMessage)
    }
  }

  test("a v2 object-header continuation back into its own chunk is rejected") {
    // replace the dataset OHDR's layout message (its last) with a
    // continuation whose OCHK target is chunk 0 itself, plus NIL filler
    val bytes = Hdf5V4.h5BytesV4("d", Array.tabulate(64)(_.toDouble), Seq(64L),
      Seq(16L), "fixed")
    val bb = le(bytes)
    val chunk0 = bb.getInt(48 + 6)
    var p = 48 + 10
    var layoutAt = -1
    while (p < 48 + 10 + chunk0) {
      if ((bytes(p) & 0xff) == 0x08) layoutAt = p
      p += 4 + (bb.getShort(p + 1) & 0xffff)
    }
    val total = 4 + (bb.getShort(layoutAt + 1) & 0xffff)
    val looped = bytes.clone()
    val pb = le(looped)
    pb.position(layoutAt)
    pb.put(0x10.toByte); pb.putShort(16); pb.put(0.toByte)
    pb.putLong(48L + 6); pb.putLong(chunk0 + 8L) // the "OCHK" block = chunk 0
    pb.put(0.toByte); pb.putShort((total - 24).toShort); pb.put(0.toByte)
    pb.putInt(48 + 10 + chunk0, Hdf5V4.lookup3(looped, 48, 10 + chunk0))
    intercept[IllegalArgumentException](within2s(Hdf5.datasets(looped)))
  }

  test("a v1 group B-tree node that is its own child is rejected") {
    val bytes = Hdf5.h5Bytes(Seq(("a", Array(1.0, 2.0), Seq(2L))))
    val tree = sigAt(bytes, "TREE") // the root group's node (type 0)
    assert(bytes(tree + 4) == 0)
    val cyclic = bytes.clone()
    cyclic(tree + 5) = 1 // level 1: its one child is a node, not a SNOD
    le(cyclic).putLong(tree + 24 + 8, tree.toLong)
    intercept[IllegalArgumentException](within2s(Hdf5.datasets(cyclic)))
  }

  test("a v1 chunk B-tree node that is its own child is rejected") {
    val bytes = Hdf5.h5BytesChunked("d", Array.tabulate(64)(_.toDouble), Seq(64L),
      Seq(16L))
    val ds = Hdf5.datasets(bytes).head
    val node = ds.btreeAddr.toInt
    assert(new String(bytes, node, 4, "ASCII") == "TREE" && bytes(node + 4) == 1)
    val cyclic = bytes.clone()
    cyclic(node + 5) = 1
    le(cyclic).putLong(node + 24 + 8 + 8 * 2, node.toLong) // entry 0's child
    intercept[IllegalArgumentException](within2s(Hdf5.parseData(cyclic, ds)))
  }
}
