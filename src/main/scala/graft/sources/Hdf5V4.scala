package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** HDF5 "latest format" support (r14 verdict "next" #4: h03 covered the
  * v1 chunk B-tree — the 1.8/h5py default — but HDF5 1.10+ files written
  * with `libver='latest'` use superblock v3, version-2 object headers,
  * and VERSION-4 DATA LAYOUT messages whose chunk indexes are one of
  * five new structures; a real mixed corpus contains them).
  *
  * What this module adds (format reference: the public HDF5 File Format
  * Specification III.A.2/III.F/III.G/IV.A.2.i; the reference itself
  * reads these via h5py, `/root/reference/dask_array/io/_store.py:233`):
  *
  *  - superblock v2/v3 (root object header address at byte 36),
  *  - v2 object headers (`OHDR`) with link / link-info / group-info
  *    messages and `OCHK` continuations,
  *  - data layout v4, class chunked, all five chunk index types:
  *      1 single chunk (with/without filter),
  *      2 implicit (contiguous chunk grid, unfiltered),
  *      3 fixed array (`FAHD`/`FADB`, paged and non-paged),
  *      4 extensible array (`EAHD`/`EAIB`/`EADB`/`EASB`, incl. PAGED
  *        data blocks with super-block page-init bitmaps; a paged data
  *        block addressed from the index block — a shape real cparams
  *        never produce — is rejected loudly),
  *      5 version-2 B-tree (`BTHD`/`BTIN`/`BTLF`, any depth, record
  *        types 10/11),
  *  - the fletcher32 filter (id 3): verify-and-strip on read, appended
  *    checksum on write (decode lives in [[Hdf5.parseChunked]]),
  *  - Jenkins lookup3 checksums on every versioned structure the
  *    writer emits, so the files are externally conforming.
  *
  * The writers ([[h5BytesV4]], [[h5BytesV4Dense]]) emit exactly this
  * subset so round trips prove each index codec against itself byte-up
  * — the h03 pattern. They share one superblock-v3 emitter (`V3File`:
  * the superblock and lookup3-checksummed `OHDR`s) and one set of
  * message bodies (dataspace, f8 type, fill value, compact link
  * messages); chunks come from [[Hdf5.encodeChunks]], the v1 writer's
  * encoder. The readers use [[Hdf5.Rd]], so every index walk is bounds
  * checked, and visit each B-tree node once.
  * Scale contract unchanged from [[Hdf5]]: indexes are walked on
  * executors during a distributed binaryFile scan; the stack remains
  * the write-side scale path. */
object Hdf5V4 {

  private val Undef = -1L

  // ------------------------------------------------------------ checksums

  /** Jenkins lookup3 `hashlittle` with initval 0 — HDF5's
    * `H5_checksum_lookup3`, the checksum every v2+ metadata structure
    * carries. Byte-exact port of the public-domain algorithm
    * (Bob Jenkins, lookup3.c, little-endian byte path). */
  def lookup3(data: Array[Byte], off: Int, len: Int, init: Int = 0): Int = {
    def rot(x: Int, k: Int): Int = (x << k) | (x >>> (32 - k))
    var a = 0xdeadbeef + len + init
    var b = a
    var c = a
    var p = off
    var l = len
    def u(i: Int): Int = data(i) & 0xff
    def w(i: Int): Int = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) | (u(i + 3) << 24)
    while (l > 12) {
      a += w(p); b += w(p + 4); c += w(p + 8)
      // mix(a,b,c)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      p += 12; l -= 12
    }
    if (l == 0) return c
    var i = 0
    while (i < l && i < 4) { a += u(p + i) << (8 * i); i += 1 }
    while (i < l && i < 8) { b += u(p + i) << (8 * (i - 4)); i += 1 }
    while (i < l && i < 12) { c += u(p + i) << (8 * (i - 8)); i += 1 }
    // final(a,b,c)
    c ^= b; c -= rot(b, 14)
    a ^= c; a -= rot(c, 11)
    b ^= a; b -= rot(a, 25)
    c ^= b; c -= rot(b, 16)
    a ^= c; a -= rot(c, 4)
    b ^= a; b -= rot(a, 14)
    c ^= b; c -= rot(b, 24)
    c
  }

  /** HDF5's `H5_checksum_fletcher32`: 16-bit big-endian words, 360-word
    * reduction blocks, odd trailing byte high-padded. The filter (id 3)
    * appends it little-endian to the chunk payload. */
  def fletcher32(data: Array[Byte], off: Int, len: Int): Int = {
    var sum1 = 0L
    var sum2 = 0L
    var p = off
    var words = len / 2
    while (words > 0) {
      var t = math.min(words, 360)
      words -= t
      while (t > 0) {
        sum1 += ((data(p) & 0xff) << 8) | (data(p + 1) & 0xff)
        sum2 += sum1
        p += 2; t -= 1
      }
      sum1 = (sum1 & 0xffff) + (sum1 >>> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >>> 16)
    }
    if ((len & 1) == 1) {
      sum1 += (data(off + len - 1) & 0xff) << 8
      sum2 += sum1
      sum1 = (sum1 & 0xffff) + (sum1 >>> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >>> 16)
    }
    sum1 = (sum1 & 0xffff) + (sum1 >>> 16)
    sum2 = (sum2 & 0xffff) + (sum2 >>> 16)
    ((sum2 << 16) | sum1).toInt
  }

  // --------------------------------------------------- shared size helpers

  private def log2gen(n: Long): Int =
    if (n <= 0) 0 else 63 - java.lang.Long.numberOfLeadingZeros(n)

  /** H5D's encoded-chunk-size width for filtered index entries:
    * `1 + ((log2_gen(chunkBytes) + 8) / 8)`, capped at 8. */
  private[sources] def chunkSizeLen(chunkBytes: Long): Int =
    math.min(8, 1 + ((log2gen(chunkBytes) + 8) / 8))

  // ------------------------------------------------- extensible-array math

  /** Super-block geometry shared by reader and writer (H5EA design):
    * sblk u holds 2^(u/2) data blocks of 2^((u+1)/2)·minElts elements. */
  private final case class EaGeom(idxElmts: Int, minElts: Int, minPtrs: Int,
                                  maxBits: Int, pageBits: Int) {
    val nsblksTotal: Int = 1 + (maxBits - log2gen(minElts))
    val iblkNsblks: Int = 2 * log2gen(minPtrs) // sblks whose dblks live in the iblock
    val ndblkAddrs: Int = 2 * (minPtrs - 1)
    val nsblkAddrs: Int = nsblksTotal - iblkNsblks
    val offSize: Int = (maxBits + 7) / 8
    def ndblks(u: Int): Int = 1 << (u / 2)
    def dblkNelmts(u: Int): Long = (1L << ((u + 1) / 2)) * minElts
    /** (sblk index, data block within it, element within it) of global
      * post-index-block element `rel`, plus that sblk's start dblk. */
    def locate(rel: Long): (Int, Int, Long, Int) = {
      var u = 0
      var startIdx = 0L
      var startDblk = 0
      while (rel >= startIdx + ndblks(u).toLong * dblkNelmts(u)) {
        startIdx += ndblks(u).toLong * dblkNelmts(u)
        startDblk += ndblks(u)
        u += 1
        require(u < nsblksTotal, s"extensible-array element $rel out of range")
      }
      val inSblk = rel - startIdx
      ((u, (inSblk / dblkNelmts(u)).toInt, inSblk % dblkNelmts(u), startDblk))
    }
  }

  // ------------------------------------------------------------- readers

  import Hdf5.{H5Chunk, Rd}

  /** Enumerate the chunks of a v4-layout dataset from its index
    * structure. `chunkBytes` is the unfiltered full-chunk byte size
    * (the stored size for every unfiltered index client). */
  private[sources] def chunkIndex(rd: Rd, ds: Hdf5.H5Dataset, chunkBytes: Int): Seq[H5Chunk] = {
    val rank = ds.shape.length
    val grid = ds.shape.zip(ds.chunkDims).map { case (s, c) => (s + c - 1) / c }
    val nChunks = grid.product
    def cornerOf(linear: Long): Seq[Long] = {
      var rem = linear
      val out = new Array[Long](rank)
      var a = rank - 1
      while (a >= 0) {
        out(a) = (rem % grid(a)) * ds.chunkDims(a)
        rem /= grid(a)
        a -= 1
      }
      out.toSeq
    }
    val filtered = ds.filters.nonEmpty
    ds.idxType match {
      case 1 => // single chunk: the layout message carries size+mask when filtered
        require(nChunks == 1, s"${ds.name}: single-chunk index but grid $grid")
        if (ds.btreeAddr == Undef) Nil
        else if (filtered) {
          require(ds.idxParams.length == 2,
            s"${ds.name}: filtered single-chunk index missing size/mask")
          Seq(H5Chunk(ds.btreeAddr, ds.idxParams(0).toInt, ds.idxParams(1).toInt,
            Seq.fill(rank)(0L)))
        } else Seq(H5Chunk(ds.btreeAddr, chunkBytes, 0, Seq.fill(rank)(0L)))

      case 2 => // implicit: unfiltered chunks contiguous in C grid order
        require(!filtered, s"${ds.name}: implicit index cannot carry filters")
        if (ds.btreeAddr == Undef) Nil
        else {
          require(nChunks * chunkBytes <= rd.bytes.length - ds.btreeAddr,
            s"${ds.name}: $nChunks implicit-index chunks at ${ds.btreeAddr} " +
              s"run past the ${rd.bytes.length}-byte file")
          (0L until nChunks).map(k =>
            H5Chunk(ds.btreeAddr + k * chunkBytes, chunkBytes, 0, cornerOf(k)))
        }

      case 3 => readFixedArray(rd, ds, chunkBytes, cornerOf)
      case 4 => readExtensibleArray(rd, ds, chunkBytes, nChunks, cornerOf)
      case 5 => readBtree2(rd, ds, rank, chunkBytes)
      case other => throw new IllegalArgumentException(s"${ds.name}: unknown chunk index type $other")
    }
  }

  /** One fixed- or extensible-array element at `p`: the chunk address,
    * then (filtered clients only) its stored size and filter mask. */
  private def entryAt(rd: Rd, p: Long, entrySize: Int, filtered: Boolean,
                      chunkBytes: Int, corner: => Seq[Long]): Option[H5Chunk] = {
    val addr = rd.i64(p)
    if (addr == Undef) None
    else if (!filtered) Some(H5Chunk(addr, chunkBytes, 0, corner))
    else {
      val szLen = entrySize - 12
      Some(H5Chunk(addr, rd.varU(p + 8, szLen).toInt, rd.i32(p + 8 + szLen), corner))
    }
  }

  /** The header fields shared by the fixed and extensible arrays: the
    * signature and version, and whether the client is a filtered chunk
    * index (client 1) or an unfiltered one (client 0). */
  private def arrayHeader(rd: Rd, h: Long, sig: String, what: String, ds: Hdf5.H5Dataset): Boolean = {
    require(rd.ascii(h, 4) == sig, s"${ds.name}: bad $what header")
    require(rd.u8(h + 4) == 0, s"${ds.name}: $what version ${rd.u8(h + 4)}")
    val client = rd.u8(h + 5)
    require(client == 0 || client == 1,
      s"${ds.name}: $what client $client is not a chunk index")
    val entrySize = rd.u8(h + 6)
    // address (8), then for a filtered client a 1..8-byte size and a mask (4)
    require(if (client == 1) entrySize >= 13 && entrySize <= 20 else entrySize == 8,
      s"${ds.name}: $what element size $entrySize")
    client == 1
  }

  /** `FAHD` header + `FADB` data block (paged or not). */
  private def readFixedArray(rd: Rd, ds: Hdf5.H5Dataset, chunkBytes: Int,
                             cornerOf: Long => Seq[Long]): Seq[H5Chunk] = {
    if (ds.btreeAddr == Undef) return Nil
    val h = ds.btreeAddr
    val filtered = arrayHeader(rd, h, "FAHD", "fixed-array", ds)
    val entrySize = rd.u8(h + 6)
    val pageBits = rd.u8(h + 7)
    val maxEntries = rd.i64(h + 8)
    val d = rd.i64(h + 16)
    if (d == Undef) return Nil
    require(rd.ascii(d, 4) == "FADB", s"${ds.name}: bad fixed-array data block")
    require(pageBits < 63, s"${ds.name}: fixed-array page bits $pageBits")
    val pageN = 1L << pageBits
    val out = Seq.newBuilder[H5Chunk]
    if (maxEntries <= pageN) { // non-paged: entries follow the prefix
      var k = 0L
      while (k < maxEntries) {
        out ++= entryAt(rd, d + 14 + k * entrySize, entrySize, filtered, chunkBytes, cornerOf(k))
        k += 1
      }
    } else { // paged: init bitmap + checksum, then pages each with a checksum
      val npages = (maxEntries + pageN - 1) / pageN
      var pageStart = d + 14 + (npages + 7) / 8 + 4
      var pg = 0L
      while (pg < npages) {
        val inPage = math.min(pageN, maxEntries - pg * pageN)
        if ((rd.u8(d + 14 + pg / 8) & (1 << (pg % 8).toInt)) != 0) { // live page
          var j = 0L
          while (j < inPage) {
            out ++= entryAt(rd, pageStart + j * entrySize, entrySize, filtered, chunkBytes,
              cornerOf(pg * pageN + j))
            j += 1
          }
        }
        pageStart += inPage * entrySize + 4
        pg += 1
      }
    }
    out.result()
  }

  /** `EAHD` header, `EAIB` index block, `EADB` data blocks (non-paged),
    * `EASB` super blocks. Chunks map to elements by PLAIN C-order grid
    * index — valid when the unlimited dimension is dim 0 (HDF5 swizzles
    * the unlimited dim to the front; for dim 0 that is the identity),
    * which [[Hdf5.parseDatasetOH]] enforces via maxDims. Elements at or
    * past the header's max index set were never stored. */
  private def readExtensibleArray(rd: Rd, ds: Hdf5.H5Dataset, chunkBytes: Int,
                                  nChunks: Long,
                                  cornerOf: Long => Seq[Long]): Seq[H5Chunk] = {
    if (ds.btreeAddr == Undef) return Nil
    val h = ds.btreeAddr
    val filtered = arrayHeader(rd, h, "EAHD", "extensible-array", ds)
    val es = rd.u8(h + 6)
    val g = EaGeom(idxElmts = rd.u8(h + 8), minElts = rd.u8(h + 9),
      minPtrs = rd.u8(h + 10), maxBits = rd.u8(h + 7), pageBits = rd.u8(h + 11))
    require(g.pageBits < 63 && g.maxBits <= 64, s"${ds.name}: extensible-array geometry $g")
    val maxIdxSet = math.min(nChunks, rd.i64(h + 12 + 32))
    val ib = rd.i64(h + 12 + 48)
    if (ib == Undef) return Nil
    require(rd.ascii(ib, 4) == "EAIB", s"${ds.name}: bad EA index block")
    val ibElems = ib + 14
    val ibDblks = ibElems + g.idxElmts * es
    val ibSblks = ibDblks + g.ndblkAddrs * 8L
    val pageN = 1L << g.pageBits
    def npagesOf(u: Int): Int =
      if (g.dblkNelmts(u) > pageN) (g.dblkNelmts(u) / pageN).toInt else 0
    // super block layout: prefix(14) + blockOffset + [page-init bitmaps,
    // one byte-aligned block of ceil(npages/8) per data block, when the
    // sblk's data blocks are paged] + dblk addresses. Memoized per u.
    val sblkLayout = scala.collection.mutable.HashMap.empty[Int, (Long, Long)]
    def sblkOf(u: Int, s0: Long): (Long, Long) = // (bitmapBase, addrBase)
      sblkLayout.getOrElseUpdate(u, {
        require(rd.ascii(s0, 4) == "EASB", s"${ds.name}: bad EA super block")
        val bm = s0 + 14 + g.offSize
        val bmBytes =
          if (npagesOf(u) > 0) g.ndblks(u).toLong * ((npagesOf(u) + 7) / 8) else 0L
        (bm, bm + bmBytes)
      })
    val dblkSigSeen = scala.collection.mutable.HashSet.empty[Long]
    val out = Seq.newBuilder[H5Chunk]
    var k = 0L
    while (k < maxIdxSet) {
      val p: Long =
        if (k < g.idxElmts) ibElems + k * es
        else {
          val (u, dblkIn, within, startDblk) = g.locate(k - g.idxElmts)
          val globalDblk = startDblk + dblkIn
          val npages = npagesOf(u)
          var bitmapBase = -1L
          val db =
            if (u < g.iblkNsblks) {
              require(npages == 0, s"${ds.name}: paged EA data block " +
                "addressed from the index block — unsupported (no page-init " +
                "storage exists there); refusing rather than misread")
              rd.i64(ibDblks + globalDblk * 8L)
            } else {
              val sbAddr = rd.i64(ibSblks + (u - g.iblkNsblks) * 8L)
              if (sbAddr == Undef) Undef
              else {
                val (bm, addrs) = sblkOf(u, sbAddr)
                bitmapBase = bm
                rd.i64(addrs + dblkIn * 8L)
              }
            }
          if (db == Undef) -1L // unallocated data block: all fill
          else {
            if (dblkSigSeen.add(db))
              require(rd.ascii(db, 4) == "EADB", s"${ds.name}: bad EA data block")
            if (npages == 0) db + 14 + g.offSize + within * es
            else {
              // paged: prefix(14) + blockOffset + checksum(4), then pages
              // of pageN elements each followed by their own checksum;
              // an uninitialized page (sblk bitmap bit clear) is fill
              val page = within / pageN
              val initSize = (npages + 7) / 8
              val bit = rd.u8(bitmapBase + dblkIn.toLong * initSize + page / 8)
              if ((bit & (1 << (page % 8).toInt)) == 0) -1L
              else db + 18 + g.offSize + page * (pageN * es + 4) + (within % pageN) * es
            }
          }
        }
      if (p >= 0) out ++= entryAt(rd, p, es, filtered, chunkBytes, cornerOf(k))
      k += 1
    }
    out.result()
  }

  /** Generic v2 B-tree record walk: visits every record of the tree at
    * `hdrAddr` in tree order, calling `onRecord(byteOffset)` with the
    * record's position; any depth — internal-node pointer widths follow
    * the H5B2 node_info recurrence. `okType` gates the header's record
    * type (chunk indexes use 10/11; dense-group name indexes use 5).
    * Every node is visited once, and the depth stays under 64 (deeper
    * trees overflow the recurrence), so a corrupt pointer cannot loop. */
  private def walkBt2(rd: Rd, hdrAddr: Long, what: String,
                      okType: Int => Boolean)(onRecord: Long => Unit): Unit = {
    if (hdrAddr == Undef) return
    val h = hdrAddr
    require(rd.ascii(h, 4) == "BTHD", s"$what: bad v2 B-tree header")
    require(rd.u8(h + 4) == 0, s"$what: v2 B-tree version")
    val btType = rd.u8(h + 5)
    require(okType(btType), s"$what: unexpected v2 B-tree record type $btType")
    val nodeSize = rd.i32(h + 6)
    val rrec = rd.u16(h + 10)
    val depth = rd.u16(h + 12)
    val rootAddr = rd.i64(h + 16)
    val rootNrec = rd.u16(h + 24)
    if (rootAddr == Undef) return
    require(rrec > 0 && nodeSize > 10 && depth < 64,
      s"$what: v2 B-tree node size $nodeSize, record size $rrec, depth $depth")
    // node_info recurrence (H5B2hdr): pointer-field widths per level
    val leafMax = (nodeSize - 10) / rrec
    val maxNrecSize = (log2gen(leafMax) + 7) / 8
    val cumMax = new Array[Long](depth + 1)
    val cumMaxSize = new Array[Int](depth + 1)
    cumMax(0) = leafMax
    var u = 1
    while (u <= depth) {
      val ptr = 8 + maxNrecSize + cumMaxSize(u - 1)
      val intMax = (nodeSize - (10 + ptr)) / (rrec + ptr)
      cumMax(u) = (intMax + 1).toLong * cumMax(u - 1) + intMax
      cumMaxSize(u) = (log2gen(cumMax(u)) + 7) / 8
      u += 1
    }
    val seen = scala.collection.mutable.HashSet.empty[Long]
    def walk(n: Long, nrec: Int, level: Int): Unit = {
      require(seen.add(n), s"$what: v2 B-tree node at $n is reached twice")
      require(rd.ascii(n, 4) == (if (level == 0) "BTLF" else "BTIN"),
        s"$what: bad v2 B-tree ${if (level == 0) "leaf" else "internal node"}")
      var i = 0
      while (i < nrec) { onRecord(n + 6 + i.toLong * rrec); i += 1 }
      if (level > 0) {
        val ptrBase = n + 6 + nrec.toLong * rrec
        val ptrSize = 8 + maxNrecSize + (if (level > 1) cumMaxSize(level - 1) else 0)
        var j = 0
        while (j <= nrec) {
          val at = ptrBase + j.toLong * ptrSize
          walk(rd.i64(at), rd.varU(at + 8, maxNrecSize).toInt, level - 1)
          j += 1
        }
      }
    }
    walk(rootAddr, rootNrec, depth)
  }

  /** `BTHD` + `BTIN`/`BTLF` chunk index, record types 10 (unfiltered)
    * and 11 (filtered). Records carry SCALED offsets. */
  private def readBtree2(rd: Rd, ds: Hdf5.H5Dataset, rank: Int,
                         chunkBytes: Int): Seq[H5Chunk] = {
    if (ds.btreeAddr == Undef) return Nil
    val h = ds.btreeAddr
    require(rd.ascii(h, 4) == "BTHD", s"${ds.name}: bad v2 B-tree header")
    val btType = rd.u8(h + 5)
    require(btType == 10 || btType == 11,
      s"${ds.name}: v2 B-tree record type $btType is not a chunk index")
    val filtered = btType == 11
    val szLen = if (filtered) rd.u16(h + 10) - 12 - 8 * rank else 0
    require(szLen >= 0 && szLen <= 8, s"${ds.name}: v2 B-tree record size")
    val out = Seq.newBuilder[H5Chunk]
    walkBt2(rd, h, ds.name, t => t == 10 || t == 11) { p =>
      val addr = rd.i64(p)
      val (sz, mask, offBase) =
        if (filtered) (rd.varU(p + 8, szLen).toInt, rd.i32(p + 8 + szLen), p + 12 + szLen)
        else (chunkBytes, 0, p + 8)
      val corner = (0 until rank).map(a => rd.i64(offBase + 8 * a) * ds.chunkDims(a))
      if (addr != Undef) out += H5Chunk(addr, sz, mask, corner)
    }
    out.result()
  }

  // ------------------------------------------- dense (fractal-heap) groups

  /** Enumerate the links of a DENSELY-stored group (r15 verdict Next
    * #2). Latest-format writers switch a group from compact link
    * messages to dense storage past the max-compact threshold
    * (h5py/libhdf5 default: 8 links), at which point the link-info
    * message points at a FRACTAL HEAP holding the serialized link
    * messages and a v2 B-tree (record type 5) indexing them by name
    * hash. The reference hits this through h5py on any wide file
    * (`/root/reference/dask_array/io/_store.py:233`).
    *
    * Format reference: HDF5 File Format Specification III.G (fractal
    * heap), III.A.2 (v2 B-tree, type 5 = group name index), IV.A.2.g
    * (link info), IV.A.2.h (link message — the heap objects' payload).
    *
    * Supported shape, everything else rejected loudly: unfiltered
    * managed heap objects (libhdf5 stores links managed-only unless a
    * single link exceeds `maxMan` ≈ 4 KiB — a pathological name),
    * root direct block or one level of root indirect block with
    * DIRECT children (width × maxDirectRows blocks ≈ 1.3 MiB of link
    * space at the default cparams — thousands of links; child
    * INDIRECT blocks would mean ~100k+ links in one group).
    * Returns (linkName, objectHeaderAddr) pairs, hard links only. */
  private[sources] def denseLinks(rd: Rd, heapAddr: Long,
                                  nameBtAddr: Long): Seq[(String, Long)] = {
    require(heapAddr != Undef && nameBtAddr != Undef,
      "dense group without fractal heap + name index addresses")
    val h = heapAddr
    require(rd.ascii(h, 4) == "FRHP", "bad fractal heap signature")
    require(rd.u8(h + 4) == 0, s"fractal heap version ${rd.u8(h + 4)}")
    val idLen = rd.u16(h + 5)
    val filterLen = rd.u16(h + 7)
    require(filterLen == 0,
      "fractal heap with I/O-filtered direct blocks unsupported (group " +
        "link heaps are never filtered by libhdf5)")
    val flags = rd.u8(h + 9)
    val maxMan = rd.i32(h + 10).toLong
    val nHuge = rd.i64(h + 86)
    val nTiny = rd.i64(h + 102)
    require(nHuge == 0 && nTiny == 0,
      s"fractal heap holds huge($nHuge)/tiny($nTiny) objects — only " +
        "managed link records are supported, refusing rather than drop links")
    val width = rd.u16(h + 110)
    val startBlk = rd.i64(h + 112)
    val maxDirect = rd.i64(h + 120)
    val maxHeapBits = rd.u16(h + 128)
    val rootAddr = rd.i64(h + 132)
    val curRows = rd.u16(h + 140)
    if (rootAddr == Undef) return Nil
    val offSize = (maxHeapBits + 7) / 8
    // H5HF's heap-length width: MIN(bytes to offset inside the largest
    // direct block, bytes to encode the max managed-object size)
    val lenSize = math.min(log2gen(maxDirect) / 8 + 1, log2gen(maxMan) / 8 + 1)
    require(idLen == 1 + offSize + lenSize,
      s"fractal heap id length $idLen != 1+$offSize+$lenSize")
    val dblkHdr = 5 + 8 + offSize + (if ((flags & 0x02) != 0) 4 else 0)

    // heap linear offset -> file address, through the block tree
    val maxDirectRows = log2gen(maxDirect) - log2gen(startBlk) + 2
    def rowSize(r: Int): Long = if (r < 2) startBlk else startBlk << (r - 1)
    val fileAddrOf: Long => Long =
      if (curRows == 0) { // root IS a direct block covering [0, size)
        require(rd.ascii(rootAddr, 4) == "FHDB", "bad root direct block")
        off => {
          require(off >= dblkHdr, s"heap offset $off inside the block header")
          rootAddr + off
        }
      } else {
        require(curRows <= maxDirectRows,
          s"fractal heap root indirect block has $curRows rows (> " +
            s"$maxDirectRows direct rows) — child indirect blocks " +
            "unsupported, refusing rather than misread links")
        require(rd.ascii(rootAddr, 4) == "FHIB", "bad root indirect block")
        // (heapOff, size, fileAddr) per allocated child direct block
        val entryBase = rootAddr + 5 + 8 + offSize
        val blocks = Seq.newBuilder[(Long, Long, Long)]
        var heapOff = 0L
        var k = 0
        while (k < curRows * width) {
          val sz = rowSize(k / width)
          val addr = rd.i64(entryBase + 8L * k)
          if (addr != Undef) blocks += ((heapOff, sz, addr))
          heapOff += sz
          k += 1
        }
        val table = blocks.result()
        off => table.find(b => off >= b._1 && off < b._1 + b._2) match {
          case Some((bOff, _, bAddr)) =>
            require(off - bOff >= dblkHdr,
              s"heap offset $off inside a direct block header")
            bAddr + (off - bOff)
          case None => throw new IllegalArgumentException(
            s"heap offset $off outside every direct block")
        }
      }

    // walk the name index (v2 B-tree type 5: hash(4) + heap id) and
    // parse each managed heap object as a version-1 link message body
    val links = Seq.newBuilder[(String, Long)]
    walkBt2(rd, nameBtAddr, "dense-group name index", _ == 5) { rec =>
      val idFlags = rd.u8(rec + 4)
      require((idFlags & 0xf0) == 0, // version 0 (bits 6-7), managed (bits 4-5)
        f"heap id version/type byte 0x$idFlags%02x is not a managed v0 id")
      links += Hdf5.linkAt(rd, fileAddrOf(rd.varU(rec + 5, offSize)))
    }
    links.result()
  }

  // ------------------------------------------------------------- writer

  /** `v` as an `n`-byte little-endian field. */
  private def putVarU(b: ByteBuffer, v: Long, n: Int): Unit = {
    var x = v
    var k = 0
    while (k < n) { b.put((x & 0xff).toByte); x >>>= 8; k += 1 }
  }

  /** A structure's signature and version byte (0). */
  private def putSig(b: ByteBuffer, sig: String): Unit = {
    b.put(sig.getBytes("ASCII")); b.put(0.toByte)
  }

  /** A message body of exactly `n` bytes, written by `f`. */
  private def body(n: Int)(f: ByteBuffer => Unit): Array[Byte] = {
    val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    f(b)
    require(b.position() == n, s"body wrote ${b.position()} of $n")
    b.array()
  }

  private def ohdrSize(messages: Seq[(Int, Array[Byte])]): Int =
    10 + messages.map(4 + _._2.length).sum + 4

  /** A dataset's object-header messages: dataspace v2 (with max dims,
    * dim 0 unlimited, when `unlimited0`), the f8 type, fill value v3
    * (undefined), then `rest`. */
  private def datasetMsgs(shape: Seq[Long], unlimited0: Boolean,
                          rest: Seq[(Int, Array[Byte])]): Seq[(Int, Array[Byte])] = {
    val space = body(4 + 8 * shape.length * (if (unlimited0) 2 else 1)) { b =>
      b.put(2.toByte); b.put(shape.length.toByte)
      b.put((if (unlimited0) 1 else 0).toByte); b.put(1.toByte) // flags, simple
      shape.foreach(b.putLong)
      if (unlimited0) { b.putLong(Undef); shape.tail.foreach(b.putLong) }
    }
    val fill = body(2) { b => b.put(3.toByte); b.put(0x12.toByte) }
    Seq(0x0001 -> space, 0x0003 -> Hdf5.F8Type, 0x0005 -> fill) ++ rest
  }

  /** A version-1 hard-link message body (1-byte name length). */
  private def linkMsg(nm: String, target: Long): Array[Byte] =
    body(2 + 1 + nm.length + 8) { b =>
      b.put(1.toByte); b.put(0.toByte) // version, flags: 1-byte name len, hard
      b.put(nm.length.toByte); b.put(nm.getBytes("ASCII"))
      b.putLong(target)
    }

  /** A group's object-header messages: link info (dense storage when
    * `heap` and `nameIndex` are defined), group info, and one compact
    * link message per entry of `links`. */
  private def groupMsgs(links: Seq[(String, Long)], heap: Long = Undef,
                        nameIndex: Long = Undef): Seq[(Int, Array[Byte])] =
    Seq(0x0002 -> body(18) { b =>
      b.put(0.toByte); b.put(0.toByte) // version, flags: no creation order
      b.putLong(heap); b.putLong(nameIndex)
    }, 0x000A -> body(2) { b => b.put(0.toByte); b.put(0.toByte) }) ++
      links.map { case (nm, at) => 0x0006 -> linkMsg(nm, at) }

  /** The one superblock-v3 file emitter: the whole file's buffer with
    * the superblock written, and the checksummed object headers both
    * latest-format writers put into it. */
  private final class V3File(eof: Long, rootOh: Long) {
    require(eof <= Int.MaxValue, s"file would be $eof bytes (> 2 GiB)")
    val buf: ByteBuffer = ByteBuffer.allocate(eof.toInt).order(ByteOrder.LITTLE_ENDIAN)

    /** Appends the lookup3 checksum of the bytes from `start` on. */
    def cksumAt(start: Int): Unit =
      buf.putInt(lookup3(buf.array(), start, buf.position() - start))

    def ohdr(addr: Long, messages: Seq[(Int, Array[Byte])]): Unit = {
      require(buf.position() == addr, s"OHDR at ${buf.position()} != $addr")
      val start = buf.position()
      buf.put("OHDR".getBytes("ASCII"))
      buf.put(2.toByte); buf.put(0x02.toByte) // flags: 4-byte chunk-0 size
      buf.putInt(messages.map(4 + _._2.length).sum)
      messages.foreach { case (t, b) =>
        buf.put(t.toByte); buf.putShort(b.length.toShort); buf.put(0.toByte)
        buf.put(b)
      }
      cksumAt(start)
    }

    buf.put(Hdf5.Sig)
    buf.put(3.toByte); buf.put(8.toByte); buf.put(8.toByte); buf.put(0.toByte)
    buf.putLong(0L); buf.putLong(Undef); buf.putLong(eof)
    buf.putLong(rootOh)
    cksumAt(0)
  }

  /** Serialize ONE float64 dataset as a superblock-v3 / v2-object-header
    * / layout-v4 file — the `libver='latest'` shape — with the chosen
    * chunk index. `indexType` ∈ single | implicit | fixed | ext |
    * btree2. Filters apply in h5py's pipeline order (shuffle, deflate,
    * fletcher32). `faPageBits` sizes fixed-array data-block pages (a
    * small value forces the PAGED layout). Edge chunks store full
    * chunk dims zero-padded, like the v1 writer. */
  def h5BytesV4(name: String, vals: Array[Double], shape: Seq[Long],
                chunkDims: Seq[Long], indexType: String,
                deflate: Boolean = false, shuffle: Boolean = false,
                fletcher: Boolean = false, faPageBits: Int = 10,
                eaPageBits: Int = 10): Array[Byte] = {
    Hdf5.checkChunked(name, vals, shape, chunkDims)
    require(Seq("single", "implicit", "fixed", "ext", "btree2").contains(indexType),
      s"unknown index type '$indexType'")
    val rank = shape.length
    val grid = shape.zip(chunkDims).map { case (s, c) => (s + c - 1) / c }
    val filters = Hdf5.filterIds(deflate, shuffle, fletcher)
    val filtered = filters.nonEmpty
    val isExt = indexType == "ext"
    if (indexType == "single")
      require(grid.product == 1, s"single-chunk index needs one chunk, grid $grid")
    if (indexType == "implicit")
      require(!filtered, "implicit index cannot carry filters")
    val blobs = Hdf5.encodeChunks(vals, shape, chunkDims, filters)
    val nChunks = blobs.size
    val szLen = chunkSizeLen(chunkDims.product * 8)
    val client = (if (filtered) 1 else 0).toByte

    // ---- index geometry
    val es = if (filtered) 8 + szLen + 4 else 8
    val faPageN = 1L << faPageBits
    val faPaged = indexType == "fixed" && nChunks > faPageN
    val faNPages = if (faPaged) ((nChunks + faPageN - 1) / faPageN).toInt else 1
    val eaG = EaGeom(idxElmts = 4, minElts = 16, minPtrs = 4,
      maxBits = 32, pageBits = eaPageBits)
    // extensible array: which data blocks / super blocks exist for nChunks
    val eaRest = math.max(0, nChunks - eaG.idxElmts).toLong
    val eaDblks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    if (isExt) {
      var covered = 0L
      var u = 0
      var startDblk = 0
      while (covered < eaRest) {
        var j = 0
        while (j < eaG.ndblks(u) && covered < eaRest) {
          require(u >= eaG.iblkNsblks || eaG.dblkNelmts(u) <= (1L << eaG.pageBits),
            "paged EA data block would be addressed from the index block " +
              "(no page-init storage exists there) — raise eaPageBits")
          eaDblks += ((u, startDblk + j, eaG.dblkNelmts(u)))
          covered += eaG.dblkNelmts(u)
          j += 1
        }
        startDblk += eaG.ndblks(u)
        u += 1
      }
    }
    val eaSblksUsed = eaDblks.map(_._1).distinct.filter(_ >= eaG.iblkNsblks).sorted
    val eaIbSize = 14 + eaG.idxElmts * es + eaG.ndblkAddrs * 8 + eaG.nsblkAddrs * 8 + 4
    val eaPageN = 1L << eaG.pageBits
    def eaNpages(u: Int): Int =
      if (eaG.dblkNelmts(u) > eaPageN) (eaG.dblkNelmts(u) / eaPageN).toInt else 0
    def eaDbSize(u: Int): Int =
      if (eaNpages(u) == 0) 14 + eaG.offSize + (eaG.dblkNelmts(u) * es).toInt + 4
      else 18 + eaG.offSize + eaNpages(u) * ((eaPageN * es).toInt + 4)
    def eaSbSize(u: Int): Int = 14 + eaG.offSize +
      (if (eaNpages(u) > 0) eaG.ndblks(u) * ((eaNpages(u) + 7) / 8) else 0) +
      eaG.ndblks(u) * 8 + 4
    // v2 B-tree geometry
    val btNodeSize = 512
    val btRrec = if (filtered) 8 + szLen + 4 + 8 * rank else 8 + 8 * rank
    require(btRrec <= btNodeSize - 10, s"record size $btRrec exceeds node")
    val btLeafMax = (btNodeSize - 10) / btRrec
    val btMaxNrecSize = (log2gen(btLeafMax) + 7) / 8
    val btPtr = 8 + btMaxNrecSize
    val btIntMax = (btNodeSize - (10 + btPtr)) / (btRrec + btPtr)
    lazy val btDepth = if (nChunks <= btLeafMax) 0 else 1
    // depth-1 plan: leaves of ≤ btLeafMax records with one separator
    // record promoted between adjacent leaves
    lazy val btLeafPlan: Seq[Seq[Int]] = if (btDepth == 0) Seq((0 until nChunks).toList)
    else {
      var l = 2
      while (nChunks - (l - 1) > l * btLeafMax) l += 1
      require(l - 1 <= btIntMax, s"$nChunks chunks exceed depth-1 capacity")
      val per = (nChunks - (l - 1) + l - 1) / l
      val plan = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
      var at = 0
      var leaf = 0
      while (leaf < l) {
        val take = math.min(per, nChunks - (l - 1 - leaf) - at)
        plan += (at until at + take)
        at += take + 1 // skip the separator record
        leaf += 1
      }
      require(at - 1 == nChunks, s"leaf plan covered ${at - 1} of $nChunks")
      plan.toSeq
    }
    lazy val btSeparators: Seq[Int] =
      btLeafPlan.dropRight(1).map(r => r.last + 1)
    val idxSize: Long = indexType match {
      case "single" | "implicit" => 0L
      case "fixed" =>
        28L + 14L + (if (!faPaged) nChunks.toLong * es + 4
        else (faNPages + 7) / 8 + 4 + nChunks.toLong * es + 4L * faNPages)
      case "ext" =>
        72L + eaIbSize + eaDblks.map(d => eaDbSize(d._1).toLong).sum +
          eaSblksUsed.map(u => eaSbSize(u).toLong).sum
      case "btree2" =>
        38L + (if (btDepth == 0) 1 else btLeafPlan.size + 1).toLong * btNodeSize
    }

    // ---- object headers (their sizes do not depend on the addresses)
    val filterMsg = body(2 + filters.map(id => if (id == 3) 6 else 10).sum) { b =>
      b.put(2.toByte); b.put(filters.size.toByte)
      filters.foreach { id =>
        b.putShort(id.toShort); b.putShort(0) // flags
        if (id == 3) b.putShort(0) // no client values
        else { b.putShort(1); b.putInt(if (id == 1) 6 else 8) }
      }
    }
    val typeSpec = indexType match {
      case "single" => if (filtered) 12 else 0
      case "implicit" => 0
      case "fixed" => 1
      case "ext" => 5
      case "btree2" => 6
    }
    def dsMsgs(idxAddr: Long, dataBase: Long) = datasetMsgs(shape, isExt,
      (if (filtered) Seq(0x000B -> filterMsg) else Nil) :+
        0x0008 -> body(5 + (rank + 1) * 8 + 1 + typeSpec + 8) { b =>
          b.put(4.toByte); b.put(2.toByte)
          b.put((if (indexType == "single" && filtered) 0x02 else 0x00).toByte)
          b.put((rank + 1).toByte); b.put(8.toByte)
          chunkDims.foreach(b.putLong); b.putLong(8L) // trailing element size
          indexType match {
            case "single" =>
              b.put(1.toByte)
              if (filtered) { b.putLong(blobs.head._2.length.toLong); b.putInt(0) }
              b.putLong(dataBase)
            case "implicit" =>
              b.put(2.toByte); b.putLong(dataBase)
            case "fixed" =>
              b.put(3.toByte); b.put(faPageBits.toByte); b.putLong(idxAddr)
            case "ext" =>
              b.put(4.toByte)
              b.put(eaG.maxBits.toByte); b.put(eaG.idxElmts.toByte)
              b.put(eaG.minPtrs.toByte); b.put(eaG.minElts.toByte)
              b.put(eaG.pageBits.toByte)
              b.putLong(idxAddr)
            case "btree2" =>
              b.put(5.toByte); b.putInt(btNodeSize)
              b.put(100.toByte); b.put(40.toByte)
              b.putLong(idxAddr)
          }
        })
    val dsOhAddr = 48L
    val rootOhAddr = dsOhAddr + ohdrSize(dsMsgs(0L, 0L))
    val rootMsgs = groupMsgs(Seq(name -> dsOhAddr))
    val idxAddr = rootOhAddr + ohdrSize(rootMsgs)
    val dataBase = idxAddr + idxSize
    val dataAddrs = blobs.map(_._2.length.toLong).scanLeft(dataBase)(_ + _)

    val file = new V3File(dataAddrs.last, rootOhAddr)
    val buf = file.buf
    file.ohdr(dsOhAddr, dsMsgs(idxAddr, dataBase))
    file.ohdr(rootOhAddr, rootMsgs)

    // ---- the index structure
    def putEntry(b: ByteBuffer, k: Int): Unit = {
      b.putLong(dataAddrs(k))
      if (filtered) { putVarU(b, blobs(k)._2.length, szLen); b.putInt(0) } // size, mask
    }
    def putElement(k: Int): Unit = // an extensible-array slot, unset past the chunks
      if (k < nChunks) putEntry(buf, k) else { buf.putLong(Undef); buf.put(new Array[Byte](es - 8)) }
    indexType match {
      case "single" | "implicit" => ()
      case "fixed" =>
        val h0 = buf.position()
        putSig(buf, "FAHD"); buf.put(client)
        buf.put(es.toByte); buf.put(faPageBits.toByte)
        buf.putLong(nChunks.toLong); buf.putLong(idxAddr + 28)
        file.cksumAt(h0)
        val d0 = buf.position()
        putSig(buf, "FADB"); buf.put(client)
        buf.putLong(idxAddr)
        if (!faPaged) {
          (0 until nChunks).foreach(putEntry(buf, _))
          file.cksumAt(d0)
        } else {
          (0 until (faNPages + 7) / 8).foreach { i => // all pages initialized
            buf.put(((1 << math.min(8, faNPages - i * 8)) - 1).toByte)
          }
          file.cksumAt(d0)
          (0 until faNPages).foreach { pg =>
            val p0 = buf.position()
            val inPage = math.min(faPageN, nChunks - pg * faPageN).toInt
            (0 until inPage).foreach(j => putEntry(buf, (pg * faPageN).toInt + j))
            file.cksumAt(p0)
          }
        }
      case "ext" =>
        val ibAddr = idxAddr + 72
        val sbAddrs = scala.collection.mutable.HashMap.empty[Int, Long]
        val dbAddrs = scala.collection.mutable.HashMap.empty[Int, Long]
        var cur = ibAddr + eaIbSize
        eaSblksUsed.foreach { u => sbAddrs(u) = cur; cur += eaSbSize(u) }
        eaDblks.foreach { case (u, g, _) => dbAddrs(g) = cur; cur += eaDbSize(u) }
        // EAHD
        val h0 = buf.position()
        putSig(buf, "EAHD"); buf.put(client)
        buf.put(es.toByte); buf.put(eaG.maxBits.toByte)
        buf.put(eaG.idxElmts.toByte); buf.put(eaG.minElts.toByte)
        buf.put(eaG.minPtrs.toByte); buf.put(eaG.pageBits.toByte)
        buf.putLong(eaSblksUsed.size.toLong)
        buf.putLong(eaSblksUsed.map(u => eaSbSize(u).toLong).sum)
        buf.putLong(eaDblks.size.toLong)
        buf.putLong(eaDblks.map(d => eaDbSize(d._1).toLong).sum)
        buf.putLong(nChunks.toLong); buf.putLong(nChunks.toLong) // max index set, realized
        buf.putLong(ibAddr)
        file.cksumAt(h0)
        // EAIB
        val i0 = buf.position()
        putSig(buf, "EAIB"); buf.put(client)
        buf.putLong(idxAddr)
        (0 until eaG.idxElmts).foreach(putElement)
        (0 until eaG.ndblkAddrs).foreach(g => buf.putLong(dbAddrs.getOrElse(g, Undef)))
        (0 until eaG.nsblkAddrs).foreach(i =>
          buf.putLong(sbAddrs.getOrElse(eaG.iblkNsblks + i, Undef)))
        file.cksumAt(i0)
        // EASBs
        eaSblksUsed.foreach { u =>
          val s0 = buf.position()
          require(s0 == sbAddrs(u))
          putSig(buf, "EASB"); buf.put(client)
          buf.putLong(idxAddr)
          putVarU(buf, 0L, eaG.offSize) // block offset
          if (eaNpages(u) > 0) { // page-init bitmaps: all pages written
            val initSize = (eaNpages(u) + 7) / 8
            buf.put(Array.fill(eaG.ndblks(u) * initSize)(0xFF.toByte))
          }
          val first = eaDblks(eaDblks.indexWhere(_._1 == u))._2
          (0 until eaG.ndblks(u)).foreach(j => buf.putLong(dbAddrs.getOrElse(first + j, Undef)))
          file.cksumAt(s0)
        }
        // EADBs: elements in global order; paged blocks write a
        // header-only prefix (with its own checksum) then per-page
        // element runs each followed by a page checksum
        var elem = eaG.idxElmts
        eaDblks.foreach { case (u, g, nel) =>
          val d0 = buf.position()
          require(d0 == dbAddrs(g))
          putSig(buf, "EADB"); buf.put(client)
          buf.putLong(idxAddr)
          putVarU(buf, elem.toLong, eaG.offSize)
          if (eaNpages(u) == 0) {
            (0 until nel.toInt).foreach(j => putElement(elem + j))
            file.cksumAt(d0)
          } else {
            file.cksumAt(d0) // header checksum precedes the pages
            (0 until eaNpages(u)).foreach { pg =>
              val p0 = buf.position()
              (pg * eaPageN.toInt until (pg + 1) * eaPageN.toInt).foreach(j => putElement(elem + j))
              file.cksumAt(p0)
            }
          }
          elem += nel.toInt
        }
      case "btree2" =>
        val h0 = buf.position()
        val nodeAddrs = (0 until (if (btDepth == 0) 1 else btLeafPlan.size + 1))
          .map(i => idxAddr + 38 + i.toLong * btNodeSize)
        val rootAddr = nodeAddrs.last // leaves first, root (or sole leaf) last
        val recType = (if (filtered) 11 else 10).toByte
        putSig(buf, "BTHD"); buf.put(recType)
        buf.putInt(btNodeSize); buf.putShort(btRrec.toShort)
        buf.putShort(btDepth.toShort)
        buf.put(100.toByte); buf.put(40.toByte)
        buf.putLong(rootAddr)
        buf.putShort((if (btDepth == 0) nChunks else btSeparators.size).toShort)
        buf.putLong(nChunks.toLong)
        file.cksumAt(h0)
        def node(sig: String, recs: Seq[Int])(rest: ByteBuffer => Unit): Array[Byte] = {
          val b = ByteBuffer.allocate(btNodeSize).order(ByteOrder.LITTLE_ENDIAN)
          putSig(b, sig); b.put(recType)
          recs.foreach { k => putEntry(b, k); blobs(k)._1.foreach(b.putLong) } // SCALED offsets
          rest(b)
          b.putInt(lookup3(b.array(), 0, b.position()))
          b.array()
        }
        if (btDepth == 0) buf.put(node("BTLF", btLeafPlan.head)(_ => ()))
        else {
          btLeafPlan.foreach(r => buf.put(node("BTLF", r)(_ => ())))
          buf.put(node("BTIN", btSeparators) { b =>
            btLeafPlan.zipWithIndex.foreach { case (r, i) =>
              b.putLong(nodeAddrs(i))
              putVarU(b, r.size.toLong, btMaxNrecSize)
            }
          })
        }
    }
    require(buf.position() == dataBase,
      s"index wrote to ${buf.position()}, data expected at $dataBase")
    blobs.foreach { case (_, blob) => buf.put(blob) }
    buf.array()
  }

  /** Serialize N float64 1-d datasets under a DENSELY-stored root group
    * — the writer half of [[denseLinks]], proving the fractal-heap and
    * name-index encodings the same way h5BytesV4 proves the chunk
    * indexes (r15 verdict "next" #2). Emits superblock v3, a root v2
    * object header whose link-info message points at a fractal heap
    * (libhdf5's default group cparams: width 4, start block 512 —
    * overridable to force multi-block shapes — max direct 8 KiB, max
    * heap 2^32, checksummed direct blocks, 7-byte managed heap ids)
    * and a depth-0 v2 B-tree type-5 name index; each dataset is a v2
    * OHDR with a v4 CONTIGUOUS layout (the chunk-index surface is
    * h5BytesV4's job). Every structure carries its lookup3 checksum. */
  def h5BytesV4Dense(datasets: Seq[(String, Array[Double])],
                     startBlockSize: Int = 512): Array[Byte] = {
    val paths = datasets.map { case (nm, vs) => (nm.stripPrefix("/"), vs) }
    // nested paths create intermediate groups like h5py's
    // create_dataset('/g/x'). The ROOT group stores its members DENSELY
    // (the feature under test); subgroups use compact link messages
    // (libhdf5's default below ~8 links)
    val root = Hdf5.groupTree(paths.map(_._1), 255)
    require(Integer.bitCount(startBlockSize) == 1 && startBlockSize >= 64,
      s"startBlockSize $startBlockSize must be a power of two >= 64")
    val width = 4
    val maxDirect = 8192L
    val maxMan = 4096L
    val maxHeapBits = 32
    val offSize = 4 // ceil(maxHeapBits / 8)
    val lenSize = 2 // min(limit_enc(maxDirect), limit_enc(maxMan))
    val idLen = 1 + offSize + lenSize
    val dblkHdr = 5 + 8 + offSize + 4 // checksummed direct blocks
    val subGroups = root.preorder().tail.map(_._2)
    // root members drive the dense heap + name index
    val rootMembers = root.members
    val n = rootMembers.size

    // ---- object headers (sizes first, addresses follow)
    def dsMsgs(vals: Array[Double], at: Long) = datasetMsgs(Seq(vals.length.toLong), false,
      Seq(0x0008 -> body(18) { b =>
        b.put(4.toByte); b.put(1.toByte) // layout v4, class contiguous
        b.putLong(at); b.putLong(vals.length * 8L)
      }))
    def grpMsgs(g: Hdf5.GNode, addrOf: String => Long) =
      groupMsgs(g.members.map(nm => nm -> addrOf(nm)))
    val rootOhAddr = 48L
    val grpEnds = subGroups.scanLeft(rootOhAddr + ohdrSize(groupMsgs(Nil))) {
      (at, g) => at + ohdrSize(grpMsgs(g, _ => 0L))
    }
    val grpOhAddrs = subGroups.zip(grpEnds).toMap
    val dsOhSize = ohdrSize(dsMsgs(Array.empty, 0L)) // space/dtype/fill/contiguous
    val dsOhAddrs = paths.indices.map(i => grpEnds.last + i.toLong * dsOhSize)
    def memberAddr(g: Hdf5.GNode)(nm: String): Long =
      g.groups.get(nm).map(grpOhAddrs).getOrElse(dsOhAddrs(g.dss(nm)))

    // ---- heap objects (serialized v1 link messages) packed greedily
    val linkBodies = rootMembers.map(nm => linkMsg(nm, memberAddr(root)(nm)))
    def rowSize(r: Int): Long =
      if (r < 2) startBlockSize.toLong else startBlockSize.toLong << (r - 1)
    val maxDirectRows = log2gen(maxDirect) - log2gen(startBlockSize.toLong) + 2
    val placed = new Array[(Int, Int)](n) // (block ordinal, offset in block)
    var blk = 0
    var used = dblkHdr
    linkBodies.zipWithIndex.foreach { case (lb, i) =>
      require(lb.length <= maxMan, s"link record ${lb.length} B exceeds managed max")
      if (used + lb.length > rowSize(blk / width)) { blk += 1; used = dblkHdr }
      require(lb.length + dblkHdr <= rowSize(blk / width),
        s"link record ${lb.length} B exceeds direct block ${rowSize(blk / width)}")
      placed(i) = (blk, used)
      used += lb.length
    }
    val nBlocks = blk + 1
    val blockHeapOff = (0 until nBlocks).scanLeft(0L)((acc, k) => acc + rowSize(k / width))
    val heapOffs = placed.map { case (b, o) => blockHeapOff(b) + o }
    val curRows = if (nBlocks == 1) 0 else (nBlocks + width - 1) / width
    require(curRows <= maxDirectRows,
      s"$n links need $curRows rows > $maxDirectRows direct rows — raise startBlockSize")
    val managedSpace =
      if (curRows == 0) rowSize(0)
      else (0 until curRows * width).map(k => rowSize(k / width)).sum

    // ---- name index geometry (depth-0 v2 B-tree, records sorted by hash)
    val btNodeSize = 512
    val btRrec = 4 + idLen
    val btLeafMax = (btNodeSize - 10) / btRrec
    require(n <= btLeafMax,
      s"$n links exceed one leaf ($btLeafMax) — deeper name trees unwritten")
    val hashes = rootMembers.map(nm => lookup3(nm.getBytes("ASCII"), 0, nm.length))
    require(hashes.distinct.size == n,
      "name-hash collision — pick different dataset names for the fixture")
    val recOrder = rootMembers.indices.sortBy(i => hashes(i).toLong & 0xffffffffL)

    // ---- remaining addresses
    val frhpAddr = dsOhAddrs.last + dsOhSize
    val fibSlots = curRows * width
    val fibSize = if (curRows == 0) 0 else 5 + 8 + offSize + fibSlots * 8 + 4
    val fibAddr = frhpAddr + 146
    val dblkAddrs = (0 until nBlocks).scanLeft(fibAddr + fibSize) {
      (acc, k) => acc + rowSize(k / width)
    }
    val bthdAddr = dblkAddrs.last
    val btlfAddr = bthdAddr + 38
    val dataBase = btlfAddr + btNodeSize
    val dataAddrs = paths.scanLeft(dataBase) { (acc, d) => acc + d._2.length * 8L }
    val heapRootAddr = if (curRows == 0) dblkAddrs(0) else fibAddr

    val file = new V3File(dataAddrs.last, rootOhAddr)
    val buf = file.buf
    file.ohdr(rootOhAddr, groupMsgs(Nil, frhpAddr, bthdAddr))
    subGroups.foreach(g => file.ohdr(grpOhAddrs(g), grpMsgs(g, memberAddr(g))))
    paths.zipWithIndex.foreach { case ((_, vals), i) =>
      file.ohdr(dsOhAddrs(i), dsMsgs(vals, dataAddrs(i)))
    }

    // ---- fractal heap header (FRHP)
    val h0 = buf.position()
    require(h0 == frhpAddr)
    putSig(buf, "FRHP")
    buf.putShort(idLen.toShort); buf.putShort(0) // no I/O filters
    buf.put(0x02.toByte) // flags: checksummed direct blocks
    buf.putInt(maxMan.toInt)
    buf.putLong(0L); buf.putLong(Undef) // next huge id, huge bt2
    buf.putLong(0L); buf.putLong(Undef) // free space, fs manager
    buf.putLong(managedSpace); buf.putLong(managedSpace)
    buf.putLong(blockHeapOff(nBlocks - 1) + used) // iterator offset
    buf.putLong(n.toLong) // managed objects
    buf.putLong(0L); buf.putLong(0L); buf.putLong(0L); buf.putLong(0L) // huge/tiny
    buf.putShort(width.toShort)
    buf.putLong(startBlockSize.toLong); buf.putLong(maxDirect)
    buf.putShort(maxHeapBits.toShort)
    buf.putShort((if (curRows == 0) 1 else curRows).toShort) // starting rows
    buf.putLong(heapRootAddr)
    buf.putShort(curRows.toShort)
    file.cksumAt(h0)

    // ---- root indirect block (FHIB), when more than one direct block
    if (curRows > 0) {
      val f0 = buf.position()
      putSig(buf, "FHIB")
      buf.putLong(frhpAddr)
      putVarU(buf, 0L, offSize) // block offset
      (0 until fibSlots).foreach(k => buf.putLong(if (k < nBlocks) dblkAddrs(k) else Undef))
      file.cksumAt(f0)
    }

    // ---- direct blocks (FHDB): header + packed link messages, padded
    (0 until nBlocks).foreach { k =>
      val d0 = buf.position()
      require(d0 == dblkAddrs(k))
      putSig(buf, "FHDB")
      buf.putLong(frhpAddr)
      putVarU(buf, blockHeapOff(k), offSize)
      val ckPos = buf.position() // checksum patched below (computed with field zeroed)
      linkBodies.zip(placed).foreach { case (lb, (b, off)) =>
        if (b == k) { buf.position(d0 + off); buf.put(lb) }
      }
      buf.position(d0 + rowSize(k / width).toInt) // zero padding to block size
      buf.putInt(ckPos, lookup3(buf.array(), d0, rowSize(k / width).toInt))
    }

    // ---- name index: BTHD + one BTLF (records hash-sorted)
    val b0 = buf.position()
    putSig(buf, "BTHD")
    buf.put(5.toByte) // record type 5: group name index
    buf.putInt(btNodeSize); buf.putShort(btRrec.toShort)
    buf.putShort(0) // depth
    buf.put(100.toByte); buf.put(40.toByte)
    buf.putLong(btlfAddr); buf.putShort(n.toShort)
    buf.putLong(n.toLong)
    file.cksumAt(b0)
    val l0 = buf.position()
    putSig(buf, "BTLF")
    buf.put(5.toByte)
    recOrder.foreach { i =>
      buf.putInt(hashes(i))
      buf.put(0.toByte) // heap id: version 0, managed
      putVarU(buf, heapOffs(i), offSize)
      putVarU(buf, linkBodies(i).length.toLong, lenSize)
    }
    file.cksumAt(l0)
    buf.position(l0 + btNodeSize) // node padding

    // ---- raw contiguous data
    paths.foreach { case (_, vals) => vals.foreach(buf.putDouble) }
    require(buf.position() == dataAddrs.last, s"wrote ${buf.position()} of ${dataAddrs.last}")
    buf.array()
  }
}
