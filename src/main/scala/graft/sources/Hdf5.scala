package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HDF5 source/sink (reference `to_hdf5` / h5py ingest,
  * `dask_array/io/_store.py:331`, `tests/test_hdf5.py`) — a pure-Scala
  * implementation of the HDF5 subset simple numeric datasets live in:
  *
  *  - superblock version 0 (1.8-era) AND v2/v3 (1.10+ latest format,
  *    via [[Hdf5V4]]), offsets/lengths of size 8,
  *  - symbol-table root group (v1 B-tree + local heap + SNOD) and
  *    link-message root groups in v2 object headers,
  *  - version-1 AND version-2 (`OHDR`) object headers, with
  *    continuation-block support in both,
  *  - dataspace v1/v2, IEEE little-endian float (f4/f8) and fixed-point
  *    (i1/i2/i4/i8) datatypes, fill-value skipped,
  *  - data layout v3: contiguous, compact, or CHUNKED (r14 — a real
  *    HDF5 corpus is usually chunked): v1 chunk B-tree at any depth,
  *    full-size edge chunks with clipping; data layout v4 (r15): all
  *    five chunk index types (single/implicit/fixed-array/extensible-
  *    array/v2-B-tree, [[Hdf5V4]]),
  *  - the deflate(1)/shuffle(2)/fletcher32(3) filter pipeline — the
  *    h5py gzip/shuffle/checksum options; szip/nbit are rejected
  *    loudly. The STACK remains the engine's scale path, mirroring
  *    `to_npy_stack`: one block file per task, so no single-file chunk
  *    index ever becomes a driver bottleneck — chunked support is for
  *    INGESTING externally-produced files.
  *
  * The writer emits exactly that subset (h5py reads these files); the
  * reader accepts any conforming file. Reading follows the
  * [[NpyStack]] two-phase shape: block shapes come from an O(numBlocks)
  * driver pass over metadata prefixes, payloads decode in one
  * distributed `binaryFile` scan — data bytes never touch the driver.
  * All store IO routes through [[StoreIO]] (Hadoop FileSystem). */
object Hdf5 {

  private val Sig: Array[Byte] =
    Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a.toByte, '\n')
  private val Undef = -1L // 0xFFFFFFFFFFFFFFFF

  private def pad8(n: Int): Int = (n + 7) & ~7

  // ------------------------------------------------------------------ write

  /** Serialize named float64 datasets (C-order) as one HDF5 file.
    * Names may be nested paths (`g/x` or `/g/x`) — intermediate groups
    * are created the way h5py's `create_dataset('/g/x')` does (r16; the
    * reference's `to_hdf5` takes exactly such paths,
    * `dask_array/io/_store.py:346`). Each group holds at most 8 members
    * (one symbol-table node — plenty for block files). */
  def h5Bytes(datasets: Seq[(String, Array[Double], Seq[Long])]): Array[Byte] = {
    require(datasets.nonEmpty, "no datasets")
    val paths = datasets.map { case (nm, vs, sh) => (nm.stripPrefix("/"), vs, sh) }
    paths.foreach { case (nm, vs, sh) =>
      require(vs.length.toLong == sh.product, s"$nm: ${vs.length} values for shape $sh")
      // split with limit -1 keeps trailing empty segments: 'a/b/' must
      // be rejected here, not silently collapse onto 'a/b'
      require(nm.nonEmpty && nm.split("/", -1).forall(s => s.nonEmpty && s.length <= 247),
        s"bad dataset path '$nm'")
    }
    require(paths.map(_._1).distinct.size == paths.size, "duplicate dataset paths")

    // ---- group tree (members name-sorted; SNOD entries must be sorted)
    final class GNode {
      val groups = scala.collection.mutable.TreeMap.empty[String, GNode]
      val dss = scala.collection.mutable.TreeMap.empty[String, Int] // -> paths idx
      def memberNames: Seq[String] = (groups.keys ++ dss.keys).toSeq.sorted
    }
    val root = new GNode
    paths.zipWithIndex.foreach { case ((nm, _, _), i) =>
      val segs = nm.split('/')
      var cur = root
      segs.dropRight(1).foreach { g =>
        require(!cur.dss.contains(g), s"'$g' is both a dataset and a group")
        cur = cur.groups.getOrElseUpdate(g, new GNode)
      }
      require(!cur.groups.contains(segs.last),
        s"'${segs.last}' is both a dataset and a group")
      cur.dss(segs.last) = i
    }
    // pre-order group list; fan-out bound per group
    val groups = scala.collection.mutable.ArrayBuffer.empty[(String, GNode)]
    def collect(n: GNode, at: String): Unit = {
      val k = n.groups.size + n.dss.size
      require(k >= 1 && k <= 8,
        s"h5Bytes writes 1..8 members per group (got $k at '$at')")
      groups += ((at, n))
      n.groups.foreach { case (g, c) => collect(c, s"$at$g/") }
    }
    collect(root, "/")

    // ---- layout plan (all addresses absolute)
    val treeSize = 24 + 9 * 8 + 8 * 8 // K=4 group node: 9 keys, 8 children
    val snodSize = 8 + 8 * 40
    def heapBytes(n: GNode): Int = // null-name slot + padded member names
      8 + n.memberNames.map(nm => pad8(nm.length + 1)).sum
    // per-group structures, pre-order: OH(40) HEAP(32+data) TREE SNOD
    final case class GAddr(oh: Long, heap: Long, heapData: Long,
                           tree: Long, snod: Long)
    var cursor = 96L // 56 superblock + 40 root symbol-table entry
    val gaddr = new java.util.IdentityHashMap[GNode, GAddr]()
    groups.foreach { case (_, n) =>
      val oh = cursor
      val heap = oh + 40
      val heapData = heap + 32
      val tree = heapData + heapBytes(n)
      val snod = tree + treeSize
      gaddr.put(n, GAddr(oh, heap, heapData, tree, snod))
      cursor = snod + snodSize
    }
    // dataset object headers, in pre-order-group then name order
    val dsOrder = groups.flatMap { case (_, n) => n.dss.values }.toSeq
    val ohSizes = dsOrder.map(i => 16 + (16 + 8 * paths(i)._3.length) + 32 + 16 + 32)
    val ohAddrs = ohSizes.scanLeft(cursor)(_ + _)
    val dsOhAddr = dsOrder.zip(ohAddrs).toMap // paths idx -> OH addr
    val dataAddrs = dsOrder.map(i => paths(i)._2.length.toLong * 8)
      .scanLeft(ohAddrs.last)(_ + _)
    val eof = dataAddrs.last
    require(eof <= Int.MaxValue,
      s"single .h5 file would be $eof bytes (> 2 GiB buffer limit) — " +
        "write more, smaller stack blocks instead")

    val buf = ByteBuffer.allocate(eof.toInt).order(ByteOrder.LITTLE_ENDIAN)
    // ---- superblock v0 ----
    buf.put(Sig)
    buf.put(Array[Byte](0, 0, 0, 0, 0, 8, 8, 0)) // versions + sizeof offsets/lengths
    buf.putShort(4); buf.putShort(16)            // group leaf / internal K
    buf.putInt(0)                                // consistency flags
    buf.putLong(0L); buf.putLong(Undef); buf.putLong(eof); buf.putLong(Undef)
    // root symbol-table entry
    val ra = gaddr.get(root)
    buf.putLong(0L); buf.putLong(ra.oh)
    buf.putInt(1); buf.putInt(0)                 // cache type 1 (btree+heap cached)
    buf.putLong(ra.tree); buf.putLong(ra.heap)   // scratch
    // ---- group structures, pre-order ----
    groups.foreach { case (_, n) =>
      val a = gaddr.get(n)
      val names = n.memberNames
      val nameOffs = names.scanLeft(8)((acc, nm) => acc + pad8(nm.length + 1))
      require(buf.position() == a.oh.toInt)
      // group object header (v1): one symbol-table message
      buf.put(1.toByte); buf.put(0.toByte); buf.putShort(1)
      buf.putInt(1); buf.putInt(24); buf.putInt(0) // refcount, size, align pad
      buf.putShort(0x0011); buf.putShort(16); buf.putInt(0)
      buf.putLong(a.tree); buf.putLong(a.heap)
      // local heap
      buf.put("HEAP".getBytes("ASCII")); buf.put(0.toByte)
      buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putLong(heapBytes(n).toLong)
      buf.putLong(1L)                            // free list: empty sentinel
      buf.putLong(a.heapData)
      buf.putLong(0L)                            // heap data: null name at offset 0
      names.foreach { nm =>
        val b = new Array[Byte](pad8(nm.length + 1))
        System.arraycopy(nm.getBytes("ASCII"), 0, b, 0, nm.length)
        buf.put(b)
      }
      // group B-tree (v1), one SNOD child
      buf.put("TREE".getBytes("ASCII")); buf.put(0.toByte); buf.put(0.toByte)
      buf.putShort(1)
      buf.putLong(Undef); buf.putLong(Undef)
      buf.putLong(0L)                            // key 0: the null name
      buf.putLong(a.snod)                        // child 0
      buf.putLong(nameOffs(names.size - 1).toLong) // key 1: last (greatest) name
      buf.position(buf.position() + (treeSize - 24 - 3 * 8)) // unused capacity
      // SNOD: members name-sorted; group children cache their own
      // btree+heap in scratch (cache type 1), datasets carry none
      buf.put("SNOD".getBytes("ASCII")); buf.put(1.toByte); buf.put(0.toByte)
      buf.putShort(names.size.toShort)
      names.zipWithIndex.foreach { case (nm, k) =>
        buf.putLong(nameOffs(k).toLong)
        n.groups.get(nm) match {
          case Some(child) =>
            val ca = gaddr.get(child)
            buf.putLong(ca.oh)
            buf.putInt(1); buf.putInt(0)
            buf.putLong(ca.tree); buf.putLong(ca.heap)
          case None =>
            buf.putLong(dsOhAddr(n.dss(nm)))
            buf.putInt(0); buf.putInt(0)
            buf.putLong(0L); buf.putLong(0L)     // scratch
        }
      }
      buf.position(buf.position() + (snodSize - 8 - names.size * 40))
    }
    // ---- dataset object headers ----
    dsOrder.zipWithIndex.foreach { case (pi, k) =>
      val (_, vs, sh) = paths(pi)
      val r = sh.length
      require(buf.position() == ohAddrs(k).toInt)
      buf.put(1.toByte); buf.put(0.toByte); buf.putShort(4)
      buf.putInt(1); buf.putInt(ohSizes(k) - 16); buf.putInt(0)
      // dataspace v1
      buf.putShort(0x0001); buf.putShort((8 + 8 * r).toShort); buf.putInt(0)
      buf.put(1.toByte); buf.put(r.toByte); buf.put(0.toByte)
      buf.put(new Array[Byte](5))
      sh.foreach(buf.putLong)
      // datatype: IEEE f8 little-endian
      buf.putShort(0x0003); buf.putShort(24); buf.putInt(0)
      buf.put(0x11.toByte)                       // version 1, class 1 (float)
      buf.put(0x20.toByte); buf.put(0x3f.toByte); buf.put(0.toByte) // LE, norm, sign@63
      buf.putInt(8)
      buf.putShort(0); buf.putShort(64)          // bit offset / precision
      buf.put(52.toByte); buf.put(11.toByte)     // exponent location / size
      buf.put(0.toByte); buf.put(52.toByte)      // mantissa location / size
      buf.putInt(1023)                           // exponent bias
      buf.putInt(0)                              // pad 20 -> 24
      // fill value v2, undefined
      buf.putShort(0x0005); buf.putShort(8); buf.putInt(0)
      buf.put(2.toByte); buf.put(2.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putInt(0)
      // layout v3 contiguous
      buf.putShort(0x0008); buf.putShort(24); buf.putInt(0)
      buf.put(3.toByte); buf.put(1.toByte)
      buf.putLong(dataAddrs(k)); buf.putLong(vs.length.toLong * 8)
      buf.put(new Array[Byte](6))                // pad 18 -> 24
    }
    // ---- data ----
    dsOrder.foreach(pi => paths(pi)._2.foreach(buf.putDouble))
    buf.array()
  }

  /** Serialize ONE float64 dataset with CHUNKED layout (v1 chunk
    * B-tree, optional shuffle+deflate pipeline — the h5py `gzip` /
    * `shuffle` defaults) — the writer half of the r14 chunked-read
    * support, so round trips prove the codec against itself byte-up.
    * Edge chunks store FULL chunk dims with zero padding (HDF5's
    * contract; readers clip). Chunks deliberately stay in one level-0
    * B-tree node — files written here are block files of a stack, whose
    * chunk counts are small by construction; a reader accepts any
    * depth. */
  def h5BytesChunked(name: String, vals: Array[Double], shape: Seq[Long],
                     chunkDims: Seq[Long], deflate: Boolean = false,
                     shuffle: Boolean = false,
                     fletcher: Boolean = false): Array[Byte] = {
    require(vals.length.toLong == shape.product,
      s"$name: ${vals.length} values for shape $shape")
    require(chunkDims.length == shape.length && chunkDims.forall(_ > 0),
      s"$name: bad chunk dims $chunkDims for shape $shape")
    require(name.nonEmpty && !name.contains('/'), s"bad dataset name '$name'")
    val rank = shape.length
    val grid = shape.zip(chunkDims).map { case (s, c) => (s + c - 1) / c }
    val cElems = chunkDims.product.toInt
    val rowStrides = shape.scanRight(1L)(_ * _).tail
    // enumerate chunk corners in C order and extract full-size blobs
    val corners = grid.foldLeft(Seq(Seq.empty[Long])) { (acc, g) =>
      acc.flatMap(pre => (0L until g).map(k => pre :+ k))
    }
    val filters: Seq[Int] = (if (shuffle) Seq(2) else Nil) ++
      (if (deflate) Seq(1) else Nil) ++ (if (fletcher) Seq(3) else Nil)
    val blobs = corners.map { corner =>
      val off = corner.zip(chunkDims).map { case (c, d) => c * d }
      val buf = ByteBuffer.allocate(cElems * 8).order(ByteOrder.LITTLE_ENDIAN)
      val local = new Array[Long](rank)
      var i = 0
      while (i < cElems) {
        var inBounds = true
        var flat = 0L
        var a = 0
        while (a < rank) {
          val g = off(a) + local(a)
          if (g >= shape(a)) { inBounds = false; a = rank }
          else { flat += g * rowStrides(a); a += 1 }
        }
        buf.putDouble(if (inBounds) vals(flat.toInt) else 0.0)
        var d = rank - 1
        while (d >= 0) {
          local(d) += 1
          if (local(d) < chunkDims(d)) d = -1 else { local(d) = 0; d -= 1 }
        }
        i += 1
      }
      var payload = buf.array()
      filters.foreach {
        case 2 => // shuffle: all byte-0s then byte-1s … (inverse of unshuffle)
          val es = 8; val n = payload.length / es
          val sh = new Array[Byte](payload.length)
          var j = 0
          while (j < es) {
            var i2 = 0
            while (i2 < n) { sh(j * n + i2) = payload(i2 * es + j); i2 += 1 }
            j += 1
          }
          payload = sh
        case 1 =>
          val d = new java.util.zip.Deflater(6)
          d.setInput(payload); d.finish()
          val out = new java.io.ByteArrayOutputStream(payload.length)
          val tmp = new Array[Byte](65536)
          while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
          d.end()
          payload = out.toByteArray
        case 3 => // fletcher32: append the checksum little-endian
          val ck = Hdf5V4.fletcher32(payload, 0, payload.length)
          val w = ByteBuffer.allocate(payload.length + 4)
            .order(ByteOrder.LITTLE_ENDIAN)
          w.put(payload); w.putInt(ck)
          payload = w.array()
      }
      (off, payload)
    }
    // ---- layout plan ----
    val rootOhAddr = 96L
    val heapAddr = rootOhAddr + 40
    val heapDataSize = 8 + pad8(name.length + 1)
    val heapDataAddr = heapAddr + 32
    val treeAddr = heapDataAddr + heapDataSize
    val treeSize = 24 + 9 * 8 + 8 * 8
    val snodAddr = treeAddr + treeSize
    val snodSize = 8 + 8 * 40
    // 16 bytes per value-carrying filter (8 hdr + cval + odd-count pad),
    // 8 for fletcher32 (zero client values, even count — no pad)
    val filterBody =
      if (filters.isEmpty) 0
      else 8 + filters.map(id => if (id == 3) 8 else 16).sum
    val filterMsg = if (filters.isEmpty) 0 else 8 + filterBody
    val layoutBody = pad8(11 + 4 * (rank + 1))
    val ohSize = 16 + (16 + 8 * rank) + 32 + 16 + filterMsg + (8 + layoutBody)
    val ohAddr = snodAddr + snodSize
    val btreeAddr = ohAddr + ohSize
    val keySize = 8 + 8 * (rank + 1)
    val btreeSize = 24 + blobs.size * (keySize + 8) + keySize
    val dataAddrs = blobs.map(_._2.length.toLong)
      .scanLeft(btreeAddr + btreeSize)(_ + _)
    val eof = dataAddrs.last
    require(eof <= Int.MaxValue,
      s"single chunked .h5 file would be $eof bytes (> 2 GiB buffer limit)")
    // the B-tree entries-used count is a u16: a grid with more chunks
    // (reachable under the eof guard with tiny chunkDims) would silently
    // truncate the count and drop chunks (r14 ADVICE)
    require(blobs.size <= 0xFFFF,
      s"${blobs.size} chunks exceed one B-tree node's u16 entry count — " +
        s"use larger chunkDims (got $chunkDims for shape $shape)")

    val buf = ByteBuffer.allocate(eof.toInt).order(ByteOrder.LITTLE_ENDIAN)
    // superblock v0 + root STE (identical to h5Bytes)
    buf.put(Sig)
    buf.put(Array[Byte](0, 0, 0, 0, 0, 8, 8, 0))
    buf.putShort(4); buf.putShort(16)
    buf.putInt(0)
    buf.putLong(0L); buf.putLong(Undef); buf.putLong(eof); buf.putLong(Undef)
    buf.putLong(0L); buf.putLong(rootOhAddr)
    buf.putInt(1); buf.putInt(0)
    buf.putLong(treeAddr); buf.putLong(heapAddr)
    // root OH: symbol-table message
    buf.put(1.toByte); buf.put(0.toByte); buf.putShort(1)
    buf.putInt(1); buf.putInt(24); buf.putInt(0)
    buf.putShort(0x0011); buf.putShort(16); buf.putInt(0)
    buf.putLong(treeAddr); buf.putLong(heapAddr)
    // local heap with the one name
    buf.put("HEAP".getBytes("ASCII")); buf.put(0.toByte)
    buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
    buf.putLong(heapDataSize.toLong)
    buf.putLong(1L)
    buf.putLong(heapDataAddr)
    buf.putLong(0L)
    val nb = new Array[Byte](pad8(name.length + 1))
    System.arraycopy(name.getBytes("ASCII"), 0, nb, 0, name.length)
    buf.put(nb)
    // group B-tree + SNOD (one entry)
    buf.put("TREE".getBytes("ASCII")); buf.put(0.toByte); buf.put(0.toByte)
    buf.putShort(1)
    buf.putLong(Undef); buf.putLong(Undef)
    buf.putLong(0L)
    buf.putLong(snodAddr)
    buf.putLong(8L)
    buf.position(buf.position() + (treeSize - 24 - 3 * 8))
    buf.put("SNOD".getBytes("ASCII")); buf.put(1.toByte); buf.put(0.toByte)
    buf.putShort(1)
    buf.putLong(8L); buf.putLong(ohAddr)
    buf.putInt(0); buf.putInt(0)
    buf.putLong(0L); buf.putLong(0L)
    buf.position(buf.position() + (snodSize - 8 - 40))
    // dataset OH
    buf.put(1.toByte); buf.put(0.toByte)
    buf.putShort((if (filters.isEmpty) 4 else 5).toShort)
    buf.putInt(1); buf.putInt(ohSize - 16); buf.putInt(0)
    //   dataspace v1
    buf.putShort(0x0001); buf.putShort((8 + 8 * rank).toShort); buf.putInt(0)
    buf.put(1.toByte); buf.put(rank.toByte); buf.put(0.toByte)
    buf.put(new Array[Byte](5))
    shape.foreach(buf.putLong)
    //   datatype f8 LE
    buf.putShort(0x0003); buf.putShort(24); buf.putInt(0)
    buf.put(0x11.toByte)
    buf.put(0x20.toByte); buf.put(0x3f.toByte); buf.put(0.toByte)
    buf.putInt(8)
    buf.putShort(0); buf.putShort(64)
    buf.put(52.toByte); buf.put(11.toByte)
    buf.put(0.toByte); buf.put(52.toByte)
    buf.putInt(1023)
    buf.putInt(0)
    //   fill value v2, undefined
    buf.putShort(0x0005); buf.putShort(8); buf.putInt(0)
    buf.put(2.toByte); buf.put(2.toByte); buf.put(0.toByte); buf.put(0.toByte)
    buf.putInt(0)
    //   filter pipeline v1 (application order; nameLen 0, one client val)
    if (filters.nonEmpty) {
      buf.putShort(0x000B); buf.putShort(filterBody.toShort); buf.putInt(0)
      buf.put(1.toByte); buf.put(filters.size.toByte)
      buf.put(new Array[Byte](6))
      filters.foreach { id =>
        buf.putShort(id.toShort); buf.putShort(0) // built-in: no name
        if (id == 3) {
          buf.putShort(0); buf.putShort(0)        // mandatory, 0 client vals
        } else {
          buf.putShort(0); buf.putShort(1)        // mandatory, 1 client val
          buf.putInt(if (id == 1) 6 else 8)       // level / element size
          buf.putInt(0)                           // pad to even val count
        }
      }
    }
    //   layout v3 chunked
    buf.putShort(0x0008); buf.putShort(layoutBody.toShort); buf.putInt(0)
    buf.put(3.toByte); buf.put(2.toByte); buf.put((rank + 1).toByte)
    buf.putLong(btreeAddr)
    chunkDims.foreach(c => buf.putInt(c.toInt))
    buf.putInt(8) // element size dim
    buf.position(buf.position() + (layoutBody - 11 - 4 * (rank + 1)))
    // chunk B-tree (level 0, one node)
    buf.put("TREE".getBytes("ASCII")); buf.put(1.toByte); buf.put(0.toByte)
    buf.putShort(blobs.size.toShort)
    buf.putLong(Undef); buf.putLong(Undef)
    blobs.zipWithIndex.foreach { case ((off, blob), k) =>
      buf.putInt(blob.length); buf.putInt(0)
      off.foreach(buf.putLong); buf.putLong(0L)
      buf.putLong(dataAddrs(k))
    }
    // final key: one past the end of the grid
    buf.putInt(0); buf.putInt(0)
    shape.foreach(buf.putLong); buf.putLong(0L)
    // chunk data
    blobs.foreach { case (_, blob) => buf.put(blob) }
    buf.array()
  }

  // ------------------------------------------------------------------- read

  /** One dataset's metadata. `dtype` ∈ f8 f4 i1 i2 i4 i8. `dataAddr` is
    * -2 for compact layout (payload carried in `compact`), -3 for
    * CHUNKED layout (chunk index rooted at `btreeAddr`, walked lazily by
    * [[parseData]] — the driver's metadata-prefix pass never needs it).
    * `filters` is the dataset's filter pipeline in APPLICATION order
    * (1 = deflate, 2 = shuffle, 3 = fletcher32); decode applies the
    * inverse chain in reverse. `idxType` (r15): 0 = v1 chunk B-tree
    * (layout v3), 1..5 = the layout-v4 index types (single / implicit /
    * fixed array / extensible array / v2 B-tree — [[Hdf5V4]]);
    * `idxParams` carries the index's message-encoded parameters and
    * `maxDims` the dataspace max bounds (−1 = unlimited). */
  final case class H5Dataset(name: String, shape: Seq[Long], dtype: String,
                             dataAddr: Long, dataSize: Long,
                             compact: Array[Byte] = null,
                             chunkDims: Seq[Long] = Nil,
                             btreeAddr: Long = -1L,
                             filters: Seq[Int] = Nil,
                             idxType: Int = 0,
                             idxParams: Seq[Long] = Nil,
                             maxDims: Seq[Long] = Nil)

  private final class Rd(bytes: Array[Byte]) {
    val buf: ByteBuffer = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def u8(p: Int): Int = bytes(p) & 0xff
    def u16(p: Int): Int = buf.getShort(p) & 0xffff
    def i32(p: Int): Int = buf.getInt(p)
    def i64(p: Int): Long = buf.getLong(p)
    def ascii(p: Int, n: Int): String = new String(bytes, p, n, "ASCII")
    def cstr(p: Int): String = {
      var e = p
      while (bytes(e) != 0) e += 1
      new String(bytes, p, e - p, "ASCII")
    }
  }

  /** Parse every dataset in the file, RECURSING through nested groups
    * (r16 — the reference's `to_hdf5('f.h5', {'/g/x': a, ...})` creates
    * intermediate groups, so nested datasets are first-class; they were
    * previously invisible). Names are slash-joined paths relative to
    * the root (`g/x`). Dispatches on superblock version: v0 (1.8-era
    * symbol-table groups) and v2/v3 (1.10+ `libver='latest'` — compact
    * superblock, v2 object headers, compact link messages or dense
    * fractal-heap storage) walk through the same recursion; a group's
    * children are classified by their own object header (dataspace ⇒
    * dataset, any link-storage message ⇒ group, neither ⇒ loud reject
    * — a silently-skipped member could fake an empty corpus). Aliased
    * hard links are enumerated once; nesting deeper than 64 (a link
    * cycle) is refused. */
  def datasets(bytes: Array[Byte]): Seq[H5Dataset] = {
    val rd = new Rd(bytes)
    require(Sig.indices.forall(i => bytes(i) == Sig(i)), "not an HDF5 file")
    val sbVer = rd.u8(8)
    val rootOh =
      if (sbVer == 2 || sbVer == 3) {
        require(rd.u8(9) == 8 && rd.u8(10) == 8, "offsets/lengths must be 8 bytes")
        rd.i64(36)
      } else {
        require(sbVer == 0, s"superblock version $sbVer unsupported (v0/v2/v3)")
        require(rd.u8(13) == 8 && rd.u8(14) == 8, "offsets/lengths must be 8 bytes")
        rd.i64(64)
      }
    val (rootKids, rootStored) = groupChildren(rd, rootOh)
    require(rootStored,
      "root group has no link storage (symbol table / link messages / " +
        "fractal heap) — refusing rather than returning an empty dataset list")
    val out = scala.collection.mutable.ArrayBuffer.empty[H5Dataset]
    // root children are already enumerated for the storage check — walk
    // them directly (a dense root's heap + name index walk is not free)
    dispatchChildren(rd, rootKids, "", out,
      scala.collection.mutable.Set(rootOh), 1)
    out.toSeq
  }

  /** Children (name → object-header address) of ONE group object
    * header, through whichever link-storage mechanism it carries:
    * v1 symbol table (0x0011), compact link messages (0x0006), or
    * dense fractal-heap storage behind the link-info message (0x0002).
    * Also returns whether ANY mechanism was present (false ⇒ the OH is
    * not a group at all). */
  private def groupChildren(rd: Rd, ohAddr: Long): (Seq[(String, Long)], Boolean) = {
    val links = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var stTree = Undef; var stHeap = Undef
    var denseHeap = Undef; var denseNameBt = Undef
    var sawInfo = false
    foreachMessageAny(rd, ohAddr) { (tpe, body, _) =>
      tpe match {
        case 0x0011 => // v1 symbol table: group B-tree + local heap
          stTree = rd.i64(body); stHeap = rd.i64(body + 8)
        case 0x0006 => // compact link message
          val ver = rd.u8(body)
          require(ver == 1, s"link message version $ver unsupported")
          val lflags = rd.u8(body + 1)
          var p = body + 2
          val linkType = if ((lflags & 0x08) != 0) { val t = rd.u8(p); p += 1; t } else 0
          if ((lflags & 0x04) != 0) p += 8 // creation order
          if ((lflags & 0x10) != 0) p += 1 // charset
          val lenSize = 1 << (lflags & 0x03)
          var nameLen = 0L
          var k = 0
          while (k < lenSize) { nameLen |= (rd.u8(p + k).toLong << (8 * k)); k += 1 }
          p += lenSize
          val name = rd.ascii(p, nameLen.toInt)
          p += nameLen.toInt
          // same loud-reject policy as the v0 symbol-table path: a
          // silently-skipped soft/external link fakes a smaller corpus
          require(linkType == 0,
            s"'$name': link type $linkType (soft/external) unsupported — " +
              "refusing rather than skip silently")
          links += ((name, rd.i64(p)))
        case 0x0002 => // link info: a defined fractal-heap addr ⇒ dense storage
          sawInfo = true
          val p = body + 2 + (if ((rd.u8(body + 1) & 1) != 0) 8 else 0)
          denseHeap = rd.i64(p)
          denseNameBt = rd.i64(p + 8)
        case _ => ()
      }
    }
    if (stTree != Undef && stHeap != Undef)
      links ++= symbolChildren(rd, stTree, stHeap)
    // dense storage (r16): past ~8 links libhdf5 moves the link messages
    // into a fractal heap indexed by a name v2 B-tree — enumerate them
    // through [[Hdf5V4.denseLinks]] (r15 verdict "next" #2; this was a
    // loud reject before, hit by any wide latest-format file)
    if (denseHeap != Undef)
      links ++= Hdf5V4.denseLinks(rd.buf.array(), denseHeap, denseNameBt)
    (links.toSeq, stTree != Undef || sawInfo || links.nonEmpty)
  }

  /** v0 symbol-table group enumeration: v1 group B-tree → SNOD leaves,
    * names resolved through the group's local heap. */
  private def symbolChildren(rd: Rd, treeAddr: Long, heapAddr: Long): Seq[(String, Long)] = {
    require(rd.ascii(heapAddr.toInt, 4) == "HEAP", "bad local heap signature")
    val heapData = rd.i64(heapAddr.toInt + 24)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def walkTree(addr: Long): Unit = {
      require(rd.ascii(addr.toInt, 4) == "TREE", "bad B-tree signature")
      val level = rd.u8(addr.toInt + 5)
      val used = rd.u16(addr.toInt + 6)
      var p = addr.toInt + 24
      var e = 0
      while (e < used) {
        p += 8 // key e
        val child = rd.i64(p); p += 8
        if (level > 0) walkTree(child)
        else { // SNOD leaf
          require(rd.ascii(child.toInt, 4) == "SNOD", "bad symbol node signature")
          val n = rd.u16(child.toInt + 6)
          var q = child.toInt + 8
          var s = 0
          while (s < n) {
            val nm = rd.cstr((heapData + rd.i64(q)).toInt)
            val oh = rd.i64(q + 8)
            // soft links store cache type 2 with an UNDEFINED header
            // address (the target lives in the heap as a path string) —
            // refuse loudly rather than walk address -1
            require(oh != Undef,
              s"'$nm': soft/external link in symbol table unsupported — " +
                "refusing rather than skip silently")
            out += ((nm, oh))
            q += 40; s += 1
          }
        }
        e += 1
      }
    }
    walkTree(treeAddr)
    out.toSeq
  }

  /** Depth-first group recursion shared by both superblock eras: each
    * child is classified by its own object header. */
  private def dispatchChildren(rd: Rd, children: Seq[(String, Long)],
                               prefix: String,
                               out: scala.collection.mutable.ArrayBuffer[H5Dataset],
                               visited: scala.collection.mutable.Set[Long],
                               depth: Int): Unit = {
    require(depth <= 64,
      s"group nesting deeper than 64 at '$prefix' — refusing (link cycle?)")
    children.foreach { case (nm, addr) =>
      val full = if (prefix.isEmpty) nm else s"$prefix/$nm"
      var isDs = false
      var isGrp = false
      foreachMessageAny(rd, addr) { (tpe, _, _) =>
        if (tpe == 0x0001) isDs = true
        if (tpe == 0x0011 || tpe == 0x0002 || tpe == 0x0006 || tpe == 0x000A)
          isGrp = true
      }
      if (isDs)
        out += parseDatasetOH(rd, addr, full).getOrElse(
          sys.error(s"$full: object has a dataspace but no parsable dataset"))
      else if (isGrp) {
        if (visited.add(addr)) // aliased hard link: enumerate once
          dispatchChildren(rd, groupChildren(rd, addr)._1, full, out,
            visited, depth + 1)
      } else sys.error(s"$full: object header is neither a dataset nor a group " +
        "(named datatype?) — refusing rather than skip silently")
    }
  }

  /** Iterate a v1 object header's messages (following continuations):
    * calls f(type, bodyOffset, bodySize). */
  private def foreachMessage(rd: Rd, ohAddr: Long)(f: (Int, Int, Int) => Unit): Unit = {
    val nmsg = rd.u16(ohAddr.toInt + 2)
    val firstSize = rd.i32(ohAddr.toInt + 8)
    var blocks = List((ohAddr.toInt + 16, firstSize))
    var seen = 0
    while (blocks.nonEmpty && seen < nmsg) {
      val (start, size) = blocks.head
      blocks = blocks.tail
      var p = start
      while (p + 8 <= start + size && seen < nmsg) {
        val tpe = rd.u16(p)
        val msz = rd.u16(p + 2)
        if (tpe == 0x0010) { // continuation: body = offset + length
          blocks = blocks :+ ((rd.i64(p + 8).toInt, rd.i64(p + 16).toInt))
        } else f(tpe, p + 8, msz)
        p += 8 + msz
        seen += 1
      }
    }
  }


  /** Iterate a VERSION-2 (`OHDR`) object header's messages, following
    * `OCHK` continuation blocks: calls f(type, bodyOffset, bodySize).
    * Message header = type(1) size(2) flags(1) [+corder(2) if tracked];
    * each chunk ends with a lookup3 checksum (skipped, not verified —
    * same trust model as the v1 path). */
  private def foreachMessageV2(rd: Rd, ohAddr: Long)(f: (Int, Int, Int) => Unit): Unit = {
    val h = ohAddr.toInt
    require(rd.ascii(h, 4) == "OHDR", "bad v2 object header signature")
    require(rd.u8(h + 4) == 2, s"object header version ${rd.u8(h + 4)}")
    val flags = rd.u8(h + 5)
    var p = h + 6
    if ((flags & 0x20) != 0) p += 16 // access/mod/change/birth times
    if ((flags & 0x10) != 0) p += 4  // max-compact/min-dense phase change
    val szBytes = 1 << (flags & 0x03)
    var chunk0 = 0L
    var k = 0
    while (k < szBytes) { chunk0 |= (rd.u8(p + k).toLong << (8 * k)); k += 1 }
    p += szBytes
    val corder = (flags & 0x04) != 0
    val hdrLen = if (corder) 6 else 4
    var blocks = List((p, chunk0.toInt))
    while (blocks.nonEmpty) {
      val (start, size) = blocks.head
      blocks = blocks.tail
      var q = start
      while (q + hdrLen <= start + size) {
        val tpe = rd.u8(q)
        val msz = rd.u16(q + 1)
        val body = q + hdrLen
        if (body + msz > start + size) q = start + size // trailing gap
        else {
          if (tpe == 0x0010) // continuation: OCHK sig + messages + checksum
            blocks = blocks :+ ((rd.i64(body).toInt + 4, rd.i64(body + 8).toInt - 8))
          else if (tpe != 0) f(tpe, body, msz)
          q = body + msz
        }
      }
    }
  }

  /** Version-agnostic message walk: v2 headers announce themselves with
    * the `OHDR` signature; anything else parses as v1. */
  private def foreachMessageAny(rd: Rd, ohAddr: Long)(f: (Int, Int, Int) => Unit): Unit =
    if (rd.ascii(ohAddr.toInt, 4) == "OHDR") foreachMessageV2(rd, ohAddr)(f)
    else foreachMessage(rd, ohAddr)(f)

  private def parseDatasetOH(rd: Rd, ohAddr: Long, name: String): Option[H5Dataset] = {
    var shape: Seq[Long] = null
    var dtype: String = null
    var dataAddr = -1L; var dataSize = -1L
    var compact: Array[Byte] = null
    var chunkDims: Seq[Long] = Nil
    var btreeAddr = -1L
    var filters: Seq[Int] = Nil
    var idxType = 0
    var idxParams: Seq[Long] = Nil
    var maxDims: Seq[Long] = Nil
    var layoutFlags = 0 // v4 chunked only; bit 0 = don't-filter-edge-chunks
    foreachMessageAny(rd, ohAddr) { (tpe, body, msz) =>
      tpe match {
        case 0x0001 => // dataspace v1 (8-byte prefix) or v2 (4-byte prefix)
          val ver = rd.u8(body)
          val rank = rd.u8(body + 1)
          val flags = rd.u8(body + 2)
          val dims = if (ver == 1) body + 8 else body + 4
          shape = (0 until rank).map(a => rd.i64(dims + 8 * a))
          if ((flags & 1) != 0) // max dims present (−1 = unlimited)
            maxDims = (0 until rank).map(a => rd.i64(dims + 8 * rank + 8 * a))
          if (shape.isEmpty) shape = Seq(1L) // scalar dataspace
        case 0x0003 =>
          val cls = rd.u8(body) & 0x0f
          val size = rd.i32(body + 4)
          val littleEndian = (rd.u8(body + 1) & 1) == 0
          require(littleEndian, s"$name: big-endian datatypes unsupported")
          // fixed-point class bit 3 = signed; an unsigned dataset parsed
          // as signed silently corrupts values above the signed max
          require(cls != 0 || (rd.u8(body + 1) & 0x08) != 0,
            s"$name: unsigned integer datatypes unsupported (signed + floats only)")
          dtype = (cls, size) match {
            case (0, n) if Set(1, 2, 4, 8)(n) => s"i$n"
            case (1, 4) => "f4"
            case (1, 8) => "f8"
            case other  => throw new IllegalArgumentException(
              s"$name: datatype class/size $other unsupported (ints + f4/f8)")
          }
        case 0x0008 =>
          val ver = rd.u8(body)
          require(ver == 3 || ver == 4,
            s"$name: data layout version $ver unsupported (v3/v4)")
          rd.u8(body + 1) match {
            case 0 => // compact: size(2) + raw (identical in v3 and v4)
              val n = rd.u16(body + 2)
              compact = java.util.Arrays.copyOfRange(
                rd.buf.array(), body + 4, body + 4 + n)
              dataAddr = -2L; dataSize = n.toLong
            case 1 => // contiguous (identical in v3 and v4)
              dataAddr = rd.i64(body + 2); dataSize = rd.i64(body + 10)
            case 2 if ver == 3 =>
              // chunked v3: dimensionality counts the trailing
              // ELEMENT-SIZE dim; chunk dims are u32 each. The chunk
              // index (v1 B-tree) is only walked by parseData, so the
              // driver's metadata-prefix pass stays O(header).
              val dim = rd.u8(body + 2)
              btreeAddr = rd.i64(body + 3)
              val dims = (0 until dim).map(k => rd.i32(body + 11 + 4 * k).toLong)
              chunkDims = dims.dropRight(1)
              dataAddr = -3L
            case 2 => // chunked v4 (r15): five index types — see Hdf5V4
              val lflags = rd.u8(body + 2)
              layoutFlags = lflags
              val ndims = rd.u8(body + 3) // includes the element-size dim
              val encLen = rd.u8(body + 4)
              var p = body + 5
              val dims = (0 until ndims).map { k =>
                var v = 0L
                var b = 0
                while (b < encLen) {
                  v |= (rd.u8(p + k * encLen + b).toLong << (8 * b)); b += 1
                }
                v
              }
              p += ndims * encLen
              chunkDims = dims.dropRight(1)
              idxType = rd.u8(p); p += 1
              idxType match {
                case 1 => // single chunk: size+mask present when filtered
                  if ((lflags & 0x02) != 0) {
                    idxParams = Seq(rd.i64(p), rd.i32(p + 8).toLong)
                    p += 12
                  }
                case 2 => () // implicit
                case 3 => idxParams = Seq(rd.u8(p).toLong); p += 1 // page bits
                case 4 => // EA creation params: 5 single-byte fields
                  idxParams = (0 until 5).map(k => rd.u8(p + k).toLong); p += 5
                case 5 => // v2 B-tree: node size, split%, merge%
                  idxParams = Seq(rd.i32(p).toLong, rd.u8(p + 4).toLong,
                    rd.u8(p + 5).toLong)
                  p += 6
                case other => throw new IllegalArgumentException(
                  s"$name: chunk index type $other unknown")
              }
              btreeAddr = rd.i64(p) // the index structure's address
              dataAddr = -3L
            case other => // class 3 = virtual storage (valid in v4)
              throw new IllegalArgumentException(
                s"$name: data layout class $other unsupported " +
                  "(compact/contiguous/chunked only — virtual storage " +
                  "maps onto other files this reader refuses to chase)")
          }
        case 0x000B => // filter pipeline: deflate(1) / shuffle(2) only
          val ver = rd.u8(body)
          require(ver == 1 || ver == 2,
            s"$name: filter pipeline version $ver unsupported")
          val nf = rd.u8(body + 1)
          var p = body + (if (ver == 1) 8 else 2)
          val ids = Seq.newBuilder[Int]
          var k = 0
          while (k < nf) {
            val id = rd.u16(p)
            ids += id
            if (ver == 2 && id < 256) {
              // v2 built-in filters (id < 256) OMIT the Name Length field
              // entirely: flags at p+2, cvals at p+4, client data unpadded
              // (r14 ADVICE: reading them with v1 offsets walked a
              // 2+-filter v2 message to a garbage offset)
              val cvals = rd.u16(p + 4)
              p += 6 + 4 * cvals
            } else {
              val nameLen = rd.u16(p + 2)
              val cvals = rd.u16(p + 6)
              // v1 pads names to 8 and client data to whole 8-byte words
              // (4-byte pad when the value count is odd); v2 drops both
              val namePad = if (ver == 1) pad8(nameLen) else nameLen
              val cvalPad =
                if (ver == 1 && cvals % 2 == 1) 4 * (cvals + 1) else 4 * cvals
              p += 8 + namePad + cvalPad
            }
            k += 1
          }
          filters = ids.result()
          filters.foreach { id =>
            require(id == 1 || id == 2 || id == 3,
              s"$name: filter id $id unsupported (deflate=1, shuffle=2, " +
                "fletcher32=3 — szip/nbit would silently mis-decode, refusing)")
          }
        case _ => ()
      }
    }
    if (shape == null || dtype == null) None
    else {
      // v4 layout flag bit 0 (DONT_FILTER_PARTIAL_BOUND_CHUNKS,
      // H5Pset_chunk_opts): ragged edge chunks are stored UNFILTERED
      // while the dataset carries a filter pipeline. parseData applies
      // the inverse pipeline uniformly, so with a shuffle-only pipeline
      // the edge chunks would decode to silent garbage (deflate at
      // least fails loudly). Refuse unless no filter or no partial edge
      // chunk exists — same reject-loudly policy as the EA-swizzle and
      // dense-group guards (r15 ADVICE #1).
      if ((layoutFlags & 0x01) != 0 && filters.nonEmpty && chunkDims.nonEmpty) {
        val ragged = shape.zip(chunkDims).exists { case (s, c) => s % c != 0 }
        require(!ragged,
          s"$name: filtered dataset with DONT_FILTER_PARTIAL_BOUND_CHUNKS " +
            s"and ragged edge chunks (shape=$shape chunks=$chunkDims) — " +
            "edge chunks are stored raw, refusing rather than mis-decode")
      }
      if (idxType == 4 && maxDims.nonEmpty) {
        // extensible-array elements are addressed with the unlimited dim
        // swizzled to the front; that is the identity only for dim 0
        // (the overwhelmingly common maxshape=(None, ...) case) — any
        // other unlimited dim would silently permute chunks, so refuse
        val unlimited = maxDims.zipWithIndex.filter(_._1 == -1L).map(_._2)
        require(unlimited.isEmpty || unlimited == Seq(0),
          s"$name: extensible-array index with unlimited dims $unlimited " +
            "(only dim 0 maps without swizzling) — refusing rather than misread")
      }
      Some(H5Dataset(name, shape, dtype, dataAddr, dataSize, compact,
        chunkDims, btreeAddr, filters, idxType, idxParams, maxDims))
    }
  }

  private def elemSize(dtype: String): Int = dtype match {
    case "f8" | "i8" => 8
    case "f4" | "i4" => 4
    case "i2" => 2
    case "i1" => 1
  }

  private def decodeValues(payload: Array[Byte], dtype: String,
                           n: Int): Array[Double] = {
    val b = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](n)
    var i = 0
    dtype match {
      case "f8" => while (i < n) { out(i) = b.getDouble(); i += 1 }
      case "f4" => while (i < n) { out(i) = b.getFloat().toDouble; i += 1 }
      case "i8" => while (i < n) { out(i) = b.getLong().toDouble; i += 1 }
      case "i4" => while (i < n) { out(i) = b.getInt().toDouble; i += 1 }
      case "i2" => while (i < n) { out(i) = b.getShort().toDouble; i += 1 }
      case "i1" => while (i < n) { out(i) = b.get().toDouble; i += 1 }
    }
    out
  }

  /** One chunk-index entry: file address + stored size + per-filter skip
    * mask + grid offsets (element coordinates of the chunk's corner). */
  private final case class H5Chunk(addr: Long, size: Int, mask: Int,
                                   offsets: Seq[Long])

  /** Walk a v1 raw-data-chunk B-tree (node type 1, any depth): key =
    * stored size (4) + filter mask (4) + one 8-byte offset per dim
    * INCLUDING the trailing element-size dim (always 0). */
  private def chunkEntries(rd: Rd, addr: Long, rank: Int): Seq[H5Chunk] = {
    require(rd.ascii(addr.toInt, 4) == "TREE", "bad chunk B-tree signature")
    require(rd.u8(addr.toInt + 4) == 1, "chunk B-tree node type must be 1")
    val level = rd.u8(addr.toInt + 5)
    val used = rd.u16(addr.toInt + 6)
    val keySize = 8 + 8 * (rank + 1)
    val out = Seq.newBuilder[H5Chunk]
    var p = addr.toInt + 24
    var e = 0
    while (e < used) {
      val size = rd.i32(p)
      val mask = rd.i32(p + 4)
      val offs = (0 until rank).map(k => rd.i64(p + 8 + 8 * k))
      val child = rd.i64(p + keySize)
      if (level > 0) out ++= chunkEntries(rd, child, rank)
      else out += H5Chunk(child, size, mask, offs)
      p += keySize + 8
      e += 1
    }
    out.result()
  }

  /** Inverse of the HDF5 shuffle filter: stored = all byte-0s, then all
    * byte-1s, … of the chunk's elements. */
  private def unshuffle(in: Array[Byte], es: Int): Array[Byte] = {
    if (es <= 1 || in.length % es != 0) return in
    val n = in.length / es
    val out = new Array[Byte](in.length)
    var j = 0
    while (j < es) {
      var i = 0
      while (i < n) { out(i * es + j) = in(j * n + i); i += 1 }
      j += 1
    }
    out
  }

  private def inflate(in: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(in)
    val out = new java.io.ByteArrayOutputStream(in.length * 4)
    val buf = new Array[Byte](65536)
    while (!inf.finished()) {
      val k = inf.inflate(buf)
      require(k > 0 || inf.finished(), "truncated deflate stream in chunk")
      out.write(buf, 0, k)
    }
    inf.end()
    out.toByteArray
  }

  /** Decode a dataset's payload to doubles (C-order flat). Chunked
    * datasets assemble from their (full-size — HDF5 stores edge chunks
    * at full chunk dims, unlike zarr) chunks with edge clipping; the
    * filter chain reverses in pipeline order, honoring each entry's
    * skip bit in the chunk's filter mask. */
  def parseData(bytes: Array[Byte], ds: H5Dataset): Array[Double] = {
    if (ds.dataAddr == -3L) return parseChunked(bytes, ds)
    // copyOfRange zero-pads a range past the end: a truncated file must
    // fail here, not read its lost tail as zeros
    require(ds.dataAddr == -2L ||
      ds.dataAddr >= 0 && ds.dataAddr + ds.dataSize <= bytes.length,
      s"${ds.name}: contiguous data at ${ds.dataAddr} (+${ds.dataSize} bytes) " +
        s"runs past the ${bytes.length}-byte file")
    val payload =
      if (ds.dataAddr == -2L) ds.compact
      else java.util.Arrays.copyOfRange(bytes, ds.dataAddr.toInt,
        (ds.dataAddr + ds.dataSize).toInt)
    val n = ds.shape.product.toInt
    require(payload.length.toLong >= n.toLong * ds.dtype.tail.toInt,
      s"${ds.name}: ${payload.length} data bytes cannot hold $n ${ds.dtype} values")
    decodeValues(payload, ds.dtype, n)
  }

  private def parseChunked(bytes: Array[Byte], ds: H5Dataset): Array[Double] = {
    val rd = new Rd(bytes)
    val rank = ds.shape.length
    require(ds.chunkDims.length == rank,
      s"${ds.name}: chunk rank ${ds.chunkDims.length} != shape rank $rank")
    val n = ds.shape.product.toInt
    val out = new Array[Double](n) // unwritten chunks read as the 0 fill
    val cElems = ds.chunkDims.product.toInt
    val rowStrides = ds.shape.scanRight(1L)(_ * _).tail // C-order strides
    if (ds.btreeAddr == Undef || ds.btreeAddr < 0) return out // no chunks written
    val entries =
      if (ds.idxType == 0) chunkEntries(rd, ds.btreeAddr, rank)
      else Hdf5V4.chunkIndex(bytes, ds, cElems.toLong * elemSize(ds.dtype))
        .map { case (a, sz, mask, offs) => H5Chunk(a, sz, mask, offs) }
    entries.foreach { c =>
      var payload = java.util.Arrays.copyOfRange(
        bytes, c.addr.toInt, c.addr.toInt + c.size)
      // reverse the pipeline: last-applied filter decodes first; mask
      // bit i set = filter i was SKIPPED for this chunk
      ds.filters.zipWithIndex.reverse.foreach { case (id, i) =>
        if ((c.mask & (1 << i)) == 0) payload = id match {
          case 1 => inflate(payload)
          case 2 => unshuffle(payload, elemSize(ds.dtype))
          case 3 => // fletcher32: verify the trailing LE checksum, strip it
            require(payload.length > 4, s"${ds.name}: fletcher32 chunk too short")
            val stored = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
              .getInt(payload.length - 4)
            val computed = Hdf5V4.fletcher32(payload, 0, payload.length - 4)
            require(stored == computed,
              s"${ds.name}: fletcher32 mismatch at ${c.offsets} " +
                f"(stored 0x$stored%08x, computed 0x$computed%08x) — corrupt chunk")
            java.util.Arrays.copyOfRange(payload, 0, payload.length - 4)
        }
      }
      require(payload.length == cElems * elemSize(ds.dtype),
        s"${ds.name}: chunk at ${c.offsets} decoded ${payload.length} bytes, " +
          s"expected ${cElems * elemSize(ds.dtype)} (full-size chunk storage)")
      val vals = decodeValues(payload, ds.dtype, cElems)
      // C-order copy with edge clipping (rank-generic odometer)
      val local = new Array[Long](rank)
      var i = 0
      while (i < cElems) {
        var inBounds = true
        var flat = 0L
        var a = 0
        while (a < rank) {
          val g = c.offsets(a) + local(a)
          if (g >= ds.shape(a)) { inBounds = false; a = rank }
          else { flat += g * rowStrides(a); a += 1 }
        }
        if (inBounds) out(flat.toInt) = vals(i)
        // odometer increment over chunkDims
        var d = rank - 1
        while (d >= 0) {
          local(d) += 1
          if (local(d) < ds.chunkDims(d)) d = -1
          else { local(d) = 0; d -= 1 }
        }
        i += 1
      }
    }
    out
  }

  // ------------------------------------------------------------ stack + IO

  /** Write the element table as a stack of `<blk>.h5` files (dataset
    * `name` in each, `blockSize` elements per file, last ragged) — the
    * `to_npy_stack` shape with HDF5 block files, through the one stack
    * writer [[NpyStack]] shares: one task per block, gaps densified to
    * zero, absent blocks emitted by the driver. */
  def writeStack(elements: DataFrame, dir: String, blockSize: Long, n: Long,
                 name: String = "data"): Unit =
    NpyStack.writeStack(StoreIO.asNd(elements, Seq(n), "idx"), dir, blockSize, H5Block(name))

  /** Read a `.h5` stack back as the element table `(idx, v)` through the
    * one stack reader [[NpyStack]] shares: block counts from an
    * O(numBlocks) driver pass over metadata prefixes, payloads decoded
    * distributedly. */
  def readStack(s: SparkSession, dir: String, name: String = "data"): DataFrame =
    NpyStack.readStack(s, dir, H5Block(name))._1

  /** The `.h5` block codec of a stack: dataset `name`, flattened. */
  private final case class H5Block(name: String) extends NpyStack.BlockCodec {
    def ext: String = ".h5"

    /** Metadata prefix pass with escalation: conforming files may place
      * object headers / SNODs past any fixed prefix (big attributes, many
      * datasets), so grow the window before concluding the file is bad —
      * and fail LOUDLY rather than with a raw index error. */
    def shape(fs: FileSystem, p: Path): Seq[Long] = {
      val sizes = Seq(4096, 65536, 1 << 20)
      var last: Throwable = null
      val parsed = sizes.iterator.map { k =>
        try Some(datasets(StoreIO.readPrefix(fs, p, k)))
        catch {
          case e: IndexOutOfBoundsException => last = e; None
          case e: java.nio.BufferUnderflowException => last = e; None
        }
      }.collectFirst { case Some(ds) => ds }
      val ds = parsed.getOrElse(throw new IllegalArgumentException(
        s"${p.getName}: root-group metadata not parseable within ${sizes.last} bytes " +
          "(unsupported layout or corrupt file)", last))
      Seq(dataset(ds, p.getName).shape.product)
    }

    def encode(vals: Array[Double], shape: Seq[Long]): Array[Byte] =
      h5Bytes(Seq((name, vals, shape)))

    def decode(bytes: Array[Byte]): Array[Double] =
      parseData(bytes, dataset(datasets(bytes), "block"))

    private def dataset(ds: Seq[H5Dataset], file: String): H5Dataset =
      ds.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"$file: no dataset '$name'"))
  }

  /** Read one dataset of a single `.h5` file as the element table — a
    * one-task decode (the stack is the scale path). */
  def read(s: SparkSession, file: String, name: String = "data"): DataFrame = {
    import s.implicits._
    // nested datasets are named by their slash path; accept the h5py
    // convention of a leading '/' ("/g/x" == "g/x")
    val want = name.stripPrefix("/")
    s.read.format("binaryFile").load(file)
      .select(col("content")).as[Array[Byte]]
      .flatMap { content =>
        val ds = datasets(content).find(_.name == want)
          .getOrElse(throw new IllegalArgumentException(s"no dataset '$want'"))
        parseData(content, ds).iterator.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      }.toDF("idx", "v")
  }

  /** Read EVERY dataset of an HDF5 file as one `(ds, idx, v)` table —
    * the wide-file shape dense-group (fractal heap) roots produce
    * (r16). Same scale contract as [[read]]: one executor task per
    * file in a distributed binaryFile scan, link enumeration and chunk
    * decode both executor-side; `load(path)` takes a directory or glob
    * for many-file corpora. */
  def readAll(s: SparkSession, file: String): DataFrame = {
    import s.implicits._
    s.read.format("binaryFile").load(file)
      .select(col("content")).as[Array[Byte]]
      .flatMap { content =>
        datasets(content).iterator.flatMap { ds =>
          parseData(content, ds).iterator.zipWithIndex
            .map { case (v, i) => (ds.name, i.toLong, v) }
        }
      }.toDF("ds", "idx", "v")
  }
}
