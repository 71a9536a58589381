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
  * reader accepts any conforming file. Each on-disk structure has one
  * writer and one reader: [[encodeChunks]] is the chunk encoder of both
  * chunked writers and [[chunkCells]] the one chunk-cell odometer of it
  * and of the chunked reader; `v0File` emits every superblock-v0 file
  * (`h5Bytes`, and `h5BytesChunked` as one chunked dataset), while
  * [[Hdf5V4]] owns the superblock-v3 emitter; the f8 datatype body and
  * the group path tree ([[GNode]]) serve both eras. Both eras read
  * through one bounds-checked [[Rd]] and one object-header walk, so a
  * malformed file fails with an `IllegalArgumentException`: offsets
  * past the end, truncated chunks, cyclic B-trees and object-header
  * continuations, and extents over one 2 GiB buffer are all refused.
  * Reading follows the
  * [[NpyStack]] two-phase shape: block shapes come from an O(numBlocks)
  * driver pass over metadata prefixes, payloads decode in one
  * distributed `binaryFile` scan — data bytes never touch the driver.
  * All store IO routes through [[StoreIO]] (Hadoop FileSystem). */
object Hdf5 {

  private[sources] val Sig: Array[Byte] =
    Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a.toByte, '\n')
  private[sources] val Undef = -1L // 0xFFFFFFFFFFFFFFFF

  private def pad8(n: Int): Int = (n + 7) & ~7

  // ---------------------------------------------- shared by both eras

  /** The IEEE little-endian f8 datatype message body, the one element
    * type every writer emits. */
  private[sources] val F8Type: Array[Byte] = {
    val b = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x11.toByte)                                    // version 1, class 1 (float)
    b.put(0x20.toByte); b.put(0x3f.toByte); b.put(0.toByte) // LE, norm, sign@63
    b.putInt(8)
    b.putShort(0); b.putShort(64)                         // bit offset / precision
    b.put(52.toByte); b.put(11.toByte)                    // exponent location / size
    b.put(0.toByte); b.put(52.toByte)                     // mantissa location / size
    b.putInt(1023)                                        // exponent bias
    b.putInt(0)                                           // pad 20 -> 24
    b.array()
  }

  /** One group of a file's group tree: subgroups and datasets (index into
    * the writer's dataset list), each name-sorted. */
  private[sources] final class GNode {
    val groups = scala.collection.mutable.TreeMap.empty[String, GNode]
    val dss = scala.collection.mutable.TreeMap.empty[String, Int]
    def members: Seq[String] = (groups.keys ++ dss.keys).toSeq.sorted
    /** This group and its subgroups, pre-order, with their `/a/b/` paths. */
    def preorder(at: String = "/"): Seq[(String, GNode)] =
      (at, this) +: groups.toSeq.flatMap { case (g, c) => c.preorder(s"$at$g/") }
  }

  /** The group tree of slash-separated dataset paths, built the way h5py's
    * `create_dataset('/g/x')` creates intermediate groups. Each path
    * segment is 1..`maxName` bytes (the era's name-length limit). */
  private[sources] def groupTree(paths: Seq[String], maxName: Int): GNode = {
    require(paths.nonEmpty, "no datasets")
    paths.foreach { nm =>
      // split with limit -1 keeps trailing empty segments: 'a/b/' must
      // be rejected here, not silently collapse onto 'a/b'
      require(nm.nonEmpty && nm.split("/", -1).forall(s => s.nonEmpty && s.length <= maxName),
        s"bad dataset path '$nm'")
    }
    require(paths.distinct.size == paths.size, "duplicate dataset paths")
    val root = new GNode
    paths.zipWithIndex.foreach { case (nm, i) =>
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
    root
  }

  /** Arguments both chunked writers take, checked once. */
  private[sources] def checkChunked(name: String, vals: Array[Double], shape: Seq[Long],
                                    chunkDims: Seq[Long]): Unit = {
    require(vals.length.toLong == shape.product,
      s"$name: ${vals.length} values for shape $shape")
    require(chunkDims.length == shape.length && chunkDims.forall(_ > 0),
      s"$name: bad chunk dims $chunkDims for shape $shape")
    require(name.nonEmpty && !name.contains('/'), s"bad dataset name '$name'")
  }

  /** h5py's filter pipeline in application order: shuffle (2), deflate
    * (1), fletcher32 (3). */
  private[sources] def filterIds(deflate: Boolean, shuffle: Boolean,
                                 fletcher: Boolean): Seq[Int] =
    (if (shuffle) Seq(2) else Nil) ++ (if (deflate) Seq(1) else Nil) ++
      (if (fletcher) Seq(3) else Nil)

  /** The C-order flat index, in an array of `shape`, of each cell of the
    * chunk of dims `chunkDims` whose corner is at element offsets
    * `corner`, in the chunk's own C order; -1 for a cell past the array's
    * edge. The one odometer of the chunk writer and the chunked reader. */
  private def chunkCells(shape: Seq[Long], chunkDims: Seq[Long], corner: Seq[Long]): Array[Int] = {
    val rank = shape.length
    val sh = shape.toArray; val cd = chunkDims.toArray; val co = corner.toArray
    val strides = shape.scanRight(1L)(_ * _).tail.toArray
    val out = new Array[Int](cd.product.toInt)
    val local = new Array[Long](rank)
    var i = 0
    while (i < out.length) {
      var flat = 0L
      var a = 0
      while (a < rank) {
        val g = co(a) + local(a)
        if (g < 0 || g >= sh(a)) { flat = -1L; a = rank }
        else { flat += g * strides(a); a += 1 }
      }
      out(i) = flat.toInt
      var d = rank - 1
      while (d >= 0) {
        local(d) += 1
        if (local(d) < cd(d)) d = -1 else { local(d) = 0; d -= 1 }
      }
      i += 1
    }
    out
  }

  /** `in` read as a `rows`×`cols` byte matrix, transposed: the shuffle
    * filter with rows = elements, cols = element size, and its inverse
    * with the two swapped. */
  private def transpose(in: Array[Byte], rows: Int, cols: Int): Array[Byte] = {
    val out = new Array[Byte](in.length)
    var j = 0
    while (j < cols) {
      var i = 0
      while (i < rows) { out(j * rows + i) = in(i * cols + j); i += 1 }
      j += 1
    }
    out
  }

  /** Every chunk of the C-order float64 array `vals`, in C grid order:
    * (grid coordinates of the chunk, its stored bytes). Edge chunks are
    * stored at full chunk dims, zero-padded (HDF5's contract; readers
    * clip), then run through `filters` in order. The one chunk encoder of
    * both chunked writers. */
  private[sources] def encodeChunks(vals: Array[Double], shape: Seq[Long], chunkDims: Seq[Long],
                                    filters: Seq[Int]): Seq[(Seq[Long], Array[Byte])] = {
    val grid = shape.zip(chunkDims).map { case (s, c) => (s + c - 1) / c }
    val corners = grid.foldLeft(Seq(Seq.empty[Long])) { (acc, g) =>
      acc.flatMap(pre => (0L until g).map(k => pre :+ k))
    }
    corners.map { scaled =>
      val cells = chunkCells(shape, chunkDims, scaled.zip(chunkDims).map { case (c, d) => c * d })
      val buf = ByteBuffer.allocate(cells.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      cells.foreach(f => buf.putDouble(if (f >= 0) vals(f) else 0.0))
      (scaled, filters.foldLeft(buf.array()) { (payload, id) =>
        id match {
          case 2 => transpose(payload, payload.length / 8, 8)
          case 1 =>
            val d = new java.util.zip.Deflater(6)
            d.setInput(payload); d.finish()
            val out = new java.io.ByteArrayOutputStream(payload.length)
            val tmp = new Array[Byte](65536)
            while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
            d.end()
            out.toByteArray
          case 3 => // fletcher32: the checksum appended little-endian
            ByteBuffer.allocate(payload.length + 4).order(ByteOrder.LITTLE_ENDIAN)
              .put(payload).putInt(Hdf5V4.fletcher32(payload, 0, payload.length)).array()
        }
      })
    }
  }

  // ------------------------------------------------------------------ write

  /** Serialize named float64 datasets (C-order) as one HDF5 file.
    * Names may be nested paths (`g/x` or `/g/x`) — intermediate groups
    * are created the way h5py's `create_dataset('/g/x')` does (r16; the
    * reference's `to_hdf5` takes exactly such paths,
    * `dask_array/io/_store.py:346`). Each group holds at most 8 members
    * (one symbol-table node — plenty for block files). */
  def h5Bytes(datasets: Seq[(String, Array[Double], Seq[Long])]): Array[Byte] =
    v0File(datasets.map { case (nm, vs, sh) => new V0Data(nm.stripPrefix("/"), vs, sh) })

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
    checkChunked(name, vals, shape, chunkDims)
    v0File(Seq(new V0Data(name, vals, shape, chunkDims, filterIds(deflate, shuffle, fletcher))))
  }

  /** One dataset of a v0 file: its object header (dataspace, f8 type,
    * undefined fill, then a filter pipeline and a layout message) and
    * its data region — the raw values for a contiguous dataset, or a
    * level-0 v1 chunk B-tree followed by the stored chunks when
    * `chunkDims` is set. */
  private final class V0Data(val name: String, vals: Array[Double], shape: Seq[Long],
                             chunkDims: Seq[Long] = Nil, filters: Seq[Int] = Nil) {
    require(vals.length.toLong == shape.product, s"$name: ${vals.length} values for shape $shape")
    private val rank = shape.length
    private val chunks =
      if (chunkDims.isEmpty) Nil else encodeChunks(vals, shape, chunkDims, filters)
    // the B-tree entries-used count is a u16: a grid with more chunks
    // would silently truncate the count and drop chunks
    require(chunks.size <= 0xFFFF,
      s"${chunks.size} chunks exceed one B-tree node's u16 entry count — " +
        s"use larger chunkDims (got $chunkDims for shape $shape)")
    private val keySize = 8 + 8 * (rank + 1)
    private val btreeSize = 24 + chunks.size * (keySize + 8) + keySize
    // 16 bytes per value-carrying filter (8 hdr + cval + odd-count pad),
    // 8 for fletcher32 (zero client values, even count — no pad)
    private val filterBody = 8 + filters.map(id => if (id == 3) 8 else 16).sum
    private val layoutBody = if (chunkDims.isEmpty) 24 else pad8(11 + 4 * (rank + 1))
    val ohSize: Int = 16 + (16 + 8 * rank) + 32 + 16 +
      (if (filters.isEmpty) 0 else 8 + filterBody) + (8 + layoutBody)
    val regionSize: Long =
      if (chunkDims.isEmpty) vals.length * 8L else btreeSize + chunks.map(_._2.length.toLong).sum

    def putHeader(buf: ByteBuffer, region: Long): Unit = {
      buf.put(1.toByte); buf.put(0.toByte)
      buf.putShort((if (filters.isEmpty) 4 else 5).toShort)
      buf.putInt(1); buf.putInt(ohSize - 16); buf.putInt(0)
      // dataspace v1
      buf.putShort(0x0001); buf.putShort((8 + 8 * rank).toShort); buf.putInt(0)
      buf.put(1.toByte); buf.put(rank.toByte); buf.put(0.toByte)
      buf.put(new Array[Byte](5))
      shape.foreach(buf.putLong)
      buf.putShort(0x0003); buf.putShort(24); buf.putInt(0)
      buf.put(F8Type)
      // fill value v2, undefined
      buf.putShort(0x0005); buf.putShort(8); buf.putInt(0)
      buf.put(2.toByte); buf.put(2.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putInt(0)
      // filter pipeline v1 (application order; nameLen 0, mandatory)
      if (filters.nonEmpty) {
        buf.putShort(0x000B); buf.putShort(filterBody.toShort); buf.putInt(0)
        buf.put(1.toByte); buf.put(filters.size.toByte)
        buf.put(new Array[Byte](6))
        filters.foreach { id =>
          buf.putShort(id.toShort); buf.putShort(0) // built-in: no name
          buf.putShort(0); buf.putShort(if (id == 3) 0 else 1) // client values
          if (id != 3) {
            buf.putInt(if (id == 1) 6 else 8)       // level / element size
            buf.putInt(0)                           // pad to even val count
          }
        }
      }
      buf.putShort(0x0008); buf.putShort(layoutBody.toShort); buf.putInt(0)
      if (chunkDims.isEmpty) { // layout v3 contiguous
        buf.put(3.toByte); buf.put(1.toByte)
        buf.putLong(region); buf.putLong(vals.length.toLong * 8)
        buf.put(new Array[Byte](6))                 // pad 18 -> 24
      } else { // layout v3 chunked, B-tree at the region start
        buf.put(3.toByte); buf.put(2.toByte); buf.put((rank + 1).toByte)
        buf.putLong(region)
        chunkDims.foreach(c => buf.putInt(c.toInt))
        buf.putInt(8) // element size dim
        buf.position(buf.position() + (layoutBody - 11 - 4 * (rank + 1)))
      }
    }

    def putRegion(buf: ByteBuffer, region: Long): Unit =
      if (chunkDims.isEmpty) vals.foreach(buf.putDouble)
      else {
        // chunk B-tree (level 0, one node), then the chunks
        buf.put("TREE".getBytes("ASCII")); buf.put(1.toByte); buf.put(0.toByte)
        buf.putShort(chunks.size.toShort)
        buf.putLong(Undef); buf.putLong(Undef)
        var at = region + btreeSize
        chunks.foreach { case (scaled, blob) =>
          buf.putInt(blob.length); buf.putInt(0)
          scaled.zip(chunkDims).foreach { case (c, d) => buf.putLong(c * d) }
          buf.putLong(0L)
          buf.putLong(at)
          at += blob.length
        }
        // final key: one past the end of the grid
        buf.putInt(0); buf.putInt(0)
        shape.foreach(buf.putLong); buf.putLong(0L)
        chunks.foreach { case (_, blob) => buf.put(blob) }
      }
  }

  /** The one superblock-v0 file emitter: superblock, a symbol-table group
    * per group of the path tree (object header, local heap, v1 group
    * B-tree, SNOD), then every dataset's object header, then every
    * dataset's data region. */
  private def v0File(datasets: Seq[V0Data]): Array[Byte] = {
    val root = groupTree(datasets.map(_.name), 247)
    val groups = root.preorder()
    groups.foreach { case (at, n) =>
      val k = n.members.size
      require(k <= 8, s"h5Bytes writes 1..8 members per group (got $k at '$at')")
    }
    // ---- layout plan (all addresses absolute)
    val treeSize = 24 + 9 * 8 + 8 * 8 // K=4 group node: 9 keys, 8 children
    val snodSize = 8 + 8 * 40
    def heapBytes(n: GNode): Int = // null-name slot + padded member names
      8 + n.members.map(nm => pad8(nm.length + 1)).sum
    // per group, pre-order: OH(40) HEAP(32+data) TREE SNOD
    val groupEnds = groups.scanLeft(96L) { case (at, (_, n)) => // after superblock + root entry
      at + 72 + heapBytes(n) + treeSize + snodSize
    }
    val ohOf = groups.map(_._2).zip(groupEnds).toMap
    def heapOf(n: GNode): Long = ohOf(n) + 40
    def treeOf(n: GNode): Long = ohOf(n) + 72 + heapBytes(n)
    // dataset object headers in pre-order-group then name order, then
    // their data regions in the same order
    val dsOrder = groups.flatMap(_._2.dss.values)
    val ohAddrs = dsOrder.map(datasets(_).ohSize.toLong).scanLeft(groupEnds.last)(_ + _)
    val dsOhAddr = dsOrder.zip(ohAddrs).toMap
    val regions = dsOrder.map(datasets(_).regionSize).scanLeft(ohAddrs.last)(_ + _)
    val eof = regions.last
    require(eof <= Int.MaxValue,
      s"single .h5 file would be $eof bytes (> 2 GiB buffer limit) — " +
        "write more, smaller stack blocks instead")

    val buf = ByteBuffer.allocate(eof.toInt).order(ByteOrder.LITTLE_ENDIAN)
    // a group's symbol-table entry: cache type 1 (its B-tree + heap in scratch)
    def groupEntry(nameOff: Long, n: GNode): Unit = {
      buf.putLong(nameOff); buf.putLong(ohOf(n))
      buf.putInt(1); buf.putInt(0)
      buf.putLong(treeOf(n)); buf.putLong(heapOf(n))
    }
    // ---- superblock v0 ----
    buf.put(Sig)
    buf.put(Array[Byte](0, 0, 0, 0, 0, 8, 8, 0)) // versions + sizeof offsets/lengths
    buf.putShort(4); buf.putShort(16)            // group leaf / internal K
    buf.putInt(0)                                // consistency flags
    buf.putLong(0L); buf.putLong(Undef); buf.putLong(eof); buf.putLong(Undef)
    groupEntry(0L, root)
    // ---- group structures, pre-order ----
    groups.foreach { case (_, n) =>
      val names = n.members
      val nameOffs = names.scanLeft(8)((acc, nm) => acc + pad8(nm.length + 1))
      require(buf.position() == ohOf(n))
      // group object header (v1): one symbol-table message
      buf.put(1.toByte); buf.put(0.toByte); buf.putShort(1)
      buf.putInt(1); buf.putInt(24); buf.putInt(0) // refcount, size, align pad
      buf.putShort(0x0011); buf.putShort(16); buf.putInt(0)
      buf.putLong(treeOf(n)); buf.putLong(heapOf(n))
      // local heap
      buf.put("HEAP".getBytes("ASCII")); buf.put(0.toByte)
      buf.put(0.toByte); buf.put(0.toByte); buf.put(0.toByte)
      buf.putLong(heapBytes(n).toLong)
      buf.putLong(1L)                            // free list: empty sentinel
      buf.putLong(heapOf(n) + 32)
      buf.putLong(0L)                            // heap data: null name at offset 0
      names.foreach { nm =>
        val b = new Array[Byte](pad8(nm.length + 1))
        System.arraycopy(nm.getBytes("ASCII"), 0, b, 0, nm.length)
        buf.put(b)
      }
      // group B-tree (v1), one SNOD child
      val snod = treeOf(n) + treeSize
      buf.put("TREE".getBytes("ASCII")); buf.put(0.toByte); buf.put(0.toByte)
      buf.putShort(1)
      buf.putLong(Undef); buf.putLong(Undef)
      buf.putLong(0L)                            // key 0: the null name
      buf.putLong(snod)                          // child 0
      buf.putLong(nameOffs(names.size - 1).toLong) // key 1: last (greatest) name
      buf.position(buf.position() + (treeSize - 24 - 3 * 8)) // unused capacity
      // SNOD: members name-sorted; group children cache their own
      // btree+heap in scratch (cache type 1), datasets carry none
      buf.put("SNOD".getBytes("ASCII")); buf.put(1.toByte); buf.put(0.toByte)
      buf.putShort(names.size.toShort)
      names.zip(nameOffs).foreach { case (nm, off) =>
        n.groups.get(nm) match {
          case Some(child) => groupEntry(off.toLong, child)
          case None =>
            buf.putLong(off.toLong); buf.putLong(dsOhAddr(n.dss(nm)))
            buf.putInt(0); buf.putInt(0)
            buf.putLong(0L); buf.putLong(0L)     // scratch
        }
      }
      buf.position(buf.position() + (snodSize - 8 - names.size * 40))
    }
    dsOrder.zip(regions).foreach { case (i, at) => datasets(i).putHeader(buf, at) }
    dsOrder.zip(regions).foreach { case (i, at) => datasets(i).putRegion(buf, at) }
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

  /** The one byte reader of both eras: little-endian fields at absolute
    * file offsets. Every accessor requires its bytes to lie inside the
    * file, so a corrupt address fails with an IllegalArgumentException
    * instead of reading out of range. */
  private[sources] final class Rd(val bytes: Array[Byte]) {
    private def at(p: Long, n: Long): Int = {
      require(n >= 0 && p >= 0 && p <= bytes.length - n,
        s"offset $p (+$n bytes) lies outside the ${bytes.length}-byte file")
      p.toInt
    }
    def u8(p: Long): Int = bytes(at(p, 1)) & 0xff
    def u16(p: Long): Int = varU(p, 2).toInt
    def i32(p: Long): Int = varU(p, 4).toInt
    def i64(p: Long): Long = varU(p, 8)
    /** An `n`-byte little-endian unsigned field (n ≤ 8). */
    def varU(p: Long, n: Int): Long = {
      val q = at(p, n)
      var v = 0L
      var k = 0
      while (k < n) { v |= (bytes(q + k) & 0xffL) << (8 * k); k += 1 }
      v
    }
    def ascii(p: Long, n: Int): String = new String(bytes, at(p, n), n, "ASCII")
    def cstr(p: Long): String = {
      val q = at(p, 1)
      var e = q
      while (e < bytes.length && bytes(e) != 0) e += 1
      require(e < bytes.length, s"string at $p runs past the end of the file")
      new String(bytes, q, e - q, "ASCII")
    }
    def slice(p: Long, n: Long): Array[Byte] = {
      val q = at(p, n)
      java.util.Arrays.copyOfRange(bytes, q, q + n.toInt)
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
    require(bytes.startsWith(Sig), "not an HDF5 file")
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

  /** A version-1 link message body at `p0` — compact in an object header
    * or a managed object of a dense group's fractal heap: the link's name
    * and target object-header address. Soft and external links are
    * refused: a silently-skipped link fakes a smaller corpus. */
  private[sources] def linkAt(rd: Rd, p0: Long): (String, Long) = {
    require(rd.u8(p0) == 1, s"link message version ${rd.u8(p0)} unsupported")
    val lflags = rd.u8(p0 + 1)
    var p = p0 + 2
    val linkType = if ((lflags & 0x08) != 0) { p += 1; rd.u8(p - 1) } else 0
    if ((lflags & 0x04) != 0) p += 8 // creation order
    if ((lflags & 0x10) != 0) p += 1 // charset
    val lenSize = 1 << (lflags & 0x03)
    val nameLen = rd.varU(p, lenSize)
    p += lenSize
    require(nameLen <= rd.bytes.length, s"link name of $nameLen bytes")
    val name = rd.ascii(p, nameLen.toInt)
    require(linkType == 0,
      s"'$name': link type $linkType (soft/external) unsupported — " +
        "refusing rather than skip silently")
    (name, rd.i64(p + nameLen))
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
    foreachMessage(rd, ohAddr) { (tpe, body, _) =>
      tpe match {
        case 0x0011 => // v1 symbol table: group B-tree + local heap
          stTree = rd.i64(body); stHeap = rd.i64(body + 8)
        case 0x0006 => links += linkAt(rd, body)
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
    // into a fractal heap indexed by a name v2 B-tree
    if (denseHeap != Undef)
      links ++= Hdf5V4.denseLinks(rd, denseHeap, denseNameBt)
    (links.toSeq, stTree != Undef || sawInfo || links.nonEmpty)
  }

  /** Calls `leaf(keyAt, child)` for each leaf entry of the version-1
    * B-tree rooted at `root` (node type 0 = group, 1 = raw-data chunks;
    * `keySize` bytes per key), in key order. Every child must sit one
    * level below its parent and no node is visited twice, so a corrupt
    * child pointer can neither loop nor recurse without end. */
  private def walkBtree1(rd: Rd, root: Long, nodeType: Int, keySize: Int)
                        (leaf: (Long, Long) => Unit): Unit = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    def walk(addr: Long, want: Int): Unit = {
      require(seen.add(addr), s"B-tree node at $addr is reached twice — refusing a cyclic tree")
      require(rd.ascii(addr, 4) == "TREE", "bad B-tree signature")
      require(rd.u8(addr + 4) == nodeType, s"B-tree node type must be $nodeType")
      val level = rd.u8(addr + 5)
      require(want < 0 || level == want,
        s"B-tree node at $addr has level $level, its parent expects $want")
      var p = addr + 24
      var e = 0
      val used = rd.u16(addr + 6)
      while (e < used) {
        val child = rd.i64(p + keySize)
        if (level > 0) walk(child, level - 1) else leaf(p, child)
        p += keySize + 8
        e += 1
      }
    }
    walk(root, -1)
  }

  /** v0 symbol-table group enumeration: v1 group B-tree → SNOD leaves,
    * names resolved through the group's local heap. */
  private def symbolChildren(rd: Rd, treeAddr: Long, heapAddr: Long): Seq[(String, Long)] = {
    require(rd.ascii(heapAddr, 4) == "HEAP", "bad local heap signature")
    val heapData = rd.i64(heapAddr + 24)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    walkBtree1(rd, treeAddr, 0, 8) { (_, snod) =>
      require(rd.ascii(snod, 4) == "SNOD", "bad symbol node signature")
      var q = snod + 8
      var s = 0
      val n = rd.u16(snod + 6)
      while (s < n) {
        val nm = rd.cstr(heapData + rd.i64(q))
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
      foreachMessage(rd, addr) { (tpe, _, _) =>
        if (tpe == 0x0001) isDs = true
        if (tpe == 0x0011 || tpe == 0x0002 || tpe == 0x0006 || tpe == 0x000A)
          isGrp = true
      }
      if (isDs) out += parseDatasetOH(rd, addr, full)
      else if (isGrp) {
        if (visited.add(addr)) // aliased hard link: enumerate once
          dispatchChildren(rd, groupChildren(rd, addr)._1, full, out,
            visited, depth + 1)
      } else throw new IllegalArgumentException(s"$full: object header is neither a " +
        "dataset nor a group (named datatype?) — refusing rather than skip silently")
    }
  }

  /** Calls `f(type, bodyOffset, bodySize)` for each message of a version-1
    * or version-2 (`OHDR`) object header, following continuation blocks
    * (`OCHK` in v2). A v2 message header is type(1) size(2) flags(1)
    * [+corder(2) if tracked], and each v2 chunk ends with a lookup3
    * checksum (skipped, not verified). Each block is walked once: a
    * continuation back into a walked block is refused. */
  private def foreachMessage(rd: Rd, ohAddr: Long)(f: (Int, Long, Int) => Unit): Unit = {
    val v2 = rd.ascii(ohAddr, 4) == "OHDR"
    var nmsg = Int.MaxValue // v1 headers count their messages
    var hdrLen = 8
    var blocks =
      if (v2) {
        require(rd.u8(ohAddr + 4) == 2, s"object header version ${rd.u8(ohAddr + 4)}")
        val flags = rd.u8(ohAddr + 5)
        var p = ohAddr + 6
        if ((flags & 0x20) != 0) p += 16 // access/mod/change/birth times
        if ((flags & 0x10) != 0) p += 4  // max-compact/min-dense phase change
        val szBytes = 1 << (flags & 0x03)
        hdrLen = if ((flags & 0x04) != 0) 6 else 4
        List((p + szBytes, rd.varU(p, szBytes)))
      } else {
        nmsg = rd.u16(ohAddr + 2)
        List((ohAddr + 16, rd.varU(ohAddr + 8, 4)))
      }
    val walked = scala.collection.mutable.HashSet.empty[Long]
    var seen = 0
    while (blocks.nonEmpty && seen < nmsg) {
      val (start, size) = blocks.head
      blocks = blocks.tail
      require(walked.add(start),
        s"object header continuation at $start revisits a block — refusing a cyclic header")
      val end = start + size
      var q = start
      while (q + hdrLen <= end && seen < nmsg) {
        val tpe = if (v2) rd.u8(q) else rd.u16(q)
        val msz = rd.u16(if (v2) q + 1 else q + 2)
        val body = q + hdrLen
        if (body + msz > end) q = end // trailing gap
        else {
          if (tpe == 0x0010) // continuation: offset + length
            blocks = blocks :+ (
              if (v2) (rd.i64(body) + 4, rd.i64(body + 8) - 8) // OCHK sig, checksum
              else (rd.i64(body), rd.i64(body + 8)))
          else if (tpe != 0) f(tpe, body, msz)
          q = body + msz
          seen += 1
        }
      }
    }
  }

  private def parseDatasetOH(rd: Rd, ohAddr: Long, name: String): H5Dataset = {
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
    foreachMessage(rd, ohAddr) { (tpe, body, _) =>
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
              compact = rd.slice(body + 4, n)
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
              chunkDims = (0 until dim - 1).map(k => rd.varU(body + 11 + 4 * k, 4))
              dataAddr = -3L
            case 2 => // chunked v4 (r15): five index types — see Hdf5V4
              val lflags = rd.u8(body + 2)
              layoutFlags = lflags
              val ndims = rd.u8(body + 3) // includes the element-size dim
              val encLen = rd.u8(body + 4)
              var p = body + 5
              chunkDims = (0 until ndims - 1).map(k => rd.varU(p + k * encLen, encLen))
              p += ndims * encLen
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
        case 0x000B => // filter pipeline: deflate(1) / shuffle(2) / fletcher32(3)
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
    require(shape != null && dtype != null,
      s"$name: object has a dataspace but no parsable dataset")
    require(dataAddr != -3L || chunkDims.forall(_ > 0),
      s"$name: chunk dims $chunkDims must be positive")
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
    H5Dataset(name, shape, dtype, dataAddr, dataSize, compact,
      chunkDims, btreeAddr, filters, idxType, idxParams, maxDims)
  }

  private def elemSize(dtype: String): Int = dtype.tail.toInt

  /** The volume of `dims`, which must fit one 2 GiB buffer of doubles
    * (the writers' file limit): beyond it a dataset is read as a stack. */
  private def volume(name: String, dims: Seq[Long]): Int = {
    val n = dims.foldLeft(BigInt(1))(_ * _)
    require(dims.forall(_ >= 0) && n * 8 <= Int.MaxValue,
      s"$name: extent $dims holds more values than one 2 GiB buffer of doubles")
    n.toInt
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
  private[sources] final case class H5Chunk(addr: Long, size: Int, mask: Int,
                                            offsets: Seq[Long])

  /** Walk a v1 raw-data-chunk B-tree (node type 1, any depth): key =
    * stored size (4) + filter mask (4) + one 8-byte offset per dim
    * INCLUDING the trailing element-size dim (always 0). */
  private def chunkEntries(rd: Rd, addr: Long, rank: Int): Seq[H5Chunk] = {
    val out = Seq.newBuilder[H5Chunk]
    walkBtree1(rd, addr, 1, 8 + 8 * (rank + 1)) { (key, child) =>
      out += H5Chunk(child, rd.i32(key), rd.i32(key + 4),
        (0 until rank).map(k => rd.i64(key + 8 + 8 * k)))
    }
    out.result()
  }

  /** Inflates a deflate stream that must decode to at most `limit` bytes. */
  private def inflate(in: Array[Byte], limit: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(in)
      val out = new java.io.ByteArrayOutputStream(math.min(limit, in.length * 4))
      val buf = new Array[Byte](65536)
      while (!inf.finished()) {
        val k =
          try inf.inflate(buf)
          catch { case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(s"corrupt deflate stream in chunk: ${e.getMessage}", e)
          }
        require(k > 0 || inf.finished(), "truncated deflate stream in chunk")
        require(out.size() + k <= limit, s"deflate stream in chunk inflates past $limit bytes")
        out.write(buf, 0, k)
      }
      out.toByteArray
    } finally inf.end()
  }

  /** Decode a dataset's payload to doubles (C-order flat). Chunked
    * datasets assemble from their (full-size — HDF5 stores edge chunks
    * at full chunk dims, unlike zarr) chunks with edge clipping; the
    * filter chain reverses in pipeline order, honoring each entry's
    * skip bit in the chunk's filter mask. */
  def parseData(bytes: Array[Byte], ds: H5Dataset): Array[Double] = {
    val n = volume(ds.name, ds.shape)
    if (ds.dataAddr == -3L) return parseChunked(new Rd(bytes), ds, n)
    // copyOfRange zero-pads a range past the end: a truncated file must
    // fail here, not read its lost tail as zeros
    require(ds.dataAddr == -2L || ds.dataAddr >= 0 && ds.dataSize >= 0 &&
      ds.dataSize <= bytes.length - ds.dataAddr,
      s"${ds.name}: contiguous data at ${ds.dataAddr} (+${ds.dataSize} bytes) " +
        s"runs past the ${bytes.length}-byte file")
    val payload =
      if (ds.dataAddr == -2L) ds.compact
      else java.util.Arrays.copyOfRange(bytes, ds.dataAddr.toInt,
        (ds.dataAddr + ds.dataSize).toInt)
    require(payload.length.toLong >= n.toLong * elemSize(ds.dtype),
      s"${ds.name}: ${payload.length} data bytes cannot hold $n ${ds.dtype} values")
    decodeValues(payload, ds.dtype, n)
  }

  private def parseChunked(rd: Rd, ds: H5Dataset, n: Int): Array[Double] = {
    val rank = ds.shape.length
    require(ds.chunkDims.length == rank,
      s"${ds.name}: chunk rank ${ds.chunkDims.length} != shape rank $rank")
    val es = elemSize(ds.dtype)
    val chunkBytes = volume(ds.name, ds.chunkDims) * es
    val out = new Array[Double](n) // unwritten chunks read as the 0 fill
    if (ds.btreeAddr < 0 || n == 0) return out // no chunks written, or no cells
    val entries =
      if (ds.idxType == 0) chunkEntries(rd, ds.btreeAddr, rank)
      else Hdf5V4.chunkIndex(rd, ds, chunkBytes)
    // only fletcher32 changes a stage's length (+4), so no stage of a
    // valid chunk inflates past this
    val inflateLimit = chunkBytes + 4 * ds.filters.count(_ == 3)
    entries.foreach { c =>
      require(c.offsets.length == rank && c.offsets.forall(_ >= 0),
        s"${ds.name}: chunk offsets ${c.offsets} outside the dataspace")
      require(c.size >= 0 && c.addr >= 0 && c.addr <= rd.bytes.length - c.size,
        s"${ds.name}: chunk at ${c.offsets} (${c.size} bytes at ${c.addr}) " +
          s"runs past the ${rd.bytes.length}-byte file")
      var payload = rd.slice(c.addr, c.size)
      // reverse the pipeline: last-applied filter decodes first; mask
      // bit i set = filter i was SKIPPED for this chunk
      ds.filters.zipWithIndex.reverse.foreach { case (id, i) =>
        if ((c.mask & (1 << i)) == 0) payload = id match {
          case 1 => inflate(payload, inflateLimit)
          case 2 => if (payload.length % es == 0) transpose(payload, es, payload.length / es) else payload
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
      require(payload.length == chunkBytes,
        s"${ds.name}: chunk at ${c.offsets} decoded ${payload.length} bytes, " +
          s"expected $chunkBytes (full-size chunk storage)")
      val vals = decodeValues(payload, ds.dtype, chunkBytes / es)
      val cells = chunkCells(ds.shape, ds.chunkDims, c.offsets)
      var i = 0
      while (i < cells.length) {
        if (cells(i) >= 0) out(cells(i)) = vals(i)
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
      * datasets), where the bounds-checked reader stops at the prefix's
      * end, so grow the window before concluding the file is bad — and
      * fail LOUDLY, naming the file. */
    def shape(fs: FileSystem, p: Path): Seq[Long] = {
      val sizes = Seq(4096, 65536, 1 << 20)
      var last: Throwable = null
      val parsed = sizes.iterator.map { k =>
        val prefix = StoreIO.readPrefix(fs, p, k)
        try Some(datasets(prefix))
        catch { case e: IllegalArgumentException if prefix.length == k => last = e; None }
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
