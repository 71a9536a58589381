package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TileDB dense-array source/sink (reference `from_tiledb`/`to_tiledb`,
  * `dask_array/io/_tiledb.py:12,72`; the reference delegates all byte IO
  * to the `tiledb` library, so its contract is semantic: DENSE arrays
  * only — sparse raises — single attribute, chunks == tile extents, and
  * regular chunking).
  *
  * What TileDB adds beyond the Zarr/NpyStack/Hdf5 stores already here is
  * its MULTI-FRAGMENT model: every write session produces an immutable
  * timestamped fragment covering a subarray, a commit marker makes it
  * visible, and a read at time T merges all committed fragments with
  * newer cells shadowing older ones. That model is exactly what a
  * parallel writer wants at scale — N writers emit N fragments with no
  * coordination, no shared-file append, no driver transit — so the sink
  * here writes ONE FRAGMENT PER BLOCK TASK, and the source performs the
  * shadowing merge as a distributed `max_by(value, (t2, name))` per cell.
  *
  * On-disk layout follows the public TileDB format layout
  * (github.com/TileDB-Inc/TileDB `format_spec`):
  *
  * {{{
  *   uri/
  *     __schema/__<t>_<t>_<uuid>          array schema
  *     __commits/__<t1>_<t2>_<uuid>_21.wrt  commit marker (empty)
  *     __fragments/__<t1>_<t2>_<uuid>_21/   one dir per fragment
  *       __fragment_metadata.tdb
  *       a0.tdb                           attribute cells
  * }}}
  *
  * Like [[Hdf5]]'s superblock-v0 subset, the PAYLOAD encoding is a
  * declared pure-Scala subset, not byte-compatible with libtiledb: the
  * schema and fragment-metadata files carry a little-endian magic-tagged
  * struct (see [[schemaBytes]]/[[fragMetaBytes]]) instead of the
  * library's generic-tile serialization, and `a0.tdb` holds the
  * fragment's float64 cells raw little-endian in row-major subarray
  * order (which for an unfiltered fragment whose tiles span whole rows
  * coincides with TileDB's global cell order). Unknown versions, dtypes,
  * sparse flags and attribute counts are rejected loudly — nothing is
  * ever silently mis-decoded.
  *
  * Scale shape, same as the other connectors: the driver touches only
  * the O(numFragments) manifest (schema + per-fragment metadata); cell
  * payloads move in one distributed `binaryFile` scan; gap cells
  * (outside every fragment's domain) are generated from `spark.range`
  * over driver-computed uncovered intervals, never materialized per cell
  * on the driver.
  *
  * One path per direction: [[read]]/[[write]] are [[readNd]]/[[writeNd]]
  * at rank 1, and a fragment whose payload does not hold exactly its
  * domain's cells is rejected with an `IllegalArgumentException` naming
  * the file, never read short or spilled into a neighbour's cells.
  */
object TileDb {

  private val SchemaMagic = 0x53424454 // "TDBS" LE
  private val FragMagic = 0x46424454   // "TDBF" LE
  private val Version = 1
  private val FragFormatVersion = 21   // rides in fragment/commit names

  /** Dense-array schema: inclusive per-dim domain, per-dim tile extent.
    * Single float64 attribute `a0`, C layout — the reference's supported
    * surface (`_tiledb.py:55-69` rejects sparse and multi-attr). */
  final case class Schema(shape: Seq[Long], tiles: Seq[Long], fill: Double = 0.0) {
    require(shape.nonEmpty && shape.forall(_ > 0), s"bad shape $shape")
    require(tiles.length == shape.length && tiles.forall(_ > 0),
      s"tile extents $tiles must match rank of $shape")
  }

  def schemaBytes(sc: Schema): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 4 + 1 + 1 + 4 + 4 + sc.shape.length * 24 + 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(SchemaMagic).putInt(Version)
    buf.put(0.toByte)  // array_type: 0 = dense (sparse unsupported, as reference)
    buf.put(0.toByte)  // attr dtype: 0 = float64
    buf.putInt(1)      // nattr
    buf.putInt(sc.shape.length)
    sc.shape.zip(sc.tiles).foreach { case (n, t) =>
      buf.putLong(0L).putLong(n - 1).putLong(t) // domain [0, n-1], extent t
    }
    buf.putDouble(sc.fill)
    buf.array()
  }

  def parseSchema(bytes: Array[Byte]): Schema = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 18 && buf.getInt() == SchemaMagic, "not a graft-subset TileDB schema")
    val v = buf.getInt()
    require(v == Version, s"unsupported schema version $v")
    val arrayType = buf.get()
    require(arrayType == 0, "Sparse TileDB arrays are not supported")
    val dtype = buf.get()
    require(dtype == 0, s"only float64 attributes supported, got dtype code $dtype")
    val nattr = buf.getInt()
    require(nattr == 1,
      "keyword 'attribute' must be provided when loading a multi-attribute TileDB array")
    val rank = buf.getInt()
    require(rank >= 0 && bytes.length == 18 + rank * 24L + 8,
      s"schema of ${bytes.length} bytes does not hold rank $rank")
    val dims = (0 until rank).map { _ =>
      val lo = buf.getLong(); val hi = buf.getLong(); val t = buf.getLong()
      require(lo == 0, s"only zero-based domains supported (got lo=$lo)")
      (hi + 1, t)
    }
    Schema(dims.map(_._1), dims.map(_._2), buf.getDouble())
  }

  /** Fragment metadata: the written subarray as inclusive per-dim
    * [lo, hi] (TileDB's non-empty domain) plus the cell count. */
  def fragMetaBytes(dom: Seq[(Long, Long)]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 4 + 4 + dom.length * 16 + 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(FragMagic).putInt(Version).putInt(dom.length)
    dom.foreach { case (lo, hi) => buf.putLong(lo).putLong(hi) }
    buf.putLong(dom.map { case (lo, hi) => hi - lo + 1 }.product)
    buf.array()
  }

  def parseFragMeta(bytes: Array[Byte]): Seq[(Long, Long)] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 12 && buf.getInt() == FragMagic,
      "not a graft-subset TileDB fragment metadata")
    val v = buf.getInt()
    require(v == Version, s"unsupported fragment metadata version $v")
    val rank = buf.getInt()
    require(rank >= 0 && bytes.length == 12 + rank * 16L + 8,
      s"fragment metadata of ${bytes.length} bytes does not hold rank $rank")
    val dom = (0 until rank).map(_ => (buf.getLong(), buf.getLong()))
    require(dom.forall { case (lo, hi) => lo >= 0 && lo <= hi },
      s"fragment domain $dom has an empty or negative extent")
    val cells = buf.getLong()
    require(cells == dom.map { case (lo, hi) => hi - lo + 1 }.product,
      s"fragment cell count $cells does not match domain $dom")
    dom
  }

  /** Fragment (or schema/commit) name: `__<t1>_<t2>_<uuid32hex>[_v]`.
    * The uuid derives deterministically from (timestamp, the fragment
    * domain's ABSOLUTE start cell) — not a write-relative block index,
    * which would collide when two same-timestamp writes cover different
    * subarrays (write A's block 0 and write B's block 0 would share a
    * name and silently destroy each other). With the absolute start,
    * same-ts writes over DISJOINT subarrays compose safely — the
    * parallel-writer contract; same-ts writes overlapping the same
    * cells still last-write-win at the file level, as any two
    * deterministic writers of identical coordinates must. */
  private def fragName(ts: Long, start: Long): String =
    f"__${ts}%d_${ts}%d_${ts}%016x${start}%016x_$FragFormatVersion%d"

  /** Timestamps + uuid from a fragment dir name. */
  private def parseFragName(name: String): (Long, Long, String) = {
    val m = "__(\\d+)_(\\d+)_([0-9a-f]{32})_(\\d+)".r.findFirstMatchIn(name)
      .getOrElse(sys.error(s"not a TileDB fragment name: $name"))
    require(m.group(4).toInt == FragFormatVersion,
      s"unsupported fragment format version ${m.group(4)} in $name")
    (m.group(1).toLong, m.group(2).toLong, m.group(3))
  }

  // ---------------------------------------------------------------- write

  /** Create (or overwrite) the array schema. Idempotent per uri. */
  def createArray(s: SparkSession, uri: String, schema: Schema, ts: Long = 1L): Unit = {
    val (fs, base) = StoreIO.fsOf(uri, s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(base, "__schema"))
    fs.mkdirs(new Path(base, "__commits"))
    fs.mkdirs(new Path(base, "__fragments"))
    StoreIO.writeFile(fs, new Path(new Path(base, "__schema"), fragName(ts, 0L).stripSuffix(s"_$FragFormatVersion")),
      schemaBytes(schema))
  }

  /** Write the 1-d element table `(idx, v)` into `uri` at logical write
    * timestamp `ts`, restricted to the inclusive subarray [lo, hi] —
    * [[writeNd]] at rank 1 over the existing schema's extent. */
  def write(elements: DataFrame, uri: String, ts: Long,
            lo: Long = 0L, hi: Long = -1L, blockCells: Long = 1L << 20): Unit =
    writeNd(StoreIO.asNd(elements, oneD(schemaOf(elements.sparkSession, uri), "write").shape,
      "idx"), uri, ts, blockCells, lo, hi)

  /** Emit one committed fragment: dir + a0.tdb + metadata + commit marker.
    * The marker is written LAST — a crashed task leaves an uncommitted
    * (invisible) fragment, which is TileDB's own atomicity protocol. */
  private def writeFragment(uri: String, conf: org.apache.hadoop.conf.Configuration,
                            ts: Long, dom: Seq[(Long, Long)],
                            vals: Array[Double]): Unit = {
    val (fs, base) = StoreIO.fsOf(uri, conf)
    val name = fragName(ts, dom.head._1) // absolute start cell/row
    val fdir = new Path(new Path(base, "__fragments"), name)
    fs.mkdirs(fdir)
    val buf = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(buf.putDouble)
    StoreIO.writeFile(fs, new Path(fdir, "a0.tdb"), buf.array())
    StoreIO.writeFile(fs, new Path(fdir, "__fragment_metadata.tdb"), fragMetaBytes(dom))
    StoreIO.writeFile(fs, new Path(new Path(base, "__commits"), s"$name.wrt"), Array.empty[Byte])
  }

  private def schemaPath(fs: org.apache.hadoop.fs.FileSystem, base: Path): Path = {
    val dir = new Path(base, "__schema")
    val names = fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith("__"))
    require(names.nonEmpty, s"no TileDB schema under $dir")
    // latest schema wins, as in TileDB evolution — ordered by the PARSED
    // timestamp (a lexicographic sort would put ts=10 before ts=2)
    val latest = names.maxBy { n =>
      ("__(\\d+)_".r.findFirstMatchIn(n).map(_.group(1).toLong).getOrElse(0L), n)
    }
    new Path(dir, latest)
  }

  /** The latest array schema under `uri`. */
  private def schemaOf(s: SparkSession, uri: String): Schema = {
    val (fs, base) = StoreIO.fsOf(uri, s.sparkContext.hadoopConfiguration)
    parseSchema(StoreIO.readFile(fs, schemaPath(fs, base)))
  }

  private def oneD(schema: Schema, op: String): Schema = {
    require(schema.shape.length == 1,
      s"$op() is 1-d; rank ${schema.shape.length} needs ${op}Nd")
    schema
  }

  // ----------------------------------------------------------------- read

  /** Committed fragments only (name, t1, t2, uuid, domain), ascending by
    * (t2, uuid) — the shadowing order. O(numFragments) driver pass. Every
    * fragment domain must lie inside the schema's. */
  private def fragManifest(s: SparkSession, uri: String): (Schema, Seq[(String, Long, String, Seq[(Long, Long)])]) = {
    val conf = s.sparkContext.hadoopConfiguration
    val (fs, base) = StoreIO.fsOf(uri, conf)
    val schema = parseSchema(StoreIO.readFile(fs, schemaPath(fs, base)))
    val committed = StoreIO.listNames(s"$uri/__commits", conf)
      .filter(_.endsWith(".wrt")).map(_.stripSuffix(".wrt")).toSet
    val fragsDir = new Path(base, "__fragments")
    val frags = (if (fs.exists(fragsDir)) fs.listStatus(fragsDir).toSeq else Seq.empty)
      .map(_.getPath.getName)
      .filter(committed) // uncommitted fragments are invisible
      .map { name =>
        val (_, t2, uuid) = parseFragName(name)
        val dom = parseFragMeta(StoreIO.readFile(fs,
          new Path(new Path(fragsDir, name), "__fragment_metadata.tdb")))
        require(dom.length == schema.shape.length, s"rank mismatch in $name")
        require(dom.zip(schema.shape).forall { case ((lo, hi), n) => hi < n },
          s"fragment $name domain $dom outside the array shape ${schema.shape}")
        (name, t2, uuid, dom)
      }
      .sortBy { case (_, t2, uuid, _) => (t2, uuid) }
    (schema, frags)
  }

  /** Read the dense 1-d array as the element table `(idx, v)` —
    * [[readNd]]'s flat table at rank 1. */
  def read(s: SparkSession, uri: String): DataFrame = {
    val (flat, schema) = readFlat(s, uri)
    oneD(schema, "read")
    flat
  }

  /** Write an N-d array as row-block fragments along axis 0 at logical
    * write timestamp `ts`, restricted to the inclusive row subarray
    * [lo, hi] (`hi` < 0: the array's last row). One FRAGMENT PER BLOCK
    * TASK (block = `blockRows` consecutive rows × the full trailing dims):
    * this is TileDB's native parallel-write model — immutable subarray
    * fragments plus commit markers — so there is no shared-file append
    * and no data through the driver. Gaps inside the subarray densify to
    * the schema fill value (a fragment claims its whole subarray, exactly
    * as a TileDB dense write does); blocks with no rows at all still
    * claim theirs, written as fill fragments by distributed tasks. The
    * array is created first (fill 0) when `uri` has no schema. */
  def writeNd(a: graft.NdArray, uri: String, ts: Long, blockRows: Long,
              lo: Long = 0L, hi: Long = -1L): Unit = {
    val s = a.df.sparkSession
    val shape = a.shape
    createArrayIfAbsent(s, uri, Schema(shape, blockRows +: shape.tail))
    val schema = schemaOf(s, uri)
    val hi1 = if (hi < 0) shape.head - 1 else hi
    require(lo >= 0 && hi1 < schema.shape.head && lo <= hi1,
      s"subarray [$lo,$hi1] outside domain [0,${schema.shape.head - 1}]")
    import s.implicits._
    val fill = schema.fill
    val restVol = shape.tail.product
    val strides = shape.scanRight(1L)(_ * _).tail
    val pSql = (s"(c0 - $lo) % $blockRows * ${restVol}L" +:
      shape.indices.tail.map(d => s"c$d * ${strides(d)}L")).mkString(" + ")
    val inBounds = (s"c0 >= $lo AND c0 <= $hi1" +:
      shape.indices.map(d => s"c$d >= 0 AND c$d < ${shape(d)}")).mkString(" AND ")
    val domOf = (blk: Long) => {
      val r0 = lo + blk * blockRows
      (r0, math.min(r0 + blockRows - 1, hi1)) +: shape.tail.map(d => (0L, d - 1))
    }
    val size = (blk: Long) => domOf(blk).map { case (l, h) => h - l + 1 }.product.toInt
    val written = StoreIO.writeBlocks(a.df.where(inBounds)
      .selectExpr(s"(c0 - $lo) DIV $blockRows AS b", s"($pSql) AS p", "v")
      .as[(Long, Long, Double)], fill)(size) { (conf, blk, vals) =>
      writeFragment(uri, conf, ts, domOf(blk), vals)
    }
    // blocks with no surviving elements still claim their subarray (a
    // dense write covers the whole range) — emit their fill fragments
    // DISTRIBUTED (a driver loop over a million-block subarray would
    // serialize what the per-block tasks parallelize)
    val missing = (0L to (hi1 - lo) / blockRows).filterNot(written)
    if (missing.nonEmpty) {
      val bconf = s.sparkContext.broadcast(
        new SerializableHadoopConf(s.sparkContext.hadoopConfiguration))
      s.createDataset(missing).foreach { blk =>
        writeFragment(uri, bconf.value.value, ts, domOf(blk), Array.fill(size(blk))(fill))
      }
    }
  }

  private def createArrayIfAbsent(s: SparkSession, uri: String, schema: Schema): Unit = {
    val (fs, base) = StoreIO.fsOf(uri, s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(base, "__schema"))) createArray(s, uri, schema)
  }

  /** Read an N-d dense array as a [[graft.NdArray]]. */
  def readNd(s: SparkSession, uri: String): graft.NdArray = {
    val (flat, schema) = readFlat(s, uri)
    graft.NdArray.fromFlat(flat, schema.shape)
  }

  /** The one fragment reader behind [[read]] and [[readNd]]: the flat
    * row-major table `(idx, v)` of the array plus its schema. One
    * distributed `binaryFile` scan over every committed fragment's
    * `a0.tdb` decodes each fragment row-major within its rectangular
    * domain (a payload that does not hold exactly the domain's cells
    * fails with an `IllegalArgumentException` naming the file), then the
    * TileDB shadowing merge — the cell value from the fragment with the
    * greatest (t2, uuid) wins — runs as a `max_by` over a rank from the
    * driver's O(numFragments) manifest. Cells no fragment covers come
    * back as the schema fill value, generated from `spark.range`. */
  private def readFlat(s: SparkSession, uri: String): (DataFrame, Schema) = {
    import s.implicits._
    val (schema, frags) = fragManifest(s, uri)
    val shape = schema.shape
    val strides = shape.scanRight(1L)(_ * _).tail // row-major global strides
    val rankOf: Map[String, (Int, Seq[(Long, Long)])] =
      frags.zipWithIndex.map { case ((name, _, _, dom), r) => name -> (r, dom) }.toMap
    val bc = s.sparkContext.broadcast((rankOf, strides))
    // EXPLICIT file paths from the manifest, not a directory scan:
    // Spark's file index silently drops `_`-prefixed paths (metadata-file
    // convention), which is every TileDB fragment dir — a recursive
    // listing under __fragments reads NOTHING. Explicit leaves also skip
    // the recursive-listing job; the driver already holds the manifest.
    val decoded =
      if (frags.isEmpty) s.range(0).selectExpr("id AS idx", "CAST(0 AS DOUBLE) AS v", "0 AS r")
      else s.read.format("binaryFile")
        .load(frags.map { case (name, _, _, _) => s"$uri/__fragments/$name/a0.tdb" }: _*)
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (path, content) =>
          val (rk, st) = bc.value
          val fname = path.split("/").dropRight(1).last
          rk.get(fname).iterator.flatMap { case (r, dom) =>
            val ext = dom.map { case (lo, hi) => hi - lo + 1 }
            require(content.length == ext.product * 8,
              s"$path: ${content.length} bytes, but fragment domain $dom holds " +
                s"${ext.product} float64 cells")
            val sub = ext.scanRight(1L)(_ * _).tail // row-major within subarray
            val buf = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
            (0 until content.length / 8).iterator.map { i =>
              var rem = i.toLong; var g = 0L; var d = 0
              while (d < dom.length) {
                val c = dom(d)._1 + rem / sub(d); rem %= sub(d)
                g += c * st(d); d += 1
              }
              (g, buf.getDouble(i * 8), r)
            }
          }
        }.toDF("idx", "v", "r")
    val merged = decoded.groupBy("idx").agg(expr("max_by(v, r)").as("v"))
    // Densify uncovered cells to the schema fill: write/writeNd/tiledbSink
    // fragments span the FULL trailing dims, so the uncovered region is a
    // union of axis-0 row intervals, and a row interval is CONTIGUOUS in
    // row-major flat index — each gap is one cheap range union. A
    // hand-written fragment that is partial in a trailing dim leaves
    // in-row holes this row-interval model cannot see, so such stores
    // must use fill == 0 (absent-cell ≙ 0 is the cell table's native
    // semantics).
    val rowVol = shape.tail.product
    val fullTail = frags.forall { case (_, _, _, dom) =>
      dom.tail.zip(shape.tail).forall { case ((lo, hi), n) => lo == 0 && hi == n - 1 } }
    require(fullTail || schema.fill == 0.0,
      s"partial-trailing-dim fragments need fill == 0, schema has ${schema.fill}")
    val covered = frags.map(_._4.head).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((alo, ahi) :: rest, (lo, hi)) if lo <= ahi + 1 =>
          (alo, math.max(ahi, hi)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse
    val gaps = ((-1L +: covered.map(_._2)) :+ shape.head)
      .zip(covered.map(_._1) :+ shape.head)
      .collect { case (prevHi, nextLo) if nextLo > prevHi + 1 => (prevHi + 1, nextLo) }
    val dense = gaps.foldLeft(merged) { case (df, (g0, g1)) =>
      df.unionByName(s.range(g0 * rowVol, g1 * rowVol)
        .select(col("id").as("idx"), lit(schema.fill).as("v")))
    }
    (dense, schema)
  }
}
