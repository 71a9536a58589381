package graft.sources

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset}

/** Java-serializable carrier for a Hadoop `Configuration` (which is
  * `Writable`, not `Serializable`), so executor-side store writes see the
  * DRIVER's configuration — including `spark.hadoop.*` settings such as
  * object-store credentials (`fs.s3a.*`) that never reach classpath XML.
  * Same shape as Spark's internal `SerializableConfiguration`. */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Store IO for the array stores ([[Zarr]], [[TileDb]] and the `.npy` /
  * `.h5` block stacks of [[NpyStack]] and [[Hdf5]]), routed through the
  * Hadoop FileSystem API so a store may live on any configured scheme —
  * local disk, HDFS, or an object store — rather than a filesystem shared
  * between driver and executors. Callers with a SparkSession in scope pass
  * `sparkContext.hadoopConfiguration`, and [[writeBlocks]] ships it into
  * the executor-side block writes via [[SerializableHadoopConf]], so
  * `spark.hadoop.*` settings — the standard way object-store credentials
  * are configured — apply to block writes as well as the `binaryFile`
  * reads; the default-resource `Configuration` is only the no-session
  * fallback. Bulk block READS never come through here — they ride Spark's
  * distributed `binaryFile` source. */
object StoreIO {

  /** An element or cell table as the N-d array the rank-generic writers
    * take: `coords` name its coordinate columns in axis order. */
  private[sources] def asNd(table: DataFrame, shape: Seq[Long], coords: String*): graft.NdArray =
    new graft.NdArray(
      table.selectExpr(coords.zipWithIndex.map { case (c, a) => s"$c AS c$a" } :+ "v": _*),
      shape, dense = false, graft.NdArray.axes(shape.length))

  /** The block-write loop of every array store. `cells` holds
    * `(block id, position in the block's dense C-order array, value)`
    * rows; the rows of one block meet in one task, which fills a dense
    * array of `size(block)` values (positions without a row keep `fill`)
    * and hands it to `write` on the executor with the DRIVER's Hadoop
    * conf. Returns the ids of the blocks written — each store decides
    * what a block without rows becomes. */
  private[sources] def writeBlocks[V: ClassTag](cells: Dataset[(Long, Long, V)], fill: V)
      (size: Long => Int)(write: (Configuration, Long, Array[V]) => Unit): Set[Long] = {
    val spark = cells.sparkSession
    val conf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    import spark.implicits._
    cells.groupByKey(_._1).mapGroups { (b, it) =>
      val vals = Array.fill(size(b))(fill)
      it.foreach { case (_, p, v) => vals(p.toInt) = v }
      write(conf.value.value, b, vals)
      b
    }.collect().toSet
  }

  /** Fallback only — the XML default-resource parse is paid once per JVM. */
  private[sources] lazy val defaultConf = new Configuration()

  def fsOf(dir: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf) match {
      // stores are self-describing chunk files; the local
      // ChecksumFileSystem's .crc sidecars would litter the chunk
      // namespace other readers list. Unwrap to the raw filesystem for
      // OUR paths only — never mutate the JVM-cached instance's global
      // checksum setting, which other writers (parquet, checkpoints)
      // share.
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f                                          => f
    }
    (fs, p)
  }

  def fsOf(dir: String): (FileSystem, Path) = fsOf(dir, defaultConf)

  def writeFile(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Read a whole (small) file — metadata descriptors only. */
  def readFile(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toByteArray
    } finally in.close()
  }

  /** Read the first `k` bytes of a file — header sniffing. */
  def readPrefix(fs: FileSystem, p: Path, k: Int): Array[Byte] = {
    val in = fs.open(p)
    try in.readNBytes(k) finally in.close()
  }

  /** Names of directory entries (no recursion). */
  def listNames(dir: String, conf: Configuration): Seq[String] = {
    val (fs, base) = fsOf(dir, conf)
    fs.listStatus(base).toSeq.map(_.getPath.getName)
  }

  def listNames(dir: String): Seq[String] = listNames(dir, defaultConf)

  /** Full path strings matching a glob pattern relative to `dir`. */
  def glob(dir: String, pattern: String, conf: Configuration): Seq[String] = {
    val (fs, base) = fsOf(dir, conf)
    Option(fs.globStatus(new Path(base, pattern)))
      .map(_.toSeq.map(_.getPath.toString)).getOrElse(Nil)
  }

  def glob(dir: String, pattern: String): Seq[String] = glob(dir, pattern, defaultConf)
}
