package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one read path for parquet input tables — what a metastore table
  * entry would give the engine. `spark.read.parquet(path)` infers the
  * schema with a Spark job on every call; [[read]] instead reads the
  * parquet footer on the driver and declares the schema, so building a
  * DataFrame launches no job.
  *
  * Footers are cached per session, keyed on the path and the identity of
  * its files (name, length, mtime): a rewritten table misses and is read
  * again. The cache holds metadata only — never a plan, never a result —
  * and the footer's parquet schema is converted on every call, so
  * in-session conf changes such as `spark.sql.legacy.parquet.nanosAsLong`
  * still apply.
  *
  * The schema follows Spark's own inference (`ParquetUtils.inferSchema`
  * with `mergeSchema` off): the `_common_metadata` summary, else
  * `_metadata`, else the first data file by path; Spark's row-metadata
  * key wins over the converted parquet schema. Layouts that inference
  * would also partition-discover (subdirectories) or reject (no data
  * files) fall through to `spark.read.parquet`. */
object Tables {

  /** The table at `path` with its footer-declared schema. */
  def read(spark: SparkSession, path: String): DataFrame = entry(spark, path) match {
    case Some(e) => spark.read.schema(schema(spark, e.footer)).parquet(path)
    case None => spark.read.parquet(path)
  }

  /** Row count from the data files' footers — no Spark job. */
  def rows(spark: SparkSession, path: String): Long = entry(spark, path) match {
    case Some(e) => e.rows
    case None => spark.read.parquet(path).count()
  }

  private final case class Entry(files: Seq[(String, Long, Long)], footer: Footer, rows: Long)

  private val sessions =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Entry]]()

  private def cache(spark: SparkSession): ConcurrentHashMap[String, Entry] =
    sessions.synchronized(sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap()))

  private def schema(spark: SparkSession, footer: Footer): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  // Spark's file index skips names starting with `_` or `.` (summary
  // files excepted) and in-flight `._COPYING_` copies; this mirrors
  // `HadoopFSUtils.shouldFilterOutPathName`, which is private to Spark
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) &&
      !name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)

  private def isSummary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_METADATA_FILE

  private def entry(spark: SparkSession, path: String): Option[Entry] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.getFileStatus(p)
    val leaves =
      if (root.isFile) Seq(root)
      else fs.listStatus(root.getPath).toSeq.filterNot(f => hidden(f.getPath.getName))
        .sortBy(_.getPath.toString)
    val (summaries, data) = leaves.partition(f => isSummary(f.getPath.getName))
    if (leaves.exists(_.isDirectory) || data.isEmpty) None
    else {
      val files = leaves.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      val tables = cache(spark)
      val key = root.getPath.toString
      Option(tables.get(key)).filter(_.files == files).orElse {
        def footer(f: FileStatus) = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER)
        val dataFooters = data.map(footer)
        // sorted by path, so `_common_metadata` comes before `_metadata`
        val schemaFooter = summaries.headOption match {
          case Some(s) => new Footer(s.getPath, footer(s))
          case None => new Footer(data.head.getPath, dataFooters.head)
        }
        val rows = dataFooters.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum
        val e = Entry(files, schemaFooter, rows)
        tables.put(key, e)
        Some(e)
      }
    }
  }
}
