package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Tables]], the one parquet read path: its footer-declared schema
  * is exactly what Spark's own inference gives (conf toggles, Spark's
  * row-metadata key, the file inference picks, overwrites), its row count
  * is `count()`, and neither reading nor counting launches a Spark job. */
class TablesSpec extends AnyFunSuite {
  import TestSpark.spark

  // the sf0.01 tables, beside the shared sf0.001 ones
  private val sf = new File(TestSpark.sf).getParent + "/sf0.01"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tables: Seq[String] =
    new File(sf).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  /** Both sides either give the same schema or both refuse the table. */
  private def assertInferred(s: SparkSession, path: String): Unit = {
    val inferred = Try(s.read.parquet(path).schema)
    val declared = Try(Tables.read(s, path).schema)
    assert(declared.isSuccess == inferred.isSuccess,
      s"$path: resolver $declared, inference $inferred")
    if (inferred.isSuccess) assert(declared.get == inferred.get, path)
  }

  private def withTempDir[T](body: File => T): T = {
    val dir = Files.createTempDirectory("graft-tables").toFile
    try body(dir) finally {
      def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
      rm(dir)
    }
  }

  /** Job ids the construction `body` submits, counted in its own job group. */
  private def jobsOf(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"tables-${System.nanoTime()}"
    sc.setJobGroup(group, "construction")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("schema equals Spark's inference for every sf0.01 table, nanosAsLong toggled in-session") {
    val s = spark
    val prev = s.conf.get(NanosAsLong)
    try for (nanos <- Seq("true", "false", "true")) {
      s.conf.set(NanosAsLong, nanos)
      tables.foreach(assertInferred(s, _))
    } finally s.conf.set(NanosAsLong, prev)
    assert(tables.size == 10)
  }

  test("matches inference on a Spark-written two-file table, row-metadata key honoured") {
    val s = spark
    withTempDir { dir =>
      val path = s"$dir/t"
      // field metadata survives only through Spark's row-metadata key
      s.range(0, 20, 1, 2)
        .select(col("id"), col("id").cast("short").as("sh"),
          col("id").cast("string").as("txt", new MetadataBuilder().putString("comment", "c").build()))
        .write.parquet(path)
      assert(new File(path).list().count(_.endsWith(".parquet")) == 2)
      val schema = Tables.read(s, path).schema
      assert(schema("txt").metadata.getString("comment") == "c")
      assertInferred(s, path)
    }
  }

  test("picks the file Spark's inference picks: _common_metadata, _metadata, then the first data file") {
    val s = spark
    withTempDir { dir =>
      s.range(5).selectExpr("id", "id * 2 AS a").coalesce(1).write.parquet(s"$dir/x")
      s.range(5).selectExpr("id", "CAST(id AS STRING) AS b").coalesce(1).write.parquet(s"$dir/y")
      def part(d: String) = new File(s"$dir/$d").listFiles().find(_.getName.endsWith(".parquet")).get.toPath
      val t = new File(s"$dir/t"); t.mkdir()
      def put(src: String, name: String) =
        Files.copy(part(src), new File(t, name).toPath, StandardCopyOption.REPLACE_EXISTING)
      put("y", "part-0.parquet"); put("x", "part-1.parquet")
      assertInferred(s, t.getPath)
      assert(Tables.read(s, t.getPath).columns.toSeq == Seq("id", "b"))
      put("x", "_metadata")
      assertInferred(s, t.getPath)
      assert(Tables.read(s, t.getPath).columns.toSeq == Seq("id", "a"))
      put("y", "_common_metadata")
      assertInferred(s, t.getPath)
      assert(Tables.read(s, t.getPath).columns.toSeq == Seq("id", "b"))
    }
  }

  test("overwriting a table with a different schema at the same path returns the new schema") {
    val s = spark
    withTempDir { dir =>
      val path = s"$dir/t"
      s.range(4).selectExpr("id", "id + 1 AS a").write.mode("overwrite").parquet(path)
      assert(Tables.read(s, path).columns.toSeq == Seq("id", "a"))
      s.range(6).selectExpr("CAST(id AS STRING) AS k", "id * 1.5D AS v", "id AS w")
        .write.mode("overwrite").parquet(path)
      assert(Tables.read(s, path).columns.toSeq == Seq("k", "v", "w"))
      assertInferred(s, path)
      assert(Tables.rows(s, path) == 6)
    }
  }

  test("rows equals count()") {
    val s = spark
    tables.foreach(p => assert(Tables.rows(s, p) == s.read.parquet(p).count(), p))
    withTempDir { dir =>
      s.range(0, 37, 1, 3).write.parquet(s"$dir/t")
      assert(Tables.rows(s, s"$dir/t") == 37)
    }
  }

  test("reading and counting launch no Spark job; inference does") {
    val s = spark
    val p = s"$sf/events.parquet"
    Tables.read(s, p)
    assert(jobsOf(s)(Tables.read(s, p)) == 0, "second read launched a job")
    assert(jobsOf(s)(Tables.rows(s, p)) == 0, "row count launched a job")
    // the counter sees the job schema inference runs, so the pin can fail
    assert(jobsOf(s)(s.read.parquet(p)) > 0)
  }
}
