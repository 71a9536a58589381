package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.StreamQueries

/** A replay gate compiles its generated classes once per JVM.
  *
  * Every `start()` clones the session. With artifact isolation on (Spark's
  * default), each clone gets its own artifact-state UUID, the executor runs
  * its tasks under a fresh class loader, and the codegen cache — keyed by
  * (class loader, code) — misses on every class the replay generated the
  * run before. The replay drivers scope isolation off for the stream, so a
  * repeat replay finds all of its classes cached.
  *
  * Counted with Spark's public `CodegenMetrics.METRIC_COMPILATION_TIME`
  * histogram (one update per Janino compile). s01 covers the AvailableNow
  * driver, s06 the ordered driver; each repeat must also give run 1's
  * answer. */
class ReplayCodegenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = spark.stop()

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** (compiles, CanonicalHash) of each of three runs of `gate`. */
  private def threeRuns(gate: String): Seq[(Long, String)] =
    (1 to 3).map { _ =>
      val c0 = compiles()
      val hash = CanonicalHash.of(StreamQueries.queries(gate)(spark, sfDir))
      (compiles() - c0, hash)
    }

  for (gate <- Seq("s01_stream_gopher", "s06_stream_totals"))
    test(s"$gate: repeat replays compile no classes and give run 1's answer") {
      val runs = threeRuns(gate)
      val (_, first) = runs.head
      runs.tail.zipWithIndex.foreach { case ((n, hash), i) =>
        assert(n == 0, s"run ${i + 2} of $gate compiled $n classes " +
          s"(compiles per run: ${runs.map(_._1).mkString(", ")})")
        assert(hash == first, s"run ${i + 2} of $gate changed its answer")
      }
    }
}
