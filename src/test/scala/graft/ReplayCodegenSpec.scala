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
  * answer. Each run's replay diag must also carry `phase_ms`, the wall
  * time of every harness phase its driver ran. */
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

  /** Harness phases each driver runs, in order: the AvailableNow driver
    * awaits termination, the ordered driver publishes then flushes. */
  private val phases = Map(
    "s01_stream_gopher" -> Seq("stage", "start", "await", "teardown", "localize"),
    "s06_stream_totals" -> Seq("stage", "start", "publish", "flush", "teardown", "localize"))

  for ((gate, want) <- phases)
    test(s"$gate: the replay diag records phase_ms for every harness phase") {
      val diag = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_replay_diag", s"${gate.takeWhile(_ != '_')}.json")
      java.nio.file.Files.deleteIfExists(diag)
      StreamQueries.queries(gate)(spark, sfDir)
      val body = java.nio.file.Files.readString(diag)
      val phaseMs = """"phase_ms":\{([^}]*)\}""".r.findFirstMatchIn(body)
        .map(_.group(1)).getOrElse(fail(s"no phase_ms in $diag: $body"))
      val got = """"(\w+)":(\d+\.\d)""".r.findAllMatchIn(phaseMs)
        .map(m => m.group(1) -> m.group(2).toDouble).toSeq
      assert(got.map(_._1) == want, s"phase_ms of $gate: $phaseMs")
      assert(got.forall(_._2 >= 0), s"negative phase time in $phaseMs")
    }
}
