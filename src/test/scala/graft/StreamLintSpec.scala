package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.StreamOps

/** Keyed-state lint for the STREAMING surface (r11 verdict ask #8).
  *
  * The batch queries' shuffle keys are linted in QuerySpec's plan sweep
  * (no corpus-scale exchange may carry a raw wide-text key); the stream
  * transforms are exercised through memory sinks, so their plans escape
  * that sweep. This spec closes the gap in two layers:
  *
  *  1. a MANIFEST: every public StreamOps transform declares its
  *     keyed-state column and the declaration is classified — Stateless,
  *     NarrowKey (ids / enums / event-time windows — O(bytes) per key),
  *     or HashKey (fixed-width hash standing in for wide content). A
  *     reflection sweep over the StreamOps object fails the suite the
  *     moment a NEW transform ships without declaring its state key, and
  *     a WaivedWide classification (none exist today) requires a written
  *     justification, mirroring the batch lint's t20 waiver discipline.
  *  2. PLAN SPOT-CHECKS: for the stateful transforms whose keys are
  *     visible in the analyzed plan (SQL-level keys, not groupByKey
  *     lambdas), the declared key must actually appear as the state
  *     operator's grouping/join key — and the raw text column must NOT —
  *     keeping the manifest honest against drift. */
class StreamLintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = spark.stop()

  private sealed trait KeyClass
  private case object Stateless extends KeyClass
  private final case class NarrowKey(key: String) extends KeyClass
  private final case class HashKey(key: String) extends KeyClass
  /** A wide (text/span/window-string) state key needs the same written
    * waiver the batch lint demands (QuerySpec's t20 entry). */
  private final case class WaivedWide(key: String, why: String) extends KeyClass

  /** transform name -> its keyed-state (or join-state) column. */
  private val stateKeys: Map[String, KeyClass] = Map(
    "slidingStats" -> NarrowKey("window(ts) — event-time window struct"),
    "sessionStats" -> NarrowKey("session_window(ts), user"),
    "windowedQuantiles" -> NarrowKey("window(ts)"),
    "dedupStream" -> HashKey("h = md5(text) — 128-bit content hash"),
    "spanDedupStream" -> HashKey("h = md5(span) — 128-bit span hash"),
    "packSequences" -> NarrowKey("source — bounded enum of corpus sources"),
    "nearDupCandidates" -> NarrowKey("(band, bh) — band id + band-hash bucket"),
    "searchVectors" -> NarrowKey("qid (top-k regroup); label (broadcast join)"),
    "hashSample" -> NarrowKey("source"),
    "dsirTopK" -> NarrowKey("g = pmod(doc_id, groups) — salt bucket"),
    "runningTotals" -> NarrowKey("user"),
    "intervalJoin" -> NarrowKey("u/ru = user — both join sides"),
    "intervalJoinTwo" -> NarrowKey("u/ru = user — both join sides (two-stream form)"),
    "asofJoin" -> NarrowKey("user — flatMapGroupsWithState temporal-join key"),
    "asofJoinForward" -> NarrowKey(
      "user — bounded-horizon forward as-of, same keyed state shape"),
    "asofJoinNearest" -> NarrowKey(
      "user — nearest as-of, union of the backward/forward state shapes"),
    "pipelineClean" -> HashKey(
      "(h = md5(text), source) — within-watermark dedup state; h alone for the broadcast anti-join"),
    "enrich" -> NarrowKey("user — stream-static broadcast, no stream state"),
    "filterContaminated" -> HashKey("h = md5(text) — broadcast anti join"),
    "filterContaminatedBloom" -> HashKey("(_gbh1, _gbh2) — two-seed xxhash64 pair"),
    "assignVectors" -> Stateless,
    "scoreDocs" -> Stateless,
    "classifyDocs" -> Stateless,
    "gopherSignals" -> Stateless,
    "mixtureSample" -> Stateless,
    "dsirScore" -> Stateless,
    "bpeEncode" -> Stateless,
    "tiledbSink" -> Stateless // foreachBatch sink: no keyed stream state
  )

  test("every public StreamOps transform declares its keyed-state column") {
    val transforms = StreamOps.getClass.getDeclaredMethods
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName)
      .filterNot(_.contains("$")) // default-arg synthetics
      .toSet
    val undeclared = transforms -- stateKeys.keySet
    val stale = stateKeys.keySet -- transforms
    assert(undeclared.isEmpty,
      s"StreamOps transforms without a declared state key (add to the " +
        s"manifest with a NarrowKey/HashKey/Stateless classification): $undeclared")
    assert(stale.isEmpty, s"manifest entries with no StreamOps method: $stale")
  }

  test("no streaming state key is raw wide text (waivers need written why)") {
    val wideWithoutWhy = stateKeys.collect {
      case (name, WaivedWide(key, why)) if why.trim.length < 20 => s"$name ($key)"
    }
    assert(wideWithoutWhy.isEmpty,
      s"wide streaming state keys without a real justification: $wideWithoutWhy")
    // today: zero waivers at all — a new one must be argued in review
    val waived = stateKeys.collect { case (n, _: WaivedWide) => n }
    assert(waived.isEmpty, s"unexpected wide-key waivers: $waived")
  }

  test("declared keys match the analyzed plans (SQL-visible state ops)") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._

    // dedupStream: the dedup state key must be the md5 hash, never text
    val dedupPlan = StreamOps.dedupStream(MemoryStream[StreamOps.Doc].toDS())
      .queryExecution.analyzed.toString
    val dedupLine = dedupPlan.linesIterator
      .find(_.contains("DeduplicateWithinWatermark")).getOrElse("")
    assert(dedupLine.contains("h#"), s"dedup key not h: $dedupLine")
    assert(!dedupLine.contains("text#"), s"dedup keyed on raw text: $dedupLine")

    // spanDedupStream: same contract on the span hash
    val spanPlan = StreamOps.spanDedupStream(MemoryStream[StreamOps.Doc].toDS())
      .queryExecution.analyzed.toString
    val spanLine = spanPlan.linesIterator
      .find(_.contains("DeduplicateWithinWatermark")).getOrElse("")
    assert(spanLine.contains("h#"), s"span-dedup key not h: $spanLine")
    assert(!spanLine.contains("span#"), s"span-dedup keyed on raw span: $spanLine")

    // intervalJoin: the join condition carries user ids, never payloads
    val joinPlan = StreamOps.intervalJoin(MemoryStream[StreamOps.EvId].toDS())
      .queryExecution.analyzed.toString
    val joinLine = joinPlan.linesIterator.find(_.contains("Join Inner")).getOrElse("")
    assert(joinLine.contains("u#") && joinLine.contains("ru#"),
      s"interval join not keyed on user: $joinLine")

    // sessionStats: aggregation grouped by (session_window, user)
    val sessPlan = StreamOps.sessionStats(MemoryStream[StreamOps.Ev].toDS())
      .queryExecution.analyzed.toString
    val aggLine = sessPlan.linesIterator.find(_.contains("Aggregate")).getOrElse("")
    assert(aggLine.contains("session_window") && aggLine.contains("user#"),
      s"session agg keys drifted: $aggLine")
  }
}
