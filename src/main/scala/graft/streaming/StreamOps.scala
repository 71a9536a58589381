package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming surface (SURVEY §2.13 — new work, absent from the
  * reference): event-time windowed aggregation with watermarks, and
  * keyed stateful processing whose merge step reuses the same
  * associative `combine` shape as the batch reduction engine (the one
  * reference asset that carries over to streaming — a reduction's
  * `combine` is a valid `GroupState` merge).
  *
  * Scale design: both operators are keyed by (window | user) and run as
  * ordinary partitioned shuffles with incremental state — no global
  * ordering anywhere, so a 1000-executor cluster partitions freely.
  */
object StreamOps {

  final case class Ev(ts: Timestamp, user: Long, value: Double)
  final case class UserTotal(user: Long, total: Double, n: Long)

  /** Sliding event-time window counts/sums with a watermark: late rows
    * beyond the watermark are dropped, windows finalize in append mode.
    * `sumExpr` is the value aggregate — default is the human-facing
    * rounded float sum; the oracle gate (s04) passes an
    * integer-quantized sum instead, because a float sum's accumulation
    * order is engine-internal and not hash-comparable. */
  def slidingStats(ev: Dataset[Ev], win: String = "10 seconds",
                   slide: String = "5 seconds",
                   watermark: String = "10 seconds",
                   sumExpr: String = "round(sum(value), 2)"): DataFrame =
    ev.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win, slide))
      .agg(count(lit(1)).as("n"), expr(sumExpr).as("s"))
      .select(col("window.start").as("ws"), col("n"), col("s"))

  final case class Doc(ts: Timestamp, doc_id: Long, text: String)

  /** Streaming exact dedup — the online half of the batch dedup pipeline
    * (t01): content-hash key + `dropDuplicatesWithinWatermark` keyed
    * state. Plain `dropDuplicates("h")` would keep every hash FOREVER
    * (Spark only evicts dedup state when the event-time column is part of
    * the key set); the within-watermark variant evicts each hash once the
    * watermark passes its first-seen event time, so state is bounded on a
    * real stream. Within one micro-batch the surviving duplicate is
    * arbitrary under partitioning (batch t01 keeps the deterministic
    * min(doc_id)); the kept-set semantics — one survivor per hash inside
    * the horizon — match regardless. At scale this is a hash-partitioned
    * stateful operator, the streaming twin of the hash-groupBy dedup. */
  def dedupStream(docs: Dataset[Doc], watermark: String = "10 seconds"): DataFrame =
    docs.withColumn("h", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h")
      .select(col("ts"), col("doc_id"), col("h"))

  final case class SrcDoc(ts: Timestamp, doc_id: Long, source: String, text: String)
  final case class PackedDoc(source: String, doc_id: Long, n_tok: Long, bin: Long)

  /** Streaming sequence packing — the online half of the batch t15
    * concat-and-chunk: per source, a running token offset assigns every
    * arriving document to the fixed-width bin its start offset lands in
    * (`offset DIV window`, the batch query's exact rule). State is ONE
    * Long per source — bounded regardless of stream length — and the
    * operator is keyed by source, so a 1000-executor cluster partitions
    * freely; ordering within a micro-batch is (event time, doc_id), the
    * same determinism rule the near-dup operator uses. */
  def packSequences(docs: Dataset[SrcDoc], window: Long = 2048L): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (src, rows, state) =>
          var off = state.getOption.getOrElse(0L)
          val out = List.newBuilder[PackedDoc]
          rows.toSeq.sortBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
            // split with limit -1 keeps empty tokens, matching the batch
            // t15 rule `size(split(text, ' '))` exactly (double/trailing
            // spaces and the empty document count the same on both paths)
            val nt = d.text.split(" ", -1).length.toLong
            out += PackedDoc(src, d.doc_id, nt, off / window)
            off += nt
          }
          state.update(off)
          out.result().iterator
      }
  }

  /** Per-user session windows (gap-based): events within `gap` of each
    * other merge into one session; a watermark closes sessions so state
    * is bounded. Spark's native `session_window` — stateful, keyed by
    * (user, session), partitioned freely across executors. */
  def sessionStats(ev: Dataset[Ev], gap: String = "5 seconds",
                   watermark: String = "10 seconds",
                   sumExpr: String = "round(sum(value), 2)"): DataFrame =
    ev.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user"))
      .agg(count(lit(1)).as("n"), expr(sumExpr).as("s"))
      .select(col("session_window.start").as("ws"), col("user"), col("n"), col("s"))

  /** Windowed approximate quantiles on the stream — the online form of
    * the batch GK-sketch path (`ExactQuantile.approx`, reference
    * merge-percentiles `_percentile.py:151`): `approx_percentile` is a
    * mergeable partial aggregate, so it runs incrementally inside a
    * watermarked event-time window with O(accuracy) state per window —
    * never buffering the window's raw values. */
  def windowedQuantiles(ev: Dataset[Ev], ps: Seq[Double],
                        win: String = "10 seconds",
                        watermark: String = "10 seconds",
                        accuracy: Int = 1000): DataFrame =
    ev.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win))
      .agg(expr(graft.operators.ExactQuantile
          .approxPercentileExpr("value", ps, accuracy)).as("qs"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("qs"), col("n"))

  /** Stream-static enrichment: join the event stream against a static
    * dimension table (e.g. a user→segment map read once from parquet).
    * Stateless on the stream side — Spark re-plans the static side per
    * micro-batch. The default inner join is a FILTER-enrich (events with
    * no dimension match drop — the contract the spec pins); pass
    * `joinType = "left_outer"` for pass-through-with-nulls. The dim side
    * is broadcast-HINTED because an enrichment dimension is small by
    * construction; a dimension too big to broadcast belongs in the t21
    * Bloom/shuffle patterns instead. */
  def enrich(ev: Dataset[Ev], dim: DataFrame, key: String = "user",
             joinType: String = "inner"): DataFrame =
    ev.join(broadcast(dim), Seq(key), joinType)

  final case class EvId(ts: Timestamp, user: Long, id: Long)

  /** Watermarked STREAM-STREAM interval self-join — the online form of
    * the batch as-of/neighbor join family (SURVEY §2.6 item 4): each
    * event pairs with every later event of the same user inside
    * `window`. Both sides carry a watermark and the join condition
    * bounds event time in BOTH directions (`rts ∈ [lts, lts+window)`),
    * so Spark derives a finite state-retention horizon per side —
    * state is bounded by (watermark delay + window) × arrival rate,
    * never by stream length. Inner-join matches emit in the micro-batch
    * where both rows are present; the watermark exists for state
    * EVICTION, not emission, so no sentinel is needed to finalize.
    * Keyed by user: a 1000-executor cluster partitions both sides by
    * the equi-key and each executor joins only its users' slices.
    * StreamingSpec pins the eviction contract (a row arriving behind
    * the watermark finds its partners' state gone and produces no
    * pairs); the s07 gate replays the events corpus against the batch
    * range self-join.
    *
    * `joinType = "left_outer"` is the enrichment form real pipelines
    * hit constantly (r12 verdict gap #2): a left event with NO partner
    * inside its window emits ONCE with a NULL `b` — but only when the
    * watermark passes its state-eviction horizon (lts + window +
    * delay), because until then a partner could still arrive. Matched
    * rows emit eagerly exactly as inner does and are marked in state,
    * so eviction does NOT also emit a NULL twin for them (StreamingSpec
    * pins both halves). A bounded replay therefore needs a sentinel
    * (or one more batch) to push the watermark past the last real
    * event before the NULL rows surface — the s10 gate's shape. */
  def intervalJoin(ev: Dataset[EvId], window: String = "6 hours",
                   watermark: String = "12 hours",
                   joinType: String = "inner"): DataFrame =
    intervalJoinTwo(ev, ev, window, watermark, joinType)

  /** Two-stream form of [[intervalJoin]] (s11 gates the full-outer
    * flavor between an event stream and a status stream): each left
    * event pairs with the right events of the same user inside
    * `window`. `full_outer` additionally emits every UNMATCHED row of
    * EITHER side exactly once with NULLs on the other — each side's
    * NULL rows surface when the watermark passes that side's eviction
    * horizon, so a bounded replay must push BOTH streams' watermarks
    * (both sides carry their own watermark and Spark's default
    * multiple-watermark policy takes the MIN — a sentinel that enters
    * only one side leaves the other's state unflushed; the s11 gate
    * feeds one sentinel to each side). The key column coalesces across
    * sides so right-only rows still carry their user. */
  def intervalJoinTwo(lEv: Dataset[EvId], rEv: Dataset[EvId],
                      window: String = "6 hours",
                      watermark: String = "12 hours",
                      joinType: String = "inner"): DataFrame = {
    val l = lEv.toDF().selectExpr("ts AS lts", "user AS u", "id AS a")
      .withWatermark("lts", watermark)
    val r = rEv.toDF().selectExpr("ts AS rts", "user AS ru", "id AS b")
      .withWatermark("rts", watermark)
    l.join(r, expr(
        s"u = ru AND a <> b AND rts >= lts AND rts < lts + INTERVAL $window"),
        joinType)
      .select(coalesce(col("u"), col("ru")).as("u"), col("a"), col("b"))
  }

  /** Streaming END-TO-END cleaning pipeline — the online twin of the
    * batch t36 composite, chaining the same four stages over a document
    * stream in ONE continuous query: stateless QUALITY filter →
    * within-watermark exact DEDUP (the only stateful stage, keyed on
    * the 128-bit content hash and the source, evicted by watermark) →
    * broadcast DECONTAMINATION anti-join against the static eval-hash
    * table → SPLIT assignment. The dedup keys on (content hash, source) and
    * the split on the CONTENT HASH, not doc_id, so the emitted rows are
    * survivor-invariant: whichever duplicate the dedup keeps inside a
    * micro-batch, every output column (h, split, source, n_tok, q) is a
    * function of the dedup key — the property that makes the unordered
    * replay gate (s13) exact. A text that arrives from two sources is
    * kept once per source, like the batch DISTINCT (h, source, …).
    *
    * Scale: one stateful hash-partitioned operator, one broadcast,
    * everything else codegen projections. */
  def pipelineClean(docs: Dataset[SrcDoc], evalHashes: DataFrame,
                    watermark: String = "10 seconds"): DataFrame = {
    val scored = docs.toDF()
      .withColumn("h", md5(col("text")))
      .withColumn("n_tok", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
      .withColumn("q", expr("CAST(floor(10000.0D * length(replace(text, ' ', '')) " +
        "/ size(split(text, ' '))) AS BIGINT)"))
      .where("n_tok >= 20 AND q >= 35000")
    scored.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h", "source")
      .join(broadcast(evalHashes), Seq("h"), "left_anti")
      .selectExpr(
        "CASE WHEN substring(h, 1, 1) IN ('0', '1') THEN 'val' ELSE 'train' " +
          "END AS split",
        "source", "h", "n_tok", "q")
  }

  final case class AsofIn(ts: Timestamp, user: Long, id: Long, side: Int, v: Double)
  final case class AsofOut(user: Long, id: Long, ts: Timestamp, v: Option[Double])
  final case class AsofState(rights: List[(Long, Long, Double)],
                             lefts: List[(Long, Long)])

  /** Streaming AS-OF (temporal) join — the online twin of the batch
    * [[graft.operators.JoinOps.asof]] backward join, and the operator
    * Structured Streaming itself does not express (its stream-stream
    * joins bound BOTH sides by a window; an as-of match has no lower
    * bound — "the latest status, however old"). Flink ships this as the
    * temporal table join; here it is keyed `flatMapGroupsWithState`
    * over the two streams UNIONED with a side tag (side 0 = right /
    * versioned table, side 1 = left / probe), exactly the batch
    * operator's union-then-resolve shape re-expressed with state:
    *
    *  - A left row at `lts` resolves to the latest right row with
    *    `rts <= lts` (ties on rts: the larger id — the gate's right
    *    side pre-aggregation rule), but only EMITS once the watermark
    *    passes `lts` — until then an earlier-timestamped right row
    *    could still arrive and change the answer. Emission is therefore
    *    watermark-driven (the s10 NULL-path pattern) and a bounded
    *    replay needs a sentinel to flush the tail.
    *  - STATE per key is provably bounded: pending lefts live only
    *    inside the watermark delay (resolved and dropped the batch the
    *    watermark passes them); of the rights older than every pending
    *    left and the watermark, only the LATEST can ever match a future
    *    probe (any future lts ≥ watermark dominates), so exactly one
    *    survives pruning — the "current version" a temporal table
    *    retains — plus the rights inside the delay horizon. That is
    *    O(delay × rate) + O(1) per key, never stream-length.
    *  - Rows arriving with event time already BEHIND the watermark are
    *    dropped (the standard late-data contract; a late probe would
    *    otherwise resolve against already-pruned state and emit a
    *    nondeterministic answer).
    *
    * An event-time timeout flushes pending probes of keys that receive
    * no further traffic; a key with no pending probes keeps only its
    * current-version right row and sets NO timeout (retention is the
    * temporal-table contract, O(#keys) like any keyed dimension).
    * Scale: hash-partitioned by key, no global order, no cross.
    *
    * `toleranceUs` mirrors the batch operator (pandas merge_asof): a
    * match older than the bound voids to NULL at resolution — a pure
    * projection on the already-resolved row, so state bounds and
    * emission timing are unchanged (a stale version still occupies the
    * current-version slot; it just stops attaching). */
  def asofJoin(in: Dataset[AsofIn], watermark: String = "12 hours",
               toleranceUs: Option[Long] = None): Dataset[AsofOut] =
    asofResolve(in, watermark, backward = true, toleranceUs, horizonUs = 0L)

  /** Streaming FORWARD as-of join — "the first right row at or after
    * each probe", bounded by `horizonUs` (the batch forward direction
    * needs no bound; a stream does, because an unbounded forward match
    * could keep a probe pending forever — the horizon is what makes the
    * operator's state and latency finite, and it doubles as j05's
    * tolerance: a first-match farther than the horizon IS no match).
    * A probe emits once the watermark passes `lts + horizon` (no
    * earlier right can arrive after that); its match is the EARLIEST
    * right in `[lts, lts + horizon]`, ties on rts to the larger id
    * (the gates' max_by pre-aggregation rule). Rights prune below the
    * earliest still-relevant instant OUTRIGHT — forward never reaches
    * back, so no current-version retention: state is
    * O((delay + horizon) × rate) per key, period. */
  def asofJoinForward(in: Dataset[AsofIn], horizonUs: Long,
                      watermark: String = "12 hours"): Dataset[AsofOut] = {
    require(horizonUs > 0, s"forward as-of needs a positive horizon, got $horizonUs")
    asofResolve(in, watermark, backward = false, toleranceUs = None, horizonUs)
  }

  /** Streaming NEAREST as-of join — whichever of the backward match
    * (unbounded lookback, the [[asofJoin]] shape) and the forward match
    * (bounded by `horizonUs`, the [[asofJoinForward]] shape) is closer
    * in event time; an exact tie takes the BACKWARD row (pandas
    * merge_asof). The asymmetry is inherent to streams: looking back is
    * free (the current version is already in state), looking forward
    * must be bounded or a probe could pend forever — so "nearest"
    * here means nearest of {latest at-or-before, earliest within the
    * forward horizon}, which is the operational form a live enrichment
    * actually wants. Emission when the watermark passes `lts +
    * horizon` (both candidates settled); state = the union of the two
    * parents' shapes: pending probes + rights down to the reigning
    * current version. */
  def asofJoinNearest(in: Dataset[AsofIn], horizonUs: Long,
                      watermark: String = "12 hours"): Dataset[AsofOut] = {
    require(horizonUs > 0, s"nearest as-of needs a positive forward horizon")
    asofResolve(in, watermark, backward = true, toleranceUs = None, horizonUs)
  }

  /** The one keyed-state machine behind the three as-of joins, set by
    * which candidates a probe at `lus` has:
    *
    *  - `backward`: the latest right with `rts <= lus` (ties to the
    *    larger id), voided when older than `toleranceUs`;
    *  - `horizonUs > 0`: the earliest right in `(lus, lus + horizon]`
    *    (ties to the larger id); the lower bound is inclusive when there
    *    is no backward side, since a simultaneous right is otherwise the
    *    backward row. With both, the closer wins and a tie goes back.
    *
    * The rest follows. A probe is ready once the watermark is strictly
    * past `lus + horizon` (a right at exactly the watermark may still
    * arrive), and a key with pending probes times out at the earliest
    * such instant. Rights below every pending probe and the watermark
    * drop, except that a backward side keeps the latest of them: the
    * current version any future probe can still reach back to. */
  private def asofResolve(in: Dataset[AsofIn], watermark: String,
      backward: Boolean, toleranceUs: Option[Long],
      horizonUs: Long): Dataset[AsofOut] = {
    import in.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    def us(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    val latest = Ordering.by((r: (Long, Long, Double)) => (r._1, r._2))
    val earliest = Ordering.by((r: (Long, Long, Double)) => (r._1, -r._2))
    // with a backward side, a simultaneous right is the backward row
    val fwdFrom = if (backward) 1L else 0L
    in.withWatermark("ts", watermark)
      .groupByKey(_.user)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          var st = state.getOption.getOrElse(AsofState(Nil, Nil))
          if (!state.hasTimedOut) {
            val live = rows.filter(r => r.ts.getTime >= wm).toList
            st = AsofState(
              st.rights ++ live.collect { case r if r.side == 0 => (us(r.ts), r.id, r.v) },
              st.lefts ++ live.collect { case r if r.side == 1 => (us(r.ts), r.id) })
          }
          val (ready, pending) = st.lefts.partition(l =>
            Math.floorDiv(l._1 + horizonUs, 1000L) < wm)
          val out = ready.sortBy(l => (l._1, l._2)).map { case (lus, id) =>
            val back =
              if (!backward) None
              else st.rights.filter(_._1 <= lus).maxOption(latest)
                .filter(r => toleranceUs.forall(lus - r._1 <= _))
            val fwd =
              if (horizonUs == 0L) None
              else st.rights.filter(r => r._1 >= lus + fwdFrom && r._1 <= lus + horizonUs)
                .minOption(earliest)
            val m = (back, fwd) match {
              case (Some(b), Some(f)) => if (lus - b._1 <= f._1 - lus) back else fwd
              case _ => back.orElse(fwd)
            }
            AsofOut(user, id, new Timestamp(Math.floorDiv(lus, 1000L)), m.map(_._3))
          }
          val horizonLow = (wm * 1000 :: pending.map(_._1)).min
          val (hi, lo) = st.rights.partition(_._1 >= horizonLow)
          val current = if (backward) lo.maxOption(latest).toList else Nil
          state.update(AsofState(current ++ hi, pending))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(Math.floorDiv(pending.map(_._1).min + horizonUs, 1000L), wm) + 1)
          out.iterator
      }
  }

  final case class SigDoc(ts: Timestamp, doc_id: Long, band: Int, bh: Long, sig: Long)
  final case class CandPair(a: Long, b: Long, ham: Int)

  /** Streaming NEAR-duplicate candidate detection — the online half of
    * the batch LSH pipeline (t06/t11): documents arrive with their band
    * bucket (band, bh) and signature (e.g. simhash); each doc pairs with
    * the ≤ `w` most recent docs in its bucket and reports the exact
    * Hamming distance. State per bucket is a bounded `w`-deep list (the
    * streaming twin of the batch sorted-neighborhood window — the same
    * O(n·w) pair bound a 100 TB ingest needs), evicted by event-time
    * timeout once the watermark passes `evictAfterMs` beyond the bucket's
    * last arrival — state can never grow with stream length. A pair that
    * collides in several bands can be emitted once per band; downstream
    * consumers dedup exactly like the batch pipeline's DISTINCT. */
  def nearDupCandidates(docs: Dataset[SigDoc], w: Int = 8,
                        watermark: String = "10 seconds",
                        evictAfterMs: Long = 30000L): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    docs.withWatermark("ts", watermark)
      .groupByKey(d => (d.band, d.bh))
      .flatMapGroupsWithState[List[(Long, Long)], CandPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var recent = state.getOption.getOrElse(Nil) // newest first, ≤ w
            val out = List.newBuilder[CandPair]
            var maxTs = 0L
            // arrival order within the batch: event time, then id — makes
            // the emitted pair set deterministic for a given batch split
            rows.toSeq.sortBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
              recent.foreach { case (id, sig) =>
                if (id != d.doc_id)
                  out += CandPair(math.min(id, d.doc_id), math.max(id, d.doc_id),
                    java.lang.Long.bitCount(sig ^ d.sig))
              }
              recent = ((d.doc_id, d.sig) :: recent).take(w)
              maxTs = math.max(maxTs, d.ts.getTime)
            }
            state.update(recent)
            // Spark requires the timeout to sit strictly beyond the current
            // watermark (IllegalArgumentException fails the whole stream
            // otherwise) — reachable whenever evictAfterMs < the watermark
            // delay, both caller-chosen. Clamp to watermark + 1 ms.
            state.setTimeoutTimestamp(
              math.max(maxTs + evictAfterMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  final case class Vec(ts: Timestamp, vec_id: Long, embedding: Array[Float])

  /** Stateless streaming k-means assignment — the online scoring half of
    * the batch e13 Lloyd trainer: the SAME integer quantization and the
    * SAME centroid-literal scoring cascade
    * ([[graft.operators.EmbeddingQueries.kmeansQuantizeSql]]/
    * `kmeansScoreSqls`/`kmeansCaseSql`, `graft_dot` inside codegen), so
    * a vector lands in exactly the cluster the batch assignment gives
    * it. No state, no watermark, any parallelism — the standard serving
    * shape once the (tiny) centroid model is trained offline.
    *
    * PARITY CONTRACT for the model-based pipelines (k-means e13, PQ
    * codebooks e14, IVF-PQ e15): TRAINING is deliberately batch-only.
    * Lloyd/PQ training iterates global synchronous passes over the full
    * corpus — a barrier-per-iteration shape that Structured Streaming's
    * incremental micro-batch model does not express (a streamed
    * "training" would be a different algorithm — online/mini-batch
    * k-means — with different convergence, silently diverging from the
    * batch oracle). SERVING is where streams exist, and each trained
    * model has its streaming twin here: assignVectors (e13),
    * [[searchVectors]] (e14/e15 IVF-PQ ADC scoring), [[classifyDocs]]
    * (t23) — all stateless, all replaying the batch SQL kernels
    * verbatim, so online scores match the batch gates bit-for-bit. */
  def assignVectors(vecs: Dataset[Vec],
                    cent: Seq[(Long, Array[Long])]): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    import graft.operators.EmbeddingQueries.{kmeansCaseSql, kmeansQuantizeSql, kmeansScoreSqls}
    vecs.toDF()
      // a null or wrong-length vector would NULL every score and the CASE
      // cascade would silently hand it the LAST centroid — reject it here
      // instead of mislabeling it (the model's own dimensionality is the
      // contract, whatever the corpus width)
      .where(s"embedding IS NOT NULL AND size(embedding) = ${cent.head._2.length}")
      .selectExpr("ts", "vec_id", kmeansQuantizeSql)
      .selectExpr("ts", "vec_id", "transform(p, x -> CAST(x AS DOUBLE)) AS pD")
      .selectExpr(Seq("ts", "vec_id") ++ kmeansScoreSqls(cent): _*)
      .selectExpr("ts", "vec_id", s"${kmeansCaseSql(cent)} AS c")
  }

  final case class SearchHit(qid: Long, vec_id: Long, adc: Double, rn: Int)

  /** Streaming IVF-PQ SERVING — the online half of the batch e15 search.
    * The trained model rides the plan as literals: each arriving query
    * coarse-assigns to its nearest centroid via a stateless CASE cascade
    * (highest cosine, ties to the earliest entry — `cent` must be sorted
    * by label to match the batch row_number tie-break), then a
    * stream-static broadcast join attaches ONLY the probed cell's PQ
    * codes and the shared ADC kernel
    * ([[graft.operators.EmbeddingQueries.adcScoreSql]]) scores them.
    * Per-query top-k emits through a STATELESS `flatMapGroupsWithState`
    * (NoTimeout, state never set): all of a query's candidates arrive in
    * its own micro-batch from the stream-static join, so nothing is
    * retained across batches — the serving path is replayable and
    * unbounded-safe. At scale the static side is the compressed code
    * table (16× smaller than the vectors), broadcast once per batch. */
  def searchVectors(queries: Dataset[Vec],
                    codes: DataFrame, // static: label, vec_id, c0..c7
                    cent: Seq[(Long, Array[Double])],
                    k: Int = 3): Dataset[SearchHit] = {
    val sp = queries.sparkSession
    graft.functions.GraftFunctions.register(sp)
    import sp.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val cdCols = cent.zipWithIndex.map { case ((_, m), i) =>
      val lit = m.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
      s"round(graft_dot(qe, $lit), 4) AS cd$i"
    }
    val cases = (0 until cent.size - 1).map { i =>
      val rest = (i + 1 until cent.size).map(j => s"cd$j")
      val bound = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(", ")})"
      s"WHEN cd$i >= $bound THEN CAST(${cent(i)._1} AS BIGINT)"
    }.mkString(" ")
    // one cell → zero WHEN clauses, which the SQL parser rejects
    val labelSql =
      if (cent.size == 1) s"CAST(${cent.head._1} AS BIGINT) AS label"
      else s"CASE $cases ELSE CAST(${cent.last._1} AS BIGINT) END AS label"
    val assigned = queries.toDF()
      // reject malformed query vectors: NULL scores would otherwise fall
      // through the cascade (or ANSI-error inside the ADC element_at)
      // and kill the stream instead of skipping the one bad query
      .where(s"embedding IS NOT NULL AND size(embedding) = ${cent.head._2.length}")
      .selectExpr(Seq("vec_id AS qid", "embedding AS qe") ++ cdCols: _*)
      .selectExpr("qid", "qe", labelSql)
    assigned
      .join(org.apache.spark.sql.functions.broadcast(codes), Seq("label"))
      .where("vec_id <> qid")
      .selectExpr("qid", "vec_id",
        s"round(${graft.operators.EmbeddingQueries.adcScoreSql}, 4) AS adc")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, SearchHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (qid, it, _) =>
          it.toSeq.sortBy(t => (-t._3, t._2)).take(k).zipWithIndex
            .map { case ((_, vid, adc), i) => SearchHit(qid, vid, adc, i + 1) }
            .iterator
      }
  }

  /** Stateless per-doc scoring twin of the batch t02 (quality) + t04
    * (langid) queries: pure codegen'd projections — no state, no
    * watermark, any parallelism — built from the SAME kernel text
    * ([[graft.operators.TextQueries.qualitySqls]]/`langidSql`), so a
    * document scores bit-identically whether it arrives in a batch
    * corpus or on a stream. */
  def scoreDocs(docs: Dataset[Doc]): DataFrame =
    docs.selectExpr(Seq("ts", "doc_id") ++
      graft.operators.TextQueries.qualitySqls :+
      s"${graft.operators.TextQueries.langidSql} AS pred": _*)

  final case class DocScore(doc_id: Long, score: Long, keep: Boolean)

  /** Streaming quality-classifier inference — the online half of the
    * batch t23 filter: the SAME trigram signature kernel
    * ([[graft.functions.TextSig.sig]]) and the SAME hashing-trick weight
    * formula, folded per document inside a stateless mapPartitions — so
    * a document scores (and keeps) identically whether it arrives in a
    * batch corpus or on a stream. All-integer arithmetic; no state, no
    * watermark, any parallelism. */
  def classifyDocs(docs: Dataset[Doc]): Dataset[DocScore] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions(_.map { d =>
      val dhl = graft.functions.TextSig.sig(d.doc_id, d.text).dhl
      var s = 0L
      var i = 0
      while (i < dhl.length) {
        s += (dhl(i) % 1024) * 2654435761L % 13 - 6 // = t23's SQL weight
        i += 1
      }
      DocScore(d.doc_id, s, s > 0)
    })
  }

  /** Streaming decontamination — the online half of the batch t14
    * pipeline: drop arriving documents whose content hash appears in a
    * static benchmark/eval set. A stream-static broadcast LEFT ANTI join:
    * stateless on the stream side, the (bounded) eval hash set re-plans
    * per micro-batch and broadcasts — no streaming state at all, so it
    * composes freely ahead of the stateful dedup/near-dup stages. */
  def filterContaminated(docs: Dataset[Doc], evalHashes: DataFrame): DataFrame =
    docs.withColumn("h", md5(col("text")))
      .join(broadcast(evalHashes.select(col("h"))), Seq("h"), "left_anti")
      .select(col("ts"), col("doc_id"), col("text"))

  /** Streaming decontamination when the eval set is too large to
    * broadcast exactly — the online twin of the batch t21 Bloom pass
    * ([[graft.functions.Bloom]]). The pre-built blob is a LITERAL in the
    * stream's plan (no per-batch re-plan, no streaming state): definite
    * negatives pass with zero join work; only the fpp-sized might-contain
    * sliver takes the stream-static exact confirm anti-join against the
    * full eval keys. Result stays EXACT — same contract as the batch
    * pass, at sketch cost per event. */
  def filterContaminatedBloom(docs: Dataset[Doc], bloomBlob: Array[Byte],
                              evalTexts: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val might =
      call_function("graft_bloom_might", lit(bloomBlob), xxhash64(col("text")))
    // NULL text takes the clean branch: xxhash64 is NON-nullable (a NULL
    // input leaves the fold at its seed), so without the explicit guard a
    // NULL train text and a NULL eval text would hash EQUAL and the pair
    // join would drop rows the exact twin keeps (a NULL key never matches
    // an eval key under SQL join semantics)
    val clean = docs.toDF().where(col("text").isNull || !might)
    // confirm join keyed on the two-seed 128-bit hash pair, never the
    // raw text — same keying contract as the batch
    // [[graft.functions.Bloom.decontaminate]] (an exchange carrying the
    // document text moves ~corpus bytes; the pair moves 16 bytes/row)
    val h1 = xxhash64(col("text"))
    val h2 = xxhash64(lit("graft2"), col("text"))
    val confirmed = docs.toDF().where(col("text").isNotNull && might)
      .withColumn("_gbh1", h1).withColumn("_gbh2", h2)
      .join(evalTexts.where(col("text").isNotNull)
        .select(xxhash64(col("text")).as("_gbh1"),
          xxhash64(lit("graft2"), col("text")).as("_gbh2")).distinct(),
        Seq("_gbh1", "_gbh2"), "left_anti")
      .select(clean.columns.toIndexedSeq.map(col): _*)
    clean.unionByName(confirmed)
  }

  /** Streaming source-mixture resampling — the online twin of the batch
    * t19 domain-reweighting sampler. The keep decision is the same
    * position-keyed LCG coin against a per-source rate, so it is
    * STATELESS (a pure row filter: no watermark, no keyed state, no
    * shuffle) and gives bit-identical keep sets to the batch pass over
    * the same ids — replaying a stream reproduces the sample. */
  def mixtureSample(docs: Dataset[SrcDoc], rates: Map[String, Double],
                    defaultRate: Double = 1.0): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(col("source") === src, lit(r)).otherwise(acc)
    }
    // reduce doc_id mod 2^31 BEFORE the multiply: same u for every id
    // below the old formula's overflow point (modular arithmetic), and
    // no Long overflow (ANSI error / negative wrapped u that would leak
    // rows past rate=0) for ids beyond it — the regime a stream lives in
    docs.withColumn("u",
        expr("((1103515245 * (doc_id % 2147483648) + 12345) % 2147483648)" +
          " / 2147483648.0"))
      .where(col("u") < rate)
      .select(col("ts"), col("doc_id"), col("source"))
  }

  /** Streaming DSIR scoring — the serving half of the batch t32
    * importance-selection pipeline. The 64-entry micro-nat log-ratio
    * table is TRAINED offline (batch t32's two metadata-sized
    * aggregates) and rides the plan as an array literal; scoring is then
    * a pure per-row fold over the document's tokens — STATELESS: no
    * explode, no shuffle, no state store, so any batch boundary or
    * partitioning yields bit-identical integer weights to the batch
    * pass (spec-asserted against an independent in-test fold). At scale
    * this is the online filter in front of an ingest pipeline: score
    * each arriving doc, keep those over a trained threshold. The array
    * literal deliberately stays ARRAY-typed (it rides the codegen
    * references array; a scalar `element_at(typedLit, i)` would
    * constant-fold and recompile per plan — the e14 lesson). */
  def dsirScore(docs: Dataset[Doc], lr: Array[Long]): DataFrame = {
    require(lr.length == 64, s"lr table must have 64 buckets, got ${lr.length}")
    docs.toDF()
      .withColumn("_lr", typedLit(lr))
      .withColumn("dsir_weight",
        expr("""aggregate(
                  filter(split(text, ' '), t -> t != ''),
                  CAST(0 AS BIGINT),
                  (acc, t) -> acc + element_at(
                    _lr, CAST(pmod(length(t) * 31 + ascii(t), 64) AS INT) + 1))"""))
      .select(col("ts"), col("doc_id"), col("dsir_weight"))
  }

  final case class DsirTop(g: Int, ver: Long, rn: Int, doc_id: Long, w: Long)

  /** Streaming DSIR top-K SELECTION — the selection half that completes
    * [[dsirScore]]'s train-batch/serve-stream story (the scorer is
    * stateless; choosing the K best docs needs running state). The t30
    * tournament pattern applied to t32's weights: documents are salted
    * into `groups` buckets, each bucket's flatMapGroupsWithState keeps
    * its own K best (weight desc, doc_id asc) — O(K) state per group
    * FOREVER, no watermark needed, because a top-K only improves and
    * "late" data is incorporated exactly, never dropped. A group
    * re-emits its full K-list only when a batch changed it, tagged with
    * a version; the max-version rows per group are its current list,
    * and the global top-K is the K best of the groups' lists (every
    * global winner is in its group's top-K since per-group K = global
    * K). Batch-order invariant by construction — the final state is the
    * top-K of a SET — so the s08 gate replays it unordered against the
    * batch t32 selection. At 100 TB: per-group state is K rows, the
    * stream shuffles only (g, doc_id, w) triples, and the final merge
    * reads groups×K rows. */
  def dsirTopK(docs: Dataset[Doc], lr: Array[Long], k: Int = 25,
               groups: Int = 8): Dataset[DsirTop] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    dsirScore(docs, lr)
      .selectExpr(s"CAST(pmod(doc_id, $groups) AS INT) AS g",
        "doc_id", "dsir_weight")
      .as[(Int, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, List[(Long, Long)]), DsirTop](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) { case (g, it, state) =>
        val (ver, old) = state.getOption.getOrElse((0L, Nil))
        // stored as (-w, doc_id): the natural tuple order IS the rank
        // order (weight desc, doc_id asc), same trick as hashSample
        val best = (old ++ it.map { case (_, id, w) => (-w, id) })
          .distinct.sorted.take(k)
        if (best == old) Iterator.empty
        else {
          state.update((ver + 1, best))
          best.iterator.zipWithIndex.map { case ((nw, id), i) =>
            DsirTop(g, ver + 1, i + 1, id, -nw)
          }
        }
      }
  }

  /** Stateless streaming BPE APPLICATION — the serving half of the
    * batch t33 trainer (the shape every ingest pipeline needs: train
    * the merge table offline, tokenize documents as they arrive). The
    * trained merges ride the plan as ONE array-typed literal (the e14
    * lesson — compile-stable, broadcast by the references array) and
    * each document tokenizes locally: per lowercase-alpha word, the
    * same padded-double-space fold the trainer uses, so a document's
    * piece counts equal the batch application bit-for-bit (the s09
    * gate replays this against a DuckDB re-train + re-encode). No
    * state, no shuffle, no watermark — any batch boundary or
    * parallelism yields identical rows. Emits (doc_id, n_words,
    * n_pieces) for documents with at least one encodable word. */
  def bpeEncode(docs: Dataset[Doc], merges: Seq[(String, String)]): DataFrame =
    docs.toDF()
      .selectExpr("ts", "doc_id",
        "filter(split(text, ' '), w -> w RLIKE '^[a-z]+$') AS ws")
      .where("size(ws) > 0")
      .withColumn("_m", typedLit(merges))
      .selectExpr("ts", "doc_id", "CAST(size(ws) AS BIGINT) AS n_words",
        "CAST(aggregate(transform(ws, w -> size(split(trim(aggregate(_m, " +
          graft.operators.TextQueries.bpeBaseSql +
          ", (acc, m) -> replace(acc, m._1, m._2))), '  '))), " +
          "0, (a, x) -> a + x) AS BIGINT) AS n_pieces")

  final case class SampleRow(source: String, ver: Long, rn: Long,
                             doc_id: Long, u: Long)

  /** Streaming twin of the batch t30 deterministic sampler: per source,
    * maintain the K smallest (u, doc_id) coins seen so far — O(K) state
    * per source forever, no watermark (the sample only improves toward
    * smaller coins, so "late" data is incorporated exactly, never
    * dropped). A group re-emits its sample only when a batch CHANGED it,
    * tagged with a per-group version; the max-version rows per source
    * are the current sample and converge to the batch t30 result once
    * the stream drains — same coin, same (u, doc_id) tie-break, same K
    * (spec-asserted against an in-test oracle). The batch plan's
    * threshold pre-filter has no streaming analogue to pay for: the
    * stream IS one pass, and the per-group tournament does the
    * bounding. */
  def hashSample(docs: Dataset[SrcDoc], k: Int = 5): Dataset[SampleRow] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    docs
      .map(d => (d.source, d.doc_id,
        (1103515245L * (d.doc_id % 2147483648L) + 12345L) % 2147483648L))
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, List[(Long, Long)]), SampleRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) { case (src, it, state) =>
        val (ver, old) = state.getOption.getOrElse((0L, Nil))
        val best = (old ++ it.map { case (_, id, u) => (u, id) })
          .distinct.sorted.take(k)
        if (best == old) Iterator.empty
        else {
          state.update((ver + 1, best))
          best.iterator.zipWithIndex.map { case ((u, id), i) =>
            SampleRow(src, ver + 1, i + 1L, id, u)
          }
        }
      }
  }

  /** Streaming cross-corpus span dedup — the online half of the batch t20
    * C4 repeated-span filter: explode disjoint token spans, keep ONE
    * occurrence per span and drop repeats. `dropDuplicatesWithinWatermark`
    * on the span hash bounds the keyed state to the watermark horizon (the
    * honest streaming trade: a repeat farther apart than the horizon is
    * kept — batch t20 is the exact pass). Second honest trade: the
    * SURVIVOR is whichever duplicate a partition processes first — across
    * micro-batches that is arrival order, but within one micro-batch it is
    * arbitrary under partitioning, unlike batch t20's deterministic
    * min-key rule (deterministic streaming survivors would need a total
    * per-span ordering, i.e. a sort, before the dedup state). The KEPT-SET
    * semantics — one survivor per span — match the batch pass either way.
    * Hash-partitioned by span hash. Emits surviving (doc_id, p) slots. */
  def spanDedupStream(docs: Dataset[Doc], spanTokens: Int = 8,
                      watermark: String = "10 seconds"): DataFrame =
    docs.selectExpr("ts", "doc_id", "split(text, ' ') AS toks")
      .selectExpr("ts", "doc_id",
        s"posexplode(transform(sequence(0, CAST(ceil(size(toks) / $spanTokens.0) AS INT) - 1), " +
          s"p -> concat_ws(' ', slice(toks, p * $spanTokens + 1, $spanTokens)))) AS (p, span)")
      .where("length(span) > 0")
      .withColumn("h", md5(col("span")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h")
      .select(col("ts"), col("doc_id"), col("p"))

  /** Keyed running totals via mapGroupsWithState — the streaming analogue
    * of the batch cumulative reduction: per-key state is the reduction
    * buffer (total, n), merged exactly like `Aggregator.merge`. On an
    * unbounded key space one buffer per ever-seen key grows forever, so
    * `idleTimeout` (processing-time) evicts a key's buffer after it goes
    * quiet — the total restarts from zero if the key returns, the
    * standard trade for keyed running state. The default stays `None`
    * (state for the query's lifetime — bounded key spaces): a registered
    * processing-time timeout makes the engine run continuous empty
    * micro-batches to advance the timeout clock, which is correct on a
    * production trigger but spins a test harness's
    * `processAllAvailable`; opt in for unbounded-key production streams.
    *
    * Eviction EMITS the key's final total once more: the timeout branch
    * below re-outputs the (unchanged) UserTotal as it drops the state,
    * so downstream sees a duplicate row that is indistinguishable from a
    * fresh update. Consumers that must tell them apart should keep the
    * last-seen `n` per key (an eviction record repeats it verbatim);
    * suppressing the emission instead would silently lose the final
    * total of any key whose last batch preceded the timeout. */
  def runningTotals(ev: Dataset[Ev],
                    idleTimeout: Option[String] = None): Dataset[UserTotal] = {
    import ev.sparkSession.implicits._
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    ev.groupByKey(_.user)
      .mapGroupsWithState[(Double, Long), UserTotal](timeoutConf) {
        (user: Long, rows: Iterator[Ev], state: GroupState[(Double, Long)]) =>
          if (state.hasTimedOut) {
            val (t, n) = state.getOption.getOrElse((0.0, 0L))
            state.remove()
            UserTotal(user, math.round(t * 100).toDouble / 100, n)
          } else {
            val (t0, n0) = state.getOption.getOrElse((0.0, 0L))
            var t = t0; var n = n0
            rows.foreach { e => t += e.value; n += 1 }
            state.update((t, n))
            idleTimeout.foreach(state.setTimeoutDuration)
            UserTotal(user, math.round(t * 100).toDouble / 100, n)
          }
      }
  }

  final case class GopherSignal(doc_id: Long, top2_share: Double,
                                dup5_share: Double, keep: Boolean)

  /** UTF-8 binary string order — what Spark's UTF8_BINARY collation
    * compares. Java's String.compareTo orders by UTF-16 code UNIT,
    * which disagrees beyond the BMP (a surrogate pair sorts before
    * U+E000.. in UTF-16 but after it in UTF-8 bytes), so a
    * compareTo-based tie-break would silently diverge from the batch
    * gate on non-BMP text. */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Streaming Gopher n-gram repetition signals — the stateless online
    * twin of the batch t26 gate: each document computes its own
    * top-2-gram and duplicate-5-gram character shares locally (no
    * state, no shuffle, any parallelism). The kernel mirrors the batch
    * SQL exactly — `split(text, ' ')` keeps trailing empties
    * (`split(" ", -1)`, matching Spark SQL's limit=-1), char counts are
    * CODE POINTS (what SQL `length()` returns — NOT `String.length`'s
    * UTF-16 units, which diverge on non-BMP text), the tie-break
    * is (count desc, gram asc), and rounding is BigDecimal HALF_UP at 6
    * places (what Spark's `round` does) — so online signals equal the
    * batch gate bit-for-bit (spec-asserted). Documents with fewer than
    * two tokens produce no signal, as in the batch query. */
  def gopherSignals(docs: Dataset[Doc]): Dataset[GopherSignal] = {
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
      val toks = d.text.split(" ", -1)
      // Spark SQL length() counts CODE POINTS; String.length counts
      // UTF-16 code units — they disagree on any non-BMP text (emoji
      // are routine in web corpora), and the shares would drift (and
      // the keep flag could flip near a threshold). codePointCount on
      // both the doc and every gram keeps the parity bit-exact.
      def cp(x: String): Long = x.codePointCount(0, x.length).toLong
      val chars = cp(d.text).toDouble
      def share(x: Double): Double =
        BigDecimal(x / chars).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (toks.length < 2) Iterator.empty
      else {
        val c2 = scala.collection.mutable.HashMap.empty[String, Long]
        var i = 0
        while (i < toks.length - 1) {
          val g = toks(i) + " " + toks(i + 1)
          c2(g) = c2.getOrElse(g, 0L) + 1; i += 1
        }
        // (count desc, gram asc in UTF-8 BINARY order) — see utf8Less
        val (topG, topC) = c2.foldLeft(("", -1L)) {
          case (best @ (bg, bc), (g, c)) =>
            if (c > bc || (c == bc && utf8Less(g, bg))) (g, c) else best
        }
        val top2 = share((topC * cp(topG)).toDouble)
        val c5 = scala.collection.mutable.HashMap.empty[String, Long]
        i = 0
        while (i < toks.length - 4) {
          val g = toks.slice(i, i + 5).mkString(" ")
          c5(g) = c5.getOrElse(g, 0L) + 1; i += 1
        }
        val dupChars = c5.iterator.collect {
          case (g, c) if c > 1 => c * cp(g)
        }.sum
        val dup5 = if (dupChars == 0) 0.0 else share(dupChars.toDouble)
        Iterator.single(GopherSignal(d.doc_id, top2, dup5,
          top2 < 0.20 && dup5 < 0.15))
      }
    }
  }

  /** Streaming TileDB sink: every micro-batch commits as its own
    * timestamped fragment — the store's multi-fragment model IS the
    * streaming contract, with no extra machinery:
    *
    *  - ATOMICITY: a fragment becomes visible only when its commit
    *    marker lands (written last), so readers never see a half-written
    *    batch — a crashed batch leaves only invisible litter.
    *  - EXACTLY-ONCE ON RESTART: foreachBatch replays a failed batch
    *    under the SAME batchId; fragment names derive deterministically
    *    from (ts = batchId + 1, block), so the retry overwrites its own
    *    partial fragments instead of duplicating data.
    *  - UPSERT: ts grows with batchId, so where batches overlap, the
    *    later batch's cells shadow the earlier ones at read time.
    *
    * Each batch claims the DENSE subarray [min(idx), max(idx)] it
    * touches (a TileDB dense write defines every cell of its subarray —
    * in-span gaps densify to the schema fill). That is exactly right for
    * the common append stream (each batch a fresh contiguous range) and
    * for contiguous-region upserts; scattered point updates would claim
    * the whole min..max span, by the format's own dense-write contract.
    * The array (schema) must exist — `TileDb.createArray` first. */
  def tiledbSink(el: DataFrame, uri: String, blockCells: Long = 1L << 20)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    el.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // persist: the bounds agg and the fragment write both consume
        // the batch — without it the upstream plan executes twice
        val cached = batch.persist()
        try {
          val mm = cached.agg(min("idx"), max("idx")).head()
          if (!mm.isNullAt(0))
            graft.sources.TileDb.write(cached.toDF(), uri, ts = batchId + 1,
              lo = mm.getLong(0), hi = mm.getLong(1), blockCells = blockCells)
        } finally cached.unpersist()
    }
}
