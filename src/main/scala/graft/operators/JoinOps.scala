package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The two range-flavored join operators the engine's equi-join surface
  * (SURVEY §2.6) did not yet name as first-class calls: backward AS-OF
  * join and bounded-interval RANGE join. Spark has no native form of
  * either; both are realized as SHAPES over existing operators (the
  * brief's preference order: compose before custom plans), and both are
  * chosen for the 100 TB case:
  *
  *  - `asof` never range-scans: it is ONE union + ONE keyed window
  *    (single shuffle on the join key; per-partition sort, no
  *    data-sized global sort, no per-row subquery, no O(n·m) pair
  *    blow-up even when many left rows share a key).
  *  - `rangeJoin` never goes per-key quadratic: the bounded width W
  *    buckets time into W-sized bands, the right side explodes to its
  *    band and the band below, and the join is a plain equi-shuffle on
  *    (key, band) + an exact residual filter — the classic banding
  *    rewrite of `l.ts <= r.ts < l.ts + W` (each qualifying pair meets
  *    exactly one band key, so no dedup pass is needed).
  */
object JoinOps {

  /** Internal column names the two join shapes materialize; caller
    * frames must not already use them (r12 ADVICE: unguarded overlaps
    * surfaced as an AnalysisException at best, a silently shadowed
    * output column at worst). */
  private val asofInternal = Seq("_ts", "_side", "_p", "_b", "_f")
  private val rangeInternal = Seq("_lus", "_rus", "_band", "_rk", "_idchk")

  /** Event time in its own numeric space: TIMESTAMP via unix_micros,
    * TIMESTAMP_NTZ cast to TIMESTAMP first (unix_micros rejects NTZ;
    * the cast reads the wall clock in the session zone — both sides of
    * every comparison cast identically, and the gates' sessions pin
    * UTC), plain numerics as themselves. */
  private def micros(dt: org.apache.spark.sql.types.DataType)(c: Column): Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(c)
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))
      case _ => c
    }

  /** As-of join: for every left row, attach the payload of the matching
    * right row with the same `key`, where "matching" is per `direction`
    * (NULL payloads when no right row qualifies — LEFT semantics):
    *
    *  - `backward` (default): most recent right row with rts <= lts
    *  - `forward`: earliest right row with rts >= lts
    *  - `nearest`: whichever of the two is closer in |rts − lts|;
    *    an exact tie takes the BACKWARD row (pandas merge_asof's rule)
    *
    * Implementation: tag rows with a side ordinal, union, and resolve
    * the match with per-key WINDOW functions ordered by (ts, side) —
    * never a range scan or per-row subquery. Backward = `last(payload,
    * ignoreNulls)` over the preceding frame with right rows sorting
    * BEFORE left at equal timestamps (so a simultaneous right row is
    * visible — DuckDB's `l.ts >= r.ts`). Forward = `last(payload,
    * ignoreNulls)` over the RUNNING frame of the REVERSED (ts DESC,
    * side DESC) order — value-identical to `first` over the following
    * frame with right rows sorting AFTER left at equal timestamps
    * (`l.ts <= r.ts`), but O(rows) per key where Spark executes an
    * UnboundedFollowing frame in O(rows²) (see the inline note).
    * Nearest = both running frames — one ascending, one descending —
    * over ONE exchange (the second Window re-sorts, never reshuffles) —
    * with the right event time carried inside the payload struct for
    * the distance compare; the simultaneous-row case needs no special
    * handling because its backward distance is 0.
    *
    * The payloads travel as ONE STRUCT so the attached values always
    * come from a single right ROW — folding `last(ignoreNulls)` over
    * each payload column separately would skip a NULL field and reach
    * back to an OLDER right row for just that column, silently
    * assembling a torn row no engine's ASOF would produce. One struct ⇒
    * one window expression per direction ⇒ one exchange + one sort
    * regardless of payload width (JoinOpsSpec pins the plan shape for
    * all three directions).
    *
    * `toleranceUs` (pandas merge_asof's tolerance) voids a match whose
    * event-time distance exceeds the bound — applied AFTER resolution,
    * so it is a pure projection on the same single-exchange plan (a
    * stale quote attaches as NULL, exactly as if no quote existed). In
    * micros for timestamp `ts`; in the column's own units otherwise.
    *
    * DETERMINISM CONTRACT: (key, ts) must be unique on the RIGHT side —
    * two simultaneous right rows would make "the matching payload"
    * ill-defined in any engine (DuckDB's ASOF picks one arbitrarily).
    * Pre-aggregate the right side (e.g. max_by) to enforce it; the
    * j01/j03/j04/j05 gates do. */
  def asof(left: DataFrame, right: DataFrame, key: String, ts: String,
           payloads: Seq[String], direction: String = "backward",
           toleranceUs: Option[Long] = None): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asof direction must be backward/forward/nearest, got $direction")
    val taken = (left.columns ++ right.columns).toSet
    val clash = asofInternal.filter(taken)
    require(clash.isEmpty,
      s"asof reserves internal column names ${clash.mkString(", ")} — rename them first")
    val leftOthers = left.columns.toSeq.filterNot(c => c == key || c == ts)
    val pClash = payloads.intersect(key +: ts +: leftOthers)
    require(pClash.isEmpty,
      s"payload columns ${pClash.mkString(", ")} collide with retained left columns — alias them first")
    // the right event time rides INSIDE the struct (field "_ts") so the
    // nearest rule can compare distances without a second pass
    val pStruct = struct(col(ts).as("_ts") +: payloads.map(col): _*)
    // right rows sort before left at equal ts for backward/nearest
    // (simultaneous rows visible to the preceding frame) and after left
    // for forward (visible to the following frame)
    val rSide = if (direction == "forward") 2 else 0
    val lu = left.select(
      Seq(col(key), col(ts).as("_ts"), lit(1).as("_side")) ++
        leftOthers.map(col) :+
        lit(null).cast(right.select(pStruct).schema.head.dataType).as("_p"): _*)
    val ru = right.select(
      Seq(col(key), col(ts).as("_ts"), lit(rSide).as("_side")) ++
        leftOthers.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        pStruct.as("_p"): _*)
    val ord = Window.partitionBy(key).orderBy(col("_ts"), col("_side"))
    val wBack = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The forward match is a RUNNING frame over the REVERSED order, not a
    // `first() OVER (... ROWS BETWEEN CURRENT ROW AND UNBOUNDED
    // FOLLOWING)` (r17 optimization, guide §1.2/§2): Spark's
    // UnboundedFollowing frame re-folds the aggregate from each row to
    // the partition end — O(rows²) per key, a scale-killer once a key
    // holds many rows — while the running (UnboundedPreceding) frame is
    // one O(rows) pass. `last(ignoreNulls)` over (_ts DESC, _side DESC)
    // is value-identical to `first(ignoreNulls)` over the following
    // frame in ascending order: descending, the earliest right row with
    // rts >= lts is the most recent non-null seen, and at equal ts the
    // right row (_side=2) sorts before the left row it must be visible
    // to — the exact mirror of the backward frame's tie rule.
    val ordRev = Window.partitionBy(key)
      .orderBy(col("_ts").desc, col("_side").desc)
    val wFwdRev = ordRev.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val unioned = lu.unionByName(ru)
    // distances compare in the ts column's own numeric space
    def num(c: Column): Column = micros(left.schema(ts).dataType)(c)
    val resolved = direction match {
      case "backward" =>
        unioned.withColumn("_p", last(col("_p"), ignoreNulls = true).over(wBack))
      case "forward" =>
        unioned.withColumn("_p", last(col("_p"), ignoreNulls = true).over(wFwdRev))
      case "nearest" =>
        // two Window nodes (ascending + descending running frames) over
        // ONE exchange — the second window re-sorts its partition but
        // never reshuffles; both frames stay O(rows) per key
        unioned
          .withColumn("_b", last(col("_p"), ignoreNulls = true).over(wBack))
          .withColumn("_f", last(col("_p"), ignoreNulls = true).over(wFwdRev))
          .withColumn("_p",
            when(col("_b").isNull, col("_f"))
              .when(col("_f").isNull, col("_b"))
              .when(num(col("_ts")) - num(col("_b._ts")) <=
                num(col("_f._ts")) - num(col("_ts")), col("_b"))
              .otherwise(col("_f")))
    }
    val bounded = toleranceUs match {
      case None => resolved
      case Some(tol) => resolved.withColumn("_p",
        when(abs(num(col("_ts")) - num(col("_p._ts"))) <= tol, col("_p")))
    }
    bounded
      .where(col("_side") === 1)
      .select(Seq(col(key), col("_ts").as(ts)) ++
        leftOthers.map(col) ++ payloads.map(p => col(s"_p.$p").as(p)): _*)
  }

  /** Bounded-interval range join: all pairs (l, r) with equal `key` and
    * `r.ts` in `[l.ts, l.ts + widthUs)` (timestamps compared in epoch
    * microseconds). The banding rewrite: band = floor(us / widthUs);
    * any qualifying r lies in l's band or the one above, so exploding
    * the right side to (band, band − 1) and equi-joining on
    * (key, band) finds every pair exactly once; the exact inequality
    * then filters band-mates outside the interval. One explode (2×
    * the right side's keys only) + one hash-partitioned equi-join —
    * shuffle volume O(|l| + 2|r|), never a per-key cross.
    *
    * OUTER-JOIN CONTRACT (r13 ADVICE): for the outer flavors,
    * `lOut.head` (left/full) and `rOut.head` (right/full) must each
    * UNIQUELY identify their side's rows — the partnerless-row sweep is
    * an anti-join on that id, so a duplicated id whose twin matched
    * would silently drop the partnerless twin SQL's OUTER JOIN keeps
    * (the same documented-determinism class as [[asof]]'s right-side
    * (key, ts) uniqueness). Pass `checkIds = true` to enforce it with a
    * count-vs-distinct assertion per outer side — woven into the
    * query's own plan as a 1-row broadcast guard (no separate job), it
    * raise_error's when the query runs; the j06/j08/j10 verify gates
    * run with it on, production callers opt in when the id's
    * provenance is not already a key. */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String,
                ts: String, widthUs: Long,
                lOut: Seq[String], rOut: Seq[String],
                joinType: String = "inner",
                checkIds: Boolean = false): DataFrame = {
    require(widthUs > 0, s"rangeJoin width must be positive, got $widthUs")
    require(Seq("inner", "left_outer", "right_outer", "full_outer").contains(joinType),
      s"rangeJoin supports inner/left_outer/right_outer/full_outer, got $joinType")
    val taken = (left.columns ++ right.columns).toSet
    val clash = rangeInternal.filter(taken)
    require(clash.isEmpty,
      s"rangeJoin reserves internal column names ${clash.mkString(", ")} — rename them first")
    val outClash = lOut.intersect(rOut)
    require(outClash.isEmpty,
      s"lOut/rOut overlap on ${outClash.mkString(", ")} — alias one side first")
    // band = floor(us / width) in EXACT integer arithmetic (r12 ADVICE:
    // double division is only exact below ~2^52 epoch-micros; beyond
    // that a boundary row can mis-band and a pair silently vanish).
    // pmod is non-negative, so (us - pmod) is width-divisible and the
    // integral DIV (never a double in the chain) equals the
    // mathematical floor for ALL longs.
    def floorBand(usCol: String): String =
      s"(($usCol - pmod($usCol, ${widthUs}L)) DIV ${widthUs}L)"
    val l = left.select(
      Seq(col(key), micros(left.schema(ts).dataType)(col(ts)).as("_lus")) ++ lOut.map(col): _*)
      .withColumn("_band", expr(floorBand("_lus")))
    val r = right.select(
      Seq(col(key).as("_rk"), micros(right.schema(ts).dataType)(col(ts)).as("_rus")) ++ rOut.map(col): _*)
      .withColumn("_band",
        explode(array(expr(floorBand("_rus")), expr(floorBand("_rus") + " - 1L"))))
    val inner = l.join(r, l(key) === r("_rk") && l("_band") === r("_band"))
      .where(col("_rus") >= col("_lus") &&
        col("_rus") < col("_lus") + lit(widthUs))
      .select((lOut ++ rOut).map(col) :+ col(key): _*)
    // OUTER flavors (the batch twins of the s10/s11 streaming gates):
    // the banding rewrite can't outer-join directly — the (band, band−1)
    // explosion gives every left row one matched and one usually-empty
    // band slot, so a plain outer join would fabricate NULL rows for
    // MATCHED rows too. Compose instead: inner pairs + the rows of the
    // unmatched side whose head out-column never appears among the
    // matches (broadcast-able at metadata scale; a hash-partitioned
    // LEFT ANTI otherwise — still O(|side|+|matches|) shuffle, never a
    // cross). CONTRACT: lOut.head (for left/full) and rOut.head (for
    // right/full) must uniquely identify their side's rows (the same
    // class of documented determinism contract as asof's right-side
    // (key, ts) uniqueness) — with duplicate ids the anti-join would
    // drop a partnerless duplicate that SQL's OUTER JOIN keeps. The
    // right side deduplicates its band explosion before the anti-join
    // (each right row appears under two band keys).
    // The uniqueness/NULL guard rides IN the misses plan as a 1-row
    // broadcast cross join whose projection raise_error's on violation —
    // the count-vs-distinct aggregation runs inside the SAME action as
    // the join instead of as a separate eager driver job per outer side
    // per execution (r18, guide §1.2: the three j-gates paid 4 extra
    // Spark jobs per bench pass for it; measured ~0.2 s/gate). Failure
    // stays loud — it now surfaces when the query RUNS (which is when a
    // wrong answer would have been produced) rather than when the frame
    // is constructed. count/count_distinct both skip NULLs, so NULL ids
    // are rejected explicitly (r14 ADVICE): a matched NULL-id row never
    // equi-matches inner's id set in the anti-join and would be
    // re-emitted as a fake partnerless miss.
    def guardUniqueIds(misses: DataFrame, side: DataFrame, id: String,
                       name: String): DataFrame =
      if (!checkIds) misses else {
        val chk = side.agg(count(lit(1)).as("rows"), count(col(id)).as("n"),
            count_distinct(col(id)).as("d"))
          .select(
            when(col("rows") =!= col("n"), raise_error(concat(
              lit(s"rangeJoin $joinType: $name id column '$id' contains "),
              (col("rows") - col("n")).cast("string"),
              lit(" NULL(s) — the anti-join miss sweep would duplicate " +
                "matched NULL-id rows; see the scaladoc contract"))))
            .when(col("n") =!= col("d"), raise_error(concat(
              lit(s"rangeJoin $joinType: $name id column '$id' is not unique ("),
              col("n").cast("string"), lit(" rows, "),
              col("d").cast("string"),
              lit(" distinct) — partnerless duplicates would be dropped; " +
                "see the scaladoc contract"))))
            .otherwise(lit(1L)).as("_idchk"))
        misses.crossJoin(broadcast(chk))
          .where(col("_idchk") === 1L).drop("_idchk")
      }
    def leftMisses(): DataFrame = {
      val lId = lOut.head
      val misses = l.join(inner.select(lId).distinct(), Seq(lId), "left_anti")
        .select(Seq(col(lId)) ++ lOut.tail.map(col) ++
          rOut.map(c => lit(null).cast(right.schema(c).dataType).as(c)) :+
          col(key): _*)
      guardUniqueIds(misses, left, lId, "left")
    }
    def rightMisses(): DataFrame = {
      val rId = rOut.head
      val misses = r.drop("_band").dropDuplicates(rId)
        .join(inner.select(rId).distinct(), Seq(rId), "left_anti")
        .select(lOut.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          Seq(col(rId)) ++ rOut.tail.map(col) :+
          col("_rk").as(key): _*)
      guardUniqueIds(misses, right, rId, "right")
    }
    joinType match {
      case "inner" => inner
      case "left_outer" => inner.unionByName(leftMisses())
      case "right_outer" => inner.unionByName(rightMisses())
      case "full_outer" =>
        inner.unionByName(leftMisses()).unionByName(rightMisses())
    }
  }

  /** Two-sided interval range join: all pairs with equal `key` and
    * `r.ts ∈ [l.ts + loUs, l.ts + hiUs)` — the general form (e.g. a ±2h
    * neighborhood is `loUs = −2h, hiUs = +2h`). Reduces EXACTLY to the
    * one-sided banding rewrite by shifting the right side's clock:
    * `rus − loUs ∈ [lus, lus + (hiUs − loUs))` — same single
    * equi-shuffle, same exactly-once pair guarantee, same outer
    * semantics; the shift is a projection, so the 100 TB contract is
    * [[rangeJoin]]'s unchanged. */
  def rangeJoinInterval(left: DataFrame, right: DataFrame, key: String,
                        ts: String, loUs: Long, hiUs: Long,
                        lOut: Seq[String], rOut: Seq[String],
                        joinType: String = "inner"): DataFrame = {
    require(hiUs > loUs, s"empty interval [$loUs, $hiUs)")
    val shifted = right
      .withColumn(ts, micros(right.schema(ts).dataType)(col(ts)) - loUs)
    rangeJoin(
      left.withColumn(ts, micros(left.schema(ts).dataType)(col(ts))),
      shifted, key, ts, hiUs - loUs, lOut, rOut, joinType)
  }

  /** events.parquet with its TIMESTAMP(NANOS) ts normalized to a
    * session TIMESTAMP — the parquet type surfaces as BIGINT nanos
    * under `spark.sql.legacy.parquet.nanosAsLong` or as TIMESTAMP_NTZ
    * otherwise, so every consumer must branch on the schema dtype. ONE
    * shared reader (used by j01/j02 here and the s04–s07 streaming
    * gates) so a corpus ts-encoding change can never shift timestamps
    * in only some gates. */
  private[operators] def normalizedEvents(s: SparkSession, d: String): DataFrame = {
    val base = Tables.read(s, s"$d/events.parquet")
    val tsExpr = base.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "timestamp_micros(ts DIV 1000)"
      case _ => "CAST(ts AS TIMESTAMP)"
    }
    base.selectExpr(s"$tsExpr AS ts", "user_id", "event_id", "value")
  }

  private def events(s: SparkSession, d: String): DataFrame =
    normalizedEvents(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // AS-OF JOIN under the oracle: every 10th event is a "status
    // update"; each remaining event attaches the latest status at or
    // before its own timestamp (the canonical time-series enrichment).
    // The right side pre-aggregates to unique (user, ts) via max_by so
    // the most-recent payload is well-defined in both engines; the
    // status is integer-quantized and missing statuses map to -1 (a
    // NULL-free, order-pinned output). Oracle: DuckDB's NATIVE ASOF
    // LEFT JOIN — the engine's composition must reproduce the
    // definitional operator exactly.
    "j01_asof_join" -> ((s, d) => {
      val ev = events(s, d)
      val right = ev.where("event_id % 10 = 0")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("sv"))
      val left = ev.where("event_id % 10 <> 0")
        .select("user_id", "ts", "event_id")
      asof(left, right, key = "user_id", ts = "ts", payloads = Seq("sv"))
        .selectExpr("event_id",
          "coalesce(CAST(floor(sv * 64) AS BIGINT), -1) AS status_q")
        .orderBy("event_id")
    }),

    // AS-OF FORWARD under the oracle: the same enrichment as j01 but
    // attaching the NEXT status at or after each event (the "first
    // quote after the trade" shape). Same single-exchange window plan,
    // reversed frame. Oracle: DuckDB's native ASOF with the <= operator.
    "j03_asof_forward" -> ((s, d) => {
      val ev = events(s, d)
      val right = ev.where("event_id % 10 = 0")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("sv"))
      val left = ev.where("event_id % 10 <> 0")
        .select("user_id", "ts", "event_id")
      asof(left, right, key = "user_id", ts = "ts", payloads = Seq("sv"),
          direction = "forward")
        .selectExpr("event_id",
          "coalesce(CAST(floor(sv * 64) AS BIGINT), -1) AS status_q")
        .orderBy("event_id")
    }),

    // AS-OF NEAREST under the oracle: whichever status is closer in
    // event time, ties to the earlier row (pandas merge_asof's rule).
    // DuckDB has no nearest operator, so the oracle composes its OWN
    // backward and forward ASOF joins and replays the distance/tie rule
    // in SQL — the engine's one-pass two-frame window must equal the
    // definitional two-join form.
    "j04_asof_nearest" -> ((s, d) => {
      val ev = events(s, d)
      val right = ev.where("event_id % 10 = 0")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("sv"))
      val left = ev.where("event_id % 10 <> 0")
        .select("user_id", "ts", "event_id")
      asof(left, right, key = "user_id", ts = "ts", payloads = Seq("sv"),
          direction = "nearest")
        .selectExpr("event_id",
          "coalesce(CAST(floor(sv * 64) AS BIGINT), -1) AS status_q")
        .orderBy("event_id")
    }),

    // AS-OF WITH TOLERANCE under the oracle (pandas merge_asof's
    // tolerance): same backward enrichment as j01, but a status older
    // than 30 minutes is stale and attaches as NULL (-1 after the
    // NULL-free quantization). The oracle is DuckDB's ASOF plus the
    // distance CASE — the tolerance must behave exactly like "no match",
    // never like a dropped row.
    "j05_asof_tolerance" -> ((s, d) => {
      val ev = events(s, d)
      val right = ev.where("event_id % 10 = 0")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("sv"))
      val left = ev.where("event_id % 10 <> 0")
        .select("user_id", "ts", "event_id")
      asof(left, right, key = "user_id", ts = "ts", payloads = Seq("sv"),
          toleranceUs = Some(30L * 60 * 1000000))
        .selectExpr("event_id",
          "coalesce(CAST(floor(sv * 64) AS BIGINT), -1) AS status_q")
        .orderBy("event_id")
    }),

    // RANGE JOIN under the oracle: the batch form of the s07 interval
    // semantics — every same-user event pair within 6 hours — realized
    // with the banding rewrite (equi-shuffle on (user, band), exact
    // residual filter), so the batch path carries the same 100 TB
    // contract the streaming twin documents. Output = s07's pair set.
    "j02_range_join" -> ((s, d) => {
      val ev = events(s, d)
      val l = ev.selectExpr("user_id", "ts", "event_id AS a")
      val r = ev.selectExpr("user_id", "ts", "event_id AS b")
      rangeJoin(l, r, key = "user_id", ts = "ts",
          widthUs = 6L * 3600 * 1000000, lOut = Seq("a"), rOut = Seq("b"))
        .where("a <> b")
        .selectExpr("user_id AS u", "a", "b")
        .orderBy("u", "a", "b")
    }),

    // TWO-SIDED INTERVAL JOIN under the oracle: every same-user pair
    // within ±2 hours (the symmetric-neighborhood shape sessionization
    // and nearby-event correlation use) via the clock-shift reduction —
    // the banding plan and its exactly-once guarantee are j02's.
    "j07_range_join_interval" -> ((s, d) => {
      val ev = events(s, d)
      val l = ev.selectExpr("user_id", "ts", "event_id AS a")
      val r = ev.selectExpr("user_id", "ts", "event_id AS b")
      rangeJoinInterval(l, r, key = "user_id", ts = "ts",
          loUs = -2L * 3600 * 1000000, hiUs = 2L * 3600 * 1000000,
          lOut = Seq("a"), rOut = Seq("b"))
        .where("a <> b")
        .selectExpr("user_id AS u", "a", "b")
        .orderBy("u", "a", "b")
    }),

    // LEFT-OUTER RANGE JOIN under the oracle — the batch twin of the
    // s10/s11 streaming family, on the SAME split (status stream vs the
    // rest) so partnerless left rows actually occur: every non-status
    // event pairs with the statuses of its user in the next 6 hours, or
    // emits once with -1. event_id is the unique left id the left_outer
    // contract requires.
    "j06_range_join_outer" -> ((s, d) => {
      val ev = events(s, d)
      val l = ev.where("event_id % 10 <> 0").selectExpr("user_id", "ts", "event_id AS a")
      val r = ev.where("event_id % 10 = 0").selectExpr("user_id", "ts", "event_id AS b")
      rangeJoin(l, r, key = "user_id", ts = "ts",
          widthUs = 6L * 3600 * 1000000, lOut = Seq("a"), rOut = Seq("b"),
          joinType = "left_outer", checkIds = true)
        .selectExpr("user_id AS u", "a", "coalesce(b, -1L) AS b")
        .orderBy("u", "a", "b")
    }),

    // BATCH SESSIONIZATION under the oracle — the event-time sibling of
    // the range-join family and the batch twin of the s05 streaming
    // session windows: per user, a new session starts when the gap to
    // the previous event exceeds 30 minutes (lag + running sum of
    // session-break flags — BOTH over the same (user, ts) window, so
    // Catalyst plans ONE Window node / one exchange; the sort is
    // per-user, never corpus-global). Output per session: event count
    // and whole-second duration — all integers.
    "j09_sessionize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("brk", when(coalesce(unix_micros(col("ts")) -
          unix_micros(lag("ts", 1).over(w)), lit(Long.MaxValue)) >
          lit(30L * 60 * 1000000), 1L).otherwise(0L))
        .withColumn("sid", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        // group on the RAW window columns: hashpartitioning(user_id)
        // already clusters (user_id, sid), so the aggregation reuses the
        // window's exchange — aliasing inside groupBy would hide that
        // and buy a second shuffle (JoinOpsSpec pins the single-exchange
        // shape)
        .groupBy("user_id", "sid")
        .agg(expr("CAST(count(*) AS BIGINT)").as("n_events"),
          expr("CAST((unix_micros(max(ts)) - unix_micros(min(ts))) " +
            "DIV 1000000 AS BIGINT)").as("dur_s"))
        .selectExpr("user_id AS u", "sid", "n_events", "dur_s")
        .orderBy("u", "sid")
    }),

    // FULL-OUTER RANGE JOIN under the oracle — the batch twin of the
    // s11 streaming gate, completing the batch outer matrix (inner j02,
    // left j06, full here; right_outer is full's mirror and is
    // spec-pinned): matched pairs plus every partnerless row of EITHER
    // side exactly once with -1 on the other. Same status/event split
    // as j06 so both kinds of misses actually occur; event_id is the
    // unique id both outer contracts require.
    "j08_range_join_full" -> ((s, d) => {
      val ev = events(s, d)
      val l = ev.where("event_id % 10 <> 0").selectExpr("user_id", "ts", "event_id AS a")
      val r = ev.where("event_id % 10 = 0").selectExpr("user_id", "ts", "event_id AS b")
      rangeJoin(l, r, key = "user_id", ts = "ts",
          widthUs = 6L * 3600 * 1000000, lOut = Seq("a"), rOut = Seq("b"),
          joinType = "full_outer", checkIds = true)
        .selectExpr("user_id AS u", "coalesce(a, -1L) AS a", "coalesce(b, -1L) AS b")
        .orderBy("u", "a", "b")
    }),

    // RIGHT-OUTER RANGE JOIN under the oracle (r14 — previously only a
    // spec pin as "full's mirror"; with the streaming matrix fully
    // gated via s17, the batch matrix now is too): matched pairs plus
    // every partnerless STATUS row exactly once with a = -1. Same
    // status/event split as j06/j08; event_id is the unique right id
    // the contract requires (checkIds enforces it on the verify path).
    "j10_range_join_right" -> ((s, d) => {
      val ev = events(s, d)
      val l = ev.where("event_id % 10 <> 0").selectExpr("user_id", "ts", "event_id AS a")
      val r = ev.where("event_id % 10 = 0").selectExpr("user_id", "ts", "event_id AS b")
      rangeJoin(l, r, key = "user_id", ts = "ts",
          widthUs = 6L * 3600 * 1000000, lOut = Seq("a"), rOut = Seq("b"),
          joinType = "right_outer", checkIds = true)
        .selectExpr("user_id AS u", "coalesce(a, -1L) AS a", "b")
        .orderBy("u", "a", "b")
    })
  )

  val oracles: Map[String, String] = Map(

    // DuckDB's native ASOF LEFT JOIN is the definitional oracle
    "j01_asof_join" ->
      """WITH r AS (SELECT user_id AS u, ts, max_by(value, event_id) AS sv
                    FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
           l AS (SELECT user_id AS u, ts, event_id
                 FROM events WHERE event_id % 10 <> 0)
         SELECT l.event_id AS event_id,
           coalesce(CAST(floor(r.sv * 64) AS BIGINT), -1) AS status_q
         FROM l ASOF LEFT JOIN r ON l.u = r.u AND l.ts >= r.ts
         ORDER BY event_id""",

    // DuckDB's native forward ASOF (the <= operator)
    "j03_asof_forward" ->
      """WITH r AS (SELECT user_id AS u, ts, max_by(value, event_id) AS sv
                    FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
           l AS (SELECT user_id AS u, ts, event_id
                 FROM events WHERE event_id % 10 <> 0)
         SELECT l.event_id AS event_id,
           coalesce(CAST(floor(r.sv * 64) AS BIGINT), -1) AS status_q
         FROM l ASOF LEFT JOIN r ON l.u = r.u AND l.ts <= r.ts
         ORDER BY event_id""",

    // nearest = the closer of DuckDB's own backward and forward ASOF
    // matches, ties to backward (pandas merge_asof)
    "j04_asof_nearest" ->
      """WITH r AS (SELECT user_id AS u, ts, max_by(value, event_id) AS sv
                    FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
           l AS (SELECT user_id AS u, ts, event_id
                 FROM events WHERE event_id % 10 <> 0)
         SELECT l.event_id AS event_id,
           coalesce(CAST(floor(CASE
               WHEN b.ts IS NULL THEN f.sv
               WHEN f.ts IS NULL THEN b.sv
               WHEN (l.ts - b.ts) <= (f.ts - l.ts) THEN b.sv
               ELSE f.sv END * 64) AS BIGINT), -1) AS status_q
         FROM l
           ASOF LEFT JOIN r b ON l.u = b.u AND l.ts >= b.ts
           ASOF LEFT JOIN r f ON l.u = f.u AND l.ts <= f.ts
         ORDER BY event_id""",

    // backward ASOF + the tolerance CASE (stale match ≡ no match)
    "j05_asof_tolerance" ->
      """WITH r AS (SELECT user_id AS u, ts, max_by(value, event_id) AS sv
                    FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
           l AS (SELECT user_id AS u, ts, event_id
                 FROM events WHERE event_id % 10 <> 0)
         SELECT l.event_id AS event_id,
           coalesce(CAST(floor(CASE WHEN l.ts - r.ts <= INTERVAL 30 MINUTE
                                    THEN r.sv END * 64) AS BIGINT), -1) AS status_q
         FROM l ASOF LEFT JOIN r ON l.u = r.u AND l.ts >= r.ts
         ORDER BY event_id""",

    // the definitional range self-join (same SQL family as s07's)
    "j02_range_join" ->
      """WITH e AS (SELECT user_id AS u, event_id AS i, ts FROM events)
         SELECT l.u AS u, l.i AS a, r.i AS b
         FROM e l JOIN e r ON l.u = r.u AND l.i <> r.i
           AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 6 HOUR
         ORDER BY u, a, b""",

    // the definitional two-sided interval self-join
    "j07_range_join_interval" ->
      """WITH e AS (SELECT user_id AS u, event_id AS i, ts FROM events)
         SELECT l.u AS u, l.i AS a, r.i AS b
         FROM e l JOIN e r ON l.u = r.u AND l.i <> r.i
           AND r.ts >= l.ts - INTERVAL 2 HOUR
           AND r.ts < l.ts + INTERVAL 2 HOUR
         ORDER BY u, a, b""",

    // the definitional LEFT range join on the status/event split
    "j06_range_join_outer" ->
      """WITH l AS (SELECT user_id AS u, event_id AS i, ts FROM events
                    WHERE event_id % 10 <> 0),
           r AS (SELECT user_id AS u, event_id AS i, ts FROM events
                 WHERE event_id % 10 = 0)
         SELECT l.u AS u, l.i AS a, coalesce(r.i, -1) AS b
         FROM l LEFT JOIN r ON l.u = r.u
           AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 6 HOUR
         ORDER BY u, a, b""",

    // the definitional lag + running-sum sessionization
    "j09_sessionize" ->
      """WITH b AS (
           SELECT user_id AS u, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT u, ts, CAST(sum(brk) OVER (PARTITION BY u
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
           FROM b)
         SELECT u, sid, CAST(count(*) AS BIGINT) AS n_events,
           CAST(floor(epoch(max(ts) - min(ts))) AS BIGINT) AS dur_s
         FROM sess GROUP BY u, sid ORDER BY u, sid""",

    // the definitional FULL range join on the status/event split
    "j08_range_join_full" ->
      """WITH l AS (SELECT user_id AS u, event_id AS i, ts FROM events
                    WHERE event_id % 10 <> 0),
           r AS (SELECT user_id AS u, event_id AS i, ts FROM events
                 WHERE event_id % 10 = 0)
         SELECT coalesce(l.u, r.u) AS u, coalesce(l.i, -1) AS a,
                coalesce(r.i, -1) AS b
         FROM l FULL JOIN r ON l.u = r.u
           AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 6 HOUR
         ORDER BY u, a, b""",

    // the definitional RIGHT range join on the same split
    "j10_range_join_right" ->
      """WITH l AS (SELECT user_id AS u, event_id AS i, ts FROM events
                    WHERE event_id % 10 <> 0),
           r AS (SELECT user_id AS u, event_id AS i, ts FROM events
                 WHERE event_id % 10 = 0)
         SELECT coalesce(l.u, r.u) AS u, coalesce(l.i, -1) AS a, r.i AS b
         FROM l RIGHT JOIN r ON l.u = r.u
           AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 6 HOUR
         ORDER BY u, a, b"""
  )
}
