package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** asof / rangeJoin — edge semantics and the scale-shape pins. */
class JoinOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = spark.stop()

  private def ts(sec: Int) = new Timestamp(sec * 1000L)

  test("asof: latest at-or-before payload attaches; no prior right -> NULL") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, ts(1), 10L), (1L, ts(5), 11L), (1L, ts(9), 12L),
      (2L, ts(4), 20L))
      .toDF("k", "t", "id")
    val right = Seq((1L, ts(3), 0.5), (1L, ts(5), 0.7), (2L, ts(9), 0.9))
      .toDF("k", "t", "v")
    val got = JoinOps.asof(left, right, "k", "t", Seq("v"))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(got(10L) == None, "left row before any right must get NULL")
    assert(got(11L) == Some(0.7), "an exactly-simultaneous right row is visible")
    assert(got(12L) == Some(0.7), "latest at-or-before, not just any earlier")
    assert(got(20L) == None, "keys never leak payloads across each other")
  }

  test("asof attaches ONE right row atomically — NULL payload fields never tear") {
    // right rows: ts=1 has (v1=5, v2=NULL); ts=2 has (v1=NULL, v2=7).
    // The match for a left row at ts=3 is the ts=2 ROW — (NULL, 7), as
    // DuckDB's ASOF yields. A per-column last(ignoreNulls) would reach
    // back to ts=1 for v1 alone and assemble the torn row (5, 7).
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, ts(3), 10L)).toDF("k", "t", "id")
    val right = Seq((1L, ts(1), Some(5.0), Option.empty[Double]),
      (1L, ts(2), Option.empty[Double], Some(7.0)))
      .toDF("k", "t", "v1", "v2")
    val r = JoinOps.asof(left, right, "k", "t", Seq("v1", "v2")).head()
    assert(r.isNullAt(3) && r.getDouble(4) == 7.0,
      s"payloads must come from the single matched right row, got $r")
  }

  test("asof forward: earliest at-or-after payload; simultaneous row visible") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, ts(1), 10L), (1L, ts(5), 11L), (1L, ts(9), 12L),
      (2L, ts(4), 20L))
      .toDF("k", "t", "id")
    val right = Seq((1L, ts(3), 0.5), (1L, ts(5), 0.7), (2L, ts(2), 0.9))
      .toDF("k", "t", "v")
    val got = JoinOps.asof(left, right, "k", "t", Seq("v"), "forward")
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(got(10L) == Some(0.5), "earliest at-or-after, not just any later")
    assert(got(11L) == Some(0.7), "an exactly-simultaneous right row matches forward too")
    assert(got(12L) == None, "left row after every right must get NULL")
    assert(got(20L) == None, "forward never reaches back")
  }

  test("asof nearest: closer side wins; exact tie takes the backward row") {
    val sp = spark
    import sp.implicits._
    // id=10 at t=4: back at 3 (d=1) vs fwd at 8 (d=4) -> back 0.3
    // id=11 at t=7: back at 3 (d=4) vs fwd at 8 (d=1) -> fwd 0.8
    // id=12 at t=5: no back for key 2, fwd at 6 -> 0.6
    // id=13 at t=10 key 2: back at 6 (d=4), no fwd -> 0.6
    // id=14 at t=5 key 3: EXACT TIE back at 4 (d=1) vs fwd at 6 (d=1) -> back 0.4
    val left = Seq((1L, ts(4), 10L), (1L, ts(7), 11L), (2L, ts(5), 12L),
      (2L, ts(10), 13L), (3L, ts(5), 14L)).toDF("k", "t", "id")
    val right = Seq((1L, ts(3), 0.3), (1L, ts(8), 0.8), (2L, ts(6), 0.6),
      (3L, ts(4), 0.4), (3L, ts(6), 0.45)).toDF("k", "t", "v")
    val got = JoinOps.asof(left, right, "k", "t", Seq("v"), "nearest")
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(got(10L) == Some(0.3))
    assert(got(11L) == Some(0.8))
    assert(got(12L) == Some(0.6), "nearest must fall forward when no prior row exists")
    assert(got(13L) == Some(0.6), "nearest must fall back when no later row exists")
    assert(got(14L) == Some(0.4), "equal distances take the backward row")
  }

  test("asof tolerance: stale matches void to NULL, near ones survive, all directions") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, ts(10), 10L), (1L, ts(100), 11L)).toDF("k", "t", "id")
    val right = Seq((1L, ts(8), 0.8), (1L, ts(104), 0.4)).toDF("k", "t", "v")
    def got(dir: String, tolSec: Long) =
      JoinOps.asof(left, right, "k", "t", Seq("v"), dir,
          toleranceUs = Some(tolSec * 1000000))
        .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    // backward: id 10 matches t=8 (d=2s), id 11 matches t=8 (d=92s, stale)
    assert(got("backward", 5) == Map(10L -> Some(0.8), 11L -> None))
    // forward: id 10 → t=104 (d=94s, stale); id 11 → t=104 (d=4s, keeps)
    assert(got("forward", 5) == Map(10L -> None, 11L -> Some(0.4)))
    // nearest picks the closer side FIRST, then the tolerance applies to
    // that pick (pandas semantics): id 10 nearest is t=8 (d=2s, keeps);
    // id 11 nearest is t=104 (d=4s, keeps); at tol=3s id 11 voids
    assert(got("nearest", 5) == Map(10L -> Some(0.8), 11L -> Some(0.4)))
    assert(got("nearest", 3) == Map(10L -> Some(0.8), 11L -> None))
  }

  test("asof nearest/tolerance work on TIMESTAMP_NTZ event time") {
    // the events corpus surfaces ts as TIMESTAMP_NTZ in some sessions
    // (nanosAsLong off) — the distance arithmetic must accept both
    // timestamp flavors, not just TIMESTAMP
    val left = spark.sql(
      "SELECT 1L AS k, TIMESTAMP_NTZ'2024-01-01 00:00:10' AS t, 10L AS id")
    val right = spark.sql(
      "SELECT 1L AS k, TIMESTAMP_NTZ'2024-01-01 00:00:08' AS t, 0.8D AS v " +
        "UNION ALL SELECT 1L, TIMESTAMP_NTZ'2024-01-01 00:00:11', 0.4D")
    // left at :10 — right at :08 (d=2s) vs :11 (d=1s): nearest is :11
    val near = JoinOps.asof(left, right, "k", "t", Seq("v"), "nearest").head()
    assert(near.getDouble(3) == 0.4, s"nearest on NTZ picked $near")
    val tol = JoinOps.asof(left, right, "k", "t", Seq("v"), "backward",
      toleranceUs = Some(1000000L)).head()
    assert(tol.isNullAt(3), "2s-stale backward match must void at 1s tolerance")
    // rangeJoin's banding must also accept NTZ
    val l = left.selectExpr("k", "t", "id AS a")
    val r = right.selectExpr("k", "t", "CAST(v * 10 AS BIGINT) AS b")
    val pairs = JoinOps.rangeJoin(l, r, "k", "t", widthUs = 10000000L,
        lOut = Seq("a"), rOut = Seq("b"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs == Set((10L, 4L)), s"NTZ range pairs wrong: $pairs")
  }

  test("asof guards: reserved internal names and payload collisions fail fast") {
    val sp = spark
    import sp.implicits._
    val left = Seq((1L, ts(1), 10L)).toDF("k", "t", "id")
    val right = Seq((1L, ts(1), 0.5)).toDF("k", "t", "v")
    val e1 = intercept[IllegalArgumentException] {
      JoinOps.asof(left.withColumnRenamed("id", "_side"), right, "k", "t", Seq("v"))
    }
    assert(e1.getMessage.contains("_side"))
    val e2 = intercept[IllegalArgumentException] {
      // payload named like a retained left column silently shadowed in r12
      JoinOps.asof(left, right.withColumnRenamed("v", "id"), "k", "t", Seq("id"))
    }
    assert(e2.getMessage.contains("collide"))
    val e3 = intercept[IllegalArgumentException] {
      JoinOps.asof(left, right, "k", "t", Seq("v"), "sideways")
    }
    assert(e3.getMessage.contains("direction"))
    val e4 = intercept[IllegalArgumentException] {
      JoinOps.rangeJoin(left.selectExpr("k", "t", "id AS _band"), right,
        "k", "t", 1000000L, Seq("_band"), Seq("v"))
    }
    assert(e4.getMessage.contains("_band"))
  }

  test("asof fuzz: every direction × tolerance matches a brute-force oracle") {
    // 300 left rows / 150 right rows over 7 keys, timestamps drawn from a
    // SMALL grid so simultaneous left/right rows and exact nearest-ties
    // occur constantly — the edge cases hand-picked tests undersample.
    // Right (key, ts) is deduped per the operator's determinism contract.
    val rnd = new scala.util.Random(20130815)
    val sp = spark
    import sp.implicits._
    val leftRows = (0 until 300).map { i =>
      (rnd.nextInt(7).toLong, ts(rnd.nextInt(40)), i.toLong)
    }
    val rightRows = (0 until 150).map { _ =>
      (rnd.nextInt(7).toLong, ts(rnd.nextInt(40)))
    }.distinct.map { case (k, t) => (k, t, rnd.nextInt(1000) / 10.0) }
    val left = leftRows.toDF("k", "t", "id")
    val right = rightRows.toDF("k", "t", "v")
    def brute(dir: String, tolUs: Option[Long]): Map[Long, Option[Double]] =
      leftRows.map { case (k, lt, id) =>
        val cands = rightRows.filter(_._1 == k)
        val pick = dir match {
          case "backward" =>
            cands.filter(_._2.getTime <= lt.getTime)
              .sortBy(_._2.getTime).lastOption
          case "forward" =>
            cands.filter(_._2.getTime >= lt.getTime)
              .sortBy(_._2.getTime).headOption
          case "nearest" =>
            // min |dist|, ties to the backward (earlier) row
            cands.sortBy(c => (math.abs(c._2.getTime - lt.getTime),
              c._2.getTime > lt.getTime)).headOption
        }
        val bounded = pick.filter(c => tolUs.forall(t =>
          math.abs(c._2.getTime - lt.getTime) * 1000 <= t))
        id -> bounded.map(_._3)
      }.toMap
    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(5000000L))) {
      val got = JoinOps.asof(left, right, "k", "t", Seq("v"), dir, tol)
        .collect().map(r => r.getLong(2) -> Option(r.get(3))
          .map(_.asInstanceOf[Double])).toMap
      val want = brute(dir, tol)
      assert(got.size == want.size, s"$dir/$tol row count")
      val diff = want.keys.filter(id => got(id) != want(id))
      assert(diff.isEmpty,
        s"$dir tol=$tol diverges at ids ${diff.take(5)}: " +
          diff.take(5).map(id => s"got ${got(id)} want ${want(id)}").mkString("; "))
    }
  }

  test("rangeJoin bands exactly at magnitudes where double division breaks") {
    val sp = spark
    import sp.implicits._
    // epoch-micros near 2^60: floor(us/width) differs between exact
    // integral arithmetic and a double-rounded quotient. Timestamps
    // can't carry 2^60 us, so drive the banding math directly through
    // the same expression the join uses.
    val w = 3600000000L // 1h in us
    val us = Seq(
      (1L << 60) - 1L, 1L << 60, (1L << 60) + w - 1, (1L << 60) + w,
      Long.MaxValue - w, -w - 1L, -1L, 0L)
    val got = us.toDF("u")
      .selectExpr(s"(u - pmod(u, ${w}L)) DIV ${w}L AS band")
      .collect().map(_.getLong(0))
    val want = us.map(v => Math.floorDiv(v, w))
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
  }

  test("asof plans ONE exchange and ONE window for any payload width") {
    val sp = spark
    import sp.implicits._
    val left = sp.range(100).selectExpr("id % 7 AS k",
      "timestamp_seconds(id) AS t", "id")
    val right = sp.range(50).selectExpr("id % 7 AS k",
      "timestamp_seconds(id * 2) AS t", "CAST(id AS DOUBLE) AS v1",
      "CAST(id * 3 AS DOUBLE) AS v2")
    for (dir <- Seq("backward", "forward", "nearest")) {
      val plan = JoinOps.asof(left, right, "k", "t", Seq("v1", "v2"), dir)
        .queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"asof($dir) must shuffle exactly once:\n$plan")
      // r17: every direction resolves through RUNNING frames only —
      // backward/forward plan one Window node; nearest needs one per
      // sort order (ascending + descending) but still ONE exchange.
      // An UnboundedFollowing frame would be O(rows²) per key in
      // Spark's WindowExec; the frame pin below keeps it out for good.
      val want = if (dir == "nearest") 2 else 1
      assert("\\bWindow\\b".r.findAllIn(plan).size == want,
        s"asof($dir) must plan exactly $want Window node(s):\n$plan")
      assert(!plan.contains("unboundedfollowing"),
        s"asof($dir) must never use an UnboundedFollowing frame (O(n^2)):\n$plan")
      assert(!plan.contains("CartesianProduct"))
    }
  }

  test("asof forward/nearest running-frame rewrite is value-identical to the definitional frames") {
    val sp = spark
    import sp.implicits._
    // adversarial corpus: duplicate left timestamps, simultaneous
    // left/right rows, keys with no right rows, right row before/after
    // every left row
    val left = sp.range(400).selectExpr("id % 13 AS k",
      "timestamp_seconds(id % 37) AS t", "id")
    val right = sp.range(90).selectExpr("id % 11 AS k",
      "timestamp_seconds((id * 3) % 41) AS t", "CAST(id AS DOUBLE) AS v1",
      "CAST(id * 3 AS DOUBLE) AS v2")
      .groupBy("k", "t").agg(
        org.apache.spark.sql.functions.max("v1").as("v1"),
        org.apache.spark.sql.functions.max("v2").as("v2"))
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def definitional(dir: String): org.apache.spark.sql.DataFrame = {
      // the pre-r17 formulation: first(ignoreNulls) over the
      // UnboundedFollowing frame in ascending (ts, side) order
      val pStruct = struct(col("t").as("_ts"), col("v1"), col("v2"))
      val lu = left.select(col("k"), col("t").as("_ts"), lit(1).as("_side"),
        col("id"), lit(null).cast(right.select(pStruct).schema.head.dataType).as("_p"))
      val ru = right.select(col("k"), col("t").as("_ts"), lit(2).as("_side"),
        lit(null).cast("long").as("id"), pStruct.as("_p"))
      val ord = Window.partitionBy("k").orderBy(col("_ts"), col("_side"))
      val wB = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val u = lu.unionByName(ru)
      val r = dir match {
        case "forward" =>
          u.withColumn("_p", first(col("_p"), ignoreNulls = true).over(wF))
        case "nearest" =>
          // backward ties use side=0 ordering in JoinOps; replicate by
          // flipping right side ordinal for the backward frame input
          val ru0 = right.select(col("k"), col("t").as("_ts"), lit(0).as("_side"),
            lit(null).cast("long").as("id"), pStruct.as("_p"))
          val u0 = lu.unionByName(ru0)
          val b = u0.withColumn("_b", last(col("_p"), ignoreNulls = true).over(wB))
            .where(col("_side") === 1).select(col("k"), col("_ts"), col("id"), col("_b"))
          val f = u.withColumn("_f", first(col("_p"), ignoreNulls = true).over(wF))
            .where(col("_side") === 1).select(col("k").as("k2"), col("_ts").as("_ts2"),
              col("id").as("id2"), col("_f"))
          return b.join(f, b("id") === f("id2"))
            .withColumn("_p",
              when(col("_b").isNull, col("_f"))
                .when(col("_f").isNull, col("_b"))
                .when(unix_micros(col("_ts")) - unix_micros(col("_b._ts")) <=
                  unix_micros(col("_f._ts")) - unix_micros(col("_ts")), col("_b"))
                .otherwise(col("_f")))
            .select(col("id"), col("_p.v1").as("v1"), col("_p.v2").as("v2"))
      }
      r.where(col("_side") === 1)
        .select(col("id"), col("_p.v1").as("v1"), col("_p.v2").as("v2"))
    }
    for (dir <- Seq("forward", "nearest")) {
      val got = JoinOps.asof(left, right, "k", "t", Seq("v1", "v2"), dir)
        .select("id", "v1", "v2").orderBy("id").collect().map(_.toString)
      val want = definitional(dir).orderBy("id").collect().map(_.toString)
      assert(got.toSeq == want.toSeq, s"asof($dir) rewrite diverges")
    }
  }

  test("rangeJoin left_outer: partnerless left rows emit once with NULLs, no cartesian") {
    val sp = spark
    import sp.implicits._
    val l = Seq((1L, ts(8), 1L), (1L, ts(40), 2L), (2L, ts(9), 3L))
      .toDF("k", "t", "a")
    val r = Seq((1L, ts(12), 10L), (2L, ts(30), 11L)).toDF("k", "t", "b")
    val df = JoinOps.rangeJoin(l, r, "k", "t", widthUs = 10000000L,
      lOut = Seq("a"), rOut = Seq("b"), joinType = "left_outer")
    val got = df.collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    // a=1 matches b=10 (8s→12s straddles a band edge); a=2 and a=3 have
    // no right row in [t, t+10s) and must appear exactly once with NULL
    assert(got == Set((1L, 10L), (2L, -1L), (3L, -1L)), s"got $got")
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // the unique-left-id contract is enforced by construction here;
    // the inner flavor is unaffected by the parameter's default
    val inner = JoinOps.rangeJoin(l, r, "k", "t", 10000000L, Seq("a"), Seq("b"))
    assert(inner.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("rangeJoin right/full outer: partnerless rows of the missing side emit once") {
    val sp = spark
    import sp.implicits._
    val l = Seq((1L, ts(8), 1L), (1L, ts(40), 2L), (2L, ts(9), 3L))
      .toDF("k", "t", "a")
    val r = Seq((1L, ts(12), 10L), (2L, ts(30), 11L), (3L, ts(5), 12L))
      .toDF("k", "t", "b")
    def pairs(jt: String) = JoinOps.rangeJoin(l, r, "k", "t",
        widthUs = 10000000L, lOut = Seq("a"), rOut = Seq("b"), joinType = jt)
      .collect().map(x => (if (x.isNullAt(0)) -1L else x.getLong(0),
        if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    // b=10 matches a=1; b=11 (no l in [20s,30s] window... l at 9s gives
    // [9,19) — 30s out) and b=12 (key 3 absent on the left) are
    // partnerless: right_outer emits each exactly once with a NULL a —
    // the band EXPLOSION must not double-emit them
    assert(pairs("right_outer") == Set((1L, 10L), (-1L, 11L), (-1L, 12L)),
      s"right_outer: ${pairs("right_outer")}")
    // full = inner + both miss sides, each exactly once
    assert(pairs("full_outer") ==
      Set((1L, 10L), (2L, -1L), (3L, -1L), (-1L, 11L), (-1L, 12L)),
      s"full_outer: ${pairs("full_outer")}")
    val plan = JoinOps.rangeJoin(l, r, "k", "t", 10000000L, Seq("a"), Seq("b"),
      joinType = "full_outer").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("rangeJoin checkIds: duplicate outer-join ids fail loudly, unique ones pass") {
    // the r13 ADVICE class: the outer miss-sweep anti-joins on lOut.head/
    // rOut.head, so a duplicated id whose twin matched would silently
    // DROP the partnerless twin SQL's OUTER JOIN keeps. The opt-in guard
    // (on in the j06/j08/j10 verify gates) turns that contract breach
    // into an immediate loud failure instead of a wrong answer.
    val sp = spark
    import sp.implicits._
    // the guard rides IN the plan (raise_error over a 1-row broadcast —
    // no separate job), so the failure surfaces when the query RUNS,
    // wrapped by Spark's task machinery: search the message chain
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val lDup = Seq((1L, ts(8), 1L), (1L, ts(40), 1L), (2L, ts(9), 3L))
      .toDF("k", "t", "a") // id 1 duplicated
    val r = Seq((1L, ts(12), 10L)).toDF("k", "t", "b")
    // the guard launches NO Spark job of its own at construction time (it
    // rides the query's action; the pre-r18 driver-side require ran an
    // eager aggregation job per outer side per execution) — pinned FIRST,
    // before any action in this test can leave async job-count residue
    val jobsBefore = sp.sparkContext.statusTracker.getJobIdsForGroup(null).length
    JoinOps.rangeJoin(lDup, r, "k", "t", widthUs = 10000000L,
      lOut = Seq("a"), rOut = Seq("b"), joinType = "left_outer",
      checkIds = true) // construction only — nothing executes
    val jobsAfter = sp.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter == jobsBefore,
      s"checkIds guard launched ${jobsAfter - jobsBefore} job(s) at construction")
    val e = intercept[Exception] {
      JoinOps.rangeJoin(lDup, r, "k", "t", widthUs = 10000000L,
        lOut = Seq("a"), rOut = Seq("b"), joinType = "left_outer",
        checkIds = true).collect()
    }
    assert(msgChain(e).contains("not unique"), msgChain(e))
    // the right side's guard fires for right/full too
    val rDup = Seq((1L, ts(12), 10L), (2L, ts(30), 10L)).toDF("k", "t", "b")
    val l = Seq((1L, ts(8), 1L)).toDF("k", "t", "a")
    val e2 = intercept[Exception] {
      JoinOps.rangeJoin(l, rDup, "k", "t", widthUs = 10000000L,
        lOut = Seq("a"), rOut = Seq("b"), joinType = "full_outer",
        checkIds = true).collect()
    }
    assert(msgChain(e2).contains("right id column 'b'"), msgChain(e2))
    // unique ids under the guard behave exactly as without it
    val ok = JoinOps.rangeJoin(l, r, "k", "t", widthUs = 10000000L,
      lOut = Seq("a"), rOut = Seq("b"), joinType = "left_outer",
      checkIds = true)
      .collect().map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    assert(ok == Set((1L, 10L)), s"got $ok")
    // and the guard is FREE for inner joins: duplicate ids are legal
    // there (only l@8s matches r@12s — l@40s's [40,50) window misses)
    val inner = JoinOps.rangeJoin(lDup, r, "k", "t", 10000000L,
      Seq("a"), Seq("b"), checkIds = true)
    assert(inner.collect().length == 1, "inner join must not enforce id uniqueness")
  }

  test("rangeJoin checkIds: NULL ids are rejected, never re-emitted as fake misses") {
    // r14 ADVICE: count/count_distinct both skip NULLs, so a NULL id used
    // to pass the uniqueness guard — but a MATCHED null-id row never
    // equi-matches inner's id set in the anti-join miss sweep and would be
    // duplicated as a partnerless miss. The guard must reject it loudly.
    val sp = spark
    import sp.implicits._
    val lNull = Seq((1L, ts(8), Option(1L)), (2L, ts(9), Option.empty[Long]))
      .toDF("k", "t", "a")
    val r = Seq((1L, ts(12), 10L)).toDF("k", "t", "b")
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val e = intercept[Exception] {
      JoinOps.rangeJoin(lNull, r, "k", "t", widthUs = 10000000L,
        lOut = Seq("a"), rOut = Seq("b"), joinType = "left_outer",
        checkIds = true).collect()
    }
    assert(msgChain(e).contains("NULL"), msgChain(e))
  }

  test("rangeJoinInterval: two-sided window via the clock-shift reduction") {
    val sp = spark
    import sp.implicits._
    val l = Seq((1L, ts(20), 1L)).toDF("k", "t", "a")
    val r = Seq((1L, ts(11), 10L), (1L, ts(10), 11L), (1L, ts(29), 12L),
      (1L, ts(30), 13L), (2L, ts(20), 14L)).toDF("k", "t", "b")
    // [t-10s, t+10s): 11s and 29s are in; the lower bound is INCLUSIVE
    // (10s in), the upper EXCLUSIVE (30s out); other keys never pair
    val got = JoinOps.rangeJoinInterval(l, r, "k", "t",
        loUs = -10000000L, hiUs = 10000000L, lOut = Seq("a"), rOut = Seq("b"))
      .collect().map(x => x.getLong(1)).toSet
    assert(got == Set(10L, 11L, 12L), s"got $got")
    // exactly-once: no duplicate pairs across the shifted band edges
    val many = (0 until 200).map(i => (1L, ts(i), i.toLong))
    val lm = many.toDF("k", "t", "a")
    val rm = many.toDF("k", "t", "b")
    val pairs = JoinOps.rangeJoinInterval(lm, rm, "k", "t",
        loUs = -7000000L, hiUs = 7000000L, lOut = Seq("a"), rOut = Seq("b"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(pairs.length == pairs.distinct.length, "duplicate pairs")
    // [t-7s, t+7s): lo INCLUSIVE (j = i-7 in), hi EXCLUSIVE (j = i+7 out)
    assert(pairs.length == many.map { case (_, _, i) =>
      many.count { case (_, _, j) => j >= i - 7 && j <= i + 6 } }.sum)
  }

  test("rangeJoin fuzz: every join type and a two-sided interval match brute force") {
    // small timestamp grid over few keys → band-edge collisions,
    // simultaneous rows, empty windows and partnerless rows constantly
    val rnd = new scala.util.Random(20250816)
    val sp = spark
    import sp.implicits._
    val lRows = (0 until 120).map(i => (rnd.nextInt(5).toLong, ts(rnd.nextInt(60)), i.toLong))
    val rRows = (0 until 90).map(i => (rnd.nextInt(5).toLong, ts(rnd.nextInt(60)), 1000L + i))
    val l = lRows.toDF("k", "t", "a")
    val r = rRows.toDF("k", "t", "b")
    val wUs = 7000000L // 7 s window
    def bruteInner =
      for ((k, lt, a) <- lRows; (k2, rt, b) <- rRows
           if k == k2 && rt.getTime >= lt.getTime && rt.getTime < lt.getTime + 7000)
        yield (a, b)
    val inner = bruteInner.toSet
    def got(jt: String) = JoinOps.rangeJoin(l, r, "k", "t", wUs,
        Seq("a"), Seq("b"), joinType = jt).collect()
      .map(x => (if (x.isNullAt(0)) -1L else x.getLong(0),
        if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    assert(got("inner") == inner)
    val lMiss = lRows.map(_._3).filterNot(inner.map(_._1).contains).map((_, -1L))
    val rMiss = rRows.map(_._3).filterNot(inner.map(_._2).contains).map((-1L, _))
    assert(got("left_outer") == inner ++ lMiss)
    assert(got("right_outer") == inner ++ rMiss)
    assert(got("full_outer") == inner ++ lMiss ++ rMiss)
    assert(lMiss.nonEmpty && rMiss.nonEmpty,
      "fuzz corpus must actually exercise both miss sides")
    // two-sided interval [t-5s, t+3s) via the clock-shift reduction
    val gotIv = JoinOps.rangeJoinInterval(l, r, "k", "t",
        loUs = -5000000L, hiUs = 3000000L, lOut = Seq("a"), rOut = Seq("b"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val wantIv =
      (for ((k, lt, a) <- lRows; (k2, rt, b) <- rRows
            if k == k2 && rt.getTime >= lt.getTime - 5000 && rt.getTime < lt.getTime + 3000)
        yield (a, b)).toSet
    assert(gotIv == wantIv)
  }

  test("sessionize: per-user windows share one exchange, no global sort before agg") {
    val sp = spark
    import sp.implicits._
    val ev = Seq((1L, ts(1), 1L), (1L, ts(5), 2L), (1L, ts(4000), 3L),
      (2L, ts(2), 4L)).toDF("user_id", "ts", "event_id")
      .selectExpr("CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_id",
        "CAST(0.0 AS DOUBLE) AS value")
    // reuse the registered gate's construction via a local rebuild: the
    // lag flag and the running sum must ride the SAME (user, ts) window
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val df = ev
      .withColumn("brk", when(coalesce(unix_micros(col("ts")) -
        unix_micros(lag("ts", 1).over(w)), lit(Long.MaxValue)) >
        lit(30L * 60 * 1000000), 1L).otherwise(0L))
      .withColumn("sid", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 1: events at 1s/5s in one session, 4000s opens a second;
    // user 2: its own single session — labels never leak across users
    assert(got == Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)), s"got $got")
    // AQE prints the Final AND Initial plan; count the final one only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // one hash exchange on user_id feeds BOTH window passes + the agg;
    // every non-broadcast Exchange counts, so no global sort can hide
    // behind a range or single-partition exchange
    val shuffles = "\\bExchange \\w+".r.findAllIn(plan).toSeq
    assert(shuffles.size == 1, s"sessionize must shuffle once:\n$plan")
    assert(shuffles == Seq("Exchange hashpartitioning"),
      "per-user sessionization must never global-sort the corpus")
  }

  test("rangeJoin: exactly-once pairs across band boundaries, no cartesian") {
    val sp = spark
    import sp.implicits._
    // width 10s; pairs that straddle a band edge (8s->12s) must appear
    // exactly once, in-band pairs once, out-of-range never
    val ev = Seq((1L, ts(8), 1L), (1L, ts(12), 2L), (1L, ts(17), 3L),
      (1L, ts(40), 4L), (2L, ts(9), 5L))
      .toDF("k", "t", "id")
    val l = ev.selectExpr("k", "t", "id AS a")
    val r = ev.selectExpr("k", "t", "id AS b")
    val df = JoinOps.rangeJoin(l, r, "k", "t", widthUs = 10000000L,
      lOut = Seq("a"), rOut = Seq("b"))
      .where("a <> b")
    val got = df.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got.size == got.distinct.size, s"duplicate pairs: $got")
    assert(got.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"pair set wrong: $got")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "banding must equi-join")
  }
}
