package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Ev

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("session windows merge gap-close events and split on gaps") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[Ev]
    val q = StreamOps.sessionStats(in.toDS(), gap = "5 seconds")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 1: events at 1s, 3s (one session), then 20s (a new session:
      // gap > 5s); user 2: single event
      in.addData(Ev(ts(1), 1, 10.0), Ev(ts(3), 1, 5.0), Ev(ts(20), 1, 2.0),
        Ev(ts(2), 2, 7.0))
      q.processAllAvailable()
      in.addData(Ev(ts(120), 9, 0.0)) // advance watermark → close sessions
      q.processAllAvailable()
      val rows = sp.sql("SELECT user, n, s FROM sess ORDER BY user, s")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.contains((1L, 1L, 2.0)), s"split session missing: ${rows.toSeq}")
      assert(rows.contains((1L, 2L, 15.0)), s"merged session missing: ${rows.toSeq}")
      assert(rows.contains((2L, 1L, 7.0)), s"user-2 session missing: ${rows.toSeq}")
    } finally q.stop()
  }

  test("watermarked sliding window finalizes closed windows, drops late rows") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[Ev]
    val q = StreamOps.slidingStats(in.toDS())
      .writeStream.format("memory").queryName("sw").outputMode("append").start()
    try {
      in.addData(Ev(ts(1), 1, 10.0), Ev(ts(3), 2, 20.0), Ev(ts(7), 1, 5.0))
      q.processAllAvailable()
      // push the watermark far ahead so earlier windows close
      in.addData(Ev(ts(60), 3, 1.0))
      q.processAllAvailable()
      // a very late row: behind the watermark, must be dropped
      in.addData(Ev(ts(2), 9, 999.0))
      q.processAllAvailable()
      in.addData(Ev(ts(120), 3, 1.0))
      q.processAllAvailable()
      val rows = spark.table("sw")
        .selectExpr("CAST(ws AS LONG) AS w", "n", "s").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // window [0,10) holds all three early events; [5,15) holds the t=7 row
      assert(rows.contains((0L, 3L, 35.0)), s"got $rows")
      assert(rows.contains((5L, 1L, 5.0)), s"got $rows")
      // the late 999.0 row appears nowhere
      assert(!rows.exists(_._3 == 999.0), s"late row leaked: $rows")
    } finally q.stop()
  }

  test("streaming dedup emits each distinct text once across batches") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[StreamOps.Doc]
    val q = StreamOps.dedupStream(in.toDS())
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      in.addData(
        StreamOps.Doc(ts(1), 1, "alpha"), StreamOps.Doc(ts(2), 2, "beta"),
        StreamOps.Doc(ts(3), 3, "alpha")) // dup of doc 1 in-batch
      q.processAllAvailable()
      in.addData(StreamOps.Doc(ts(4), 4, "beta"), // dup across batches
        StreamOps.Doc(ts(5), 5, "gamma"))
      q.processAllAvailable()
      val ids = spark.table("dd").collect().map(_.getLong(1)).toSet
      assert(ids == Set(1L, 2L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the dimension") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user", "segment")
    val in = MemoryStream[Ev]
    val q = StreamOps.enrich(in.toDS(), dim)
      .select("user", "segment", "value")
      .writeStream.format("memory").queryName("en").outputMode("append").start()
    try {
      in.addData(Ev(ts(1), 1, 10.0), Ev(ts(2), 2, 20.0), Ev(ts(3), 3, 30.0))
      q.processAllAvailable()
      val rows = spark.table("en").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      // inner join: the unmapped user 3 drops; mapped users carry segments
      assert(rows == Set((1L, "gold", 10.0), (2L, "silver", 20.0)), s"got $rows")
    } finally q.stop()
  }

  test("windowed approx quantiles finalize per window with bounded sketch state") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[Ev]
    val q = StreamOps.windowedQuantiles(in.toDS(), Seq(0.5))
      .writeStream.format("memory").queryName("wq").outputMode("append").start()
    try {
      // window [0,10): values 1..9 → exact median 5 (GK at accuracy 1000
      // is exact for 9 values)
      in.addData((1 to 9).map(i => Ev(ts(i), i.toLong, i.toDouble)): _*)
      q.processAllAvailable()
      in.addData(Ev(ts(60), 1, 100.0)) // advance watermark, close [0,10)
      q.processAllAvailable()
      in.addData(Ev(ts(120), 1, 0.0))
      q.processAllAvailable()
      val rows = spark.table("wq")
        .selectExpr("CAST(ws AS LONG) AS w", "qs[0] AS med", "n").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      assert(rows.exists { case (w, med, n) => w == 0L && n == 9L && med == 5.0 },
        s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("mapGroupsWithState keeps per-key running totals across batches") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[Ev]
    val q = StreamOps.runningTotals(in.toDS())
      .writeStream.format("memory").queryName("rt").outputMode("update").start()
    try {
      in.addData(Ev(ts(1), 1, 10.0), Ev(ts(2), 1, 5.0), Ev(ts(3), 2, 7.0))
      q.processAllAvailable()
      in.addData(Ev(ts(4), 1, 1.5))
      q.processAllAvailable()
      val last = spark.table("rt").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3) }
      assert(last(1L) == ((1L, 16.5, 3L)), s"got $last")
      assert(last(2L) == ((2L, 7.0, 1L)), s"got $last")
    } finally q.stop()
  }

  test("streaming k-means assignment replays the batch e13 scoring kernel") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.Vec
    // 3 centroids on the refined grid: quantized axis vectors × KM_G
    val g = graft.operators.EmbeddingQueries.KM_G
    def m(axis: Int) =
      Array.tabulate(4)(i => if (i == axis) 4096L * g else 0L)
    val cent = Seq((0L, m(0)), (1L, m(1)), (2L, m(2)))
    val vecs = Seq(
      Vec(ts(1), 10L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // → 0
      Vec(ts(2), 11L, Array(-0.2f, 0.8f, 0.1f, 0.0f)), // → 1
      Vec(ts(3), 12L, Array(0.0f, 0.3f, 0.7f, 0.0f)),  // → 2
      Vec(ts(4), 13L, Array(0.5f, 0.5f, 0.0f, 0.0f)))  // tie → lowest c = 0
    val in = MemoryStream[Vec]
    val q = StreamOps.assignVectors(in.toDS(), cent)
      .writeStream.format("memory").queryName("assigned").outputMode("append").start()
    try {
      in.addData(vecs: _*)
      q.processAllAvailable()
      val streamed = sp.table("assigned").orderBy("vec_id")
        .select("vec_id", "c").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(streamed.toSeq == Seq((10L, 0L), (11L, 1L), (12L, 2L), (13L, 0L)))
      // the batch side: identical kernel text over the same rows
      graft.functions.GraftFunctions.register(sp)
      import graft.operators.EmbeddingQueries.{kmeansCaseSql, kmeansQuantizeSql, kmeansScoreSqls}
      val batch = sp.createDataset(vecs).toDF()
        .selectExpr("vec_id", kmeansQuantizeSql)
        .selectExpr("vec_id", "transform(p, x -> CAST(x AS DOUBLE)) AS pD")
        .selectExpr(Seq("vec_id") ++ kmeansScoreSqls(cent): _*)
        .selectExpr("vec_id", s"${kmeansCaseSql(cent)} AS c")
        .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming IVF-PQ serving: coarse probe + in-cell ADC top-k, stateless") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.Vec
    // two cells with axis-aligned centroids; corpus = 4 coded vectors
    val cent = Seq(
      (0L, Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)),
      (1L, Array.tabulate(64)(i => if (i == 8) 1.0 else 0.0)))
    val codes = Seq(
      (0L, 10L, 1, 2, 3, 4, 5, 6, 7, 8),
      (0L, 11L, 15, 14, 13, 12, 11, 10, 9, 8),
      (1L, 20L, 0, 1, 0, 1, 0, 1, 0, 1),
      (1L, 21L, 3, 3, 3, 3, 3, 3, 3, 3))
      .toDF("label", "vec_id", "c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7")
    // queries: one lands in cell 0, one in cell 1
    def q(hot: Int) = Array.tabulate(64)(i => if (i == hot) 0.9f else 0.01f)
    val vecs = Seq(Vec(ts(1), 100L, q(0)), Vec(ts(2), 101L, q(8)))
    val in = MemoryStream[Vec]
    val query = StreamOps.searchVectors(in.toDS(), codes, cent, k = 2)
      .writeStream.format("memory").queryName("hits").outputMode("append").start()
    try {
      in.addData(vecs: _*)
      query.processAllAvailable()
      val got = sp.table("hits").orderBy("qid", "rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      // local model: same fold order as the shared ADC kernel
      def adc(qe: Array[Float], cs: Seq[Int]): Double = {
        val raw = (0 until 8).map { sub =>
          (0 until 8).foldLeft(0.0)((acc, d) =>
            acc + qe(sub * 8 + d).toDouble *
              graft.operators.EmbeddingQueries.pqWeight(sub, cs(sub), d))
        }.sum
        BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val cellOf = Map(100L -> 0L, 101L -> 1L)
      val expect = vecs.flatMap { v =>
        val cands = codes.collect().filter(_.getLong(0) == cellOf(v.vec_id))
          .map(r => (r.getLong(1), adc(v.embedding, (2 to 9).map(r.getInt))))
        cands.sortBy(t => (-t._2, t._1)).take(2).zipWithIndex
          .map { case ((vid, a), i) => (v.vec_id, vid, a, i + 1) }
      }
      assert(got.toSeq == expect, s"got ${got.toSeq}\nwant $expect")
    } finally query.stop()
  }

  test("streaming doc scoring replays the batch t02/t04 kernels bit-identically") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.Doc
    // the corpus "languages" are synthetic marker vocabularies
    // (TextQueries.langMarkers): en=order/window, de=customer/hash,
    // fr=scan/batch
    val docsSeq = Seq(
      Doc(ts(1), 1L, "the order hit a window in the order stream."),
      Doc(ts(2), 2L, "customer sent a hash and the customer left!"),
      Doc(ts(3), 3L, "a scan of the batch, then a scan again."))
    val in = MemoryStream[Doc]
    val q = StreamOps.scoreDocs(in.toDS())
      .writeStream.format("memory").queryName("scored").outputMode("append").start()
    try {
      in.addData(docsSeq: _*)
      q.processAllAvailable()
      val streamed = sp.table("scored").orderBy("doc_id").collect().map(_.toSeq.drop(1))
      // the batch side: identical kernel text over the same rows
      val batch = sp.createDataset(docsSeq).toDF()
        .selectExpr(Seq("doc_id") ++
          graft.operators.TextQueries.qualitySqls :+
          s"${graft.operators.TextQueries.langidSql} AS pred": _*)
        .orderBy("doc_id").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      // langid sanity on the markers
      val preds = sp.table("scored").orderBy("doc_id").collect().map(_.getString(7))
      assert(preds.toSeq == Seq("en", "de", "fr"), preds.toSeq.toString)
    } finally q.stop()
  }

  test("streaming classifier inference replays the batch t23 scoring exactly") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.Doc
    val docsSeq = Seq(
      Doc(ts(1), 1L, "the order hit a window in the order stream."),
      Doc(ts(2), 2L, "customer sent a hash and the customer left!"),
      Doc(ts(3), 3L, "zz"))
    val in = MemoryStream[Doc]
    val q = StreamOps.classifyDocs(in.toDS())
      .writeStream.format("memory").queryName("classified").outputMode("append").start()
    try {
      in.addData(docsSeq: _*)
      q.processAllAvailable()
      val streamed = sp.table("classified").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      // the batch side: the t23 SQL weight over the same signature kernel
      val batch = docsSeq.map { d =>
        val s = graft.functions.TextSig.sig(d.doc_id, d.text).dhl
          .map(h => (h % 1024) * 2654435761L % 13 - 6).sum
        (d.doc_id, s, s > 0)
      }
      assert(streamed.toSeq == batch)
    } finally q.stop()
  }

  test("streaming decontamination drops docs whose hash is in the eval set") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.Doc
    val in = MemoryStream[Doc]
    val evalSet = sp.createDataset(Seq("held-out benchmark item")).toDF("text")
      .selectExpr("md5(text) AS h")
    val q = StreamOps.filterContaminated(in.toDS(), evalSet)
      .writeStream.format("memory").queryName("decon").outputMode("append").start()
    try {
      in.addData(
        Doc(ts(1), 1L, "ordinary training text"),
        Doc(ts(2), 2L, "held-out benchmark item"), // contaminated — dropped
        Doc(ts(3), 3L, "another clean doc"))
      q.processAllAvailable()
      val kept = sp.table("decon").collect().map(_.getLong(1)).sorted
      assert(kept.toSeq == Seq(1L, 3L), s"got ${kept.toSeq}")
    } finally q.stop()
  }

  test("bloom-prefiltered streaming decontamination matches the exact contract") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.Doc
    val evalTexts = sp.createDataset(
      Seq("held-out benchmark item", "another eval prompt")).toDF("text")
    // tiny filter (fpp near 1) so the confirm path is genuinely exercised
    val blob = graft.functions.Bloom
      .buildBlob(evalTexts, "text", expectedItems = 2, fpp = 0.5).get
    val in = MemoryStream[Doc]
    val q = StreamOps.filterContaminatedBloom(in.toDS(), blob, evalTexts)
      .writeStream.format("memory").queryName("bloomdecon").outputMode("append").start()
    try {
      in.addData(
        Doc(ts(1), 1L, "ordinary training text"),
        Doc(ts(2), 2L, "held-out benchmark item"), // contaminated — dropped
        Doc(ts(3), 3L, "another clean doc"),
        Doc(ts(4), 4L, "another eval prompt")) // contaminated — dropped
      q.processAllAvailable()
      val kept = sp.table("bloomdecon").collect().map(_.getLong(1)).sorted
      assert(kept.toSeq == Seq(1L, 3L), s"got ${kept.toSeq}")
    } finally q.stop()
  }

  test("streaming near-dup candidates: bucket-windowed pairs, bounded state") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.SigDoc
    val in = MemoryStream[SigDoc]
    // w = 2: each doc pairs with at most the 2 most recent in its bucket
    val q = StreamOps.nearDupCandidates(in.toDS(), w = 2)
      .writeStream.format("memory").queryName("nd").outputMode("append").start()
    try {
      // bucket (0,5): docs 1, 2 with signatures 2 bits apart; bucket
      // (1,9): doc 3 alone — no cross-bucket pairs
      in.addData(
        SigDoc(ts(1), 1L, 0, 5L, 0xF0L),
        SigDoc(ts(2), 2L, 0, 5L, 0xF3L),
        SigDoc(ts(2), 3L, 1, 9L, 0xF0L))
      q.processAllAvailable()
      // same bucket, later: doc 4 pairs with docs 3..eh, with the last 2
      // = (2, 1); then doc 5 pairs with (4, 2) only — doc 1 fell out of
      // the w=2 window, proving the state bound
      in.addData(SigDoc(ts(3), 4L, 0, 5L, 0xF0L))
      q.processAllAvailable()
      in.addData(SigDoc(ts(4), 5L, 0, 5L, 0xF3L))
      q.processAllAvailable()
      val pairs = sp.table("nd").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(pairs == Set(
        (1L, 2L, 2),  // batch 1, shared bucket
        (1L, 4L, 0), (2L, 4L, 2), // doc 4 vs the last two
        (2L, 5L, 0), (4L, 5L, 2)  // doc 5 vs the last two — NOT doc 1
      ), s"got $pairs")
    } finally q.stop()
  }

  test("near-dup eviction timeout clamps above the watermark (evictAfterMs < delay)") {
    // evictAfterMs far below the 10s watermark delay: unclamped, the
    // timeout would land at-or-before the current watermark and Spark
    // would fail the stream with IllegalArgumentException on the next
    // batch. The clamp must keep the query running and still emit pairs.
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.SigDoc
    val in = MemoryStream[SigDoc]
    val q = StreamOps.nearDupCandidates(in.toDS(), w = 2, evictAfterMs = 1L)
      .writeStream.format("memory").queryName("ndclamp").outputMode("append").start()
    try {
      in.addData(
        SigDoc(ts(1), 1L, 0, 5L, 0xF0L),
        SigDoc(ts(2), 2L, 0, 5L, 0xF3L))
      q.processAllAvailable()
      // advance the watermark well past batch 1's state timeouts, then
      // keep feeding the same bucket — the stream must survive the
      // timeout handling and keep emitting
      in.addData(SigDoc(ts(60), 3L, 0, 5L, 0xF0L))
      q.processAllAvailable()
      in.addData(SigDoc(ts(61), 4L, 0, 5L, 0xF1L))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
      val pairs = sp.table("ndclamp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"got $pairs")
      assert(pairs.contains((3L, 4L)), s"got $pairs")
    } finally q.stop()
  }

  test("streaming sequence packing: per-source running offset, one-Long state") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.SrcDoc
    val in = MemoryStream[SrcDoc]
    // window of 5 tokens so bins roll over quickly
    val q = StreamOps.packSequences(in.toDS(), window = 5L)
      .writeStream.format("memory").queryName("pack").outputMode("append").start()
    try {
      // source A: 3 + 4 tokens; source B: 2 tokens — independent offsets
      in.addData(
        SrcDoc(ts(1), 1L, "A", "a b c"),
        SrcDoc(ts(2), 2L, "A", "d e f g"),
        SrcDoc(ts(1), 10L, "B", "x y"))
      q.processAllAvailable()
      // batch 2 continues A's offset (3+4=7 -> doc 3 starts at 7, bin 1;
      // then 7+6=13 -> doc 4 starts bin 2) and B's (2 -> bin 0)
      in.addData(
        SrcDoc(ts(3), 3L, "A", "h i j k l m"),
        SrcDoc(ts(4), 4L, "A", "n"),
        SrcDoc(ts(3), 11L, "B", "z w v"))
      q.processAllAvailable()
      val got = sp.table("pack").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set(
        ("A", 1L, 3L, 0L),  // starts at 0   -> bin 0
        ("A", 2L, 4L, 0L),  // starts at 3   -> bin 0
        ("A", 3L, 6L, 1L),  // starts at 7   -> bin 1
        ("A", 4L, 1L, 2L),  // starts at 13  -> bin 2
        ("B", 10L, 2L, 0L), // starts at 0   -> bin 0
        ("B", 11L, 3L, 0L)  // starts at 2   -> bin 0
      ), s"got $got")
    } finally q.stop()
  }

  test("streaming mixture sampler is stateless and replays identically") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    def run(name: String): Set[Long] = {
      val in = MemoryStream[StreamOps.SrcDoc]
      val q = StreamOps.mixtureSample(in.toDS(),
          rates = Map("web" -> 0.5), defaultRate = 1.0)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        in.addData((0L until 40L).map(i =>
          StreamOps.SrcDoc(ts(i.toInt + 1), i, if (i % 2 == 0) "web" else "book", "x")): _*)
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(1)).toSet
      } finally q.stop()
    }
    val first = run("mix1")
    // every non-web doc survives (rate 1.0); web docs are subsampled
    val books = (0L until 40L).filter(_ % 2 == 1).toSet
    assert(books.subsetOf(first), s"default-rate docs dropped: $first")
    val webKept = first -- books
    assert(webKept.nonEmpty && webKept.size < 20, s"web not subsampled: $webKept")
    // replay determinism: a second run keeps the exact same set
    assert(run("mix2") == first)
  }

  test("streaming DSIR scoring equals an independent per-doc fold, bit for bit") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    // a deliberately lumpy trained table: negative, zero, positive buckets
    val lr = Array.tabulate(64)(b => (b % 7).toLong * 250000L - 500000L)
    def bucket(t: String): Int =
      math.floorMod(t.length * 31 + t.head.toInt, 64)
    def expected(text: String): Long =
      text.split(' ').filter(_.nonEmpty).map(t => lr(bucket(t))).sum
    val texts = Seq("key agg row scan", "slow fast  table", "", "a b c d e f",
      "spark value hash merge batch window sort")
    val in = MemoryStream[StreamOps.Doc]
    val q = StreamOps.dsirScore(in.toDS(), lr)
      .writeStream.format("memory").queryName("dsir").outputMode("append").start()
    try {
      // two micro-batches: stateless scoring must not care where the cut is
      in.addData(texts.take(2).zipWithIndex.map { case (t, i) =>
        StreamOps.Doc(ts(i + 1), i.toLong, t) }: _*)
      q.processAllAvailable()
      in.addData(texts.drop(2).zipWithIndex.map { case (t, i) =>
        StreamOps.Doc(ts(i + 3), (i + 2).toLong, t) }: _*)
      q.processAllAvailable()
      val got = spark.table("dsir").collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == expected(t), s"doc $i: '$t'")
      }
    } finally q.stop()
  }

  test("streaming span dedup drops a duplicated doc's spans across batches") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[StreamOps.Doc]
    val q = StreamOps.spanDedupStream(in.toDS(), spanTokens = 2)
      .writeStream.format("memory").queryName("spd").outputMode("append").start()
    try {
      in.addData(StreamOps.Doc(ts(1), 1, "a b c d"), // spans: "a b", "c d"
        StreamOps.Doc(ts(2), 2, "a b x y"))          // "a b" dup, "x y" new
      q.processAllAvailable()
      in.addData(StreamOps.Doc(ts(3), 3, "c d x y")) // both spans are dups
      q.processAllAvailable()
      val got = spark.table("spd").collect()
        .map(r => (r.getLong(1), r.getInt(2))).toSet
      assert(got == Set((1L, 0), (1L, 1), (2L, 1)), s"got $got")
    } finally q.stop()
  }

  test("streaming gopher signals equal the batch t26 gate bit-for-bit") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("t26_gopher_signals")(sp, sf)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    val docsIn = sp.read.parquet(s"$sf/documents.parquet")
      .where("doc_id < 40")
      .selectExpr("CAST(doc_id AS TIMESTAMP) AS ts", "doc_id", "text")
      .as[StreamOps.Doc].collect()
    val in = MemoryStream[StreamOps.Doc]
    val q = StreamOps.gopherSignals(in.toDS())
      .writeStream.format("memory").queryName("gopher").outputMode("append").start()
    try {
      in.addData(docsIn.toSeq: _*)
      q.processAllAvailable()
      val online = spark.table("gopher").collect()
        .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2), r.getBoolean(3))))
        .toMap
      assert(online.keySet == batch.keySet,
        s"doc sets differ: ${online.keySet.diff(batch.keySet)} / ${batch.keySet.diff(online.keySet)}")
      batch.foreach { case (id, b) =>
        assert(online(id) == b, s"doc $id: online ${online(id)} vs batch $b")
      }
    } finally q.stop()
  }

  test("streaming hash sample converges to the batch t30 result") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val sf = "/root/testdata/sf0.001"
    val all = sp.read.parquet(s"$sf/documents.parquet")
      .selectExpr("CAST(doc_id AS TIMESTAMP) AS ts", "doc_id", "source", "text")
      .as[StreamOps.SrcDoc].collect()
    val (b1, b2) = all.splitAt(all.length / 2)
    val in = MemoryStream[StreamOps.SrcDoc]
    val q = StreamOps.hashSample(in.toDS(), k = 5)
      .writeStream.format("memory").queryName("hsample").outputMode("update").start()
    try {
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      val rows = spark.table("hsample").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // current sample per source = its max-version emission
      val latest = rows.groupBy(_._1).map { case (src, rs) =>
        val mv = rs.map(_._2).max
        src -> rs.filter(_._2 == mv).sortBy(_._3).map(t => (t._4, t._5)).toSeq
      }
      def coin(id: Long) = (1103515245L * (id % 2147483648L) + 12345L) % 2147483648L
      val expected = all.groupBy(_.source).map { case (src, ds) =>
        src -> ds.map(d => (coin(d.doc_id), d.doc_id)).toSeq
          .distinct.sorted.take(5).map(t => (t._2, t._1))
      }
      assert(latest == expected, s"latest $latest\nexpected $expected")
    } finally q.stop()
  }

  test("gopher signals: non-BMP parity — code points, not UTF-16 units") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    // Non-BMP text: every 🍕 is 2 UTF-16 units but 1 code point, so a
    // String.length-based kernel inflates `chars` (and gram lengths)
    // and the shares drift from the batch gate (SQL length() = code
    // points). doc 10 also repeats a 5-gram containing emoji so
    // dup5_share exercises the gram-length path, and its shares sit
    // near the keep thresholds where unit-vs-point drift flips keep.
    val texts = Seq(
      (10L, "🍕 a 🍕 a 🍕 a 🍕 a 🍕 a 🍕 a 🍕 a b c d e f g h i j k"),
      (11L, "x 😀😀 y z x 😀😀 y z w q r s t u v"))
    // batch expected: the t26 kernel verbatim over an in-memory frame
    val batchDocs = texts.toDF("doc_id", "text")
    batchDocs.createOrReplaceTempView("gopher_nonbmp")
    val expected = sp.sql("""
      WITH words AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS chars,
               posexplode(split(text, ' ')) AS (pos, w)
        FROM gopher_nonbmp),
      g2 AS (
        SELECT doc_id, chars, g, count(1) AS c FROM (
          SELECT doc_id, chars,
                 concat_ws(' ', w, lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)) AS g
          FROM words)
        WHERE size(split(g, ' ')) = 2 GROUP BY doc_id, chars, g),
      top2 AS (
        SELECT doc_id, round(CAST(c * length(g) AS DOUBLE) / chars, 6) AS top2_share
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM g2)
        WHERE rn = 1),
      g5 AS (
        SELECT doc_id, chars, g, count(1) AS c FROM (
          SELECT doc_id, chars,
                 concat_ws(' ', w,
                   lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos),
                   lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos),
                   lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos),
                   lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos)) AS g
          FROM words)
        WHERE size(split(g, ' ')) = 5 GROUP BY doc_id, chars, g),
      dup5 AS (
        SELECT doc_id, round(CAST(sum(c * length(g)) AS DOUBLE) / chars, 6) AS dup5_share
        FROM g5 WHERE c > 1 GROUP BY doc_id, chars)
      SELECT t.doc_id, top2_share, coalesce(dup5_share, 0.0) AS dup5_share,
             top2_share < 0.20 AND coalesce(dup5_share, 0.0) < 0.15 AS keep
      FROM top2 t LEFT JOIN dup5 d ON t.doc_id = d.doc_id""")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // sanity: the emoji doc's dup5 path is actually exercised
    assert(expected(10L)._2 > 0.0, s"test fixture: doc 10 should have dup 5-grams, got $expected")
    val in = MemoryStream[StreamOps.Doc]
    val q = StreamOps.gopherSignals(in.toDS())
      .writeStream.format("memory").queryName("gopher_nb").outputMode("append").start()
    try {
      in.addData(texts.map { case (id, t) => StreamOps.Doc(ts(1), id, t) }: _*)
      q.processAllAvailable()
      val online = spark.table("gopher_nb").collect()
        .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2), r.getBoolean(3)))).toMap
      assert(online == expected, s"online $online vs batch $expected")
    } finally q.stop()
  }

  test("tiledb sink: one committed fragment set per batch, upsert shadows") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val uri = {
      val d = java.nio.file.Files.createTempDirectory("graft-tdb-stream").toString
      java.nio.file.Files.delete(java.nio.file.Paths.get(d)); d
    }
    graft.sources.TileDb.createArray(sp, uri,
      graft.sources.TileDb.Schema(Seq(200L), Seq(50L)))
    val in = MemoryStream[(Long, Double)]
    val q = StreamOps.tiledbSink(
      in.toDS().toDF("idx", "v"), uri, blockCells = 50L).start()
    try {
      // batch 0: append rows [0, 100)
      in.addData((0L until 100L).map(i => (i, i.toDouble)): _*)
      q.processAllAvailable()
      // batch 1: contiguous upsert of [40, 80) with negated values
      in.addData((40L until 80L).map(i => (i, -i.toDouble)): _*)
      q.processAllAvailable()
      val got = graft.sources.TileDb.read(sp, uri).orderBy("idx")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.length == 200)
      got.foreach { case (i, v) =>
        val want =
          if (i >= 40 && i < 80) -i.toDouble        // batch 1 shadows
          else if (i < 100) i.toDouble              // batch 0
          else 0.0                                  // never written: fill
        assert(v == want, s"idx $i: got $v want $want")
      }
    } finally q.stop()
  }

  test("stream-stream interval join pairs in-window events, evicts behind watermark") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[StreamOps.EvId]
    // tight windows so the test drives eviction: pair within 10 s, state
    // held for a 20 s watermark delay
    val q = StreamOps.intervalJoin(in.toDS(), window = "10 seconds",
        watermark = "20 seconds")
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    def pairs() = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      // user 1: events at 1 s and 5 s → one in-window pair (1→2);
      // user 2: single event, no pair
      in.addData(StreamOps.EvId(ts(1), 1, 1), StreamOps.EvId(ts(5), 1, 2),
        StreamOps.EvId(ts(3), 2, 3))
      q.processAllAvailable()
      // a cross-batch match still inside the window: 5 s → 12 s
      in.addData(StreamOps.EvId(ts(12), 1, 4))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 1L, 2L), (1L, 2L, 4L)),
        s"in-window pairs wrong: ${pairs()}")
      // advance the watermark far past the early events (wm → 980 s):
      // their join state is evicted
      in.addData(StreamOps.EvId(ts(1000), 9, 99))
      q.processAllAvailable()
      // a late row behind the watermark: inside id-2's window by event
      // time, but the state is gone and the row itself is discarded —
      // the bounded-state trade the operator documents
      in.addData(StreamOps.EvId(ts(8), 1, 5))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 1L, 2L), (1L, 2L, 4L)),
        s"late row must not resurrect evicted state: ${pairs()}")
    } finally q.stop()
  }

  test("left-outer interval join: NULL rows only for unmatched, only after eviction") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[StreamOps.EvId]
    val q = StreamOps.intervalJoin(in.toDS(), window = "10 seconds",
        watermark = "20 seconds", joinType = "left_outer")
      .writeStream.format("memory").queryName("ssjo").outputMode("append").start()
    def rows() = spark.table("ssjo").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    try {
      // user 1: a matched pair (1→2); user 2: a partnerless event
      in.addData(StreamOps.EvId(ts(1), 1, 1), StreamOps.EvId(ts(5), 1, 2),
        StreamOps.EvId(ts(3), 2, 3))
      q.processAllAvailable()
      // matched pair emits eagerly; id 3's NULL must NOT exist yet —
      // its partner could still arrive inside the watermark horizon
      assert(rows() == Set((1L, 1L, 2L)),
        s"NULL rows must wait for the watermark, got ${rows()}")
      // watermark jump (wm → 980 s) evicts every real row's state:
      // unmatched rows surface exactly once with NULL; CRUCIALLY the
      // matched left rows (ids 1, 2) do NOT also emit a NULL twin
      in.addData(StreamOps.EvId(ts(1000), 9, 99))
      q.processAllAvailable()
      assert(rows() == Set((1L, 1L, 2L), (2L, 3L, -1L), (1L, 2L, -1L)),
        s"eviction must emit NULLs for unmatched rows only: ${rows()}")
    } finally q.stop()
  }

  test("full-outer interval join: unmatched rows of BOTH sides surface, once each") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val lIn = MemoryStream[StreamOps.EvId]
    val rIn = MemoryStream[StreamOps.EvId]
    val q = StreamOps.intervalJoinTwo(lIn.toDS(), rIn.toDS(),
        window = "10 seconds", watermark = "20 seconds",
        joinType = "full_outer")
      .writeStream.format("memory").queryName("ssjf").outputMode("append").start()
    def rows() = spark.table("ssjf").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    try {
      // user 1: left 1 at 1s matches right 2 at 5s; left 3 at 3s (user 2)
      // has no right; right 4 at 4s (user 3) has no left
      lIn.addData(StreamOps.EvId(ts(1), 1, 1), StreamOps.EvId(ts(3), 2, 3))
      rIn.addData(StreamOps.EvId(ts(5), 1, 2), StreamOps.EvId(ts(4), 3, 4))
      q.processAllAvailable()
      assert(rows() == Set((1L, 1L, 2L)),
        s"both sides' NULLs must wait for the watermark: ${rows()}")
      // BOTH sides' watermarks must jump for either side's state to
      // finalize (query watermark = min across watermark operators)
      lIn.addData(StreamOps.EvId(ts(1000), 9, 99))
      rIn.addData(StreamOps.EvId(ts(1000), 9, 98))
      q.processAllAvailable()
      // the watermark-pushing rows 99/98 pair with each other (same
      // user, same instant is inside [lts, lts+10s)) — expected; the
      // REAL rows: matched pair unchanged (no NULL twin), left-only 3
      // and right-only 4 exactly once
      assert(rows() == Set((1L, 1L, 2L), (9L, 99L, 98L),
        (2L, 3L, -1L), (3L, -1L, 4L)),
        s"full outer must emit both sides' unmatched rows once: ${rows()}")
    } finally q.stop()
  }

  test("right-outer interval join: NULLs for unmatched RIGHT rows only, after eviction") {
    // the s17 gate's contract at spec scale (r13 "what's missing" #2):
    // matched pairs emit eagerly; a partnerless STATUS (right) row
    // emits exactly once with a NULL left once the watermark passes its
    // horizon; a partnerless LEFT row must never emit
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val lIn = MemoryStream[StreamOps.EvId]
    val rIn = MemoryStream[StreamOps.EvId]
    val q = StreamOps.intervalJoinTwo(lIn.toDS(), rIn.toDS(),
        window = "10 seconds", watermark = "20 seconds",
        joinType = "right_outer")
      .writeStream.format("memory").queryName("ssjr").outputMode("append").start()
    def rows() = spark.table("ssjr").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    try {
      // user 1: left 1 at 1s matches right 2 at 5s; left 3 (user 2) has
      // no right partner; right 4 (user 3) has no left partner
      lIn.addData(StreamOps.EvId(ts(1), 1, 1), StreamOps.EvId(ts(3), 2, 3))
      rIn.addData(StreamOps.EvId(ts(5), 1, 2), StreamOps.EvId(ts(4), 3, 4))
      q.processAllAvailable()
      assert(rows() == Set((1L, 1L, 2L)),
        s"the right NULL must wait for the watermark: ${rows()}")
      lIn.addData(StreamOps.EvId(ts(1000), 9, 99))
      rIn.addData(StreamOps.EvId(ts(1000), 9, 98))
      q.processAllAvailable()
      // right-only 4 surfaces once with a NULL left; left-only 3 does
      // NOT (that is the left-outer/full-outer side); no NULL twin for
      // the matched pair
      assert(rows() == Set((1L, 1L, 2L), (9L, 99L, 98L), (3L, -1L, 4L)),
        s"right outer must emit only the right side's unmatched rows: ${rows()}")
    } finally q.stop()
  }

  test("streaming pipeline composite: quality, dedup, decontam, hash-keyed split") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.SrcDoc
    val good = Array.fill(30)("alpha beta gamma delta").mkString(" ") // 120 toks, q≈51666
    val short = "tiny doc" // fails the n_tok >= 20 gate
    val contaminated = Array.fill(25)("evalset leak phrase here").mkString(" ")
    val evalH = Seq(contaminated).toDF("text").selectExpr("md5(text) AS h")
    val in = MemoryStream[SrcDoc]
    val q = StreamOps.pipelineClean(in.toDS(), evalH)
      .writeStream.format("memory").queryName("spipe").outputMode("append").start()
    def rows() = spark.table("spipe").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSeq
    try {
      in.addData(SrcDoc(ts(1), 1, "s1", good), SrcDoc(ts(1), 2, "s1", short),
        SrcDoc(ts(1), 3, "s1", contaminated))
      q.processAllAvailable()
      // only the good doc survives: short fails quality, contaminated
      // is anti-joined out by its eval hash
      assert(rows().map(x => (x._1, x._2)) == Seq(("train", "s1")) ||
        rows().map(x => (x._1, x._2)) == Seq(("val", "s1")),
        s"stage filters wrong: ${rows()}")
      val split0 = rows().head._1
      // a cross-batch duplicate of the good doc (same text, other id /
      // source field equal) is dropped by the within-watermark state
      in.addData(SrcDoc(ts(1), 9, "s1", good))
      q.processAllAvailable()
      assert(rows().size == 1, s"cross-batch duplicate must drop: ${rows()}")
      // the split is text-derived: same text would always get the same
      // side no matter which duplicate survived
      val expectSplit =
        if ("0123456789abcdef".indexOf(
          java.security.MessageDigest.getInstance("MD5")
            .digest(good.getBytes("UTF-8")).map("%02x".format(_)).mkString
            .charAt(0)) < 2) "val" else "train"
      assert(split0 == expectSplit, s"split must key on the content hash")
    } finally q.stop()
  }

  test("streaming pipeline keeps one row per (text, source), in either arrival order") {
    // the s13 oracle dedups on DISTINCT (h, source, n_tok, q): a text
    // that arrives from two sources is one document per source, so the
    // stream must not let the first-arriving source swallow the other
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.SrcDoc
    val good = Array.fill(30)("alpha beta gamma delta").mkString(" ")
    val evalH = Seq("never seen").toDF("text").selectExpr("md5(text) AS h")
    for ((first, second) <- Seq(("s1", "s2"), ("s2", "s1"))) {
      val in = MemoryStream[SrcDoc]
      val name = s"spipe_$first"
      val q = StreamOps.pipelineClean(in.toDS(), evalH)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      def sources() = spark.table(name).collect().map(_.getString(1)).toSeq.sorted
      try {
        in.addData(SrcDoc(ts(1), 1, first, good))
        q.processAllAvailable()
        // the other source's copy is kept; a same-source copy in a later
        // batch still drops
        in.addData(SrcDoc(ts(1), 2, second, good), SrcDoc(ts(1), 3, first, good))
        q.processAllAvailable()
        in.addData(SrcDoc(ts(1), 4, second, good))
        q.processAllAvailable()
        assert(sources() == Seq("s1", "s2"),
          s"$first first: want one row per source, got ${sources()}")
      } finally q.stop()
    }
  }

  test("streaming as-of join: watermark-gated emission, latest-at-or-before, late drop") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.AsofIn
    val in = MemoryStream[AsofIn]
    val q = StreamOps.asofJoin(in.toDS(), watermark = "20 seconds")
      .writeStream.format("memory").queryName("sasof").outputMode("append").start()
    def rows() = spark.table("sasof").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    try {
      // rights (side 0) at 2s/6s/6s; probes (side 1) at 1s/4s/7s
      in.addData(
        AsofIn(ts(2), 1, 100, 0, 0.2),
        AsofIn(ts(6), 1, 101, 0, 0.6), AsofIn(ts(6), 1, 102, 0, 0.66),
        AsofIn(ts(1), 1, 1, 1, 0.0), AsofIn(ts(4), 1, 2, 1, 0.0),
        AsofIn(ts(7), 1, 3, 1, 0.0))
      q.processAllAvailable()
      // NOTHING may emit yet: an earlier-timestamped right row could
      // still arrive until the watermark passes each probe
      assert(rows().isEmpty, s"emission must wait for the watermark: ${rows()}")
      // watermark jump (another key's traffic) → the silent key's
      // pending probes flush via the event-time TIMEOUT path: probe 1
      // precedes every right (NULL → -1), probe 2 takes the 2s version,
      // probe 3 takes the 6s version and the TIE at 6s goes to the
      // larger id (0.66, the gate's max_by pre-aggregation rule)
      in.addData(AsofIn(ts(1000), 9, 99, 1, 0.0))
      q.processAllAvailable()
      assert(rows() == Set((1L, -1.0), (2L, 0.2), (3L, 0.66)),
        s"resolution wrong: ${rows()}")
      // a probe arriving BEHIND the watermark is dropped (the standard
      // late-data contract) — it must not resolve against pruned state
      in.addData(AsofIn(ts(8), 1, 4, 1, 0.0))
      q.processAllAvailable()
      assert(rows() == Set((1L, -1.0), (2L, 0.2), (3L, 0.66)),
        s"late probe must be dropped: ${rows()}")
    } finally q.stop()
  }

  test("streaming as-of tolerance: stale versions void to NULL, fresh ones attach") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.AsofIn
    val in = MemoryStream[AsofIn]
    // 5-second staleness bound
    val q = StreamOps.asofJoin(in.toDS(), watermark = "20 seconds",
        toleranceUs = Some(5000000L))
      .writeStream.format("memory").queryName("sasoft").outputMode("append").start()
    def rows() = spark.table("sasoft").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    try {
      // version at 2s; probe 1 at 4s (2s stale — attaches), probe 2 at
      // 10s (8s stale — voids to NULL, exactly like no match)
      in.addData(AsofIn(ts(2), 1, 100, 0, 0.2),
        AsofIn(ts(4), 1, 1, 1, 0.0), AsofIn(ts(10), 1, 2, 1, 0.0))
      q.processAllAvailable()
      in.addData(AsofIn(ts(1000), 9, 99, 1, 0.0))
      q.processAllAvailable()
      assert(rows() == Set((1L, 0.2), (2L, -1.0)),
        s"tolerance resolution wrong: ${rows()}")
    } finally q.stop()
  }

  test("streaming forward as-of: first match within the horizon, else NULL") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.AsofIn
    val in = MemoryStream[AsofIn]
    // 5-second forward horizon
    val q = StreamOps.asofJoinForward(in.toDS(), horizonUs = 5000000L,
        watermark = "20 seconds")
      .writeStream.format("memory").queryName("sasoff").outputMode("append").start()
    def rows() = spark.table("sasoff").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    try {
      // probe 1 at 3s: rights at 4s/6s → EARLIEST at-or-after (0.4),
      // not the later one; probe 2 at 7s: next right at 20s is beyond
      // the 5s horizon → NULL; probe 3 at 18s: right at 20s (d=2s) OK;
      // probe 4 at 4s: simultaneous right at 4s matches (inclusive)
      in.addData(
        AsofIn(ts(4), 1, 100, 0, 0.4), AsofIn(ts(6), 1, 101, 0, 0.6),
        AsofIn(ts(20), 1, 102, 0, 0.9),
        AsofIn(ts(3), 1, 1, 1, 0.0), AsofIn(ts(7), 1, 2, 1, 0.0),
        AsofIn(ts(18), 1, 3, 1, 0.0), AsofIn(ts(4), 1, 4, 1, 0.0))
      q.processAllAvailable()
      assert(rows().isEmpty, "forward emission must wait for lts + horizon")
      in.addData(AsofIn(ts(1000), 9, 99, 1, 0.0))
      q.processAllAvailable()
      assert(rows() == Set((1L, 0.4), (2L, -1.0), (3L, 0.9), (4L, 0.4)),
        s"forward resolution wrong: ${rows()}")
    } finally q.stop()
  }

  test("streaming nearest as-of: closer side wins, ties backward, horizon bounds forward") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.AsofIn
    val in = MemoryStream[AsofIn]
    val q = StreamOps.asofJoinNearest(in.toDS(), horizonUs = 5000000L,
        watermark = "20 seconds")
      .writeStream.format("memory").queryName("sasofn").outputMode("append").start()
    def rows() = spark.table("sasofn").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    try {
      // rights at 4s (0.4) and 10s (1.0)
      // probe 1 at 5s: back d=1 vs fwd d=5 → back 0.4
      // probe 2 at 9s: back d=5 vs fwd d=1 → fwd 1.0
      // probe 3 at 7s: EXACT tie d=3 both → backward 0.4
      // probe 4 at 30s: back d=26 (unbounded — still matches), no fwd → 1.0
      // probe 5 at 2s: no back, fwd at 4s d=2 within horizon → 0.4
      in.addData(
        AsofIn(ts(4), 1, 100, 0, 0.4), AsofIn(ts(10), 1, 101, 0, 1.0),
        AsofIn(ts(5), 1, 1, 1, 0.0), AsofIn(ts(9), 1, 2, 1, 0.0),
        AsofIn(ts(7), 1, 3, 1, 0.0), AsofIn(ts(30), 1, 4, 1, 0.0),
        AsofIn(ts(2), 1, 5, 1, 0.0))
      q.processAllAvailable()
      in.addData(AsofIn(ts(1000), 9, 99, 1, 0.0))
      q.processAllAvailable()
      assert(rows() == Set((1L, 0.4), (2L, 1.0), (3L, 0.4), (4L, 1.0), (5L, 0.4)),
        s"nearest resolution wrong: ${rows()}")
    } finally q.stop()
  }

  test("pre-epoch event time drops at the platform's epoch watermark floor") {
    // Structured Streaming's initial watermark is 0 (the epoch), so any
    // pre-1970 row is "late" before the stream has seen a single event —
    // a PLATFORM semantic, not an operator choice. The as-of join must
    // apply its documented late-drop contract to them (silently, exactly
    // once) rather than resolve against the 0-floored watermark; the
    // microsecond conversions still FLOOR (Math.floorDiv) rather than
    // truncate, so if Spark ever lifts the epoch floor the pre-epoch
    // ordering is already exact.
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.AsofIn
    val in = MemoryStream[AsofIn]
    val q = StreamOps.asofJoin(in.toDS(), watermark = "20 seconds")
      .writeStream.format("memory").queryName("sasofpe").outputMode("append").start()
    try {
      in.addData(AsofIn(new Timestamp(-2000L), 1, 100, 0, 0.5),
        AsofIn(new Timestamp(-2000L), 1, 1, 1, 0.0),
        AsofIn(ts(3), 1, 2, 1, 0.0))
      q.processAllAvailable()
      in.addData(AsofIn(ts(1000), 9, 99, 1, 0.0))
      q.processAllAvailable()
      val got = spark.table("sasofpe").collect()
        .map(r => (r.getLong(1), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
      // the pre-epoch probe (id 1) AND version (id 100) drop as late;
      // the post-epoch probe resolves to NULL — the dropped version must
      // not have entered state (probe 99 stays pending: the watermark
      // never passes its own event time)
      assert(got == Set((2L, -1.0)),
        s"pre-epoch rows must follow the late-drop contract: $got")
    } finally q.stop()
  }

  test("streaming as-of fuzz: every variant matches brute force across batch splits") {
    // 60 rows over 3 keys on a small timestamp grid (simultaneous rows
    // and exact ties occur), fed in EVENT-TIME ORDER across 6 batches —
    // sorted feeding keeps every row ahead of the watermark, so the
    // completed replay must equal the batch-side brute answer for all
    // four variants. A far-future probe per key flushes the tails.
    val rnd = new scala.util.Random(20260816)
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.AsofIn
    // grid starts at 1s: a row AT the epoch instant is dropped by the
    // platform's 0-initialized watermark in the very first batch (the
    // boundary twin of the pre-epoch pin above) before any operator
    // sees it — real corpora live decades away from it
    val rows = (0 until 60).map { i =>
      AsofIn(ts(rnd.nextInt(40) + 1), rnd.nextInt(3).toLong, i.toLong,
        if (rnd.nextInt(3) == 0) 0 else 1, rnd.nextInt(100) / 10.0)
    }.sortBy(r => (r.ts.getTime, r.id))
    val flush = (0L until 3L).map(k => AsofIn(ts(10000), k, -1L - k, 1, 0.0))
    val hUs = 6000000L // 6 s forward horizon / tolerance
    val rights = rows.filter(_.side == 0).map(r => (r.user, r.ts.getTime, r.id, r.v))
    def brute(variant: String): Map[Long, Option[Double]] =
      rows.filter(_.side == 1).map { p =>
        val lts = p.ts.getTime
        val cands = rights.filter(_._1 == p.user)
        val back = cands.filter(_._2 <= lts)
          .sortBy(c => (c._2, c._3)).lastOption
        val fwd = cands.filter(c => c._2 > lts && (c._2 - lts) * 1000 <= hUs)
          .sortBy(c => (c._2, -c._3)).headOption
        val pick = variant match {
          case "backward" => back
          case "tolerance" =>
            back.filter(c => (lts - c._2) * 1000 <= hUs)
          case "forward" =>
            // forward includes the simultaneous row (rts >= lts)
            cands.filter(c => c._2 >= lts && (c._2 - lts) * 1000 <= hUs)
              .sortBy(c => (c._2, -c._3)).headOption
          case "nearest" => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (lts - b._2 <= f._2 - lts) Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        }
        p.id -> pick.map(_._4)
      }.toMap
    def run(name: String, mk: org.apache.spark.sql.Dataset[AsofIn] =>
        org.apache.spark.sql.Dataset[StreamOps.AsofOut]): Map[Long, Option[Double]] = {
      val in = MemoryStream[AsofIn]
      val q = mk(in.toDS()).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        rows.grouped(10).foreach { b => in.addData(b); q.processAllAvailable() }
        in.addData(flush); q.processAllAvailable()
        spark.table(name).collect().filter(_.getLong(1) >= 0)
          .map(r => r.getLong(1) ->
            (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      } finally q.stop()
    }
    val variants: Seq[(String, org.apache.spark.sql.Dataset[AsofIn] =>
        org.apache.spark.sql.Dataset[StreamOps.AsofOut])] = Seq(
      ("fzb", ds => StreamOps.asofJoin(ds, watermark = "5 seconds")),
      ("fzt", ds => StreamOps.asofJoin(ds, watermark = "5 seconds",
        toleranceUs = Some(hUs))),
      ("fzf", ds => StreamOps.asofJoinForward(ds, hUs, watermark = "5 seconds")),
      ("fzn", ds => StreamOps.asofJoinNearest(ds, hUs, watermark = "5 seconds")))
    val names = Map("fzb" -> "backward", "fzt" -> "tolerance",
      "fzf" -> "forward", "fzn" -> "nearest")
    for ((qn, mk) <- variants) {
      val got = run(qn, mk)
      val want = brute(names(qn))
      assert(got.size == want.size,
        s"${names(qn)}: resolved ${got.size} probes, expected ${want.size}")
      val diff = want.keys.filter(id => got(id) != want(id))
      assert(diff.isEmpty, s"${names(qn)} diverges at ${diff.take(5).toList}: " +
        diff.take(5).map(id => s"id $id got ${got(id)} want ${want(id)}").mkString("; "))
    }
  }

  test("streaming as-of join retains the current version through pruning") {
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    import StreamOps.AsofIn
    val in = MemoryStream[AsofIn]
    val q = StreamOps.asofJoin(in.toDS(), watermark = "20 seconds")
      .writeStream.format("memory").queryName("sasof2").outputMode("append").start()
    def rows() = spark.table("sasof2").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    try {
      // versions at 2s (0.5) and 5s (0.7) — then the watermark sails far
      // past both; pruning must keep the 5s row as the key's CURRENT
      // version (and may drop the 2s one)
      in.addData(AsofIn(ts(2), 1, 100, 0, 0.5), AsofIn(ts(5), 1, 101, 0, 0.7))
      q.processAllAvailable()
      in.addData(AsofIn(ts(1000), 9, 99, 1, 0.0))
      q.processAllAvailable()
      // a probe far newer than the surviving version still matches it —
      // the as-of lower bound is unbounded, which is exactly what the
      // native stream-stream join cannot express
      in.addData(AsofIn(ts(990), 1, 5, 1, 0.0))
      q.processAllAvailable()
      in.addData(AsofIn(ts(2000), 9, 98, 1, 0.0))
      q.processAllAvailable()
      // probe 99 (the first watermark pusher, keyless of any version)
      // legitimately resolves to NULL once the 2000s row passes it
      assert(rows() == Set((5L, 0.7), (99L, -1.0)),
        s"pruned state must keep the current version: ${rows()}")
    } finally q.stop()
  }
}
