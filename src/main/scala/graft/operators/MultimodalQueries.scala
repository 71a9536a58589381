package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: opaque `BINARY` payloads with typed
  * metadata, decoded/feature-extracted via batched `mapPartitions` over a
  * typed Dataset — the Spark-side pipeline a real image/audio corpus needs.
  *
  * The decode step is STUBBED with a deterministic fake (this container has
  * no media codecs): features are modular byte-bucket sums. Everything
  * around the stub is real and tested — the binary+metadata schema, the
  * typed Encoder boundary, partition-local batched iteration (no
  * per-element closure dispatch, batches of [[BATCH]]), and the fact that
  * the operator is a narrow per-partition map: at 100 TB this runs one
  * stage, no shuffle, each task decoding its partition's blobs.
  *
  * The fake decode is arithmetic over bytes, so the DuckDB oracle can
  * reproduce it from the source text (`payload = utf8(text)`).
  */
object MultimodalQueries {

  /** One media row: payload + typed metadata (the schema a real pipeline
    * would carry; kind/width/height/sampleRate are synthesized here). */
  final case class MediaRow(doc_id: Long, payload: Array[Byte],
                            kind: String, width: Int, height: Int)
  final case class FeatRow(doc_id: Long, f0: Long, f1: Long, f2: Long, f3: Long,
                           f4: Long, f5: Long, f6: Long, f7: Long)
  final case class FrameRow(doc_id: Long, n_frames: Long, frame_sum: Long)

  private val BATCH = 32
  private val M = 997L

  /** documents → media table: binary payload + synthesized typed metadata. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.read(s, s"$d/documents.parquet").selectExpr(
      "doc_id",
      "encode(text, 'UTF-8') AS payload",
      "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind",
      "CAST(32 + doc_id % 64 AS INT) AS width",
      "CAST(32 + doc_id % 48 AS INT) AS height")

  /** STUB decoder: 8 modular byte-bucket sums standing in for a real
    * feature extractor. Deterministic, byte-order dependent — the contract
    * a real `decode(payload): Array[Float]` would also satisfy. */
  private def fakeDecode(payload: Array[Byte]): Array[Long] = {
    val f = new Array[Long](8)
    var i = 0
    while (i < payload.length) {
      f(i % 8) += payload(i) & 0xffL
      i += 1
    }
    f.map(_ % M)
  }

  /** Batched partition-local feature extraction over the typed boundary. */
  def extractFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(BATCH).flatMap { batch => // batch-shaped, like mapInPandas
          batch.iterator.map { case (id, payload) =>
            val f = fakeDecode(payload)
            FeatRow(id, f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
          }
        }
      }.toDF()
  }

  /** Frame sampling: every 16th byte is a "frame"; per-doc frame count +
    * modular frame checksum — the video-path shape (sample, then reduce). */
  def sampleFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          var sum = 0L; var n = 0L; var i = 0
          while (i < payload.length) { sum += payload(i) & 0xffL; n += 1; i += 16 }
          FrameRow(id, n, sum % M)
        }
      }.toDF()
  }

  final case class ResizeRow(doc_id: Long, p0: Long, p1: Long, p2: Long, p3: Long,
                             p4: Long, p5: Long, p6: Long, p7: Long)

  /** Resize: nearest-neighbor downsample of the decoded payload to a fixed
    * 8-wide grid — the image-resize kernel shape (pure index remap per
    * element, batched partition-local, no shuffle). Source position for
    * output cell k is `floor(k * len / 8)`. */
  def resizeTo8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(BATCH).flatMap { batch =>
          batch.iterator.map { case (id, payload) =>
            val n = payload.length
            val p = Array.tabulate(8) { k =>
              if (n == 0) 0L else payload((k * n / 8).toInt) & 0xffL
            }
            ResizeRow(id, p(0), p(1), p(2), p(3), p(4), p(5), p(6), p(7))
          }
        }
      }.toDF()
  }

  final case class WinRow(doc_id: Long, win: Long, energy: Long)

  /** Audio-framing shape: payload bytes as samples, fixed 64-sample
    * windows, per-window energy (modular sum of squares) — decode →
    * frame → per-frame feature in ONE narrow pass; frames emit grouped
    * with their source row, no shuffle, fan-out bounded by payload/64. */
  def windowEnergy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          payload.grouped(64).zipWithIndex.map { case (w, k) =>
            var e = 0L; var i = 0
            while (i < w.length) { val b = w(i) & 0xffL; e += b * b; i += 1 }
            WinRow(id, k.toLong, e % M)
          }
        }
      }.toDF()
  }

  final case class PhashRow(doc_id: Long, h: Long)

  /** The 16 Walsh-Hadamard coefficients the perceptual hash signs, in
    * ascending (u+v, u) order with the DC term (0,0) skipped — the same
    * low-frequency-first selection classic DCT pHash makes. */
  private val PHASH_COEFS: Seq[(Int, Int)] = Seq(
    (0, 1), (1, 0), (0, 2), (1, 1), (2, 0), (0, 3), (1, 2), (2, 1),
    (3, 0), (0, 4), (1, 3), (2, 2), (3, 1), (4, 0), (0, 5), (1, 4))

  /** Compile-time sign of cell (r, c) in WHT coefficient (u, v):
    * (−1)^(popcount(r∧u) + popcount(c∧v)). */
  private[operators] def whtSign(u: Int, v: Int, r: Int, c: Int): Int =
    if ((Integer.bitCount(r & u) + Integer.bitCount(c & v)) % 2 == 0) 1 else -1

  /** Image PERCEPTUAL HASH over the stubbed decode: sample the payload to
    * an 8×8 grayscale grid (g[k] = payload[(k·37) mod len] — the stub's
    * strided "resize"), transform with the 2-d 8×8 Walsh-Hadamard (the
    * DCT-free pHash variant — ±1 weights keep EVERYTHING in exact integer
    * arithmetic, so the oracle gate hashes exactly where a libm cos()
    * DCT would be one ulp from flipping a sign bit), and take 16 sign
    * bits of the lowest-frequency coefficients, DC skipped. */
  private def phash(payload: Array[Byte]): Long = {
    val len = payload.length
    if (len == 0) return 0L // empty payload: all-gray grid → all-zero signs
    val g = new Array[Long](64)
    var k = 0
    while (k < 64) { g(k) = payload((k * 37) % len) & 0xffL; k += 1 }
    var hash = 0L
    var bit = 0
    while (bit < PHASH_COEFS.size) {
      val (u, v) = PHASH_COEFS(bit)
      var sum = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) { sum += whtSign(u, v, r, c) * g(r * 8 + c); c += 1 }
        r += 1
      }
      if (sum > 0) hash |= 1L << bit
      bit += 1
    }
    hash
  }

  /** Per-doc perceptual hashes over the media table with injected
    * duplicate payloads (every 5th doc re-enters as id+100000, the same
    * convention the text dedup stack uses) — batched partition-local
    * decode+hash, one narrow pass, no shuffle. */
  def phashTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, d).select("doc_id", "payload")
    media.unionByName(
        media.where("doc_id % 5 = 0").withColumn("doc_id", col("doc_id") + 100000L))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(BATCH).flatMap { batch =>
          batch.iterator.map { case (id, payload) => PhashRow(id, phash(payload)) }
        }
      }.toDF()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // audio-path framing: per-window energy over the sample stream
    "mm05_window_energy" -> ((s, d) =>
      windowEnergy(s, d).where("doc_id < 30").orderBy("doc_id", "win")),

    "mm01_features" -> ((s, d) =>
      extractFeatures(s, d).where("doc_id < 100").orderBy("doc_id")),

    // resize plumbing: fixed-grid nearest-neighbor sampling per payload
    "mm04_resize" -> ((s, d) =>
      resizeTo8(s, d).where("doc_id < 100").orderBy("doc_id")),

    "mm02_frame_sample" -> ((s, d) =>
      sampleFrames(s, d).where("doc_id < 100").orderBy("doc_id")),

    // metadata-typed aggregation over the media table (pure relational)
    "mm03_media_stats" -> ((s, d) =>
      mediaTable(s, d).groupBy("kind")
        .agg(expr("CAST(count(*) AS BIGINT)").as("n"),
          expr("CAST(sum(length(payload)) AS BIGINT)").as("bytes"),
          expr("CAST(sum(width * height) AS BIGINT)").as("pixels"))
        .orderBy("kind")),

    // multimodal NEAR-DUP: perceptual-hash Hamming pairs — the image
    // half of the dedup stack. Same scale shape as t11's simhash pass:
    // 4-bit band blocking + the sorted-neighborhood lead(struct) window
    // caps candidates at O(n·W) per bucket, exact Hamming on emission;
    // injected duplicate payloads surface as ham=0 pairs. b = 4 pinned
    // for the oracle; production derives b from the corpus count
    // (TextQueries.bandBits — the shared scale contract)
    "mm06_phash_pairs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ph = phashTable(s, d)
      val bands = ph.selectExpr("doc_id", "h", TextQueries.bandStackExpr(4, 4))
      val w = Window.partitionBy("t", "bh").orderBy("doc_id")
      bands
        .withColumn("nbrs",
          array((1 to 16).map(i => lead(struct(col("doc_id"), col("h")), i).over(w)): _*))
        .selectExpr("doc_id AS a", "h AS ha", "explode(nbrs) AS nb")
        .where("nb IS NOT NULL")
        .selectExpr("a", "nb.doc_id AS b", "bit_count(ha ^ nb.h) AS ham")
        .distinct()
        .orderBy(col("ham"), col("a"), col("b")).limit(20)
    }),
  )

  private def duckFeat(k: Int): String =
    s"""(CAST(list_sum([CASE WHEN (i - 1) % 8 = $k THEN ascii(substring(text, i, 1)) ELSE 0 END
        for i in generate_series(1, length(text))]) AS BIGINT) % $M)"""

  val oracles: Map[String, String] = Map(
    "mm05_window_energy" ->
      s"""WITH w AS (
            SELECT doc_id, text,
              unnest(generate_series(0, (length(text) - 1) // 64)) AS win
            FROM documents WHERE doc_id < 30)
          SELECT doc_id, win,
            CAST(list_sum([ascii(substring(text, i, 1)) * ascii(substring(text, i, 1))
              for i in generate_series(win * 64 + 1, least((win + 1) * 64, length(text)))]) AS BIGINT) % $M AS energy
          FROM w ORDER BY doc_id, win""",

    "mm04_resize" ->
      s"""SELECT doc_id,
          ${(0 until 8).map(k =>
            s"CAST(ascii(substring(text, ($k * length(text)) // 8 + 1, 1)) AS BIGINT) AS p$k")
            .mkString(", ")}
          FROM documents WHERE doc_id < 100 ORDER BY doc_id""",

    "mm01_features" ->
      s"""SELECT doc_id, ${(0 until 8).map(k => s"${duckFeat(k)} AS f$k").mkString(", ")}
          FROM documents WHERE doc_id < 100 ORDER BY doc_id""",

    "mm02_frame_sample" ->
      s"""SELECT doc_id,
          CAST((length(text) + 15) // 16 AS BIGINT) AS n_frames,
          CAST(list_sum([ascii(substring(text, i, 1))
            for i in generate_series(1, length(text), 16)]) AS BIGINT) % $M AS frame_sum
          FROM documents WHERE doc_id < 100 ORDER BY doc_id""",

    "mm03_media_stats" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(length(text)) AS BIGINT) AS bytes,
         CAST(sum((32 + doc_id % 64) * (32 + doc_id % 48)) AS BIGINT) AS pixels
         FROM documents GROUP BY 1 ORDER BY kind""",

    "mm06_phash_pairs" -> {
      // per coefficient: its 64 compile-time ±1 signs as a literal list,
      // folded against the sampled 8×8 grid — exact integer arithmetic
      val coefCols = PHASH_COEFS.zipWithIndex.map { case ((u, v), b) =>
        val signs = (0 until 64).map(k => whtSign(u, v, k / 8, k % 8))
          .mkString("[", ", ", "]")
        s"list_sum(list_transform(generate_series(1, 64), k -> gl[k] * ($signs)[k])) AS c$b"
      }.mkString(",\n            ")
      val hashExpr = PHASH_COEFS.indices
        .map(b => s"(CASE WHEN c$b > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH m AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
          g AS (
            SELECT doc_id,
              [ascii(substring(text, ((k * 37) % length(text)) + 1, 1))
               for k in generate_series(0, 63)] AS gl
            FROM m),
          coefs AS (
            SELECT doc_id,
            $coefCols
            FROM g),
          ph AS (SELECT doc_id, CAST($hashExpr AS BIGINT) AS h FROM coefs),
          bands AS (SELECT doc_id, h, t,
            CASE ${(0 until 4).map(t => s"WHEN t = $t THEN (h // ${1 << (4 * t)}) % 16").mkString(" ")} END AS bh
            FROM ph, generate_series(0, 3) g(t)),
          br AS (SELECT doc_id, h, t, bh,
            row_number() OVER (PARTITION BY t, bh ORDER BY doc_id) AS rn FROM bands)
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.h, y.h)) AS ham
          FROM br x JOIN br y
            ON x.t = y.t AND x.bh = y.bh AND y.rn > x.rn AND y.rn <= x.rn + 16
          ORDER BY ham, a, b LIMIT 20"""
    },
  )
}
