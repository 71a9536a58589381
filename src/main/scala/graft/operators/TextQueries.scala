package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data-pipeline text operators over the `documents` table:
  * deduplication (exact, MinHash+LSH, n-gram Jaccard, SimHash), language
  * ID, quality scoring, token counting, fingerprinting.
  *
  * Scale design (100 TB): every operator is a per-row projection (shingles,
  * signatures, scores — fully codegen'd higher-order functions, no UDFs)
  * followed by at most one key-partitioned shuffle (band bucket, hash
  * group, pair key). Pairwise work is always LSH/band-bounded — never an
  * unblocked O(n^2) cross join; the only cross joins below are explicitly
  * top-k-bounded demo surfaces on the small signature tables.
  *
  * Portability: all hashes are integer polynomial hashes over `ascii()`
  * codes, so the DuckDB oracle reproduces them bit-for-bit. Spark kernels
  * and oracle SQL are generated from the same fragments.
  */
object TextQueries {

  // ---- shared deterministic hash fragments (Spark SQL + DuckDB SQL) -------
  //
  // Performance note (measured at sf0.1): building shingle STRINGS and
  // running array_distinct over them inside every minhash/simhash
  // expression costs O(16 · n² string compares) per doc — 34 s for the
  // corpus. Instead the char-trigram polyhash is computed positionally
  // (never materializing shingle strings), the int hash array `hl` and its
  // distinct `dhl` are computed once per doc, and a repartition exchange
  // pins them so CollapseProject cannot re-inline the expensive expression
  // into every downstream consumer. All signature functions then read a
  // materialized int array — the whole text pipeline is one scan + one
  // narrow exchange.
  private val P = 1000003 // prime modulus for all polynomial hashes

  /** positional char-trigram polyhash list over `text` (no shingle strings) */
  private val duckHl =
    "list_transform(generate_series(1, greatest(length(text) - 2, 1)), i -> ascii(substring(text, i, 1)) * 961 + ascii(substring(text, i + 1, 1)) * 31 + ascii(substring(text, i + 2, 1)))"

  private val H = 8 // minhash functions
  private def hashA(j: Int) = 17 + 13 * j
  private def hashB(j: Int) = 89 + 31 * j

  /** minhash over the hash list (min over a multiset = min over its set,
    * so `hl` needs no distinct here). */
  private def duckMinhashOf(hl: String)(j: Int): String =
    s"list_min(list_transform($hl, h -> (CAST(${hashA(j)} AS BIGINT) * h + ${hashB(j)}) % $P))"

  /** 4 LSH bands of 2 minhash rows each, coarsened to 64 buckets per band
    * so small scale factors still produce candidate collisions. */
  private val BANDS = 4
  private def bandHash(mh: Int => String)(t: Int): String =
    s"((${mh(2 * t)} % 8) * 8 + (${mh(2 * t + 1)} % 8))"

  // 16-bit simhash over the DISTINCT shingle hashes (`dhl` column)
  private def duckSimhashOf(dhl: String): String =
    (0 until 16).map { b =>
      s"(CASE WHEN list_sum(list_transform($dhl, h -> CASE WHEN (h // ${1 << b}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")

  // language-ID marker lists (mechanism demo — deterministic scoring with a
  // fixed priority tie-break; the synthetic corpus shares one vocabulary)
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("order", "window"), "de" -> Seq("customer", "hash"),
    "es" -> Seq("slow", "agg"), "fr" -> Seq("scan", "batch"),
    "zh" -> Seq("join", "column"))

  private def scoreExpr(words: Seq[String], filterFn: String, splitFn: String): String = {
    val pred = words.map(w => s"t = '$w'").mkString(" OR ")
    s"len__($filterFn($splitFn(text, ' '), t -> $pred))"
  }
  private def sparkScore(ws: Seq[String]) =
    scoreExpr(ws, "filter", "split").replace("len__", "size")
  private def duckScore(ws: Seq[String]) =
    scoreExpr(ws, "list_filter", "string_split").replace("len__", "len")

  /** Public kernel text for the streaming twin ([[graft.streaming
    * .StreamOps.scoreDocs]]): the t04 langid argmax CASE and the t02
    * quality projections — the SAME text as the batch queries, so
    * streamed scores replay bit-identically. */
  def langidSql: String = predCase(sparkScore)
  val qualitySqls: Seq[String] = Seq(
    "length(text) AS n",
    "size(split(text, ' ')) AS n_tok",
    "round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / size(split(text, ' ')), 4) AS avg_tok_len",
    "round(CAST(size(filter(split(text, ' '), t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and' OR t = 'in')) AS DOUBLE) / size(split(text, ' ')), 4) AS stop_ratio",
    "round(CAST(regexp_count(text, '[^a-z0-9 ]') AS DOUBLE) / length(text), 4) AS punct_ratio")

  /** argmax with fixed priority order (first listed wins ties). */
  private def predCase(score: Seq[String] => String): String = {
    val scores = langMarkers.map { case (l, ws) => l -> score(ws) }
    val cases = scores.zipWithIndex.map { case ((l, s), i) =>
      val rest = scores.drop(i + 1).map(_._2)
      if (rest.isEmpty) s"ELSE '$l'"
      else s"WHEN ${rest.map(r => s"$s >= $r").mkString(" AND ")} THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} END"
  }

  // rolling fingerprint over the whole text
  private val duckFingerprint =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))), (acc, x) -> (acc * 31 + x) % $P)"

  // BPE-ish token pattern (letters / digits / single punctuation)
  private val tokPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  // -------------------------------------------------------------------------

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.read(s, s"$d/documents.parquet")

  /** Maximal repeated spans per doc for the ExactSubstr family (t27
    * signal + t28 removal): one sliding W-token window per position,
    * corpus-wide repeat groupBy + join keyed on a 128-BIT WINDOW HASH
    * (two genuinely independent 64-bit hashes: `xxhash64(g)` and
    * `xxhash64('graft2', g)` — the constant comes FIRST so the fold
    * over g runs under a different effective seed; `xxhash64(g, c)`
    * would chain the first hash INTO the second, making h2 a pure
    * function of h1 and collapsing the pair to 64-bit resistance) —
    * the window STRING is projected
    * away before either exchange, so the two corpus-wide shuffles move
    * 16 bytes/row where the raw W≈20-token key moved ~W× the corpus
    * bytes (at 100 TB: a ~100 TB exchange instead of ~2 PB). Collision
    * argument: a false repeat needs two DIFFERENT windows agreeing on
    * both 64-bit hashes — P ≈ n²/2¹²⁹, ~10⁻¹³ even at 10¹³ windows
    * (100 TB) — and the DuckDB gate computes repeats on the raw STRINGS
    * independently, so any collision-induced divergence fails the hash
    * compare at test scale. Then the per-doc
    * island merge — new-span flag = position ≥ running max of prior
    * span ends, islands by prefix-summing the flag — all window
    * functions PARTITIONED BY doc_id, never global.
    * Returns (doc_id, n_tok, island, st, en). */
  private def substrSpans(s: SparkSession, d: String, W: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // window fingerprints via the native rolling kernel (r18): the SQL
    // form built every window's TEXT (concat_ws over a W-token slice —
    // ~W× the corpus bytes as throwaway strings) and hashed each string
    // twice; graft_win_hashes hashes each token once and rolls the
    // 128-bit window key in O(1) per position. Downstream only groups
    // on the key, so injectivity — not string-hash equality — is the
    // contract (WinHashes scaladoc + TextSigSpec pins); the DuckDB
    // oracle recomputes repeats from the window text itself.
    graft.functions.GraftFunctions.register(s)
    val wins = docsWithDups(s, d)
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .where(s"size(toks) >= $W")
      .selectExpr("doc_id", "size(toks) AS n_tok",
        s"posexplode(graft_win_hashes(toks, $W)) AS (p, hs)")
      .selectExpr("doc_id", "n_tok", "p", "hs.h1 AS h1", "hs.h2 AS h2")
    // repeated-window filter as ONE windowed count over the (h1, h2)
    // shuffle (r18, guide §2.4): the previous groupBy + join-back ran
    // the window-string projection TWICE — once under the repeat
    // aggregate, once on the join's probe side (different subtrees, so
    // exchange reuse never fires) — and paid a second exchange for the
    // join. count() OVER the hash partition keeps exactly the rows
    // whose window text occurs more than once: the same row multiset,
    // one scan, one exchange (plans/r18/t27_exact_substr_*.txt).
    val dup = wins
      .withColumn("c", count(lit(1)).over(
        Window.partitionBy("h1", "h2")))
      .where("c > 1").select("doc_id", "n_tok", "p")
    val ord = Window.partitionBy("doc_id").orderBy("p")
    dup
      .withColumn("pmax", max(col("p") + W).over(
        ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni", when(col("p") >= coalesce(col("pmax"), lit(-1L)), 1L)
        .otherwise(0L))
      .withColumn("island", sum("ni").over(ord))
      .groupBy("doc_id", "n_tok", "island")
      .agg(min("p").as("st"), (max("p") + W).as("en"))
  }

  /** documents unioned with duplicated copies of every 5th doc (new ids
    * +100000) — gives the dedup operators real duplicates to find. */
  private def docsWithDups(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    base.unionByName(
      base.where("doc_id % 5 = 0").withColumn("doc_id", col("doc_id") + 100000L))
  }
  private val duckDocsWithDups =
    """(SELECT * FROM documents UNION ALL
        SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
        FROM documents WHERE doc_id % 5 = 0)"""

  /** Per-doc signature table — computed by the in-block JVM kernel
    * ([[graft.functions.TextSig]]); the SQL fragments above SPECIFY the
    * semantics and run as the DuckDB oracle. */
  private def sigTable(s: SparkSession, d: String): DataFrame =
    graft.functions.TextSig.rows(s, d)

  private val duckHashed =
    s"""(SELECT doc_id, hl, list_distinct(hl) AS dhl FROM
         (SELECT doc_id, $duckHl AS hl FROM documents))"""
  private val duckSig =
    s"""(SELECT doc_id, ${(0 until H).map(j => s"${duckMinhashOf("hl")(j)} AS mh$j").mkString(", ")}
         FROM $duckHashed)"""

  /** Band rows (doc_id, t, bh): the LSH shuffle key. The minhash columns
    * come out of the kernel as plain attributes, so the `stack` generator
    * reads materialized values — no recompute risk. */
  private def bandsDF(s: SparkSession, d: String): DataFrame = {
    val stackArgs = (0 until BANDS)
      .map(t => s"$t, ${bandHash(j => s"mh$j")(t)}").mkString(", ")
    sigTable(s, d).selectExpr("doc_id", s"stack($BANDS, $stackArgs) AS (t, bh)")
  }
  private val duckBands =
    s"""(SELECT doc_id, t,
         CASE ${(0 until BANDS).map(t => s"WHEN t = $t THEN ${bandHash(j => s"mh$j")(t)}").mkString(" ")} END AS bh
         FROM $duckSig, generate_series(0, ${BANDS - 1}) g(t))"""

  /** Candidate pairs via sorted-neighborhood windowing inside each band
    * bucket: each doc pairs only with the next [[WINDOW]] docs (by id) in
    * its bucket, so a degenerate bucket of n docs yields O(n·W) pairs, not
    * O(n²) — the bounded-blocking guard every LSH pipeline needs at scale
    * (this corpus is so 3-gram-self-similar that unbounded banding produced
    * 23.5M pairs at sf0.1). `nshared` counts the bands in which the pair
    * fell in one bucket within the window. */
  private val WINDOW = 8
  private def lshPairsDF(s: SparkSession, d: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the W bucket-successors come from W lead() columns in ONE window
    // pass — not a rn self-join, which would run the signature kernel and
    // the window TWICE (once per join side) and shuffle the band table
    // again for the join. Same pair set: (x, y) with y among the next W
    // docs of x's bucket. One kernel scan, one shuffle.
    val w = Window.partitionBy("t", "bh").orderBy("doc_id")
    bandsDF(s, d)
      .withColumn("nbrs", array((1 to WINDOW).map(i => lead(col("doc_id"), i).over(w)): _*))
      .selectExpr("doc_id AS a", "explode(nbrs) AS b")
      .where("b IS NOT NULL")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("nshared"))
      .orderBy(col("nshared").desc, col("a"), col("b")).limit(k)
  }
  private def duckLshPairs(k: Int) =
    s"""(WITH br AS (SELECT doc_id, t, bh,
           row_number() OVER (PARTITION BY t, bh ORDER BY doc_id) AS rn
           FROM $duckBands)
         SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS nshared
         FROM br x JOIN br y
           ON x.t = y.t AND x.bh = y.bh AND y.rn > x.rn AND y.rn <= x.rn + $WINDOW
         GROUP BY 1, 2 ORDER BY nshared DESC, a, b LIMIT $k)"""

  /** Scale contract for the Hamming-band blocking key (t11, mm06, and
    * the t08 simhash family): b-bit bands give 2^b buckets per band
    * table, so each sorted-neighborhood window sorts ~n/2^b rows. A
    * FIXED b = 4 is 16 buckets per table at ANY corpus size — fine at
    * sf0.1, a scale-killer at 10¹¹ docs. Production derives b from the
    * corpus count: b = clamp(ceil(log2(n / targetBucket)), 4, 16),
    * keeping the expected bucket at ≤ targetBucket rows; 16 is the
    * widest band that still leaves 4 disjoint bands in a 64-bit
    * signature, preserving the blocking guarantee (Hamming distance
    * < 4 ⇒ at least one band agrees exactly). Wider bands trade recall
    * beyond distance 3 for bucket size exactly as in banded MinHash —
    * the sorted-neighborhood lead() window stays the second bound on
    * candidate count either way. The ORACLE-GATED queries pin b = 4
    * because the DuckDB gate replays the same banding; this derivation
    * is the documented production path (spec-asserted). */
  def bandBits(nDocs: Long, targetBucket: Long = 65536L): Int = {
    require(nDocs >= 0 && targetBucket > 0, s"bandBits($nDocs, $targetBucket)")
    val buckets = nDocs / targetBucket
    val ceilLog2 =
      if (buckets <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.max(4, math.min(16, ceilLog2))
  }

  /** Banded 16-bit simhash rows (doc_id, h, t, bh) for the sub-corpus
    * doc_id < `limit` — the stateless signature prep the streaming
    * near-dup gate (s18) replays through the stateful bucket pairing.
    * Same kernel ([[graft.functions.TextSig]]) and the same 4×4-bit
    * banding as the batch t11 pipeline. */
  def simhashBands(s: SparkSession, d: String, limit: Long): DataFrame =
    sigTable(s, d).where(s"doc_id < $limit")
      .selectExpr("doc_id", "simhash AS h")
      .selectExpr("doc_id", "CAST(h AS BIGINT) AS h", bandStackExpr(4, 4))

  /** DuckDB oracle for the s18 streaming near-dup gate: ALL same-bucket
    * pairs (no window bound — the gate's w covers whole buckets) of the
    * doc_id < `limit` sub-corpus with exact Hamming ≤ `maxHam`. The
    * simhash/banding fragments are t11's verbatim. */
  def simhashAllPairsOracle(limit: Long, maxHam: Int): String =
    s"""WITH sh AS (SELECT doc_id, ${duckSimhashOf("dhl")} AS h
           FROM $duckHashed WHERE doc_id < $limit),
        bands AS (SELECT doc_id, h, t,
          CASE ${(0 until 4).map(t => s"WHEN t = $t THEN (h // ${1 << (4 * t)}) % 16").mkString(" ")} END AS bh
          FROM sh, generate_series(0, 3) g(t))
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
          CAST(bit_count(xor(x.h, y.h)) AS BIGINT) AS ham
        FROM bands x JOIN bands y ON x.t = y.t AND x.bh = y.bh
          AND y.doc_id > x.doc_id
        WHERE bit_count(xor(x.h, y.h)) <= $maxHam
        ORDER BY a, b"""

  /** `tables` × b-bit band key generator over a 64-bit signature column
    * `h` — the one stack() both the oracle-pinned 4-bit queries and the
    * derived-width production path share. */
  def bandStackExpr(tables: Int, bits: Int): String = {
    require(tables > 0 && bits >= 1 && tables * bits <= 64,
      s"bandStackExpr($tables, $bits)")
    val rows = (0 until tables)
      .map(t => s"$t, (h DIV ${1L << (bits * t)}) % ${1L << bits}")
      .mkString(", ")
    s"stack($tables, $rows) AS (t, bh)"
  }

  /** BPE training building blocks (t33) — public so the
    * compile-stability spec can pin the per-iteration plan.
    *
    * Symbol sequences ride as ONE STRING per word in the "padded
    * double-space" form: tokens joined by two spaces, one space at each
    * end (`hello` → `" h  e  l  l  o "`). In that form applying a BPE
    * merge (a,b)→ab IS the plain SQL `replace(r, ' a  b ', ' ab ')`:
    * both Spark and DuckDB scan left-to-right replacing non-overlapping
    * occurrences — exactly the greedy within-word merge rule of
    * published BPE trainers — and because each match consumes the
    * boundary spaces symmetrically, consecutive ("a b a b") and
    * overlapping ("a a a") runs merge identically on both engines. */
  val bpeBaseSql: String =
    "concat(' ', array_join(transform(sequence(1, length(w)), " +
      "i -> substring(w, i, 1)), '  '), ' ')"

  /** Merge-table depth for the t33 gate (the oracle unrolls one CTE pair
    * per merge, so the constant keeps both sides in lock-step). */
  val bpeMerges = 12

  /** One BPE iteration's pair-count stage: apply the merges learned so
    * far, then count adjacent symbol pairs weighted by word frequency.
    * The merges ride as an ARRAY-TYPED literal folded over with
    * `aggregate` — array literals live in the codegen references array
    * (the e14 lesson: a scalar literal would constant-fold into the
    * generated source and janino-recompile every iteration), so all K
    * training iterations share ONE compiled plan (BpeSpec pins the
    * generated text equal across different merge tables and lengths). */
  def bpePairCounts(words: DataFrame,
                    merges: Seq[(String, String)]): DataFrame =
    words
      .withColumn("_m", typedLit(merges))
      .selectExpr("freq",
        s"aggregate(_m, $bpeBaseSql, (acc, m) -> replace(acc, m._1, m._2)) AS r")
      .selectExpr("freq", "split(trim(r), '  ') AS t")
      .where("size(t) >= 2")
      .selectExpr("freq",
        "explode(transform(sequence(1, size(t) - 1), " +
          "j -> concat(element_at(t, j), ' ', element_at(t, j + 1)))) AS p")
      .groupBy("p")
      .agg(expr("CAST(sum(freq) AS BIGINT)").as("cnt"))

  /** Run the t33 training loop: K rounds of pair-count + greedy merge
    * over the persisted vocab table. Returns (pattern, replacement,
    * pair, count) per rank — the patterns feed `replace` application
    * (batch t33 output, streaming [[graft.streaming.StreamOps]] encode
    * twin / the s09 gate). Driver traffic: one row per round. */
  def bpeTrainMerges(s: SparkSession, d: String)
      : Seq[(String, String, String, Long)] = {
    val words = docs(s, d)
      .selectExpr("explode(split(text, ' ')) AS w")
      .where("w RLIKE '^[a-z]+$'")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .persist()
    try {
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, String, Long)] // (pat, rep, pair, cnt)
      for (_ <- 1 to bpeMerges) {
        val top = bpePairCounts(words, merges.toSeq.map(m => (m._1, m._2)))
          .orderBy(desc("cnt"), col("p")).limit(1).collect()
        require(top.nonEmpty, "BPE: corpus exhausted before K merges")
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val Array(a, b) = pair.split(" ") // symbols never contain spaces
        merges += ((s" $a  $b ", s" $a$b ", pair, cnt))
      }
      merges.toSeq
    } finally words.unpersist()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TF-IDF feature extraction (the CountVectorizer/IDF step of a
    // training pipeline): token counts per doc, document frequency per
    // token, idf = ln(N/df) — two partial-agg shuffles; the vocabulary
    // joins by a plain word-keyed equi-join (web-scale vocab with its
    // junk-token tail is NOT broadcast-safe), only the scalar N is
    // broadcast
    "t12_tfidf" -> ((s, d) => {
      val dd = docs(s, d)
      val toks = dd.selectExpr("doc_id", "explode(split(text, ' ')) AS w")
        .where("w <> ''")
      val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = dd.agg(count(lit(1)).as("n"))
      tf.where("doc_id = 0")
        .join(dfreq, "w").crossJoin(broadcast(n))
        .selectExpr("w", "CAST(tf AS BIGINT) AS tf",
          "round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS score")
        .orderBy(col("score").desc, col("w")).limit(10)
    }),

    // exact dedup: content-hash groupBy, keep the smallest id per group
    "t01_exact_dedup" -> ((s, d) =>
      docsWithDups(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("cnt"))
        .where("cnt > 1")
        .select("keep_id", "cnt").orderBy("keep_id")),

    // quality scoring: length, token stats, stopword + punctuation ratios
    "t02_quality" -> ((s, d) =>
      docs(s, d).where("doc_id < 50")
        .selectExpr("doc_id" +: qualitySqls: _*)
        .orderBy("doc_id")),

    // corpus-level token accounting: whitespace + BPE-ish regex counts
    "t03_token_counts" -> ((s, d) =>
      docs(s, d).selectExpr(
        "size(split(text, ' ')) AS ws",
        s"regexp_count(text, '$tokPattern') AS bpe")
        .agg(expr("CAST(sum(ws) AS BIGINT)").as("ws_tokens"),
          expr("CAST(sum(bpe) AS BIGINT)").as("bpe_tokens"),
          expr("CAST(count(*) AS BIGINT)").as("n_docs"))),

    // language ID: marker-token scoring, fixed-priority argmax
    "t04_langid" -> ((s, d) =>
      docs(s, d).selectExpr(s"${predCase(sparkScore)} AS pred")
        .groupBy("pred").agg(expr("CAST(count(*) AS BIGINT)").as("n"))
        .orderBy("pred")),

    // minhash signatures (8 hash functions over char-3-gram shingles)
    "t05_minhash" -> ((s, d) =>
      sigTable(s, d)
        .select("doc_id", (0 until H).map(j => s"mh$j"): _*).orderBy("doc_id")),

    // LSH banding: candidate pairs by shared-band count, top-50
    "t06_lsh_candidates" -> ((s, d) => lshPairsDF(s, d, 50)),

    // near-dup CLUSTERING: connected components over the LSH candidate
    // graph ([[GraphOps.connectedComponents]] — min-label propagation
    // with pointer jumping, O(log n) rounds); one row per cluster with
    // its representative (= min doc_id), size, and max member
    "t13_dedup_clusters" -> ((s, d) => {
      val pairs = lshPairsDF(s, d, 200).select("a", "b")
      GraphOps.connectedComponents(pairs)
        .groupBy(col("lbl").as("cluster"))
        .agg(count(lit(1)).as("sz"), max("id").as("max_id"))
        .orderBy("cluster")
    }),

    // cluster-representative SELECTION — the step a dedup pipeline runs
    // AFTER clustering: per duplicate cluster keep ONE canonical doc
    // (longest text, ties to the lowest id — the usual "keep the richest
    // copy" policy). Shape: components join the doc-length projection,
    // one partial-agg pass finds each cluster's (size, max length), one
    // join-back + min(id) picks the representative — every step a keyed
    // shuffle on the cluster label, no windows over data-sized input.
    "t22_dedup_keep_best" -> ((s, d) => {
      val pairs = lshPairsDF(s, d, 200).select("a", "b")
      val lens = docsWithDups(s, d)
        .selectExpr("doc_id AS id", "CAST(length(text) AS BIGINT) AS len")
      val mem = GraphOps.connectedComponents(pairs).join(lens, "id")
      // keep-best in ONE aggregation: maximizing (len, -id) picks the
      // longest member with the smallest id as tie-break — no
      // max-then-join-back-then-min second pass (two shuffles saved)
      mem.groupBy(col("lbl").as("cluster"))
        .agg(count(lit(1)).cast("bigint").as("sz"),
          expr("max_by(id, struct(len, -id))").as("keep_id"),
          max("len").as("keep_len"))
        .select("cluster", "sz", "keep_id", "keep_len")
        .orderBy("cluster")
    }),

    // per-source length PROFILE — the other dataset-card staple:
    // p50/p90/p99 token counts per source by exact rank selection
    // (lower interpolation: the value AT rank floor(p·(n−1))+1, all
    // integer arithmetic — no interpolation formula whose last-ulp
    // rounding could differ between engines). The window partitions by
    // source, so the sort is per-group — never a global order; the
    // per-source counts broadcast back as a tiny join
    "t25_length_profile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lens = docs(s, d)
        .selectExpr("source", "doc_id", "size(split(text, ' ')) AS n_tok")
      val w = Window.partitionBy("source").orderBy("n_tok", "doc_id")
      val ranked = lens.withColumn("rn", row_number().over(w))
      val counts = lens.groupBy("source").agg(count(lit(1)).as("n"))
      def pick(p: Double, name: String) =
        max(expr(s"CASE WHEN rn = CAST(floor($p * (n - 1)) AS BIGINT) + 1 " +
          "THEN n_tok END")).cast("bigint").as(name)
      ranked.join(broadcast(counts), "source")
        .groupBy("source")
        .agg(count(lit(1)).cast("bigint").as("n"),
          pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"),
          max("n_tok").cast("bigint").as("mx"))
        .orderBy("source")
    }),

    // ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
    // Makes Language Models Better") in its fixed-window/merged-span
    // form: every W-token SLIDING window (one per position — unlike
    // t20's disjoint chunks), corpus-wide repeat detection, then the
    // per-doc union of overlapping repeated windows into MAXIMAL spans
    // (the paper removes these spans from the corpus). Output per doc:
    // maximal repeated-span count, tokens covered, coverage fraction.
    // Scale shape: the repeat groupBy keys on the window TEXT here so
    // the DuckDB gate is exact; at 100 TB the key is the 64-bit rolling
    // hash of the window (8 bytes/row instead of the text — the paper's
    // own suffix-automaton hashes), same plan otherwise. The span merge
    // is a per-doc window function (partitioned by doc_id, never
    // global): new-span flag = position >= running max of prior span
    // ends, islands by prefix-summing the flag — O(n log n) within each
    // doc's partition only.
    "t27_exact_substr" -> ((s, d) =>
      substrSpans(s, d, 20)
        .groupBy("doc_id", "n_tok")
        .agg(count(lit(1)).cast("bigint").as("n_spans"),
          sum(col("en") - col("st")).cast("bigint").as("covered"))
        .selectExpr("doc_id", "n_spans", "covered",
          "round(CAST(covered AS DOUBLE) / n_tok, 6) AS frac")
        .where("doc_id < 30 OR (doc_id >= 100000 AND doc_id < 100030)")
        .orderBy("doc_id")),

    // ExactSubstr REMOVAL — the paper's actual surgery (Lee et al.
    // 2021 cut the repeated spans from the corpus rather than dropping
    // whole documents): tokens inside any maximal repeated span are
    // filtered out by POSITION with a higher-order array lambda over
    // the doc's (small) span list — per-document work only, no extra
    // shuffle beyond the span join. The gate compares exact before/
    // after token counts AND the md5 of the cleaned text (both engines
    // emit identical lowercase hex), so the surgery itself — not just
    // its size — is verified.
    "t28_substr_removal" -> ((s, d) => {
      val spans = substrSpans(s, d, 20)
        .groupBy("doc_id")
        .agg(collect_list(struct(col("st"), col("en"))).as("spans"))
      docsWithDups(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .join(spans, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "size(toks) AS n_before",
          "filter(toks, (t, i) -> spans IS NULL OR NOT exists(spans, " +
            "sp -> i >= sp.st AND i < sp.en)) AS kept")
        .selectExpr("doc_id", "n_before",
          "size(kept) AS n_after",
          "md5(concat_ws(' ', kept)) AS clean_md5")
        .where("doc_id < 30 OR (doc_id >= 100000 AND doc_id < 100030)")
        .orderBy("doc_id")
    }),

    // Gopher repetition signals (Rae et al. 2021 §A1.1): fraction of a
    // document's characters covered by its single most frequent 2-gram,
    // and by ALL 5-grams that occur more than once — the two standard
    // n-gram-class quality rules (the line-based rules need line
    // structure this corpus doesn't have). Definition pinned here as
    // occurrences × chars(ngram) / chars(doc) (the common reproduction
    // form; overlapping occurrences counted, not char-masked), computed
    // in exact integer arithmetic and rounded once. One scan per n:
    // n-grams via lead() windows partitioned BY DOC (never global), so
    // a 100 TB corpus parallelizes per document. keep = both signals
    // under Gopher's published thresholds (0.20 / 0.15)
    "t26_gopher_signals" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val words = docs(s, d)
        .selectExpr("doc_id", "CAST(length(text) AS BIGINT) AS chars", "text")
        .selectExpr("doc_id", "chars", "posexplode(split(text, ' ')) AS (pos, w)")
      val g2 = words
        .withColumn("g", concat_ws(" ", col("w"), lead("w", 1).over(w)))
        .where(expr("g IS NOT NULL AND size(split(g, ' ')) = 2"))
        .groupBy("doc_id", "chars", "g").agg(count(lit(1)).as("c"))
      val top2 = g2
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("c").desc, col("g"))))
        .where("rn = 1")
        .selectExpr("doc_id",
          "round(CAST(c * length(g) AS DOUBLE) / chars, 6) AS top2_share")
      val g5 = words
        .withColumn("g", concat_ws(" ", col("w"),
          lead("w", 1).over(w), lead("w", 2).over(w),
          lead("w", 3).over(w), lead("w", 4).over(w)))
        .where(expr("size(split(g, ' ')) = 5"))
        .groupBy("doc_id", "chars", "g").agg(count(lit(1)).as("c"))
      val dup5 = g5.where("c > 1")
        .groupBy("doc_id", "chars")
        .agg(expr("round(CAST(sum(c * length(g)) AS DOUBLE) / chars, 6)")
          .as("dup5_share"))
        .drop("chars")
      top2.join(dup5, Seq("doc_id"), "left")
        .selectExpr("doc_id", "top2_share",
          "coalesce(dup5_share, 0.0) AS dup5_share",
          "top2_share < 0.20 AND coalesce(dup5_share, 0.0) < 0.15 AS keep")
        .where("doc_id < 40").orderBy("doc_id")
    }),

    // corpus vocabulary cardinality — the dataset-card statistic every
    // corpus ships with: exact distinct whitespace tokens per source +
    // overall. Exact distinct = explode + two partial-agg phases (dedup
    // shuffle keyed by token, then count) — at 100 TB the same query
    // runs the mergeable HLL sketch instead (approx_count_distinct —
    // QuerySpec bounds its error against this exact gate, the q69
    // exact/approx pairing applied to cardinality)
    "t24_token_cardinality" -> ((s, d) => {
      val toks = docs(s, d)
        .selectExpr("source", "explode(split(text, ' ')) AS tok")
      val perSource = toks.distinct()
        .groupBy("source").agg(count(lit(1)).cast("bigint").as("vocab"))
      val overall = toks.select("tok").distinct()
        .agg(count(lit(1)).cast("bigint").as("vocab"))
        .selectExpr("'__all__' AS source", "vocab")
      perSource.unionByName(overall).orderBy("source")
    }),

    // hashed char-n-gram LINEAR CLASSIFIER (fastText-style quality
    // filter — the CCNet/LLaMA-pipeline "keep if the classifier likes
    // it" step): features = the distinct trigram hashes the dedup stack
    // already computes, hashing-trick bucketed to 1024 weights by a
    // deterministic integer formula shared verbatim with the oracle.
    // Per-doc score = Σ w[h] — explode + partial-agg (codegen end to
    // end, contiguous doc_ids collapse map-side), then one join to the
    // source column and a bounded per-source aggregate. All-integer
    // arithmetic: the gate hashes exactly.
    "t23_quality_classifier" -> ((s, d) => {
      val w = "CAST((h % 1024) * 2654435761 % 13 - 6 AS BIGINT)"
      val scored = sigTable(s, d)
        .select(col("doc_id"), explode(col("dhl")).as("h"))
        .selectExpr("doc_id", s"$w AS wt")
        .groupBy("doc_id").agg(sum("wt").as("score"))
      docs(s, d).select(col("doc_id"), col("source"))
        .join(scored, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(expr("CASE WHEN score > 0 THEN 1 ELSE 0 END")).cast("bigint").as("kept"),
          sum("score").cast("bigint").as("sum_score"))
        .orderBy("source")
    }),

    // exact n-gram Jaccard over the distinct-hash sets, LSH-bounded
    // (never unblocked O(n^2)). Each candidate pair explodes to its two
    // member edges, and ONE broadcast join against the signature table
    // attaches both sides' hash sets — so the signature kernel runs
    // TWICE total (bands pass inside the broadcast side + one scan on
    // the join side), where the old per-side joins ran it three times.
    // A k-bounded groupBy re-pairs the edges.
    "t07_jaccard" -> ((s, d) => {
      val edges = lshPairsDF(s, d, 200).select("a", "b")
        .selectExpr("a", "b", "explode(array(a, b)) AS doc_id")
      val joined = sigTable(s, d).select("doc_id", "dhl")
        .join(broadcast(edges), Seq("doc_id"))
      joined.groupBy("a", "b")
        .agg(
          first(expr("CASE WHEN doc_id = a THEN dhl END"), ignoreNulls = true).as("sa"),
          first(expr("CASE WHEN doc_id = b THEN dhl END"), ignoreNulls = true).as("sb"))
        .selectExpr("a", "b",
          "CAST(size(array_intersect(sa, sb)) AS DOUBLE) / (size(sa) + size(sb) - size(array_intersect(sa, sb))) AS jac")
        .orderBy(col("jac").desc, col("a"), col("b")).limit(20)
    }),

    // 16-bit simhash signatures (from the one-pass kernel)
    "t08_simhash" -> ((s, d) =>
      sigTable(s, d).select("doc_id", "simhash").orderBy("doc_id")),

    // rolling-hash document fingerprints
    "t09_fingerprint" -> ((s, d) =>
      sigTable(s, d).select("doc_id", "fp").orderBy("doc_id")),

    // word-bigram frequency profile, top-20. The token array stays in
    // its own Project WITHOUT an exchange (r18, guide §2.4): `toks` is
    // referenced four times and `split` is not cheap, so CollapseProject
    // (SPARK-36718's expensive-multi-ref rule) never inlines it into the
    // generator — split runs once per row, and the r16-era
    // repartition(doc_id) that pinned it behind a shuffle of the full
    // token arrays is pure removed cost (plan: 2 Exchange → 1,
    // plans/r18/t10_bigrams_*.txt). The size(toks) > 1 guard
    // matters: Spark's sequence(1, 0) is the DESCENDING [1, 0] (step
    // defaults to -1), so an unguarded single-token doc would hit
    // element_at(toks, 0) and fail the whole query at runtime.
    "t10_bigrams" -> ((s, d) =>
      docs(s, d).selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr("explode(CASE WHEN size(toks) > 1 THEN transform(sequence(1, size(toks) - 1), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) ELSE array() END) AS bg")
        .groupBy("bg").agg(expr("CAST(count(*) AS BIGINT)").as("c"))
        .orderBy(col("c").desc, col("bg")).limit(20)),

    // nearest simhash pairs: 4-bit Hamming bands + sorted-neighborhood
    // window (same bounded-blocking as t06 — a pair with Hamming distance
    // < 4 must agree exactly on at least one 4-bit band), then exact
    // bit_count on the candidates only — never an unblocked cross join.
    // b = 4 is PINNED here because the oracle replays these bands;
    // production widens b with the corpus (bandBits — scale contract
    // and spec there)
    "t11_simhash_pairs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sh = sigTable(s, d).selectExpr("doc_id", "simhash AS h")
      val bands = sh.selectExpr("doc_id", "h", bandStackExpr(4, 4))
      // W lead(struct) columns in one window pass replace the rn
      // self-join (which ran the signature kernel twice) — the struct
      // carries the partner's simhash for the exact Hamming distance
      val w = Window.partitionBy("t", "bh").orderBy("doc_id")
      bands
        .withColumn("nbrs",
          array((1 to WINDOW).map(i => lead(struct(col("doc_id"), col("h")), i).over(w)): _*))
        .selectExpr("doc_id AS a", "h AS ha", "explode(nbrs) AS nb")
        .where("nb IS NOT NULL")
        .selectExpr("a", "nb.doc_id AS b", "bit_count(ha ^ nb.h) AS ham")
        .distinct()
        .orderBy(col("ham"), col("a"), col("b")).limit(20)
    }),

    // n-gram LANGUAGE-MODEL quality scoring (the KenLM-style perplexity
    // filter of a pretraining pipeline): score(doc) = mean log-prob of
    // its word bigrams under the corpus unigram-normalized bigram model
    // P(bg) = C(bg)/N. Two partial-aggregated shuffles build the model
    // (bigram counts + total), the bounded vocabulary broadcasts back,
    // one groupBy scores — the same scale shape as t12's TF-IDF. ln() is
    // libm: round(,3) on a ~100-term mean clears ulp noise both sides.
    // PII detection + redaction (the scrubbing step of a pretraining
    // pipeline). The synthetic corpus carries no natural PII, so a
    // deterministic injection (same expression on both engines) plants
    // emails/phone numbers in every 7th doc; the scrubber then counts and
    // redacts them. Pure per-row projections — regexp_count/replace run
    // inside whole-stage codegen, one scan, no shuffle before the final
    // order. Patterns stay in the Java∩RE2 regex intersection so Spark
    // and DuckDB agree.
    "t17_pii_scrub" -> ((s, d) =>
      docs(s, d)
        .selectExpr("doc_id",
          """CASE WHEN doc_id % 7 = 0
               THEN concat(text, ' contact user', CAST(doc_id AS STRING),
                           '@example.com or 555-',
                           CAST(1000 + doc_id % 9000 AS STRING))
               ELSE text END AS text""")
        .selectExpr("doc_id",
          "CAST(regexp_count(text, '[a-z0-9._]+@[a-z0-9.]+') AS BIGINT) AS n_email",
          "CAST(regexp_count(text, '555-[0-9]{4}') AS BIGINT) AS n_phone",
          """md5(regexp_replace(regexp_replace(text,
               '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>'),
               '555-[0-9]{4}', '<PHONE>')) AS scrubbed_md5""")
        .where("doc_id < 50").orderBy("doc_id")),

    // Within-doc repetition scoring (the Gopher/C4-family quality rule:
    // drop documents dominated by repeated tokens). Per doc: token count,
    // distinct-token count, the repetition ratio 1 - uniq/n, and the top
    // word's share — one explode + one partial-aggregated groupBy per
    // doc, no cross-doc shuffle beyond the per-doc aggregation.
    "t18_repetition" -> ((s, d) =>
      docs(s, d)
        .selectExpr("doc_id", "explode(split(text, ' ')) AS w")
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum("c").as("n_tok"),
          count(lit(1)).as("n_uniq"),
          max("c").as("top_c"))
        .selectExpr("doc_id", "CAST(n_tok AS BIGINT) AS n_tok",
          "CAST(n_uniq AS BIGINT) AS n_uniq",
          "round(1.0 - CAST(n_uniq AS DOUBLE) / n_tok, 6) AS rep_ratio",
          "round(CAST(top_c AS DOUBLE) / n_tok, 6) AS top_share")
        .where("doc_id < 50").orderBy("doc_id")),

    // deterministic source-mixture resampling (the domain-reweighting step
    // of a training-data pipeline: downsample overrepresented web sources,
    // keep rare languages whole). The keep decision is a position-keyed
    // LCG coin — reproducible, no RNG state, no shuffle for the sampling
    // itself; ONE scan + ONE bounded groupBy(source). At 100 TB the kept
    // subset is a pushdown-friendly filter, never a sorted sample.
    "t19_mixture_sample" -> ((s, d) =>
      docs(s, d)
        .selectExpr("source",
          "CASE WHEN source IN ('src1', 'src2', 'src3') THEN 0.25 " +
            "WHEN lang <> 'en' THEN 1.0 ELSE 0.6 END AS rate",
          "((1103515245 * (doc_id % 2147483648) + 12345) % 2147483648) / 2147483648.0 AS u")
        .groupBy("source")
        .agg(
          expr("CAST(count(*) AS BIGINT)").as("total"),
          expr("CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT)").as("kept"))
        .selectExpr("source", "total", "kept",
          "round(CAST(kept AS DOUBLE) / total, 4) AS achieved")
        .orderBy("source")),

    // TEMPERATURE-weighted source mixing (the GPT-3 §2.2 / data-mixing
    // staple t19's fixed rates don't cover): per-source keep rate
    // DERIVED FROM THE DATA as p_s = min(1, T / (√n_s · Σ√n)) with
    // α = 1/2 and target T = N/2 — upweights small sources, downweights
    // large ones. α = 1/2 keeps the gate hash-exact WITHOUT
    // quantization: sqrt is IEEE correctly rounded (identical on any
    // engine), Σ√n accumulates as a RUNNING cumulative in source order
    // (running window addition is an ordered fold on both engines —
    // a plain SUM's order is engine-internal), and the remaining ops
    // are ×/÷ — so p_s is bit-identical and the coin comparison exact.
    // The per-source table is a handful of rows; the single-partition
    // window over it is metadata-sized at any corpus scale.
    "t29_temperature_mix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = docs(s, d).groupBy("source")
        .agg(count(lit(1)).as("n"))
      // totW = the SAME source-ascending ordered fold the oracle's
      // running-window sum performs — ((0+√n₁)+√n₂)+… — but computed
      // as `aggregate` over sort_array(collect_list(...)) inside ONE
      // 1-row aggregate instead of an unpartitioned WindowExec (whose
      // "No Partition Defined" WARN would pollute the driver-parsed
      // stdout tail; a lit() partition key gets constant-folded away
      // and still WARNs). The fold sequence is bit-identical because
      // sort_array orders by the struct's leading `source` field and
      // the HOF left-folds in array order; totN is exact integer
      // arithmetic at any order. The collect_list is over the handful
      // of per-source rows — metadata-sized at any corpus scale.
      val tot = counts.agg(
        expr("aggregate(sort_array(collect_list(struct(source, n))), " +
          "CAST(0.0 AS DOUBLE), (a, x) -> a + sqrt(x.n))").as("totW"),
        sum("n").as("totN"))
      val rates = counts.crossJoin(broadcast(tot))
        .selectExpr("source", "n",
          "least(1.0, (CAST(totN AS DOUBLE) / 2.0) / (sqrt(n) * totW)) AS p")
      docs(s, d).join(broadcast(rates), "source")
        .selectExpr("source", "n", "p",
          "((1103515245 * (doc_id % 2147483648) + 12345) % 2147483648) / 2147483648.0 AS u")
        .groupBy("source")
        .agg(
          expr("CAST(first(n) AS BIGINT)").as("total"),
          expr("CAST(sum(CASE WHEN u < p THEN 1 ELSE 0 END) AS BIGINT)").as("kept"),
          expr("round(first(p), 6)").as("rate"))
        .orderBy("source")
    }),

    // DETERMINISTIC per-source sampling (the eval-split / data-card /
    // inspection-sample staple): exactly K docs per source, chosen as
    // the K smallest values of a deterministic per-doc coin — stable
    // across runs, engines, and partitionings (no rand()); ties break
    // by doc_id. Scale shape: a THRESHOLD PRE-FILTER bounds the
    // exact-rank window's input — the kept docs all satisfy u < T
    // whenever each source has ≥ K survivors under T, so the
    // per-source sort ranks ~n·T/2³¹ candidate rows instead of the
    // whole corpus. Here T = 2³⁰ (half the coin space — survivor
    // minimum 12 ≥ K at every test scale, measured); at 100 TB set
    // T ≈ safety · K·2³¹/n_min and audit min-survivors ≥ K with a
    // one-row aggregate, doubling T on a miss (deterministic retry —
    // same sample either way). The window partitions by source and
    // sorts only survivors — never a global or data-sized sort.
    "t30_hash_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val K = 5
      val T = 1073741824L // 2^30
      val cand = docs(s, d)
        .selectExpr("source", "doc_id",
          "((1103515245 * (doc_id % 2147483648) + 12345) % 2147483648) AS u")
        .where(s"u < $T")
      val w = Window.partitionBy("source").orderBy(col("u"), col("doc_id"))
      cand.withColumn("rn", row_number().over(w))
        .where(s"rn <= $K")
        .selectExpr("source", "CAST(rn AS BIGINT) AS rn", "doc_id", "u")
        .orderBy("source", "rn")
    }),

    // DERIVED-WIDTH band blocking under the oracle: the production path
    // of the bandBits scale contract, gated end to end — band width is
    // computed FROM THE CORPUS COUNT on both engines (Spark: bandBits;
    // DuckDB: the same clamp(ceil(log2(n div target)), 4, 16) in SQL),
    // so the gate passes at sf0.01 with 5-bit bands AND at sf0.1 with
    // 9-bit bands from the same query text. The 62-bit key is exact
    // integer arithmetic both sides (doc_id·2654435761 ≤ 2^54, no
    // overflow); output is the per-(table, band) occupancy histogram —
    // the quantity the contract bounds. The count() is one metadata
    // scalar (the same O(1) driver traffic the 100 TB path needs to
    // derive width).
    "t31_derived_bands" -> ((s, d) => {
      val n = docs(s, d).count()
      val bits = bandBits(n, targetBucket = 16L)
      docs(s, d)
        .selectExpr("doc_id",
          "(doc_id * 2654435761) % 4611686018427387904 AS h")
        .selectExpr("doc_id", bandStackExpr(4, bits))
        .groupBy("t", "bh").agg(count(lit(1)).as("n"))
        .orderBy("t", "bh")
    }),

    // DSIR-style importance selection (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every doc
    // by how target-like its hashed-feature counts are, keep the top K.
    // Features are hashed unigram buckets (64 of them); the per-bucket
    // importance log-ratio ln(p_target(b)/p_raw(b)) with add-1 smoothing
    // is FLOORED TO AN INTEGER (micro-nats) exactly once per bucket, so
    // everything downstream is exact BIGINT arithmetic — order-free,
    // engine-portable, hash-gateable. Scale shape: the text is scanned
    // ONCE (the (doc, bucket) counts feed the raw distribution, the
    // target distribution, and the per-doc score); every exchange is
    // keyed on fixed-width ints; the 64-row log-ratio table broadcasts;
    // top-K plans TakeOrdered (per-partition heaps + driver merge of K),
    // never a global sort. At 100 TB: one corpus scan + two metadata-
    // sized aggregates + a K-row result — the selection variant of the
    // method (deterministic top-K by weight); sampled resampling swaps
    // the final step for the t30-style deterministic coin.
    "t32_dsir_selection" -> ((s, d) => {
      val cnts = docs(s, d)
        .selectExpr("doc_id", "lang", "explode(split(text, ' ')) AS tok")
        .where("tok <> ''")
        .selectExpr("doc_id", "lang",
          "pmod(length(tok) * 31 + ascii(tok), 64) AS b")
        .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("cnt"))
      val rb = cnts.groupBy("b").agg(sum("cnt").as("rb"))
      val tb = cnts.where("lang = 'en'").groupBy("b").agg(sum("cnt").as("tb"))
      val tot = rb.agg(sum("rb").as("R"))
        .crossJoin(tb.agg(coalesce(sum("tb"), lit(0L)).as("T")))
      val lr = rb.join(tb, Seq("b"), "left").crossJoin(broadcast(tot))
        .selectExpr("b",
          "CAST(floor(ln(((coalesce(tb, 0) + 1.0D) / (T + 64.0D)) / " +
            "((rb + 1.0D) / (R + 64.0D))) * 1000000.0D) AS BIGINT) AS lr")
      cnts.join(broadcast(lr), Seq("b"))
        .groupBy("doc_id")
        .agg(expr("CAST(sum(cnt * lr) AS BIGINT)").as("dsir_weight"))
        .orderBy(desc("dsir_weight"), col("doc_id"))
        .limit(40)
    }),

    // Distributed BPE-style tokenizer TRAINING (the t03 row counts
    // tokens; this trains the merge table): K rounds of corpus-weighted
    // adjacent-pair counting + greedy merge — the e13/e14 iterative-
    // training shape applied to text. Scale design: the corpus is
    // scanned ONCE into the distinct-word frequency table (vocabulary-
    // sized — orders of magnitude below the corpus — and persisted);
    // each round is then ONE partial-agg shuffle over the vocab plus a
    // TakeOrdered(1) (per-partition top + driver merge of 1 row, never
    // a global sort), with the learned merges broadcast inside an
    // array literal. Driver traffic per round is exactly one (pair,
    // count) row; K rounds = K vocab-sized jobs sharing one compiled
    // plan (see bpePairCounts). The [a-z]+ word filter keeps symbol
    // indexing engine-portable (DuckDB indexes strings by grapheme,
    // Spark substring by code point — identical on ASCII). Ties break
    // (count desc, pair asc in binary order) on both engines; counts
    // are exact BIGINTs. Output: the rank-ordered merge table, the
    // actual artifact a tokenizer trainer ships.
    "t33_bpe_train" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      bpeTrainMerges(s, d).zipWithIndex
        .map { case ((_, _, pair, cnt), i) =>
          (i + 1, pair, pair.replace(" ", ""), cnt)
        }
        .toDF("rnk", "pair", "merged", "cnt")
        .orderBy("rnk")
    }),

    // PERCENTILE-THRESHOLD FILTERING (the standard quality-selection
    // shape: "keep documents above the corpus's 75th percentile of a
    // quality signal, report per-source survival"): the threshold is an
    // EXACT distributed quantile (ExactQuantile — range-partitioned rank
    // selection, O(numPartitions) driver bytes, never Spark's
    // single-buffer percentile), method = "lower" so it is an actual
    // integer-quantized data value and the comparison is hash-exact. The
    // oracle re-derives the same order statistic with a window rank
    // (row index floor(0.75·(n−1)), numpy's "lower"). At 100 TB: one
    // scored scan + the two quantile passes + one partial-agg shuffle.
    "t34_quality_percentile_filter" -> ((s, d) => {
      val scored = docs(s, d).selectExpr("source",
        "CAST(floor(10000.0D * length(replace(text, ' ', '')) / " +
          "size(split(text, ' '))) AS BIGINT) AS q")
      val th = ExactQuantile.quantiles(scored, "q", Seq(0.75), method = "lower")
        .head.toLong
      scored.where(s"q >= ${th}L")
        .groupBy("source")
        .agg(expr("CAST(count(*) AS BIGINT)").as("n_kept"),
          expr("CAST(sum(q) AS BIGINT)").as("q_sum"))
        .orderBy("source")
    }),

    // LEAKAGE-FREE train/val split — the step after near-dup clustering
    // a training pipeline actually ships: assign WHOLE duplicate
    // clusters to one side, so no near-dup pair ever straddles the
    // split (the classic eval-contamination bug: a val doc's near-twin
    // sits in train and the loss is optimistic). Groups = connected
    // components over the LSH candidate graph; docs in no candidate
    // pair are their own group; the split is a deterministic rule on
    // the group id (grp % 10 → val), so assignment is reproducible
    // and join-free at serve time. One CC (O(log n) keyed rounds,
    // t13's operator) + one left join + one keyed agg — every exchange
    // hash-partitioned, nothing data-sized on the driver. GraphSpec
    // pins the invariant itself: no candidate pair crosses the split.
    "t35_leakage_split" -> ((s, d) => {
      val cc = GraphOps.connectedComponents(
        lshPairsDF(s, d, 200).select("a", "b"))
      docsWithDups(s, d)
        .selectExpr("doc_id AS id", "source",
          "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok")
        .join(cc, Seq("id"), "left")
        .selectExpr("CASE WHEN coalesce(lbl, id) % 10 = 0 THEN 'val' " +
          "ELSE 'train' END AS split", "source", "n_tok",
          "coalesce(lbl, id) AS grp")
        .groupBy("split", "source")
        .agg(expr("CAST(count(*) AS BIGINT)").as("n_docs"),
          expr("CAST(sum(n_tok) AS BIGINT)").as("n_tokens"),
          countDistinct("grp").as("n_groups"))
        .orderBy("split", "source")
    }),

    // END-TO-END PIPELINE composite — the four stages a training-data
    // run chains, as ONE Catalyst DAG (what the library is FOR: the
    // per-stage gates prove each operator; this proves the composition
    // optimizes as a whole — one scan feeds quality + eval-hash
    // derivation, the dedup agg and the broadcast anti-join pipeline
    // into the final keyed agg with no materialization barrier between
    // stages):
    //   1. QUALITY filter (length + integer-quantized avg-token-length)
    //   2. EXACT DEDUP (content-hash groupBy, keep the min-id row via
    //      ONE struct-min agg — no rank-then-filter second pass)
    //   3. DECONTAMINATION (broadcast anti-join against eval hashes)
    //   4. SPLIT + ACCOUNTING (split rule + per (split, source) card)
    // Probed non-degenerate at both gate scales: 600 → 535/550 → ~450
    // → ~440 rows, every stage drops something, both splits populated.
    "t36_pipeline_end2end" -> ((s, d) => {
      val base = docsWithDups(s, d).selectExpr(
        "doc_id", "source", "md5(text) AS h",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok",
        "CAST(floor(10000.0D * length(replace(text, ' ', '')) / " +
          "size(split(text, ' '))) AS BIGINT) AS q")
      val kept = base.where("n_tok >= 20 AND q >= 35000")
      val deduped = kept.groupBy("h")
        .agg(min(struct(col("doc_id"), col("source"), col("n_tok"),
          col("q"))).as("m"))
        .selectExpr("h", "m.doc_id AS doc_id", "m.source AS source",
          "m.n_tok AS n_tok", "m.q AS q")
      val evalH = base.where("doc_id % 97 = 3").select("h").distinct()
      deduped.join(broadcast(evalH), Seq("h"), "left_anti")
        .selectExpr("CASE WHEN doc_id % 10 = 0 THEN 'val' ELSE 'train' " +
          "END AS split", "source", "n_tok", "q")
        .groupBy("split", "source")
        .agg(expr("CAST(count(*) AS BIGINT)").as("n_docs"),
          expr("CAST(sum(n_tok) AS BIGINT)").as("n_tokens"),
          expr("CAST(sum(q) AS BIGINT)").as("q_sum"))
        .orderBy("split", "source")
    }),

    // CORPUS VERSION DIFF — the dataset-ops audit every managed corpus
    // needs between releases: which documents were added, removed, or
    // content-changed (by hash), per source. v2 is derived from v1
    // deterministically (removals % 11, in-place edits % 7 = 3,
    // additions re-keyed above 100000) so both engines build identical
    // snapshots; the diff is ONE full-outer equi-join on doc_id + a
    // hash compare — at 100 TB that is one co-partitionable shuffle,
    // and with both releases bucketed on doc_id it is exchange-free.
    "t37_corpus_diff" -> ((s, d) => {
      val v1 = docs(s, d).selectExpr("doc_id", "source", "md5(text) AS h")
      val v2 = docs(s, d).where("doc_id % 11 <> 0")
        .selectExpr("doc_id", "source",
          "md5(CASE WHEN doc_id % 7 = 3 THEN concat(text, ' v2') " +
            "ELSE text END) AS h")
        .unionByName(docs(s, d).where("doc_id % 13 = 0")
          .selectExpr("doc_id + 100000 AS doc_id", "source", "md5(text) AS h"))
      v1.selectExpr("doc_id", "source AS s1", "h AS h1")
        .join(v2.selectExpr("doc_id", "source AS s2", "h AS h2"),
          Seq("doc_id"), "full_outer")
        .selectExpr(
          "CASE WHEN h1 IS NULL THEN 'added' WHEN h2 IS NULL THEN 'removed' " +
            "WHEN h1 <> h2 THEN 'changed' ELSE 'same' END AS status",
          "coalesce(s1, s2) AS source")
        .groupBy("status", "source")
        .agg(expr("CAST(count(*) AS BIGINT)").as("n"))
        .orderBy("status", "source")
    }),

    // C4-style cross-corpus span dedup: explode disjoint 8-token spans,
    // keep only each span's globally-first occurrence (ordered by doc then
    // position), drop the rest — the "repeated three-sentence span"
    // filter generalized to token windows. ONE explode + ONE span-keyed
    // groupBy + ONE span-keyed join; the span string is the shuffle key
    // here because the oracle needs exact equality — at 100 TB you'd key
    // the same two shuffles on a 128-bit span hash instead (same plan
    // shape, narrower exchange).
    "t20_span_dedup" -> ((s, d) => {
      val spans = docsWithDups(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr("doc_id",
          "posexplode(transform(sequence(0, CAST(ceil(size(toks) / 8.0) AS INT) - 1), " +
            "p -> concat_ws(' ', slice(toks, p * 8 + 1, 8)))) AS (p, span)")
        .where("length(span) > 0")
      val firsts = spans.groupBy("span")
        .agg(min(expr("doc_id * 10000 + p")).as("fk"))
      spans.join(firsts, "span")
        .groupBy("doc_id")
        .agg(
          expr("CAST(count(*) AS BIGINT)").as("n_span"),
          expr("CAST(sum(CASE WHEN doc_id * 10000 + p = fk THEN 1 ELSE 0 END) AS BIGINT)").as("n_kept"))
        .where("doc_id < 30 OR (doc_id >= 100000 AND doc_id < 100030)")
        .selectExpr("doc_id", "n_span", "n_kept",
          "round(CAST(n_kept AS DOUBLE) / n_span, 4) AS keep_ratio")
        .orderBy("doc_id")
    }),

    "t16_lm_score" -> ((s, d) => {
      val bgRows = docs(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .repartition(col("doc_id")) // pin toks: explode must not re-split per bigram
        // guarded as in t10: sequence(1, 0) = [1, 0] would crash on a
        // single-token doc where DuckDB's generate_series(1, 0) is empty
        .selectExpr("doc_id",
          "explode(CASE WHEN size(toks) > 1 THEN transform(sequence(1, size(toks) - 1), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) ELSE array() END) AS bg")
      val counts = bgRows.groupBy("bg").agg(count(lit(1)).as("c"))
      // N = Σ C(bg): derived from the counts table, NOT a third scan of
      // the corpus
      val total = counts.agg(sum("c").as("n"))
      // the bigram model is vocab²-sized — NOT broadcastable at corpus
      // scale; score via a bigram-keyed shuffle join (the scored side is
      // already filtered) and broadcast only the scalar total
      bgRows.where("doc_id < 50")
        .join(counts, "bg").crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(expr("round(avg(ln(CAST(c AS DOUBLE) / n)), 3)").as("lm_score"),
          expr("CAST(count(*) AS BIGINT)").as("n_bigrams"))
        .orderBy("doc_id")
    }),

    // train/eval CONTAMINATION detection (the decontamination step of a
    // training pipeline: flag training docs sharing n-gram content with a
    // held-out benchmark). Eval set = doc_id % 7 = 3; score = fraction of
    // a training doc's DISTINCT char-3-gram hashes that appear anywhere
    // in the eval set. Scale shape: the eval side collapses to its
    // distinct hash set (bounded by the hash space, broadcastable at any
    // corpus size); the training side is one explode + one broadcast
    // join + one partial-aggregated groupBy — no pair join at all.
    // decontamination when the eval set is too big to broadcast: the
    // eval keys fold into ONE Bloom blob (graft_bloom_agg), the blob
    // rides every scan as a literal predicate, and only the
    // might-contain sliver reaches the exact confirm anti-join — shuffle
    // volume O(fpp·train + eval), result EXACT (functions/Bloom.scala)
    "t21_bloom_decontamination" -> ((s, d) => {
      val all = docsWithDups(s, d)
      graft.functions.Bloom.decontaminate(
        all.where("doc_id % 7 <> 3"), all.where("doc_id % 7 = 3"),
        "text", expectedEval = 1L << 16)
        .select("doc_id").orderBy("doc_id")
    }),

    "t14_contamination" -> ((s, d) => {
      val sig = sigTable(s, d).select("doc_id", "dhl")
      val train = sig.where("doc_id % 7 <> 3")
        .selectExpr("doc_id AS tid", "size(dhl) AS nt", "explode(dhl) AS h")
      val evalH = sig.where("doc_id % 7 = 3")
        .selectExpr("explode(dhl) AS h").distinct()
      train.join(broadcast(evalH), "h")
        .groupBy("tid", "nt")
        .agg(count(lit(1)).as("shared"))
        .selectExpr("tid", "CAST(shared AS BIGINT) AS shared",
          "round(CAST(shared AS DOUBLE) / nt, 4) AS ratio")
        .orderBy(col("ratio").desc, col("tid")).limit(20)
    }),

    // SEQUENCE PACKING (concat-and-chunk): documents concatenated in
    // doc_id order and split into fixed 2048-token windows; a doc's bin
    // is the window its first token lands in. The global running offset
    // is the engine's blocked cumulative sum (BlockScan, as CumVec runs
    // it): an in-block prefix sum over 1000-doc blocks plus an
    // O(numBlocks) carry table — never a global Window.orderBy over the
    // corpus. One scan, one block-partitioned exchange, one broadcast.
    "t15_seq_packing" -> ((s, d) => {
      val t = docs(s, d).selectExpr("doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS nt", "doc_id DIV 1000 AS blk")
      val offsets = graft.expr.BlockScan.op("sum", col("nt"), col("doc_id"))
      graft.expr.BlockScan.sequential(t, offsets, col("doc_id"))
        .select(col("doc_id"), col("nt"), offsets.value.as("upto"))
        .selectExpr("doc_id", "nt", "(upto - nt) DIV 2048 AS bin")
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("toks"),
          min("doc_id").as("first_id"), max("doc_id").as("last_id"))
        .selectExpr("bin", "CAST(n_docs AS BIGINT) AS n_docs",
          "CAST(toks AS BIGINT) AS toks", "first_id", "last_id")
        .orderBy("bin")
    }),
  )

  /** The shared t33/s09 oracle chain: DuckDB replays the SAME K greedy
    * merges, unrolled as one (pair-pick, re-tokenize) CTE pair per rank
    * — each m_i picks the best pair from the previous representation
    * b_{i-1}, and each b_i applies it with the identical padded-double-
    * space `replace`. Generated by a loop so the Spark constant
    * `bpeMerges` and the SQL depth can never drift apart. `applyLast`
    * adds the final b_k (the fully-merged vocab the ENCODE oracle joins
    * against; the training oracle only needs the picks). */
  private def bpeChainSql(k: Int, applyLast: Boolean): String = {
    val sb = new StringBuilder
    sb ++= """WITH wd AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w),
         b0 AS (SELECT w, ' ' || array_to_string([w[i] for i in generate_series(1, length(w))], '  ') || ' ' AS r, freq FROM wd)"""
    for (i <- 1 to k) {
      sb ++= s""",
         m$i AS (SELECT p, cnt FROM (
             SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
               SELECT freq, unnest([t[j] || ' ' || t[j+1]
                                    for j in generate_series(1, len(t) - 1)]) AS p
               FROM (SELECT string_split(trim(r), '  ') AS t, freq FROM b${i - 1})
               WHERE len(t) >= 2)
             GROUP BY p)
           ORDER BY cnt DESC, p LIMIT 1)"""
      if (i < k || applyLast) sb ++= s""",
         b$i AS (SELECT w, replace(r,
             ' ' || split_part(p, ' ', 1) || '  ' || split_part(p, ' ', 2) || ' ',
             ' ' || replace(p, ' ', '') || ' ') AS r, freq
           FROM b${i - 1}, m$i)"""
    }
    sb.toString
  }

  private def bpeOracle(k: Int): String =
    bpeChainSql(k, applyLast = false) +
      "\n         SELECT * FROM (" +
      (1 to k).map(i =>
        s"SELECT $i AS rnk, p AS pair, replace(p, ' ', '') AS merged, cnt FROM m$i")
        .mkString("\n           UNION ALL ") +
      ") ORDER BY rnk"

  /** The s09 encode oracle: re-train the K merges, then tokenize every
    * gated document by joining its words against the fully-merged vocab
    * b_K — per doc, word count and total piece count. */
  def bpeEncodeOracle(k: Int, docLimit: Int): String =
    bpeChainSql(k, applyLast = true) + s""",
         dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents WHERE doc_id < $docLimit),
         enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(len(string_split(trim(b.r), '  '))) AS BIGINT) AS n_pieces
                 FROM (SELECT doc_id, w FROM dw
                       WHERE regexp_matches(w, '^[a-z]+$$')) d
                 JOIN b$k b ON d.w = b.w
                 GROUP BY doc_id)
         SELECT doc_id, n_words, n_pieces FROM enc ORDER BY doc_id"""

  val oracles: Map[String, String] = Map(
    "t33_bpe_train" -> bpeOracle(bpeMerges),

    // the same integer-quantized score; threshold = the order statistic
    // at row index floor(0.75·(n−1)) (numpy "lower"), derived with a
    // window rank; survivors aggregated per source
    "t34_quality_percentile_filter" ->
      """WITH s AS (SELECT source,
             CAST(floor(10000.0 * length(replace(text, ' ', '')) /
                        len(string_split(text, ' '))) AS BIGINT) AS q
           FROM documents),
         th AS (SELECT q FROM (
             SELECT q, row_number() OVER (ORDER BY q) AS rn,
                    count(*) OVER () AS c FROM s)
           WHERE rn - 1 = CAST(floor(0.75 * (c - 1)) AS BIGINT))
         SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(s.q) AS BIGINT) AS q_sum
         FROM s, th WHERE s.q >= th.q
         GROUP BY source ORDER BY source""",

    // the t13 recursive-CTE components, every doc LEFT-joined in
    // (singletons group as themselves), the same grp % 10 split rule
    "t35_leakage_split" ->
      s"""WITH RECURSIVE sym AS (
            SELECT a AS x, b AS y FROM ${duckLshPairs(200)} p
            UNION ALL
            SELECT b AS x, a AS y FROM ${duckLshPairs(200)} p2),
          r AS (
            SELECT DISTINCT x AS id, x AS lbl FROM sym
            UNION
            SELECT s.y AS id, r.lbl FROM r JOIN sym s ON s.x = r.id),
          m AS (SELECT id, min(lbl) AS cluster FROM r GROUP BY id),
          a AS (SELECT d.source,
                  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
                  coalesce(m.cluster, d.doc_id) AS grp
                FROM $duckDocsWithDups d LEFT JOIN m ON m.id = d.doc_id)
          SELECT CASE WHEN grp % 10 = 0 THEN 'val' ELSE 'train' END AS split,
            source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tok) AS BIGINT) AS n_tokens,
            CAST(count(DISTINCT grp) AS BIGINT) AS n_groups
          FROM a GROUP BY 1, 2 ORDER BY split, source""",

    // the same derived v2 snapshot and the same full-outer hash compare
    "t37_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, source, md5(text) AS h FROM documents),
          v2 AS (SELECT doc_id, source,
                   md5(CASE WHEN doc_id % 7 = 3 THEN text || ' v2'
                        ELSE text END) AS h
                 FROM documents WHERE doc_id % 11 <> 0
                 UNION ALL
                 SELECT doc_id + 100000, source, md5(text)
                 FROM documents WHERE doc_id % 13 = 0)
          SELECT CASE WHEN v1.h IS NULL THEN 'added'
                      WHEN v2.h IS NULL THEN 'removed'
                      WHEN v1.h <> v2.h THEN 'changed' ELSE 'same' END AS status,
            coalesce(v1.source, v2.source) AS source,
            CAST(count(*) AS BIGINT) AS n
          FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id
          GROUP BY 1, 2 ORDER BY status, source""",

    // the four-stage chain re-derived declaratively: QUALIFY row_number
    // = 1 is the dedup's keep-min-id, NOT IN the anti-join (h is never
    // NULL); all aggregates integer-quantized
    "t36_pipeline_end2end" ->
      s"""WITH base AS (SELECT doc_id, source, md5(text) AS h,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              CAST(floor(10000.0 * length(replace(text, ' ', '')) /
                         len(string_split(text, ' '))) AS BIGINT) AS q
            FROM $duckDocsWithDups),
          kept AS (SELECT * FROM base WHERE n_tok >= 20 AND q >= 35000),
          ded AS (SELECT * FROM kept
                  QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1),
          ev AS (SELECT DISTINCT h FROM base WHERE doc_id % 97 = 3),
          clean AS (SELECT * FROM ded WHERE h NOT IN (SELECT h FROM ev))
          SELECT CASE WHEN doc_id % 10 = 0 THEN 'val' ELSE 'train' END AS split,
            source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tok) AS BIGINT) AS n_tokens,
            CAST(sum(q) AS BIGINT) AS q_sum
          FROM clean GROUP BY 1, 2 ORDER BY split, source""",

    "t12_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE w <> ''),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT tf.w AS w, CAST(tf.tf AS BIGINT) AS tf,
           round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS score
         FROM tf JOIN dfreq USING (w), n
         WHERE tf.doc_id = 0
         ORDER BY score DESC, w LIMIT 10""",

    "t01_exact_dedup" ->
      s"""SELECT min(doc_id) AS keep_id, count(*) AS cnt FROM $duckDocsWithDups
          GROUP BY md5(text) HAVING count(*) > 1 ORDER BY keep_id""",

    "t02_quality" ->
      """SELECT doc_id, length(text) AS n,
         len(string_split(text, ' ')) AS n_tok,
         round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_tok_len,
         round(CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and' OR t = 'in')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio,
         round(CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / length(text), 4) AS punct_ratio
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""",

    "t03_token_counts" ->
      s"""SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
          CAST(sum(len(regexp_extract_all(text, '$tokPattern'))) AS BIGINT) AS bpe_tokens,
          CAST(count(*) AS BIGINT) AS n_docs FROM documents""",

    "t04_langid" ->
      s"""SELECT ${predCase(duckScore)} AS pred, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY 1 ORDER BY pred""",

    "t05_minhash" ->
      s"SELECT * FROM $duckSig ORDER BY doc_id",

    "t06_lsh_candidates" ->
      s"SELECT * FROM ${duckLshPairs(50)}",

    "t13_dedup_clusters" ->
      s"""WITH RECURSIVE sym AS (
            SELECT a AS x, b AS y FROM ${duckLshPairs(200)} p
            UNION ALL
            SELECT b AS x, a AS y FROM ${duckLshPairs(200)} p2),
          r AS (
            SELECT DISTINCT x AS id, x AS lbl FROM sym
            UNION
            SELECT s.y AS id, r.lbl FROM r JOIN sym s ON s.x = r.id)
          SELECT cluster, CAST(count(*) AS BIGINT) AS sz, max(id) AS max_id
          FROM (SELECT id, min(lbl) AS cluster FROM r GROUP BY id)
          GROUP BY cluster ORDER BY cluster""",

    "t22_dedup_keep_best" ->
      s"""WITH RECURSIVE sym AS (
            SELECT a AS x, b AS y FROM ${duckLshPairs(200)} p
            UNION ALL
            SELECT b AS x, a AS y FROM ${duckLshPairs(200)} p2),
          r AS (
            SELECT DISTINCT x AS id, x AS lbl FROM sym
            UNION
            SELECT s.y AS id, r.lbl FROM r JOIN sym s ON s.x = r.id),
          mem AS (
            SELECT m.id, m.cluster, CAST(length(d.text) AS BIGINT) AS len
            FROM (SELECT id, min(lbl) AS cluster FROM r GROUP BY id) m
            JOIN $duckDocsWithDups d ON d.doc_id = m.id),
          mx AS (
            SELECT cluster, CAST(count(*) AS BIGINT) AS sz, max(len) AS keep_len
            FROM mem GROUP BY cluster)
          SELECT mx.cluster AS cluster, mx.sz AS sz, min(mem.id) AS keep_id,
            mx.keep_len AS keep_len
          FROM mx JOIN mem ON mem.cluster = mx.cluster AND mem.len = mx.keep_len
          GROUP BY mx.cluster, mx.sz, mx.keep_len ORDER BY cluster""",

    "t25_length_profile" ->
      """WITH lens AS (
           SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
           FROM documents),
         ranked AS (
           SELECT source, n_tok,
             row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
           FROM lens)
         SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1 THEN n_tok END) AS BIGINT) AS p50,
           CAST(max(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1 THEN n_tok END) AS BIGINT) AS p90,
           CAST(max(CASE WHEN rn = CAST(floor(0.99 * (n - 1)) AS BIGINT) + 1 THEN n_tok END) AS BIGINT) AS p99,
           CAST(max(n_tok) AS BIGINT) AS mx
         FROM ranked GROUP BY source ORDER BY source""",

    "t27_exact_substr" ->
      s"""WITH l AS (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM $duckDocsWithDups),
         w AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
                 unnest([{'p': i - 1,
                          'g': array_to_string(list_slice(toks, i, i + 19), ' ')}
                         for i in generate_series(1, len(toks) - 19)],
                        recursive := true)
               FROM l WHERE len(toks) >= 20),
         r AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
         dw AS (SELECT doc_id, n_tok, p FROM w JOIN r USING (g)),
         m AS (SELECT doc_id, n_tok, p,
                 CASE WHEN p >= coalesce(max(p + 20) OVER (
                        PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS ni
               FROM dw),
         i AS (SELECT doc_id, n_tok, p,
                 sum(ni) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM m),
         sp AS (SELECT doc_id, n_tok, island,
                  min(p) AS st, max(p) + 20 AS en
                FROM i GROUP BY doc_id, n_tok, island)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(en - st) AS BIGINT) AS covered,
           round(CAST(sum(en - st) AS DOUBLE) / n_tok, 6) AS frac
         FROM sp
         WHERE doc_id < 30 OR (doc_id >= 100000 AND doc_id < 100030)
         GROUP BY doc_id, n_tok ORDER BY doc_id""",

    "t28_substr_removal" ->
      s"""WITH l AS (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM $duckDocsWithDups),
         w AS (SELECT doc_id,
                 unnest([{'p': i - 1,
                          'g': array_to_string(list_slice(toks, i, i + 19), ' ')}
                         for i in generate_series(1, len(toks) - 19)],
                        recursive := true)
               FROM l WHERE len(toks) >= 20),
         r AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
         dw AS (SELECT doc_id, p FROM w JOIN r USING (g)),
         m AS (SELECT doc_id, p,
                 CASE WHEN p >= coalesce(max(p + 20) OVER (
                        PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                      THEN 1 ELSE 0 END AS ni
               FROM dw),
         i AS (SELECT doc_id, p,
                 sum(ni) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM m),
         sp AS (SELECT doc_id, island, min(p) AS st, max(p) + 20 AS en
                FROM i GROUP BY doc_id, island),
         ag AS (SELECT doc_id, list({'st': st, 'en': en}) AS spans
                FROM sp GROUP BY doc_id),
         cut AS (SELECT l.doc_id AS doc_id, toks,
                   [toks[i] for i in generate_series(1, len(toks))
                    if spans IS NULL OR len([x for x in spans
                      if (i - 1) >= x.st AND (i - 1) < x.en]) = 0] AS kept
                 FROM l LEFT JOIN ag ON ag.doc_id = l.doc_id)
         SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_before,
           CAST(len(kept) AS BIGINT) AS n_after,
           md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
         FROM cut
         WHERE doc_id < 30 OR (doc_id >= 100000 AND doc_id < 100030)
         ORDER BY doc_id""",

    "t26_gopher_signals" ->
      """WITH l AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS chars,
                      string_split(text, ' ') AS toks FROM documents),
         g2 AS (SELECT doc_id, chars,
                  unnest([toks[i] || ' ' || toks[i+1]
                          for i in generate_series(1, len(toks) - 1)]) AS g
                FROM l WHERE len(toks) >= 2),
         c2 AS (SELECT doc_id, chars, g, count(*) AS c FROM g2 GROUP BY 1, 2, 3),
         t2 AS (SELECT doc_id,
                  round(CAST(c * length(g) AS DOUBLE) / chars, 6) AS top2_share,
                  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
                FROM c2),
         g5 AS (SELECT doc_id, chars,
                  unnest([array_to_string(list_slice(toks, i, i + 4), ' ')
                          for i in generate_series(1, len(toks) - 4)]) AS g
                FROM l WHERE len(toks) >= 5),
         c5 AS (SELECT doc_id, chars, g, count(*) AS c FROM g5 GROUP BY 1, 2, 3),
         d5 AS (SELECT doc_id,
                  round(CAST(sum(c * length(g)) AS DOUBLE) / chars, 6) AS dup5_share
                FROM c5 WHERE c > 1 GROUP BY doc_id, chars)
         SELECT t2.doc_id AS doc_id, top2_share,
           coalesce(dup5_share, 0.0) AS dup5_share,
           top2_share < 0.20 AND coalesce(dup5_share, 0.0) < 0.15 AS keep
         FROM t2 LEFT JOIN d5 ON t2.doc_id = d5.doc_id
         WHERE rn = 1 AND t2.doc_id < 40 ORDER BY doc_id""",

    "t24_token_cardinality" ->
      """SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS vocab
         FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
         GROUP BY source
         UNION ALL
         SELECT '__all__' AS source, CAST(count(DISTINCT tok) AS BIGINT) AS vocab
         FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         ORDER BY source""",

    "t23_quality_classifier" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
            CAST(sum(score) AS BIGINT) AS sum_score
          FROM (
            SELECT d.doc_id, d.source,
              CAST(list_sum(list_transform(hs.dhl,
                h -> (h % 1024) * 2654435761 % 13 - 6)) AS BIGINT) AS score
            FROM $duckHashed hs JOIN documents d ON d.doc_id = hs.doc_id)
          GROUP BY source ORDER BY source""",

    "t07_jaccard" ->
      s"""WITH cand AS (SELECT a, b FROM ${duckLshPairs(200)}),
          sh AS (SELECT doc_id, dhl AS s FROM $duckHashed)
          SELECT c.a AS a, c.b AS b,
            CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
              / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))) AS jac
          FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
          ORDER BY jac DESC, a, b LIMIT 20""",

    "t08_simhash" ->
      s"""SELECT doc_id, ${duckSimhashOf("dhl")} AS simhash FROM $duckHashed
          ORDER BY doc_id""",

    "t09_fingerprint" ->
      s"SELECT doc_id, $duckFingerprint AS fp FROM documents ORDER BY doc_id",

    "t10_bigrams" ->
      """SELECT bg, CAST(count(*) AS BIGINT) AS c FROM (
           SELECT unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bg
           FROM documents)
         GROUP BY bg ORDER BY c DESC, bg LIMIT 20""",

    "t11_simhash_pairs" ->
      s"""WITH sh AS (SELECT doc_id, ${duckSimhashOf("dhl")} AS h FROM $duckHashed),
          bands AS (SELECT doc_id, h, t,
            CASE ${(0 until 4).map(t => s"WHEN t = $t THEN (h // ${1 << (4 * t)}) % 16").mkString(" ")} END AS bh
            FROM sh, generate_series(0, 3) g(t)),
          br AS (SELECT doc_id, h, t, bh,
            row_number() OVER (PARTITION BY t, bh ORDER BY doc_id) AS rn FROM bands)
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.h, y.h)) AS ham
          FROM br x JOIN br y
            ON x.t = y.t AND x.bh = y.bh AND y.rn > x.rn AND y.rn <= x.rn + $WINDOW
          ORDER BY ham, a, b LIMIT 20""",

    "t16_lm_score" ->
      """WITH bg AS (
           SELECT doc_id, unnest(list_transform(
             generate_series(1, len(string_split(text, ' ')) - 1),
             i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bg
           FROM documents),
         cnt AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
         tot AS (SELECT count(*) AS n FROM bg)
         SELECT doc_id, round(avg(ln(CAST(c AS DOUBLE) / n)), 3) AS lm_score,
           CAST(count(*) AS BIGINT) AS n_bigrams
         FROM bg JOIN cnt USING (bg), tot
         WHERE doc_id < 50 GROUP BY doc_id ORDER BY doc_id""",

    "t17_pii_scrub" ->
      """WITH t AS (SELECT doc_id,
            CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                   '@example.com or 555-' ||
                   CAST(1000 + doc_id % 9000 AS VARCHAR)
              ELSE text END AS text
            FROM documents)
          SELECT doc_id,
            CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT) AS n_email,
            CAST(len(regexp_extract_all(text, '555-[0-9]{4}')) AS BIGINT) AS n_phone,
            md5(regexp_replace(regexp_replace(text,
              '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
              '555-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_md5
          FROM t WHERE doc_id < 50 ORDER BY doc_id""",

    "t18_repetition" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
          c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w)
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
            CAST(count(*) AS BIGINT) AS n_uniq,
            round(1.0 - CAST(count(*) AS DOUBLE) / sum(c), 6) AS rep_ratio,
            round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share
          FROM c WHERE doc_id < 50 GROUP BY doc_id ORDER BY doc_id""",

    "t29_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         r AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w,
                 sum(sqrt(CAST(n AS DOUBLE))) OVER (ORDER BY source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM c),
         t AS (SELECT source, n, w, max(cum) OVER () AS totW,
                 sum(n) OVER () AS totN FROM r),
         p AS (SELECT source, n,
                 least(1.0, (CAST(totN AS DOUBLE) / 2.0) / (w * totW)) AS p
               FROM t)
         SELECT p.source AS source, CAST(p.n AS BIGINT) AS total,
           CAST(sum(CASE WHEN ((1103515245 * (doc_id % 2147483648) + 12345)
                              % 2147483648) / 2147483648.0 < p.p
                    THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           round(p.p, 6) AS rate
         FROM documents d JOIN p ON p.source = d.source
         GROUP BY p.source, p.n, p.p ORDER BY source""",

    "t30_hash_sample" ->
      """SELECT source, CAST(rn AS BIGINT) AS rn, doc_id, u FROM (
           SELECT source, doc_id, u,
             row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
           FROM (SELECT source, doc_id,
                   ((1103515245 * (doc_id % 2147483648) + 12345) % 2147483648) AS u
                 FROM documents)
           WHERE u < 1073741824)
         WHERE rn <= 5 ORDER BY source, rn""",

    "t31_derived_bands" ->
      """WITH c AS (SELECT count(*) AS n FROM documents),
           bb AS (SELECT CASE WHEN n // 16 <= 1 THEN 4
                    ELSE greatest(4, least(16,
                      CAST(ceil(log2(n // 16)) AS INT))) END AS bits
                  FROM c),
           h AS (SELECT doc_id,
                   (doc_id * 2654435761) % 4611686018427387904 AS h
                 FROM documents),
           bands AS (
             SELECT CAST(t AS INT) AS t,
               (h.h // CAST(power(2, bits * t) AS BIGINT))
                 % CAST(power(2, bits) AS BIGINT) AS bh
             FROM h, bb, (SELECT unnest([0, 1, 2, 3]) AS t))
         SELECT t, bh, CAST(count(*) AS BIGINT) AS n
         FROM bands GROUP BY t, bh ORDER BY t, bh""",

    // every sum is integer-valued and CAST-wrapped (BIGINT — DuckDB would
    // widen to HUGEINT); the one libm call (ln) is floored to micro-nats
    // per BUCKET (64 values), never summed raw
    "t32_dsir_selection" ->
      """WITH tok AS (SELECT doc_id, lang,
                        unnest(string_split(text, ' ')) AS tok
                      FROM documents),
           c AS (SELECT doc_id, lang,
                   (length(tok) * 31 + ascii(tok)) % 64 AS b,
                   CAST(count(*) AS BIGINT) AS cnt
                 FROM tok WHERE tok <> '' GROUP BY 1, 2, 3),
           r AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS rb FROM c GROUP BY b),
           t AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS tb FROM c
                 WHERE lang = 'en' GROUP BY b),
           tot AS (SELECT (SELECT CAST(sum(rb) AS BIGINT) FROM r) AS R,
                          (SELECT CAST(coalesce(sum(tb), 0) AS BIGINT) FROM t) AS T),
           lr AS (SELECT r.b,
                    CAST(floor(ln(((coalesce(t.tb, 0) + 1.0) / (tot.T + 64.0))
                               / ((r.rb + 1.0) / (tot.R + 64.0))) * 1000000.0) AS BIGINT) AS lr
                  FROM r LEFT JOIN t ON r.b = t.b, tot)
         SELECT c.doc_id, CAST(sum(c.cnt * lr.lr) AS BIGINT) AS dsir_weight
         FROM c JOIN lr ON c.b = lr.b
         GROUP BY c.doc_id
         ORDER BY dsir_weight DESC, doc_id LIMIT 40""",

    "t19_mixture_sample" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS total,
           CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           round(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS achieved
         FROM (SELECT source,
             CASE WHEN source IN ('src1', 'src2', 'src3') THEN 0.25
                  WHEN lang <> 'en' THEN 1.0 ELSE 0.6 END AS rate,
             ((1103515245 * (doc_id % 2147483648) + 12345) % 2147483648) / 2147483648.0 AS u
           FROM documents)
         GROUP BY source ORDER BY source""",

    "t20_span_dedup" ->
      s"""WITH l AS (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM $duckDocsWithDups),
          s0 AS (SELECT doc_id, unnest([{'p': p, 'span': array_to_string(list_slice(toks, p * 8 + 1, p * 8 + 8), ' ')}
                   for p in generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1)], recursive := true)
                 FROM l),
          s AS (SELECT doc_id, p, span FROM s0 WHERE length(span) > 0),
          f AS (SELECT span, min(doc_id * 10000 + p) AS fk FROM s GROUP BY span)
          SELECT s.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_span,
            CAST(sum(CASE WHEN s.doc_id * 10000 + s.p = f.fk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            round(sum(CASE WHEN s.doc_id * 10000 + s.p = f.fk THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS keep_ratio
          FROM s JOIN f USING (span)
          WHERE s.doc_id < 30 OR (s.doc_id >= 100000 AND s.doc_id < 100030)
          GROUP BY s.doc_id ORDER BY doc_id""",

    "t21_bloom_decontamination" ->
      s"""SELECT t.doc_id FROM $duckDocsWithDups t
          WHERE t.doc_id % 7 <> 3
            AND t.text NOT IN (SELECT text FROM $duckDocsWithDups
                               WHERE doc_id % 7 = 3)
          ORDER BY doc_id""",

    "t14_contamination" ->
      s"""WITH sig AS (SELECT doc_id, dhl FROM $duckHashed),
          tr AS (SELECT doc_id AS tid, len(dhl) AS nt, unnest(dhl) AS h
                 FROM sig WHERE doc_id % 7 <> 3),
          ev AS (SELECT DISTINCT unnest(dhl) AS h FROM sig WHERE doc_id % 7 = 3)
          SELECT tid, CAST(count(*) AS BIGINT) AS shared,
            round(CAST(count(*) AS DOUBLE) / nt, 4) AS ratio
          FROM tr JOIN ev USING (h)
          GROUP BY tid, nt ORDER BY ratio DESC, tid LIMIT 20""",

    "t15_seq_packing" ->
      """WITH t AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
          c AS (SELECT doc_id, nt,
            CAST(sum(nt) OVER (ORDER BY doc_id) - nt AS BIGINT) AS pos FROM t)
          SELECT CAST(pos // 2048 AS BIGINT) AS bin,
            CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS toks,
            min(doc_id) AS first_id, max(doc_id) AS last_id
          FROM c GROUP BY 1 ORDER BY bin""",
  )
}
