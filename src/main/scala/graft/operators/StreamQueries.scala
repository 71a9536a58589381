package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.streaming.StreamOps

/** Oracle-gated STREAMING queries — §2.13's replay-to-completion gate.
  *
  * Until round 11 the streaming surface was spec-verified only (bit-
  * parity ScalaTests against the batch kernels) but never ran under the
  * DuckDB oracle. These queries close that gap: each one replays a
  * driver-generated parquet table as a REAL multi-micro-batch file
  * stream (the corpus is staged as several files and the source is
  * rate-limited to one file per trigger, so the run exercises genuine
  * batch boundaries, checkpointing, and — for the stateful ops — cross-
  * batch keyed state), runs the stream to completion with
  * `Trigger.AvailableNow`, and returns the sink contents as an ordinary
  * DataFrame whose oracle is the BATCH semantics in DuckDB SQL.
  *
  * The memory sink + AvailableNow harness is the test-scale GATE, not
  * the production path: a real deployment writes the same transformed
  * stream through `writeStream` to parquet / the TileDB sink
  * ([[StreamOps.tiledbSink]]) with the same watermark/state bounds, and
  * the operators under test are the SAME [[StreamOps]] functions the
  * production path uses. Reference analogue: the merge-able combine
  * argument of SURVEY §2.13 — a streaming twin is correct iff replaying
  * the batch input through it reproduces the batch answer.
  *
  * Determinism contract (what makes these hash-gateable): the gated
  * queries are either stateless per-row kernels (s01 — output is a pure
  * function of each row, so batch boundaries and file listing order are
  * irrelevant), keyed-state ops whose OUTPUT COLUMNS are invariant to
  * the within-batch survivor choice (s02 emits the dedup KEY, identical
  * across every member of a duplicate class), or ORDER-SENSITIVE ops
  * (s03's running-offset packing) replayed through
  * [[replayOrderedToCompletion]], whose arrival-barrier publish makes
  * micro-batch order equal range order by construction.
  */
object StreamQueries {

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Staged-source cache: the staged FILES for a (dataset, gate) pair
    * are deterministic, so they are written once and reused — across
    * invocations AND across JVMs (Bench runs every query four times;
    * Verify and Bench are separate processes). The dir name derives
    * from the key ALONE and a `_STAGED_OK` marker (written last) gates
    * reuse; a dir without the marker is wiped and restaged, so a
    * crashed writer can never leak a partial corpus into a later run.
    * An earlier scheme suffixed a per-JVM sequence number — two JVMs
    * could collide on (hash, seq) and `mode("append")` then PILED a
    * second copy of the corpus into a stale dir, silently multiplying
    * the replay's input (caught when s04's window counts came back
    * inflated and run-dependent). Checkpoints and sink tables stay
    * unique per invocation: reusing a checkpoint would replay ZERO
    * batches and fake an empty result. Concurrent first-stagers of the
    * SAME key are not supported (the drive loop is sequential). */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Scratch root for replay-gate staging, watch dirs and checkpoints
    * (r17 optimization, guide §6): the gate measures the streaming
    * OPERATOR, but every micro-batch pays offset-log + commit-log +
    * state-delta file I/O under this root — on the sandbox that was
    * ext4 (seconds per gate of filesystem overhead at test scale; a
    * real deployment writes checkpoints to a DFS whose cost profile is
    * its own). Parameterised: `-Dgraft.stream.tmpdir=...` wins; else a
    * writable /dev/shm (tmpfs) is preferred; else `java.io.tmpdir`.
    * The replay diags (graft_replay_diag) intentionally stay on
    * `java.io.tmpdir` so Verify finds them where previous rounds
    * documented them. */
  private[graft] lazy val fastTmpDir: String =
    sys.props.get("graft.stream.tmpdir").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) {
        val d = new java.io.File(shm, "graft_stream")
        d.mkdirs()
        d.getAbsolutePath
      } else System.getProperty("java.io.tmpdir")
    }

  /** Content fingerprint of a corpus DIRECTORY (per-file path, size,
    * mtime over every file under it, recursively) — folded into every
    * staged-replay key so a corpus regenerated under the same path can
    * never replay stale staged bytes (r13 verdict #3: `modelCache` got
    * a fingerprint like this in r12; `stageOnce` was missed, and its
    * `_STAGED_OK` marker survives JVMs AND driver rounds, so the stale
    * window there was unbounded). Listing a test-scale table tree is
    * tens of stat calls — noise against the replay it guards. */
  private[graft] def dirFingerprint(d: String): String = {
    import scala.util.hashing.MurmurHash3.stringHash
    val files = filesUnder(new java.io.File(d))
    val desc = files.map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString("|")
    f"${stringHash(desc)}%08x${files.size}%x"
  }

  /** Every file under `f` (or `f` itself), depth-first in name order. */
  private def filesUnder(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).toSeq
        .sortBy(_.getName).flatMap(filesUnder)
    else Seq(f)

  /** The confs every replay run is scoped under, from staging to
    * termination ([[withGateConfs]]; the stream captures them at start,
    * and the parent session's values come back when the run ends):
    *
    *  - four shuffle partitions: a stateful micro-batch materializes ONE
    *    STATE STORE PER SHUFFLE PARTITION PER BATCH, so a 4-batch
    *    test-scale replay at 32 partitions pays 128 state-store setups
    *    for a corpus that fits in 4. On a real cluster the production
    *    path sizes this to the stream's key cardinality, not to the
    *    gate's corpus.
    *  - the state-store maintenance interval past any gate's lifetime
    *    (r13 verdict "next" #4: the 214.6 s bench outlier sat entirely in
    *    replay gates' no-data-batch/state-maintenance timing). The stream
    *    reads the interval when [[unloadStateStores]]' stop() has left no
    *    running maintenance task and the first provider load restarts it,
    *    i.e. at every gate's start; with a 1-hour tick and a full stop()
    *    after every gate, no maintenance tick can land inside a measured
    *    query.
    *  - the checkpoint profile, [[gateCheckpointConfs]]. */
  private val gateConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s") ++
    gateCheckpointConfs

  /** Gate checkpoint I/O profile (r18 session 2, guide §1.2 then §6).
    *
    * Spark 4.1 defaults `spark.sql.streaming.checkpoint.fileChecksum
    * .enabled=true`: EVERY checkpoint file — each batch's offsets-WAL
    * entry, commit-log entry, file-source metadata entry, and every
    * state-store delta file (interval joins: 4 stores × 4 partitions
    * × every batch) — additionally writes a companion `.checksum` file
    * through a second atomic create+rename, and verifies it on read.
    * Measured on the replay gates (per-batch `stateOperators
    * .commitTimeMs` + `walCommit`): the checksum companionship is a
    * per-file fixed cost that dominates tmpfs-resident, kilobyte-scale
    * files. The gate checkpoints are per-run throwaway scratch (a fresh
    * dir every invocation, wiped when [[runGate]] ends), so corruption
    * detection buys nothing here and checksums are off; a production
    * deployment on durable DFS storage chooses per its own durability
    * needs.
    *
    * The checkpoint manager is [[graft.streaming.GateNioCheckpointFileManager]],
    * raw NIO for the gates' LOCAL scratch checkpoints: the stock
    * FileContext manager fork+execs a shell per file op (see its header
    * for the measurements) — 3 metadata writes/batch + every state delta.
    *
    * Artifact isolation is scoped off for the stream. `start()` clones the
    * session, and the clone copies this conf when it is created. With
    * `spark.sql.artifact.isolation.enabled` at its default (true), every
    * clone gets its own artifact-state UUID; the executor keys its
    * isolated-session cache by that UUID and runs the clone's tasks under
    * a fresh `ExecutorClassLoader`. Spark's codegen cache is keyed by
    * (context class loader, code), so every replay recompiled all of its
    * executor-side generated classes with Janino and lost their JIT-warm
    * code: per repeat run, s01 compiled 4 classes and s06 14
    * (`CodegenMetrics.METRIC_COMPILATION_TIME`, pinned by
    * `ReplayCodegenSpec`), and one replay bench run ended with one class
    * loader per replay still alive. With isolation off the clone has no
    * artifact state, its tasks run in the executor's default session, and
    * a repeat replay compiles nothing. It is safe because the engine adds
    * no session artifacts (nothing calls `addArtifact` or `addJar`), so
    * the clone has nothing to isolate. */
  private def gateCheckpointConfs: Seq[(String, String)] = Seq(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.GateNioCheckpointFileManager].getName)

  // Tried and rejected (measured, r18 session 2): in-batch scan
  // parallelism — staging with 128 KB parquet row groups plus scoped
  // `spark.sql.files.maxPartitionBytes=64k`/`openCostInBytes=4k` so a
  // micro-batch's single staged file splits across several tasks.
  // Within-batch order is immaterial to every gate (stateless kernels,
  // key-invariant dedup, commutative aggregates, join row-sets, s03's
  // in-group sort), so it is CORRECT — but with the NIO checkpoint
  // manager in place the isolated-family A/B read 39.20 s (split) vs
  // 39.15 s (no split): the per-batch fixed costs it was aimed at are
  // already gone, and per-gate diffs sat inside the box noise band in
  // both directions. Rejected per guide §1.2 (configs last; keep only
  // what survives measurement).

  private def withGateConfs[T](s: SparkSession)(body: => T): T = {
    val prev = gateConfs.map { case (k, _) => k -> s.conf.getOption(k) }
    gateConfs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Stage a gate's corpus once, keyed by the gate's stage key, its batch
    * count, the staging layout `version` and the corpus CONTENT
    * fingerprint (r13 verdict #3: same path + regenerated data must
    * re-stage, not replay stale bytes; nFiles is part of it so a dir
    * staged under an old batch count is never silently reused). Staging
    * runs under the run's [[gateConfs]]. */
  private def stageOnce(s: SparkSession, phase: Phases, stageKey: String,
      nFiles: Int, version: String, corpusDir: String)(
      write: String => Unit): String = phase("stage") { withGateConfs(s) {
    val key = s"$stageKey|n$nFiles|$version|fp${dirFingerprint(corpusDir)}"
    stagedDirs.computeIfAbsent(key, { _ =>
      import scala.util.hashing.MurmurHash3.stringHash
      val tag = f"${stringHash(key)}%08x${stringHash(key.reverse)}%08x"
      val dir = s"$fastTmpDir/graft_stage_$tag"
      val marker = new java.io.File(dir, "_STAGED_OK")
      if (!marker.exists()) {
        // a dir without its marker is a crashed/legacy writer's litter
        wipe(new java.io.File(dir))
        // stage into a private temp dir, then PUBLISH with one atomic
        // rename — even two processes racing on the same key cannot
        // interleave files; the loser keeps the winner's corpus
        val tmpDir = new java.io.File(
          s"$dir.tmp.${java.util.UUID.randomUUID.toString.take(8)}")
        write(tmpDir.getAbsolutePath)
        new java.io.File(tmpDir, "_STAGED_OK").createNewFile()
        try java.nio.file.Files.move(tmpDir.toPath, new java.io.File(dir).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileSystemException if marker.exists() =>
            wipe(tmpDir) // another process published first — use theirs
        }
      }
      dir
    })
  } }

  private def wipe(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
    f.delete()
  }

  /** The diag name of a gate: its stage key's head ("s03"). */
  private def gateTag(stageKey: String): String = stageKey.takeWhile(_ != '|')

  /** Janino compiles so far in this JVM (Spark's public codegen metric:
    * one histogram update per compiled class). */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Wall time of each harness phase of one replay run, in the order
    * the phases ran (staging check, query start, await or publish/flush,
    * teardown, sink localization): the complement of the per-batch
    * progress in the run's replay diag, where it lands as `phase_ms`. */
  private final class Phases {
    private val ms = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def apply[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally ms(name) = (System.nanoTime() - t0) / 1e6
    }
    def json: String = ms.map { case (k, v) =>
      s""""$k":${"%.1f".formatLocal(java.util.Locale.ROOT, v)}"""
    }.mkString("{", ",", "}")
  }

  /** Start, drive and tear down one replay run — the one path both replay
    * drivers take, so every gate starts under the same scoped confs
    * ([[gateConfs]]) and releases the same resources.
    *
    * Every invocation gets a fresh checkpoint and sink name (Bench runs
    * each query four times in one session — a reused checkpoint would
    * replay ZERO batches and fake an empty result; a reused sink name
    * would refuse to start). `source(dir)` opens the input stream for the
    * run's scratch `dir`; `transform` is the operator under test, written
    * to a memory sink; `drive(q, dir)` runs the started query to
    * completion. Teardown stops the query, takes its replay diag, and
    * unloads the state stores. The sink is then
    * localized (r11 advisory: a Bench session — 6+ gates × 4 runs —
    * retained ~24 full sink tables in driver heap and left checkpoint
    * litter on disk): it is collected into a LOCAL DataFrame (gate outputs
    * are oracle-sized — hundreds to a few thousand rows), the memory table
    * is dropped, and the run's checkpoint/watch tree is deleted. A run
    * that THROWS (transform failure, a died stream) is released the same
    * way, best-effort, before the error propagates. The diag, with the
    * run's `phase_ms`, is written last, on both paths. */
  private def runGate(s: SparkSession, stageKey: String, staged: String,
      phase: Phases, outputMode: String, trigger: Option[Trigger])(
      source: String => DataFrame)(transform: DataFrame => DataFrame)(
      drive: (StreamingQuery, String) => Unit): DataFrame = {
    val run = s"graft_stream_sink_${runSeq.incrementAndGet()}_" +
      java.util.UUID.randomUUID.toString.take(8)
    val dir = s"$fastTmpDir/$run"
    val tag = gateTag(stageKey)
    var diag: Seq[String] = Nil
    try withGateConfs(s) {
      val compiles0 = codegenCompiles()
      val q = phase("start") {
        val writer = transform(source(dir)).writeStream
          .format("memory")
          .queryName(run)
          .outputMode(outputMode)
          .option("checkpointLocation", s"$dir/ckpt")
        trigger.fold(writer)(writer.trigger).start()
      }
      try drive(q, dir) finally phase("teardown") {
        if (q.isActive) q.stop()
        diag = replayDiag(q, staged, tag, codegenCompiles() - compiles0)
        unloadStateStores()
      }
      phase("localize") {
        val sink = s.table(run)
        val out = s.createDataFrame(
          java.util.Arrays.asList(sink.collect(): _*), sink.schema)
        s.catalog.dropTempView(run)
        wipe(new java.io.File(dir))
        out
      }
    } catch { case t: Throwable =>
      try s.catalog.dropTempView(run) catch { case _: Throwable => }
      wipe(new java.io.File(dir))
      throw t
    } finally if (diag.nonEmpty)
      writeReplayDiag(tag, diag :+ s""""phase_ms":${phase.json}""")
  }

  /** Stage `src` as `nFiles` parquet files, replay them one file per
    * micro-batch through `transform`, run to completion, and return the
    * (localized) sink contents. Only for transforms whose OUTPUT is
    * invariant to batch split and order (stateless kernels, key-emitting
    * dedup): the file source's listing order is not pinned here. */
  private[graft] def replayToCompletion(s: SparkSession, src: DataFrame,
      nFiles: Int, stageKey: String, corpusDir: String,
      outputMode: String = "append")(
      transform: DataFrame => DataFrame): DataFrame = {
    val phase = new Phases
    val staged = stageOnce(s, phase, stageKey, nFiles, "v1", corpusDir) { sd =>
      src.repartition(nFiles).write.mode("overwrite").parquet(s"$sd/src")
    }
    runGate(s, stageKey, staged, phase, outputMode, Some(Trigger.AvailableNow()))(_ =>
      s.readStream
        .schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/src"))(transform) { (q, _) =>
      phase("await") { q.awaitTermination() }
    }
  }

  /** Inter-gate quiesce for Bench (r14 verdict "next" #3: the gates-
    * last ordering moved the scheduler-epoch tax INTO the measured
    * s-family steadies — +11.5 s across the family in the r14 driver
    * artifact). Between consecutive replay gates the harness now fully
    * stops the state-store machinery, collects, and settles briefly so
    * gate N+1's first micro-batch doesn't contend with gate N's
    * teardown (executor task cleanup, listener drain, GC debt). */
  private[graft] def quiesceBetweenGates(): Unit = {
    try unloadStateStores() catch { case _: Throwable => () }
    System.gc()
    Thread.sleep(250)
  }

  /** A finished replay's state-store providers stay LOADED in the JVM —
    * its checkpoint is never reused, yet the background maintenance task
    * keeps snapshotting the corpses on every tick. In a many-query
    * session (Bench runs every gate four times in one JVM) the registry
    * accumulates across replays and a maintenance tick landing inside a
    * later measured query absorbs seconds of dead-snapshot I/O (observed:
    * s03 escalating 1.7 → 7.7 → 11 s across its own runs). Unload
    * eagerly; the next stateful query re-registers from scratch. A real
    * deployment never hits this — one long-lived query owns its
    * providers — it is strictly the multi-replay-per-JVM harness shape. */
  private def unloadStateStores(): Unit = {
    // StateStore.stop() is private[sql] at the Scala level but public
    // bytecode (Spark's own test teardowns call it) — reflective
    // dispatch keeps the gate harness outside Spark's packages without
    // forking access rules. r14: stop(), not unloadAll() — unloadAll
    // left the MAINTENANCE TASK (a scheduled thread-pool tick walking
    // the provider registry and the async-unload queue) alive for the
    // rest of the JVM, a background residue prime-suspected for the
    // q14/q05 in-suite inflation (r13 verdict #1). stop() kills the
    // task and the pool too; the next stateful query restarts both
    // from scratch under whatever maintenanceInterval is then scoped.
    val cls = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    val module = cls.getField("MODULE$").get(null)
    cls.getMethod("stop").invoke(module)
  }

  /** Test hook (OrderedReplaySpec): stamps each about-to-be-published
    * file's mtime BEFORE its atomic publish move (rename preserves the
    * stamp, so there is no set-after-visible race). The spec passes a
    * DECREASING stamp function — if the replay's batch order depended on
    * file modification times in any way, the packer would replay in
    * reverse and the gate output would diverge from the batch answer. */
  private[graft] var testPublishStamp: Option[Int => Long] = None

  /** Ordered replay — deterministic BY CONSTRUCTION (r11 verdict #1).
    *
    * The previous scheme staged all files up front and pinned the batch
    * order by `File.setLastModified` + the file source's mtime sort.
    * That order hung on two silent failure modes: a filesystem that
    * ignores `setLastModified` (the boolean return was never checked),
    * and the source's tie-break on equal mtimes — Spark 4's
    * `FileStreamSource.fileSortOrder` is `sortBy(timestamp)` with
    * `Ordering[Long]`, a STABLE sort whose tie order is the underlying
    * directory-listing order, which on ext4 is readdir hash order:
    * arbitrary. Exactly the observed driver-box signature (rows and
    * schema match, `bin` values shifted — the cross-batch carry replayed
    * in the wrong range order).
    *
    * This version removes the mtime dependence entirely: the query runs
    * on a continuous micro-batch trigger watching an initially-EMPTY
    * per-run dir, and each staged range file is published (atomic
    * same-dir rename) only after the source's committed offset proves
    * the previous file's DATA batch is consumed. At most one
    * unprocessed file ever exists, so batch order EQUALS publish order
    * no matter how the source lists or sorts candidates. Watermark-
    * flush no-data batches between files are NOT waited for (r17):
    * they carry no rows, so they cannot affect order, and the engine
    * folding one into the next file's data batch applies the identical
    * watermark at the same point in the row sequence; the final flush
    * after the last file runs to full quiescence before the sink is
    * read. This replays
    * the ranges along the same total order the batch SQL's window uses —
    * the reference analogue of cumulative block order
    * (`/root/reference/dask_array/reductions/_cumulative.py:100`: the
    * carry chain is only correct in block order). */
  private[graft] def replayOrderedToCompletion(s: SparkSession, src: DataFrame,
      fileCol: String, nFiles: Int, stageKey: String, corpusDir: String,
      outputMode: String = "append")(
      transform: DataFrame => DataFrame): DataFrame = {
    // stage each range ONCE as a single sequence-named parquet file
    // (b000.parquet, b001.parquet, …) under ranges/ — reused across
    // invocations and JVMs like every other staged corpus
    val phase = new Phases
    val staged = stageOnce(s, phase, stageKey, nFiles, "v4", corpusDir) { sd =>
      new java.io.File(s"$sd/ranges").mkdirs()
      for (k <- 0 until nFiles) {
        src.where(col(fileCol) === k).drop(fileCol)
          .coalesce(1).write.mode("overwrite").parquet(s"$sd/r$k")
        val part = Option(new java.io.File(s"$sd/r$k").listFiles())
          .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
        require(part.length == 1,
          s"range $k staged ${part.length} part files, expected 1")
        java.nio.file.Files.move(part.head.toPath,
          java.nio.file.Paths.get(f"$sd/ranges/b$k%03d.parquet"))
      }
    }
    runGate(s, stageKey, staged, phase, outputMode, trigger = None) { dir =>
      val watch = new java.io.File(s"$dir/watch")
      watch.mkdirs()
      s.readStream
        .schema(src.drop(fileCol).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(watch.getAbsolutePath)
    }(transform) { (q, dir) =>
      val watch = new java.io.File(s"$dir/watch")
      // barrier truth (r18 rework — guide §2.4, remove work outright):
      // the file source's RESERVED logOffset in the offsets WAL — the
      // 0-based index of the latest file-source metadata-log entry, one
      // per data batch under maxFilesPerTrigger=1, written by
      // MicroBatchExecution at batch CONSTRUCTION (before execution).
      // File k is provably locked into its batch the moment a WAL entry
      // with logOffset >= k exists: the engine can never pull file k+1
      // into that same batch (the offsets are already durable), so
      // publishing k+1 at that point keeps the order invariant — at
      // most ONE unprocessed file is visible at every construction
      // instant, exactly as before. What changes vs the r17 barrier
      // (committed offset from lastProgress, i.e. batch END): file k+1
      // is now visible WHILE file k's batch executes, so when batch k
      // commits the engine sees new data and constructs file k+1's DATA
      // batch directly — the intermediate watermark-flush no-data batch
      // (which paid full WAL-commit + a per-partition-per-store empty
      // state commit, the dominant term of the interval-join gates) is
      // folded into the data batch. Row-set equivalence is the r17
      // argument, unchanged: the watermark VALUE after file k is the
      // same whether its evictions run in a dedicated no-data batch or
      // at the head of file k+1's batch, and the append-mode sink
      // accumulates the same final rows (OrderedReplaySpec + the
      // 307-query oracle sweep pin this). The offset is per-SOURCE, so
      // a self-join (s07) reading the stream twice stays exact.
      // No-data batches that DO still run write WAL entries with the
      // SAME logOffset, so reading the latest entry stays correct.
      // HDFSMetadataLog writes entries atomically (temp + rename), so a
      // partial read is impossible; a transient listing/parse gap just
      // returns -1 and the poll retries.
      val walDir = new java.io.File(s"$dir/ckpt/offsets")
      val logOffsetRe = """"logOffset"\s*:\s*(-?\d+)""".r
      def reservedFiles(): Long = try {
        val entries = Option(walDir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.forall(_.isDigit))
        if (entries.isEmpty) -1L
        else {
          val latest = entries.maxBy(_.getName.toLong)
          val body = new String(
            java.nio.file.Files.readAllBytes(latest.toPath), "UTF-8")
          logOffsetRe.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)
        }
      } catch { case _: java.io.IOException => -1L }
      phase("publish") { for (k <- 0 until nFiles) {
        // barrier: file k becomes visible only after file k-1 is locked
        // into a batch (reserved logOffset >= k-1) — order equals
        // publish order; see the reservedFiles() contract above.
        // Bounded poll (r12 ADVICE: a query that STOPS without throwing —
        // external stop, a source silently ignoring the published file —
        // would make this spin forever). Fail with the last progress so
        // the stuck file is diagnosable.
        val deadline = System.nanoTime + 120L * 1000L * 1000L * 1000L
        while (reservedFiles() < k - 1) {
          def lastProg = Option(q.lastProgress).map(_.json).getOrElse("<none>")
          require(q.isActive,
            s"stream stopped before reserving file ${k - 1}; last progress: $lastProg")
          require(System.nanoTime < deadline,
            s"arrival barrier timed out (120s) waiting for file ${k - 1} to be reserved; last progress: $lastProg")
          Thread.sleep(1)
        }
        // copy to a dot-prefixed temp name (hidden from Spark's listing),
        // then publish with one atomic same-dir rename — the source can
        // never observe a half-written file
        val tmp = new java.io.File(watch, f".b$k%03d.tmp")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(f"$staged/ranges/b$k%03d.parquet"),
          tmp.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        testPublishStamp.foreach { stamp =>
          require(tmp.setLastModified(stamp(k)),
            s"test hook: setLastModified failed on ${tmp.getName}")
        }
        java.nio.file.Files.move(tmp.toPath,
          new java.io.File(watch, f"b$k%03d.parquet").toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } }
      phase("flush") {
      // pre-quiescence barrier: processAllAvailable resets noNewData and
      // returns on the NEXT no-new-data trigger — a trigger whose
      // directory listing predates the last rename could set that flag
      // while the final file is still unseen. Waiting until the last
      // file is RESERVED closes the race: the trigger loop is single-
      // threaded, so once file nFiles-1's WAL entry exists, its batch
      // runs to commit within that same iteration, and any later
      // no-new-data verdict necessarily post-dates it.
      val deadline = System.nanoTime + 120L * 1000L * 1000L * 1000L
      while (reservedFiles() < nFiles - 1) {
        def lastProg = Option(q.lastProgress).map(_.json).getOrElse("<none>")
        require(q.isActive,
          s"stream stopped before reserving the final file; last progress: $lastProg")
        require(System.nanoTime < deadline,
          s"final-file reservation timed out (120s); last progress: $lastProg")
        Thread.sleep(1)
      }
      // full-quiescence wait: every file is locked into a data batch;
      // the deferred watermark-flush no-data batches (and the final
      // flush the sentinel files drive) are still pending — this call
      // returns only at true quiescence
      q.processAllAvailable()
      }
    }
  }

  /** Forensics of one replay run, kept PER GATE and unconditionally
    * (r13 verdict "next" #2: a driver hash red arrived twice with zero
    * artifacts to explain it; gate corpora are KBs, so this is cheap):
    * the JSON fields of every batch's progress, the staged-corpus
    * manifest (file name, size, SHA-256) and the run's Janino compiles.
    * Best-effort like all diag plumbing: a failure yields no fields. */
  private def replayDiag(q: StreamingQuery, staged: String, gate: String,
      compiles: Long): Seq[String] = try {
    def sha256(f: java.io.File): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map(b => f"$b%02x").mkString
    }
    def js(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    val files = filesUnder(new java.io.File(staged)).map(f =>
      (f.getPath.stripPrefix(staged + "/"), f.length, sha256(f)))
    Seq(
      "\"gate\":" + js(gate),
      "\"wall_ms\":" + System.currentTimeMillis,
      "\"staged_dir\":" + js(staged),
      "\"codegen_compiles\":" + compiles,
      "\"staged_manifest\":" + files.map { case (n, len, h) =>
        s"""{"file":${js(n)},"bytes":$len,"sha256":${js(h)}}"""
      }.mkString("[", ",", "]"),
      "\"batch_progress\":" +
        q.recentProgress.toIndexedSeq.map(p => js(p.json)).mkString("[", ",", "]"))
  } catch { case _: Throwable => Nil }

  /** Write a replay diag to `java.io.tmpdir/graft_replay_diag/<gate>.json`. */
  private def writeReplayDiag(gate: String, fields: Seq[String]): Unit = try {
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_replay_diag")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve(s"$gate.json"), fields.mkString("{", ",", "}"))
  } catch { case _: Throwable => () }

  /** Merge the canonical value hash of a gate's FINAL answer into its
    * replay-diag artifact (r14 verdict "next" #8: cross-round forensics
    * should compare answers hash-to-hash without re-running). Called by
    * Verify after it hashes the written parquet — the same JVM that
    * just wrote the diag, so the file is this run's. Inserted before
    * the closing brace; best-effort like all diag plumbing. */
  private[graft] def attachSinkHash(gate: String, canonSha256: String): Unit = try {
    // diag files are keyed by the stage prefix ("s03", the stageKey's
    // head), not the full query name ("s03_stream_packing")
    val short = gate.takeWhile(_ != '_')
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_replay_diag", s"$short.json")
    if (java.nio.file.Files.exists(p)) {
      val body = java.nio.file.Files.readString(p)
      if (!body.contains("\"canon_sha256\"") && body.endsWith("}"))
        java.nio.file.Files.writeString(p,
          body.dropRight(1) + s""","canon_sha256":"$canonSha256"}""")
    }
  } catch { case _: Throwable => () }

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.read(s, s"$d/documents.parquet")

  /** Project `cols` and append the ordered-replay `_file` range column
    * (id-quartile split) WITHOUT an eager driver job (r18, guide §1.2 —
    * don't compute things you throw away): the max id the split needs
    * is a broadcast single-row subtree INSIDE the plan, so it executes
    * only when the staged corpus is actually (re)written — stageOnce
    * caches the corpus across runs and JVMs, and the old eager
    * `agg(max).head()` charged every replay execution one full-table
    * aggregate job whose result went nowhere. Values are identical to
    * the eager form (same arithmetic over the same max). */
  private def withRangeFile(base: DataFrame, idCol: String,
      nRanges: Int, cols: String*): DataFrame =
    base.crossJoin(broadcast(
        base.agg((max(col(idCol)) + lit(1L)).as("_maxp1"))))
      .selectExpr(cols :+
        (s"CAST(least(${nRanges - 1}, $idCol * $nRanges DIV _maxp1) " +
          "AS INT) AS _file"): _*)

  /** documents ∪ re-keyed copies of every 5th doc — the same duplicate
    * corpus the batch dedup family (t01, t27/t28) verifies against. */
  private def docsWithDups(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    base.unionByName(
      base.where("doc_id % 5 = 0").withColumn("doc_id", col("doc_id") + 100000L))
  }

  private def asDocStream(df: DataFrame): Dataset[StreamOps.Doc] = {
    val sp = df.sparkSession
    import sp.implicits._
    df.as[StreamOps.Doc]
  }

  /** Trained-model memo for the serving gates (s08's lr table, s09's
    * merge table): the models are deterministic functions of the corpus,
    * and the gates measure the SERVING replay — Bench runs each gate
    * four times per session, and re-training the (identical) model each
    * time would charge the serving measurement for the trainer. The
    * batch training queries themselves (t32, t33) are never memoized —
    * their bench rows measure training.
    *
    * r12 ADVICE hardening: the memo key carries a CONTENT FINGERPRINT
    * of the corpus (`dirFingerprint` of `documents.parquet`), so a corpus regenerated
    * under the same path within one JVM re-trains instead of serving a
    * stale model; and training runs OUTSIDE any map lock (get →
    * train → putIfAbsent), so a long Spark training job never blocks
    * the bucket for concurrent callers — the worst case under a race is
    * one redundant training of a deterministic model. */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def cached[T <: AnyRef](key: String, d: String)(train: => T): T = {
    val k = s"$key|${dirFingerprint(s"$d/documents.parquet")}"
    val hit = modelCache.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = train
      val prev = modelCache.putIfAbsent(k, v)
      (if (prev != null) prev else v).asInstanceOf[T]
    }
  }

  /** The batch-trained DSIR log-ratio table (t32's two metadata-sized
    * aggregates, collapsed to one conditional-sum pass and collected as
    * 64 longs). `floor(ln(...))` here is `java.lang.Math` — the same
    * libm Spark SQL's `ln` calls, so the streamed scores reproduce the
    * batch t32 weights bit-for-bit. */
  private def dsirLr(s: SparkSession, d: String): Array[Long] = {
    val rows = docs(s, d)
      .selectExpr("lang", "explode(split(text, ' ')) AS tok")
      .where("tok <> ''")
      .selectExpr("pmod(length(tok) * 31 + ascii(tok), 64) AS b",
        "CASE WHEN lang = 'en' THEN 1L ELSE 0L END AS en")
      .groupBy("b")
      .agg(count(lit(1)).as("rb"), sum("en").as("tb"))
      .collect()
    val rb = Array.fill(64)(0L)
    val tb = Array.fill(64)(0L)
    rows.foreach { r =>
      val b = r.getInt(0)
      rb(b) = r.getLong(1)
      tb(b) = r.getLong(2)
    }
    val bigR = rb.sum
    val bigT = tb.sum
    Array.tabulate(64) { b =>
      math.floor(math.log(((tb(b) + 1.0) / (bigT + 64.0)) /
        ((rb(b) + 1.0) / (bigR + 64.0))) * 1000000.0).toLong
    }
  }

  /** Far-future sentinel rows for the last ordered range file (`rows`
    * are each row's columns between `ts` and `_file`): in-batch rows
    * cannot see their watermark, whose jump lands at batch end, so the
    * final flush batch finalizes every real row. */
  private def sentinels(s: SparkSession, rows: String*): DataFrame =
    s.sql(rows.map(r => s"SELECT timestamp'2030-01-01 00:00:00' AS ts, $r, " +
      "CAST(3 AS INT) AS _file").mkString(" UNION ALL "))

  /** s04/s05's input: the events as (ts, user, value) in event-id ranges,
    * plus one sentinel. */
  private def eventValues(s: SparkSession, d: String): DataFrame =
    withRangeFile(JoinOps.normalizedEvents(s, d), "event_id", 4,
        "ts", "user_id AS user", "value")
      .unionByName(sentinels(s, "CAST(0 AS BIGINT) AS user, CAST(0.0 AS DOUBLE) AS value"))

  /** s11/s17: the status stream (every 10th event) joined by `joinType`
    * with the remaining events within 6 hours per user. The query
    * watermark is the MIN across the two sides' watermark operators, so
    * the last range carries one sentinel passing each side's filter
    * (ids -1 and -10, distinct far-future users). */
  private def statusJoin(s: SparkSession, d: String, gate: String,
      joinType: String): DataFrame = {
    val src = withRangeFile(JoinOps.normalizedEvents(s, d), "event_id", 4,
        "ts", "user_id AS user", "event_id AS id")
      .unionByName(sentinels(s, "CAST(0 AS BIGINT) AS user, CAST(-1 AS BIGINT) AS id",
        "CAST(1 AS BIGINT) AS user, CAST(-10 AS BIGINT) AS id"))
    val sp = s
    import sp.implicits._
    replayOrderedToCompletion(s, src, "_file", nFiles = 4,
        stageKey = s"$gate|$d", corpusDir = d)(st =>
      StreamOps.intervalJoinTwo(
        st.where("id % 10 <> 0").as[StreamOps.EvId],
        st.where("id % 10 = 0").as[StreamOps.EvId],
        joinType = joinType))
  }

  /** s12/s14/s15/s16: the status stream (every 10th event, side 0) is the
    * versioned table and the remaining events (side 1) probe it through
    * `join`. A far-future LEFT sentinel in the last range flushes the
    * pending probes (the s10 pattern); its own probe never emits and is
    * filtered by id. Answers are (event_id, quantized status). */
  private def asofGate(s: SparkSession, d: String, gate: String)(
      join: Dataset[StreamOps.AsofIn] => Dataset[StreamOps.AsofOut]): DataFrame = {
    val src = withRangeFile(JoinOps.normalizedEvents(s, d), "event_id", 4,
        "ts", "user_id AS user", "event_id AS id",
        "CAST(CASE WHEN event_id % 10 = 0 THEN 0 ELSE 1 END AS INT) AS side",
        "value AS v")
      .unionByName(sentinels(s, "CAST(0 AS BIGINT) AS user, CAST(-1 AS BIGINT) AS id, " +
        "CAST(1 AS INT) AS side, CAST(0.0 AS DOUBLE) AS v"))
    val sp = s
    import sp.implicits._
    replayOrderedToCompletion(s, src, "_file", nFiles = 4,
        stageKey = s"$gate|$d", corpusDir = d)(st =>
      join(st.as[StreamOps.AsofIn]).toDF())
      .where("id >= 0")
      .selectExpr("id AS event_id",
        "coalesce(CAST(floor(v * 64) AS BIGINT), -1) AS status_q")
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // STATELESS streaming kernel under the oracle: the Gopher repetition
    // signals computed online, per document, as the corpus replays in
    // four micro-batches. The kernel is the bit-parity twin of batch t26
    // (same code-point char counts, UTF-8 tie-break, HALF_UP rounding —
    // GopherSignalsSpec pins the parity), so the completed replay must
    // hash-match the batch SQL exactly. Stateless ⇒ any batch boundary /
    // file order / parallelism yields the same row set — which is the
    // 100 TB argument too: no shuffle, no state, per-doc parallel.
    "s01_stream_gopher" -> ((s, d) => {
      val src = docs(s, d)
        .selectExpr("timestamp_seconds(doc_id) AS ts", "doc_id", "text")
      replayToCompletion(s, src, nFiles = 4, stageKey = s"s01|$d", corpusDir = d)(st =>
        StreamOps.gopherSignals(asDocStream(st)).toDF())
        .where("doc_id < 40")
        .orderBy("doc_id")
    }),

    // STATEFUL streaming dedup under the oracle: content-hash keyed
    // state (`dropDuplicatesWithinWatermark`) across four micro-batches
    // over the duplicated corpus. The gate emits the dedup KEY (md5 of
    // text) — identical across every member of a duplicate class — so
    // the output is invariant to which copy each batch happens to see
    // first, while still failing if the state misses a cross-batch dup
    // (extra rows) or over-dedups (missing rows). Event time is held
    // constant so the watermark never passes any key inside the replay;
    // on a live stream the SAME operator evicts each hash once the
    // watermark clears it, bounding state (StreamingSpec covers the
    // eviction path). The constant must be a POSITIVE epoch:
    // dedup-within-watermark state keyed at event time 0 reads as
    // already-expired and the rows silently vanish (measured — an
    // epoch-0 event time is a sentinel, not a timestamp).
    "s02_stream_dedup" -> ((s, d) => {
      val src = docsWithDups(s, d)
        .selectExpr("timestamp_seconds(1700000000) AS ts", "doc_id", "text")
      replayToCompletion(s, src, nFiles = 4, stageKey = s"s02|$d", corpusDir = d)(st =>
        StreamOps.dedupStream(asDocStream(st), watermark = "1 second"))
        .select("h")
        .orderBy("h")
    }),

    // ORDER-SENSITIVE stateful streaming under the oracle: the sequence
    // packer's running per-source token offset (one Long of state per
    // source, flatMapGroupsWithState) evolves across four micro-batches
    // staged in doc_id-range order (mtime-ordered files — see
    // replayOrderedToCompletion). The completed replay must equal the
    // batch packing SQL: bin(doc) = (running token offset before the
    // doc, per source in doc_id order) DIV 2048 — cross-batch carry
    // included, since ranges split mid-source. All-integer arithmetic.
    "s03_stream_packing" -> ((s, d) => {
      val src = withRangeFile(docs(s, d), "doc_id", 4,
        "timestamp_seconds(1700000000 + doc_id) AS ts",
        "doc_id", "source", "text")
      val sp = s
      import sp.implicits._
      replayOrderedToCompletion(s, src, "_file", nFiles = 4,
          stageKey = s"s03|$d", corpusDir = d)(st =>
        StreamOps.packSequences(st.as[StreamOps.SrcDoc]).toDF())
        .selectExpr("source", "doc_id", "n_tok", "bin")
        .orderBy("source", "doc_id")
    }),

    // WATERMARKED WINDOWED AGGREGATION under the oracle: sliding
    // 10s/5s event-time windows over the events stream, replayed in
    // event-time order (ts is monotone in event_id, so range-staged
    // batches advance the watermark monotonically and drop nothing),
    // plus a far-future SENTINEL row riding in the LAST range file — the
    // watermark only advances at batch end, so its jump finalizes every
    // real window in the final flush batch (r18 session 2: the sentinel
    // previously rode alone in a dedicated 6th batch; folding it into
    // the last range drops one full micro-batch with an identical sink
    // — watermark trajectory at every batch BOUNDARY is unchanged), which append mode
    // then emits before AvailableNow terminates. The gate filters the
    // sentinel's own (never-finalized) windows out and compares the
    // finalized set against the batch definition: each event lands in
    // exactly two 10s windows (starts floor(t/5)·5 and that −5).
    // The value aggregate is an integer-quantized sum (floor(v·64)
    // per row, exact BIGINT addition) — a raw float sum's accumulation
    // order would not be hash-comparable across engines.
    "s04_stream_sliding" -> ((s, d) => {
      // events.ts normalization (nanos vs NTZ) lives in ONE shared
      // reader — JoinOps.normalizedEvents — for every event-based gate;
      // all gate sessions run UTC, so the wall-clock reading IS the
      // instant, matching the oracle's epoch_us arithmetic
      val sp = s
      import sp.implicits._
      replayOrderedToCompletion(s, eventValues(s, d), "_file",
          nFiles = 4, stageKey = s"s04|$d", corpusDir = d)(st =>
        StreamOps.slidingStats(st.as[StreamOps.Ev],
          sumExpr = "sum(CAST(floor(value * 64) AS BIGINT))"))
        .where("ws < timestamp'2029-01-01 00:00:00'")
        .selectExpr("unix_seconds(ws) AS ws_s", "n", "s AS vq")
        .orderBy("ws_s")
    }),

    // GAP-BASED SESSION WINDOWS under the oracle: per-user 5s-gap
    // sessions (native session_window — stateful merge/extend) over the
    // ordered events replay, sentinel-finalized like s04. Spark's merge
    // rule — a new event joins the session iff its time is strictly
    // inside lastTs + gap — is replayed by the oracle's island
    // construction (new session iff ts − prev ≥ 5s). Session starts
    // carry event-time microseconds, so the gate compares unix_micros.
    "s05_stream_sessions" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      replayOrderedToCompletion(s, eventValues(s, d), "_file",
          nFiles = 4, stageKey = s"s05|$d", corpusDir = d)(st =>
        StreamOps.sessionStats(st.as[StreamOps.Ev],
          sumExpr = "sum(CAST(floor(value * 64) AS BIGINT))"))
        .where("ws < timestamp'2029-01-01 00:00:00'")
        .selectExpr("unix_micros(ws) AS ws_us", "user", "n", "s AS vq")
        .orderBy("ws_us", "user")
    }),

    // ARBITRARY KEYED STATE under the oracle: runningTotals'
    // mapGroupsWithState cumulative (Σv, n) per user, emitted once per
    // (batch, active user); the gate keeps each user's FINAL emission
    // (max n — cumulative counts are strictly increasing) and compares
    // against the batch per-user aggregate. Values are pre-quantized to
    // integers (floor(v·64)) BEFORE the stream, so the state's running
    // float sum is exact integer arithmetic in any arrival order and
    // the operator's round-to-2dp is the identity on it.
    "s06_stream_totals" -> ((s, d) => {
      val src = withRangeFile(JoinOps.normalizedEvents(s, d), "event_id", 4,
        "ts", "user_id AS user",
        "CAST(floor(value * 64) AS DOUBLE) AS value")
      val sp = s
      import sp.implicits._
      replayOrderedToCompletion(s, src, "_file", nFiles = 4,
          stageKey = s"s06|$d", corpusDir = d, outputMode = "update")(st =>
        StreamOps.runningTotals(st.as[StreamOps.Ev]).toDF())
        .groupBy("user")
        .agg(max(struct(col("n"), col("total"))).as("m"))
        .selectExpr("user", "m.total AS total", "m.n AS n")
        .orderBy("user")
    }),

    // STREAM-STREAM JOIN under the oracle (the one stateful Structured
    // Streaming primitive the s01–s06 family left ungated): the events
    // stream interval-joined WITH ITSELF — each event paired with every
    // later event of the same user inside 6 hours. Both join sides read
    // the SAME file source, so each micro-batch feeds both sides the
    // same rows and the ordered replay advances the shared watermark
    // monotonically: no row is ever late, nothing evicts before its
    // partners arrive (StreamingSpec pins the eviction path with a
    // genuinely late row). Inner-join matches emit as found — the
    // completed replay's pair SET equals the batch range self-join, no
    // sentinel needed. Output is integer ids only: exact, order-pinned.
    "s07_stream_interval_join" -> ((s, d) => {
      val src = withRangeFile(JoinOps.normalizedEvents(s, d), "event_id", 4,
        "ts", "user_id AS user", "event_id AS id")
      val sp = s
      import sp.implicits._
      replayOrderedToCompletion(s, src, "_file", nFiles = 4,
          stageKey = s"s07|$d", corpusDir = d)(st =>
        StreamOps.intervalJoin(st.as[StreamOps.EvId]))
        .orderBy("u", "a", "b")
    }),

    // STREAMING TOP-K SELECTION under the oracle: the DSIR importance
    // weights (scored by the stateless dsirScore against the batch-
    // trained 64-entry log-ratio table) drive a running top-25 held in
    // bounded keyed state — the t30 tournament pattern, 8 salt groups ×
    // 25 rows of state. The final emission per group (max version) is
    // the group's top-25; their 25 best are the global top-25, which
    // must equal the batch t32 selection head. Order-invariant final
    // state ⇒ the unordered replay gates it; all-integer weights.
    "s08_stream_dsir_topk" -> ((s, d) => {
      val lr = cached(s"lr|$d", d)(dsirLr(s, d))
      val src = docs(s, d)
        .selectExpr("timestamp_seconds(1700000000) AS ts", "doc_id", "text")
      val sink = replayToCompletion(s, src, nFiles = 4, stageKey = s"s08|$d",
          corpusDir = d, outputMode = "update")(st =>
        StreamOps.dsirTopK(asDocStream(st), lr, k = 25).toDF())
      val last = sink.groupBy("g").agg(max("ver").as("ver"))
      sink.join(last, Seq("g", "ver"))
        .orderBy(desc("w"), col("doc_id"))
        .limit(25)
        .selectExpr("doc_id", "w AS dsir_weight")
        .orderBy(desc("dsir_weight"), col("doc_id"))
    }),

    // STREAMING TOKENIZER SERVING under the oracle: the batch t33
    // trainer's merge table (re-trained here, 12 greedy merges) applied
    // statelessly to documents as they replay — the tokenize-at-ingest
    // shape. Stateless per-row fold over the broadcast merge literal ⇒
    // any batch boundary yields the same rows; the oracle re-trains the
    // SAME merges in DuckDB and re-encodes via the fully-merged vocab.
    // All-integer outputs (word and piece counts).
    "s09_stream_bpe_encode" -> ((s, d) => {
      val merges = cached(s"bpe|$d", d)(
        TextQueries.bpeTrainMerges(s, d).map(m => (m._1, m._2)))
      val src = docs(s, d)
        .selectExpr("timestamp_seconds(1700000000) AS ts", "doc_id", "text")
      replayToCompletion(s, src, nFiles = 4, stageKey = s"s09|$d", corpusDir = d)(st =>
        StreamOps.bpeEncode(asDocStream(st), merges))
        .where("doc_id < 200")
        .selectExpr("doc_id", "n_words", "n_pieces")
        .orderBy("doc_id")
    }),

    // LEFT-OUTER STREAM-STREAM JOIN under the oracle (r12 verdict gap
    // #2: s07 gated only the inner interval join; the enrichment form
    // needs the harder watermark-driven NULL-emission path). Same
    // self-join as s07 plus every partnerless event ONCE with b = -1.
    // The NULL rows only surface when the watermark passes each left
    // row's eviction horizon, so a far-future sentinel rides in the last
    // ordered range file (the s04 pattern — in-batch rows cannot see
    // its watermark; the jump lands at batch end) and the final flush
    // batch finalizes every real row, and the completed replay must equal
    // the batch LEFT range self-join exactly: matched rows identical
    // to s07's pair set, unmatched rows exactly once with -1, and NO
    // NULL twin for any matched row (StreamingSpec pins that half).
    // The sentinel's own partnerless row is filtered by its id.
    "s10_stream_interval_outer" -> ((s, d) => {
      val real = withRangeFile(JoinOps.normalizedEvents(s, d), "event_id", 4,
        "ts", "user_id AS user", "event_id AS id")
      val sentinel = sentinels(s, "CAST(0 AS BIGINT) AS user, CAST(-1 AS BIGINT) AS id")
      val sp = s
      import sp.implicits._
      replayOrderedToCompletion(s, real.unionByName(sentinel), "_file",
          nFiles = 4, stageKey = s"s10|$d", corpusDir = d)(st =>
        StreamOps.intervalJoin(st.as[StreamOps.EvId], joinType = "left_outer"))
        .where("a >= 0")
        .selectExpr("u", "a", "coalesce(b, -1L) AS b")
        .orderBy("u", "a", "b")
    }),

    // FULL-OUTER STREAM-STREAM JOIN between two DIFFERENT streams under
    // the oracle (completes the outer family s07/s10 opened): the
    // status stream (every 10th event) full-outer-joined with the
    // remaining events within 6 hours per user — matched pairs plus
    // every partnerless row of EITHER side exactly once with -1 on the
    // other. BOTH sides' NULL emissions are watermark-driven, so the
    // last ordered range carries `statusJoin`'s two sentinels, and the
    // completed replay must equal the batch FULL range join.
    "s11_stream_interval_full" -> ((s, d) =>
      statusJoin(s, d, "s11", "full_outer")
        .where("(a IS NULL OR a >= 0) AND (b IS NULL OR b >= 0)")
        .selectExpr("u", "coalesce(a, -1L) AS a", "coalesce(b, -1L) AS b")
        .orderBy("u", "a", "b")),

    // RIGHT-OUTER STREAM-STREAM JOIN under the oracle (r13 verdict gap
    // #2: s10 gates left-outer, s11 full-outer; right-outer existed
    // only as a batch-side "full's mirror" spec pin, never as a
    // streaming gate). Same two derived streams as s11; matched pairs
    // emit eagerly, and every partnerless STATUS row (the right side)
    // emits exactly once with a = -1 once the watermark passes its
    // eviction horizon, which s11's two sentinels drive. Partnerless
    // LEFT rows must NOT emit: the gate
    // keeps every a = -1 row visible, so a leaked left NULL arrives as
    // an extra row and fails the oracle compare (StreamingSpec pins the
    // same contract at spec scale).
    "s17_stream_interval_right" -> ((s, d) =>
      statusJoin(s, d, "s17", "right_outer")
        .where("(a IS NULL OR a >= 0) AND b >= 0")
        .selectExpr("u", "coalesce(a, -1L) AS a", "b")
        .orderBy("u", "a", "b")),

    // STREAMING AS-OF (TEMPORAL) JOIN under the oracle — the online
    // twin of the batch j01 enrichment, and an operator Structured
    // Streaming's own join surface cannot express (stream-stream joins
    // bound both sides; as-of has no lower bound). Each probe must
    // attach the latest status at or before its own timestamp — emitted
    // only when the watermark passes the probe (an earlier status could
    // arrive until then; `asofGate`'s sentinel flushes the tail). The
    // completed replay must equal DuckDB's native ASOF LEFT JOIN — j01's
    // oracle verbatim.
    "s12_stream_asof_join" -> ((s, d) =>
      asofGate(s, d, "s12")(StreamOps.asofJoin(_))),

    // STREAMING AS-OF WITH TOLERANCE under the oracle — s12's temporal
    // join with j05's staleness bound (a status older than 30 minutes
    // attaches as NULL, exactly as if it never existed): the tolerance
    // is a post-resolution projection, so state bounds and emission
    // timing are s12's unchanged. Oracle = j05's (DuckDB ASOF + the
    // distance CASE) verbatim — batch and stream must agree on every
    // void.
    "s14_stream_asof_tolerance" -> ((s, d) =>
      asofGate(s, d, "s14")(StreamOps.asofJoin(_,
        toleranceUs = Some(30L * 60 * 1000000)))),

    // STREAMING FORWARD AS-OF under the oracle — "the first status at
    // or after each event, within 30 minutes" (the order→fill shape).
    // The horizon is what makes a FORWARD match finite on a stream
    // (batch j03 needs no bound; here an unbounded wait would hold
    // probes forever) and doubles as j05's tolerance semantics: a first
    // match farther than the horizon attaches as NULL. Oracle = DuckDB
    // forward ASOF + the distance CASE — earliest-at-or-after equals
    // earliest-within-horizon exactly when the CASE voids the rest.
    "s15_stream_asof_forward" -> ((s, d) =>
      asofGate(s, d, "s15")(StreamOps.asofJoinForward(_,
        horizonUs = 30L * 60 * 1000000))),

    // STREAMING NEAREST AS-OF under the oracle — the closer of the
    // unbounded backward match and the horizon-bounded forward match,
    // exact ties backward (pandas merge_asof's rule; the asymmetry —
    // back unbounded, forward bounded — is what makes nearest FINITE on
    // a stream). Completes the direction matrix: batch j01/j03/j04/j05
    // ⇔ stream s12/s15/s16/s14. Oracle composes DuckDB's own backward
    // and forward ASOF with the horizon and distance rules in SQL.
    "s16_stream_asof_nearest" -> ((s, d) =>
      asofGate(s, d, "s16")(StreamOps.asofJoinNearest(_,
        horizonUs = 30L * 60 * 1000000))),

    // STREAMING NEAR-DUP CANDIDATES under the oracle — previously the
    // ONE spec-only streaming operator (its emitted pair set depends on
    // arrival order whenever the per-bucket window w is smaller than a
    // bucket). With w >= the LARGEST bucket, every arriving doc pairs
    // with every earlier doc of its bucket, so the DISTINCT pair set
    // equals the batch all-pairs-within-bucket semantics no matter how
    // the replay splits batches — which is what makes the unordered
    // replay hash-gateable. The gate derives w from the corpus (max
    // bucket size, ~145 at the 200-doc gate slice); PRODUCTION keeps w
    // bounded and derives band width from corpus size
    // (TextQueries.bandBits) — the documented trade: this gate proves
    // the stateful pairing EXACT, the production window bounds
    // candidates at O(n·w). Constant positive event time ⇒ no bucket
    // evicts mid-replay (the s02 pattern; eviction is StreamingSpec's).
    "s18_stream_neardup" -> ((s, d) => {
      val banded = TextQueries.simhashBands(s, d, limit = 200)
      val wMax = banded.groupBy("t", "bh").count()
        .agg(max("count")).head().getLong(0).toInt
      val src = banded.selectExpr(
        "timestamp_seconds(1700000000) AS ts", "doc_id",
        "CAST(t AS INT) AS band", "CAST(bh AS BIGINT) AS bh", "h AS sig")
      val sp = s
      import sp.implicits._
      replayToCompletion(s, src, nFiles = 4, stageKey = s"s18|$d",
          corpusDir = d)(st =>
        StreamOps.nearDupCandidates(st.as[StreamOps.SigDoc], w = wMax).toDF())
        .where("ham <= 1")
        .selectExpr("a", "b", "CAST(ham AS BIGINT) AS ham")
        .distinct()
        .orderBy("a", "b")
    }),

    // STREAMING END-TO-END PIPELINE under the oracle — t36's four-stage
    // chain as one continuous query (quality → within-watermark dedup →
    // broadcast decontamination → split), deduped on (content hash,
    // source) and split on the hash, so every output column is a
    // function of the dedup key: the unordered replay is exact no matter
    // which duplicate each micro-batch keeps. All rows share one event
    // time, so no key evicts mid-replay and each (text, source) survives
    // exactly once; the gate aggregates the kept stream per (split,
    // source) — all-integer.
    "s13_stream_pipeline" -> ((s, d) => {
      val src = docsWithDups(s, d)
        .selectExpr("timestamp_seconds(1700000000) AS ts", "doc_id",
          "source", "text")
      val evalH = docsWithDups(s, d).where("doc_id % 97 = 3")
        .selectExpr("md5(text) AS h").distinct()
      val sp = s
      import sp.implicits._
      replayToCompletion(s, src, nFiles = 4, stageKey = s"s13|$d", corpusDir = d)(st =>
        StreamOps.pipelineClean(st.as[StreamOps.SrcDoc], evalH))
        .groupBy("split", "source")
        .agg(expr("CAST(count(*) AS BIGINT)").as("n_docs"),
          expr("CAST(sum(n_tok) AS BIGINT)").as("n_tokens"),
          expr("CAST(sum(q) AS BIGINT)").as("q_sum"))
        .orderBy("split", "source")
    })
  )

  val oracles: Map[String, String] = Map(

    // identical to t26's oracle: replay-to-completion of the stateless
    // twin must reproduce the batch Gopher signals bit-for-bit
    "s01_stream_gopher" ->
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

    // the batch answer to "dedup the duplicated corpus by content":
    // one surviving hash per distinct text. Base texts are unique, so
    // the surviving key set is exactly the base corpus's hashes.
    "s02_stream_dedup" ->
      """SELECT DISTINCT md5(text) AS h
         FROM (SELECT text FROM documents UNION ALL
               SELECT text FROM documents WHERE doc_id % 5 = 0)
         ORDER BY h""",

    // the batch packing answer: per source, running token offset in
    // doc_id order; a doc's bin is the 2048-token window its first
    // token lands in. Token counts are integers (exact, order-pinned
    // running sum — same waiver class as t15). CAST wraps the bin:
    // the windowed sum(BIGINT) widens to HUGEINT in DuckDB, so the
    // un-cast `off // 2048` was the surface's ONLY int128 output
    // column and the root cause of the r11–r15 driver hash-red
    // (values exact, serialization divergent) — same guard class as
    // s04 below and t12.
    "s03_stream_packing" ->
      """WITH t AS (SELECT source, doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                    FROM documents),
         o AS (SELECT source, doc_id, n_tok,
                 sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS off
               FROM t)
         SELECT source, doc_id, n_tok, CAST(off // 2048 AS BIGINT) AS bin
         FROM o ORDER BY source, doc_id""",

    // the batch definition of the sliding windows: each event belongs
    // to exactly two 10s/5s windows; counts and the quantized sums are
    // exact integers (CAST wraps the sum — DuckDB would otherwise
    // widen sum(BIGINT) to HUGEINT and fail the schema compare)
    "s04_stream_sliding" ->
      """WITH e AS (SELECT (epoch_us(ts) // 5000000) * 5 AS w1,
                      CAST(floor(value * 64) AS BIGINT) AS q
                    FROM events),
         b AS (SELECT w1 AS ws_s, q FROM e
               UNION ALL SELECT w1 - 5 AS ws_s, q FROM e)
         SELECT ws_s, count(*) AS n, CAST(sum(q) AS BIGINT) AS vq
         FROM b GROUP BY ws_s ORDER BY ws_s""",

    // the batch definition of 5s-gap sessions: per user, a new island
    // starts where the gap from the previous event is >= 5s; session
    // start = the island's first event time (microseconds)
    "s05_stream_sessions" ->
      """WITH e AS (SELECT user_id AS user, ts, event_id,
                      CAST(floor(value * 64) AS BIGINT) AS q,
                      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                IS NULL
                             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                >= INTERVAL 5 SECOND
                           THEN 1 ELSE 0 END AS brk
                    FROM events),
         i AS (SELECT user, ts, q,
                 sum(brk) OVER (PARTITION BY user ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM e)
         SELECT epoch_us(min(ts)) AS ws_us, user,
           count(*) AS n, CAST(sum(q) AS BIGINT) AS vq
         FROM i GROUP BY user, island ORDER BY ws_us, user""",

    // the batch per-user aggregate the final state emission must equal;
    // totals are sums of pre-quantized integers (exact, order-free)
    "s06_stream_totals" ->
      """SELECT user_id AS user,
           CAST(sum(CAST(floor(value * 64) AS BIGINT)) AS DOUBLE) AS total,
           count(*) AS n
         FROM events GROUP BY user_id ORDER BY user""",

    // the batch definition of the interval self-join: every (earlier,
    // later) same-user pair within 6 hours; integer ids, total order
    "s07_stream_interval_join" ->
      """WITH e AS (SELECT user_id AS u, event_id AS i, ts FROM events)
         SELECT l.u AS u, l.i AS a, r.i AS b
         FROM e l JOIN e r ON l.u = r.u AND l.i <> r.i
           AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 6 HOUR
         ORDER BY u, a, b""",

    // the batch t32 selection head the running tournament must converge
    // to: DSIR weights (same bucket hash, same add-1 smoothed micro-nat
    // log-ratios, exact BIGINT sums), top 25 by (weight desc, doc_id)
    "s08_stream_dsir_topk" ->
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
         ORDER BY dsir_weight DESC, doc_id LIMIT 25""",

    // re-train the 12 merges and re-encode: per gated doc, word count +
    // total BPE piece count from the fully-merged vocab
    "s09_stream_bpe_encode" ->
      TextQueries.bpeEncodeOracle(TextQueries.bpeMerges, docLimit = 200),

    // the batch LEFT form of s07's self-join: matched pairs identical,
    // partnerless events exactly once with b = -1; integer ids only
    "s10_stream_interval_outer" ->
      """WITH e AS (SELECT user_id AS u, event_id AS i, ts FROM events)
         SELECT l.u AS u, l.i AS a, coalesce(r.i, -1) AS b
         FROM e l LEFT JOIN e r ON l.u = r.u AND l.i <> r.i
           AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 6 HOUR
         ORDER BY u, a, b""",

    // the batch FULL range join between the two derived streams
    "s11_stream_interval_full" ->
      """WITH l AS (SELECT user_id AS u, event_id AS i, ts FROM events
                    WHERE event_id % 10 <> 0),
           r AS (SELECT user_id AS u, event_id AS i, ts FROM events
                 WHERE event_id % 10 = 0)
         SELECT coalesce(l.u, r.u) AS u, coalesce(l.i, -1) AS a,
           coalesce(r.i, -1) AS b
         FROM l FULL JOIN r ON l.u = r.u AND l.i <> r.i
           AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 6 HOUR
         ORDER BY u, a, b""",

    // the batch RIGHT range join between the two derived streams:
    // matched pairs + every partnerless status row once with a = -1
    "s17_stream_interval_right" ->
      """WITH l AS (SELECT user_id AS u, event_id AS i, ts FROM events
                    WHERE event_id % 10 <> 0),
           r AS (SELECT user_id AS u, event_id AS i, ts FROM events
                 WHERE event_id % 10 = 0)
         SELECT coalesce(l.u, r.u) AS u, coalesce(l.i, -1) AS a, r.i AS b
         FROM l RIGHT JOIN r ON l.u = r.u AND l.i <> r.i
           AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 6 HOUR
         ORDER BY u, a, b""",

    // DuckDB's native ASOF LEFT JOIN — j01's oracle verbatim: the
    // completed temporal-join replay must equal the definitional
    // batch operator
    "s12_stream_asof_join" ->
      """WITH r AS (SELECT user_id AS u, ts, max_by(value, event_id) AS sv
                    FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
           l AS (SELECT user_id AS u, ts, event_id
                 FROM events WHERE event_id % 10 <> 0)
         SELECT l.event_id AS event_id,
           coalesce(CAST(floor(r.sv * 64) AS BIGINT), -1) AS status_q
         FROM l ASOF LEFT JOIN r ON l.u = r.u AND l.ts >= r.ts
         ORDER BY event_id""",

    // j05's oracle verbatim: backward ASOF + the 30-minute staleness CASE
    "s14_stream_asof_tolerance" ->
      """WITH r AS (SELECT user_id AS u, ts, max_by(value, event_id) AS sv
                    FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
           l AS (SELECT user_id AS u, ts, event_id
                 FROM events WHERE event_id % 10 <> 0)
         SELECT l.event_id AS event_id,
           coalesce(CAST(floor(CASE WHEN l.ts - r.ts <= INTERVAL 30 MINUTE
                                    THEN r.sv END * 64) AS BIGINT), -1) AS status_q
         FROM l ASOF LEFT JOIN r ON l.u = r.u AND l.ts >= r.ts
         ORDER BY event_id""",

    // the j03/j05 composition: forward ASOF (<=) + the horizon CASE
    "s15_stream_asof_forward" ->
      """WITH r AS (SELECT user_id AS u, ts, max_by(value, event_id) AS sv
                    FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
           l AS (SELECT user_id AS u, ts, event_id
                 FROM events WHERE event_id % 10 <> 0)
         SELECT l.event_id AS event_id,
           coalesce(CAST(floor(CASE WHEN r.ts - l.ts <= INTERVAL 30 MINUTE
                                    THEN r.sv END * 64) AS BIGINT), -1) AS status_q
         FROM l ASOF LEFT JOIN r ON l.u = r.u AND l.ts <= r.ts
         ORDER BY event_id""",

    // backward + horizon-bounded forward ASOF composed with the
    // distance/tie rules (j04's oracle pattern + s15's horizon CASE)
    "s16_stream_asof_nearest" ->
      """WITH r AS (SELECT user_id AS u, ts, max_by(value, event_id) AS sv
                    FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2),
           l AS (SELECT user_id AS u, ts, event_id
                 FROM events WHERE event_id % 10 <> 0)
         SELECT l.event_id AS event_id,
           coalesce(CAST(floor(CASE
               WHEN f.ts IS NOT NULL AND f.ts - l.ts <= INTERVAL 30 MINUTE
                    AND (b.ts IS NULL OR l.ts - b.ts > f.ts - l.ts) THEN f.sv
               ELSE b.sv END * 64) AS BIGINT), -1) AS status_q
         FROM l
           ASOF LEFT JOIN r b ON l.u = b.u AND l.ts >= b.ts
           ASOF LEFT JOIN r f ON l.u = f.u AND l.ts <= f.ts
         ORDER BY event_id""",

    // t11's simhash/banding fragments, all-pairs-per-bucket (the gate's
    // w covers whole buckets), exact Hamming, near-dups only
    "s18_stream_neardup" ->
      TextQueries.simhashAllPairsOracle(limit = 200, maxHam = 1),

    // t36's stage chain with the survivor-invariant dedup (DISTINCT on
    // the text-derived columns) and the hash-keyed split rule
    "s13_stream_pipeline" ->
      """WITH dd AS (SELECT doc_id, source, text FROM documents UNION ALL
                     SELECT doc_id + 100000, source, text FROM documents
                     WHERE doc_id % 5 = 0),
          base AS (SELECT doc_id, source, md5(text) AS h,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
              CAST(floor(10000.0 * length(replace(text, ' ', '')) /
                         len(string_split(text, ' '))) AS BIGINT) AS q
            FROM dd),
          kept AS (SELECT * FROM base WHERE n_tok >= 20 AND q >= 35000),
          ded AS (SELECT DISTINCT h, source, n_tok, q FROM kept),
          ev AS (SELECT DISTINCT h FROM base WHERE doc_id % 97 = 3),
          clean AS (SELECT * FROM ded WHERE h NOT IN (SELECT h FROM ev))
          SELECT CASE WHEN substr(h, 1, 1) IN ('0', '1') THEN 'val'
                      ELSE 'train' END AS split,
            source, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tok) AS BIGINT) AS n_tokens,
            CAST(sum(q) AS BIGINT) AS q_sum
          FROM clean GROUP BY 1, 2 ORDER BY split, source"""
  )
}
