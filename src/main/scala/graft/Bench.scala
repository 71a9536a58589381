package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE JSON line with steady-state timings.
  *
  * Measurement scheme (round-7 rework): each query runs TWICE against the
  * bench dir. The first execution pays parquet footer reads and
  * whole-stage-codegen JIT (isolated runs show 3-9s first-execution vs
  * 0.7-1.7s steady-state for identical plans); the second execution — after
  * a `clearCache()` so no leaked persist from run 1 can hide work — is the
  * steady-state number we report. Both are written to `bench_detail.json`
  * so first-run JIT debt stays visible without polluting the headline.
  * (The previous scheme warmed all 191 queries on sf0.001 under a wall
  * budget; the l/m/e families build inputs with tabulate/range and ignore
  * the dir, so "warming" them ran the full-cost query and burned the budget
  * before most q/n/t queries were reached — round 6's numbers measured the
  * harness's own JIT debt, not plan quality.)
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS): read as epoch-nano INT64
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // 235 distinct queries x 2 runs blow the default 100-entry
      // whole-stage-codegen cache: run 2 then re-janino-compiles every
      // stage, and the largest generated kernels (the layered rejection
      // samplers) pay seconds of compile time per eviction (observed:
      // q99 0.9s isolated -> 14.8s under full-suite eviction pressure).
      // Static conf, so it must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // the one remaining tail polluter: SparkStringUtils logs a WARN
      // the first time a plan's string form exceeds 25 fields (the
      // linalg panel plans); raise the cap so the stdout tail stays
      // warning-free for the driver's parse window
      .config("spark.sql.debug.maxToStringFields", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // noop sink: forces full computation of every output column
    // (count() would let column pruning skip the projections under test)
    // A thrown query must NOT masquerade as a fast one — its name lands in
    // `errors` in bench_detail.json (the stdout contract stays unchanged).
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                name: String = ""): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case _: Throwable => if (name.nonEmpty) errors += name }
      (System.nanoTime() - t0) / 1e9
    }

    // Steady-state hygiene: the first run janino-compiles the stage code
    // and loads the generated classes, but HotSpot's C2 threads keep
    // compiling those (often huge) methods in the BACKGROUND — on a
    // saturated local[32] box that steals cores from whatever is being
    // timed next. Observed: a 0.3 s query reads 4 s when it follows the
    // layered-sampler kernels, with byte-identical plans. Before each
    // steady measurement, wait (bounded) until the JVM's cumulative
    // compilation-time counter stops moving, so the steady number
    // measures the PLAN, not the neighbor's compiler debt.
    // r10: bound deepened 1.5 → 2.5 s and stability 2 → 3 samples after
    // the r9 driver bench showed one steady>first inversion (t11) that
    // was not reproducible under the identical invocation on an idle
    // box — on an idle run the drain still exits in ~150 ms, but on a
    // loaded box it now waits out a longer C2 tail before timing.
    // r17: bound deepened 2.5 → 8 s. The r17 baseline measured the
    // layered-sampler and blocked-linalg kernels carrying 10-40 s of
    // HotSpot C2 debt (q99 jit_ms 40 s with an 11.3 s s1 against a
    // 1.35 s s3; l04 s2 8.3 s against 1.9 s steady): a 2.5 s drain
    // returns mid-storm and the next sample runs the giant generated
    // methods INTERPRETED, so the median reports compiler state, not
    // the plan. The drain is untimed (measurement hygiene, guide §1) —
    // on an idle JVM it still exits in ~150 ms via the 3-stable-sample
    // check, so the deeper bound only spends wall time when there is
    // real debt to wait out.
    def drainJit(maxMs: Long = 8000): Unit = {
      val mx = java.lang.management.ManagementFactory.getCompilationMXBean
      if (mx != null && mx.isCompilationTimeMonitoringSupported) {
        val deadline = System.currentTimeMillis + maxMs
        var last = mx.getTotalCompilationTime
        var stable = 0
        while (stable < 3 && System.currentTimeMillis < deadline) {
          Thread.sleep(50)
          val now = mx.getTotalCompilationTime
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
      }
    }

    // Contention probe (r11 verdict #2: the perf tripwire went red on
    // byte-identical code because the driver's box was contended). A
    // fixed single-threaded CPU kernel — xorshift, no allocation, no IO —
    // is timed at bench start and end (min of three post-warm reps, so
    // JIT state doesn't ride the number). On an idle box it lands near
    // PerfGate.probeBoundMs; a box whose CPUs are oversubscribed inflates
    // it in the same proportion it inflates every query, and
    // PerfBudgetSpec widens its gates by exactly that ratio instead of
    // failing honest budgets it cannot distinguish from noise.
    def probeMs(): Double = {
      def once(): Double = {
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        val t0 = System.nanoTime()
        while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        val dt = (System.nanoTime() - t0) / 1e6
        if (x == 42L) System.err.println("xorshift fixed point") // defeat DCE
        dt
      }
      once() // unmeasured JIT warmup
      Seq(once(), once(), once()).min
    }
    // PARALLEL probe (r16 verdict "next" #2): the r16 contamination
    // class — ~25% multi-core-throughput loss with roving multi-second
    // stalls — read CLEAN on the single-thread probe (212-224 ms in
    // every degraded run). This probe runs the SAME xorshift kernel on
    // one thread per available processor and times the WALL until all
    // finish (min of three post-warm reps): on a healthy box it lands
    // near the single-thread number (all threads truly parallel); a box
    // that lost parallel capacity inflates it in proportion, giving
    // PerfBudgetSpec a gauge the single-thread probe cannot fake.
    def probeParMs(): Double = {
      val n = Runtime.getRuntime.availableProcessors()
      def once(): Double = {
        val t0 = System.nanoTime()
        val threads = (0 until n).map { t =>
          val th = new Thread(() => {
            var x = 0x9E3779B97F4A7C15L + t
            var i = 0
            while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
            if (x == 42L) System.err.println("xorshift fixed point")
          })
          th.start(); th
        }
        threads.foreach(_.join())
        (System.nanoTime() - t0) / 1e6
      }
      once() // unmeasured warmup
      Seq(once(), once(), once()).min
    }
    val probeStart = probeMs()
    val probeParStart = probeParMs()

    // Per-query JVM counters (r12 verdict #1a: the e14 in-suite slowdown
    // was DIAGNOSED as JIT/code-cache pressure but never measured). Each
    // query's detail row records the JIT-compilation-time and GC-time
    // DELTAS across its four executions plus the code-cache and
    // metaspace LEVELS after them — so a re-paying-work inversion
    // arrives with its mechanism attached (escalating jit_ms ⇒ recompile
    // churn; cc_mb at the reserve ceiling ⇒ code-cache flush thrash; flat
    // counters ⇒ look elsewhere). codegen_n counts the Janino compiles
    // of the three steady executions (Spark's public codegen metric): 0
    // once run 1 has cached the query's generated classes, so a query
    // that recompiles on every run shows it without a profiler rerun.
    import scala.jdk.CollectionConverters._
    def jitMsNow(): Long = {
      val c = java.lang.management.ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported)
        c.getTotalCompilationTime else 0L
    }
    def codegenNow(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def gcMsNow(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def poolMb(prefix: String): Double = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala.filter(_.getName.startsWith(prefix))
      .map(_.getUsage.getUsed).sum / 1e6

    // Broad codegen-shape warmup so even the very first query's run-1 isn't
    // dominated by cold-JVM class loading (one representative per family).
    Seq("q01_sum_revenue", "q05_sliding_mean", "m01_matmul", "t05_minhash")
      .flatMap(SparkEntry.queries.get).foreach(fn => runOnce(fn))
    spark.catalog.clearCache()

    // Session-residue instrumentation (r13 verdict "next" #1: the
    // q14/q05 in-suite ACCUMULATING inflation is unexplained by the
    // jit/cc counters — the prime suspect is background residue from
    // the 16 streaming replay gates). Three gauges recorded per query:
    // live JVM thread count, the StateStore loaded-provider registry
    // size + whether its maintenance task is running, and the listener
    // bus's total queued-event depth. All reflective with -1 fallback —
    // forensics must never fail the bench.
    def threadsNow(): Int =
      java.lang.management.ManagementFactory.getThreadMXBean.getThreadCount
    def stateStoreGauges(): (Int, Int) = try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      val module = cls.getField("MODULE$").get(null)
      val f = cls.getDeclaredField("loadedProviders")
      f.setAccessible(true)
      val n = f.get(module).asInstanceOf[scala.collection.mutable.Map[_, _]].size
      val mnt = cls.getMethod("isMaintenanceRunning").invoke(module)
        .asInstanceOf[Boolean]
      (n, if (mnt) 1 else 0)
    } catch { case _: Throwable => (-1, -1) }
    def listenerQueueDepth(): Int = try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val qm = bus.getClass.getDeclaredMethod("queues")
      qm.setAccessible(true)
      val queues = qm.invoke(bus)
        .asInstanceOf[java.util.concurrent.CopyOnWriteArrayList[AnyRef]]
      queues.asScala.map { q =>
        q.getClass.getMethod("org$apache$spark$scheduler$AsyncEventQueue$$eventQueue")
          .invoke(q).asInstanceOf[java.util.concurrent.LinkedBlockingQueue[_]].size
      }.sum
    } catch { case _: Throwable => -1 }

    // dev loop: SPARK_GRAFT_ONLY=q05_sliding_mean,l01_tsqr_rtr times a subset
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Deterministic measurement order, STREAMING REPLAY GATES LAST
    // (r13 verdict "next" #1). The query registry is a hash map, so the
    // old iteration order interleaved the 17 replay gates among the
    // batch queries at hash-order random — any residue a replay leaves
    // in the JVM (state-store maintenance, listener backlog, codegen
    // churn) then lands in whichever batch queries hashed after it,
    // unattributably (r12's e14, r13's q14/q05). Batch queries now run
    // first in sorted-name order, replay gates after them; the headline
    // total is order-invariant, and any residue class can only pollute
    // other replay gates — whose budgets are harness-paced anyway.
    val streamGates = operators.StreamQueries.queries.keySet
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) => (streamGates.contains(name), name) }
    val results = ordered.map { case (name, fn) =>
      val jit0 = jitMsNow(); val gc0 = gcMsNow(); val thr0 = threadsNow()
      val first = runOnce(fn, name)
      val cg0 = codegenNow()
      // unpersist anything run 1 leaked so later runs can't skip real work
      spark.catalog.clearCache()
      drainJit()
      // steady = MEDIAN of three post-warm executions (r10 verdict #5:
      // three consecutive rounds spent their top item bisecting box
      // noise; min-of-two still let one clean + one inflated sample
      // report the clean one while cross-round comparisons saw the
      // variance). The median discards a single GC pause / late-compile
      // outlier in EITHER direction, and a real plan regression inflates
      // all three samples and survives.
      val samples = (1 to 3).map { _ =>
        val t = runOnce(fn, name)
        spark.catalog.clearCache()
        drainJit()
        t
      }
      val (ssp, mnt) = stateStoreGauges()
      // thr_d: live-thread growth ACROSS this query's four executions —
      // folded into the residue verdict by PerfBudgetSpec (r14 ADVICE:
      // ssp/mnt are sampled after the gate's own unload and read zero
      // by construction; a thread leak is one signal they cannot see)
      val counters = (jitMsNow() - jit0, gcMsNow() - gc0,
        poolMb("CodeHeap"), poolMb("Metaspace"),
        threadsNow(), threadsNow() - thr0, ssp, mnt, listenerQueueDepth(),
        codegenNow() - cg0)
      // quiesce BETWEEN replay gates (r14 verdict "next" #3): gates run
      // last and back-to-back, so without this each gate's teardown —
      // state-store stop, listener drain, GC debt — lands inside the
      // next gate's measured replay. Gauges are sampled BEFORE the
      // quiesce so they reflect what the gate actually left behind.
      if (streamGates.contains(name))
        operators.StreamQueries.quiesceBetweenGates()
      name -> (first, samples(0), samples(1), samples(2), counters)
    }
    def median3(a: Double, b: Double, c: Double): Double =
      Seq(a, b, c).sorted.apply(1)
    // steady = median of the three post-warm samples (see above); all
    // samples are recorded so cross-round comparisons can see the spread
    val total = results.map { case (_, (_, s1, s2, s3, _)) => median3(s1, s2, s3) }.sum
    // minpaced total (r14 verdict "next" #3): replay-gate wall is
    // micro-batch SCHEDULING, systematically drawn at the contended end
    // of the band by the gates-last ordering — so the headline is ALSO
    // reported with harness-paced gates at min-of-executions (the same
    // statistic PerfGate already budgets them at); plan queries stay at
    // the median. Cross-round totals should compare this field.
    val totalMinPaced = results.map { case (k, (f, s1, s2, s3, _)) =>
      if (streamGates.contains(k)) Seq(f, s1, s2, s3).min else median3(s1, s2, s3)
    }.sum
    val firstTotal = results.map(_._2._1).sum
    def fmt(v: Double): String = f"$v%.3f"
    // Full per-query detail → a file (the harness tail buffer holds only
    // the last ~2000 chars of stdout, so a 191-query map never fits there).
    val bySteady = results
      .map { case (k, (f, s1, s2, s3, c)) => (k, (f, median3(s1, s2, s3), s1, s2, s3, c)) }
      .sortBy { case (_, (_, s, _, _, _, _)) => -s }
    val detailQs = bySteady.map {
      case (k, (f, s, s1, s2, s3, (jit, gc, cc, meta, thr, thrD, ssp, mnt, lbq, cg))) =>
        s"\"" + k + "\":{\"first\":" + fmt(f) + ",\"steady\":" + fmt(s) +
          ",\"s1\":" + fmt(s1) + ",\"s2\":" + fmt(s2) + ",\"s3\":" + fmt(s3) +
          ",\"min\":" + fmt(Seq(f, s1, s2, s3).min) +
          ",\"jit_ms\":" + jit + ",\"gc_ms\":" + gc + ",\"codegen_n\":" + cg +
          ",\"cc_mb\":" + fmt(cc) + ",\"meta_mb\":" + fmt(meta) +
          ",\"thr\":" + thr + ",\"thr_d\":" + thrD + ",\"ssp\":" + ssp +
          ",\"mnt\":" + mnt + ",\"lbq\":" + lbq + "}"
    }
    val probeEnd = probeMs()
    val probeParEnd = probeParMs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_detail.json"),
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"value_minpaced":${fmt(totalMinPaced)},"first_run_total":${fmt(firstTotal)},"probe_ms_start":${fmt(probeStart)},"probe_ms_end":${fmt(probeEnd)},"probe_par_ms_start":${fmt(probeParStart)},"probe_par_ms_end":${fmt(probeParEnd)},"errors":${errors.map("\"" + _ + "\"").mkString("[", ",", "]")},"queries":${detailQs.mkString("{", ",", "}")},"sf":"$sfDir"}""")
    // Stdout line: steady-state only, slowest first, capped so the whole
    // JSON line stays well inside the 2000-char tail window.
    val budget = 1500
    val head = new StringBuilder
    bySteady.foreach { case (k, (_, s, _, _, _, _)) =>
      val q = s"\"" + k + "\":" + fmt(s)
      if (head.length + q.length + 1 <= budget) {
        if (head.nonEmpty) head.append(',')
        head.append(q)
      }
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"value_minpaced":${fmt(totalMinPaced)},"queries":{${head.result()}},"sf":"$sfDir"}""")
    spark.stop()
  }
}
