package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CanonicalHash, SparkEntry}

/** One benchmark JVM. Modes (all options are `--key value` pairs):
  *
  *  - `list`: prints every registered query name, one per line.
  *  - `setup`: builds the session, prints [[Ready]] and exits; the caller
  *    times JVM start to that line.
  *  - `run`: prints [[Ready]], waits for a line on stdin, then drives the
  *    queries named in `--queries` as one closed-loop client and writes a
  *    JSON record to `--out`:
  *    1. a cold pass in the fixed order of `--queries`, each query's first
  *       execution in this JVM, whose action collects the answer; each answer is hashed with
  *       [[CanonicalHash]] after its query, and one whose hash is not in
  *       `--known` is also written as parquet under `--dump` for the
  *       oracle check (a query checked at another data dir gets one more,
  *       untimed, execution there);
  *    2. [[WarmPasses]] untimed warm passes with the steady action, each
  *       in an order drawn from `--seed`, then
  *       a bounded wait for the JIT compilers to go idle;
  *    3. steady passes until `--seconds` have elapsed (at least
  *       [[MinPasses]]), each in a fresh order drawn from `--seed`.
  *
  * After each query of the cold and steady passes, outside its span, the
  * runner times a [[Probe]] [[ProbeRuns]] times; the record carries these
  * probes, so the time metrics can be scaled to the speed the machine had
  * while they were measured.
  *
  * A steady query is `SparkEntry.queries(name)(spark, sfDir)`
  * (construction) followed by a `noop` write (the action), as in
  * `graft.Bench`. With
  * `--trace 1` a [[Tracer]] records Spark's side of every span; steady
  * passes then alternate traced and untraced so the record carries its own
  * tracing overhead. */
object Runner {
  val Ready = "PERFBENCH_READY"
  /** Steady passes run at least this often, however long they take. The
    * passes still get a little faster one after another, so a run that
    * stopped after three because its passes were slow read slower again. */
  val MinPasses = 4
  /** Untimed passes between the cold and the steady ones. With one, the
    * JIT was still speeding the steady passes up, by about a fifth from
    * the first to the fourth, so a run with fewer passes read slower. */
  val WarmPasses = 2
  /** Probe runs after each timed query. */
  val ProbeRuns = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt("mode") match {
      case "list" => SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      case "setup" =>
        val spark = session(opt)
        println(Ready)
        spark.stop()
      case "run" => run(opt)
      case m => sys.error(s"unknown mode $m")
    }
  }

  def session(opt: Map[String, String]): SparkSession = {
    val cpus = opt("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.debug.maxToStringFields", "10000")
      .config("spark.local.dir", opt("local-dir"))
      // a traced compute pass posts a few thousand task events; the
      // default queue of 10000 events leaves little headroom
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Waits, up to `maxMs`, until the JIT compilers have been idle for a few
    * samples. HotSpot keeps compiling the hot generated code in the
    * background well after a query's first runs, so steady passes that
    * start at once measure the compiler's backlog as much as the plans. */
  def drainJit(maxMs: Long = 8000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = jitMs()
    var stable = 0
    while (stable < 4 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = jitMs()
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  /** A fixed machine probe, timed in ms by [[Probe.ms]]: on the calling
    * thread, a xorshift loop (no allocation) and then a chain of dependent
    * loads through a single cycle of 16M slots (64 MB) fixed by a seed. It
    * runs no engine code, so its time follows only the machine: the share
    * of a core the host gives, clock and memory latency, which neighbours
    * on a shared host move. One thread follows the queries better than one
    * thread per core waited for together, which reads a short stall of any
    * core as a slow machine: in the same nine floor runs, `pass_s` scaled
    * by the one-thread probe spread 0.05, by the all-core probe 0.11. */
  final class Probe {
    private val chase: Array[Int] = {
      val n = 1 << 24
      val a = Array.tabulate(n)(identity)
      val r = new scala.util.Random(7)
      var i = n - 1
      while (i > 0) { val j = r.nextInt(i); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    private var at = 0

    def ms(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 1000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      var p = at
      var j = 0
      while (j < 100000) { p = chase(p); j += 1 }
      if (x == 42L) System.err.println("probe fixed point")
      at = p
      (System.nanoTime() - t0) / 1e6
    }
  }

  private def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def codeCacheMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1e6
  private def threads(): Int = ManagementFactory.getThreadMXBean.getThreadCount
  private def jvmNow(): Map[String, Any] = Map("jit_ms" -> jitMs(), "gc_ms" -> gcMs(),
    "code_cache_mb" -> codeCacheMb(), "threads" -> threads())

  def run(opt: Map[String, String]): Unit = {
    val spark = session(opt)
    println(Ready)
    Console.flush()
    // the caller starts other set-up JVMs beside this one and says when
    // they are gone, so nothing below shares the machine with them
    scala.io.StdIn.readLine()
    val sc = spark.sparkContext
    val sfDir = opt("sf-dir")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val rng = new scala.util.Random(opt("seed").toLong)
    // one line per query: name, then the data dir its answer is checked at
    val pool = Files.readAllLines(Paths.get(opt("queries"))).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1))
    val known = Files.readAllLines(Paths.get(opt("known"))).asScala
      .filter(_.nonEmpty).map(_.split("\t")).map(a => (a(0), a(1))).toSet
    val registry = SparkEntry.queries
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.register())
    var tracing = traced

    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    var nextSpan = 0L
    def setSpan(id: Long): Unit = if (tracing) {
      tracer.foreach(_.currentSpan = id)
      sc.setLocalProperty(Tracer.SpanProp, if (id < 0) null else id.toString)
    }
    /** Runs `body` as a span; returns its error, if any. */
    def span(kind: String, name: String, pass: String, parent: Long)(body: => Unit): Option[String] = {
      val id = nextSpan; nextSpan += 1
      setSpan(id)
      val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
      val err = try { body; None } catch {
        case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
      }
      val t1 = System.nanoTime()
      spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "pass" -> pass, "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis(),
        "dur_ms" -> (t1 - t0) / 1e6, "ok" -> err.isEmpty, "error" -> err, "traced" -> tracing)
      setSpan(parent)
      err
    }
    /** One query: construction, then `act` on the DataFrame it built. */
    def query(name: String, dir: String, pass: String, actKind: String)
             (act: DataFrame => Unit): Option[String] = {
      val fn = registry(name)
      var inner: Option[String] = None
      val qid = nextSpan
      val outer = span("query", name, pass, -1L) {
        var df: DataFrame = null
        inner = span("ctor", name, pass, qid) { df = fn(spark, dir) }
          .orElse(span(actKind, name, pass, qid)(act(df)))
        inner.foreach(e => throw new RuntimeException(e))
      }
      // unpersist anything the query cached so no later run skips work
      spark.catalog.clearCache()
      inner.orElse(outer)
    }
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val jvmSetup = jvmNow()
    var probe = new Probe
    probe.ms() // first run, untimed
    val probes = mutable.ArrayBuffer[Map[String, Any]]()
    def pass(label: String, order: Seq[String], actKind: String, dir: String,
             after: String => Unit = _ => ())(act: (String, DataFrame) => Unit): Unit = {
      val j0 = jvmNow(); val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
      order.foreach { n =>
        query(n, dir, label, actKind)(df => act(n, df))
        after(n)
        if (!label.startsWith("warm"))
          probes += Map("pass" -> label, "query" -> n, "ms" -> Seq.fill(ProbeRuns)(probe.ms()))
      }
      val dur = (System.nanoTime() - t0) / 1e9
      passes += Map("pass" -> label, "start_ms" -> startMs, "dur_s" -> dur, "traced" -> tracing,
        "queries" -> order.size, "jvm_start" -> j0, "jvm_end" -> jvmNow())
    }

    // answers to check: hashed outside the spans, dumped when unknown
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val answers = mutable.Map[String, (Array[org.apache.spark.sql.Row], DataFrame)]()
    val collect = (n: String, df: DataFrame) => answers(n) = (df.collect(), df)
    def check(n: String, dir: String): Unit = answers.remove(n).foreach { case (rows, df) =>
      val hash = CanonicalHash.ofRows(rows, df.schema)
      val dumped = !known.contains((n, hash))
      if (dumped)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"${opt("dump")}/$n")
      checks += Map("query" -> n, "sf_dir" -> dir, "rows" -> rows.length,
        "hash" -> hash, "dumped" -> dumped, "oracle" -> SparkEntry.oracleSql.get(n))
    }

    val names = pool.map(_._1)
    val checkDir = pool.toMap

    // cold pass: each query's first execution collects its answer. Its
    // order is fixed: the first query of a JVM also pays for the engine's
    // own first use, which costs more behind some queries than others, and
    // with a drawn order that choice moved first_pass_s by about a tenth
    pass("cold", names, "action", sfDir,
      n => if (checkDir(n) == sfDir) check(n, sfDir) else answers.remove(n))(collect)
    // answers checked at another scale get one more, untimed, execution
    names.filter(checkDir(_) != sfDir).foreach { n =>
      query(n, checkDir(n), "check", "check")(df => collect(n, df))
      check(n, checkDir(n))
    }

    // the cold pass collected; untimed passes warm the noop write path
    (1 to WarmPasses).foreach(i => pass(s"warm-$i", rng.shuffle(names), "action", sfDir)((_, df) => noop(df)))
    drainJit()

    val steadyStart = System.nanoTime()
    var k = 0
    while (k < MinPasses || (System.nanoTime() - steadyStart) / 1e9 < seconds) {
      // trace mode: odd passes run with the listeners removed
      if (traced && k > 0) {
        if (k % 2 == 1) { tracer.foreach(_.unregister()); tracing = false }
        else { tracer.foreach(_.register()); tracing = true }
      }
      pass(s"steady-$k", rng.shuffle(names), "action", sfDir)((_, df) => noop(df))
      k += 1
    }
    val steadyS = (System.nanoTime() - steadyStart) / 1e9

    tracer.foreach(_.drain())
    probe = null // its table is not the engine's heap
    // retained heap: the least heap in use after each of a few full GCs,
    // so an object freed a moment late does not count
    val mx = ManagementFactory.getMemoryMXBean
    val heapMb = (1 to 3).map { _ =>
      Thread.sleep(200); System.gc()
      mx.getHeapMemoryUsage.getUsed / 1e6
    }.min

    val out = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.vm.version")),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpus" -> opt("cpus").toInt,
      "seed" -> opt("seed").toLong,
      "sf_dir" -> sfDir,
      "probes" -> probes,
      "steady_s" -> steadyS,
      "retained_heap_mb" -> heapMb,
      "jvm_setup" -> jvmSetup,
      "jvm_end" -> jvmNow(),
      "passes" -> passes,
      "spans" -> spans,
      "checks" -> checks,
      "trace" -> tracer.map(_.toJson))
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    spark.stop()
  }
}
