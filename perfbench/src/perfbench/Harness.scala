package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The benchmark's JVM side: a closed loop of one client (this thread)
  * running a workload's queries back to back through the engine's public
  * entry points, `SparkEntry.queries(name)(spark, dir)` (construction) and a
  * `noop` write (Catalyst planning plus execution).
  *
  * Order of a run: `setups` set-ups (a session plus one warm-up pass each;
  * the first builds the SparkContext and is timed from JVM start), then
  * timed passes until `seconds` have passed. With `trace 1` untraced and
  * traced passes alternate, so the difference of their pass walls is the
  * tracing overhead. Each query's last result is then written out for the
  * oracle check, outside every timed region. Raw samples go to
  * `<out>/result.json` and spans to `<out>/spans.json`; `run.py` turns them
  * into metrics. Arguments come as `--key value` pairs.
  */
object Harness {

  final case class Conf(queries: Seq[String], seed: Long, seconds: Double,
                        trace: Boolean, survey: Boolean, sf: String,
                        out: String, setups: Int, cores: Int, scratch: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val all = SparkEntry.queries.keys.toSeq.sorted
    val conf = Conf(
      queries = if (kv("queries") == "ALL") all else kv("queries").split(",").toSeq,
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      trace = kv("trace") == "1",
      survey = kv.get("survey").contains("1"),
      sf = kv("sf"),
      out = kv("out"),
      setups = kv("setups").toInt,
      cores = kv("cores").toInt,
      scratch = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "/tmp"))
    val unknown = conf.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    new Run(conf).run()
  }

  /** Machine busy jiffies from the aggregate line of /proc/stat, as
    * graft.Bench reads it: every field but idle, iowait, guest, guest_nice. */
  def procStatBusy(): Option[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      Some(f.zipWithIndex.collect {
        case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v
      }.sum)
    } catch { case NonFatal(_) => None }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = osBean.getProcessCpuTime

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still live after a full collection, in MB. Called once, after
    * the timed passes: a collection between passes would disturb them. */
  def liveHeapMb(): Double = {
    // the first collection queues Spark's context cleaner, which then drops
    // the blocks of unreachable RDDs; the second collects what it freed
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(b => Option(b.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        try Files.size(p) catch { case NonFatal(_) => 0L }
      }.sum
      finally s.close()
    }

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" ").take(300)
}

final class Run(conf: Harness.Conf) {
  import Harness._

  private val fns = SparkEntry.queries
  private val rnd = new scala.util.Random(conf.seed)
  private val failures = mutable.LinkedHashMap.empty[String, String]
  private var failedRuns = 0L
  private val latest = mutable.Map.empty[String, DataFrame]
  private var spark: SparkSession = _

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${sys.props("java.io.tmpdir")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // as graft.Bench: the known-bounded global windows log a WARN per run
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** Every failure counts; the first one per query is kept as its reason. */
  private def fail(q: String, where: String, e: Throwable): Unit = {
    failedRuns += 1
    if (!failures.contains(q)) failures(q) = s"$where: ${message(e)}"
    System.err.println(s"perfbench: $q failed in $where: ${message(e)}")
  }

  /** Construct, then execute through the `noop` sink; returns the
    * construction and execution wall in ms. */
  private def runQuery(q: String, construct: DataFrame => Unit = _ => (),
                       execute: => Unit = ()): (Double, Double) = {
    val t0 = System.nanoTime()
    val df = fns(q)(spark, conf.sf)
    val t1 = System.nanoTime()
    construct(df)
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    execute
    latest(q) = df
    ((t1 - t0) / 1e6, (t3 - t2) / 1e6)
  }

  /** Warm-up runs in one fixed order for every seed, so each run's JIT
    * profile starts from the same history; only timed passes are permuted. */
  private def warmUpPass(): Unit = conf.queries.foreach { q =>
    try runQuery(q) catch { case NonFatal(e) => fail(q, "warm-up", e) }
  }

  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** One timed pass over the seed's permutation of the queries: `one`
    * runs a query and returns its record. Records the pass's wall time,
    * process CPU, GC and JIT time, and the classes Spark code-generated. */
  private def pass(traced: Boolean)(one: String => Map[String, Any]): Unit = {
    val order = rnd.shuffle(conf.queries)
    val gc0 = gcMs()
    val jit0 = jitMs()
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    val records = order.flatMap { q =>
      try Some(one(q)) catch {
        case NonFatal(e) =>
          fail(q, if (traced) "traced pass" else "timed pass", e)
          None
      }
    }
    passes += Map("traced" -> traced, "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "cpu_s" -> (processCpuNs() - cpu0) / 1e9, "gc_ms" -> (gcMs() - gc0),
      "jit_ms" -> (jitMs() - jit0), "queries" -> records)
  }

  private def untracedPass(): Unit = {
    val nCores = Runtime.getRuntime.availableProcessors()
    pass(traced = false) { q =>
      val busy0 = procStatBusy()
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      runQuery(q)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      // the machine's busy share that is not this process, per sample
      val ext = for (b0 <- busy0; b1 <- procStatBusy())
        yield math.max(0.0, ((b1 - b0) / 100.0 - cpu) / (wall * nCores))
      Map("query" -> q, "ms" -> wall * 1e3, "cpu_s" -> cpu, "ext_cpu_frac" -> ext)
    }
  }

  /** Resources held at the start of the timed passes. */
  private def leakBase(): (Int, Long) =
    (spark.sparkContext.getPersistentRDDs.size, treeBytes(Paths.get(conf.scratch)))

  private def tracedPass(tracer: Tracer, base: (Int, Long)): Unit = {
    val sc = spark.sparkContext
    sc.addSparkListener(tracer)
    val passSpan = tracer.openSpanAt(s"pass ${passes.size}", 0)
    try pass(traced = true) { q =>
      val qSpan = tracer.openSpanAt(s"query $q", passSpan)
      try {
        val t0 = System.nanoTime()
        var construction, execution: Counts = null
        tracer.begin("construction", qSpan)
        val (cMs, eMs) = runQuery(q,
          construct = { df =>
            tracer.constructed(df)
            construction = tracer.end()
            tracer.begin("execution", qSpan)
          },
          execute = { execution = tracer.end() })
        Map("query" -> q, "ms" -> (System.nanoTime() - t0) / 1e6,
          "construct_ms" -> cMs, "exec_ms" -> eMs,
          "construct" -> construction.toJson, "exec" -> execution.toJson,
          "leak" -> Map(
            "persisted_rdds" -> (sc.getPersistentRDDs.size - base._1),
            "active_streams" -> tracer.activeStreams.synchronized(tracer.activeStreams.size),
            "scratch_bytes" -> (treeBytes(Paths.get(conf.scratch)) - base._2)))
      } finally {
        tracer.endIfOpen()
        tracer.closeSpan(qSpan)
      }
    } finally {
      tracer.closeSpan(passSpan)
      sc.removeSparkListener(tracer)
    }
  }

  def run(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // set-up 1 builds the SparkContext; the others open a new session on it
    val setupS = (1 to conf.setups).map { k =>
      val t0 = System.nanoTime()
      val sinceJvmStart = if (k == 1) (System.currentTimeMillis() - jvmStartMs) * 1e6 else 0.0
      spark = if (spark == null) newSession() else spark.newSession()
      warmUpPass()
      (sinceJvmStart + System.nanoTime() - t0) / 1e9
    }

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val tracer = if (conf.trace) new Tracer(spark.sparkContext) else null
    if (conf.survey) tracedPass(tracer, leakBase())
    else if (!conf.trace) do untracedPass() while (elapsed < conf.seconds)
    else {
      // alternate, so JIT warm-up drift cancels out of the overhead
      val base = leakBase()
      var i = 0
      do {
        if (i % 2 == 0) untracedPass() else tracedPass(tracer, base)
        i += 1
      } while (elapsed < conf.seconds || i < 2)
    }

    val heapLiveMb = liveHeapMb()

    // the oracle check reads each query's last result, outside timed regions
    val resultsDir = s"${conf.out}/results"
    conf.queries.distinct.foreach { q =>
      latest.get(q).foreach { df =>
        try df.coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$q")
        catch { case NonFatal(e) => fail(q, "result write", e) }
      }
    }
    val oracle = SparkEntry.oracleSql
    conf.queries.distinct.filterNot(oracle.contains).foreach(q =>
      fail(q, "oracle check", new NoSuchElementException("no oracle SQL")))

    val sc = spark.sparkContext
    val record = Map(
      "config" -> Map(
        "master" -> sc.master,
        "default_parallelism" -> sc.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(a => a.startsWith("-X") || a.startsWith("-D")).toSeq,
        "spark_version" -> spark.version,
        "seed" -> conf.seed,
        "sf_dir" -> conf.sf,
        "queries" -> conf.queries),
      "setup_s" -> setupS,
      "heap_live_mb" -> heapLiveMb,
      "passes" -> passes.toSeq,
      "job_ids" -> Option(tracer).map(_.jobIds.toSeq).getOrElse(Nil),
      "failed_runs" -> failedRuns,
      "failures" -> failures,
      "oracle_sql" -> conf.queries.distinct.flatMap(q => oracle.get(q).map(q -> _)).toMap)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"${conf.out}/result.json"), json.writeValueAsString(record))
    if (tracer != null)
      Files.writeString(Paths.get(s"${conf.out}/spans.json"),
        json.writeValueAsString(tracer.spans.map(_.toJson)))
    spark.stop()
  }
}
