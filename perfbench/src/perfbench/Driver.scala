package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark driver: one JVM, one client, registry queries run one
  * after another through the `noop` sink. The program is only called,
  * never changed: each query is `QueryDef.build` followed by the final
  * `write.format("noop").save()`, both timed from here.
  *
  * Arguments are key=value pairs:
  *   sf         fixture directory
  *   queries    comma-separated registry names
  *   seed       fixes the per-pass query order and nothing else
  *   seconds    measured passes start until this much wall time is used
  *   warm       untimed warm passes, in the listed order, before the
  *              first timed query
  *   trace      1: alternate untraced and traced passes, record spans
  *   cpus       local[N]
  *   out        JSONL file for the records this driver emits
  *   spans      JSONL file for the spans of traced passes
  *   verify     directory for the verification pass's results
  *   oracle     optional: JSONL file for each query's DuckDB oracle SQL
  *
  * Every record carries nanosecond times on one clock: epoch ns derived
  * from `System.nanoTime` so the caller can subtract its launch time.
  */
object Driver {

  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochOffsetNs

  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val sf = conf("sf")
    val names = conf("queries").split(",").toSeq.filter(_.nonEmpty)
    val seed = conf("seed").toLong
    val seconds = conf("seconds").toDouble
    val warm = conf.getOrElse("warm", "1").toInt
    val trace = conf.getOrElse("trace", "0") == "1"
    val out = new Records(Paths.get(conf("out")))

    val spark = graft.GraftSession.local(conf("cpus").toInt)
    out.mark("session")
    val run = new Runner(spark, sf, out)
    val atSession = Counters.read(run.tmpDir)

    (0 until warm).foreach { w =>
      names.foreach { n =>
        val r = run.timedQuery(n)
        r.failure.foreach(e => System.err.println(s"[perfbench] warm-up query $n failed: $e"))
        out.write(Json.obj("k" -> "warm", "pass" -> w, "name" -> n,
          "ok" -> r.failure.isEmpty, "wall_ns" -> (r.endNs - r.startNs),
          "error" -> r.failure.getOrElse("")))
      }
    }
    run.betweenPasses()
    out.mark("setup_done")
    out.write(Json.obj("k" -> "setup", "layers" -> RawJson(Json.obj(
      Counters.read(run.tmpDir).minus(atSession).toSeq.sortBy(_._1): _*))))

    val threads0 = threadCpu()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val t0 = System.nanoTime()
    var pass = 0
    // a traced run needs passes of both kinds: the untraced ones are
    // its baseline for the tracing overhead
    val minPasses = if (trace) 4 else 1
    while (pass < minPasses || System.nanoTime() - t0 < seconds * 1e9) {
      run.pass(pass, order(names, seed, pass), tracer.filter(_ => pass % 2 == 1))
      pass += 1
    }
    out.mark("measured")
    val threads1 = threadCpu()
    out.write(Json.obj("k" -> "thread_cpu", "by_group" -> RawJson(Json.obj(
      threads1.map { case (g, v) => g -> (v - threads0.getOrElse(g, 0L)) / 1e9 }
        .toSeq.sortBy(-_._2).take(12): _*))))
    run.verify(names, conf("verify"))
    conf.get("oracle").foreach(f => oracleSql(spark, sf, names, Paths.get(f)))
    tracer.foreach(_.writeSpans(Paths.get(conf("spans"))))
    out.mark("end")
    out.write(Json.obj("k" -> "end", "heap_peak_mb" -> run.heapPeakMb))
    out.close()
    spark.stop()
  }

  /** The DuckDB oracle SQL of each query that has one, rendered for
    * this fixture; empty for the rows-only queries.
    */
  def oracleSql(spark: SparkSession, sf: String, names: Seq[String], f: Path): Unit = {
    val w = new Records(f)
    names.flatMap(n => graft.queries.Registry.all.get(n).map(n -> _)).foreach {
      case (n, q) =>
        val sql = q.oracle.orElse(q.oracleGen.map(_(spark, sf))).getOrElse("")
        w.write(Json.obj("name" -> n, "sql" -> sql.trim))
    }
    w.close()
  }

  /** CPU ns of the process's live threads, JVM-internal ones (GC, JIT)
    * included, summed per thread name with digits dropped. Linux only.
    */
  def threadCpu(): Map[String, Long] =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        Some(name.replaceAll("[0-9]+", "#") -> (f(11).toLong + f(12).toLong) * 10000000L)
      } catch { case _: java.io.IOException => None }
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** The pass order: a seeded shuffle per pass index. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(names)
}

/** Result of one timed query call. */
final case class QueryRun(
    name: String, startNs: Long, buildEndNs: Long, endNs: Long,
    cpuNs: Long, failure: Option[String], analysis: Option[(Long, Long)])

final class Runner(spark: SparkSession, sf: String, out: Records) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
  var heapPeakMb = 0.0

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  private def sampleHeap(): Unit = {
    val mb = heapPools.flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1048576.0
    heapPeakMb = math.max(heapPeakMb, mb)
  }

  /** Build then execute one query; any throwable is a failure. */
  def timedQuery(name: String): QueryRun = {
    val cpu0 = os.getProcessCpuTime
    val t0 = Driver.nowNs
    var tb = t0
    var analysis = Option.empty[(Long, Long)]
    val failure =
      try {
        val df = graft.queries.Registry.all.get(name) match {
          case Some(q) => q.build(spark, sf)
          case None => throw new NoSuchElementException(s"no registry query $name")
        }
        tb = Driver.nowNs
        // the built frame's eager analysis, which no listener reports
        analysis = df.queryExecution.tracker.phases.get("analysis")
          .map(p => (p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))
        df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          if (tb == t0) tb = Driver.nowNs
          Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
    val r = QueryRun(name, t0, tb, Driver.nowNs, os.getProcessCpuTime - cpu0,
      failure, analysis)
    releaseBlocks()
    r
  }

  /** Drop what a query may have persisted, as the driver-contract
    * bench does between queries: cached plans and the RDD-level blocks
    * of `localCheckpoint`, which `clearCache` cannot free.
    */
  private def releaseBlocks(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Untimed: collect garbage so every pass starts from the same heap;
    * the heap left after this collection is the peak's sample.
    */
  def betweenPasses(): Unit = { System.gc(); sampleHeap() }

  def pass(i: Int, names: Seq[String], tracer: Option[Tracer]): Unit = {
    val counters0 = Counters.read(tmpDir)
    val gc0 = gcMs
    tracer.foreach(_.start())
    val t0 = Driver.nowNs
    val cpu0 = os.getProcessCpuTime
    val runs = names.map { n =>
      val r = timedQuery(n)
      tracer.foreach(_.query(r))
      out.write(Json.obj("k" -> "query", "pass" -> i, "traced" -> tracer.isDefined,
        "name" -> n, "ok" -> r.failure.isEmpty,
        "build_ns" -> (r.buildEndNs - r.startNs),
        "exec_ns" -> (r.endNs - r.buildEndNs), "cpu_ns" -> r.cpuNs,
        "error" -> r.failure.getOrElse("")))
      r
    }
    val t1 = Driver.nowNs
    val cpu = os.getProcessCpuTime - cpu0
    val layers = tracer.map { tr =>
      tr.stop()
      tr.passSpan(i, t0, t1)
      val d = Counters.read(tmpDir).minus(counters0)
      val ok = runs.filter(_.failure.isEmpty)
      tr.passLayers ++ d ++ Seq(
        "queries.build_ms" -> ok.map(r => r.buildEndNs - r.startNs).sum / 1e6,
        "queries.execute_ms" -> ok.map(r => r.endNs - r.buildEndNs).sum / 1e6,
        "jvm.gc_ms" -> (gcMs - gc0).toDouble)
    }
    out.write(Json.obj("k" -> "pass", "i" -> i, "traced" -> tracer.isDefined,
      "wall_ns" -> (t1 - t0), "cpu_ns" -> cpu, "gc_ms" -> (gcMs - gc0),
      "layers" -> RawJson(Json.obj(layers.getOrElse(Nil).toSeq.sortBy(_._1): _*))))
    betweenPasses()
  }

  /** Untimed verification pass: every query's result as parquet, for
    * the caller to fingerprint against the expected values.
    */
  def verify(names: Seq[String], dir: String): Unit = names.foreach { n =>
    val err =
      try {
        graft.queries.Registry.all(n).build(spark, sf).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$n")
        ""
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
    releaseBlocks()
    out.write(Json.obj("k" -> "verify", "name" -> n, "error" -> err))
  }
}

/** Process-wide counters read as deltas around a traced pass. */
object Counters {
  final case class Snap(values: Map[String, Double]) {
    def minus(o: Snap): Map[String, Double] =
      values.map { case (k, v) => k -> (v - o.values(k)) }
  }

  def read(tmpDir: Path): Snap = {
    val file = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Snap(Map(
      "functions.codegen_compile_ms" -> CodeGenerator.compileTime / 1e6,
      "functions.codegen_classes" ->
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "sources.load_ms" -> graft.sources.Tables.loadNanos.get / 1e6,
      "sources.load_calls" -> graft.sources.Tables.loadCalls.get.toDouble,
      "sources.fs_bytes_written_mb" -> file.map(_.getBytesWritten).sum / 1048576.0,
      "sources.fs_bytes_read_mb" -> file.map(_.getBytesRead).sum / 1048576.0,
      "sources.tmp_left_mb" -> dirBytes(tmpDir.toFile) / 1048576.0))
  }

  /** Bytes under a directory; entries that vanish mid-walk count 0. */
  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()
}

/** One traced span; times are epoch ns. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long, query: String)

/** Listens to jobs, stages and query executions for traced passes, and
  * keeps the spans of those passes in memory until the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val lock = new Object
  // listener-side state for the current query, reset at each boundary
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[(Long, Long)]
  private val phases = ArrayBuffer.empty[(String, Long, Long)]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  // per-pass sums
  private val pass = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val spans = ArrayBuffer.empty[Span]
  private var queryIds = ArrayBuffer.empty[Int]

  private def add(k: String, v: Double): Unit = sums(k) = sums(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobStart(e.jobId) = e.time; add("operators.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s * 1000000L, e.time * 1000000L)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val s = e.stageInfo
      add("operators.stages", 1)
      add("operators.tasks", s.numTasks)
      Option(s.taskMetrics).foreach { m =>
        add("operators.task_ms", m.executorRunTime)
        add("operators.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("operators.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      }
    }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phasesOf(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phasesOf(qe)

  private def phasesOf(qe: QueryExecution): Unit = lock.synchronized {
    add("plans.query_executions", 1)
    recordPhases(qe)
  }

  private def recordPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      if (name != "parsing") {
        add(s"plans.${name}_ms", p.durationMs.toDouble)
        phases += ((s"plan.$name", p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))
      }
    }

  def start(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    pass.clear()
    Tracer.keys.foreach(pass(_) = 0.0)
  }

  def stop(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def passLayers: Map[String, Double] = pass.toMap

  /** Close one query: drain the bus, attribute the listener records to
    * the query, and turn them into spans under its build and execute.
    */
  def query(r: QueryRun): Unit = {
    PerfbenchBus.drain(sc)
    lock.synchronized {
      if (r.failure.isEmpty) {
        sums.foreach { case (k, v) => pass(k) = pass(k) + v }
        val busy = union(jobs.toSeq.map { case (s, e) =>
          (math.max(s, r.startNs), math.min(e, r.endNs)) })
        pass("operators.job_busy_ms") += busy / 1e6
        pass("queries.driver_gap_ms") += (r.endNs - r.startNs - busy) / 1e6
        val q = newSpan(-1, "query", r.startNs, r.endNs, r.name)
        queryIds += q
        val b = newSpan(q, "build", r.startNs, r.buildEndNs, r.name)
        val x = newSpan(q, "execute", r.buildEndNs, r.endNs, r.name)
        r.analysis.foreach { case (s, e) =>
          pass("plans.analysis_ms") += (e - s) / 1e6
          phases += (("plan.analysis", s, e))
        }
        val leaves = jobs.toSeq.map(j => ("job", j._1, j._2)) ++ phases.toSeq
        val (inBuild, inExec) = leaves.partition(_._2 < r.buildEndNs)
        nest(b, r.startNs, r.buildEndNs, inBuild, r.name)
        nest(x, r.buildEndNs, r.endNs, inExec, r.name)
      }
      sums.clear(); jobs.clear(); phases.clear(); jobStart.clear()
    }
  }

  /** Listener spans under a driver span: clipped to the parent and made
    * disjoint in start order (concurrent jobs share the time they
    * overlap with the one that started first), so the self times of a
    * query's subtree partition its wall.
    */
  private def nest(parent: Int, from: Long, to: Long,
      leaves: Seq[(String, Long, Long)], query: String): Unit = {
    var cursor = from
    leaves.sortBy(_._2).foreach { case (name, s, e) =>
      val s1 = math.max(s, cursor)
      val e1 = math.min(e, to)
      if (e1 > s1) { newSpan(parent, name, s1, e1, query); cursor = e1 }
    }
  }

  def passSpan(i: Int, t0: Long, t1: Long): Unit = {
    val p = newSpan(-1, "pass", t0, t1, s"pass$i")
    spans.transform(s => if (queryIds.contains(s.id)) s.copy(parent = p) else s)
    queryIds = ArrayBuffer.empty
  }

  private def newSpan(parent: Int, name: String, s: Long, e: Long, q: String): Int = {
    spans += Span(spans.size, parent, name, s, e, q)
    spans.size - 1
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def writeSpans(path: Path): Unit = {
    val w = new PrintWriter(Files.newBufferedWriter(path))
    spans.foreach { s =>
      w.println(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "query" -> s.query))
    }
    w.close()
  }
}

final class Records(path: Path) {
  private val w = new PrintWriter(Files.newBufferedWriter(path))
  def write(line: String): Unit = { w.println(line); w.flush() }
  def mark(name: String): Unit =
    write(Json.obj("k" -> "mark", "name" -> name, "epoch_ns" -> Driver.nowNs))
  def close(): Unit = w.close()
}

object Tracer {
  /** Every counter a traced pass reports, present even when zero. */
  val keys: Seq[String] = Seq(
    "operators.jobs", "operators.stages", "operators.tasks", "operators.task_ms",
    "operators.shuffle_read_mb", "operators.shuffle_write_mb",
    "operators.job_busy_ms", "queries.driver_gap_ms", "plans.query_executions",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms")
}

final case class RawJson(s: String)

/** Just enough JSON for flat records of strings, numbers and booleans. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case raw: RawJson => raw.s
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
