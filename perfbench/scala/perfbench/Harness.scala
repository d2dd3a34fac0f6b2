package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Command-line options; run.py is the only caller. */
final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: String, dataDir: String, spansFile: String, smoke: Boolean, cores: Int) {
  /** Per-op watchdog: generous against a ~0.2 s request or ~2 s batch,
    * short enough that a hung op still ends the run inside 180 s. */
  val opTimeoutS: Long = if (smoke) 60 else 45
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work-dir"), need("data-dir"), need("spans-file"),
      m.get("smoke").contains("1"), need("cores").toInt)
  }
}

object Stats {
  /** Percentile by linear interpolation between closest ranks
    * (numpy's default), so p50 of an even sample is the midpoint. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
}

/** One attempted operation (request, micro-batch, query). A failed op
  * keeps its latency (a timeout counts at the watchdog limit), so
  * failures never fall out of the latency sample. */
final case class Op(kind: String, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class OpLog {
  private val q = new ConcurrentLinkedQueue[Op]
  def add(o: Op): Unit = q.add(o): Unit
  def all: Seq[Op] = q.asScala.toSeq
}

/** Runs Spark-calling work under a watchdog: on timeout the op's job
  * group is cancelled and the op is reported failed. Warmup callers
  * use [[warm]], which swallows only non-fatal errors. */
object Watchdog {
  private val ids = new AtomicLong
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-op-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  def run[T](spark: SparkSession, name: String, timeoutS: Long)(body: => T): Either[String, T] = {
    val sc = spark.sparkContext
    val group = s"perfbench-${ids.incrementAndGet()}-$name"
    val f = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
    })
    try Right(f.get(timeoutS, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        f.cancel(true)
        Left(s"$name timed out after ${timeoutS}s")
      case e: ExecutionException => Left(s"$name failed: ${describe(e.getCause)}")
      case e: InterruptedException => Left(s"$name interrupted: ${describe(e)}")
    }
  }

  /** Timed op: appends to `log` whatever happens. */
  def timed[T](spark: SparkSession, log: OpLog, kind: String, timeoutS: Long)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = run(spark, kind, timeoutS)(body)
    log.add(Op(kind, t0, System.nanoTime(), r.isRight))
    r.left.foreach(m => Log.warn(m))
    r.toOption
  }

  def warm(what: String)(body: => Unit): Unit =
    try body catch { case NonFatal(e) => Log.warn(s"warmup $what skipped: ${describe(e)}") }

  def describe(e: Throwable): String =
    if (e == null) "unknown" else s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

object Log {
  private def up: String = f"${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs"
  def info(m: String): Unit = System.err.println(s"[perfbench $up] $m")
  def warn(m: String): Unit = System.err.println(s"[perfbench] WARN $m")
}

/** A span at a layer boundary, kept in memory and written at the end. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, opId: Long)

/** Records spans once switched on (with the listeners, after the
  * workload's untraced reference pass). */
final class Tracer {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]
  def span[T](name: String, parent: String, opId: Long)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally if (on) spans.add(Span(name, t0, System.nanoTime(), parent, opId))
  }
  /** Total ms of the named span. */
  def totalMs(name: String): Double = all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
  def all: Seq[Span] = spans.asScala.toSeq
  def write(path: Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${Json.str(s.parent)},"op":${s.opId}}""").append('\n')
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Engine counters from the public listener APIs. `jobsByGroup` counts
  * jobs per job group, so a direct call run under its own group gets
  * its own job count. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskFailures = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobsByGroup.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet()
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet(): Unit
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) taskFailures.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "executor_run_ms" -> runMs.get.toDouble,
    "executor_cpu_ms" -> cpuNs.get / 1e6, "gc_ms" -> gcMs.get.toDouble,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spill_bytes" -> spill.get.toDouble, "task_failures" -> taskFailures.get.toDouble)

  def jobsIn(group: String): Long = Option(jobsByGroup.get(group)).map(_.get).getOrElse(0L)
}

object SparkCounters {
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_failures")
}

/** What file writes produced, from the write node's own metrics
  * (public QueryExecutionListener API). */
final class WriteCounters extends QueryExecutionListener {
  val filesWritten = new AtomicLong
  val rowsWritten = new AtomicLong
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    writes(qe.executedPlan).foreach { w =>
      w.cmd.metrics.get("numFiles").foreach(m => filesWritten.addAndGet(m.value))
      w.cmd.metrics.get("numOutputRows").foreach(m => rowsWritten.addAndGet(m.value))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def writes(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case d: DataWritingCommandExec => Seq(d)
    case c: CommandResultExec => writes(c.commandPhysicalPlan)
    case other => (other.children ++ other.innerChildren.collect { case s: SparkPlan => s }).flatMap(writes)
  }
}

object Host {
  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.US_ASCII)

  /** (busy and stolen jiffies of every CPU, jiffies of this process, CPUs). */
  private def jiffies(): (Long, Long, Long, Int) = {
    val lines = read("/proc/stat").split("\n")
    // user nice system idle iowait irq softirq steal ...
    val f = lines.head.trim.split("\\s+").drop(1).map(_.toLong).padTo(8, 0L)
    val self = read("/proc/self/stat").split("\\) ")(1).split(" ")
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7), self(11).toLong + self(12).toLong,
      lines.count(_.matches("cpu\\d+ .*")))
  }

  /** CPU time lost to others between construction and `shares()`, as
    * shares of the machine: (other processes, hypervisor steal). How
    * polluted a run was, apart from its own load. */
  final class ForeignCpu {
    private val t0 = System.nanoTime()
    private val (b0, st0, s0, _) = try jiffies() catch { case NonFatal(_) => (0L, 0L, 0L, 0) }
    def shares(): (Double, Double) =
      try {
        val (b1, st1, s1, cpus) = jiffies()
        val wallTicks = (System.nanoTime() - t0) / 1e9 * 100.0 * cpus // USER_HZ = 100
        (math.max(0.0, ((b1 - b0) - (s1 - s0)) / wallTicks), (st1 - st0) / wallTicks)
      } catch { case NonFatal(_) => (-1.0, -1.0) }
  }

  def loadavg1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII)
      .trim.split("\\s+")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Driver heap in use after a full GC, in MB: the least of three
    * readings, so an allocation racing one reading does not count. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)

  /** Leaf data files under a store directory (parquet parts). */
  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** What a workload hands back to Main; metrics go into [[Ctx]].
  * `info` values are JSON. */
final case class Outcome(
    attempted: Long, failed: Long, correct: Boolean,
    info: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty)
