package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State shared by one run: session, listeners, the timed window and
  * the metric tables the workload fills in. */
final class Ctx(val spark: SparkSession, val o: Opts) {
  val tracer = new Tracer
  val counters = new SparkCounters
  val writes = new WriteCounters
  private var registered = false
  /** Listeners and spans go on only in traced runs, and only around the
    * traced pass, after the workload's untraced reference pass. */
  def registerListeners(): Unit = if (o.trace && !registered) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(writes)
    tracer.on = true
    registered = true
  }
  def unregisterListeners(): Unit = if (registered) {
    Thread.sleep(300) // listener bus drains the pass's events
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(writes)
    tracer.on = false
    registered = false
  }

  val setupReps: Int = if (o.smoke) 1 else 3
  /** Set-up seconds of the run's parts; setup_s is their sum. */
  val setupS = mutable.ArrayBuffer.empty[Double]
  var liveHeapMb: Double = Double.NaN
  val inputParts = mutable.ArrayBuffer.empty[String]

  // engine counters summed over every timed window of the run
  private var w0 = 0L
  private var c0 = Map.empty[String, Double]
  private var wallS = 0.0
  private val spent = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def beginWindow(): Unit = { Log.info("timed window begins"); c0 = counters.snapshot; w0 = System.nanoTime() }
  /** Ends the window; returns its length in seconds. */
  def endWindow(): Double = {
    val s = (System.nanoTime() - w0) / 1e9
    Log.info("timed window ends")
    if (registered) Thread.sleep(300) // listener bus drains the window's task events
    val c1 = counters.snapshot
    c1.foreach { case (k, v) => spent(k) += v - c0.getOrElse(k, 0.0) }
    wallS += s
    s
  }

  val layerMetrics = mutable.LinkedHashMap.empty[String, Double]
  val workloadMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def layer(k: String, v: Double): Unit = layerMetrics(k) = v
  def workload(k: String, v: Double, unit: String): Unit = workloadMetrics(k) = (v, unit)

  def sparkLayer(): Unit = {
    SparkCounters.Names.foreach(k => layer(s"spark.$k", spent(k)))
    layer("spark.core_busy", if (wallS > 0) spent("executor_run_ms") / (wallS * 1000.0 * o.cores) else 0.0)
  }

  /** The end-to-end metrics from the workload's figures: op is a read
    * when the workload serves reads, else a micro-batch, else a query. */
  def e2eMetrics: Seq[(String, Double)] = {
    def v(k: String): Option[Double] = workloadMetrics.get(k).map(_._1)
    Seq(
      "setup_s" -> Some(setupS.sum).filter(_ => setupS.nonEmpty),
      "op_ms_p50" -> v("read_ms_p50").orElse(v("commit_ms_p50")).orElse(v("query_ms_p50")),
      "op_ms_p85" -> v("read_ms_p85").orElse(v("commit_ms_p85")).orElse(v("query_ms_p85")),
      "ops_per_s" -> v("read_rps").orElse(v("batches_per_s")).orElse(v("queries_per_s")),
      "live_heap_mb" -> Some(liveHeapMb)
    ).map { case (k, x) => k -> x.getOrElse(Double.NaN) }
  }
}

object Main {
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"perfbench-${o.workload}")
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val load0 = Host.loadavg1()
    val foreign = new Host.ForeignCpu
    val spark = session(o)
    Log.info("session up")
    println("PERFBENCH_RESULT " + execute(spark, o, load0, foreign))
    System.out.flush()
    try spark.stop() catch { case NonFatal(e) => Log.warn(s"spark.stop: ${Watchdog.describe(e)}") }
    // HTTP client selector threads and Spark's non-daemon leftovers
    // must not keep the JVM alive past the result
    sys.exit(0)
  }

  /** Runs one workload and returns its result as JSON. Metrics are
    * name → value only: run.py attaches the units from BENCHMARK.json.
    * A traced run holds exactly the layers the workload exercised, so
    * a layer that failed to measure (null) differs from one the
    * workload does not reach (absent). */
  def execute(spark: SparkSession, o: Opts, load0: Double, foreign: Host.ForeignCpu): String = {
    val ctx = new Ctx(spark, o)
    val outcome =
      try o.workload match {
        case "serve" => Serve.run(ctx)
        case "ingest" => Ingest.run(ctx, readers = false)
        case "ingest_serve" => Ingest.run(ctx, readers = true)
        case "sweep" => Sweep.run(ctx)
        case w => sys.error(s"unknown workload $w")
      } catch {
        case NonFatal(e) =>
          Log.warn(s"workload aborted: ${Watchdog.describe(e)}")
          e.printStackTrace()
          Outcome(1, 1, correct = false)
      }
    Log.info("workload done")
    val load1 = Host.loadavg1()
    val (foreignShare, stealShare) = foreign.shares()
    if (o.trace) {
      ctx.sparkLayer()
      ctx.layer("host.loadavg_start", load0)
      ctx.layer("host.loadavg_end", load1)
      ctx.layer("host.foreign_cpu_share", foreignShare)
      ctx.layer("host.steal_share", stealShare)
      ctx.tracer.write(java.nio.file.Paths.get(o.spansFile))
    }
    val metrics = if (o.trace) ctx.layerMetrics.toSeq else ctx.e2eMetrics
    def withUnits(ms: Seq[(String, (Double, String))]) =
      Json.obj(ms.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val info = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString, "trace" -> o.trace.toString,
      "nproc" -> o.cores.toString,
      "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
      "driver_heap_mb" -> Json.num(Host.maxHeapMb),
      "loadavg_start" -> Json.num(load0), "loadavg_end" -> Json.num(load1),
      // the run's own load lifts loadavg_end, so only the start counts
      "overloaded" -> (load0 > o.cores).toString,
      "foreign_cpu_share" -> Json.num(foreignShare), "steal_share" -> Json.num(stealShare),
      "input_hash" -> Json.str(Inputs.hash(ctx.inputParts.toSeq)),
      "spans" -> ctx.tracer.all.size.toString,
      "workload_metrics" -> withUnits(ctx.workloadMetrics.toSeq)) ++ outcome.info.toSeq
    Json.obj(Seq(
      "correct" -> outcome.correct.toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "info" -> Json.obj(info)))
  }
}
