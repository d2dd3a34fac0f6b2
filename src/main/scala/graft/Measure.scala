package graft

import java.util.concurrent.{ExecutionException, FutureTask, TimeUnit, TimeoutException}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The measurement kernel of the query-sweep mains ([[Bench]],
  * [[Verify]]): one session builder and one watchdog'd run, so the
  * two sweeps cannot drift apart in how they set Spark up or how they
  * treat a hung or crashed query.
  */
object Measure {

  /** The shared session core, then `conf` on top (a key named in
    * `conf` overrides the core's value):
    *
    *  - master `SPARK_GRAFT_MASTER`, else `local[SPARK_GRAFT_CPUS]`
    *    (default 4 cpus). `SPARK_GRAFT_MASTER` lets a multi-JVM audit
    *    run the same sweep under `local-cluster[n,c,m]` (real Netty
    *    shuffles + serialized broadcasts); unset, a sweep runs
    *    `local[cpus]`.
    *  - shuffle partitions = cpus, UTC session time zone, AQE on.
    *  - `SPARK_GRAFT_MAX_PART_BYTES`: scan-split size. Spark's 128 MiB
    *    default is sized for cluster-scale files; at sf1/sf10 the
    *    whole table fits in 1-10 default splits and local[32] scans
    *    run 3-30x under-parallel. Unset ⇒ Spark's default, which
    *    suits sf0.1; big-SF sweeps set e.g. 8m.
    *  - UI off, log level WARN.
    */
  def session(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val core = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "128m"))
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(core) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_TIMEOUT_S`, else the caller's default. */
  def timeoutS(default: Long): Long =
    sys.env.get("SPARK_GRAFT_TIMEOUT_S").fold(default)(_.toLong)

  /** Run `body` under Spark job group `group` with a `timeoutS`
    * watchdog. Returns `Right(elapsed seconds)`, or `Left(message)`
    * when the body throws a non-fatal error or outlives the timeout.
    * On timeout the group's jobs are cancelled (their tasks
    * interrupted) so a hung query stops holding the cores; the body's
    * own thread then ends when its Spark action fails.
    *
    * A fatal error thrown by the body (VirtualMachineError,
    * InterruptedException, ...) is rethrown, and an interrupt of the
    * calling thread propagates, so either ends the run.
    *
    * The body runs on a fresh daemon thread because a Spark job group
    * is thread-local: it must be set on the thread that fires the
    * actions for `cancelJobGroup` to reach them.
    */
  def run(spark: SparkSession, group: String, timeoutS: Long)(
      body: => Unit): Either[String, Double] = {
    val sc = spark.sparkContext
    val task = new FutureTask[Unit](() => {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      body
    })
    val thread = new Thread(task, s"measure-$group")
    thread.setDaemon(true)
    val t0 = System.nanoTime()
    thread.start()
    try {
      task.get(timeoutS, TimeUnit.SECONDS)
      Right((System.nanoTime() - t0) / 1e9)
    } catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        Left(s"timed out after ${timeoutS}s (job group cancelled)")
      case e: ExecutionException => e.getCause match {
        case NonFatal(c) => Left(Option(c.getMessage).getOrElse(c.getClass.getName))
        case c => throw c
      }
    }
  }
}
