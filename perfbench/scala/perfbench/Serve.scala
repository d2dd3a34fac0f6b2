package perfbench

import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.CandleTimeFrame
import graft.operators.{CandleStore, Candles}
import graft.serving.CandleHttpServer

/** `serve`: nproc closed-loop clients against CandleHttpServer over the
  * sf0.1 baseline store (20 (timeframe, symbol) partitions). No writes. */
object Serve {
  val RouteNames: Seq[String] = Seq("recent", "range", "point", "keys", "symbols")
  /** Reads the timed window takes at least, so that its p85 has about
    * ten samples beyond it; at 4-5 req/s this outlasts a 12 s window. */
  val MinSamples = 80

  /** Store range and symbols, read from the store's MINUTE partitions;
    * fixed by the generated tables, so the request sequence is fixed by
    * the seed alone. */
  def storeExtent(spark: SparkSession, store: String): (Seq[String], Long, Long) = {
    val minute = CandleStore.read(spark, store).filter(col("timeframe") === CandleTimeFrame.Minute)
    val r = minute.agg(min(unix_timestamp(col("window_start"))), max(unix_timestamp(col("window_start")))).head()
    val syms = minute.select("symbol").distinct().collect().map(_.getString(0)).sorted.toSeq
    (syms, r.getLong(0), r.getLong(1) + 60)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val o = ctx.o
    val sfDir = s"${o.dataDir}/${if (o.smoke) "sf0.001" else "sf0.1"}"
    val txns = Candles.transactions(spark, sfDir)

    // set-up: the store build, once (it is the run's first Spark work,
    // so it also carries the JIT warmup), plus the median of three
    // gateway starts, each to its first reply; the last gateway stays
    // up for the run
    val store = s"${o.workDir}/serve-store"
    val t0 = System.nanoTime()
    CandleStore.write(Candles.multiTimeframe(txns), store)
    ctx.setupS += (System.nanoTime() - t0) / 1e9
    Log.info(f"store built in ${ctx.setupS.last}%.2fs")
    def setupOnce(): (HttpServer, Double) = {
      val t0 = System.nanoTime()
      val server = CandleHttpServer.start(spark, store)
      new GatewayClient(base(server), o.opTimeoutS).get("/symbols")
      (server, (System.nanoTime() - t0) / 1e9)
    }
    val setups = (1 to ctx.setupReps).map(_ => setupOnce())
    setups.init.foreach(_._1.stop(0))
    val server = setups.last._1
    ctx.setupS += Stats.median(setups.map(_._2))
    Log.info("set-up done")
    val url = base(server)

    val (syms, fromS, toS) = storeExtent(spark, store)
    val reqs = Inputs.requests(o.seed, 20000, syms, fromS, toS)
    ctx.inputParts ++= reqs.take(2000).map(_.path)

    // warmup with nproc clients on the far end of the sequence, so the
    // timed requests are fresh
    Watchdog.warm("gateway") {
      Readers.closedLoop(url, o.cores, reqs, new AtomicInteger(10000), if (o.smoke) 1.0 else 5.0,
        o.opTimeoutS, new OpLog, null)
    }

    val log = new OpLog
    val bodies = new ConcurrentHashMap[Integer, String]
    val cursor = new AtomicInteger(0)
    val windowS = try {
      val w = if (!o.trace) {
        ctx.beginWindow()
        Readers.closedLoop(url, o.cores, reqs, cursor, o.seconds, o.opTimeoutS, log, bodies,
          wholeBlocks = true, minRequests = if (o.smoke) 0 else MinSamples)
        ctx.endWindow()
      } else traced(ctx, url, store, reqs, cursor, log, bodies)
      ctx.liveHeapMb = Host.liveHeapMb()
      w
    } finally server.stop(0)

    // correctness: every kept body against CandleQueries over an
    // in-memory recomputation of the same candles
    Log.info("checking bodies")
    val mem = Candles.multiTimeframe(txns).persist()
    mem.count()
    Log.info("in-memory candles ready")
    val bad = try Expect.mismatches(mem, reqs, bodies, 2 * o.cores) finally mem.unpersist()
    val ops = log.all.filter(op => RouteNames.contains(op.kind))
    val lat = ops.map(_.ms)
    ctx.workload("read_ms_p50", Stats.pct(lat, 0.5), "ms")
    ctx.workload("read_ms_p85", Stats.pct(lat, 0.85), "ms")
    ctx.workload("read_ms_p90", Stats.pct(lat, 0.9), "ms")
    ctx.workload("read_rps", ops.count(_.ok) / windowS, "req/s")
    if (o.trace) ctx.layer("store.files_listed", Host.dataFiles(Paths.get(store)).size.toDouble)
    val all = log.all
    Outcome(all.size.toLong, all.count(!_.ok).toLong + bad, bad == 0,
      // a p90 wants 100 samples; a run with fewer says so. Some reads
      // stall for seconds while the gateway serves the other clients
      // (5-8% of them at this commit); their count shows how often
      info = scala.collection.mutable.LinkedHashMap(
        "read_samples" -> ops.size.toString, "p90_under_100_samples" -> (ops.size < 100).toString,
        "reads_over_2s" -> lat.count(_ > 2000.0).toString))
  }

  def base(s: HttpServer): String = s"http://localhost:${s.getAddress.getPort}"

  /** Traced serve, all on one session:
    *   1. nproc clients with no listeners, split around pass 2 so JIT
    *      warming during the run biases neither side,
    *   2. nproc clients with listeners on,
    *   3. one client over the next block of 20 requests (every route),
    *   4. the same 20 requests as direct store calls.
    * Pass 1 vs 2 is the tracing overhead; 3 vs 2 is the gateway queue
    * wait; 4 vs 3 is the HTTP overhead. Every pass's replies feed the
    * correctness gate and every pass's failures count. */
  private def traced(ctx: Ctx, url: String, store: String, reqs: IndexedSeq[Req],
                     cursor: AtomicInteger, log: OpLog, bodies: ConcurrentHashMap[Integer, String]): Double = {
    val o = ctx.o
    val spark = ctx.spark
    val quarter = math.max(1.0, o.seconds / 4.0)
    val untraced = new OpLog
    Readers.closedLoop(url, o.cores, reqs, cursor, quarter / 2, o.opTimeoutS, untraced, bodies)
    ctx.registerListeners()
    ctx.beginWindow()
    Readers.closedLoop(url, o.cores, reqs, cursor, quarter, o.opTimeoutS, log, bodies, wholeBlocks = true)
    val windowS = ctx.endWindow()
    ctx.unregisterListeners()
    Readers.closedLoop(url, o.cores, reqs, cursor, quarter / 2, o.opTimeoutS, untraced, bodies)
    // passes 3 and 4 replay one block-aligned prefix of the sequence
    val prefixStart = (cursor.get() + Inputs.BlockSize - 1) / Inputs.BlockSize * Inputs.BlockSize
    val prefix = prefixStart until prefixStart + Inputs.BlockSize
    val one = new OpLog
    Readers.closedLoop(url, 1, reqs, new AtomicInteger(prefixStart), 600.0,
      o.opTimeoutS, one, bodies, limit = prefix.size)
    ctx.registerListeners()
    val direct = prefix.flatMap { i =>
      val r = reqs(i % reqs.size)
      Watchdog.timed(spark, log, s"direct-${r.route}", o.opTimeoutS) {
        Direct.call(spark, store, r, ctx.tracer, i.toLong)
      }.map(i -> _)
    }
    ctx.unregisterListeners()
    val oneMs = one.all.map(_.ms)
    val untracedP50 = Stats.pct(untraced.all.map(_.ms), 0.5)
    val tracedP50 = Stats.pct(log.all.filter(op => RouteNames.contains(op.kind)).map(_.ms), 0.5)
    ctx.layer("trace.overhead_ms_p50", tracedP50 - untracedP50)
    ctx.layer("trace.overhead_pct", 100.0 * (tracedP50 - untracedP50) / untracedP50)
    RouteNames.foreach { rt =>
      ctx.layer(s"gateway.route.$rt.ms_p50", Stats.pct(one.all.filter(_.kind == rt).map(_.ms), 0.5))
    }
    ctx.layer("gateway.wait_ms_p50", tracedP50 - Stats.pct(oneMs, 0.5))
    // the k-th single-client op is request prefixStart + k
    val oneByStart = one.all.sortBy(_.startNs).zipWithIndex.map { case (op, k) => (prefixStart + k) -> op.ms }.toMap
    val overhead = direct.flatMap { case (i, d) => oneByStart.get(i).map(_ - d.totalMs) }
    ctx.layer("gateway.http_overhead_ms_p50", Stats.median(overhead))
    val ds = direct.map(_._2)
    ctx.layer("store.resolve_ms_p50", Stats.median(ds.map(_.resolveMs)))
    ctx.layer("store.plan_ms_p50", Stats.median(ds.map(_.planMs)))
    ctx.layer("store.exec_ms_p50", Stats.median(ds.map(_.execMs)))
    ctx.layer("store.jobs_per_req", ds.map(d => ctx.counters.jobsIn(d.jobGroup).toDouble).sum / math.max(1, ds.size))
    ctx.layer("store.files_read_per_req", ds.map(_.filesRead.toDouble).sum / math.max(1, ds.size))
    ctx.layer("store.rows_scanned_per_row_returned",
      ds.map(_.rowsScanned.toDouble).sum / math.max(1.0, ds.map(_.rowsReturned.toDouble).sum))
    one.all.filterNot(_.ok).foreach(log.add)
    untraced.all.filterNot(_.ok).foreach(log.add)
    windowS
  }
}
