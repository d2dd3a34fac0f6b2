package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.operators.{CandleQueries, CandleStore, Candles}

/** Closed-loop gateway clients. Each client takes the next request of
  * the shared seeded sequence only after its previous reply, so a
  * slower gateway receives less load. */
object Readers {
  /** Runs until `seconds` elapse and at least `minRequests` were
    * taken, or until `limit` requests were taken. With `wholeBlocks`,
    * the clients then finish the block of the mix they are in, so every
    * run's sample holds the mix in the same proportions. When `bodies`
    * is given, the canonical body of every 200 reply is kept by request
    * index for the correctness gate. */
  def closedLoop(base: String, clients: Int, reqs: IndexedSeq[Req], cursor: AtomicInteger,
                 seconds: Double, timeoutS: Long, log: OpLog,
                 bodies: ConcurrentHashMap[Integer, String], limit: Int = Int.MaxValue,
                 wholeBlocks: Boolean = false, minRequests: Int = 0): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val first = cursor.get().toLong
    val end = first + limit
    // first request index not to run; set once the deadline passes
    val stop = new AtomicLong(Long.MaxValue)
    def next(): Int = {
      if (System.nanoTime() >= deadline && cursor.get() - first >= minRequests) {
        val b = Inputs.BlockSize
        stop.compareAndSet(Long.MaxValue, if (wholeBlocks) (cursor.get().toLong + b - 1) / b * b else 0L)
      }
      val i = cursor.getAndIncrement()
      if (i < end && i < stop.get) i else -1
    }
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val cl = new GatewayClient(base, timeoutS)
        var i = 0
        while ({ i = next(); i >= 0 }) {
          val r = reqs(i % reqs.size)
          val t0 = System.nanoTime()
          val err =
            try {
              val (code, body) = cl.get(r.path)
              if (code != 200) Some(s"HTTP $code ${body.take(200)}")
              else { if (bodies != null) bodies.put(i, Expect.canonical(r, body)); None }
            } catch { case NonFatal(e) => Some(Watchdog.describe(e)) }
          log.add(Op(r.route, t0, System.nanoTime(), err.isEmpty))
          err.foreach(m => Log.warn(s"read failed: $m ${r.path}"))
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }
}

/** Expected gateway bodies, recomputed with CandleQueries over an
  * in-memory candle frame instead of the store. */
object Expect {
  private val symbolRe = """"symbol":"([^"]*)"""".r

  /** Body as compared: verbatim, except /symbols, whose row order the
    * gateway does not define. Hashed to keep memory flat. */
  def canonical(r: Req, body: String): String =
    Inputs.hash(Seq(
      if (r.route == "symbols") symbolRe.findAllMatchIn(body).map(_.group(1)).toSeq.sorted.mkString(",")
      else body))

  private def rows(df: DataFrame): String =
    df.select(Candles.candleColumns: _*).toJSON.collect().mkString("[", ",", "]")

  /** Expected body of a range, point, keys or symbols request. */
  private def body(mem: DataFrame, r: Req): String = r.route match {
    case "range" =>
      rows(CandleQueries.range(mem, r.sym, r.tf, s"${r.arg} 00:00:00",
        s"${java.time.LocalDate.parse(r.arg).plusDays(1)} 00:00:00"))
    case "point" => rows(CandleQueries.pointLookup(mem, r.sym, r.tf, r.arg))
    case "keys" =>
      mem.filter(col("symbol") === r.sym && col("timeframe") === r.tf)
        .select(Candles.candleKeyDynamic.as("key")).orderBy("key").limit(Inputs.KeysLimit)
        .collect().map(k => Json.str(k.getString(0))).mkString("[", ",", "]")
    case "symbols" => mem.select("symbol").distinct().toJSON.collect().mkString("[", ",", "]")
  }

  /** Number of kept bodies that differ from the recomputation. Recent
    * requests share one CandleQueries.recent per timeframe: each
    * symbol's rows keep the order the window gives them, as with the
    * per-symbol filter the gateway applies. */
  def mismatches(mem: DataFrame, reqs: IndexedSeq[Req], bodies: ConcurrentHashMap[Integer, String],
                 threads: Int): Int = {
    val got = bodies.asScala.toSeq.map { case (i, h) => reqs(i % reqs.size) -> h }
    val distinct = got.map(_._1).distinct
    val (recents, others) = distinct.partition(_.route == "recent")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val want = try {
      val byTf = recents.map(_.tf).distinct.map(tf => tf -> pool.submit(() =>
        CandleQueries.recent(mem, tf, Inputs.RecentN).select(Candles.candleColumns: _*).toJSON.collect()))
      val fs = others.map(r => r -> pool.submit(() => canonical(r, body(mem, r))))
      val recentRows = byTf.map { case (tf, f) => tf -> f.get() }.toMap
      recents.map { r =>
        val rows = recentRows(r.tf).filter(j => symbolRe.findFirstMatchIn(j).exists(_.group(1) == r.sym))
        r -> canonical(r, rows.mkString("[", ",", "]"))
      }.toMap ++ fs.map { case (r, f) => r -> f.get() }
    } finally pool.shutdown()
    got.count { case (r, h) =>
      val bad = want(r) != h
      if (bad) Log.warn(s"body mismatch: ${r.path}")
      bad
    }
  }
}

/** Per-request layer split of a direct store call. */
final case class DirectStats(route: String, resolveMs: Double, planMs: Double, execMs: Double,
                             jsonMs: Double, jobGroup: String, filesRead: Long, rowsScanned: Long,
                             rowsReturned: Long) {
  def totalMs: Double = resolveMs + planMs + execMs + jsonMs
}

/** The same request as the gateway would make it, called directly on
  * CandleStore / CandleQueries, with resolve (CandleStore.read: listing
  * and schema), plan (build + executedPlan), execute (collect) and JSON
  * timed apart. keys and symbols go through CandleStore.candleKeys /
  * CandleStore.keys, which resolve internally, so their plan span also
  * holds a resolve. */
object Direct extends AdaptiveSparkPlanHelper {
  def call(spark: SparkSession, store: String, r: Req, tracer: Tracer, opId: Long): DirectStats = {
    def t[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = tracer.span(s"store.$name", "gateway", opId)(body)
      (v, (System.nanoTime() - t0) / 1e6)
    }
    val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    val (resolved, resolveMs) = t("resolve")(CandleStore.read(spark, store))
    val build: () => org.apache.spark.sql.Dataset[String] = r.route match {
      case "recent" => () => CandleQueries.recent(resolved, r.tf, Inputs.RecentN)
        .filter(col("symbol") === r.sym).select(Candles.candleColumns: _*).toJSON
      case "range" => () => CandleQueries.range(resolved, r.sym, r.tf, s"${r.arg} 00:00:00",
          s"${java.time.LocalDate.parse(r.arg).plusDays(1)} 00:00:00")
        .select(Candles.candleColumns: _*).toJSON
      case "point" => () => CandleQueries.pointLookup(resolved, r.sym, r.tf, r.arg)
        .select(Candles.candleColumns: _*).toJSON
      case "keys" => () => CandleStore.candleKeys(spark, store, Some(r.sym), Some(r.tf))
        .limit(Inputs.KeysLimit + 1).as[String](org.apache.spark.sql.Encoders.STRING)
      case "symbols" => () => CandleStore.keys(spark, store).select("symbol").distinct().toJSON
    }
    val ((ds, plan), planMs) = t("plan") { val ds = build(); (ds, ds.queryExecution.executedPlan) }
    val (rows, execMs) = t("exec")(ds.collect())
    val (_, jsonMs) = t("json")(rows.mkString("[", ",", "]"))
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    DirectStats(r.route, resolveMs, planMs, execMs, jsonMs, group,
      metric("numFiles"), metric("numOutputRows"), rows.length.toLong)
  }
}
