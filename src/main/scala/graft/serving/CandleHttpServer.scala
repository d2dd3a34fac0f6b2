package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executor, Executors}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpContext, HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.{DriverReads, JsonRows}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.model.CandleTimeFrame
import graft.operators.{CandleStore, Candles, LocalStore}

/** Thin HTTP query gateway over a CandleStore — the reference's
  * serving layer (reference: controller/StockChartController.kt:23-60,
  * service/CandleStickService.kt) re-expressed over the
  * partition-pruned store. Uses only the JDK's built-in HttpServer (no
  * added dependencies).
  *
  * Routes (all return JSON arrays of candle rows):
  *   GET /symbols
  *   GET /candles/{symbol}/{tf}?from=YYYY-MM-DD+HH:MM:SS&to=...
  *     [&fill=true]  (fill=true emits a continuous calendar series —
  *     reference CandleStickService.kt:88-101 generateDateTimeSequence
  *     — gap slots carry the prior close, volume 0, is_gap=true)
  *   GET /candles/{symbol}/{tf}/recent?n=25
  *   GET /candles/{symbol}/{tf}/point?key=yyyyMMdd...
  *   GET /keys[/{symbol}[/{tf}]]?limit=N&after=K   (candle:{symbol}:
  *     {tf}:{key} strings — reference getAllCandleKeys/
  *     getSymbolCandleKeys/getSymbolTimeFrameCandleKeys,
  *     CandleStickService.kt:176-196; truncated pages carry an
  *     X-Next-Key cursor reusable verbatim as the next `after`)
  *
  * Every route reads the store on the driver ([[LocalStore]]): it
  * lists the `timeframe=…/symbol=…` directories it names and decodes
  * their Parquet files with Spark's own reader, built once per
  * gateway, and renders rows with the generator `Dataset.toJSON`
  * uses. No Spark job runs, and a body is byte for byte the `toJSON`
  * of the matching `CandleQueries` query. `/symbols` reads directory
  * names only. The one exception is `fill=true`: its range rows, read
  * the same way, are gap-filled by a Spark query over a local
  * relation. A `from`/`to` that is not a timestamp is a 400.
  *
  * Requests run concurrently on a fixed pool of
  * `spark.sparkContext.defaultParallelism` worker threads. Every
  * worker shares the one `SparkSession` passed to [[start]]; the
  * handler reads its conf once, at [[start]], and never mutates its
  * conf or catalog, so concurrent requests need no further locking.
  * Stopping the returned server also shuts the pool down and waits for
  * its threads to end.
  */
object CandleHttpServer {

  /** Hard cap on rows per range response: the collect below is
    * serving-bounded only if something bounds it — without a cap, a
    * multi-year minute-candle range materializes the full result on
    * the gateway heap. Truncated responses carry an `X-Next-From`
    * header (the first unreturned window_start, reusable verbatim as
    * the next request's inclusive `from`).
    */
  val MaxRangeRows = 10000

  private val windowStartRe = """"window_start":"([^"]+)"""".r

  private[serving] def nextCursor(rowJson: String): Option[String] =
    windowStartRe.findFirstMatchIn(rowJson).map(_.group(1))

  /** The JDK property that turns on TCP_NODELAY for `HttpServer`
    * connections. The JDK sends a response's headers in a segment of
    * their own; with Nagle's algorithm on, the small body segment after
    * them then waits for the client's delayed ACK, ~40 ms a request.
    */
  private val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** Starts a gateway over the store at `storePath`. Unless the JVM
    * already has [[NoDelayProperty]] set, this sets it to `true`. The
    * JDK reads it once per JVM, when the first `HttpServer` is created,
    * so it takes effect only if no `HttpServer` ran in this JVM before.
    */
  def start(spark: SparkSession, storePath: String, port: Int = 0): HttpServer = {
    if (System.getProperty(NoDelayProperty) == null) System.setProperty(NoDelayProperty, "true")
    val handler = new Handler(spark, new LocalStore(spark, storePath))
    val server = new PooledServer(HttpServer.create(new InetSocketAddress(port), 0),
      spark.sparkContext.defaultParallelism)
    server.createContext("/", handler)
    server.start()
    server
  }

  /** The JDK server running its exchanges on a fixed pool of `size`
    * daemon threads named `graft-gateway-{port}-{n}`. [[stop]] also
    * shuts the pool down, letting queued and running requests finish,
    * and returns once every worker thread has ended.
    */
  private final class PooledServer(server: HttpServer, size: Int) extends HttpServer {
    private val workers = new ConcurrentLinkedQueue[Thread]()
    private val seq = new AtomicInteger()
    private val pool = Executors.newFixedThreadPool(size, { (r: Runnable) =>
      val t = new Thread(r, s"graft-gateway-${server.getAddress.getPort}-${seq.incrementAndGet()}")
      t.setDaemon(true)
      workers.add(t)
      t
    })
    server.setExecutor(pool)

    override def stop(delay: Int): Unit =
      try server.stop(delay)
      finally { pool.shutdown(); workers.forEach(_.join()) }
    override def bind(addr: InetSocketAddress, backlog: Int): Unit =
      server.bind(addr, backlog)
    override def start(): Unit = server.start()
    override def setExecutor(executor: Executor): Unit = server.setExecutor(executor)
    override def getExecutor: Executor = server.getExecutor
    override def createContext(path: String, handler: HttpHandler): HttpContext =
      server.createContext(path, handler)
    override def createContext(path: String): HttpContext = server.createContext(path)
    override def removeContext(path: String): Unit = server.removeContext(path)
    override def removeContext(context: HttpContext): Unit = server.removeContext(context)
    override def getAddress: InetSocketAddress = server.getAddress
  }

  private final class Handler(spark: SparkSession, store: LocalStore)
      extends HttpHandler {

    private val candleJson = new JsonRows(spark, CandleStore.candleSchema)
    private val symbolJson = new JsonRows(spark, StructType(Seq(CandleStore.candleSchema("symbol"))))

    override def handle(ex: HttpExchange): Unit =
      try {
        val path = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/")
        val query = Option(ex.getRequestURI.getQuery).getOrElse("")
        val params = query.split("&").filter(_.contains("="))
          .map { kv =>
            val Array(k, v) = kv.split("=", 2)
            k -> java.net.URLDecoder.decode(v, "UTF-8")
          }.toMap
        path.split("/").toList match {
          case "symbols" :: Nil =>
            respond(ex, 200, store.symbols
              .map(s => symbolJson(InternalRow(UTF8String.fromString(s))))
              .mkString("[", ",", "]"))
          case "candles" :: symbol :: tf :: Nil =>
            requireTf(tf)
            val limit = params.getOrElse("limit", MaxRangeRows.toString).toInt
            require(limit > 0 && limit <= MaxRangeRows,
              s"limit must be in 1..$MaxRangeRows")
            // fetch limit+1: the extra row both signals truncation and
            // carries the next page's inclusive `from` cursor, so the
            // gateway heap is bounded no matter how wide the range is
            val rows = store.range(symbol, tf,
              timestamp(params, "from", "1970-01-01 00:00:00"),
              timestamp(params, "to", "9999-01-01 00:00:00"), limit + 1)
            // ?fill=true: continuous calendar series over the range —
            // the reference's range read emits one entry per calendar
            // slot (CandleStickService.kt:88-101
            // generateDateTimeSequence). Gap slots carry the previous
            // close forward (volume 0, is_gap true); the fill spans
            // first..last stored candle inside the requested range, so
            // every emitted row has a defined close. Each stored candle
            // fills at least one slot, so the first limit+1 stored
            // candles determine the first limit+1 filled slots
            val page =
              if (params.get("fill").contains("true"))
                filledRows(DriverReads.localFrame(spark, CandleStore.candleSchema, rows), tf)
                  .limit(limit + 1).toJSON.collect().toSeq
              else rows.map(candleJson(_))
            if (page.length > limit)
              nextCursor(page(limit)).foreach(
                ex.getResponseHeaders.set("X-Next-From", _))
            respond(ex, 200,
              page.take(limit).mkString("[", ",", "]"))
          case "candles" :: symbol :: tf :: "recent" :: Nil =>
            requireTf(tf)
            val n = params.getOrElse("n", "25").toInt
            // same gateway-heap bound as the range route's `limit`
            require(n > 0 && n <= MaxRangeRows,
              s"n must be in 1..$MaxRangeRows")
            respond(ex, 200, toJsonArray(store.recent(symbol, tf, n)))
          case "keys" :: rest if rest.size <= 2 =>
            val (symbol, tf) = rest match {
              case Nil            => (None, None)
              case s :: Nil       => (Some(s), None)
              case s :: t :: Nil  => requireTf(t); (Some(s), Some(t))
              case _              => (None, None) // unreachable (size <= 2)
            }
            // same gateway-heap bound as the candle routes: key
            // enumeration over a big store must not materialize
            // unbounded rows on the driver
            val limit = params.getOrElse("limit", MaxRangeRows.toString).toInt
            require(limit > 0 && limit <= MaxRangeRows,
              s"limit must be in 1..$MaxRangeRows")
            // keys are emitted in key order, so `after` resumes the
            // enumeration exactly where the last page stopped — same
            // cursor contract as the range route's X-Next-From. The
            // extra fetched key ONLY signals truncation; the cursor is
            // the LAST RETURNED key, page(limit-1), because `after` is
            // exclusive — advancing the cursor to the extra key itself
            // would skip one key per page
            val page = store.keys(symbol, tf, params.get("after"), limit + 1)
            if (page.length > limit)
              ex.getResponseHeaders.set("X-Next-Key", page(limit - 1))
            respond(ex, 200, toJsonStringArray(page.take(limit)))
          case "candles" :: symbol :: tf :: "point" :: Nil =>
            requireTf(tf)
            respond(ex, 200, toJsonArray(store.point(symbol, tf, params("key"))))
          case _ =>
            respond(ex, 404, errorJson(s"no such route: /$path"))
        }
      } catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, errorJson(e.getMessage))
        case e: NoSuchElementException => // missing required query param
          respond(ex, 400, errorJson(s"missing required parameter: ${e.getMessage}"))
        case e: Exception =>
          respond(ex, 500, errorJson(e.getClass.getSimpleName))
      } finally ex.close()

    /** Query parameter `name` (or `default`) as epoch microseconds in
      * the session time zone; a 400 naming the parameter when it is
      * not a timestamp.
      */
    private def timestamp(params: Map[String, String], name: String, default: String): Long = {
      val v = params.getOrElse(name, default)
      DriverReads.parseTimestamp(v, store.zone).getOrElse(
        throw new IllegalArgumentException(s"parameter $name is not a timestamp: $v"))
    }

    /** Error payloads embed request-derived strings (e.g. the echoed
      * timeframe), so they must be JSON-escaped or a quote in the input
      * would yield an invalid response body.
      */
    private def errorJson(msg: String): String =
      "{\"error\":" + jsonString(Option(msg).getOrElse("")) + "}"

    /** `s` as a quoted JSON string: quote, backslash and control
      * characters escaped.
      */
    private def jsonString(s: String): String =
      "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    private def requireTf(tf: String): Unit =
      require(CandleTimeFrame.all.contains(tf),
        s"unknown timeframe $tf (expected one of ${CandleTimeFrame.all.mkString(",")})")

    /** Gap-filled candle rows for the range route: the candle columns
      * plus `is_gap`; filled slots carry the previous close as OHLC
      * (flat candle), volume 0, n_txn 0. Re-sorted by window_start —
      * the gap-fill join does not preserve the range read's order, and
      * the X-Next-From cursor contract requires it.
      */
    private def filledRows(df: DataFrame, tf: String): DataFrame = {
      import org.apache.spark.sql.functions._
      Candles.gapFillTf(df, tf)
        .withColumn("timeframe", lit(tf))
        .withColumn("window_end", Candles.windowEnd(tf, col("window_start")))
        .select(col("symbol"), col("timeframe"),
          col("window_start"), col("window_end"),
          coalesce(col("open"), col("close_filled")).as("open"),
          coalesce(col("high"), col("close_filled")).as("high"),
          coalesce(col("low"), col("close_filled")).as("low"),
          coalesce(col("close"), col("close_filled")).as("close"),
          col("volume"), coalesce(col("n_txn"), lit(0L)).as("n_txn"),
          col("is_gap"))
        .orderBy(col("window_start"))
    }

    private def toJsonArray(rows: Seq[InternalRow]): String =
      rows.map(candleJson(_)).mkString("[", ",", "]")

    /** Strings → JSON array of strings. Keys are
      * `candle:SYM:TF:digits` — nothing to escape in practice, but
      * escape anyway so a hostile symbol value can't break the body.
      */
    private def toJsonStringArray(keys: Seq[String]): String =
      keys.map(jsonString).mkString("[", ",", "]")

    private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    }
  }
}
