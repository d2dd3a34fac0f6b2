package graft

import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.model.{CandleTimeFrame, StockTransaction}
import graft.operators.{CandleQueries, Candles, CandleStore}
import graft.serving.CandleHttpServer
import graft.streaming.{CandleStream, TransactionSimulator}

/** The reference's serving layer end-to-end: HTTP requests against a
  * store-backed gateway return the same candles the query operators
  * produce (reference: controller/StockChartController.kt:23-60).
  */
class HttpServingSpec extends SparkSpec {
  import spark.implicits._

  private def get(url: String): String = {
    val src = Source.fromInputStream(new URI(url).toURL.openStream(), "UTF-8")
    try src.mkString finally src.close()
  }

  test("symbols / range / recent / point endpoints serve store-backed JSON") {
    val dir = Files.createTempDirectory("http-store").toString
    val candles = Candles.multiTimeframe(TransactionSimulator.batch(spark, 300))
    CandleStore.write(candles, dir)
    val server = CandleHttpServer.start(spark, dir)
    val base = s"http://localhost:${server.getAddress.getPort}"
    try {
      val symbols = get(s"$base/symbols")
      assert(symbols.contains("AAPL") && symbols.contains("MSFT"))

      val range = get(s"$base/candles/AAPL/MINUTE?from=2024-01-01+00:00:00&to=2024-01-02+00:00:00")
      val rangeRows = spark.read.json(Seq(range).toDS().as[String])
      val want = graft.operators.CandleQueries.range(
        candles, "AAPL", CandleTimeFrame.Minute,
        "2024-01-01 00:00:00", "2024-01-02 00:00:00").count()
      assert(rangeRows.count() === want && want > 0)

      val recent = spark.read.json(Seq(get(s"$base/candles/AAPL/MINUTE/recent?n=3")).toDS().as[String])
      assert(recent.count() === 3)

      val point = get(s"$base/candles/AAPL/MINUTE/point?key=202401010002")
      assert(point.contains("\"window_start\""))

      // unknown timeframe → 400 with a JSON error, not a 500
      val bad = new URI(s"$base/candles/AAPL/WEEK").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(bad.getResponseCode === 400)

      // error bodies must stay valid JSON even when the echoed input
      // contains quotes/backslashes (the timeframe is interpolated
      // into the message)
      val quoted = new URI(s"$base/candles/AAPL/%22W%5CEEK%22").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(quoted.getResponseCode === 400)
      val quotedBody = Source.fromInputStream(quoted.getErrorStream, "UTF-8").mkString
      val parsed = spark.read.json(Seq(quotedBody).toDS().as[String])
      assert(parsed.columns.contains("error") &&
        !parsed.columns.contains("_corrupt_record"))

      // missing required query param → 400, not a 500
      val noKey = new URI(s"$base/candles/AAPL/MINUTE/point").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(noKey.getResponseCode === 400)

      // range exceeding the cap: bounded pages + X-Next-From cursor
      // chain reassembles exactly the unpaginated result
      def page(from: String): (String, Option[String]) = {
        val enc = java.net.URLEncoder.encode(from, "UTF-8")
        val conn = new URI(s"$base/candles/AAPL/MINUTE?from=$enc&limit=1")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
        (body, Option(conn.getHeaderField("X-Next-From")))
      }
      var from = "1970-01-01 00:00:00"
      var pages = Vector.empty[String]
      var done = false
      var hops = 0
      while (!done && hops < 100) {
        val (body, next) = page(from)
        pages :+= body
        next match { case Some(c) => from = c case None => done = true }
        hops += 1
      }
      assert(hops > 1, "range never truncated — cap untested")
      val reassembled = spark.read.json(pages.toDS().as[String])
      val full = graft.operators.CandleQueries.range(
        candles, "AAPL", CandleTimeFrame.Minute,
        "1970-01-01 00:00:00", "9999-01-01 00:00:00")
      assert(reassembled.count() === full.count())
      assert(reassembled.select("window_start").distinct().count() === full.count())

      // a page under the cap carries no cursor
      val lastPage = new URI(s"$base/candles/AAPL/MINUTE?limit=10000").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(lastPage.getResponseCode === 200 &&
        lastPage.getHeaderField("X-Next-From") == null)

      // out-of-bounds limits → 400
      for (bad <- Seq("0", "10001", "-3")) {
        val c = new URI(s"$base/candles/AAPL/MINUTE?limit=$bad").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(c.getResponseCode === 400, s"limit=$bad not rejected")
      }

      // recent-N shares the same bound: an unbounded n would collect
      // n × symbols rows onto the gateway heap
      for (bad <- Seq("0", "100000000", "-1")) {
        val c = new URI(s"$base/candles/AAPL/MINUTE/recent?n=$bad").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(c.getResponseCode === 400, s"n=$bad not rejected")
      }

      // key enumeration (reference getAllCandleKeys/getSymbolCandleKeys/
      // getSymbolTimeFrameCandleKeys): candle:{symbol}:{TF}:{dateKey}
      // strings, narrowing with each path segment
      def parseKeys(body: String): Seq[String] =
        body.stripPrefix("[").stripSuffix("]").split(",").toSeq
          .filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\""))
      val allKeys = parseKeys(get(s"$base/keys"))
      assert(allKeys.nonEmpty && allKeys.forall(_.startsWith("candle:")))
      assert(allKeys.exists(_.startsWith("candle:AAPL:MINUTE:")) &&
        allKeys.exists(_.startsWith("candle:MSFT:")))

      val aaplKeys = parseKeys(get(s"$base/keys/AAPL"))
      assert(aaplKeys.nonEmpty && aaplKeys.forall(_.startsWith("candle:AAPL:")))
      assert(aaplKeys.exists(_.contains(":HOUR:")),
        "symbol enumeration should span all timeframes")

      val aaplMin = parseKeys(get(s"$base/keys/AAPL/MINUTE"))
      assert(aaplMin.nonEmpty &&
        aaplMin.forall(_.startsWith("candle:AAPL:MINUTE:")))
      // dateKey uses the per-timeframe format: MINUTE → yyyyMMddHHmm
      assert(aaplMin.forall(_.split(":").last.matches("\\d{12}")))
      // the key set is exactly the stored (per-window) candle set
      assert(aaplMin.length ===
        graft.operators.CandleQueries.range(
          candles, "AAPL", CandleTimeFrame.Minute,
          "1970-01-01 00:00:00", "9999-01-01 00:00:00").count())

      // bad timeframe and bad limit still 400 on the keys route
      for (badUrl <- Seq(s"$base/keys/AAPL/WEEK", s"$base/keys?limit=0")) {
        val c = new URI(badUrl).toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(c.getResponseCode === 400, s"$badUrl not rejected")
      }

      // keys pagination: X-Next-Key cursor chain reassembles exactly
      // the unpaginated enumeration (same contract as X-Next-From)
      def keyPage(after: Option[String]): (Seq[String], Option[String]) = {
        val q = after.fold("")(a =>
          "&after=" + java.net.URLEncoder.encode(a, "UTF-8"))
        val conn = new URI(s"$base/keys/AAPL?limit=3$q").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
        (parseKeys(body), Option(conn.getHeaderField("X-Next-Key")))
      }
      var cursor: Option[String] = None
      var collected = Vector.empty[String]
      var keyHops = 0
      var more = true
      while (more && keyHops < 100) {
        val (pageKeys, next) = keyPage(cursor)
        collected ++= pageKeys
        cursor = next
        more = next.isDefined
        keyHops += 1
      }
      assert(keyHops > 1, "keys never truncated — cursor untested")
      assert(collected === aaplKeys,
        "cursor-chained pages diverged from the unpaginated enumeration")
    } finally server.stop(0)
  }

  test("?fill=true serves the continuous calendar series the gapfill query computes") {
    import java.sql.Timestamp
    import graft.model.StockTransaction
    // hour candles at 00, 01 and 04 — hours 02 and 03 are gaps; plus a
    // second month (April) so the MONTH fill has Feb/Mar gaps
    def t(s: String) = Timestamp.valueOf(s)
    val txns = Seq(
      StockTransaction("GAPY", 10.0, 5, t("2024-01-01 00:10:00")),
      StockTransaction("GAPY", 11.0, 2, t("2024-01-01 01:20:00")),
      StockTransaction("GAPY", 14.0, 1, t("2024-01-01 04:05:00")),
      StockTransaction("GAPY", 20.0, 3, t("2024-04-02 09:00:00"))
    ).toDF()
    val dir = Files.createTempDirectory("http-fill-store").toString
    val candles = Candles.multiTimeframe(txns)
    CandleStore.write(candles, dir)
    val server = CandleHttpServer.start(spark, dir)
    val base = s"http://localhost:${server.getAddress.getPort}"
    try {
      val url = s"$base/candles/GAPY/HOUR?from=2024-01-01+00:00:00&to=2024-01-01+06:00:00"
      val unfilled = spark.read.json(Seq(get(url)).toDS().as[String])
      assert(unfilled.count() === 3)

      val filled = spark.read.json(Seq(get(s"$url&fill=true")).toDS().as[String])
      // the served series equals the gapfill operator run over the
      // same range read (the q_candle_gapfill logic)
      val want = Candles.gapFillTf(
        graft.operators.CandleQueries.range(candles, "GAPY",
          CandleTimeFrame.Hour, "2024-01-01 00:00:00", "2024-01-01 06:00:00"),
        CandleTimeFrame.Hour)
        .select(col("symbol"), col("window_start"), col("close_filled"),
          col("is_gap"), col("volume"))
        .orderBy(col("window_start"))
        .collect()
      assert(filled.count() === want.length && want.length === 5)
      val served = filled
        .select(col("symbol"), col("window_start"), col("close"),
          col("is_gap"), col("volume"))
        .orderBy(col("window_start")).collect()
      served.zip(want).foreach { case (s, w) =>
        assert(s.getString(0) === w.getString(0))
        assert(s.getDouble(2) === w.getDouble(2), s"close at ${s.get(1)}")
        assert(s.getBoolean(3) === w.getBoolean(3), s"is_gap at ${s.get(1)}")
        assert(s.getLong(4) === w.getLong(4), s"volume at ${s.get(1)}")
      }
      // gap rows are flat candles carrying the prior close
      val gaps = filled.filter(col("is_gap")).collect()
      assert(gaps.length === 2)
      gaps.foreach { g =>
        val c = g.getAs[Double]("close")
        assert(c === 11.0 &&
          g.getAs[Double]("open") === c && g.getAs[Double]("high") === c &&
          g.getAs[Double]("low") === c && g.getAs[Long]("n_txn") === 0L)
      }

      // MONTH fills on calendar-month steps (Feb/Mar gaps), not a
      // fixed second width
      val months = spark.read.json(Seq(get(
        s"$base/candles/GAPY/MONTH?fill=true")).toDS().as[String])
      val monthStarts = months.select("window_start")
        .orderBy("window_start").as[String].collect()
      assert(monthStarts.length === 4 &&
        monthStarts.head.startsWith("2024-01-01") &&
        monthStarts(1).startsWith("2024-02-01") &&
        monthStarts(2).startsWith("2024-03-01") &&
        monthStarts.last.startsWith("2024-04-01"))
      assert(months.filter(col("is_gap")).count() === 2)

      // fill composes with the cursor contract: limit+fill pages the
      // FILLED series, cursor lands on the first unreturned slot
      val conn = new URI(s"$url&fill=true&limit=2").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
      assert(spark.read.json(Seq(body).toDS().as[String]).count() === 2)
      val next = conn.getHeaderField("X-Next-From")
      assert(next != null && next.startsWith("2024-01-01T02:00:00"),
        s"cursor should be the first unreturned filled slot, got $next")
    } finally server.stop(0)
  }

  /** Status and body of a GET whose path may hold characters that
    * need URL quoting (the multi-argument URI constructor quotes them).
    */
  private def fetch(port: Int, path: String, query: String = null): (Int, String) = {
    val conn = new URI("http", null, "localhost", port, path, query, null).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val src = Source.fromInputStream(in, "UTF-8")
    try (code, src.mkString) finally src.close()
  }

  private def jsonRows(df: DataFrame): String =
    df.select(Candles.candleColumns: _*).toJSON.collect().mkString("[", ",", "]")

  private def gatewayThreads(port: Int): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(_.getName.startsWith(s"graft-gateway-$port-"))

  test("an unknown symbol or a missing timeframe serves 200 [] on every route") {
    val dir = Files.createTempDirectory("http-absent-store").toString
    // the store lacks the whole HOUR timeframe
    CandleStore.write(
      Candles.multiTimeframe(TransactionSimulator.batch(spark, 300))
        .filter(col("timeframe") =!= CandleTimeFrame.Hour), dir)
    assert(!new java.io.File(s"$dir/timeframe=HOUR").exists())
    val server = CandleHttpServer.start(spark, dir)
    val port = server.getAddress.getPort
    try {
      for ((sym, tf) <- Seq("ZZZZ" -> CandleTimeFrame.Minute, "AAPL" -> CandleTimeFrame.Hour)) {
        val range = "from=2024-01-01 00:00:00&to=2024-01-02 00:00:00"
        for ((path, query) <- Seq(
            s"/candles/$sym/$tf" -> range,
            s"/candles/$sym/$tf" -> s"$range&fill=true",
            s"/candles/$sym/$tf/recent" -> "n=3",
            s"/candles/$sym/$tf/point" -> "key=202401010002",
            s"/keys/$sym/$tf" -> null)) {
          assert(fetch(port, path, query) === (200, "[]"), s"$path?$query")
        }
      }
      assert(fetch(port, "/keys/ZZZZ") === (200, "[]"))
      // the other timeframes still serve
      assert(fetch(port, "/candles/AAPL/MINUTE/recent", "n=3")._2.contains("AAPL"))
    } finally server.stop(0)
  }

  test("symbols that need path escaping, or look numeric, serve what CandleQueries computes") {
    def t(s: String) = Timestamp.valueOf(s)
    // a store of numeric-looking symbols only: inferring partition
    // types from its directories would turn 0700 into the int 700
    for (symbols <- Seq(Seq("A:B", "A%B", "A B", "A=B"), Seq("0700", "0005"))) {
      val txns = symbols.zipWithIndex.flatMap { case (sym, i) =>
        Seq(StockTransaction(sym, 10.0 + i, 5, t("2024-01-02 09:30:10")),
          StockTransaction(sym, 11.0 + i, 2, t("2024-01-02 09:31:20")),
          StockTransaction(sym, 9.0 + i, 1, t("2024-01-03 14:05:00")))
      }.toDF()
      val mem = Candles.multiTimeframe(txns).persist()
      val dir = Files.createTempDirectory("http-escaped-store").toString
      CandleStore.write(mem, dir)
      val server = CandleHttpServer.start(spark, dir)
      val port = server.getAddress.getPort
      try {
        for (sym <- symbols; tf <- Seq(CandleTimeFrame.Minute, CandleTimeFrame.Day)) {
          val (from, to) = ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
          val range = fetch(port, s"/candles/$sym/$tf", s"from=$from&to=$to")
          assert(range === (200, jsonRows(CandleQueries.range(mem, sym, tf, from, to))),
            s"range $sym $tf")
          assert(range._2.contains(s""""symbol":"$sym""""))

          val key = "202401020931".take(CandleTimeFrame.keyFormat(tf).length)
          val point = fetch(port, s"/candles/$sym/$tf/point", s"key=$key")
          assert(point === (200, jsonRows(CandleQueries.pointLookup(mem, sym, tf, key))),
            s"point $sym $tf")
          assert(point._2 != "[]")

          val keys = mem.filter(col("symbol") === sym && col("timeframe") === tf)
            .select(Candles.candleKeyDynamic.as("key")).orderBy("key")
            .collect().map(k => "\"" + k.getString(0) + "\"").mkString("[", ",", "]")
          assert(fetch(port, s"/keys/$sym/$tf") === (200, keys), s"keys $sym $tf")
        }
      } finally { server.stop(0); mem.unpersist() }
    }
  }

  test("concurrent clients get the bodies they get alone, and stop releases the worker pool") {
    val dir = Files.createTempDirectory("http-concurrent-store").toString
    CandleStore.write(Candles.multiTimeframe(TransactionSimulator.batch(spark, 300)), dir)
    val server = CandleHttpServer.start(spark, dir)
    val port = server.getAddress.getPort
    val requests = for {
      sym <- Seq("AAPL", "MSFT")
      req <- Seq(
        s"/candles/$sym/MINUTE" -> "from=2024-01-01 00:00:00&to=2024-01-02 00:00:00",
        s"/candles/$sym/HOUR" -> "from=2024-01-01 00:00:00&to=2024-01-02 00:00:00&fill=true",
        s"/candles/$sym/MINUTE/recent" -> "n=5",
        s"/candles/$sym/DAY/recent" -> "n=2",
        s"/candles/$sym/MINUTE/point" -> "key=202401010002",
        s"/keys/$sym/HOUR" -> "limit=50")
    } yield req
    val clients = 2 * Runtime.getRuntime.availableProcessors
    val clientPool = Executors.newFixedThreadPool(clients)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(clientPool)
    try {
      val alone = requests.map { case (p, q) => fetch(port, p, q) }
      assert(alone.forall(_._1 == 200) && alone.count(_._2 != "[]") > requests.size / 2)
      // every client walks the whole sequence from its own offset, so
      // each request overlaps different routes
      val runs = (0 until clients).map { c =>
        Future {
          requests.indices.map { k =>
            val i = (k + c) % requests.size
            i -> fetch(port, requests(i)._1, requests(i)._2)
          }
        }
      }
      Await.result(Future.sequence(runs), 5.minutes).flatten.foreach { case (i, got) =>
        assert(got === alone(i), s"concurrent ${requests(i)} differs from its lone reply")
      }
      assert(gatewayThreads(port).size === spark.sparkContext.defaultParallelism)
    } finally {
      clientPool.shutdown()
      server.stop(0)
    }
    assert(gatewayThreads(port).isEmpty, "gateway worker threads outlived stop")
  }

  test("a from or to that is not a timestamp is a 400 naming it, with or without fill") {
    val dir = Files.createTempDirectory("http-bad-ts-store").toString
    CandleStore.write(Candles.multiTimeframe(TransactionSimulator.batch(spark, 300)), dir)
    val server = CandleHttpServer.start(spark, dir)
    val port = server.getAddress.getPort
    try {
      for ((name, query) <- Seq(
          "from" -> "from=garbage",
          "to" -> "from=2024-01-01 00:00:00&to=garbage",
          "from" -> "from=2024-13-45 00:00:00",
          "from" -> "from=garbage&fill=true",
          "to" -> "to=garbage&fill=true")) {
        val (code, body) = fetch(port, "/candles/AAPL/DAY", query)
        assert(code === 400, query)
        val err = spark.read.json(Seq(body).toDS().as[String]).select("error").as[String].head()
        assert(err.startsWith(s"parameter $name "), s"$query: $body")
      }
    } finally server.stop(0)
  }

  /** Number of Spark jobs that start while `body` runs. A sentinel
    * job, started after `body` from this thread, is awaited so that
    * every earlier job start has reached the listener.
    */
  private def jobsDuring(body: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sentinel = "job-count-sentinel"
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobGroup(sentinel, sentinel)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(sentinel), "the sentinel job never reached the listener")
      groups.asScala.count(_ != sentinel)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("range, point, recent, keys and /symbols start no Spark job; fill=true still answers") {
    val dir = Files.createTempDirectory("http-no-job-store").toString
    CandleStore.write(Candles.multiTimeframe(TransactionSimulator.batch(spark, 300)), dir)
    val server = CandleHttpServer.start(spark, dir)
    val port = server.getAddress.getPort
    val day = "from=2024-01-01 00:00:00&to=2024-01-02 00:00:00"
    try {
      var served = Seq.empty[(Int, String)]
      var looked = Seq.empty[Array[org.apache.spark.sql.Row]]
      val jobs = jobsDuring {
        served = Seq(
          "/symbols" -> null,
          "/candles/AAPL/MINUTE" -> day,
          "/candles/AAPL/MINUTE" -> "limit=3",
          "/candles/AAPL/MINUTE/point" -> "key=202401010002",
          "/candles/AAPL/MINUTE/recent" -> "n=5",
          "/candles/MSFT/MONTH/recent" -> "n=2",
          "/keys" -> "limit=20",
          "/keys/AAPL" -> "limit=20",
          "/keys/AAPL/HOUR" -> null).map { case (p, q) => fetch(port, p, q) }
        // the batch lookups answer through the same driver-side reader
        looked = Seq(
          CandleStore.range(spark, dir, "AAPL", CandleTimeFrame.Minute,
            "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
          CandleStore.point(spark, dir, "AAPL", CandleTimeFrame.Minute, "202401010002"),
          CandleStore.recent(spark, dir, CandleTimeFrame.Month, 2),
          CandleStore.candleKeys(spark, dir),
          CandleStore.candleKeys(spark, dir, Some("AAPL"), Some(CandleTimeFrame.Hour)),
          CandleStore.keys(spark, dir)).map(_.collect())
      }
      assert(jobs === 0)
      assert(served.forall(_._1 == 200) && served.forall(_._2 != "[]"), served.mkString("\n"))
      assert(looked.forall(_.nonEmpty))

      val hours = "from=2024-01-01 00:00:00&to=2024-01-01 06:00:00"
      val (code, filledBody) = fetch(port, "/candles/AAPL/HOUR", s"$hours&fill=true")
      assert(code === 200)
      val filled = spark.read.json(Seq(filledBody).toDS().as[String])
      val stored = spark.read.json(Seq(fetch(port, "/candles/AAPL/HOUR", hours)._2).toDS().as[String])
      assert(stored.count() > 0)
      assert(filled.filter(!col("is_gap")).select("window_start", "close").collect().toSet ===
        stored.select("window_start", "close").collect().toSet)
    } finally server.stop(0)
  }

  /** Puts a `_temporary/` copy of a data file, a `_SUCCESS` marker and
    * a stray `.crc` file into `dir`: a reader that took any of them for
    * data would serve extra rows or fail.
    */
  private def litter(dir: JPath): Unit = {
    val data = Files.list(dir).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val tmp = Files.createDirectories(dir.resolve("_temporary").resolve("0"))
    Files.copy(data, tmp.resolve(data.getFileName))
    Files.createFile(dir.resolve("_SUCCESS"))
    Files.write(dir.resolve(".stray.crc"), Array[Byte](1, 2, 3))
  }

  test("every route serves CandleQueries' toJSON bytes on both store layouts under a hidden parent") {
    def t(s: String) = Timestamp.valueOf(s)
    val symbols = Seq("AAPL", "0700")
    val txns = symbols.zipWithIndex.flatMap { case (sym, i) =>
      Seq(StockTransaction(sym, 10.0 + i, 5, t("2024-01-02 09:30:10")),
        StockTransaction(sym, 11.5 + i, 2, t("2024-01-02 09:31:20")),
        StockTransaction(sym, 9.25 + i, 1, t("2024-01-03 14:05:00")),
        StockTransaction(sym, 12.0 + i, 4, t("2024-02-05 10:00:00")))
    }.toDF()
    val mem = Candles.multiTimeframe(txns).persist()
    // a hidden directory above the store: only names below a partition
    // directory may be judged hidden
    val parent = Files.createDirectories(
      Files.createTempDirectory("http-layouts").resolve(".hidden-parent"))
    val written = parent.resolve("written")
    CandleStore.write(mem, written.toString)
    litter(written.resolve("timeframe=MINUTE").resolve("symbol=AAPL"))
    val merged = parent.resolve("merged")
    CandleStream.cascadeMerge(Candles.minuteCandles(txns), merged.toString)
    litter(merged.resolve("timeframe=MINUTE").resolve("symbol=0700").resolve("window_date=2024-01-02"))
    litter(merged.resolve("timeframe=MONTH").resolve("symbol=AAPL").resolve("window_date=2024-01-01"))

    def quoted(keyFrame: DataFrame): String =
      keyFrame.collect().map(k => "\"" + k.getString(0) + "\"").mkString("[", ",", "]")
    def keys(df: DataFrame): String =
      quoted(df.select(Candles.candleKeyDynamic.as("key")).orderBy("key"))
    def rowSet(df: DataFrame) = df.select(Candles.candleColumns: _*).collect().toSet

    try for (store <- Seq(written, merged)) {
      val server = CandleHttpServer.start(spark, store.toString)
      val port = server.getAddress.getPort
      def served(path: String, query: String = null): String = {
        val (code, body) = fetch(port, path, query)
        assert(code === 200, s"$store $path?$query")
        body
      }
      // CandleStore's lookups over the same store, beside each route
      val direct = store.toString
      try {
        assert(served("/symbols") ===
          mem.select("symbol").distinct().orderBy("symbol").toJSON.collect().mkString("[", ",", "]"))
        assert(served("/keys") === keys(mem), s"$store keys")
        assert(quoted(CandleStore.candleKeys(spark, direct)) === keys(mem), s"$store candleKeys")
        assert(CandleStore.keys(spark, direct).collect().toSet ===
          mem.select("timeframe", "symbol").distinct().collect().toSet, s"$store CandleStore.keys")
        for (tf <- CandleTimeFrame.all)
          assert(rowSet(CandleStore.recent(spark, direct, tf, 2)) === rowSet(CandleQueries.recent(mem, tf, 2)),
            s"$store CandleStore.recent $tf")
        for (sym <- symbols) {
          assert(served(s"/keys/$sym") === keys(mem.filter(col("symbol") === sym)), s"$store keys $sym")
          assert(quoted(CandleStore.candleKeys(spark, direct, Some(sym))) ===
            keys(mem.filter(col("symbol") === sym)), s"$store candleKeys $sym")
          for (tf <- CandleTimeFrame.all) {
            val at = s"$store $sym $tf"
            val (from, to) = ("2024-01-01 00:00:00", "2024-03-01 00:00:00")
            val range = served(s"/candles/$sym/$tf", s"from=$from&to=$to")
            assert(range === jsonRows(CandleQueries.range(mem, sym, tf, from, to)), s"range $at")
            assert(range != "[]", s"range $at")
            assert(jsonRows(CandleStore.range(spark, direct, sym, tf, from, to)) === range,
              s"CandleStore.range $at")
            val key = "202401020931".take(CandleTimeFrame.keyFormat(tf).length)
            val point = served(s"/candles/$sym/$tf/point", s"key=$key")
            assert(point === jsonRows(CandleQueries.pointLookup(mem, sym, tf, key)), s"point $at")
            assert(point != "[]", s"point $at")
            assert(jsonRows(CandleStore.point(spark, direct, sym, tf, key)) === point,
              s"CandleStore.point $at")
            assert(served(s"/candles/$sym/$tf/recent", "n=2") ===
              jsonRows(CandleQueries.recent(mem, tf, 2).filter(col("symbol") === sym)), s"recent $at")
            val tfKeys = keys(mem.filter(col("symbol") === sym && col("timeframe") === tf))
            assert(served(s"/keys/$sym/$tf") === tfKeys, s"keys $at")
            assert(quoted(CandleStore.candleKeys(spark, direct, Some(sym), Some(tf))) === tfKeys,
              s"candleKeys $at")
          }
        }
      } finally server.stop(0)
    } finally mem.unpersist()
  }
}
