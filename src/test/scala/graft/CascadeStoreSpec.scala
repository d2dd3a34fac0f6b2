package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.{Candle, CandleTimeFrame, StockTransaction}
import graft.operators.Candles
import graft.streaming.CandleStream

/** The incremental streaming cascade: after any number of micro-batches
  * the store holds exactly the candles the batch multi-timeframe
  * aggregation would produce over all data seen so far — the streaming
  * form of the reference's minute→hour/day/month re-windowing
  * (CandlestickAggregator.kt:119-186).
  */
class CascadeStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("cascadeToStore keeps all four timeframes equal to the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("cascade-store").toString
    val chk = Files.createTempDirectory("cascade-chk").toString
    val input = MemoryStream[StockTransaction]
    val q = CandleStream.cascadeToStore(
      CandleStream.candles(input.toDF(), CandleTimeFrame.Minute, watermark = "10 minutes"),
      dir, chk)
    // batch-2 events stay inside batch-1's watermark horizon
    // (max ts 10:15 − 10 min): a refinement older than that would be
    // correctly dropped as late data by the streaming aggregation
    val batch1 = Seq(
      StockTransaction("AAPL", 10.0, 5, ts("2024-03-01 09:30:05")),
      StockTransaction("AAPL", 12.0, 3, ts("2024-03-01 10:15:00")),
      StockTransaction("MSFT", 99.0, 2, ts("2024-03-01 10:10:00")))
    val batch2 = Seq(
      StockTransaction("AAPL", 11.0, 1, ts("2024-03-01 10:15:30")), // refines 10:15
      StockTransaction("AAPL", 20.0, 4, ts("2024-04-02 09:00:00")), // new month
      StockTransaction("MSFT", 98.0, 6, ts("2024-03-01 11:00:00")))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val want = Candles.multiTimeframe((batch1 ++ batch2).toDF())
      .select(Candles.candleColumns: _*)
    val got = spark.read.parquet(dir).select(Candles.candleColumns: _*)
    assert(got.count() === want.count())
    assert(got.collect().toSet === want.collect().toSet)
    // all four timeframes are materialized
    assert(got.select("timeframe").distinct().as[String].collect().toSet
      === Set("MINUTE", "HOUR", "DAY", "MONTH"))
  }

  /** The store's candles, read with the model schema so a
    * numeric-looking symbol directory (`symbol=0700`) stays a string.
    */
  private def readStore(dir: String): DataFrame =
    spark.read.schema(Encoders.product[Candle].schema).parquet(dir)
      .select(Candles.candleColumns: _*)

  test("mergeBatchIntoStore is idempotent: re-delivering a micro-batch leaves the store unchanged") {
    // Structured Streaming's foreachBatch re-runs a batch after a sink
    // failure; exactly-once for the candle store therefore reduces to
    // the upsert being a no-op on retry (same batchId, same rows).
    // The second symbol's partition carries an unchanged row through
    // the refining merge, so it also runs on symbols whose partition
    // directory the writer escapes (`A:B`), names with a space, and a
    // numeric-looking one: a read of a wrongly escaped or typed
    // directory would miss that row and the overwrite would drop it.
    Seq("MSFT", "A:B", "A B", "0700").foreach { sym =>
      val dir = Files.createTempDirectory("idem-store").toString
      val txns1 = Seq(
        StockTransaction("AAPL", 10.0, 5, ts("2024-03-01 09:30:05")),
        StockTransaction("AAPL", 12.0, 3, ts("2024-03-01 09:30:40")),
        StockTransaction(sym, 99.0, 2, ts("2024-03-01 10:10:00"))).toDF()
      val txns2 = Seq(
        StockTransaction("AAPL", 11.0, 1, ts("2024-03-01 09:30:50")), // refines 09:30
        StockTransaction(sym, 98.0, 6, ts("2024-03-01 11:00:00"))).toDF()

      def snapshot(): Set[Seq[Any]] = readStore(dir).collect().map(_.toSeq).toSet

      CandleStream.mergeBatchIntoStore(Candles.minuteCandles(txns1), dir)
      val afterFirst = snapshot()
      // retry of batch 1 against a non-empty store
      CandleStream.mergeBatchIntoStore(Candles.minuteCandles(txns1), dir)
      assert(snapshot() === afterFirst, sym)

      // a refining batch, applied twice, also converges to one apply
      val refined = Candles.minuteCandles(txns1.unionByName(txns2))
        .join(Candles.minuteCandles(txns2).select("symbol", "window_start"),
          Seq("symbol", "window_start"), "left_semi")
      CandleStream.mergeBatchIntoStore(refined, dir)
      val afterSecond = snapshot()
      CandleStream.mergeBatchIntoStore(refined, dir)
      assert(snapshot() === afterSecond, sym)
      assert(afterSecond === Candles.minuteCandles(txns1.unionByName(txns2))
        .collect().map(_.toSeq).toSet, sym)
    }
  }

  test("incremental cascade equals the batch aggregation and leaves untouched days alone") {
    val dir = Files.createTempDirectory("incr-cascade").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[StockTransaction]

    // one cascade step as a streaming update delivers it: the full
    // candle of every minute the new trades touch; afterwards the
    // store must equal the batch aggregation over every trade so far
    def cascade(fresh: Seq[StockTransaction]): Unit = {
      seen ++= fresh
      val all = seen.toSeq.toDF()
      val touched = Candles.minuteCandles(fresh.toDF()).select("symbol", "window_start")
      CandleStream.cascadeMerge(Candles.minuteCandles(all)
        .join(touched, Seq("symbol", "window_start"), "left_semi"), dir)
      val want = Candles.multiTimeframe(all).select(Candles.candleColumns: _*)
      val got = readStore(dir)
      assert(got.count() === want.count())
      assert(got.collect().toSet === want.collect().toSet)
    }

    // the data files of the HOUR and DAY partitions of `dates`
    def rollupFiles(dates: Seq[String]): Set[String] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(root.relativize(_).toString)
        .filter(f => f.endsWith(".parquet") &&
          Seq(CandleTimeFrame.Hour, CandleTimeFrame.Day).exists(tf => f.startsWith(s"timeframe=$tf/")) &&
          dates.exists(d => f.contains(s"/window_date=$d/")))
        .toSet
      finally walk.close()
    }

    // three days of one month, two symbols (one the writer escapes)
    cascade(Seq("AAPL", "A:B").zipWithIndex.flatMap { case (s, i) =>
      (1 to 3).flatMap { d =>
        Seq(StockTransaction(s, 10.0 + i + d, d, ts(s"2024-01-0$d 09:30:05")),
          StockTransaction(s, 11.0 + i + d, d + 1, ts(s"2024-01-0$d 09:30:40")),
          StockTransaction(s, 9.0 + i + d, d + 2, ts(s"2024-01-0$d 14:10:00")))
      }
    })
    val day12 = Seq("2024-01-01", "2024-01-02")
    val before = rollupFiles(day12)
    assert(before.size >= 8) // HOUR and DAY, two symbols, two days

    // a batch on day 3: a new minute and a refined one
    cascade(Seq(
      StockTransaction("AAPL", 20.0, 4, ts("2024-01-03 15:00:00")),
      StockTransaction("A:B", 8.5, 2, ts("2024-01-03 09:30:50"))))
    assert(rollupFiles(day12) === before)

    // a late restatement of day 1: a new low inside a stored minute
    cascade(Seq(StockTransaction("AAPL", 1.0, 9, ts("2024-01-01 09:30:30"))))

    // a batch straddling a month end
    cascade(Seq(
      StockTransaction("AAPL", 30.0, 1, ts("2024-01-31 23:59:00")),
      StockTransaction("AAPL", 31.0, 2, ts("2024-02-01 00:00:00")),
      StockTransaction("A:B", 29.0, 3, ts("2024-01-31 23:59:00"))))
  }

  test("cascadeMerge is idempotent: re-delivering a minute batch leaves all timeframes unchanged") {
    val dir = Files.createTempDirectory("idem-cascade").toString
    val txns = Seq(
      StockTransaction("AAPL", 10.0, 5, ts("2024-03-01 09:30:05")),
      StockTransaction("AAPL", 12.0, 3, ts("2024-03-01 10:15:00")),
      StockTransaction("MSFT", 99.0, 2, ts("2024-03-01 10:10:00"))).toDF()
    val minuteBatch = Candles.minuteCandles(txns)
    CandleStream.cascadeMerge(minuteBatch, dir)
    val once = spark.read.parquet(dir).select(Candles.candleColumns: _*)
      .collect().map(_.toSeq).toSet
    CandleStream.cascadeMerge(minuteBatch, dir)
    val twice = spark.read.parquet(dir).select(Candles.candleColumns: _*)
      .collect().map(_.toSeq).toSet
    assert(twice === once)
  }

  test("merges leave the session's partitionOverwriteMode as they found it, set or unset") {
    // the merges overwrite partitions dynamically through a writer
    // option; the session is shared (the gateway reads through it), so
    // they must not set or reset its conf
    val key = "spark.sql.sources.partitionOverwriteMode"
    def setting: Option[String] = spark.conf.getAll.get(key)
    val original = setting
    try for (preset <- Seq(None, Some("static"))) {
      preset.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val dir = Files.createTempDirectory("conf-cascade").toString
      val day = Seq(
        StockTransaction("AAPL", 10.0, 5, ts("2024-03-01 09:30:05")),
        StockTransaction("AAPL", 12.0, 3, ts("2024-03-02 10:15:00"))).toDF()
      CandleStream.mergeBatchIntoStore(Candles.minuteCandles(day), dir)
      assert(setting === preset, "after mergeBatchIntoStore")
      val next = Seq(StockTransaction("AAPL", 11.0, 1, ts("2024-03-02 10:15:30"))).toDF()
      CandleStream.cascadeMerge(Candles.minuteCandles(next), dir)
      assert(setting === preset, "after cascadeMerge")
      // still a dynamic overwrite: the untouched day 1 minute survives
      assert(readStore(dir).filter(col("timeframe") === CandleTimeFrame.Minute).count() === 2,
        s"preset $preset")
    } finally original.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Number of Spark jobs that start while `body` runs. A sentinel job,
    * started after `body` from this thread, is awaited so that every
    * earlier job start has reached the listener.
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

  /** The names directly under the store root that Spark's readers hide. */
  private def hiddenEntries(dir: String): Seq[String] = {
    val list = Files.list(java.nio.file.Paths.get(dir))
    try list.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("_")).toSeq
    finally list.close()
  }

  test("a streaming-sized cascadeMerge or mergeBatchIntoStore is at most two Spark jobs and leaves no staging") {
    val dir = Files.createTempDirectory("jobs-cascade").toString
    val symbols = Seq("AAPL", "MSFT", "A:B", "0700", "NVDA")
    // a store holding a day of history, one trade a minute per symbol
    CandleStream.cascadeMerge(Candles.minuteCandles(symbols.zipWithIndex.flatMap { case (s, i) =>
      (0 until 1440).map(m => StockTransaction(s, 10.0 + i + m % 7, 1 + m % 5,
        new Timestamp(ts("2024-03-01 00:00:30").getTime + m * 60000L)))
    }.toDF()), dir)
    // a micro-batch: the next minute of every symbol, already computed,
    // as the sink receives it
    val minute = Candles.minuteCandles(symbols.map(s => StockTransaction(s, 20.0, 3, ts("2024-03-02 00:00:10"))).toDF())
    val batch = spark.createDataFrame(minute.collect().toSeq.asJava, minute.schema)

    assert(jobsDuring(CandleStream.cascadeMerge(batch, dir)) <= 2, "cascadeMerge")
    assert(hiddenEntries(dir) === Nil, "after cascadeMerge")
    assert(jobsDuring(CandleStream.mergeBatchIntoStore(batch, dir)) <= 2, "mergeBatchIntoStore")
    assert(hiddenEntries(dir) === Nil, "after mergeBatchIntoStore")
  }

  /** Every stored row with its partition directory, in file order, its
    * doubles as raw bits: two stores are equal bit for bit when these are.
    */
  private def storeBits(dir: String): Map[String, Seq[Seq[Any]]] =
    readStore(dir).withColumn("file", input_file_name()).collect().toSeq
      .groupMap { r =>
        val f = r.getAs[String]("file")
        f.substring(f.indexOf("timeframe="), f.lastIndexOf('/'))
      } { r =>
        r.toSeq.dropRight(1).map {
          case d: Double => java.lang.Double.doubleToRawLongBits(d)
          case v => v
        }
      }

  test("a fetch failure inside the cascade's merge job resubmits the stage and writes the same store") {
    // as in RetrySpec: a FetchFailed resubmits the map stage rather than
    // counting against the shared local session's single task attempt
    val txns = Seq("AAPL", "A:B").flatMap { s =>
      Seq(StockTransaction(s, 10.0, 5, ts("2024-01-31 23:59:05")),
        StockTransaction(s, 12.0, 3, ts("2024-02-01 00:00:40")),
        StockTransaction(s, 9.5, 2, ts("2024-02-01 10:10:00")))
    }.toDF()
    val clean = Files.createTempDirectory("retry-clean").toString
    val injected = Files.createTempDirectory("retry-injected").toString
    CandleStream.cascadeMerge(Candles.minuteCandles(txns), clean)
    Chaos.resetFetchState()
    try {
      CandleStream.cascadeMerge(Chaos.fetchFailOnce(Candles.minuteCandles(txns)), injected)
      assert(Chaos.fetchFailuresThrown.get() >= 1L, "the injected FetchFailedException never fired")
    } finally Chaos.resetFetchState()
    val want = storeBits(clean)
    assert(want.keySet.count(_.startsWith("timeframe=MONTH/")) === 4)
    assert(storeBits(injected) === want)
    assert(hiddenEntries(injected) === Nil)
  }
}
