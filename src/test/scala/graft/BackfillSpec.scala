package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.model.StockTransaction
import graft.operators.{CandleBackfill, Candles, CandleStore}
import graft.sources.EventStore
import graft.streaming.CandleStream

class BackfillSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val day12 = Seq(
    StockTransaction("AAPL", 10.0, 5, ts("2024-03-01 09:30:05")),
    StockTransaction("AAPL", 12.0, 3, ts("2024-03-01 10:15:00")),
    StockTransaction("MSFT", 99.0, 2, ts("2024-03-02 09:31:00")))
  private val day3 = Seq(
    StockTransaction("AAPL", 11.0, 1, ts("2024-03-03 09:30:40")),
    StockTransaction("MSFT", 98.0, 6, ts("2024-03-03 11:00:00")))

  test("backfill processes only missing days and converges to the batch aggregation") {
    val events = Files.createTempDirectory("backfill-events").toString
    val store = Files.createTempDirectory("backfill-candles").toString

    EventStore.write(day12.toDF(), events)
    val first = CandleBackfill.run(spark, events, store)
    assert(first === Seq("2024-03-01", "2024-03-02"))

    // new day lands in the lake; only it is processed
    EventStore.write(day3.toDF(), events, SaveMode.Append)
    val second = CandleBackfill.run(spark, events, store)
    assert(second === Seq("2024-03-03"))

    // idempotent when up to date
    assert(CandleBackfill.run(spark, events, store) === Nil)

    val want = Candles.multiTimeframe((day12 ++ day3).toDF())
      .select(Candles.candleColumns: _*)
    val got = spark.read.parquet(store).select(Candles.candleColumns: _*)
    assert(got.collect().toSet === want.collect().toSet)
  }

  test("an interrupted cascade (minute merged, rollups not) self-heals on the next run") {
    val events = Files.createTempDirectory("crash-events").toString
    val store = Files.createTempDirectory("crash-candles").toString
    EventStore.write(day12.toDF(), events)

    // simulate a crash between cascadeMerge's two merges: only the
    // minute candles of the lake days land in the store
    val minuteOnly = Candles.minuteCandles(
      EventStore.read(spark, events)
        .select($"symbol", $"price", $"quantity", $"ts"))
    graft.streaming.CandleStream.mergeBatchIntoStore(minuteOnly, store)
    assert(spark.read.parquet(store)
      .filter($"timeframe" =!= graft.model.CandleTimeFrame.Minute).count() === 0)

    // done-ness is judged by the DAY rollup (written last), so the
    // next run re-processes both days instead of skipping them
    val healed = CandleBackfill.run(spark, events, store)
    assert(healed === Seq("2024-03-01", "2024-03-02"))
    val want = Candles.multiTimeframe(day12.toDF())
      .select(Candles.candleColumns: _*)
    val got = spark.read.parquet(store).select(Candles.candleColumns: _*)
    assert(got.collect().toSet === want.collect().toSet)
  }

  test("a day whose DAY partition is missing for one of its symbols is re-processed") {
    // a cascade interrupted among its DAY swaps: one symbol's DAY
    // candle of a two-symbol day landed, the other's did not
    val events = Files.createTempDirectory("partial-events").toString
    val store = Files.createTempDirectory("partial-candles").toString
    val day = Seq(
      StockTransaction("AAPL", 10.0, 5, ts("2024-03-01 09:30:05")),
      StockTransaction("MSFT", 99.0, 2, ts("2024-03-01 10:10:00")))
    EventStore.write(day.toDF(), events)
    assert(CandleBackfill.run(spark, events, store) === Seq("2024-03-01"))
    val dayDir = java.nio.file.Paths.get(store, "timeframe=DAY", "symbol=MSFT", "window_date=2024-03-01")
    Files.walk(dayDir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    assert(!Files.exists(dayDir))

    assert(CandleBackfill.run(spark, events, store) === Seq("2024-03-01"))
    val want = Candles.multiTimeframe(day.toDF()).select(Candles.candleColumns: _*)
    val got = spark.read.parquet(store).select(Candles.candleColumns: _*)
    assert(got.collect().toSet === want.collect().toSet)
    assert(CandleBackfill.run(spark, events, store) === Nil)
  }

  test("force re-merges an already-processed day (late-event restatement)") {
    val events = Files.createTempDirectory("restate-events").toString
    val store = Files.createTempDirectory("restate-candles").toString
    EventStore.write(day12.toDF(), events)
    CandleBackfill.run(spark, events, store)

    // a late event lands inside an already-processed day
    val late = Seq(StockTransaction("AAPL", 15.0, 7, ts("2024-03-01 09:30:50")))
    EventStore.write(late.toDF(), events, SaveMode.Append)
    assert(CandleBackfill.run(spark, events, store) === Nil) // day-level: not seen
    val restated = CandleBackfill.run(spark, events, store, force = Seq("2024-03-01"))
    assert(restated === Seq("2024-03-01"))

    val want = Candles.multiTimeframe((day12 ++ late).toDF())
      .select(Candles.candleColumns: _*)
    val got = spark.read.parquet(store).select(Candles.candleColumns: _*)
    assert(got.collect().toSet === want.collect().toSet)
  }

  test("a store root named with glob metacharacters merges, reads and backfills") {
    def storeIn(prefix: String): String =
      Files.createTempDirectory(prefix).resolve("store[v1]{a}").toString
    val store = storeIn("glob-candles")
    // the second merge reads back the partitions the first one wrote
    val minutes = Candles.minuteCandles(day12.toDF())
    CandleStream.cascadeMerge(minutes, store)
    CandleStream.cascadeMerge(minutes, store)
    val want = Candles.multiTimeframe(day12.toDF()).select(Candles.candleColumns: _*)
    assert(CandleStore.read(spark, store).select(Candles.candleColumns: _*).collect().toSet ===
      want.collect().toSet)

    // done days are found, so a second run has nothing to do
    val events = Files.createTempDirectory("glob-events").toString
    EventStore.write(day12.toDF(), events)
    val backfilled = storeIn("glob-backfill")
    assert(CandleBackfill.run(spark, events, backfilled) === Seq("2024-03-01", "2024-03-02"))
    assert(CandleBackfill.run(spark, events, backfilled) === Nil)
  }
}
