package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.CandleTimeFrame
import graft.operators.{CandleQueries, Candles, CandleStore, MarketAnalytics}
import graft.streaming.TransactionSimulator

class CandleStoreSpec extends SparkSpec {
  import spark.implicits._

  test("store round-trips candles and prunes partitions on lookup") {
    val dir = Files.createTempDirectory("candlestore").toString
    val candles = Candles.multiTimeframe(TransactionSimulator.batch(spark, 300))
    CandleStore.write(candles, dir)

    // partition layout exists (Redis-key hierarchy as directories)
    assert(new java.io.File(s"$dir/timeframe=MINUTE/symbol=AAPL").exists())

    val all = CandleStore.read(spark, dir)
    assert(all.count() === candles.count())

    val point = CandleStore.point(spark, dir, "AAPL", CandleTimeFrame.Minute,
      "202401010002")
    assert(point.count() === 1)

    val keys = CandleStore.keys(spark, dir)
    assert(keys.count() === 20) // 4 timeframes × 5 symbols
  }

  test("compact rewrites partitions to few sorted files, preserving content") {
    val dir = Files.createTempDirectory("compactstore").toString
    val candles = Candles.multiTimeframe(TransactionSimulator.batch(spark, 200))
    // simulate fragmented appends
    CandleStore.write(candles.filter($"timeframe" === "MINUTE"), dir)
    candles.filter($"timeframe" =!= "MINUTE")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("timeframe", "symbol").parquet(dir)
    val before = CandleStore.read(spark, dir).orderBy("timeframe", "symbol", "window_start").collect()
    CandleStore.compact(spark, dir)
    val after = CandleStore.read(spark, dir).orderBy("timeframe", "symbol", "window_start").collect()
    assert(after === before)
    val filesPerPartition = new java.io.File(s"$dir/timeframe=MINUTE/symbol=AAPL")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesPerPartition === 1, s"expected 1 compacted file, got $filesPerPartition")
  }

  test("a lookup opens only the partition it names: corrupt files beside it are never read") {
    val dir = Files.createTempDirectory("candlestore-siblings").toString
    val candles = Candles.multiTimeframe(TransactionSimulator.batch(spark, 300)).persist()
    CandleStore.write(candles, dir)
    // not Parquet: a reader that opened either file would fail
    for (sibling <- Seq("timeframe=MINUTE/symbol=MSFT", "timeframe=HOUR/symbol=AAPL"))
      Files.write(Paths.get(dir, sibling, "part-99999-corrupt.parquet"), "not parquet".getBytes)
    val (sym, tf, key) = ("AAPL", CandleTimeFrame.Minute, "202401010002")
    val (from, to) = ("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    def rows(df: DataFrame) = df.select(Candles.candleColumns: _*).collect().toSeq
    try {
      val range = rows(CandleStore.range(spark, dir, sym, tf, from, to))
      assert(range.nonEmpty && range === rows(CandleQueries.range(candles, sym, tf, from, to)))
      val point = rows(CandleStore.point(spark, dir, sym, tf, key))
      assert(point.length === 1 && point === rows(CandleQueries.pointLookup(candles, sym, tf, key)))
      assert(CandleStore.candleKeys(spark, dir, Some(sym), Some(tf)).as[String].collect() ===
        candles.filter($"symbol" === sym && $"timeframe" === tf)
          .select(Candles.candleKeyDynamic.as("key")).orderBy("key").as[String].collect())
      val bad = intercept[IllegalArgumentException](CandleStore.range(spark, dir, sym, tf, "garbage", to))
      assert(bad.getMessage.contains("garbage"))
      // the planted files do fail a lookup of their own partition
      intercept[Exception](CandleStore.range(spark, dir, "MSFT", tf, from, to).collect())
    } finally candles.unpersist()
  }

  test("sessionize splits on the inactivity gap") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 2.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 3.0), // 50min gap
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 4.0)
    ).toDF("user_id", "ts", "value")
    val s = MarketAnalytics.sessionStats(ev, "user_id", "ts", 30)
    assert(s.count() === 3)
    val u1 = s.filter($"user_id" === 1 && $"session_seq" === 1).collect().head
    assert(u1.getAs[Long]("n_events") === 2)
    assert(u1.getAs[Double]("total_value") === 3.0)
  }

  test("peakConcurrency: day carry for spanning intervals, end-exclusive ties") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val iv = Seq(
      // day 1: two overlapping + one exactly back-to-back (end == start)
      (t("2024-01-01 10:00:00"), t("2024-01-01 12:00:00")),
      (t("2024-01-01 11:00:00"), t("2024-01-01 13:00:00")),
      (t("2024-01-01 13:00:00"), t("2024-01-01 14:00:00")), // starts at prior end
      // spans into day 2: must carry +1 into the next day
      (t("2024-01-01 23:00:00"), t("2024-01-02 02:00:00")),
      (t("2024-01-02 01:00:00"), t("2024-01-02 03:00:00")))
      .toDF("session_start", "session_end")
    val got = MarketAnalytics.peakConcurrency(iv).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // day 1 peak: 10-12 & 11-13 overlap = 2 (back-to-back does NOT
    // stack: end-exclusive); day 2 peak: the spanning interval + the
    // 01-03 one = 2, only reachable WITH the carry
    assert(got === Map("2024-01-01" -> 2L, "2024-01-02" -> 2L))
  }
}
