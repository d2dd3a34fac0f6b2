package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.CandleTimeFrame
import graft.sources.Tables

/** Batch candlestick aggregation — the Spark-native re-expression of
  * the reference's Kafka Streams pipeline
  * (reference: stream/CandlestickAggregator.kt:75-198).
  *
  * Reference semantics, per timeframe window and symbol:
  *   open  = first price in window   (CandlestickAggregator.kt:408 — but
  *           arrival-order-defined there; we use event time, SURVEY §4)
  *   high  = max price               (kt:427)
  *   low   = min price               (kt:428)
  *   close = last price              (kt:429)
  *   volume= sum of quantities       (kt:430)
  * plus calendar-aligned window bounds (adjustTimeFrame, kt:205-263).
  *
  * Scale design (SURVEY §5): ONE shuffle on (symbol, minute bucket)
  * with map-side partial aggregation produces the minute candles;
  * HOUR/DAY/MONTH roll up from the minute-candle table — the
  * reference's own cascade (kt:119: "minuteCandleStream.groupByKey()")
  * — which at 100 TB re-aggregates a table ~5 orders of magnitude
  * smaller than the raw transactions. All aggregates
  * (min/max/sum/count/min_by/max_by) are partial-aggregatable and stay
  * inside whole-stage codegen.
  */
object Candles {

  /** The trade-stream view over the driver's `events` table:
    * symbol≈event_type, price≈value, quantity≈props.k, ts≈ts.
    */
  def transactions(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("event_type").as("symbol"),
      col("value").as("price"),
      get_json_object(col("props"), "$.k").cast("int").as("quantity"),
      col("ts"))

  /** 1-minute OHLCV candles from raw transactions.
    * Deterministic open/close: event-time ordered via min_by/max_by on
    * ts (ties impossible at microsecond granularity in practice; a
    * unique tiebreak column can be passed via `ord`).
    */
  def minuteCandles(txns: DataFrame): DataFrame = {
    val ws = date_trunc("minute", col("ts"))
    tradeOhlcv(txns.groupBy(col("symbol"), ws.as("window_start")))
      .withColumn("timeframe", lit(CandleTimeFrame.Minute))
      .withColumn("window_end", windowEnd(CandleTimeFrame.Minute, col("window_start")))
      .select(candleColumns: _*)
  }

  /** Roll smaller-timeframe candles up to `tf` — the reference's
    * aggregateCandles (kt:318-339): open = open of the earliest child
    * candle, close = close of the latest, high/low = max/min,
    * volume = sum. Input must be a candle frame (e.g. minuteCandles
    * output); grouping key is the calendar-truncated window start.
    */
  def rollup(candles: DataFrame, tf: String): DataFrame = {
    val unit = CandleTimeFrame.truncUnit(tf)
    candleOhlcv(candles
      .withColumn("parent_start", date_trunc(unit, col("window_start")))
      .groupBy(col("symbol"), col("parent_start")))
      .withColumnRenamed("parent_start", "window_start")
      .withColumn("timeframe", lit(tf))
      .withColumn("window_end", windowEnd(tf, col("window_start")))
      .select(candleColumns: _*)
  }

  /** All four timeframes as one frame (reference runs four parallel
    * windowed streams over the minute stream, kt:119-186).
    */
  def multiTimeframe(txns: DataFrame): DataFrame = {
    // r16 single-scan shape: the union-of-rollups form re-ran the
    // minute aggregate once per branch (per-branch column pruning
    // kept ReuseExchange from firing — measured 4 parquet scans, 0
    // reused exchanges; a persist of the minute frame was tried in
    // r15 and measured WORSE: the cache build serialized four
    // concurrently-scheduled branch aggregations and
    // InMemoryTableScan broke their codegen). Instead each minute
    // candle EXPLODES to its four (timeframe, parent_start) keys and
    // ONE rollup aggregate computes every grain (see [[rollupEach]]):
    // one transaction scan, one minute exchange, one 4×-minute-rows
    // exchange — no cache, no re-scan. At 100 TB this is four passes
    // over the raw transactions replaced by one.
    rollupEach(Seq(minuteCandles(txns) -> CandleTimeFrame.all))
  }

  /** [[rollup]] to several timeframes in ONE aggregate: every child
    * candle of each frame joins the group of each timeframe listed with
    * that frame, keyed by its calendar-truncated window start, and one
    * aggregate over all (symbol, timeframe, window start) groups
    * computes every grain. A MINUTE listed for minute children is the
    * singleton group (min_by(open, window_start) over one row = open,
    * sums are identity), so each grain keeps rollup()'s exact
    * semantics. Children of different grains may share a group only
    * when their time spans are disjoint (e.g. a month's DAY candles for
    * some days and MINUTE candles for the others): open/close then
    * still come from the earliest/latest child, so the result is the
    * same as rolling up from any one grain.
    */
  private[graft] def rollupEach(children: Seq[(DataFrame, Seq[String])]): DataFrame = {
    def parentKeys(tfs: Seq[String]): Column = explode(array(tfs.map { tf =>
      val start = if (tf == CandleTimeFrame.Minute) col("window_start")
        else date_trunc(CandleTimeFrame.truncUnit(tf), col("window_start"))
      struct(lit(tf).as("tf"), start.as("ps"))
    }: _*))
    candleOhlcv(children
      .map { case (df, tfs) =>
        df.select(col("symbol"), col("window_start"), col("open"), col("high"),
          col("low"), col("close"), col("volume"), col("n_txn"), parentKeys(tfs).as("k"))
      }
      .reduce(_ unionByName _)
      .groupBy(col("symbol"), col("k.tf").as("timeframe"), col("k.ps").as("parent_start")))
      .withColumnRenamed("parent_start", "window_start")
      .withColumn("window_end", windowEndDynamic)
      .select(candleColumns: _*)
  }

  /** windowEnd when the timeframe is a column (multi-TF frames) —
    * the [[candleKeyDynamic]] when-chain over [[windowEnd]].
    */
  def windowEndDynamic: Column =
    CandleTimeFrame.all.foldLeft(lit(null).cast("timestamp")) { (acc, tf) =>
      when(col("timeframe") === tf, windowEnd(tf, col("window_start"))).otherwise(acc)
    }

  /** Roll candles up to an arbitrary fixed interval (e.g. 300s = the
    * 5-minute candles every chart UI offers beyond the reference's four
    * calendar frames). Same cascade semantics as rollup().
    */
  def rollupInterval(candles: DataFrame, seconds: Long): DataFrame =
    candleOhlcv(candles
      .withColumn("parent_start",
        timestamp_seconds(expr(s"unix_timestamp(window_start) div $seconds") * seconds))
      .groupBy(col("symbol"), col("parent_start")))
      .withColumnRenamed("parent_start", "window_start")
      .withColumn("timeframe", lit(s"${seconds}s"))
      .withColumn("window_end", col("window_start") + expr(s"INTERVAL $seconds SECOND"))
      .select(candleColumns: _*)

  /** Sliding-window (hopping) candles: OHLCV over windows of
    * `widthSeconds` that advance every `slideSeconds` — the smoothed
    * chart view (e.g. a 10-minute candle refreshed every 5) that a
    * tumbling cascade cannot produce. Built on Spark's native
    * `window(ts, width, slide)`: each transaction is assigned to its
    * width/slide overlapping windows at the SCAN (a bounded explode
    * inside codegen), then the same one-shuffle partial-aggregated
    * OHLCV as minuteCandles — rows shuffled = events × (width/slide),
    * no self-join, no re-scan per offset.
    */
  def hopCandles(txns: DataFrame, widthSeconds: Long, slideSeconds: Long): DataFrame = {
    require(widthSeconds % slideSeconds == 0,
      "width must be a multiple of slide (calendar-aligned hop windows)")
    tradeOhlcv(txns.groupBy(col("symbol"),
        window(col("ts"), s"$widthSeconds seconds", s"$slideSeconds seconds")))
      .withColumn("timeframe", lit(s"${widthSeconds}s/${slideSeconds}s"))
      .select(col("symbol"), col("timeframe"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_txn"))
  }

  /** Gap-fill a candle series: emit one row per interval slot between
    * each symbol's first and last candle, carrying the last close
    * forward into empty slots (volume 0) — charts need a continuous
    * series. Slot generation is chunked: a single
    * sequence(lo, hi, step) would materialize one array spanning the
    * symbol's whole range in one row (a minute-grain fill over years =
    * millions of elements), so instead explode bounded chunks of slot
    * indices first, then the ≤`slotChunk` slots inside each chunk —
    * identical slot set, every intermediate array bounded. The
    * carry-forward is last-ignore-nulls over a time-ordered window.
    */
  def gapFill(candles: DataFrame, seconds: Long,
              slotChunk: Int = 8192): DataFrame = {
    val slots = candles
      .groupBy(col("symbol"))
      .agg(min(col("window_start")).as("lo"), max(col("window_start")).as("hi"))
      .withColumn("n_slots",
        expr(s"(unix_timestamp(hi) - unix_timestamp(lo)) div $seconds + 1"))
      .select(col("symbol"), col("lo"), col("n_slots"),
        explode(sequence(lit(0L), expr(s"(n_slots - 1) div $slotChunk")))
          .as("chunk"))
      .select(col("symbol"),
        explode(sequence(
          col("chunk") * slotChunk,
          least(col("chunk") * slotChunk + (slotChunk - 1), col("n_slots") - 1)))
          .as("slot"),
        col("lo"))
      .select(col("symbol"),
        timestamp_seconds(unix_timestamp(col("lo")) + col("slot") * seconds)
          .as("window_start"))
    carryForward(slots, candles)
  }

  /** Month-grain gap-fill: slots step by CALENDAR month (add_months),
    * not a fixed second width — a fixed-width fill would drift off the
    * month boundaries the candles sit on. Slot counts are months, so
    * even a centuries-long range is a few thousand elements per
    * symbol: no chunking needed.
    */
  def gapFillMonths(candles: DataFrame): DataFrame = {
    val slots = candles
      .groupBy(col("symbol"))
      .agg(min(col("window_start")).as("lo"), max(col("window_start")).as("hi"))
      .select(col("symbol"), col("lo"),
        explode(sequence(lit(0),
          expr("cast(months_between(hi, lo) as int)"))).as("slot"))
      .select(col("symbol"),
        add_months(col("lo"), col("slot")).cast("timestamp").as("window_start"))
    carryForward(slots, candles)
  }

  /** Gap-fill one timeframe's series with its calendar slot width
    * (fixed seconds for MINUTE/HOUR/DAY — exact in UTC — calendar
    * stepping for MONTH).
    */
  def gapFillTf(candles: DataFrame, tf: String): DataFrame = tf match {
    case CandleTimeFrame.Minute => gapFill(candles, 60L)
    case CandleTimeFrame.Hour   => gapFill(candles, 3600L)
    case CandleTimeFrame.Day    => gapFill(candles, 86400L)
    case CandleTimeFrame.Month  => gapFillMonths(candles)
    case other => throw new IllegalArgumentException(s"unknown timeframe: $other")
  }

  /** Shared carry-forward tail of the gap-fill family: left-join the
    * slot frame to the real candles, carry the last non-null close
    * into empty slots, flag them.
    */
  private def carryForward(slots: DataFrame, candles: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("window_start"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    slots
      .join(candles, Seq("symbol", "window_start"), "left")
      .withColumn("close_filled", last(col("close"), ignoreNulls = true).over(w))
      .withColumn("is_gap", col("close").isNull)
      .withColumn("volume", coalesce(col("volume"), lit(0L)))
  }

  /** OHLCV of raw trades `(price, quantity, ts)` per group: open and
    * close are the event-time first and last price. The one aggregate
    * list of [[minuteCandles]], [[hopCandles]] and
    * `CandleStream.candles`.
    */
  private[graft] def tradeOhlcv(trades: RelationalGroupedDataset): DataFrame =
    trades.agg(
      min_by(col("price"), col("ts")).as("open"),
      max(col("price")).as("high"),
      min(col("price")).as("low"),
      max_by(col("price"), col("ts")).as("close"),
      sum(col("quantity")).cast("long").as("volume"),
      count(lit(1)).as("n_txn"))

  /** OHLCV of child candles per parent group — the reference's
    * aggregateCandles (kt:318-339): open of the earliest child, close
    * of the latest, high/low = max/min, volume and n_txn summed. The
    * one aggregate list of [[rollup]], [[rollupInterval]] and
    * [[rollupEach]].
    */
  private def candleOhlcv(children: RelationalGroupedDataset): DataFrame =
    children.agg(
      min_by(col("open"), col("window_start")).as("open"),
      max(col("high")).as("high"),
      min(col("low")).as("low"),
      max_by(col("close"), col("window_start")).as("close"),
      sum(col("volume")).cast("long").as("volume"),
      sum(col("n_txn")).as("n_txn"))

  /** Exclusive end of the calendar window that starts at `start`. */
  def windowEnd(tf: String, start: Column): Column = tf match {
    case CandleTimeFrame.Minute => start + expr("INTERVAL 1 MINUTE")
    case CandleTimeFrame.Hour   => start + expr("INTERVAL 1 HOUR")
    case CandleTimeFrame.Day    => start + expr("INTERVAL 1 DAY")
    case CandleTimeFrame.Month  => add_months(start, 1).cast("timestamp")
    case other => throw new IllegalArgumentException(s"unknown timeframe: $other")
  }

  /** The reference's Redis key, `candle:{symbol}:{timeFrame}:{fmt}`
    * (CandlestickAggregator.kt:270-296), as a derived column.
    */
  def candleKey(tf: String): Column =
    concat(lit("candle:"), col("symbol"), lit(":"), lit(tf), lit(":"),
      date_format(col("window_start"), CandleTimeFrame.keyFormat(tf)))

  /** candleKey when the timeframe is a column (multi-TF frames). */
  def candleKeyDynamic: Column = {
    val fmt = CandleTimeFrame.all.foldLeft(lit(null).cast("string")) { (acc, tf) =>
      when(col("timeframe") === tf,
        date_format(col("window_start"), CandleTimeFrame.keyFormat(tf))).otherwise(acc)
    }
    concat(lit("candle:"), col("symbol"), lit(":"), col("timeframe"), lit(":"), fmt)
  }

  val candleColumns: Seq[Column] = Seq(
    col("symbol"), col("timeframe"), col("window_start"), col("window_end"),
    col("open"), col("high"), col("low"), col("close"), col("volume"), col("n_txn"))

  // ---- typed Dataset API -----------------------------------------------
  // Same plans as the DataFrame operators (Catalyst sees identical
  // logical trees), with compile-time row types for library users who
  // want Dataset[StockTransaction] ⇒ Dataset[Candle].

  import graft.model.{Candle, StockTransaction}
  import org.apache.spark.sql.Dataset

  def minuteCandlesTyped(txns: Dataset[StockTransaction]): Dataset[Candle] = {
    import txns.sparkSession.implicits._
    minuteCandles(txns.toDF()).as[Candle]
  }

  def rollupTyped(candles: Dataset[Candle], tf: String): Dataset[Candle] = {
    import candles.sparkSession.implicits._
    rollup(candles.toDF(), tf).as[Candle]
  }
}
