package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.model.CandleTimeFrame
import graft.operators.{CandleMerge, CandleRows, Candles}

/** Structured Streaming candlestick pipeline — the direct analog of
  * the reference's Kafka Streams topology
  * (reference: stream/CandlestickAggregator.kt:75-198):
  * KStream.groupByKey().windowedBy(TimeWindows).aggregate(...)
  * becomes withWatermark + groupBy(window(ts), symbol).agg(...).
  *
  * Source-agnostic: any streaming DataFrame with
  * (symbol string, price double, quantity int, ts timestamp) works —
  * a Kafka source (`spark.readStream.format("kafka")` + JSON parse,
  * the production shape), a file stream (used in tests/verify), or
  * MemoryStream. Spark owns the windowed state (RocksDB-backed state
  * store on a cluster) the way Kafka Streams owns its Materialized
  * store.
  *
  * The reference's `ofSizeWithNoGrace` ≙ watermark "0 seconds";
  * production should pass a real lateness budget.
  */
object CandleStream {

  /** True when the Kafka connector (spark-sql-kafka) is on the
    * classpath. The connector is an OPTIONAL runtime dependency: this
    * build adds no jars (offline sandbox — see README), so the
    * binding below resolves `format("kafka")` at runtime and callers
    * can gate on this check instead of crashing at stream start.
    */
  def kafkaConnectorAvailable: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
      true
    } catch { case _: ClassNotFoundException => false }

  /** Bind a real Kafka topic as the transaction source:
    * readStream.format("kafka") → [[fromKafkaShaped]]. Compiles and
    * ships without the connector jar (format lookup is runtime);
    * fails fast with a pointed error when the jar is absent. With the
    * connector present this is the reference's ingest verbatim
    * (reference: config/KafkaConfig.kt:1-60,
    * stream/CandlestickAggregator.kt:80-84); the byte-level payload
    * contract itself is proven offline over MemoryStream-fed binary
    * frames (KafkaContractSpec).
    */
  def kafkaSource(spark: SparkSession, bootstrapServers: String,
                  topic: String,
                  startingOffsets: String = "latest"): DataFrame = {
    require(kafkaConnectorAvailable,
      "spark-sql-kafka is not on the classpath; add the " +
        "spark-sql-kafka-0-10 jar matching your Spark version " +
        "(offline builds prove the payload contract over MemoryStream " +
        "instead — see KafkaContractSpec)")
    fromKafkaShaped(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .load())
  }

  /** Parse a Kafka-shaped frame (binary `key`/`value` columns, the
    * schema `spark.readStream.format("kafka")` produces) into the
    * transaction shape, mirroring the reference's JsonSerde topic
    * payloads (reference: config/KafkaConfig.kt; the producer sends
    * `{"symbol","price","quantity","timestamp"}` JSON,
    * simulator/StockTransactionGenerator.kt:60-67). The Kafka
    * connector jar supplies the source; this function owns the
    * payload contract and works on any binary-keyed frame.
    */
  def fromKafkaShaped(kafka: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val payload = StructType(Seq(
      StructField("symbol", StringType), StructField("price", DoubleType),
      StructField("quantity", IntegerType), StructField("timestamp", TimestampType)))
    kafka
      .select(from_json(col("value").cast("string"), payload).as("t"))
      // unparseable frames (malformed JSON / wrong shape / missing any
      // field) are dropped, mirroring Kafka Streams' all-or-nothing
      // JsonSerde deserialization, rather than flowing into the
      // aggregation as null-key or null-volume rows
      .filter(col("t").isNotNull && col("t.symbol").isNotNull &&
        col("t.price").isNotNull && col("t.quantity").isNotNull &&
        col("t.timestamp").isNotNull)
      .select(col("t.symbol").as("symbol"), col("t.price").as("price"),
        col("t.quantity").as("quantity"), col("t.timestamp").as("ts"))
  }

  /** Candle frame → Kafka-producer shape: binary key = symbol, binary
    * value = the candle as a JSON payload, plus the target topic — the
    * columns `writeStream.format("kafka")` consumes. Mirrors the
    * reference re-publishing its candle stream to an output topic
    * (reference: stream/CandlestickAggregator.kt:190-193,
    * `minuteCandleStream.to(candlesTopic)` with JsonSerde). Timestamps
    * are ISO strings in the payload so any JSON consumer can parse
    * them without Spark's epoch conventions.
    */
  def toKafkaShaped(candles: DataFrame, topic: String = "candles"): DataFrame =
    candles.select(
      col("symbol").cast("binary").as("key"),
      to_json(struct(
        col("symbol"), col("timeframe"),
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_txn"))).cast("binary").as("value"),
      lit(topic).as("topic"))

  /** Tumbling-window OHLCV aggregation of a transaction stream at one
    * timeframe. Emits the same candle schema as the batch
    * Candles.minuteCandles/rollup. Watermark + append mode emit each
    * candle exactly once when its window expires — the reference's
    * "aggregate on window close" behavior (CandlestickAggregator.kt:92).
    */
  def candles(txns: DataFrame, tf: String,
              watermark: String = "0 seconds"): DataFrame = {
    val winExpr = tf match {
      case CandleTimeFrame.Minute => window(col("ts"), "1 minute")
      case CandleTimeFrame.Hour   => window(col("ts"), "1 hour")
      case CandleTimeFrame.Day    => window(col("ts"), "1 day")
      // streaming windows are fixed-length: 30d approximates MONTH the
      // same way the reference's Duration.ofDays(30) does (kt:168);
      // exact calendar months are a batch rollup concern (SURVEY §4)
      case CandleTimeFrame.Month  => window(col("ts"), "30 days")
      case other => throw new IllegalArgumentException(s"unknown timeframe: $other")
    }
    Candles.tradeOhlcv(txns
      .withWatermark("ts", watermark)
      .groupBy(winExpr.as("w"), col("symbol")))
      .withColumn("timeframe", lit(tf))
      .withColumn("window_start", col("w.start"))
      .withColumn("window_end", col("w.end"))
      .select(Candles.candleColumns: _*)
  }

  /** The four cascaded timeframes as independent streaming aggs over
    * the same source (the reference runs four windowed streams off the
    * minute stream, kt:119-186; Spark can't chain streaming aggs in
    * append mode, so each TF aggregates the source directly — same
    * results, and the minute-level pre-aggregation trick remains
    * available via foreachBatch for state-size-critical deployments).
    */
  def multiTimeframe(txns: DataFrame, watermark: String = "0 seconds"): DataFrame =
    CandleTimeFrame.all
      .map(candles(txns, _, watermark))
      .reduce(_ unionByName _)

  /** Sink candles to the partitioned CandleStore layout
    * (reference's saveToRedis ≙ partitioned parquet append).
    */
  def toStore(candles: DataFrame, path: String,
              checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    candles.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("timeframe", "symbol")
      .outputMode("append")

  /** Upsert sink — the reference's Redis behavior (saveToRedis
    * overwrites the window's key on every update,
    * CandlestickAggregator.kt:270-277): candles stream in UPDATE mode
    * (each batch emits the windows that changed) and foreachBatch
    * merges each batch into the store with [[mergeBatchIntoStore]] —
    * the store always holds the latest version of every candle, without
    * rewriting history. Requires no watermark wait: current windows are
    * visible immediately and refined in place. `candles` must meet
    * [[mergeBatchIntoStore]]'s preconditions in every batch, as an
    * update-mode aggregation by (timeframe, symbol, window) does.
    */
  def upsertToStore(candles: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    candles.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (rawBatch: DataFrame, _: Long) =>
        mergeBatchIntoStore(rawBatch, path)
      }
      .start()

  /** Merge one candle batch into the partitioned store as one Spark job
    * ([[graft.operators.CandleMerge]]): the batch is grouped by
    * (timeframe, symbol, window_date), and each group's task rewrites
    * that partition, its stored rows with those the batch supersedes
    * (same window_start) replaced. Nothing is rolled up. The rewritten
    * partitions are swapped in by timeframe, MINUTE, HOUR and MONTH
    * first and DAY last; no partition the batch does not touch is read
    * or written. The batch is computed once. The store at `path` need
    * not exist yet.
    *
    * Preconditions: the batch has the candle columns of
    * [[Candles.candleColumns]] and at most one candle per (timeframe,
    * symbol, window_start) (checked), and no other merge writes the
    * store meanwhile.
    */
  def mergeBatchIntoStore(rawBatch: DataFrame, path: String): Unit =
    CandleMerge(rawBatch, path)((rows, r) =>
      (r.getUTF8String(CandleRows.Timeframe).toString, r.getUTF8String(CandleRows.Symbol).toString, rows.date(r))) {
      case (stored, (tf, symbol, day), batch) => CandleMerge.replace(stored.read(tf, symbol, day), batch)
    }

  /** The reference's full cascade as an incremental streaming
    * materialization (reference: CandlestickAggregator.kt:119-186 —
    * the minute candle stream is re-windowed into HOUR/DAY/MONTH):
    * each micro-batch runs [[cascadeMerge]], one Spark job that
    * rewrites only the (timeframe, symbol, window_date) partitions the
    * batch touches, swapping DAY in last. The work per batch follows
    * the days it touches, not the history stored. `minuteCandles` must
    * meet [[cascadeMerge]]'s preconditions in every batch, as
    * [[candles]] at MINUTE in update mode does.
    */
  def cascadeToStore(minuteCandles: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    minuteCandles.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (minuteBatch: DataFrame, _: Long) =>
        cascadeMerge(minuteBatch, path)
      }
      .start()

  /** One cascade step, shared by the streaming sink and the batch
    * backfill, as one Spark job ([[graft.operators.CandleMerge]]): the
    * minute batch is grouped by (symbol, month), and each group's task
    *  1. merges the batch's minutes into the stored MINUTE partition of
    *     each day they touch (same window_start replaced), so it holds
    *     each of those days whole;
    *  1. rolls the HOUR and DAY candles of those days up from them;
    *  1. rolls the MONTH candle up from those DAY candles and the
    *     month's other stored DAY partitions.
    * The HOUR, DAY and MONTH partitions it writes are recomputed
    * whole, never read back. Every rewritten partition is swapped in
    * by timeframe: MINUTE, HOUR, MONTH, and DAY last, which
    * `CandleBackfill` relies on. The roll-up ([[graft.operators.CandleRows]]) equals
    * [[Candles.rollupEach]] bit for bit, so the store equals
    * [[Candles.multiTimeframe]] over the same trades.
    *
    * Preconditions: the batch rows are MINUTE candles with the candle
    * columns of [[Candles.candleColumns]], no null OHLCV column and one
    * candle per (symbol, window_start) (all checked); a stored MINUTE
    * partition holds every minute candle of its (symbol, date), true of
    * any store written only by these merges; the stored DAY candles of
    * every other day of a touched month are current, since MONTH is
    * rolled from them; and no other merge writes the store meanwhile.
    * A cascade interrupted during its swaps leaves some of its days
    * without a current DAY partition; re-running it (a streaming retry
    * of the batch, or `CandleBackfill`, which re-processes such days)
    * restores them.
    */
  def cascadeMerge(minuteBatch: DataFrame, path: String): Unit =
    CandleMerge(minuteBatch, path)((rows, r) =>
      (r.getUTF8String(CandleRows.Symbol).toString, rows.month(rows.date(r)))) {
      case (stored, (symbol, month), minutes) =>
        val rows = stored.rows
        require(minutes.forall(_.getUTF8String(CandleRows.Timeframe).toString == CandleTimeFrame.Minute),
          "cascadeMerge takes MINUTE candles")
        val days = minutes.groupBy(rows.date).toSeq.sortBy(_._1).map { case (day, batch) =>
          day -> CandleMerge.replace(stored.read(CandleTimeFrame.Minute, symbol, day), batch)
        }
        val merged = days.flatMap(_._2)
        val dayCandles = rows.rollup(merged, CandleTimeFrame.Day)
        val storedDays = stored.days(CandleTimeFrame.Day, symbol)
          .filter(d => rows.month(d) == month && !days.exists(_._1 == d))
          .flatMap(stored.read(CandleTimeFrame.Day, symbol, _))
        merged ++ rows.rollup(merged, CandleTimeFrame.Hour) ++ dayCandles ++
          rows.rollup(dayCandles ++ storedDays, CandleTimeFrame.Month)
    }

  /** Run a streaming candle pipeline over a bounded source to
    * completion and return the full result — used by verify/tests to
    * prove stream==batch. Complete mode keeps every window (no
    * watermark-held-back tail), so the result is comparable 1:1 with
    * the batch aggregation.
    */
  def runBoundedToMemory(spark: SparkSession, candleStream: DataFrame,
                         name: String): DataFrame =
    runBounded(spark, candleStream, name, "complete")

  /** Append-mode sibling of [[runBoundedToMemory]] for operators that
    * emit rows incrementally (flatMapGroupsWithState append output,
    * projection streams): the memory sink accumulates every appended
    * row across micro-batches.
    */
  def runBoundedToMemoryAppend(spark: SparkSession, stream: DataFrame,
                               name: String): DataFrame =
    runBounded(spark, stream, name, "append")

  private def runBounded(spark: SparkSession, stream: DataFrame,
                         name: String, mode: String): DataFrame = {
    val q = stream.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }
}
