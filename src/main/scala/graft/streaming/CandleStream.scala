package graft.streaming

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.model.CandleTimeFrame
import graft.operators.{CandleStore, Candles}

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
    * rewrites exactly the affected (timeframe, symbol, window date)
    * partitions via dynamic partition overwrite — the store always
    * holds the latest version of every candle, without rewriting
    * history. Requires no watermark wait: current windows are visible
    * immediately and refined in place.
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

  /** Merge one candle batch into the partitioned store: rewrite
    * exactly the (timeframe, symbol, window_date) partitions the batch
    * touches via dynamic partition overwrite, carrying their unchanged
    * rows. The batch is computed once (persisted here, so a caller
    * need not persist it), its few partition keys are collected, and
    * only those partition directories are read back
    * ([[CandleStore.readPartitions]]); stored rows the batch supersedes
    * (same timeframe, symbol and window_start) are dropped. The store
    * at `path` need not exist yet. The batch must have the candle
    * columns of [[Candles.candleColumns]].
    */
  def mergeBatchIntoStore(rawBatch: DataFrame, path: String): Unit =
    mergePartitions(rawBatch, path)((_, _) => ())

  /** [[mergeBatchIntoStore]], then `andThen` on the rewritten
    * partitions: the merged rows (persisted until `andThen` returns)
    * and their (timeframe, symbol, window_date) keys.
    */
  private def mergePartitions(rawBatch: DataFrame, path: String)
      (andThen: (DataFrame, Seq[(String, String, String)]) => Unit): Unit = {
    val spark = rawBatch.sparkSession
    val partCols = Seq("timeframe", "symbol", "window_date")
    val keyCols = Seq("timeframe", "symbol", "window_start")
    val batch = rawBatch.withColumn("window_date", to_date(col("window_start"))).persist()
    try {
      // the string cast formats a date the way the partitioned writer
      // names its directory, so the directories read are those written
      val keys = batch.select(partCols.map(col(_).cast("string")): _*).distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      val merged = CandleStore.readPartitions(spark, path, keys)
        .join(broadcast(batch.select(keyCols.map(col): _*)), keyCols, "left_anti")
        .unionByName(batch)
        // one task writes each partition, so it is one file
        .repartition(partCols.map(col): _*)
        .persist()
      try {
        // materialize before writing: the write target is also the read
        // source, which Spark (rightly) refuses without a barrier
        merged.count()
        // a writer option, not the session conf: the session is shared
        merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*)
          .parquet(path)
        andThen(merged, keys)
      } finally merged.unpersist()
    } finally batch.unpersist()
  }

  /** The reference's full cascade as an incremental streaming
    * materialization (reference: CandlestickAggregator.kt:119-186 —
    * the minute candle stream is re-windowed into HOUR/DAY/MONTH):
    * each micro-batch runs [[cascadeMerge]], which rewrites only the
    * (timeframe, symbol, window_date) partitions the batch touches.
    * The store always holds a consistent view of all four timeframes,
    * and the work per batch follows the days it touches, not the
    * history stored.
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
    * backfill, as two merges ([[mergeBatchIntoStore]]):
    *  1. the minute batch is merged; the merged minute partitions are
    *     kept (persisted) — each is one (symbol, date), whole;
    *  1. one aggregate ([[Candles.rollupEach]]) rolls the HOUR and DAY
    *     candles of those dates up from them, and the MONTH candle of
    *     each touched (symbol, month) from the month's stored DAY
    *     candles, with each touched day's minutes in place of its
    *     stale DAY candle; the three timeframes are merged in one
    *     write.
    *
    * DAY is thus written after MINUTE, which `CandleBackfill` relies
    * on. The month roll-up is exact: the OHLCV aggregate is min/max,
    * min_by/max_by on window_start and long sums over children with
    * disjoint time spans, so it equals the minute→month rollup bit for
    * bit.
    *
    * Preconditions: a stored MINUTE partition holds every minute
    * candle of its (symbol, date) — true of any store written only by
    * these merges, which carry a partition's unchanged rows — and the
    * stored DAY candles of every other day of a touched month are
    * current, since MONTH is rolled from them. A cascade interrupted
    * between its two merges leaves its days without a current DAY
    * candle; re-running it (a streaming retry of the batch, or
    * `CandleBackfill`, which re-processes days that lack one) restores
    * both.
    */
  def cascadeMerge(minuteBatch: DataFrame, path: String): Unit =
    mergePartitions(minuteBatch, path) { (minutes, keys) =>
      val touched = keys.map { case (_, symbol, date) => (symbol, LocalDate.parse(date)) }.toSet
      val otherDays = touched.flatMap { case (symbol, date) =>
        val first = date.withDayOfMonth(1)
        (0 until date.lengthOfMonth).map(i => (symbol, first.plusDays(i)))
      } -- touched
      val storedDays = CandleStore.readDates(minuteBatch.sparkSession, path,
        CandleTimeFrame.Day, otherDays.groupMap(_._1)(_._2))
      mergeBatchIntoStore(Candles.rollupEach(Seq(
        minutes -> Seq(CandleTimeFrame.Hour, CandleTimeFrame.Day, CandleTimeFrame.Month),
        storedDays -> Seq(CandleTimeFrame.Month))), path)
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
