package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic trade-stream simulator — the analog of the
  * reference's StockTransactionGenerator
  * (reference: simulator/StockTransactionGenerator.kt:38-82: 5 symbols,
  * bounded random price movement around a per-symbol base, quantity
  * 1..100, one event per symbol per second).
  *
  * The reference keeps mutable driver-side state (currentPrices) —
  * inherently serial. Here the price path is a pure function of
  * (symbol, tick): base price modulated by a slow sine plus hash
  * noise. Stateless ⇒ every rate-source micro-batch row maps
  * independently ⇒ scales to any executor count, and runs are
  * reproducible (hash noise, no RNG).
  */
object TransactionSimulator {

  /** (symbol, base price) — StockTransactionGenerator.kt:27-34. */
  val symbols: Seq[(String, Double)] = Seq(
    "AAPL" -> 150.0, "GOOGL" -> 2800.0, "MSFT" -> 300.0,
    "AMZN" -> 3400.0, "TSLA" -> 900.0)

  /** Streaming source: `rowsPerSecond` ticks/sec, each tick fanned out
    * to one transaction per symbol (the reference emits all symbols
    * each scheduled second, kt:41-45).
    */
  def stream(spark: SparkSession, rowsPerSecond: Int = 5): DataFrame =
    shape(spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load())

  /** Deterministic throughput-bench source: `rate-micro-batch` emits
    * exactly `ticksPerBatch` ticks per trigger (machine-speed
    * independent, unlike the wall-clock `rate` source), and event
    * time is derived from the tick id at `ticksPerEventSecond` ticks
    * per event-second — so each micro-batch advances event time by
    * the same fixed span, watermarks march deterministically, and
    * windows close on a fixed per-batch cadence. One txn per symbol
    * per tick, like [[stream]] (perfbench's `ingest` workload is the
    * consumer).
    */
  def streamMicroBatch(spark: SparkSession, ticksPerBatch: Long,
                       ticksPerEventSecond: Long = 2048,
                       startEpoch: Long = 1704067200L): DataFrame =
    shape(spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", ticksPerBatch)
      .option("numPartitions", spark.sparkContext.defaultParallelism)
      .load()
      .select(
        timestamp_seconds(lit(startEpoch)
          + col("value") / lit(ticksPerEventSecond.toDouble)).as("timestamp"),
        col("value")))

  /** User-grain source for state-cardinality benchmarks
    * (STATEBENCH_r9–r15.json): one event per tick, `user_id = tick mod
    * nUsers` so exactly `min(nUsers, ticksPerBatch)` distinct state
    * keys are touched each micro-batch — the key-cardinality regime a
    * user-grain 100 TB stream puts on the state store (millions of
    * keys, every batch touching most of them), which the 5-symbol
    * candle workloads never exercise. Event time marches like
    * [[streamMicroBatch]] (pure function of tick id → deterministic
    * watermark advance, machine-speed independent).
    */
  def userStreamMicroBatch(spark: SparkSession, ticksPerBatch: Long,
                           nUsers: Long,
                           ticksPerEventSecond: Long = 2048,
                           startEpoch: Long = 1704067200L): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", ticksPerBatch)
      .option("numPartitions", spark.sparkContext.defaultParallelism)
      .load()
      .select(
        timestamp_seconds(lit(startEpoch)
          + col("value") / lit(ticksPerEventSecond.toDouble)).as("ts"),
        pmod(col("value"), lit(nUsers)).as("user_id"),
        // a payload column so the agg does real work per event
        (pmod(xxhash64(col("value")), lit(10000L)) / lit(100.0)).as("amount"))

  /** Bounded batch variant for tests: `n` ticks starting at epoch
    * second `startEpoch`.
    */
  def batch(spark: SparkSession, n: Long, startEpoch: Long = 1704067200L): DataFrame =
    shape(spark.range(0, n).select(
      timestamp_seconds(lit(startEpoch) + col("id")).as("timestamp"),
      col("id").as("value")))

  /** rate-source shape (timestamp, value) → one txn per symbol. */
  private def shape(rate: DataFrame): DataFrame = {
    val syms = array(symbols.map { case (s, b) => struct(lit(s).as("symbol"), lit(b).as("base")) }: _*)
    val noise = pmod(xxhash64(col("symbol"), col("value")), lit(1000L)) / lit(1000.0)
    rate
      .select(col("timestamp").as("ts"), col("value"), explode(syms).as("s"))
      .select(col("ts"), col("value"), col("s.symbol").as("symbol"), col("s.base").as("base"))
      .withColumn("price",
        round(col("base") * (lit(1.0)
          + lit(0.02) * sin(col("value") / lit(600.0))   // slow drift
          + lit(0.01) * (noise - lit(0.5))), 2))          // bounded jitter ≤1% (kt:53)
      .withColumn("quantity",
        (pmod(xxhash64(col("symbol"), col("value"), lit(7L)), lit(100L)) + 1).cast("int"))
      .select(col("symbol"), col("price"), col("quantity"), col("ts"))
  }
}
