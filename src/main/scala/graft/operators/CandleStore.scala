package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DriverReads
import org.apache.spark.sql.types.{DateType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Candle

/** Persistent candle store — the Spark-native replacement for the
  * reference's Redis store (reference:
  * stream/CandlestickAggregator.kt:270-277 saveToRedis;
  * service/CandleStickService.kt key scans).
  *
  * The reference's hierarchical key `candle:{symbol}:{tf}:{date}` maps
  * to a parquet layout partitioned by (timeframe, symbol, window_date),
  * as the merges write it, or by (timeframe, symbol), as [[write]],
  * [[compact]] and the append sink `CandleStream.toStore` write it: a
  * lookup reads one `(timeframe, symbol)` directory at any depth.
  *
  * [[range]], [[point]], [[recent]], [[candleKeys]] and [[keys]] — the
  * batch `q_store_*` / `q_candle_keys` queries — answer through
  * [[LocalStore]], the reader behind every gateway route: they list
  * only the directories their timeframe and/or symbol name and decode
  * those files on the driver, when the DataFrame is built. No Spark job
  * runs, and the frame is a local relation of the answer in the schema
  * of [[graft.model.Candle]], so a numeric-looking symbol such as
  * `0700` stays a string. A named directory that does not exist reads
  * as no rows. Both layouts read this way: `(timeframe, symbol)` from
  * [[write]] and `(timeframe, symbol, window_date)` from
  * `CandleStream.cascadeMerge`. [[read]] stays a Spark scan of the
  * whole store; `CandleQueries` over it is the reference each lookup
  * equals.
  *
  * The incremental write path, `CandleStream.mergeBatchIntoStore` and
  * `CandleStream.cascadeMerge`, is one Spark job per batch
  * ([[CandleMerge]]): its tasks open only the `(timeframe, symbol,
  * window_date)` partitions their rows touch, with Spark's Parquet
  * reader, and the driver swaps the rewritten partitions in.
  * `CandleBackfill` judges a day done from directory listings alone
  * ([[partitions]]).
  */
object CandleStore {

  /** Write a candle frame (Candles.* output) as a partitioned store.
    * Candles within a partition are sorted by window_start so parquet
    * row-group stats give tight min/max bounds for time pruning.
    */
  def write(candles: DataFrame, path: String,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    candles
      .repartition(col("timeframe"), col("symbol"))
      // partition columns lead so the writer's inserted dynamic-
      // partition sort is a no-op and file ordering is preserved
      .sortWithinPartitions(
        col("timeframe"), col("symbol"), col("window_start"))
      .write
      .mode(mode)
      .partitionBy("timeframe", "symbol")
      .parquet(path)

  /** The whole store as a Spark scan, its schema inferred from the
    * files. The path is taken literally, never as a glob, as in every
    * read of the store.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option(DataSource.GLOB_PATHS_KEY, "false").parquet(path)

  /** The schema of [[graft.model.Candle]]: the store's columns. */
  private[graft] val candleSchema: StructType = Encoders.product[Candle].schema

  /** [[candleSchema]] plus the `window_date` partition column. */
  private[operators] val partitionedSchema = candleSchema.add("window_date", DateType)

  /** `parent/column=value`, the value escaped exactly as Spark's
    * partitioned writer escapes it (`A:B` → `symbol=A%3AB`).
    */
  private[graft] def partitionDir(parent: Path, column: String, value: String): Path =
    new Path(parent, ExternalCatalogUtils.getPartitionPathString(column, value))

  /** The values of the `column=value` directories directly under `dir`,
    * unescaped: the inverse of [[partitionDir]]. None when `dir` does
    * not exist.
    */
  private[operators] def partitionValues(fs: FileSystem, dir: Path, column: String): Seq[String] = {
    val prefix = s"$column="
    DriverReads.children(fs, dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .map(n => ExternalCatalogUtils.unescapePathName(n.stripPrefix(prefix)))
  }

  /** The `(symbol, window_date)` values of the
    * `timeframe=tf/symbol=…/window_date=…` directories under `root`,
    * from directory listings alone: no Spark job, and no data file is
    * opened. Empty when there are none.
    */
  private[operators] def partitions(fs: FileSystem, root: Path, tf: String): Seq[(String, String)] = {
    val tfDir = partitionDir(root, "timeframe", tf)
    partitionValues(fs, tfDir, "symbol")
      .flatMap(s => partitionValues(fs, partitionDir(tfDir, "symbol", s), "window_date").map(s -> _))
  }

  /** The candles of `symbol` in `tf` with window_start in `[from,
    * to)`, by window_start: `CandleQueries.range` over the store.
    * `from` and `to` parse as a string → timestamp cast parses them, in
    * the session time zone; one that is not a timestamp is an
    * `IllegalArgumentException` naming it. A driver read through
    * [[LocalStore]] of the one `(timeframe, symbol)` directory, when
    * the frame is built; no Spark job runs.
    */
  def range(spark: SparkSession, path: String, symbol: String, tf: String,
            from: String, to: String): DataFrame = {
    val store = new LocalStore(spark, path)
    def at(ts: String): Long = DriverReads.parseTimestamp(ts, store.zone).getOrElse(
      throw new IllegalArgumentException(s"not a timestamp: $ts"))
    DriverReads.localFrame(spark, candleSchema, store.range(symbol, tf, at(from), at(to), Int.MaxValue))
  }

  /** Point lookup by the reference's date-key format:
    * `CandleQueries.pointLookup` over the store. A driver read through
    * [[LocalStore]] of the one `(timeframe, symbol)` directory, when
    * the frame is built; no Spark job runs.
    */
  def point(spark: SparkSession, path: String, symbol: String, tf: String,
            dateKey: String): DataFrame =
    DriverReads.localFrame(spark, candleSchema, new LocalStore(spark, path).point(symbol, tf, dateKey))

  /** Latest n candles per symbol: `CandleQueries.recent` over the
    * store. A driver read through [[LocalStore]] of each symbol
    * directory under `timeframe=tf`, when the frame is built; no Spark
    * job runs.
    */
  def recent(spark: SparkSession, path: String, tf: String, n: Int): DataFrame = {
    val store = new LocalStore(spark, path)
    DriverReads.localFrame(spark, candleSchema, store.symbols(tf).flatMap(store.recent(_, tf, n)))
  }

  /** Enumerate stored candle keys in the reference's
    * `candle:{symbol}:{TF}:{dateKey}` format, as a one-column `key`
    * frame in key order (reference: service/CandleStickService.kt:176-196
    * getAllCandleKeys / getSymbolCandleKeys /
    * getSymbolTimeFrameCandleKeys — Redis `KEYS candle:…*` scans).
    * Optional symbol/timeframe filters pick the directories read, the
    * analogue of Redis's prefix scan. A driver read through
    * [[LocalStore]], when the frame is built; no Spark job runs.
    */
  def candleKeys(spark: SparkSession, path: String,
                 symbol: Option[String] = None,
                 tf: Option[String] = None): DataFrame =
    DriverReads.localFrame(spark, new StructType().add("key", "string"),
      new LocalStore(spark, path).keys(symbol, tf, None, Int.MaxValue)
        .map(k => InternalRow(UTF8String.fromString(k))))

  /** Compact a store in place: streaming/incremental appends leave
    * many small files per partition; rewrite each (timeframe, symbol)
    * partition as ts-sorted files of reasonable size. Routine
    * operational maintenance for any long-lived partitioned table —
    * at 100 TB run it per-partition behind a manifest, not whole-table.
    */
  def compact(spark: SparkSession, path: String,
              maxRecordsPerFile: Long = 5000000L): Unit = {
    val tmp = path.stripSuffix("/") + ".compact.tmp"
    read(spark, path)
      .repartition(col("timeframe"), col("symbol"))
      .sortWithinPartitions(
        col("timeframe"), col("symbol"), col("window_start"))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("timeframe", "symbol")
      .parquet(tmp)
    StoreOps.swapInPlace(spark, path, tmp)
  }

  /** All stored (timeframe, symbol) combos as two string columns — the
    * analog of the reference's Redis `keys candle:*` scans
    * (CandleStickService.kt:181-196). The values are the partition
    * directory names, listed on the driver when the frame is built; no
    * Spark job runs and no data file is opened.
    */
  def keys(spark: SparkSession, path: String): DataFrame = {
    val store = new LocalStore(spark, path)
    DriverReads.localFrame(spark, StructType(Seq(candleSchema("timeframe"), candleSchema("symbol"))),
      for (tf <- store.timeframes; s <- store.symbols(tf))
        yield InternalRow(UTF8String.fromString(tf), UTF8String.fromString(s)))
  }
}
