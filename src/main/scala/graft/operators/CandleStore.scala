package graft.operators

import java.time.LocalDate

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
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
  * to a parquet layout partitioned by (timeframe, symbol): a point or
  * range lookup reads one directory; with ~thousands of symbols,
  * directory count stays manageable (4 TFs × |symbols|).
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
  * The incremental write path reads with Spark scans, the only ones
  * besides [[read]]: `CandleStream.mergeBatchIntoStore` opens only the
  * `(timeframe, symbol, window_date)` partitions its batch touches
  * ([[readPartitions]]), and `CandleStream.cascadeMerge` rolls each
  * touched month up from that month's stored DAY partitions
  * ([[readDates]]), not from its minutes. `CandleBackfill` judges a
  * day done from the DAY directory listing alone ([[windowDates]]).
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
  private val partitionedSchema = candleSchema.add("window_date", DateType)

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

  /** The `(timeframe, symbol, window_date)` partitions named by `keys`,
    * with `window_date` a `yyyy-MM-dd` string, as the writer formats a
    * date partition. Read with the model schema plus `window_date`;
    * absent partitions are skipped. A merge reads its partitions
    * this way: it lists and opens just these directories, never the
    * whole store.
    */
  private[graft] def readPartitions(spark: SparkSession, path: String,
                                    keys: Seq[(String, String, String)]): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readDirs(spark, path, fs, keys.map { case (tf, symbol, date) =>
      partitionDir(partitionDir(partitionDir(root, "timeframe", tf), "symbol", symbol),
        "window_date", date)
    }, partitionedSchema)
  }

  /** The stored `tf` candles of each symbol in `dates` whose
    * window_date is one of the dates listed for it, read with the
    * model schema plus `window_date`. Each symbol's `tf` directory is
    * read once, and a partition filter keeps the listed dates: a span
    * of dates (a month's days) then costs one path per symbol, where a
    * path per date would soon pass Spark's parallel-listing threshold
    * and run a listing job. Absent symbols and dates are skipped.
    */
  private[graft] def readDates(spark: SparkSession, path: String, tf: String,
                               dates: Map[String, Set[LocalDate]]): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tfDir = partitionDir(root, "timeframe", tf)
    readDirs(spark, path, fs, dates.keys.toSeq.map(partitionDir(tfDir, "symbol", _)),
      partitionedSchema)
      .filter(dates.foldLeft(lit(false)) { case (keep, (symbol, ds)) =>
        keep || (col("symbol") === symbol && col("window_date").isin(ds.toSeq: _*))
      })
  }

  /** The existing ones of `dirs` (partition directories under the store
    * at `path`) read with `schema`, or an empty frame when none exists.
    * Paths are taken literally, so a store root whose name holds glob
    * metacharacters (`run[1]`) still reads.
    */
  private def readDirs(spark: SparkSession, path: String, fs: FileSystem,
                       dirs: Seq[Path], schema: StructType): DataFrame = {
    val present = dirs.distinct.filter(fs.exists)
    if (present.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", path)
      .option(DataSource.GLOB_PATHS_KEY, "false")
      .parquet(present.map(_.toString): _*)
  }

  /** The `window_date` values stored under timeframe `tf`, for any
    * symbol, from a listing of the `symbol=…/window_date=…` directories
    * under `timeframe=tf`: no Spark job, and no data file is opened.
    * Empty when the store does not exist.
    */
  private[graft] def windowDates(spark: SparkSession, path: String, tf: String): Set[String] = {
    val tfDir = partitionDir(new Path(path), "timeframe", tf)
    val fs = tfDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    partitionValues(fs, tfDir, "symbol")
      .flatMap(s => partitionValues(fs, partitionDir(tfDir, "symbol", s), "window_date")).toSet
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
