package graft.operators

import java.time.LocalDate

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}

import graft.model.Candle

/** Persistent candle store — the Spark-native replacement for the
  * reference's Redis store (reference:
  * stream/CandlestickAggregator.kt:270-277 saveToRedis;
  * service/CandleStickService.kt key scans).
  *
  * The reference's hierarchical key `candle:{symbol}:{tf}:{date}` maps
  * to a parquet layout partitioned by (timeframe, symbol): a point or
  * range lookup prunes to one directory, and the date predicate prunes
  * row groups via parquet min/max stats on window_start. At 100 TB,
  * this is the difference between a full scan and reading a few
  * megabytes; with ~thousands of symbols, directory count stays
  * manageable (4 TFs × |symbols|). For ultra-high symbol cardinality,
  * swap `symbol` for `pmod(xxhash64(symbol), nBuckets)` — the read
  * path below would then prune on the bucket column.
  *
  * [[range]], [[point]], [[recent]] and [[candleKeys]] — the batch
  * `q_store_*` queries — never resolve the whole store: they read only
  * the directories their timeframe and/or symbol name, with the schema
  * of [[graft.model.Candle]] instead of one inferred from parquet
  * footers. That skips both the full-store listing and the
  * footer-inference job, and keeps a numeric-looking symbol such as
  * `0700` a string. A named directory that does not exist reads as an
  * empty frame. Both layouts resolve this way: `(timeframe, symbol)`
  * from [[write]] and `(timeframe, symbol, window_date)` from
  * `CandleStream.cascadeMerge`. The HTTP gateway answers the same
  * queries without a Spark job, reading the same directories on the
  * driver (`graft.serving.LocalStore`).
  *
  * The incremental write path reads the same way, one level deeper:
  * `CandleStream.mergeBatchIntoStore` opens only the `(timeframe,
  * symbol, window_date)` partitions its batch touches
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

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The schema of [[graft.model.Candle]]: the store's columns. */
  private[graft] val candleSchema: StructType = Encoders.product[Candle].schema

  /** [[candleSchema]] plus the `window_date` partition column. */
  private val partitionedSchema = candleSchema.add("window_date", DateType)

  /** The `timeframe=…` partition directories directly under `root`. */
  private def timeframeDirs(fs: FileSystem, root: Path): Seq[Path] =
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("timeframe="))

  /** `parent/column=value`, the value escaped exactly as Spark's
    * partitioned writer escapes it (`A:B` → `symbol=A%3AB`).
    */
  private[graft] def partitionDir(parent: Path, column: String, value: String): Path =
    new Path(parent, ExternalCatalogUtils.getPartitionPathString(column, value))

  /** The store restricted to the `timeframe=…/symbol=…` directories
    * that `tf` and `symbol` name (an absent filter spans every stored
    * value), read with the model schema. Directory names are escaped
    * exactly as Spark's partitioned writer escapes them; directories
    * that do not exist are skipped, and when none exists the result
    * is an empty frame rather than a PATH_NOT_FOUND error.
    */
  private def readScoped(spark: SparkSession, path: String,
                         tf: Option[String], symbol: Option[String]): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tfDirs = tf match {
      case Some(t) => Seq(partitionDir(root, "timeframe", t))
      case None => timeframeDirs(fs, root)
    }
    readDirs(spark, path, fs,
      symbol.fold(tfDirs)(s => tfDirs.map(partitionDir(_, "symbol", s))), candleSchema)
  }

  /** The `(timeframe, symbol, window_date)` partitions named by `keys`
    * — [[readScoped]] one level deeper, with `window_date` (a
    * `yyyy-MM-dd` string, as the writer formats a date partition) as
    * the third level. Read with the model schema plus `window_date`;
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
    */
  private def readDirs(spark: SparkSession, path: String, fs: FileSystem,
                       dirs: Seq[Path], schema: StructType): DataFrame = {
    val present = dirs.distinct.filter(fs.exists)
    if (present.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", path)
      .parquet(present.map(_.toString): _*)
  }

  /** The `window_date` values stored under timeframe `tf`, for any
    * symbol, from a glob over the `window_date=` directories under
    * `timeframe=tf` through the Hadoop FileSystem: no Spark job, and
    * no data file is opened. Empty when the store does not exist.
    */
  private[graft] def windowDates(spark: SparkSession, path: String, tf: String): Set[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = "window_date="
    Option(fs.globStatus(new Path(partitionDir(root, "timeframe", tf), s"symbol=*/$prefix*")))
      .toSeq.flatten.filter(_.isDirectory).map(_.getPath.getName)
      .map(n => ExternalCatalogUtils.unescapePathName(n.stripPrefix(prefix))).toSet
  }

  /** Range query against the store: reads the one (timeframe, symbol)
    * directory; the window_start range hits row-group pruning.
    */
  def range(spark: SparkSession, path: String, symbol: String, tf: String,
            from: String, to: String): DataFrame =
    CandleQueries.range(readScoped(spark, path, Some(tf), Some(symbol)),
      symbol, tf, from, to)

  /** Point lookup by the reference's date-key format, over the one
    * (timeframe, symbol) directory.
    */
  def point(spark: SparkSession, path: String, symbol: String, tf: String,
            dateKey: String): DataFrame =
    CandleQueries.pointLookup(readScoped(spark, path, Some(tf), Some(symbol)),
      symbol, tf, dateKey)

  /** Latest n candles per symbol from the store (reads the timeframe's
    * directory only; per-symbol top-k via WindowGroupLimit, no global
    * sort).
    */
  def recent(spark: SparkSession, path: String, tf: String, n: Int): DataFrame =
    CandleQueries.recent(readScoped(spark, path, Some(tf), None), tf, n)

  /** Enumerate stored candle keys in the reference's
    * `candle:{symbol}:{TF}:{dateKey}` format (reference:
    * service/CandleStickService.kt:176-196 getAllCandleKeys /
    * getSymbolCandleKeys / getSymbolTimeFrameCandleKeys — Redis
    * `KEYS candle:…*` scans). Optional symbol/timeframe filters pick
    * the directories read, so a filtered enumeration resolves only the
    * matching directories instead of the whole store — the Spark
    * analogue of Redis's prefix scan. The same filters also stay on the
    * partition columns, so the plan shows them as PartitionFilters.
    */
  def candleKeys(spark: SparkSession, path: String,
                 symbol: Option[String] = None,
                 tf: Option[String] = None): DataFrame =
    Seq(symbol.map(col("symbol") === _), tf.map(col("timeframe") === _)).flatten
      .foldLeft(readScoped(spark, path, tf, symbol))(_.filter(_))
      .select(Candles.candleKeyDynamic.as("key"))
      .orderBy("key")

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

  /** Bucketed store layout for ultra-high symbol cardinality: with
    * millions of symbols, one directory per symbol explodes the
    * filesystem metadata, so partition by (timeframe, symbol_bucket =
    * hash(symbol) mod nBuckets) instead. A symbol lookup computes its
    * bucket (pruning to 1/nBuckets of the data), and parquet row-group
    * stats on the symbol column prune inside the bucket (files are
    * written symbol-then-time sorted to keep those stats tight).
    */
  def writeBucketed(candles: DataFrame, path: String, nBuckets: Int = 64,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    candles
      .withColumn("symbol_bucket", pmod(xxhash64(col("symbol")), lit(nBuckets)))
      .repartition(col("timeframe"), col("symbol_bucket"))
      // lead with the partition columns: the dynamic-partition writer
      // inserts its own sort on (timeframe, symbol_bucket) otherwise,
      // which would reorder rows and loosen the per-file symbol/time
      // row-group stats the pruning claim above relies on
      .sortWithinPartitions(
        col("timeframe"), col("symbol_bucket"), col("symbol"), col("window_start"))
      .write
      .mode(mode)
      .partitionBy("timeframe", "symbol_bucket")
      .parquet(path)

  /** Range query against a bucketed store: timeframe + the symbol's
    * bucket hit partition pruning; symbol + time predicates hit
    * row-group pruning inside the bucket.
    */
  def rangeBucketed(spark: SparkSession, path: String, symbol: String,
                    tf: String, from: String, to: String,
                    nBuckets: Int = 64): DataFrame = {
    val bucketed = read(spark, path)
      .filter(col("symbol_bucket") ===
        pmod(xxhash64(lit(symbol)), lit(nBuckets)))
    CandleQueries.range(bucketed, symbol, tf, from, to)
      .drop("symbol_bucket")
  }

  /** All stored (timeframe, symbol) combos — the analog of the
    * reference's Redis `keys candle:*` scans
    * (CandleStickService.kt:181-196). The values come from partition
    * directory names, but resolving the whole store and the distinct
    * still run Spark jobs over it.
    */
  def keys(spark: SparkSession, path: String): DataFrame =
    read(spark, path).select(col("timeframe"), col("symbol")).distinct()
}
