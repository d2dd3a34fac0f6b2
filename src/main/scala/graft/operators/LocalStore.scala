package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.{DriverReads, PartitionReader}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

import graft.model.CandleTimeFrame

/** The candle store at `root` read on the driver: the store's one
  * reader for lookups, behind both [[CandleStore]]'s `range`, `point`,
  * `recent`, `candleKeys` and `keys` and every gateway route. A lookup
  * lists the `timeframe=…/symbol=…` directories it names and decodes
  * their data files with Spark's own Parquet reader (built once here),
  * so no Spark job runs. Both store layouts read this way,
  * `(timeframe, symbol)` and `(timeframe, symbol, window_date)`, since
  * the files under a symbol directory are listed at any depth. Rows are
  * in the candle schema ([[CandleStore.candleSchema]]); only the rows a
  * lookup returns are copied, so a request holds at most its reply on
  * the heap.
  *
  * The reference each lookup must equal is the `CandleQueries` query of
  * the same name over a frame of the same candles: timestamps parse as
  * a cast parses them and keys format as `date_format` formats them,
  * both in the session time zone.
  */
private[graft] final class LocalStore(spark: SparkSession, root: String) {
  private val rootPath = new Path(root)
  private val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
  private val reader = new PartitionReader(spark, CandleStore.candleSchema, Seq("symbol", "timeframe"))
  private val windowStart = CandleStore.candleSchema.fieldIndex("window_start")

  /** Per thread: under the legacy parser policy a formatter wraps a
    * `SimpleDateFormat`, which threads must not share.
    */
  private val keyFormatters = ThreadLocal.withInitial(() => CandleTimeFrame.all
    .map(tf => tf -> DriverReads.timestampFormatter(spark, CandleTimeFrame.keyFormat(tf))).toMap)
  private val byStart: Ordering[InternalRow] = Ordering.by(_.getLong(windowStart))

  val zone: java.time.ZoneId = DriverReads.sessionZone(spark)

  private def tfDir(tf: String): Path = CandleStore.partitionDir(rootPath, "timeframe", tf)

  private def scan(symbol: String, tf: String)(f: InternalRow => Unit): Unit =
    reader.foreach(CandleStore.partitionDir(tfDir(tf), "symbol", symbol), Seq(symbol, tf))(f)

  /** The first `k` candles with window_start in `[from, to)` (epoch
    * microseconds), by window_start.
    */
  def range(symbol: String, tf: String, from: Long, to: Long, k: Int): Seq[InternalRow] = {
    val least = new Least(k, byStart)
    scan(symbol, tf) { r =>
      val t = r.getLong(windowStart)
      if (t >= from && t < to) least.offer(r, _.copy())
    }
    least.sorted
  }

  /** The latest `n` candles, newest first. */
  def recent(symbol: String, tf: String, n: Int): Seq[InternalRow] = {
    val least = new Least(n, byStart.reverse)
    scan(symbol, tf)(least.offer(_, _.copy()))
    least.sorted
  }

  /** The candles whose window_start formats to `key` in `tf`'s key
    * format, in file order.
    */
  def point(symbol: String, tf: String, key: String): Seq[InternalRow] = {
    val format = keyFormatters.get()(tf)
    val hits = Seq.newBuilder[InternalRow]
    scan(symbol, tf) { r =>
      if (format.format(r.getLong(windowStart)) == key) hits += r.copy()
    }
    hits.result()
  }

  /** The first `k` candle keys `candle:{symbol}:{tf}:{dateKey}` after
    * `after` (exclusive) in string order, over the stored candles of
    * `symbol` and `tf` (every stored value when absent). A timeframe
    * that is not a [[CandleTimeFrame]] has no keys.
    */
  def keys(symbol: Option[String], tf: Option[String], after: Option[String], k: Int): Seq[String] = {
    val floor = after.map(UTF8String.fromString)
    val least = new Least[UTF8String](k, Ordering.fromLessThan(_.binaryCompare(_) < 0))
    val formatters = keyFormatters.get()
    for {
      t <- tf.fold(timeframes)(Seq(_)).filter(formatters.contains)
      s <- symbol.fold(symbols(t))(Seq(_))
    } {
      val prefix = s"candle:$s:$t:"
      val format = formatters(t)
      scan(s, t) { r =>
        val key = UTF8String.fromString(prefix + format.format(r.getLong(windowStart)))
        if (floor.forall(key.binaryCompare(_) > 0)) least.offer(key, identity)
      }
    }
    least.sorted.map(_.toString)
  }

  /** The stored timeframes, from the `timeframe=…` directory names. */
  def timeframes: Seq[String] = CandleStore.partitionValues(fs, rootPath, "timeframe")

  /** The symbols stored under `tf`, from the `symbol=…` directory names. */
  def symbols(tf: String): Seq[String] = CandleStore.partitionValues(fs, tfDir(tf), "symbol")

  /** Every stored symbol, from the `timeframe=…/symbol=…` directory
    * names alone, sorted.
    */
  def symbols: Seq[String] = timeframes.flatMap(symbols(_)).distinct.sorted

  /** The `k` least of the values offered, by `ord`. An offered value is
    * kept through `own` (a copy of a reused row) only when it ranks
    * among the `k` least so far.
    */
  private final class Least[T](k: Int, ord: Ordering[T]) {
    private val heap = new java.util.PriorityQueue[T](ord.reverse)

    def offer(t: T, own: T => T): Unit =
      if (heap.size < k || k > 0 && ord.lt(t, heap.peek)) {
        heap.add(own(t))
        if (heap.size > k) heap.poll()
      }

    def sorted: Seq[T] = heap.asScala.toSeq.sorted(ord)
  }
}
