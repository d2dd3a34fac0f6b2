package graft.operators

import java.time.LocalDate

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.graft.{DriverReads, PartitionReader}

import graft.model.CandleTimeFrame

/** The candle store's write primitive: a batch of candles merged into
  * the `(timeframe, symbol, window_date)` partitions of the store at
  * `path` as one Spark job, then swapped into place on the driver.
  *
  *  1. The batch's rows are keyed by `key` and shuffled once, so each
  *     key's rows meet on one task, which holds one key's rows at a
  *     time.
  *  1. There `task` reads the stored partitions it needs ([[Stored]],
  *     Spark's Parquet reader run inside the task) and returns the
  *     whole new content of every partition it writes.
  *  1. Spark's writer stages those rows under `path/_staging`, hidden
  *     from every reader of the store, after deleting what an
  *     interrupted merge left there. No task writes into the store
  *     itself, and one task writes each partition, so each is one file.
  *  1. The driver swaps each staged partition into place, MINUTE, HOUR
  *     and MONTH first and DAY last, then deletes the staging
  *     directory. A swap renames the stored directory aside before it
  *     renames the staged one in: a reader may find the partition
  *     absent for that moment, as under Spark's own delete-then-rename
  *     overwrite.
  *
  * `task` must be a deterministic function of its key, its rows (in any
  * order) and the stored files, so a retried task or a replayed batch
  * writes the same rows. The store has one writer at a time: merges run
  * one after another.
  */
private[graft] object CandleMerge {

  /** The order staged partitions are swapped in, by timeframe: DAY
    * last, so a DAY partition lands after its minutes. A timeframe
    * outside [[CandleTimeFrame]] goes first.
    */
  private val swapOrder = Seq(CandleTimeFrame.Minute, CandleTimeFrame.Hour, CandleTimeFrame.Month, CandleTimeFrame.Day)

  def apply[K: ClassTag: Ordering](batch: DataFrame, path: String)(key: (CandleRows, InternalRow) => K)
      (task: (Stored, K, Seq[InternalRow]) => Seq[InternalRow]): Unit = {
    val spark = batch.sparkSession
    val stored = new Stored(spark, path)
    val staging = new Path(path, "_staging")
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(staging, true)
    val merged = DriverReads.rows(batch.select(Candles.candleColumns: _*))
      .map { r =>
        val row = r.copy()
        key(stored.rows, row) -> row
      }
      // sorted by key, so a task holds one key's rows at a time
      .repartitionAndSortWithinPartitions(new HashPartitioner(spark.sparkContext.defaultParallelism))
      .mapPartitions { sorted =>
        val rows = sorted.buffered
        Iterator.continually(rows).takeWhile(_.hasNext).flatMap { _ =>
          val k = rows.head._1
          val group = Seq.newBuilder[InternalRow]
          while (rows.hasNext && rows.head._1 == k) group += rows.next()._2
          task(stored, k, group.result()).map(r => new JoinedRow(r, InternalRow(stored.rows.date(r))): InternalRow)
        }
      }
    DriverReads.frame(spark, CandleStore.partitionedSchema, merged)
      .write.partitionBy("timeframe", "symbol", "window_date").parquet(staging.toString)
    swap(fs, new Path(path), staging)
  }

  /** `stored` with the rows `batch` supersedes (same window_start)
    * replaced, by window_start. Precondition, checked: `batch` holds
    * one candle per window_start.
    */
  def replace(stored: Seq[InternalRow], batch: Seq[InternalRow]): Seq[InternalRow] = {
    val starts = batch.map(_.getLong(CandleRows.Start)).toSet
    require(starts.size == batch.size, "a batch holds two candles with one window_start")
    (stored.filterNot(r => starts(r.getLong(CandleRows.Start))) ++ batch).sortBy(_.getLong(CandleRows.Start))
  }

  private def partition(base: Path, tf: String, symbol: String, date: String): Path =
    CandleStore.partitionDir(CandleStore.partitionDir(CandleStore.partitionDir(base, "timeframe", tf),
      "symbol", symbol), "window_date", date)

  /** Moves each partition staged under `staging` into place under
    * `root` (see the object doc), then deletes `staging`.
    */
  private def swap(fs: FileSystem, root: Path, staging: Path): Unit = {
    val staged = for {
      tf <- CandleStore.partitionValues(fs, staging, "timeframe")
      (symbol, date) <- CandleStore.partitions(fs, staging, tf)
    } yield (tf, symbol, date)
    val aside = new Path(staging, "_replaced")
    staged.sortBy { case (tf, _, _) => swapOrder.indexOf(tf) }.zipWithIndex.foreach { case ((tf, symbol, date), i) =>
      val target = partition(root, tf, symbol, date)
      if (fs.exists(target))
        require(fs.mkdirs(aside) && fs.rename(target, new Path(aside, i.toString)), s"could not move $target aside")
      else fs.mkdirs(target.getParent)
      require(fs.rename(partition(staging, tf, symbol, date), target), s"could not move $target into place")
    }
    fs.delete(staging, true)
  }

  /** The stored partitions of the store at `root`, read where they are
    * needed: on a merge's tasks. Rows are in the candle schema
    * ([[CandleStore.candleSchema]]); dates are days since the epoch.
    */
  final class Stored(spark: SparkSession, root: String) extends Serializable {
    private val reader = new PartitionReader(spark, CandleStore.candleSchema, Seq("symbol", "timeframe"))
    val rows = new CandleRows(DriverReads.sessionZone(spark))

    /** The rows of one partition; none when it does not exist. */
    def read(tf: String, symbol: String, day: Int): Seq[InternalRow] = {
      val out = Seq.newBuilder[InternalRow]
      reader.foreach(partition(new Path(root), tf, symbol, LocalDate.ofEpochDay(day).toString),
        Seq(symbol, tf))(out += _.copy())
      out.result()
    }

    /** The dates of the stored `tf` partitions of `symbol`, from the
      * directory names alone.
      */
    def days(tf: String, symbol: String): Seq[Int] = {
      val dir = CandleStore.partitionDir(CandleStore.partitionDir(new Path(root), "timeframe", tf), "symbol", symbol)
      CandleStore.partitionValues(reader.fileSystem(dir), dir, "window_date")
        .map(LocalDate.parse(_).toEpochDay.toInt)
    }
  }
}
