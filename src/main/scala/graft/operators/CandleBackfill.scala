package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.CandleTimeFrame
import graft.sources.EventStore
import graft.streaming.CandleStream

/** Incremental batch backfill: candles for exactly the event-store
  * days the candle store does not have yet — the production
  * batch-ingest loop at lake scale (land raw day partitions, then
  * aggregate only the new days; never recompute history).
  *
  * Day detection is metadata-only on both sides: event days come from
  * the event store's partition listing, done days from a listing of
  * the candle store's MINUTE and DAY `window_date=` directories (no
  * Spark job).
  * The day is the unit of increment — events appended late into an
  * already-processed day are picked up by re-merging that day
  * explicitly (pass `force`), the same restatement lever every
  * day-partitioned warehouse has.
  *
  * The event store rows must carry the transaction shape
  * (symbol, price, quantity, ts).
  */
object CandleBackfill {

  /** Process missing (or `force`-listed) days; returns the ISO dates
    * actually processed (empty when up to date).
    */
  def run(spark: SparkSession, eventStorePath: String, candleStorePath: String,
          force: Seq[String] = Nil): Seq[String] = {
    // a day is "done" only when every symbol's minutes of it have a DAY
    // candle: cascadeMerge swaps its DAY partitions in after all its
    // other ones, so a cascade interrupted before or during those swaps
    // leaves some (symbol, day) with minutes but no DAY candle, and the
    // next run re-processes that day instead of leaving its roll-ups
    // stale. Both sides are directory listings; no Spark job runs.
    val root = new Path(candleStorePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dayParts = CandleStore.partitions(fs, root, CandleTimeFrame.Day).toSet
    val unfinished = CandleStore.partitions(fs, root, CandleTimeFrame.Minute).filterNot(dayParts)
    val doneDays = dayParts.map(_._2) -- unfinished.map(_._2)
    // the event day list is metadata-scale; collecting it to drive the
    // pruned scan is the intended driver-side step (not a data collect)
    val missing = EventStore.dates(spark, eventStorePath).collect()
      .map(_.getAs[java.sql.Date]("event_date").toString).filterNot(doneDays).toSeq
    val days = (missing ++ force).distinct.sorted
    if (days.nonEmpty) {
      val txns = EventStore.read(spark, eventStorePath)
        .filter(col("event_date").isin(days: _*))
        .select(col("symbol"), col("price"), col("quantity"), col("ts"))
      CandleStream.cascadeMerge(Candles.minuteCandles(txns), candleStorePath)
    }
    days
  }
}
