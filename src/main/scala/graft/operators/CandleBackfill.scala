package graft.operators

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
  * the candle store's DAY `window_date=` directories (no Spark job).
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
    // a day is "done" only when its DAY candle exists: cascadeMerge
    // writes minute candles first and the hour/day/month rollups in a
    // second merge, so judging by the rollup (written last) makes an
    // interrupted cascade self-healing — the next run re-processes the
    // day instead of silently leaving the rollup timeframes stale.
    // (A DAY candle's window_date IS the day, and it can only be
    // written after that day's minute merge, so DAY coverage is exactly
    // the set of fully-cascaded days.)
    val doneDays = CandleStore.windowDates(spark, candleStorePath, CandleTimeFrame.Day)
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
