package graft.operators

import java.time.ZoneId

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeConstants.{MICROS_PER_DAY, MICROS_PER_HOUR, MICROS_PER_MINUTE}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.unsafe.types.UTF8String

import graft.model.CandleTimeFrame

/** Candle rows in the store's schema ([[CandleStore.candleSchema]]) and
  * their roll-up, for code that holds them as rows on a task rather
  * than as a DataFrame: the row-level form of [[Candles.rollupEach]].
  * Window starts are truncated, window ends added and dates taken with
  * Spark's own `DateTimeUtils` in `zone`, which must be the session
  * time zone, so every value equals the DataFrame roll-up's bit for
  * bit.
  */
private[graft] final class CandleRows(zone: ZoneId) extends Serializable {
  import CandleRows._

  private val truncLevel: Map[String, Int] = CandleTimeFrame.all.map(tf =>
    tf -> DateTimeUtils.parseTruncLevel(UTF8String.fromString(CandleTimeFrame.truncUnit(tf)))).toMap

  /** `to_date(window_start)` of `row`, as days since the epoch. */
  def date(row: InternalRow): Int = DateTimeUtils.microsToDays(row.getLong(Start), zone)

  /** The first day of the month of `day` (days since the epoch). */
  def month(day: Int): Int = DateTimeUtils.truncDate(day, truncLevel(CandleTimeFrame.Month))

  /** The `tf` candles of `children`, one per (symbol, parent window),
    * by symbol then window_start: what [[Candles.rollupEach]] gives for
    * `Seq(children -> Seq(tf))`. Children may mix grains when their
    * time spans are disjoint, as there. Preconditions, checked:
    * `window_start` is unique per symbol among `children`, and their
    * OHLCV columns hold no nulls.
    */
  def rollup(children: Seq[InternalRow], tf: String): Seq[InternalRow] =
    children.groupBy(r => (r.getUTF8String(Symbol), parentStart(tf, r.getLong(Start)))).toSeq
      .sortBy { case ((symbol, start), _) => (symbol.toString, start) }
      .map { case ((symbol, start), group) =>
        val kids = group.sortBy(_.getLong(Start))
        require(kids.forall(!_.anyNull), s"a $symbol candle under $tf $start has a null column")
        require(kids.iterator.map(_.getLong(Start)).distinct.size == kids.size,
          s"$symbol has two candles with one window_start under $tf $start")
        var high = kids.head.getDouble(High)
        var low = kids.head.getDouble(Low)
        var volume = 0L
        var nTxn = 0L
        kids.foreach { k =>
          if (compareDoubles(k.getDouble(High), high) > 0) high = k.getDouble(High)
          if (compareDoubles(k.getDouble(Low), low) < 0) low = k.getDouble(Low)
          volume += k.getLong(Volume)
          nTxn += k.getLong(NTxn)
        }
        new GenericInternalRow(Array[Any](symbol, UTF8String.fromString(tf), start, windowEnd(tf, start),
          kids.head.getDouble(Open), high, low, kids.last.getDouble(Close), volume, nTxn))
      }

  /** `date_trunc` of `start` to `tf`'s unit; a MINUTE child is its own
    * parent, as in [[Candles.rollupEach]].
    */
  private def parentStart(tf: String, start: Long): Long =
    if (tf == CandleTimeFrame.Minute) start
    else DateTimeUtils.truncTimestamp(start, truncLevel(tf), zone)

  /** [[Candles.windowEnd]]: a day-time interval added to `start`, or
    * one month added to its date.
    */
  private def windowEnd(tf: String, start: Long): Long = tf match {
    case CandleTimeFrame.Minute => DateTimeUtils.timestampAddDayTime(start, MICROS_PER_MINUTE, zone)
    case CandleTimeFrame.Hour   => DateTimeUtils.timestampAddDayTime(start, MICROS_PER_HOUR, zone)
    case CandleTimeFrame.Day    => DateTimeUtils.timestampAddDayTime(start, MICROS_PER_DAY, zone)
    case CandleTimeFrame.Month  =>
      DateTimeUtils.daysToMicros(DateTimeUtils.dateAddMonths(DateTimeUtils.microsToDays(start, zone), 1), zone)
    case other => throw new IllegalArgumentException(s"unknown timeframe: $other")
  }
}

private[graft] object CandleRows {
  /** Column ordinals of [[CandleStore.candleSchema]]. */
  val Symbol = 0
  val Timeframe = 1
  val Start = 2
  private val Open = 4
  private val High = 5
  private val Low = 6
  private val Close = 7
  private val Volume = 8
  private val NTxn = 9
}
