package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.DriverReads
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.model.{CandleTimeFrame, StockTransaction}
import graft.operators.{CandleRows, CandleStore, Candles}

/** Property-based invariants of the candle aggregation against a
  * brute-force in-memory reference on random transaction sets.
  */
class CandlePropertySpec extends SparkSpec {

  // raw ScalaCheck (the scalatest bridge isn't on the classpath):
  // deterministic seeded samples, 15 cases per property
  private def forAllSeeded[A](g: Gen[List[A]])(check: List[A] => Unit): Unit =
    (1 to 15).foreach { i =>
      check(g.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(List.empty))
    }
  import spark.implicits._

  private val baseMs = Timestamp.valueOf("2024-06-01 00:00:00").getTime

  private val txnGen: Gen[StockTransaction] = for {
    sym <- Gen.oneOf("A", "B", "C")
    price <- Gen.choose(1, 99999).map(_ / 100.0)
    qty <- Gen.choose(1, 100)
    offsetSec <- Gen.choose(0L, 3 * 3600L)
  } yield StockTransaction(sym, price, qty, new Timestamp(baseMs + offsetSec * 1000))

  // unique (symbol, ts) so open/close are well-defined, like real data
  private val txnsGen: Gen[List[StockTransaction]] =
    Gen.listOfN(60, txnGen).map(
      _.groupBy(t => (t.symbol, t.ts)).values.map(_.head).toList)

  test("minute candles match a brute-force reference on random data") {
    forAllSeeded(txnsGen) { txns =>
      if (txns.nonEmpty) {
        val got = Candles.minuteCandles(txns.toDF()).collect().map { r =>
          (r.getAs[String]("symbol"), r.getAs[Timestamp]("window_start").getTime) ->
            (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
              r.getAs[Double]("close"), r.getAs[Long]("volume"), r.getAs[Long]("n_txn"))
        }.toMap
        val want = txns.groupBy(t => (t.symbol, t.ts.getTime / 60000 * 60000)).map {
          case (k, ts) =>
            val sorted = ts.sortBy(_.ts.getTime)
            k -> (sorted.head.price, ts.map(_.price).max, ts.map(_.price).min,
              sorted.last.price, ts.map(_.quantity.toLong).sum, ts.length.toLong)
        }
        assert(got === want)
      }
    }
  }

  test("rollup conserves volume/txn-count and OHLC bounds at every timeframe") {
    forAllSeeded(txnsGen) { txns =>
      if (txns.nonEmpty) {
        val minute = Candles.minuteCandles(txns.toDF())
        for (tf <- Seq(CandleTimeFrame.Hour, CandleTimeFrame.Day, CandleTimeFrame.Month)) {
          val up = Candles.rollup(minute, tf).collect()
          val totalVol = up.map(_.getAs[Long]("volume")).sum
          assert(totalVol === txns.map(_.quantity.toLong).sum)
          assert(up.map(_.getAs[Long]("n_txn")).sum === txns.length.toLong)
          up.foreach { r =>
            val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
              r.getAs[Double]("low"), r.getAs[Double]("close"))
            assert(l <= h && l <= o && o <= h && l <= c && c <= h)
          }
        }
      }
    }
  }

  // ---- the row-level roll-up (CandleRows) against Candles.rollupEach ----

  /** Instants the random minutes of one case straddle: a year end, a
    * leap-month end, and New York's 2024 switches to and from daylight
    * saving time. Each falls within hours of a local midnight in every
    * zone below, so a case spans a day, month or year boundary in each.
    */
  private val anchors = Seq("2023-12-31T20:00:00Z", "2024-02-29T21:00:00Z",
    "2024-03-10T07:00:00Z", "2024-11-03T06:00:00Z").map(Instant.parse)

  /** Sparse minute candles of two symbols within 30 hours either side
    * of one anchor, at most one per (symbol, window_start).
    */
  private val minutesGen: Gen[List[InternalRow]] = for {
    anchor <- Gen.oneOf(anchors)
    n <- Gen.choose(1, 80)
    cells <- Gen.listOfN(n, for {
      symbol <- Gen.oneOf("A", "B:C")
      minute <- Gen.choose(-30L * 60, 30L * 60)
      open <- Gen.choose(1, 9999)
      close <- Gen.choose(1, 9999)
      spread <- Gen.choose(0, 500)
      volume <- Gen.choose(1L, 1000000L)
      nTxn <- Gen.choose(1L, 500L)
    } yield (symbol, minute, open / 100.0, close / 100.0, spread / 100.0, volume, nTxn))
  } yield cells.groupBy(c => (c._1, c._2)).values.map(_.head).toList.map {
    case (symbol, minute, open, close, spread, volume, nTxn) =>
      val start = DateTimeUtils.instantToMicros(anchor) + minute * 60000000L
      new GenericInternalRow(Array[Any](UTF8String.fromString(symbol), UTF8String.fromString(CandleTimeFrame.Minute),
        start, start + 60000000L, open, math.max(open, close) + spread, math.min(open, close) - spread / 2,
        close, volume, nTxn)): InternalRow
  }

  private type Bits = (String, String, Long, Long, Long, Long, Long, Long, Long, Long)

  private def bits(r: Row): Bits = (r.getString(0), r.getString(1),
    DateTimeUtils.fromJavaTimestamp(r.getTimestamp(2)), DateTimeUtils.fromJavaTimestamp(r.getTimestamp(3)),
    java.lang.Double.doubleToRawLongBits(r.getDouble(4)), java.lang.Double.doubleToRawLongBits(r.getDouble(5)),
    java.lang.Double.doubleToRawLongBits(r.getDouble(6)), java.lang.Double.doubleToRawLongBits(r.getDouble(7)),
    r.getLong(8), r.getLong(9))

  private def bits(r: InternalRow): Bits = (r.getUTF8String(0).toString, r.getUTF8String(1).toString,
    r.getLong(2), r.getLong(3),
    java.lang.Double.doubleToRawLongBits(r.getDouble(4)), java.lang.Double.doubleToRawLongBits(r.getDouble(5)),
    java.lang.Double.doubleToRawLongBits(r.getDouble(6)), java.lang.Double.doubleToRawLongBits(r.getDouble(7)),
    r.getLong(8), r.getLong(9))

  /** `Candles.rollupEach(children)`, collected, as bits. */
  private def rollupEach(children: (Seq[InternalRow], Seq[String])*): Set[Bits] =
    Candles.rollupEach(children.map { case (rows, tfs) =>
      DriverReads.localFrame(spark, CandleStore.candleSchema, rows) -> tfs
    }).collect().map(bits).toSet

  for (zone <- Seq("UTC", "America/New_York", "Asia/Kolkata"))
    test(s"the row-level roll-up equals Candles.rollupEach bit for bit in $zone") {
      val key = "spark.sql.session.timeZone"
      val original = spark.conf.get(key)
      spark.conf.set(key, zone)
      try {
        val rows = new CandleRows(DriverReads.sessionZone(spark))
        forAllSeeded(minutesGen) { minutes =>
          val tfs = Seq(CandleTimeFrame.Hour, CandleTimeFrame.Day, CandleTimeFrame.Month)
          val got = tfs.flatMap(rows.rollup(minutes, _))
          assert(got.size === got.map(bits).toSet.size)
          assert(got.map(bits).toSet === rollupEach(minutes -> tfs))

          // MONTH from the DAY candles of some days and the minutes of
          // the others, as a cascade rolls it: equal to both rollupEach
          // over the same children and the roll-up from minutes alone
          val (early, late) = minutes.partition(r => rows.date(r) % 2 == 0)
          val days = rows.rollup(early, CandleTimeFrame.Day)
          val month = rows.rollup(late ++ days, CandleTimeFrame.Month).map(bits).toSet
          assert(month === rollupEach(late -> Seq(CandleTimeFrame.Month), days -> Seq(CandleTimeFrame.Month)))
          assert(month === rows.rollup(minutes, CandleTimeFrame.Month).map(bits).toSet)
        }
      } finally spark.conf.set(key, original)
    }

  test("the row-level roll-up requires one candle per (symbol, window_start)") {
    val rows = new CandleRows(DriverReads.sessionZone(spark))
    val minute = minutesGen.apply(Gen.Parameters.default, Seed(1L)).get.head
    intercept[IllegalArgumentException](rows.rollup(Seq(minute, minute.copy()), CandleTimeFrame.Hour))
  }
}
