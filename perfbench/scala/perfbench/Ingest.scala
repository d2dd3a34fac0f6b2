package perfbench

import java.nio.file.Paths
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.model.CandleTimeFrame
import graft.operators.{CandleStore, Candles}
import graft.serving.CandleHttpServer
import graft.streaming.{CandleStream, TransactionSimulator}

/** Progress of every micro-batch, from the public StreamingQueryListener
  * API. `committed` is released once per batch commit. */
final class Progress extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[StreamingQueryProgress]
  val committed = new Semaphore(0)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    if (e.progress.numInputRows > 0) { all.add(e.progress); committed.release() }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = committed.release()
  def batches: Seq[StreamingQueryProgress] = all.asScala.toSeq.sortBy(_.batchId)
  def lastId: Long = if (all.isEmpty) -1L else all.asScala.map(_.batchId).max
}

/** `ingest` and `ingest_serve`: the simulator stream → minute candles in
  * update mode → CandleStream.cascadeToStore, on a store pre-filled
  * with [[Ingest.HistoryDays]] simulated days through cascadeMerge.
  * The rate-micro-batch source always has a backlog, so the query
  * drains it one fixed-size batch after another (a closed loop). */
object Ingest {
  val Phases: Seq[String] = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
  val Symbols: Seq[String] = TransactionSimulator.symbols.map(_._1)
  /** Simulated days of history before the stream: 15 (timeframe,
    * symbol, date) partitions a day. Each batch re-rolls the month so
    * far, so a longer history means fewer, slower batches a run. */
  val HistoryDays = 1
  /** History keeps one simulator tick per simulated minute: every
    * minute candle exists, at 1/60 of the generation cost. */
  val HistoryEvery = 60L
  /** One simulated minute per batch at one tick per event second, so
    * each batch adds one new minute candle per symbol. */
  val TicksPerBatch = 60L

  def run(ctx: Ctx, readers: Boolean): Outcome = {
    val spark = ctx.spark
    val o = ctx.o
    val days = if (o.smoke) 1 else HistoryDays
    // the history fills the first days of a seeded month and the stream
    // continues from there, so every batch re-rolls the month so far
    val epoch = Inputs.simEpoch(o.seed)
    val streamStart = epoch + days * 86400L
    ctx.inputParts ++= Seq(s"epoch=$epoch", s"days=$days", s"ticks=$TicksPerBatch")

    def history: DataFrame = TransactionSimulator.batch(spark, days * 86400L, epoch)
      .filter((col("ts").cast("long") - lit(epoch)) % lit(HistoryEvery) === 0)

    // set-up: the history fill through cascadeMerge. It is the run's
    // first Spark work, so it also carries the JIT warmup; a second fill
    // would cost as much as several measured batches, so it runs once
    val store = s"${o.workDir}/ingest-store"
    val t0 = System.nanoTime()
    CandleStream.cascadeMerge(Candles.minuteCandles(history), store)
    ctx.setupS += (System.nanoTime() - t0) / 1e9
    Log.info(f"set-up done: history fill ${ctx.setupS.last}%.2fs")
    val ckpt = s"${o.workDir}/ingest-ckpt"

    val progress = new Progress
    spark.streams.addListener(progress)
    val source = TransactionSimulator.streamMicroBatch(spark, TicksPerBatch,
      ticksPerEventSecond = 1, startEpoch = streamStart)
    val minute = CandleStream.candles(source, CandleTimeFrame.Minute)

    val server = if (readers) Some(CandleHttpServer.start(spark, store)) else None
    val reqs = Inputs.requests(o.seed, 20000, Symbols, epoch, streamStart)
    if (readers) ctx.inputParts ++= reqs.take(2000).map(_.path)
    val readLog = new OpLog
    val probeLog = new OpLog
    val seen = new ConcurrentHashMap[String, java.lang.Long]
    val batchLog = new OpLog
    val tally = new MergeTally

    val warmBatches = 1
    var q = CandleStream.cascadeToStore(minute, store, ckpt)
    var windowS = 0.0
    try {
      if (!awaitBatches(q, progress, warmBatches, o.opTimeoutS)) sys.error("warmup batches did not commit")
      val halves: Seq[Boolean] = if (o.trace) Seq(false, true) else Seq(false)
      var untracedIds = Set.empty[Long]
      halves.foreach { tracedHalf =>
        val seconds = if (o.trace) math.max(2.0, o.seconds / 2.0) else o.seconds.toDouble
        if (tracedHalf) {
          // restart from the same checkpoint with the timed sink; the
          // stop below came right after a commit, so nothing is torn
          ctx.registerListeners()
          q = tracedSink(ctx, minute, store, ckpt, tally)
        }
        val firstId = progress.lastId + 1
        ctx.beginWindow()
        val window = new Thread(() => server.foreach { s =>
          val url = Serve.base(s)
          val probe = new Thread(() => probeLoop(url, seconds, o.opTimeoutS, probeLog, seen))
          probe.start()
          Readers.closedLoop(url, math.max(1, o.cores - 1), reqs, new AtomicInteger(0), seconds,
            o.opTimeoutS, readLog, null)
          probe.join()
        })
        window.start()
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        while (System.nanoTime() < deadline && q.isActive) {
          val waitMs = math.max(1L, math.min(5000L, (deadline - System.nanoTime()) / 1000000L))
          if (!progress.committed.tryAcquire(waitMs, TimeUnit.MILLISECONDS) &&
            progress.batches.lastOption.forall(p => ageS(p) > o.opTimeoutS))
            sys.error(s"micro-batch watchdog: no commit within ${o.opTimeoutS}s")
        }
        window.join()
        windowS = ctx.endWindow()
        stopAfterCommit(q, progress, o.opTimeoutS)
        if (tracedHalf) { tracedLayers(ctx, progress, firstId, untracedIds, tally); ctx.unregisterListeners() }
        else untracedIds = progress.batches.filter(_.batchId >= firstId).map(_.batchId).toSet
        q.exception.foreach(e => sys.error(s"stream failed: ${e.getMessage}"))
      }
      ctx.liveHeapMb = Host.liveHeapMb()
    } finally {
      if (q.isActive) q.stop()
      server.foreach(_.stop(0))
      spark.streams.removeListener(progress)
    }

    // measured batches: everything after warmup
    val measured = progress.batches.filter(_.batchId >= warmBatches)
    measured.foreach { p =>
      val t0 = Instant.parse(p.timestamp).toEpochMilli
      batchLog.add(Op("batch", t0 * 1000000L, (t0 + trigger(p)) * 1000000L, ok = true))
    }
    val commitMs = measured.map(trigger(_).toDouble)
    val events = measured.map(_.numInputRows).sum * Symbols.size
    val spanMs = measured.lastOption.map(p => Instant.parse(p.timestamp).toEpochMilli + trigger(p)).getOrElse(0L) -
      measured.headOption.map(p => Instant.parse(p.timestamp).toEpochMilli).getOrElse(0L)
    val eventsPerS = if (spanMs > 0) events * 1000.0 / spanMs else 0.0
    // visibility: trigger start of batch b → first reply holding the
    // batch's newest minute candle (batch b covers minute b exactly)
    val visibleMs = measured.flatMap { p =>
      val minuteKey = Instant.ofEpochSecond(streamStart + p.batchId * TicksPerBatch).toString
      Option(seen.get(minuteKey)).map(_ - Instant.parse(p.timestamp).toEpochMilli).map(_.toDouble)
    }

    val lastId = progress.lastId
    Log.info("checking the store")
    val bad = storeMismatch(spark, store, history, streamStart, lastId)
    val ops = batchLog.all ++ readLog.all ++ probeLog.all
    val failed = ops.count(!_.ok) + (if (bad) 1 else 0)

    ctx.workload("commit_ms_p50", Stats.pct(commitMs, 0.5), "ms")
    ctx.workload("commit_ms_p85", Stats.pct(commitMs, 0.85), "ms")
    ctx.workload("commit_ms_p90", Stats.pct(commitMs, 0.9), "ms")
    ctx.workload("commit_samples", commitMs.size.toDouble, "count")
    ctx.workload("batches_per_s", if (spanMs > 0) measured.size * 1000.0 / spanMs else 0.0, "1/s")
    ctx.workload("ingest_events_per_s", eventsPerS, "events/s")
    if (readers) {
      val readMs = readLog.all.map(_.ms)
      ctx.workload("read_ms_p50", Stats.pct(readMs, 0.5), "ms")
      ctx.workload("read_ms_p85", Stats.pct(readMs, 0.85), "ms")
      ctx.workload("read_ms_p90", Stats.pct(readMs, 0.9), "ms")
      ctx.workload("read_rps", readLog.all.count(_.ok) / windowS, "req/s")
      ctx.workload("visible_ms_p50", Stats.pct(visibleMs, 0.5), "ms")
      ctx.workload("visible_samples", visibleMs.size.toDouble, "count")
    }
    if (o.trace) {
      if (readers) ctx.layer("store.files_listed", Host.dataFiles(Paths.get(store)).size.toDouble)
      val storeBytes = Host.dataFiles(Paths.get(store)).map(f => java.nio.file.Files.size(f)).sum
      val histEvents = days * 86400L / HistoryEvery * Symbols.size
      ctx.layer("cascade.store_bytes_per_event",
        storeBytes.toDouble / (histEvents + (lastId + 1) * TicksPerBatch * Symbols.size))
    }
    Outcome(ops.size.toLong + 1, failed.toLong, !bad,
      info = scala.collection.mutable.LinkedHashMap(
        "batches_committed" -> (lastId + 1).toString, "store_matches_batch" -> (!bad).toString))
  }

  private def trigger(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  private def ageS(p: StreamingQueryProgress): Double =
    (System.currentTimeMillis() - Instant.parse(p.timestamp).toEpochMilli - trigger(p)) / 1000.0

  private def awaitBatches(q: StreamingQuery, progress: Progress, n: Int, timeoutS: Long): Boolean = {
    val deadline = System.nanoTime() + (timeoutS + 30) * 1000000000L
    while (progress.lastId < n - 1 && q.isActive && System.nanoTime() < deadline)
      progress.committed.tryAcquire(1, TimeUnit.SECONDS)
    progress.lastId >= n - 1
  }

  /** Stops the query right after a commit, while the next batch is
    * still resolving offsets and planning: its sink has not written yet,
    * so the store holds exactly the committed batches. */
  private def stopAfterCommit(q: StreamingQuery, progress: Progress, timeoutS: Long): Unit = {
    progress.committed.drainPermits()
    progress.committed.tryAcquire(timeoutS, TimeUnit.SECONDS)
    q.stop()
  }

  /** Polls the newest MINUTE candle of one symbol and notes when each
    * window_start is first seen. */
  private def probeLoop(url: String, seconds: Double, timeoutS: Long, log: OpLog,
                        seen: ConcurrentHashMap[String, java.lang.Long]): Unit = {
    val re = """"window_start":"([^"]+)"""".r
    val cl = new GatewayClient(url, timeoutS)
    val path = s"/candles/${Symbols.head}/${CandleTimeFrame.Minute}/recent?n=1"
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      val err = try {
        val (code, body) = cl.get(path)
        val now = System.currentTimeMillis()
        re.findFirstMatchIn(body).foreach { m =>
          seen.putIfAbsent(Instant.parse(m.group(1)).toString, now)
        }
        if (code == 200) None else Some(s"HTTP $code")
      } catch { case NonFatal(e) => Some(Watchdog.describe(e)) }
      log.add(Op("probe", t0, System.nanoTime(), err.isEmpty))
    }
  }

  /** What the traced sink saw: cascadeMerge times, candle rows changed. */
  private final class MergeTally {
    val ms = new ConcurrentLinkedQueue[java.lang.Double]
    val changedRows = new AtomicLong
  }

  /** The sink cascadeToStore builds, foreachBatch(cascadeMerge), with
    * the batch materialised first (so the merge timer holds only the
    * store write path) and a span around cascadeMerge. */
  private def tracedSink(ctx: Ctx, minute: DataFrame, store: String, ckpt: String,
                         tally: MergeTally): StreamingQuery =
    minute.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.persist()
        try {
          val ws = col("window_start")
          val r = batch.agg(count(lit(1)),
            countDistinct(col("symbol"), date_trunc("hour", ws)),
            countDistinct(col("symbol"), date_trunc("day", ws)),
            countDistinct(col("symbol"), date_trunc("month", ws))).head()
          tally.changedRows.addAndGet((0 until 4).map(r.getLong).sum)
          val t0 = System.nanoTime()
          ctx.tracer.span("cascade.merge", "stream", id)(CandleStream.cascadeMerge(batch, store))
          tally.ms.add((System.nanoTime() - t0) / 1e6)
        } finally batch.unpersist()
        ()
      }
      .start()

  private def tracedLayers(ctx: Ctx, progress: Progress, firstId: Long, untracedIds: Set[Long],
                           tally: MergeTally): Unit = {
    val traced = progress.batches.filter(_.batchId >= firstId)
    Phases.foreach { ph =>
      ctx.layer(s"stream.${ph}_ms_p50",
        Stats.median(traced.flatMap(p => Option(p.durationMs.get(ph)).map(_.doubleValue))))
    }
    val state = traced.lastOption.flatMap(_.stateOperators.headOption)
    ctx.layer("stream.state_rows", state.map(_.numRowsTotal.toDouble).getOrElse(Double.NaN))
    ctx.layer("stream.state_bytes", state.map(_.memoryUsedBytes.toDouble).getOrElse(Double.NaN))
    ctx.layer("stream.rows_dropped_by_watermark",
      progress.batches.flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum.toDouble)
    ctx.layer("cascade.merge_ms_p50", Stats.median(tally.ms.asScala.map(_.doubleValue)))
    ctx.layer("cascade.write_amp_rows", ctx.writes.rowsWritten.get.toDouble / math.max(1L, tally.changedRows.get))
    ctx.layer("cascade.files_written_per_batch", ctx.writes.filesWritten.get.toDouble / math.max(1, tally.ms.size))
    val untraced = progress.batches.filter(p => untracedIds.contains(p.batchId)).map(trigger(_).toDouble)
    val tracedMs = traced.map(trigger(_).toDouble)
    val over = Stats.median(tracedMs) - Stats.median(untraced)
    ctx.layer("trace.overhead_ms_p50", over)
    ctx.layer("trace.overhead_pct", 100.0 * over / Stats.median(untraced))
  }

  /** The final store's four timeframes against Candles.multiTimeframe
    * over the same ticks: the history plus every committed batch. A
    * batch whose sink finished but whose commit the stop interrupted is
    * also a consistent store, so one extra batch is accepted. */
  private def storeMismatch(spark: SparkSession, store: String, history: DataFrame,
                            streamStart: Long, lastId: Long): Boolean = {
    val got = CandleStore.read(spark, store).select(Candles.candleColumns: _*).persist()
    try {
      val ok = Seq(lastId + 1, lastId + 2).exists { n =>
        val want = Candles.multiTimeframe(
          history.unionByName(TransactionSimulator.batch(spark, n * TicksPerBatch, streamStart)))
          .select(Candles.candleColumns: _*).persist()
        try got.count() == want.count() && got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
        finally want.unpersist()
      }
      if (!ok) Log.warn(s"store differs from the batch recomputation after ${lastId + 1} batches")
      !ok
    } finally got.unpersist()
  }
}
