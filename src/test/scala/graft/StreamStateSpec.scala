package graft

import org.apache.spark.sql.functions._

import graft.streaming.TransactionSimulator

/** Watermark eviction must BOUND streaming state at high key
  * cardinality — the property STATEBENCH_r9–r15.json measure at
  * 10k–1M keys and a 100 TB user-grain stream lives or dies by.
  * Without eviction the windowed-agg store accretes one row per
  * key·window forever; with it, live rows plateau at ≈ keys ×
  * windows-in-flight no matter how many batches run.
  *
  * Setup mirrors the STATEBENCH `window_agg` workload at spec scale:
  * user-grain rate-micro-batch source (user_id = tick mod K), 30s
  * watermark, 1-minute windows. 200 ticks/event-second × 12000
  * ticks/batch ⇒ each batch advances event time 60s = exactly one
  * window, so by the last measured batch several windows have closed
  * and must have left the store.
  */
class StreamStateSpec extends SparkSpec {

  test("windowed agg at 500 keys: watermark eviction holds the state plateau") {
    val keys = 500L
    val nBatches = 8
    val src = TransactionSimulator.userStreamMicroBatch(
        spark, ticksPerBatch = 12000L, nUsers = keys,
        ticksPerEventSecond = 200L)
      .withWatermark("ts", "30 seconds")
    val agg = src.groupBy(window(col("ts"), "1 minute"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("total"))
    val ckpt = java.nio.file.Files.createTempDirectory("state-spec").toString
    val q = agg.writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt).start()
    val progress = try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < nBatches
          && System.nanoTime() < deadline)
        Thread.sleep(50)
      q.recentProgress.filter(_.batchId < nBatches)
    } finally q.stop()

    val stateRows = progress.sortBy(_.batchId)
      .map(p => p.stateOperators.map(_.numRowsTotal).sum)
    val removed = progress.map(p => p.stateOperators.map(_.numRowsRemoved).sum).sum
    assert(stateRows.nonEmpty)
    // the deadline bounds wall-clock, not batch count: on a loaded
    // machine fewer than nBatches complete, and eviction needs a few
    // watermark advances (one window per batch, 30s watermark) before
    // it can fire at all — asserting removed>0 on 1-2 batches would be
    // timing-flaky, not a product failure. Cancel (don't fail) below 3
    // completed batches; the assertions run on whatever completed.
    assume(progress.length >= 3,
      s"only ${progress.length} batches completed in 120s (loaded machine)")
    // eviction actually fires: closed windows leave the store
    assert(removed > 0,
      s"no state rows evicted across ${progress.length} completed batches")
    // the plateau: live rows never exceed keys × a small
    // windows-in-flight factor (1 open + 1 awaiting watermark + the
    // batch-boundary window = 3; 4 leaves slack for trigger phasing) —
    // NOT keys × windows-created (which reaches 8 by the last batch)
    assert(stateRows.max <= keys * 4,
      s"state grew past the plateau: ${stateRows.toSeq} vs bound ${keys * 4}")
    // and the last batch sits at the same plateau, not a high-water
    // accumulation: eviction keeps up batch over batch
    assert(stateRows.last <= keys * 4)
  }
}
