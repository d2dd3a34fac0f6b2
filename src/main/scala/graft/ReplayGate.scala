package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BandStore, DsirStore, IvfStore, LshDedup, PostingStore, Similarity}
import graft.sources.Tables

/** Streaming crash/restart replay gate: an incremental-index
  * maintenance job killed MID-BATCH — after some store appends have
  * landed but before the epoch commits — must converge, after a
  * checkpoint restart replays the batch, to exactly the store a
  * crash-free run (and a full batch recompute) produces.
  *
  * Why this axis is distinct from every other gate: RetryGate proves
  * TASK re-execution determinism (scan/reduce/fetch/speculation) and
  * CheckpointRecoverySpec proves graceful stop-at-boundary recovery,
  * but the failure mode that actually corrupts 100 TB index
  * maintenance in production is the driver dying between a
  * foreachBatch side effect and the checkpoint's epoch commit:
  * Structured Streaming re-delivers the WHOLE batch on restart
  * (offsets are WAL'd at batch start, committed at batch end), so
  * every store append must be idempotent under exact re-delivery —
  * including the sharpest case, a MULTI-store batch applied
  * PARTIALLY (DSIR counts landed, band rows did not). That is the
  * contract DsirStore/BandStore/PostingStore/IvfStore.append's
  * presence probes claim; this gate is where the engine, not a
  * hand-driven double-append, re-delivers the batch.
  *
  * Two scenarios, each run crash-free and crashed-then-restarted
  * into separate stores/checkpoints:
  *
  *  - documents ingest: three parquet files (doc_id mod 3), one
  *    micro-batch each (maxFilesPerTrigger=1), folding into the
  *    DSIR count store + posting store + band store. Crashes: a
  *    batch-0 "mid" (INSIDE the bootstrap batch — DSIR and posting
  *    stores created, band store not yet; the replayed bootstrap
  *    must create the missing store and no-op the landed ones, which
  *    is why each store's write/append choice gates on its OWN
  *    existence), a batch-1 "mid" (after DSIR+posting append, before
  *    band append — the partial-application case;
  *    partially_applied_docs counts the docs visible in the DSIR
  *    store but absent from the band store at crash time, proving
  *    the replay had something to no-op) and a batch-2 "pre" (before
  *    any append — the pure re-delivery case).
  *  - embeddings ingest: same shape into the IVF index store
  *    (centroids fixed by the bootstrap batch), crash after the
  *    append.
  *  - composed pipeline (BATCH crash/resume): fullPipelineStaged
  *    killed at a tier boundary; restart over the same tierDir must
  *    resume from the last complete tier — completed tiers
  *    byte-untouched — and converge bit-identically to an
  *    uninterrupted run and the in-memory variant
  *    ([[runPipelineResume]]).
  *  - transactions ingest (STATEFUL): tumbling hour-candle
  *    aggregation in update mode — windowed state store — merged
  *    into the partitioned candle store per batch
  *    (CandleStream.mergeBatchIntoStore), source split into
  *    contiguous TIME ranges so the watermark never drops a
  *    replayed row. The "mid" crash lands after the merge, before
  *    the commit: restart rolls the state store back to the last
  *    committed version, recomputes the batch, and the re-merge
  *    must overwrite the crashed merge's partitions with identical
  *    content — state rollback + deterministic re-emission + merge
  *    idempotence, end to end, checked against the batch engine's
  *    hour rollup.
  *
  * Verdicts are row-sorted bit-equality: crashed-run store vs
  * clean-run store for every store, plus crashed-run store vs a
  * FULL batch recompute over the whole table (the store must equal
  * what a from-scratch build would have produced). Prints one JSON
  * line; exit 1 on any mismatch.
  */
object ReplayGate {

  private val Marker = "graft replay: injected crash"

  private final class InjectedCrash(msg: String)
    extends RuntimeException(msg)

  private def isInjected(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      if (Option(c.getMessage).exists(_.contains(Marker))) return true
      c = c.getCause
    }
    false
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def canon(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  /** Per-run crash bookkeeping — crash points yet to fire
    * (batchId -> "pre"|"mid"), consumed on fire so the replayed
    * attempt runs clean. One instance per ingest run (never shared
    * across runs or scenarios); foreachBatch bodies run on the
    * driver, in the stream-execution thread, so the concurrent
    * structures make the main thread's post-run reads safe.
    */
  private final class CrashPlan(crashAt: Map[Long, String]) {
    private val pending = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    crashAt.foreach { case (k, v) => pending.put(k, v) }
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    /** Consume-and-fire: true exactly once per (id, mode) entry. */
    def fire(id: Long, mode: String): Boolean =
      if (pending.remove(id, mode)) { fired.incrementAndGet(); true }
      else false
  }

  final case class IngestReport(batches: Seq[Long], crashes: Int,
                                restarts: Int, partiallyAppliedDocs: Long)

  private def drain(q: java.util.concurrent.ConcurrentLinkedQueue[Long]): Seq[Long] =
    scala.jdk.CollectionConverters.IteratorHasAsScala(q.iterator())
      .asScala.toSeq

  /** Drive a streaming query to completion, restarting from the same
    * checkpoint after every injected crash. `partialProbe` runs
    * between a crash and its restart (the only window where partial
    * application is observable) and returns the count of
    * partially-applied keys.
    */
  private def driveWithRestarts(start: () => org.apache.spark.sql.streaming.StreamingQuery,
                                partialProbe: () => Long): (Int, Long) = {
    var restarts = 0
    var partial = 0L
    var done = false
    while (!done) {
      val q = start()
      try {
        q.processAllAvailable()
        done = true
      } catch {
        case e: Throwable if isInjected(e) =>
          restarts += 1
          partial = math.max(partial, partialProbe())
        case e: Throwable => throw e
      } finally q.stop()
    }
    (restarts, partial)
  }

  /** Documents ingest into the three doc-keyed stores. `crashAt` maps
    * batchId -> "pre" (crash before any append) | "mid" (crash after
    * DSIR + posting append, before band append).
    */
  def runDocIngest(spark: SparkSession, sfDir: String, srcDir: String,
                   root: String, chk: String,
                   crashAt: Map[Long, String]): IngestReport = {
    val dsirPath = s"$root/dsir"
    val bandPath = s"$root/band"
    val postPath = s"$root/posting"
    val isTarget = col("source") === "src0"
    val schema = Tables.documents(spark, sfDir).schema
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val plan = new CrashPlan(crashAt)

    def start() = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batches.add(id)
        val docs = batch.persist()
        try {
          if (plan.fire(id, "pre"))
            throw new InjectedCrash(s"$Marker (pre, batch $id)")
          // each write is gated on ITS OWN store's existence — the
          // contract pattern for production ingest: a crash between
          // the bootstrap batch's first and second store write leaves
          // the replayed batch taking write for the missing stores and
          // (probed, no-op) append for the landed ones. A single
          // shared !exists branch would re-enter append against
          // stores that were never created (round-11 advisor finding,
          // now exercised by the batch-0 "mid" crash below).
          if (!exists(spark, dsirPath)) DsirStore.write(docs, isTarget, dsirPath)
          else DsirStore.append(docs, isTarget, dsirPath)
          if (!exists(spark, postPath)) PostingStore.write(docs, postPath)
          else PostingStore.append(docs, postPath)
          if (plan.fire(id, "mid"))
            throw new InjectedCrash(s"$Marker (mid, batch $id)")
          if (!exists(spark, bandPath)) BandStore.write(docs, bandPath)
          else BandStore.append(docs, bandPath)
        } finally docs.unpersist()
      }
      .start()

    // docs whose DSIR counts landed but whose band rows did not =
    // the partially-applied set the replay must heal
    def partialProbe(): Long =
      if (!exists(spark, dsirPath) || !exists(spark, bandPath)) 0L
      else DsirStore.counts(spark, dsirPath).select(col("doc_id")).distinct()
        .join(BandStore.bandTable(spark, bandPath)
          .select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .count()

    val (restarts, partial) = driveWithRestarts(() => start(), () => partialProbe())
    IngestReport(drain(batches), plan.fired.get(), restarts, partial)
  }

  /** Embeddings ingest into the IVF store: bootstrap batch trains the
    * centroids, later batches append under them; "mid" crashes after
    * the append (single store — the crash point is append-landed,
    * epoch-uncommitted).
    */
  def runIvfIngest(spark: SparkSession, sfDir: String, srcDir: String,
                   root: String, chk: String,
                   crashAt: Map[Long, String]): IngestReport = {
    val ivfPath = s"$root/ivf"
    val driftPath = s"$root/drift"
    val schema = Tables.embeddings(spark, sfDir).schema
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val plan = new CrashPlan(crashAt)

    def start() = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batches.add(id)
        val vecs = batch.persist()
        try {
          if (plan.fire(id, "pre"))
            throw new InjectedCrash(s"$Marker (pre, batch $id)")
          // drift fold rides the same batch, keyed by foreachBatch's
          // OWN id — the real replay unit. Folding BEFORE the ivf
          // block and the "mid" crash means a mid-crashed batch has
          // drift sums landed but the epoch uncommitted: the replay
          // re-delivers the batch and the batch-id probe must no-op
          // (a doc-presence probe can't protect SUMS — this is the
          // DriftStore idempotence contract under genuine replay)
          if (!exists(spark, driftPath))
            graft.operators.DriftStore.write(vecs,
              pmod(col("vec_id"), lit(2)), driftPath, id)
          else
            graft.operators.DriftStore.append(vecs,
              pmod(col("vec_id"), lit(2)), driftPath, id)
          if (!exists(spark, s"$ivfPath/index")) IvfStore.write(vecs, ivfPath, nCells = 8)
          else {
            IvfStore.append(vecs, ivfPath)
            if (plan.fire(id, "mid"))
              throw new InjectedCrash(s"$Marker (mid, batch $id)")
          }
        } finally vecs.unpersist()
      }
      .start()

    val (restarts, _) = driveWithRestarts(() => start(), () => 0L)
    IngestReport(drain(batches), plan.fired.get(), restarts, 0L)
  }

  /** Force strictly increasing, split-ordered modification times on
    * the files each split wrote. FileStreamSource orders new files by
    * mtime: two splits landing within the filesystem's timestamp
    * granularity would make batch order NONDETERMINISTIC, flaking the
    * cross-run determinism this gate asserts (the IVF centroids are
    * trained on "the bootstrap batch"; the candle splits rely on
    * time-ordered arrival). Explicit setTimes makes the write order
    * the delivery order by construction instead of by luck.
    */
  private def stampSplit(spark: SparkSession, dir: String, split: Int,
                         seen: scala.collection.mutable.Set[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = 1700000000000L // fixed epoch base: deterministic across runs
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (!st.isDirectory && !name.startsWith("_") && !name.startsWith(".") &&
          !seen.contains(name)) {
        fs.setTimes(st.getPath, t0 + split * 60000L, -1)
        seen += name
      }
    }
  }

  /** Split `table` into `n` single-file parquet drops under a fresh
    * dir (one micro-batch each under maxFilesPerTrigger=1), with
    * mtimes forced to the split order (see [[stampSplit]]).
    */
  def splitSource(df: DataFrame, keyCol: String, n: Int, dir: String): Unit = {
    val seen = scala.collection.mutable.Set[String]()
    (0 until n).foreach { i =>
      df.filter(pmod(col(keyCol), lit(n.toLong)) === i.toLong)
        .coalesce(1).write.mode("append").parquet(dir)
      stampSplit(df.sparkSession, dir, i, seen)
    }
  }

  /** Split an EVENT-TIME table into `n` contiguous time ranges, one
    * file each — batches arrive in time order, so a watermarked
    * streaming agg never sees drop-eligible late rows (windows
    * straddling a split have window_end past the watermark, the
    * CheckpointRecoverySpec argument). Boundaries derive from the
    * data's min/max span — deterministic, no driver-side ordering.
    */
  def splitSourceByTime(df: DataFrame, tsCol: String, n: Int,
                        dir: String): Unit = {
    val mm = df.agg(min(col(tsCol)).cast("long").as("lo"),
      max(col(tsCol)).cast("long").as("hi")).collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val step = math.max(1L, (hi - lo + n) / n)
    val seen = scala.collection.mutable.Set[String]()
    (0 until n).foreach { i =>
      val from = lo + i * step
      val until = lo + (i + 1) * step
      df.filter(col(tsCol).cast("long") >= from &&
          (if (i == n - 1) lit(true) else col(tsCol).cast("long") < until))
        .coalesce(1).write.mode("append").parquet(dir)
      stampSplit(df.sparkSession, dir, i, seen)
    }
  }

  /** Stateful ingest: tumbling hour-candle aggregation (update mode,
    * windowed state store) merged into the partitioned candle store
    * per batch. A "mid" crash lands AFTER mergeBatchIntoStore but
    * BEFORE the epoch commit — restart rolls the state store back to
    * the last committed version, recomputes the batch, re-emits the
    * same changed windows, and the merge must overwrite the crashed
    * merge's partitions with identical content.
    */
  def runCandleIngest(spark: SparkSession, sfDir: String, srcDir: String,
                      root: String, chk: String,
                      crashAt: Map[Long, String]): IngestReport = {
    val storePath = s"$root/candles"
    // Candles.transactions already returns exactly (symbol, price,
    // quantity, ts)
    val schema = graft.operators.Candles.transactions(spark, sfDir).schema
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val plan = new CrashPlan(crashAt)

    def start() = graft.streaming.CandleStream.candles(
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir),
        graft.model.CandleTimeFrame.Hour)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batches.add(id)
        if (plan.fire(id, "pre"))
          throw new InjectedCrash(s"$Marker (pre, batch $id)")
        graft.streaming.CandleStream.mergeBatchIntoStore(batch, storePath)
        if (plan.fire(id, "mid"))
          throw new InjectedCrash(s"$Marker (mid, batch $id)")
      }
      .start()

    val (restarts, _) = driveWithRestarts(() => start(), () => 0L)
    IngestReport(drain(batches), plan.fired.get(), restarts, 0L)
  }

  /** Per-tier result of the composed-pipeline crash/resume sweep:
    * crash injected right after `tier`'s write commits, restart over
    * the same tierDir, then (match) the resumed report is
    * bit-identical to an uninterrupted staged run, (untouched) every
    * tier completed before the crash is byte-untouched by the resume
    * (file lengths + mtimes compared; tier() skips a tier whose
    * _SUCCESS exists, so any rewrite would show), (crashes) the hook
    * fired exactly once.
    */
  final case class TierResume(tier: String, matches: Boolean,
                              untouched: Boolean, crashes: Int)

  /** Composed-pipeline crash/resume (the batch sibling of the
    * streaming scenarios): Curation.fullPipelineStaged killed at
    * EVERY tier boundary in turn — report_head, sv5, cp, sv6, sv7
    * (write order) — so the resume contract is pinned exhaustively,
    * not just at the mid-funnel cp point round 12 exercised: the
    * first boundary leaves four tiers to recompute, the last leaves
    * only the report read. Also checks the staged report equals the
    * in-memory localCheckpoint variant once. Returns
    * (stagedMatchesInMemory, per-tier results).
    */
  def runPipelineResume(spark: SparkSession, sfDir: String,
                        root: String): (Boolean, Seq[TierResume]) = {
    import graft.operators.Curation
    val docs = Tables.documents(spark, sfDir)
    val clean = canon(Curation.fullPipelineStaged(docs, s"$root/tiers-clean"))
    val vsInMem = java.util.Arrays.equals(
      canon(Curation.fullPipeline(docs)).asInstanceOf[Array[AnyRef]],
      clean.asInstanceOf[Array[AnyRef]])
    def lsTiers(dir: String): Map[String, (Long, Long)] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val st = it.next()
        b += (st.getPath.toString -> (st.getLen, st.getModificationTime))
      }
      b.result()
    }
    val tiers = Seq("report_head", "sv5", "cp", "sv6", "sv7")
    val perTier = tiers.map { t =>
      val dir = s"$root/tiers-crash-$t"
      var crashes = 0
      try {
        Curation.fullPipelineStaged(docs, dir, onTierWritten = p =>
          if (p.endsWith(s"/$t")) {
            crashes += 1
            throw new InjectedCrash(s"$Marker (tier boundary, after $t)")
          })
        throw new IllegalStateException(
          s"pipeline tier crash after $t did not fire")
      } catch { case e: Throwable if isInjected(e) => () }
      val before = lsTiers(dir)
      val resumed = canon(Curation.fullPipelineStaged(docs, dir))
      val after = lsTiers(dir)
      val untouched = before.forall { case (k, v) => after.get(k).contains(v) }
      TierResume(t,
        java.util.Arrays.equals(resumed.asInstanceOf[Array[AnyRef]],
          clean.asInstanceOf[Array[AnyRef]]),
        untouched, crashes)
    }
    (vsInMem, perTier)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    val builder = SparkSession.builder()
      .appName("graft-replay-gate")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_STATE_PROVIDER=rocksdb_tuned runs the stateful
    // scenario on the PRODUCTION state-store config (RocksDB +
    // changelog checkpointing — the knobs STATEBENCH_r10/r11.json
    // recommend):
    // changelog checkpointing replaces full-snapshot uploads with
    // per-batch deltas, i.e. a DIFFERENT rollback/replay mechanism
    // than the default HDFS-backed store, so the crash/restart gate
    // must hold under it separately.
    val provider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "hdfs")
    if (provider.startsWith("rocksdb")) {
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      if (provider == "rocksdb_tuned") {
        builder.config(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
        builder.config(
          "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
          "false")
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "ERROR"))

    val work = Files.createTempDirectory("graft-replay").toString
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val txns = graft.operators.Candles.transactions(spark, sfDir)
    splitSource(docs, "doc_id", 3, s"$work/doc-src")
    splitSource(emb, "vec_id", 3, s"$work/emb-src")
    splitSourceByTime(txns, "ts", 3, s"$work/txn-src")

    // clean run (no crashes), then the crashed-and-restarted run
    val cleanDoc = runDocIngest(spark, sfDir, s"$work/doc-src",
      s"$work/clean", s"$work/clean-chk", Map.empty)
    val crashedDoc = runDocIngest(spark, sfDir, s"$work/doc-src",
      s"$work/crashed", s"$work/crashed-chk",
      // batch-0 "mid" = a crash INSIDE the bootstrap batch (DSIR +
      // posting written, band store never created) — the replayed
      // bootstrap must write the missing store and no-op the others
      Map(0L -> "mid", 1L -> "mid", 2L -> "pre"))
    val cleanIvf = runIvfIngest(spark, sfDir, s"$work/emb-src",
      s"$work/clean", s"$work/clean-ivf-chk", Map.empty)
    val crashedIvf = runIvfIngest(spark, sfDir, s"$work/emb-src",
      s"$work/crashed", s"$work/crashed-ivf-chk", Map(1L -> "mid"))
    val cleanCandle = runCandleIngest(spark, sfDir, s"$work/txn-src",
      s"$work/clean", s"$work/clean-candle-chk", Map.empty)
    val crashedCandle = runCandleIngest(spark, sfDir, s"$work/txn-src",
      s"$work/crashed", s"$work/crashed-candle-chk",
      Map(1L -> "mid", 2L -> "pre"))
    val (pipeVsInMem, pipeTiers) = runPipelineResume(spark, sfDir, work)
    val pipeMatch = pipeTiers.forall(_.matches)
    val pipeUntouched = pipeTiers.forall(_.untouched)
    val pipeCrashes = pipeTiers.map(_.crashes).sum

    def storesEqual(sub: String): Boolean =
      java.util.Arrays.equals(
        canon(spark.read.parquet(s"$work/clean/$sub"))
          .asInstanceOf[Array[AnyRef]],
        canon(spark.read.parquet(s"$work/crashed/$sub"))
          .asInstanceOf[Array[AnyRef]])

    val dsirMatch = storesEqual("dsir")
    val bandMatch = storesEqual("band")
    val postMatch = storesEqual("posting")
    val ivfMatch = storesEqual("ivf/index")
    val candleMatch = storesEqual("candles")
    // drift folds are per-batch rows keyed by batch_id; clean and
    // crashed runs must land identical stores AND the crashed fold's
    // screen must equal the one-shot batch screen bit-for-bit
    val driftMatch = storesEqual("drift")
    val driftVsFull = java.util.Arrays.equals(
      canon(graft.operators.DriftStore.screen(spark, s"$work/crashed/drift"))
        .asInstanceOf[Array[AnyRef]],
      canon(Similarity.embedDrift(emb, pmod(col("vec_id"), lit(2))))
        .asInstanceOf[Array[AnyRef]])
    // the stateful path must also equal the batch aggregation — state
    // rollback + update-mode re-emission + merge idempotence end to end
    val candleVsFull = java.util.Arrays.equals(
      canon(spark.read.parquet(s"$work/crashed/candles")
        .select(graft.operators.Candles.candleColumns: _*))
        .asInstanceOf[Array[AnyRef]],
      canon(graft.operators.Candles.rollup(
          graft.operators.Candles.minuteCandles(txns),
          graft.model.CandleTimeFrame.Hour)
        .select(graft.operators.Candles.candleColumns: _*))
        .asInstanceOf[Array[AnyRef]])

    // the crashed store must also equal a from-scratch batch build
    val isTarget = col("source") === "src0"
    val dsirVsFull = java.util.Arrays.equals(
      canon(DsirStore.counts(spark, s"$work/crashed/dsir")
        .select(col("doc_id"), col("is_t"), col("b"), col("n")))
        .asInstanceOf[Array[AnyRef]],
      canon(graft.operators.Curation.dsirCountTable(docs, isTarget)
        .select(col("doc_id"), col("is_t"), col("b"), col("n")))
        .asInstanceOf[Array[AnyRef]])
    val bandVsFull = java.util.Arrays.equals(
      canon(BandStore.bandTable(spark, s"$work/crashed/band")
        .select(col("doc_id"), col("band"), col("band_hash")))
        .asInstanceOf[Array[AnyRef]],
      canon(LshDedup.bandTable(docs)
        .select(col("doc_id"), col("band"), col("band_hash")))
        .asInstanceOf[Array[AnyRef]])
    val postVsFull = java.util.Arrays.equals(
      canon(PostingStore.postings(spark, s"$work/crashed/posting")
        .select(col("term"), col("doc_id"), col("tf")))
        .asInstanceOf[Array[AnyRef]],
      canon(PostingStore.build(docs)
        .select(col("term"), col("doc_id"), col("tf")))
        .asInstanceOf[Array[AnyRef]])
    // IVF: same centroid set (bootstrap batch is byte-identical across
    // runs), so the crashed index must equal assigning the whole
    // table under the CLEAN store's centroids
    val ivfVsFull = java.util.Arrays.equals(
      canon(IvfStore.index(spark, s"$work/crashed/ivf")
        .select(col("vec_id"), col("cell_id")))
        .asInstanceOf[Array[AnyRef]],
      canon(Similarity.ivfAssign(emb,
          IvfStore.centroids(spark, s"$work/clean/ivf"))
        .select(col("vec_id"), col("cell_id")))
        .asInstanceOf[Array[AnyRef]])

    val replayedDoc = crashedDoc.batches.groupBy(identity)
      .count { case (_, v) => v.size > 1 }
    val allMatch = dsirMatch && bandMatch && postMatch && ivfMatch &&
      candleMatch && driftMatch &&
      dsirVsFull && bandVsFull && postVsFull && ivfVsFull &&
      candleVsFull && driftVsFull &&
      crashedDoc.crashes == 3 && crashedIvf.crashes == 1 &&
      crashedCandle.crashes == 2 &&
      crashedDoc.partiallyAppliedDocs > 0L &&
      cleanDoc.crashes == 0 && cleanIvf.crashes == 0 &&
      cleanCandle.crashes == 0 &&
      pipeMatch && pipeUntouched && pipeVsInMem &&
      pipeTiers.forall(_.crashes == 1)

    println(s"""{"metric":"replay_gate","all_match":$allMatch,""" +
      s""""doc_crashes":${crashedDoc.crashes},"doc_restarts":${crashedDoc.restarts},""" +
      s""""doc_batches":${crashedDoc.batches.length},"doc_batches_replayed":$replayedDoc,""" +
      s""""partially_applied_docs":${crashedDoc.partiallyAppliedDocs},""" +
      s""""ivf_crashes":${crashedIvf.crashes},"ivf_restarts":${crashedIvf.restarts},""" +
      s""""candle_crashes":${crashedCandle.crashes},""" +
      s""""candle_restarts":${crashedCandle.restarts},""" +
      s""""dsir_match":$dsirMatch,"band_match":$bandMatch,""" +
      s""""posting_match":$postMatch,"ivf_match":$ivfMatch,""" +
      s""""candle_match":$candleMatch,""" +
      s""""dsir_vs_full":$dsirVsFull,"band_vs_full":$bandVsFull,""" +
      s""""posting_vs_full":$postVsFull,"ivf_vs_full":$ivfVsFull,""" +
      s""""candle_vs_full":$candleVsFull,""" +
      s""""drift_match":$driftMatch,"drift_vs_full":$driftVsFull,""" +
      s""""pipeline_match":$pipeMatch,""" +
      s""""pipeline_tiers_untouched":$pipeUntouched,""" +
      s""""pipeline_vs_inmem":$pipeVsInMem,""" +
      s""""pipeline_crashes":$pipeCrashes,""" +
      s""""pipeline_tier_sweep":{${pipeTiers.map(t =>
        s""""${t.tier}":{"match":${t.matches},"untouched":${t.untouched},""" +
          s""""crashes":${t.crashes}}""").mkString(",")}},""" +
      s""""state_provider":"$provider",""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
    if (!allMatch) sys.exit(1)
  }
}
