package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** `sweep`: one pass, in seeded order, over ROADMAP's carried batch
  * targets at sf0.001, each built with SparkEntry.queries and written
  * out as parquet, the way graft.Verify dumps results (without its
  * coalesce(1), which would add a stage). run.py then compares the dump
  * with the DuckDB oracle through tools/check.py, so the checked
  * results are the timed pass's own. */
object Sweep {
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val o = ctx.o
    // sf0.001, the scale of the warmup: at these sizes planning and
    // per-job scheduling dominate (an sf0.01 pass is only ~30% slower),
    // and the timed pass then runs exactly the plans the warmup compiled
    val sf = s"${o.dataDir}/sf0.001"
    val order = Inputs.sweepOrder(o.seed)
    ctx.inputParts ++= order

    // set-up: the six queries at once, written out as the timed pass
    // writes them, from a cold session: graft's planning, codegen and
    // eager builder jobs and the parquet writer compile on all cores
    // here instead of inside the timed pass. Only the first run is
    // cold, so it is timed once.
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(order.size)
    try order.map { q =>
      pool.submit(new Runnable {
        def run(): Unit = Watchdog.warm(q) {
          SparkEntry.queries(q)(spark, sf).write.mode("overwrite").parquet(s"${o.workDir}/sweep-warm/$q")
        }
      })
    }.foreach(_.get()) finally pool.shutdown()
    ctx.setupS += (System.nanoTime() - t0) / 1e9
    Log.info(f"set-up done: ${ctx.setupS.last}%.2fs")

    val dump = s"${o.workDir}/sweep-dump"
    Files.createDirectories(Paths.get(dump))
    Files.write(Paths.get(dump, "oracle_sql.json"), Json.obj(order.map(q =>
      q -> Json.str(SparkEntry.oracleSql(q)))).getBytes(StandardCharsets.UTF_8))
    // job group of each query's latest run, for its job count
    val groups = scala.collection.concurrent.TrieMap.empty[String, String]
    def pass(log: OpLog): Unit = order.zipWithIndex.foreach { case (q, i) =>
      Watchdog.timed(spark, log, q, o.opTimeoutS * 2) {
        val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        val df = ctx.tracer.span(s"sweep.$q.build", "sweep", i)(SparkEntry.queries(q)(spark, sf))
        ctx.tracer.span(s"sweep.$q.exec", "sweep", i)(df.write.mode("overwrite").parquet(s"$dump/$q"))
        groups(q) = group
      }
    }
    val log = new OpLog
    if (o.trace) {
      // one untraced pass, then the traced one; the second is the
      // warmer, so the overhead estimate leans low
      val untraced = new OpLog
      pass(untraced)
      ctx.registerListeners()
      ctx.beginWindow()
      pass(log)
      ctx.endWindow()
      ctx.unregisterListeners()
      val u = untraced.all.map(_.ms).sum
      val t = log.all.map(_.ms).sum
      ctx.layer("trace.overhead_ms_p50", Stats.median(log.all.map(_.ms)) - Stats.median(untraced.all.map(_.ms)))
      ctx.layer("trace.overhead_pct", 100.0 * (t - u) / u)
      order.foreach { q =>
        ctx.layer(s"sweep.$q.build_ms", ctx.tracer.totalMs(s"sweep.$q.build"))
        ctx.layer(s"sweep.$q.exec_ms", ctx.tracer.totalMs(s"sweep.$q.exec"))
        ctx.layer(s"sweep.$q.jobs", groups.get(q).map(g => ctx.counters.jobsIn(g).toDouble).getOrElse(Double.NaN))
      }
      untraced.all.filterNot(_.ok).foreach(log.add)
    } else {
      ctx.beginWindow()
      pass(log)
      ctx.endWindow()
    }
    ctx.liveHeapMb = Host.liveHeapMb()

    // each query of the timed pass; a failed one keeps its latency
    val ops = log.all
    val ms = order.map { q =>
      val runs = ops.filter(_.kind == q)
      runs.find(_.ok).getOrElse(runs.head).ms
    }
    ctx.workload("query_ms_p50", Stats.pct(ms, 0.5), "ms")
    ctx.workload("query_ms_p85", Stats.pct(ms, 0.85), "ms")
    ctx.workload("query_ms_p90", Stats.pct(ms, 0.9), "ms")
    ctx.workload("queries_per_s", ms.size / (ms.sum / 1000.0), "1/s")
    ctx.workload("sweep_s", ms.sum / 1000.0, "s")
    order.zip(ms).foreach { case (q, m) => ctx.workload(s"query.${q}_ms", m, "ms") }
    Outcome(ops.size.toLong, ops.count(!_.ok).toLong, ops.forall(_.ok),
      info = scala.collection.mutable.LinkedHashMap(
        "oracle_check" -> Json.obj(Seq("sf_dir" -> Json.str(sf), "dump_dir" -> Json.str(dump),
          "queries" -> order.map(Json.str).mkString("[", ",", "]")))))
  }
}
