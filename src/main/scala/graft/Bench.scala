package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Measure.session(
      // the default 100-entry generated-class cache evicts across a
      // 119-query run, so late queries pay full codegen compile on
      // BOTH timed runs (measured q_winnow: 4.3 s evicted vs 1.0 s
      // warm) — size it to hold the whole suite
      "spark.sql.codegen.cache.maxEntries" -> "5000")

    // JVM/codegen warmup so the first measured query isn't charged for
    // JIT + classloading (measures the engine, not the JVM cold start)
    spark.range(0, 2000000).selectExpr("sum(id)", "avg(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // r15 measurement fix (optimization guide §1): the two-line warmup
    // above left the first ~15 queries of the alphabetical sweep
    // carrying seconds of JIT/classloading cost — measured q1_agg
    // 2.4 s benched vs 0.9 s JIT-warm floor, q5_multijoin 3.8 vs 0.7,
    // q_bigrams 3.5 vs 0.5 (OPTIMIZATION_r15.md). Warm the operator
    // classes the suite actually exercises — parquet scan → decimal
    // hash agg, shuffle join + window, explode/split over text, and
    // the noop sink itself — over the benchmark's own inputs, results
    // discarded. Every timed query still computes from parquet alone.
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      // warmup must never kill the sweep: a dataset dir missing one
      // of these tables (or a SPARK_GRAFT_ONLY selection that never
      // touches them) previously crashed at warmup — each shape now
      // logs and continues on a non-fatal failure; fatal errors
      // (VirtualMachineError, InterruptedException, ...) still end the run
      def noop(df: => org.apache.spark.sql.DataFrame): Unit =
        try df.write.format("noop").mode("overwrite").save()
        catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] warmup shape skipped: ${e.getMessage}")
        }
      lazy val wLi = spark.read.parquet(s"$sfDir/lineitem.parquet")
      lazy val wOrd = spark.read.parquet(s"$sfDir/orders.parquet")
      lazy val wDoc = spark.read.parquet(s"$sfDir/documents.parquet")
      lazy val wEv = spark.read.parquet(s"$sfDir/events.parquet")
      for (_ <- 1 to 2) {
        noop(wLi.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity").cast("decimal(18,4)")),
            countDistinct(col("l_suppkey")), count(lit(1))))
        noop(wLi.join(wOrd, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))))
        noop(wOrd.withColumn("rk", row_number().over(
            Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice").desc)))
          .filter(col("rk") <= 3))
        noop(wDoc.select(col("doc_id"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1))))
        noop(wEv.groupBy(col("event_type"), window(col("ts"), "1 minute"))
          .agg(max(col("value")), min(col("value")), sum(lit(1))))
      }
    }

    // two timed runs per query, keep the min: steady-state cost, not
    // whichever run ate the JIT/GC noise. A failed run must NOT pollute
    // the series with its failure latency (-1), and a HUNG query must
    // not stall the whole sweep — each run sits under Measure's
    // watchdog, which cancels its job group on timeout.
    val timeoutS = Measure.timeoutS(900)
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      // noop sink: full materialization of every output column
      // (count() alone would let Spark prune the projections away)
      Measure.run(spark, s"bench-$name", timeoutS) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } match {
        case Right(secs) => secs
        case Left(msg) =>
          System.err.println(s"[bench] $name failed: $msg")
          -1.0
      }
    // local-iteration aid (mirrors Verify): SPARK_GRAFT_ONLY=q_a,q_b
    // restricts the sweep; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(ks) => SparkEntry.queries.view.filterKeys(ks).toMap
      case None => SparkEntry.queries
    }
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // short-circuit: a timed-out/failed first run means the second
      // would almost certainly burn the same timeout for a pair that
      // gets discarded anyway
      val a = once(name, fn)
      val b = if (a < 0) a else once(name, fn)
      name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failures = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val failed = failures.mkString("[", ",", "]")
    // a sweep with failures has an incomparable total — summing only
    // the successes would read as a round-over-round speedup. Poison
    // it so any consumer comparing totals hard-fails instead.
    val total =
      if (failures.nonEmpty) -1.0 else results.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}""")
    spark.stop()
  }
}
