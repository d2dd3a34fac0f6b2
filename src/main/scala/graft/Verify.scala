package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // plan-shape invariance knobs for the determinism gates (unset by
    // default, so the dump's contract is unchanged): every query's OUTPUT
    // must be identical with AQE disabled and under any shuffle
    // partition count — a value that depends on either is a
    // partial-aggregation-order bug waiting for a cluster.
    val overrides = Seq(
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "spark.sql.shuffle.partitions",
      "SPARK_GRAFT_AQE" -> "spark.sql.adaptive.enabled")
      .flatMap { case (env, key) => sys.env.get(env).map(key -> _) }
    val spark = Measure.session(overrides: _*)
    // sampled-cohort big-SF gate (Tables.maybeSample scaladoc): the
    // engine dump and the DuckDB compare (check_ckpt --sample-mod)
    // restrict the corpus tables to id % k == 0 in lockstep. The
    // driver never sets it; contract unchanged.
    sys.env.get("SPARK_GRAFT_SAMPLE_MOD").foreach { k =>
      System.err.println(s"[verify] sampled-cohort mode: id % $k == 0")
      spark.conf.set("graft.sample.idMod", k)
    }
    new java.io.File(outDir).mkdirs()
    // local-iteration aid: SPARK_GRAFT_ONLY=q_a,q_b restricts the dump
    // (and the oracle manifest) to the named queries; the driver never
    // sets it, so the contract is unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(ks) => SparkEntry.queries.view.filterKeys(ks).toMap
      case None => SparkEntry.queries
    }
    // A crashed query must be LOUD: it writes an error sidecar and the
    // run exits nonzero. (Round 5 shipped with 54 silently-crashed
    // queries because failures only went to stderr — the gate's
    // denominator shrank and everything looked green.) A HUNG query is
    // worse still — no sidecar, no output, the whole gate stalls — so
    // each query runs under a watchdog: on timeout its Spark job group
    // is cancelled, the failure is recorded, and the dump moves on.
    val timeoutS = Measure.timeoutS(1800)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // An ExactScale refusal is the DESIGNED outcome when a corpus-sized
    // input reaches an exact Θ(n²) ground-truth path (sf10: documents
    // 500k / embeddings 250k vs the 100k guard) — record it separately
    // so a big-SF gate can be "clean modulo itemized guards" without
    // hiding genuine crashes. The driver's SF never trips a guard, so
    // its contract (_failures.json + exit code) is unchanged.
    val guarded = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def fail(name: String, msg: String): Unit = {
      if (msg != null && msg.contains("exact all-pairs (quadratic)")) {
        System.err.println(s"[verify] $name guarded (by design): $msg")
        guarded(name) = msg
      } else {
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        Files.writeString(Paths.get(s"$outDir/$name.err.txt"), msg)
      }
    }
    // Crash-resume aid for multi-hour big-SF gates (a 170-query sf10
    // dump is hours of recompute after an OOM kill): skip queries whose
    // output dir already holds a parquet success marker. Skipped
    // queries keep their prior dump verbatim — the DuckDB compare is
    // what decides correctness, so a stale dump can only FAIL, never
    // falsely pass. The driver never sets it; contract unchanged.
    val resume = sys.env.get("SPARK_GRAFT_RESUME").contains("1")
    def alreadyDumped(name: String): Boolean =
      Files.exists(Paths.get(s"$outDir/$name/_SUCCESS"))
    selected.foreach { case (name, fn) =>
      if (resume && alreadyDumped(name)) {
        System.err.println(s"[verify] $name skipped (resume: dump exists)")
      } else {
      Measure.run(spark, s"verify-$name", timeoutS) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }.left.foreach(fail(name, _))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = only.fold(SparkEntry.oracleSql)(ks =>
        SparkEntry.oracleSql.view.filterKeys(ks).toMap)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    val guardJson = guarded
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_guarded.json"), guardJson)
    if (guarded.nonEmpty)
      System.err.println(
        s"[verify] ${guarded.size} queries refused by the ExactScale " +
          s"guard (designed at this SF): ${guarded.keys.mkString(", ")}")
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size}/${selected.size} queries FAILED: " +
          failures.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
