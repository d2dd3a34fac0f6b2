package perfbench

import org.apache.spark.sql.SparkSession

/** Generates the benchmark's fixed tables with graft.GenData, once per
  * build: sf0.1 (its events feed the serve store) and sf0.001 (the
  * sweep, and every workload of the smoke test). The tables are a pure
  * function of the scale factor. Run with SPARK_GRAFT_GEN_TABLES naming
  * the tables. */
object Prepare {
  def main(args: Array[String]): Unit = {
    val Array(outDir, cores) = args
    val spark = SparkSession.builder().appName("perfbench-prepare")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/.spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try Seq("0.1", "0.001").foreach { sf =>
      graft.GenData.generate(spark, s"$outDir/sf$sf", sf.toDouble, srcDir = "")
    } finally spark.stop()
  }
}
