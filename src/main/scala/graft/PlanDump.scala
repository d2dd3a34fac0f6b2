package graft
import org.apache.spark.sql.SparkSession

/** Print the executed physical plan of named queries (PLANS.md is
  * curated from this output). Usage: runMain graft.PlanDump q1_agg …
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runFirst = sys.env.get("SPARK_GRAFT_FINAL").contains("1")
    args.foreach { name =>
      println(s"\n## $name\n")
      // "_"-prefixed stage-split targets: plans of
      // operator internals the query-level explain can't show because
      // the enclosing loop materializes eagerly
      val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
        name match {
          case "_cc_round" => (s, d) => {
            import org.apache.spark.sql.functions.col
            val edges = graft.operators.LshDedup.exactJaccardPairs(
              graft.sources.Tables.documents(s, d), threshold = 0.8)
              .select(col("doc_a").as("src"), col("doc_b").as("dst"))
              .localCheckpoint()
            graft.operators.Dedup.smallStar(
              graft.operators.Dedup.largeStarRaw(edges))
          }
          case n => SparkEntry.queries(n)
        }
      val df = fn(spark, sf)
      if (runFirst) df.write.format("noop").mode("overwrite").save()
      // SPARK_GRAFT_PLANMODE=formatted → explain("formatted") (the
      // r15 plans/ artifacts); default stays the PLANS.md simple mode
      val mode =
        if (sys.env.get("SPARK_GRAFT_PLANMODE").contains("formatted"))
          org.apache.spark.sql.execution.FormattedMode
        else org.apache.spark.sql.execution.SimpleMode
      println(df.queryExecution.explainString(mode))
    }
    spark.stop()
  }
}
