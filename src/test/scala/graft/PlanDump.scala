package graft
object PlanDump {
  def main(args: Array[String]): Unit = {
    // the Verify/Bench session confs, so the dumped plans are the ones
    // the driver sessions actually run (and PLANS.md documents)
    val spark = LocalSession()
    val dir = "/root/testdata/sf0.001"
    SparkEntry.prepareIndexes(spark, dir)
    for (n <- args) {
      println(s"===== $n")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
