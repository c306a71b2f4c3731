package graft

import graft.obs.QueryProfile

/** Where a catalog query's time and bytes go: `graft.Profile <query…>` runs
  * each query on the tables in `SPARK_GRAFT_SF_DIR` (default sf0.1) and
  * prints its [[graft.obs.QueryProfile]] report and final plans. Each query
  * runs once unprofiled first (fixtures, generated code), so the profiled
  * run is the warm one Bench times; a run is a `noop` write, as in Bench. */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
    for (name <- args) {
      run(name)
      val p = QueryProfile(spark)(run(name))
      println(s"===== $name ($dir)\n${p.report}")
      for ((a, i) <- p.actions.zipWithIndex; plan <- a.plan)
        println(s"----- final plan #${i + 1} ${a.callSite} (${a.funcName})\n$plan")
    }
    spark.stop()
  }
}
