package graft

/** Scratch micro-bench: steady-state probe-vs-brute comparison for the
  * embedding queries (not a ScalaTest suite; run with Test/runMain). */
object ProbeBench {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    SparkEntry.prepareIndexes(spark, dir)
    def time(n: String): Unit = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).write.mode("overwrite").format("noop").save()
      println(f"$n%-16s ${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q_embed_topk", "q_embed_lsh", "q_embed_ivf")
    for (_ <- 1 to 4; n <- names) time(n)
    spark.stop()
  }
}
