package graft

import org.apache.spark.sql.functions._

/** Scale probe for the salted contrastive negative-bucket join (r15,
  * VERDICT r14 item 2): times the q_contrastive operator at a given SF
  * dir with the broadcast threshold at its default OR forced to -1 — the
  * latter simulates the 100 TB regime where the corpus side cannot
  * broadcast and EnsureRequirements exchanges BOTH sides on the join key.
  * Before the salt, that key had only nBuckets=16 distinct values and the
  * explosion re-concentrated on ≤16 partitions; with the salt the key
  * space is nBuckets × defaultParallelism. Run:
  *   SPARK_DRIVER_MEM=24g sbt "Test/runMain graft.SaltProbe /tmp/graft_sf1 off"
  */
object SaltProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val bcast = if (args.length > 1) args(1) else "on"
    val spark = LocalSession(extra = Seq("spark.sql.autoBroadcastJoinThreshold" ->
      (if (bcast == "off") "-1" else "10485760")))
    import graft.ops.WarpOps._
    def run(salt: Int): Unit = {
      val docs = catalog.Shared.T(spark, dir, "documents")
        .warpFilter(col("doc_id") % 7 === 0)
      val near = docs.calculate(Seq(
        "doc_id" -> (col("doc_id") + 1000000),
        "text" -> concat(col("text"), lit(" extra trailing words appended"))))
      graft.pipeline.Preference.contrastiveTriplets(docs.warpUnion(near),
        "text", "doc_id", threshold = 0.6, kNeg = 3, buckets = 16,
        saltFactor = salt)
        .orderBy("anchor_id", "neg_rank")
        .write.mode("overwrite").format("noop").save()
    }
    // alternate salt=1 (off) and salt=32 inside ONE JVM so host drift hits
    // both arms equally
    for (r <- 1 to 3; salt <- Seq(1, 32)) {
      val t0 = System.nanoTime()
      run(salt)
      println(f"contrastive bcast=$bcast salt=$salt%-2d round$r ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
