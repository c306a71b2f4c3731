package graft

import org.apache.spark.sql.functions._

/** Scratch micro-bench for the PQ ADC scoring fold: kernel
  * ([[graft.functions.PqAdcExpr]]) vs the declarative
  * aggregate/zip_with/element_at twin, on a corpus inflated to the row
  * counts where per-row cost dominates job overhead. Run with
  * `Test/runMain graft.AdcProbe [inflate]` (default ×100 over sf1's
  * encoded corpus). */
object AdcProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val inflate = args.headOption.map(_.toInt).getOrElse(100)

    val docs = catalog.Shared.T(spark, dir, "embeddings")
    val m = 8; val k = 64
    val books = graft.pipeline.Similarity.pqTrain(docs, "embedding", "vec_id", m, k, seed = 1L)
    val enc = graft.pipeline.Similarity.pqEncode(docs, "embedding", "vec_id", books)
      .crossJoin(spark.range(inflate).select(col("id").as("__rep")))
      .select(col("vec_id"), col("pq_codes"), col("pq_norm"))
      .localCheckpoint(true)
    println(s"rows: ${enc.count()}")

    val rnd = new scala.util.Random(3)
    val table = Array.fill(m * k)(rnd.nextDouble() * 2 - 1)

    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    val kernel = C(graft.functions.PqAdcExpr(E(col("pq_codes")), table, m, k))
    val fold = aggregate(zip_with(col("pq_codes"), sequence(lit(0), lit(m - 1)),
      (c, j) => element_at(typedLit(table.toSeq), (j * k + c + 1).cast("int"))),
      lit(0.0), _ + _)

    def time(label: String, c: org.apache.spark.sql.Column): Unit = {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        enc.select(sum(c)).collect()
        println(f"$label%-12s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    time("kernel", kernel)
    time("declarative", fold)
    spark.stop()
  }
}
