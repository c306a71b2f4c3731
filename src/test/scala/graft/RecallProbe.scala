package graft

import org.apache.spark.sql.functions._

/** Scratch: measure IVF probe recall vs brute at sf0.01/sf0.1. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    import graft.pipeline.Similarity
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = catalog.Shared.T(spark, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("ivfrec").toFile.getAbsolutePath + "/idx"
      val centroids = Similarity.ivfWriteIndex(emb, "embedding", "vec_id", nCells = 16, path)
      val idx = spark.read.parquet(path)
      val rnd = new scala.util.Random(5)
      val qids = Seq.fill(8)(rnd.nextInt(500).toLong)
      val recalls = for (qid <- qids) yield {
        val q = emb.filter(col("vec_id") === qid).select("embedding").head().getSeq[Float](0)
        val brute = Similarity.bruteTopK(emb, "embedding", "vec_id", q, 20)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        for (np <- Seq(2, 4, 8)) yield {
          val ivf = Similarity.ivfTopK(idx, centroids, "embedding", "vec_id", q, 20, nProbe = np)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          (np, (brute intersect ivf).size.toDouble / brute.size)
        }
      }
      for (np <- Seq(2, 4, 8)) {
        val rs = recalls.flatten.filter(_._1 == np).map(_._2)
        println(f"$dir nProbe=$np%2d recall avg=${rs.sum / rs.size}%.3f min=${rs.min}%.3f")
      }
    }
    spark.stop()
  }
}
