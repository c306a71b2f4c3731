package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.pipeline._

/** Every operator that materializes releases what it persisted: once its
  * result is collected, the only persisted RDDs it left behind are the
  * checkpoints that result reads ([[Materialize]]'s `keep`). */
class PairCacheSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointOf(df: Dataset[_]): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def assertReleased(run: => Any): Unit = {
    val before = persisted
    val kept = run match {
      case df: Dataset[_] => df.collect(); checkpointOf(df)
      case _ => Set.empty[Int]
    }
    val left = persisted -- before
    assert(left.subsetOf(kept), s"left persisted: ${left -- kept}")
  }

  private def docs = sf("documents").filter(col("doc_id") < 200)
  private def vecs = sf("embeddings")
  private def edges = (1 to 40).flatMap(i =>
      Seq(s"u${i % 7}" -> s"v${i % 11}", s"v${i % 11}" -> s"u${i % 5}"))
    .toDF("s", "d")

  private val ops: Seq[(String, () => Any)] = Seq(
    "minhashPairs" -> (() => Dedup.minhashPairs(docs, "text", "doc_id",
      numHashes = 64, bands = 16, jaccardThreshold = 0.5)),
    "minhashPairsMd5" -> (() => Dedup.minhashPairsMd5(docs, "text", "doc_id")),
    "incrementalNearDupMd5" -> (() => Dedup.incrementalNearDupMd5(
      docs.filter(col("doc_id") >= 100), "text", "doc_id",
      Dedup.minhashLedgerMd5(docs.filter(col("doc_id") < 100), "text", "doc_id"))),
    "prefixJaccardJoin" -> (() => Dedup.prefixJaccardJoin(docs, "text", "doc_id")),
    "prefixJaccardScreen" -> (() => Dedup.prefixJaccardScreen(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      "text", "doc_id")),
    "containmentJoin" -> (() => Dedup.containmentJoin(docs, "text", "doc_id")),
    "embeddingPairs" -> (() => Dedup.embeddingPairs(vecs, "embedding", "vec_id",
      cosineThreshold = 0.5)),
    "signaturePairs" -> (() => Dedup.simhashPairs(docs, "text", "doc_id")),
    "connectedComponents" -> (() => Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2"))),
    "pageRank" -> (() => Graph.pageRank(edges, "s", "d")),
    "personalizedPageRank" -> (() => Graph.personalizedPageRank(edges, "s", "d",
      Seq("u1").toDF("seed"), "seed")),
    "labelPropagation" -> (() => Graph.labelPropagation(edges,
      Seq("u1" -> 1.0, "v2" -> 0.0).toDF("id", "label"), "s", "d", "id", "label")),
    "kCorePeel" -> (() => Graph.kCorePeel(edges, "s", "d", k = 2, rounds = 2)),
    "triangles" -> (() => Graph.triangles(edges, "s", "d")),
    "kmeansFit" -> (() => Cluster.kmeansFit(vecs, "embedding", "vec_id", k = 4)._1),
    "embeddingOutliers" -> (() => Cluster.embeddingOutliers(vecs, "embedding", "vec_id")),
    "kCenterGreedy" -> (() => Sampling.kCenterGreedy(vecs, "embedding", "vec_id", k = 4)),
    "trainMerges" -> (() => Bpe.trainMerges(docs, "text", numMerges = 4)),
    "trainLogistic" -> (() => Classifier.trainLogistic(docs,
      Classifier.features(col("text")), (col("doc_id") % 2).cast("double"), iters = 3)))

  for ((name, run) <- ops)
    test(s"$name leaves no persisted frame behind") { assertReleased(run()) }

  test("pageRank on an empty graph throws and leaves nothing persisted") {
    val before = persisted
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq.empty[(String, String)].toDF("s", "d"), "s", "d")
    }
    assert(persisted -- before == Set.empty)
  }

  test("kmeansFit's output still collects after its scope has exited") {
    // the assignment frame reads the kept input checkpoint lazily
    val (out, cents) = Cluster.kmeansFit(vecs, "embedding", "vec_id", k = 4)
    assert(cents.length == 4)
    assert(out.collect().length == vecs.filter(col("embedding").isNotNull).count())
  }
}
