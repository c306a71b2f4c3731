package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.pipeline.Dedup

/** The banded pair functions release every frame they persist: after the
  * returned pairs are computed, the only new persisted RDD is the result's
  * own eager checkpoint (none when `materialize = false`). */
class PairCacheSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointOf(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def assertReleased(run: => DataFrame): Unit = {
    val before = persisted
    val out = run
    out.collect()
    assert(persisted -- before == checkpointOf(out))
  }

  for (materialize <- Seq(true, false)) {
    test(s"minhashPairs leaves no persisted frame behind (materialize=$materialize)") {
      assertReleased(Dedup.minhashPairs(sf("documents"), "text", "doc_id",
        numHashes = 64, bands = 16, jaccardThreshold = 0.5, materialize = materialize))
    }
    test(s"embeddingPairs leaves no persisted frame behind (materialize=$materialize)") {
      assertReleased(Dedup.embeddingPairs(sf("embeddings"), "embedding", "vec_id",
        cosineThreshold = 0.5, materialize = materialize))
    }
  }
}
