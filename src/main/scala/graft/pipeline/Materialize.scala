package graft.pipeline

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one materialization policy of the pipeline operators: a scope owns
  * every cache, lineage cut and fixture dir it creates and, on exit after
  * success or an exception, releases all of them except the frames it
  * hands to the caller with [[keep]] — a frame the returned result reads
  * lazily must be kept.
  *
  * A pinned frame is released by unpersisting its checkpoint RDD (the
  * `LogicalRDD`'s own): `Dataset.unpersist` does nothing for a checkpoint,
  * so its blocks would outlive the call and land on whatever runs next in
  * the JVM. Reliable checkpoint files stay under the checkpoint dir, where
  * `spark.cleaner.referenceTracking.cleanCheckpoints` governs them. No
  * release blocks. */
final class Materialize private (spark: SparkSession) {
  private val owned = ArrayBuffer.empty[(DataFrame, () => Unit)]
  private val dirs = ArrayBuffer.empty[Path]

  private def own(df: DataFrame)(release: => Unit): DataFrame = {
    owned += (df -> (() => release))
    df
  }

  /** Persist `df`; a frame the caller already cached stays the caller's. */
  def cache(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else own(df.persist())(df.unpersist(blocking = false))

  /** Cut the lineage eagerly: a RELIABLE checkpoint when the SparkContext
    * has a checkpoint dir (cluster runs, where a lost executor would
    * invalidate local checkpoint blocks and fail the query), else a local
    * one (no disk round trip). */
  def pin(df: DataFrame): DataFrame = {
    val cut =
      if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    val rdds = cut.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    own(cut)(rdds.foreach(_.unpersist(blocking = false)))
  }

  /** Release a frame this scope owns now (a loop's previous round). */
  def drop(df: DataFrame): Unit = disown(df).foreach(_())

  /** Hand `df` over to the caller: the scope no longer releases it. */
  def keep(df: DataFrame): DataFrame = { disown(df); df }

  private def disown(df: DataFrame): Option[() => Unit] = {
    val i = owned.indexWhere(_._1 eq df)
    if (i < 0) None else Some(owned.remove(i)._2)
  }

  /** A fresh driver-local directory, deleted with its contents on exit. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    dirs += dir
    dir.toString
  }

  private def close(): Unit = {
    owned.reverseIterator.foreach(_._2())
    for (d <- dirs if Files.exists(d)) {
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }
}

object Materialize {
  /** Run `body` in a fresh scope and release what it owns on exit. */
  def apply[A](spark: SparkSession)(body: Materialize => A): A = {
    val m = new Materialize(spark)
    try body(m) finally m.close()
  }
}
