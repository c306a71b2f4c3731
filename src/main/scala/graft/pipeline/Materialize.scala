package graft.pipeline

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
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
  * release blocks.
  *
  * [[Materialize.session]] is the scope that lives as long as a
  * SparkContext: its dirs sit under the context's run root and its
  * [[memo]] holds the fixtures the catalog derives from its tables. */
final class Materialize private (spark: SparkSession, runRoot: Option[Path]) {
  private val owned = ArrayBuffer.empty[(DataFrame, () => Unit)]
  private val dirs = ArrayBuffer.empty[Path] ++ runRoot
  private lazy val memos = new ConcurrentHashMap[(String, Any), Once[_]]()

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
    * one (no disk round trip). The checkpoint's call site is the line that
    * called `pin` (`localCheckpoint at Graph.scala:304`), so each round of
    * a loop is its own row in a [[graft.obs.QueryProfile]]. */
  def pin(df: DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    val saved = sc.getLocalProperty("callSite.short") // what setCallSite sets
    val op = if (reliable) "checkpoint" else "localCheckpoint"
    Thread.currentThread.getStackTrace.iterator.drop(1)
      .find(!_.getClassName.startsWith(classOf[Materialize].getName))
      .foreach(f => sc.setCallSite(s"$op at ${f.getFileName}:${f.getLineNumber}"))
    val cut =
      try if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)
      finally sc.setLocalProperty("callSite.short", saved)
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

  /** A fresh driver-local directory, deleted with its contents on exit:
    * a call's scope makes it in `java.io.tmpdir`, the session scope under
    * its run root (so a result may read it lazily until the session ends). */
  def tempDir(prefix: String): String = runRoot match {
    case Some(root) => Files.createTempDirectory(root, prefix).toString
    case None =>
      val dir = Files.createTempDirectory(prefix)
      dirs += dir
      dir.toString
  }

  /** `build` once per `(name, key)` for the life of this scope; a build
    * that throws is retried by the next call. Builds of different keys
    * may nest. */
  def memo[A](name: String, key: Any)(build: => A): A =
    memos.computeIfAbsent((name, key), _ => new Once(build)).value.asInstanceOf[A]

  /** The session scope's run root. */
  private[graft] def root: Option[String] = runRoot.map(_.toString)

  private def close(): Unit = synchronized {
    owned.reverseIterator.foreach(_._2())
    owned.clear()
    for (d <- dirs if Files.exists(d)) {
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
    dirs.clear()
  }
}

/** A value built on first use, by one thread. */
private final class Once[A](build: => A) {
  lazy val value: A = build
}

object Materialize {
  /** Run `body` in a fresh scope and release what it owns on exit. */
  def apply[A](spark: SparkSession)(body: Materialize => A): A = {
    val m = new Materialize(spark, None)
    try body(m) finally m.close()
  }

  private val sessions = scala.collection.mutable.Map.empty[SparkContext, Materialize]

  /** The scope of `spark`'s SparkContext: one run root, a fresh temp dir
    * in `java.io.tmpdir`, deleted with everything under it when the
    * context stops or the JVM exits. */
  def session(spark: SparkSession): Materialize = sessions.synchronized {
    val sc = spark.sparkContext
    sessions.getOrElseUpdate(sc, {
      val m = new Materialize(spark, Some(Files.createTempDirectory("graft_run")))
      val onExit = sys.addShutdownHook(m.close())
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          sessions.synchronized(sessions.remove(sc))
          m.close()
          scala.util.Try(onExit.remove()) // fails once the JVM is exiting
        }
      })
      m
    })
  }
}
