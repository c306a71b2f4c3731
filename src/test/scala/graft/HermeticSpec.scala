package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import graft.pipeline.Materialize

/** Every catalog query is hermetic on a shared session: once its result
  * has run, `java.io.tmpdir` holds the same top-level entries (name and
  * mtime) outside the session's run root, the session conf is unchanged,
  * no stream is active, and every RDD it left persisted is one its result
  * reads (a kept checkpoint or a cached relation, as `cacheStep` makes).
  * The local Postgres server's files are the one exemption: that server
  * is shared by every JVM and query that reaches it. Temp views are not
  * checked: a memory-sink stream's result is one.
  *
  * What a JVM puts in `java.io.tmpdir` once, on first use, is done before
  * the first query, so that it is not charged to whichever query runs
  * first: Spark's artifact root, and the lz4, snappy and BLAS native
  * libraries extracted there. */
class HermeticSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private lazy val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private lazy val runRoot = Paths.get(Materialize.session(spark).root.get)

  private def pgServerFile(name: String): Boolean =
    name == "graft_pgdata" || name == "graft_pg.log" || name.startsWith(".s.PGSQL.")

  /** Top-level entries of `java.io.tmpdir` outside the run root, by mtime. */
  private def tmpEntries(): Map[String, Long] = {
    val list = Files.list(tmp)
    try list.iterator.asScala
      .filterNot(p => p == runRoot || pgServerFile(p.getFileName.toString))
      .map(p => p.getFileName.toString -> Try(
        Files.getLastModifiedTime(p, LinkOption.NOFOLLOW_LINKS).toMillis).getOrElse(-1L))
      .toMap
    finally list.close()
  }

  private lazy val firstUse: Unit = {
    spark.range(100).repartition(2).write.mode("overwrite").format("noop").save()
    org.xerial.snappy.Snappy.maxCompressedLength(1)
    dev.ludovic.netlib.blas.BLAS.getInstance()
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The RDDs `df` reads: the lineage of its checkpoints and other RDD
    * scans, and its cached relations. */
  private def reads(df: DataFrame): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def lineage(rdd: RDD[_]): Unit =
      if (seen.add(rdd.id)) rdd.dependencies.foreach(d => lineage(d.rdd))
    val qe = df.queryExecution
    qe.logical.foreach { case r: LogicalRDD => lineage(r.rdd); case _ => }
    qe.withCachedData.foreach {
      case r: InMemoryRelation => lineage(r.cacheBuilder.cachedColumnBuffers)
      case _ =>
    }
    seen.toSet
  }

  private def changed[K, V](before: Map[K, V], after: Map[K, V]): Set[K] =
    (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))

  for ((name, run) <- SparkEntry.queries.toSeq.sortBy(_._1))
    test(s"$name leaves no file, conf, stream or cache behind") {
      firstUse
      runRoot
      val (files, conf, cached) = (tmpEntries(), spark.conf.getAll, persisted)
      val result = run(spark, dir)
      result.write.mode("overwrite").format("noop").save()
      val left = persisted -- cached -- reads(result)
      assert(left.isEmpty, s"persisted RDDs the result does not read: $left")
      assert(spark.streams.active.isEmpty,
        s"active streams: ${spark.streams.active.map(_.name).mkString(", ")}")
      val confs = changed(conf, spark.conf.getAll)
      assert(confs.isEmpty, s"session conf changed: ${confs.mkString(", ")}")
      val entries = changed(files, tmpEntries())
      assert(entries.isEmpty, s"$tmp entries created, removed or changed: ${entries.mkString(", ")}")
    }
}
