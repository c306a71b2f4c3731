package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM test session (pinned to 4 cores and shuffle
  * partitions to keep tiny-data tests fast). */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  /** Deletes `dir` and everything under it; a symlink goes, not its target. */
  def deleteTree(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    finally walk.close()
  }

  /** Runs `f` on a fresh temp dir named `prefix`…, deleted afterwards. */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString) finally deleteTree(dir)
  }

  /** Table `name` of the sf0.001 test data, opened once per session. */
  def sf(name: String) = catalog.Shared.T(spark, "/root/testdata/sf0.001", name)

  /** The number of Spark jobs `run` starts. Listener delivery is FIFO, so
    * once a marker job's start arrives every earlier start has too: one
    * marker drains what came before `run`, a second closes its count. */
  def jobsStarted(run: => Any): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(): String = {
      val m = s"marker-${java.util.UUID.randomUUID()}"
      sc.setJobDescription(m)
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      m
    }
    def startsBefore(m: String): Int = Iterator.continually(
        seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
      .map { d => assert(d != null, s"$m never reached the listener"); d }
      .takeWhile(_ != m).size
    sc.addSparkListener(listener)
    try {
      startsBefore(marker())
      run
      startsBefore(marker())
    } finally sc.removeSparkListener(listener)
  }

  /** The final (post-AQE) physical plans of the checkpoint actions `run`
    * performs: a pipeline operator pins its result, so its interior plan is
    * visible only to a QueryExecutionListener. Listener delivery is FIFO,
    * so a marker query flushes the events `run` produced. */
  def checkpointPlans(run: => Any): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = seen.add(funcName -> qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = s"flush_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    def flushed = seen.stream().anyMatch(_._2.analyzed.output.exists(_.name == marker))
    spark.listenerManager.register(listener)
    try {
      run
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!flushed && System.nanoTime() < deadline) Thread.sleep(20)
      assert(flushed, "the marker query never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val pins = Set("localCheckpoint", "checkpoint")
    seen.asScala.toSeq.collect { case (f, qe) if pins(f) => qe.executedPlan }
  }
}
