package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.Outcome
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

  private val testDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A fresh temp dir named `prefix`…, deleted when the running test ends. */
  def tempDir(prefix: String): String = testDirs.synchronized {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    testDirs += dir
    dir.toString
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally testDirs.synchronized {
      testDirs.filter(java.nio.file.Files.exists(_)).foreach(deleteTree)
      testDirs.clear()
    }

  /** Table `name` of the sf0.001 test data, opened once per session. */
  def sf(name: String) = catalog.Shared.T(spark, "/root/testdata/sf0.001", name)

  /** The number of Spark jobs `run` starts. */
  def jobsStarted(run: => Any): Int = graft.obs.QueryProfile(spark)(run).jobs

  /** The final (post-AQE) physical plans of the checkpoint actions `run`
    * performs: a pipeline operator pins its result, so its interior plan is
    * visible only to the profiler. */
  def checkpointPlans(run: => Any): Seq[SparkPlan] =
    graft.obs.QueryProfile(spark)(run).actions
      .filter(a => Set("localCheckpoint", "checkpoint")(a.funcName)).flatMap(_.plan)
}
