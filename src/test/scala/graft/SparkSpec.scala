package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM test session (pinned to 4 cores and shuffle
  * partitions to keep tiny-data tests fast). */
object TestSpark {
  lazy val spark: SparkSession = LocalSession(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(name: String) = spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
}
