package graft

import org.apache.spark.sql.SparkSession
import graft.plans.{Graft, WarpExtensions}

/** The one local-mode session conf every graft main, probe and test session
  * shares, so a probe never runs under different confs from the bench it
  * explains. Every session is built with [[graft.plans.WarpExtensions]] and
  * gets [[graft.plans.Graft.install]]'s planner strategy. */
object LocalSession {

  /** Cores: `SPARK_GRAFT_CPUS`, else every processor this JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[n]` with n shuffle partitions; `extra` confs are set last. */
  def apply(n: Int = cpus, extra: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // NTZ end-to-end: the testdata parquet holds naive timestamps and the
      // DuckDB oracle computes on naive timestamps; reading/writing NTZ
      // keeps dumped parquet bit-compatible with the oracle's values.
      .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
      // events.parquet stores nanosecond timestamps (see catalog.Shared.T)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new WarpExtensions())
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.install(spark)
    spark
  }
}
