package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The output checksum, and a self-test of its order independence that the
  * benchmark's Python tests run. */
object SelfTest {
  /** Row count and the exact sum of xxhash64 over all columns: equal for any
    * row order or partitioning of the same multiset of rows. */
  def checksum(df: DataFrame): String = {
    val names = df.columns.indices.map(i => s"c$i")
    val h = if (names.isEmpty) lit(0L) else xxhash64(names.map(col): _*)
    val r = df.toDF(names: _*).agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    val total = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$total"
  }

  def run(what: String, out: String): Unit = {
    require(what == "checksum", s"unknown self-test $what")
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(0, 2000).selectExpr(
      "id", "cast(id % 7 as double) / 3 as d", "concat('k', id % 13) as s",
      "if(id % 5 = 0, null, id) as n", "array(id, id + 1) as arr",
      "timestamp_seconds(id) as ts")
    val sums = Map(
      "base" -> checksum(df),
      "sorted_desc" -> checksum(df.orderBy(col("id").desc)),
      "repartitioned" -> checksum(df.repartition(7)),
      "coalesced" -> checksum(df.coalesce(1)),
      "changed" -> checksum(df.withColumn("s", when(col("id") === 17, lit("x")).otherwise(col("s")))),
      "dropped_row" -> checksum(df.filter(col("id") =!= 1999)),
      "swapped_columns" -> checksum(df.select("d", "id", "s", "n", "arr", "ts")))
    Files.writeString(Paths.get(out), Json(sums))
    spark.stop()
  }
}
