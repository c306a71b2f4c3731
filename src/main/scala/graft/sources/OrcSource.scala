package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ORC source/sink — a columnar-interchange sibling of the parquet path.
  *
  * Beyond-reference: WarpConduit's connector set is row-oriented
  * (CSV/DBF/JSON/SQL — reference: WarpConduit/Sources); a warehouse-grade
  * engine additionally speaks the common columnar formats. ORC ships with
  * Spark (no extra dependency), and the scan keeps the same optimizer
  * contract as parquet: predicate pushdown, column pruning, and partition
  * pruning all reach the file reader (pinned in PlanAuditSpec — a scan
  * that decodes all stripes for a 2-column filtered projection would be
  * wrong at any scale).
  *
  * Writes are plain distributed `DataFrameWriter` jobs: one file per
  * partition, `partitionBy` for hive-style layout.
  */
object OrcSource {

  def read(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)

  def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }
}
