package graft

/** Scratch cross-validation main (not a ScalaTest suite): read a SQLite
  * database written by an EXTERNAL real SQLite build (e.g. Python's
  * sqlite3 module) with [[graft.sources.SqliteFile]], and print enough to
  * diff. Usage: Test/runMain graft.SqliteExtProbe /path/db.sqlite table */
object SqliteExtProbe {
  def main(args: Array[String]): Unit = {
    val Array(path, table) = args
    val spark = LocalSession()
    val df = graft.sources.SqliteFile.read(spark, path, table)
    println("SCHEMA " + df.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
    println("COUNT " + df.count())
    df.orderBy(df.columns.head).show(5, truncate = false)
    import org.apache.spark.sql.functions._
    df.agg(sum(col(df.columns.head)), count(lit(1))).show()
    spark.stop()
  }
}
