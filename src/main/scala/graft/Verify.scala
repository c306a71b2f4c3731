package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** oracle_sql.json: each wanted `SparkEntry.oracleSql` query by name. */
  def oracleJson(wanted: String => Boolean = _ => true): String =
    SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_ONLY=q_a,q_b dumps (and lists in
    // oracle_sql.json) just those queries; unset = the driver's full run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(n: String) = only.forall(_.contains(n))
    // SPARK_GRAFT_SQL_ONLY=1: write oracle_sql.json without starting Spark
    // (dev loop for OracleLintSpec's DuckDB type gate)
    if (!sys.env.get("SPARK_GRAFT_SQL_ONLY").contains("1")) {
      val spark = LocalSession(extra =
        Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
      spark.sparkContext.setLogLevel("WARN")
      SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a failed query must not leave a PREVIOUS run's dump (or a
          // half-written dir) behind — the compare would silently validate
          // stale results instead of flagging the regression
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete()
          }
          // best-effort: cleanup failure must not abort the remaining queries
          scala.util.Try(rm(new java.io.File(s"$outDir/$name")))
        }
      }
      spark.stop()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(wanted))
  }
}
