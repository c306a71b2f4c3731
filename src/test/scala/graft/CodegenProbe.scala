package graft

import org.apache.spark.sql.functions._
import graft.ops.WarpOps._

/** Scratch codegen inspector: counts kernel compute() calls in the
  * generated code of the q_curate score+filter stage (not a ScalaTest
  * suite; run with Test/runMain). */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    // AQE off: with an exchange in the plan, codegenString would see a
    // not-yet-final AdaptiveSparkPlan and report zero fragments
    val spark = LocalSession(extra = Seq("spark.sql.adaptive.enabled" -> "false"))
    import org.apache.spark.sql.execution.debug.codegenString
    val ta = graft.pipeline.TextAnalysis
    val docs = catalog.Shared.T(spark, "/root/testdata/sf0.001", "documents")
    val frag = docs
      .calculate(Seq(
        "score" -> ta.qualityScore(col("text")),
        "detected" -> ta.langId(col("text"), Seq("en", "de", "es")),
        "fp" -> ta.fingerprintMd5(col("text"))))
      .warpFilter(col("score") >= 0.5 && col("detected") === "en")
      .selectColumns(Seq("doc_id", "score", "fp"))
    val s = codegenString(frag.queryExecution.executedPlan)
    for (n <- Seq("TextStatsExpr\\.compute", "LangScoresExpr\\.compute"))
      println(n + " -> " + n.r.findAllIn(s).length)
    // r12: the caseless class_counts kernel behind the fertility report —
    // both sums must ride ONE compute() call per row
    val fert = ta.fertilityReport(docs, Seq("source", "lang"), "text")
    val fs = codegenString(fert.queryExecution.executedPlan)
    println("ClassCountsExpr\\.compute -> " +
      "ClassCountsExpr\\.compute".r.findAllIn(fs).length)
    spark.stop()
  }
}
