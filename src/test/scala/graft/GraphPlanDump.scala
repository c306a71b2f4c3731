package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.execution.FormattedMode

/** Interior-plan dump for ONE pageRank round: the catalog query returns a
  * checkpoint scan (every round is eagerly materialized), so `PlanDump`
  * cannot show the per-round join strategy. This rebuilds round 1's
  * `next` frame exactly as Graph.pageRank does and prints its plan —
  * the evidence for the r14 SMJ -> SHJ change. */
object GraphPlanDump {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val dir = "/root/testdata/sf0.001"
    val hint = args.headOption.contains("hinted")
    val o = spark.read.parquet(s"$dir/orders.parquet").select(col("o_orderkey"), col("o_custkey"))
    val l = spark.read.parquet(s"$dir/lineitem.parquet").select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val e = edges.select(col("src").cast("string").as("__src"),
        col("dst").cast("string").as("__dst"))
      .repartition(col("__src")).localCheckpoint(true)
    val nodes = e.select(col("__src").as("__n"))
      .union(e.select(col("__dst"))).distinct().localCheckpoint(true)
    val deg = e.groupBy("__src").agg(count(lit(1)).as("__deg")).localCheckpoint(true)
    val n = nodes.count()
    val pr = nodes.withColumn("__pr", lit(1.0 / n))
    def h(d: org.apache.spark.sql.DataFrame) = if (hint) d.hint("SHUFFLE_HASH") else d
    val withDeg = pr.join(h(deg), pr("__n") === deg("__src"), "left")
      .select(col("__n"), col("__pr"), col("__deg"))
    val dang = withDeg.filter(col("__deg").isNull)
      .agg(sum(col("__pr").cast(DecimalType(30, 15))).as("__dang"))
    val quant = e.join(h(withDeg.filter(col("__deg").isNotNull)),
        col("__src") === col("__n"))
      .select(col("__dst"), col("__src"),
        (col("__pr") / col("__deg").cast("double"))
          .cast(DecimalType(30, 15)).as("__c"))
    val contrib = quant.groupBy("__dst").agg(sum(col("__c")).as("__in"))
    val base = (1.0 - 0.85) / n.toDouble
    val next = nodes.join(h(contrib), nodes("__n") === contrib("__dst"), "left")
      .crossJoin(broadcast(dang))
      .select(col("__n"),
        (lit(base) + lit(0.85) * coalesce(col("__in").cast("double"), lit(0.0)) +
          lit(0.85) * coalesce(col("__dang").cast("double"), lit(0.0))
            / lit(n.toDouble)).as("__pr"))
    println(s"===== pagerank_round_${if (hint) "hinted" else "unhinted"}")
    println(next.queryExecution.explainString(FormattedMode))
    spark.stop()
  }
}
