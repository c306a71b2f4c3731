package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DecimalType

/** Scratch phase profiler for the iterative graph queries (guide §1.4):
  * splits q_pagerank's wall into edge-build / setup / per-round cost and
  * times a hoisted-invariant variant against the current shape. */
object GraphProfile {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    def noop(d: DataFrame): Unit = d.write.mode("overwrite").format("noop").save()

    for (round <- 1 to 2) {
      println(s"--- round $round")
      val o = catalog.Shared.T(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = catalog.Shared.T(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      time("A edges build (noop)")(noop(edges))
      time("B full pageRank current")(
        noop(graft.pipeline.Graph.pageRank(edges, "src", "dst", iters = 3)))
      // variant D: current shape but SHUFFLE_HASH hints on the node-sized
      // build sides (checkpointed inputs have no stats -> never broadcast,
      // and SMJ re-sorts the 1M-row edge table every round)
      time("D pageRank SHJ hints") {
        val e = edges.select(col("src").cast("string").as("__src"),
            col("dst").cast("string").as("__dst"))
          .repartition(col("__src"))
          .localCheckpoint(true)
        val nodes = e.select(col("__src").as("__n"))
          .union(e.select(col("__dst"))).distinct().localCheckpoint(true)
        val deg = e.groupBy("__src").agg(count(lit(1)).as("__deg"))
          .localCheckpoint(true)
        val n = nodes.count()
        var pr = nodes.withColumn("__pr", lit(1.0 / n))
        for (_ <- 1 to 3) {
          val withDeg = pr.join(deg.hint("SHUFFLE_HASH"),
              pr("__n") === deg("__src"), "left")
            .select(col("__n"), col("__pr"), col("__deg"))
          val dang = withDeg.filter(col("__deg").isNull)
            .agg(sum(col("__pr").cast(DecimalType(30, 15))).as("__dang"))
          val quant = e.join(withDeg.filter(col("__deg").isNotNull).hint("SHUFFLE_HASH"),
              col("__src") === col("__n"))
            .select(col("__dst"), col("__src"),
              (col("__pr") / col("__deg").cast("double"))
                .cast(DecimalType(30, 15)).as("__c"))
          val contrib = quant.groupBy("__dst").agg(sum(col("__c")).as("__in"))
          val base = (1.0 - 0.85) / n.toDouble
          val next = nodes.join(contrib.hint("SHUFFLE_HASH"),
              nodes("__n") === contrib("__dst"), "left")
            .crossJoin(broadcast(dang))
            .select(col("__n"),
              (lit(base) +
                lit(0.85) * coalesce(col("__in").cast("double"), lit(0.0)) +
                lit(0.85) * coalesce(col("__dang").cast("double"), lit(0.0))
                  / lit(n.toDouble)).as("__pr"))
            .localCheckpoint(true)
          pr.unpersist()
          pr = next
        }
        noop(pr.select(col("__n").as("node"), col("__pr").as("pagerank")))
        e.unpersist(); nodes.unpersist(); deg.unpersist()
      }
      // variant: hoisted ew = e⋈deg, precomputed dangling node set
      time("C pageRank hoisted") {
        val e = edges.select(col("src").cast("string").as("__src"),
            col("dst").cast("string").as("__dst"))
          .repartition(col("__src"))
          .localCheckpoint(true)
        val nodes = e.select(col("__src").as("__n"))
          .union(e.select(col("__dst"))).distinct().localCheckpoint(true)
        val deg = e.groupBy("__src").agg(count(lit(1)).as("__deg"))
        // loop-invariant: edge table with its source degree attached
        val ew = e.join(deg, "__src").localCheckpoint(true)
        val dangN = nodes.join(ew.select(col("__src").as("__n")).distinct(),
          Seq("__n"), "left_anti").localCheckpoint(true)
        val n = nodes.count()
        var pr = nodes.withColumn("__pr", lit(1.0 / n))
        for (_ <- 1 to 3) {
          val dang = pr.join(dangN, Seq("__n"), "left_semi")
            .agg(sum(col("__pr").cast(DecimalType(30, 15))).as("__dang"))
          val quant = ew.join(pr, col("__src") === col("__n"))
            .select(col("__dst"), col("__src"),
              (col("__pr") / col("__deg").cast("double"))
                .cast(DecimalType(30, 15)).as("__c"))
          val contrib = quant.groupBy("__dst").agg(sum(col("__c")).as("__in"))
          val base = (1.0 - 0.85) / n.toDouble
          val next = nodes.join(contrib, nodes("__n") === contrib("__dst"), "left")
            .crossJoin(broadcast(dang))
            .select(col("__n"),
              (lit(base) +
                lit(0.85) * coalesce(col("__in").cast("double"), lit(0.0)) +
                lit(0.85) * coalesce(col("__dang").cast("double"), lit(0.0))
                  / lit(n.toDouble)).as("__pr"))
            .localCheckpoint(true)
          pr.unpersist()
          pr = next
        }
        noop(pr.select(col("__n").as("node"), col("__pr").as("pagerank")))
        e.unpersist(); nodes.unpersist(); ew.unpersist(); dangN.unpersist()
      }
    }
    spark.stop()
  }
}
