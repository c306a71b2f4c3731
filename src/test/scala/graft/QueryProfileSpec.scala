package graft

import org.apache.spark.sql.GraftSparkAccess
import org.apache.spark.sql.functions._
import graft.obs.QueryProfile
import graft.pipeline.{Graph, Materialize}

/** The library's query profiler: what it attributes to a block of code, and
  * that it leaves the session as it found it. */
class QueryProfileSpec extends SparkSpec {
  import spark.implicits._

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  test("output rows equal count(); shuffle bytes > 0 exactly when the final plan has an Exchange") {
    val orders = sf("orders").select("o_orderkey", "o_custkey")
    val items = sf("lineitem").select("l_orderkey", "l_quantity")
    for ((label, df, exchange) <- Seq(
        ("q_calc_filter", SparkEntry.queries("q_calc_filter")(spark, "/root/testdata/sf0.001"),
          false),
        ("small sort", orders.orderBy(col("o_custkey"), col("o_orderkey")), false),
        ("shuffled join", orders.join(items.hint("shuffle_merge"),
          col("o_orderkey") === col("l_orderkey")), true),
        ("broadcast join", orders.join(broadcast(items),
          col("o_orderkey") === col("l_orderkey")), false))) {
      val p = QueryProfile(spark)(noop(df))
      val a = p.actions.head
      val why = s"$label\n${p.report}"
      assert(p.actions.size == 1 && a.funcName == "overwrite", why) // the write, by its mode
      assert(a.callSite.startsWith("save at ") && a.jobs >= 1 && a.inputRows > 0, why)
      assert(a.outputRows.contains(df.count()), why)
      assert(a.operators.exists(_.name == "Exchange") == exchange, why)
      assert((a.shuffleWriteBytes > 0) == exchange, why)
    }
  }

  test("each pageRank round is its own row, all at one call site") {
    val edges = Seq((1, 2), (2, 3), (3, 1), (3, 4), (4, 1)).toDF("s", "d")
    val p = QueryProfile(spark)(noop(Graph.pageRank(edges, "s", "d", iters = 3)))
    val pins = p.actions.filter(_.funcName == "localCheckpoint").groupBy(_.callSite)
    val rounds = pins.filter(_._2.size == 3).keys
    assert(rounds.size == 1 && rounds.head.startsWith("localCheckpoint at Graph.scala:"), p.report)
    assert(pins.values.forall(rows => rows.size == 1 || rows.size == 3), p.report)
  }

  test("stream batches report their phases") {
    val dir = tempDir("graft_profile_stream")
    spark.range(100).toDF("id").write.parquet(s"$dir/in")
    val name = "graft_profile_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val p = QueryProfile(spark) {
      val q = spark.readStream.schema("id long").parquet(s"$dir/in")
        .groupBy(col("id") % 3).count()
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", s"$dir/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    spark.catalog.dropTempView(name)
    val b = p.batches.headOption
    assert(b.exists(b => b.inputRows == 100 && b.stateRows == 3 &&
      b.durationMs.contains("triggerExecution")), p.report)
  }

  test("no listener outlives the profile and a pin restores the call site, also on a throw") {
    val sc = spark.sparkContext
    val streamListeners = spark.streams.listListeners().toSeq
    sc.setCallSite("outer")
    try for (fail <- Seq(false, true)) {
      var c: QueryProfile.Collector = null
      val in = spark.range(3).select(if (fail) raise_error(lit("pin failed")) else col("id"))
      val p = scala.util.Try(QueryProfile.run(spark) { col =>
        c = col
        Materialize(spark)(m => { m.pin(in); () })
      })
      assert(p.isFailure == fail)
      assert(sc.getLocalProperty("callSite.short") == "outer")
      p.foreach(p => assert(p.actions.exists(
        _.callSite.startsWith("localCheckpoint at QueryProfileSpec.scala:")), p.report))
      val seen = c.delivered
      assert(seen > 0)
      // a marker job and a marker SQL action: no listener may count them
      sc.parallelize(Seq(1)).count()
      spark.range(5).collect()
      GraftSparkAccess.drain(sc)
      assert(c.delivered == seen, s"fail=$fail")
      assert(spark.streams.listListeners().toSeq == streamListeners)
      assert(!sc.getJobTags().contains(c.tag))
    } finally sc.clearCallSite()
  }
}
