package graft

import org.apache.spark.sql.functions._

/** Per-phase wall-clock profile of the streaming catalog rows (VERDICT r14
  * item 5): splits each query into (a) batch input prep + temp parquet
  * write, (b) the Structured Streaming run itself (start →
  * awaitTermination, AvailableNow), (c) the final memory-table
  * select/sort — so "streaming is expensive" resolves into WHICH wall the
  * time hits. Run: SPARK_GRAFT_SF_DIR=... sbt "Test/runMain graft.StreamProfile"
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import org.apache.spark.sql.types.TimestampType

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $label%-34s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    for (round <- 1 to 3; noData <- Seq(true, false)) {
      println(s"--- interval_join round $round noDataBatch=$noData")
      val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        noData.toString)
      try {
        val ev = catalog.Shared.T(spark, dir, "events")
          .select(col("event_id").cast("long").as("event_id"),
            col("event_type"), col("ts").cast(TimestampType).as("ts"))
          .filter(col("event_id") < 20000L)
        val marks = catalog.Shared.T(spark, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).cast(TimestampType).as("mts"))
          .agg(sum(col("value").cast("decimal(28,6)")).cast("double").as("mark_total"))
        val tmpE = java.nio.file.Files.createTempDirectory("prof_ije").toString
        val tmpM = java.nio.file.Files.createTempDirectory("prof_ijm").toString
        time("prep: ev write")(ev.write.mode("overwrite").parquet(tmpE))
        time("prep: marks agg+write")(marks.write.mode("overwrite").parquet(tmpM))
        val srcE = spark.readStream.schema(ev.schema).parquet(tmpE)
        val srcM = spark.readStream.schema(marks.schema).parquet(tmpM)
        val out = graft.streaming.EventStream.intervalJoinMarks(
          srcE, srcM, "event_type", tolerance = "1 hour")
        val qname = "prof_ij_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val query = time("stream: run (AvailableNow)") {
          val q = out.writeStream.format("memory").queryName(qname)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q
        }
        for (p <- query.recentProgress) {
          val d = p.durationMs
          val st = p.stateOperators.map(s =>
            s"commit=${s.commitTimeMs}ms rows=${s.numRowsTotal}").mkString("; ")
          println(s"[batch ${p.batchId}] rows=${p.numInputRows} " +
            s"durations=${d} state($st)")
        }
        time("post: sort+noop") {
          spark.table(qname)
            .select(col("event_id"), col("mts").cast("timestamp_ntz").as("mts"),
              col("mark_total"))
            .orderBy("event_id", "mts")
            .write.mode("overwrite").format("noop").save()
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
    }
    spark.stop()
  }
}
