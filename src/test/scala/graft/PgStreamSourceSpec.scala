package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import graft.sources.PgWire

/** DataSource V2 micro-batch SOURCE over live PostgreSQL
  * (sources/PgStreamSource.scala): high-water-mark offsets over a
  * monotonic key, range-split executor reads over the pure-JVM wire.
  * Skipped (not failed) when the environment lacks PostgreSQL — the
  * oracle-gated `q_stream_pg_source` row is the driver-side gate. */
class PgStreamSourceSpec extends SparkSpec {

  private lazy val conn: Option[PgWire.Conn] =
    try Some(PgWire.ensureLocalServer())
    catch { case _: Throwable => None }

  private def readStreamOf(c: PgWire.Conn, tbl: String) =
    spark.readStream.format("graft.sources.PgStreamSource")
      .option("host", c.host).option("port", c.port.toString)
      .option("db", c.db).option("user", c.user)
      .option("password", c.password)
      .option("table", tbl).option("keycol", "id")
      .option("numpartitions", "3")
      .load()

  test("AvailableNow drains exactly the rows present at start") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val df = spark.range(200).selectExpr("id", "CAST(id * 7 AS STRING) AS v")
    PgWire.writeTable(df, c, "pgstream_drain")
    val qn = "pgstream_drain_sink"
    val q = readStreamOf(c, "pgstream_drain")
      .writeStream.format("memory").queryName(qn).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(qn).collect()
    assert(got.length == 200)
    assert(got.map(_.getLong(0)).toSet == (0L until 200L).toSet)
    assert(got.find(_.getLong(0) == 13L).get.getString(1) == "91")
  }

  test("checkpointed restart reads only the rows that arrived since") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val ckpt = tempDir("pgstream_ckpt")
    val out = tempDir("pgstream_out")
    def drain(): Unit = {
      val q = readStreamOf(c, "pgstream_incr")
        .writeStream.format("parquet").option("path", out)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val df1 = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS v")
    PgWire.writeTable(df1, c, "pgstream_incr")
    drain()
    assert(spark.read.parquet(out).count() == 100)
    // rows land behind the checkpointed high-water mark -> next run
    // must emit exactly the new key window (100, 149], no replays
    val df2 = spark.range(100, 150).selectExpr("id", "CAST(id AS STRING) AS v")
    PgWire.appendDistributed(df2.toDF(), c, "pgstream_incr")
    drain()
    val all = spark.read.parquet(out).collect().map(_.getLong(0))
    assert(all.length == 150) // 100 + 50: second drain emitted no replays
    assert(all.toSet == (0L until 150L).toSet)
  }

  test("maxkeysperbatch splits a drain into bounded micro-batches") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val df = spark.range(200).selectExpr("id", "CAST(id AS STRING) AS v")
    PgWire.writeTable(df, c, "pgstream_cap")
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft.sources.PgStreamSource")
      .option("host", c.host).option("port", c.port.toString)
      .option("db", c.db).option("user", c.user)
      .option("password", c.password)
      .option("table", "pgstream_cap").option("keycol", "id")
      .option("numpartitions", "3").option("maxkeysperbatch", "60")
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sizes.add(b.count()); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val s = sizes.asScala.toSeq
    assert(s.sum == 200)
    assert(s.max <= 60)
    assert(s.count(_ > 0) >= 4) // 200 keys / 60-key cap -> at least 4 batches
  }

  test("batch read through the same connector covers every row once") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val df = spark.range(500).selectExpr("id", "CAST(id * 3 AS STRING) AS v")
    PgWire.writeTable(df, c, "pgstream_batch")
    val back = spark.read.format("graft.sources.PgStreamSource")
      .option("host", c.host).option("port", c.port.toString)
      .option("db", c.db).option("user", c.user)
      .option("password", c.password)
      .option("table", "pgstream_batch").option("keycol", "id")
      .option("numpartitions", "5")
      .load()
    assert(back.rdd.getNumPartitions == 5)
    assert(back.count() == 500)
    assert(back.select("id").collect().map(_.getLong(0)).toSet ==
      (0L until 500L).toSet)
  }

  test("column pruning and filter pushdown reach the server-side scan") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val df = spark.range(1000).selectExpr(
      "id", "CAST(id % 7 AS INT) AS grp",
      "CASE WHEN id = 13 THEN 'O''Brien' WHEN id = 14 THEN '50% off' " +
        "ELSE 'row' || CAST(id AS STRING) END AS v")
    PgWire.writeTable(df, c, "pgstream_push")
    def src = spark.read.format("graft.sources.PgStreamSource")
      .option("host", c.host).option("port", c.port.toString)
      .option("db", c.db).option("user", c.user)
      .option("password", c.password)
      .option("table", "pgstream_push").option("keycol", "id")
      .option("numpartitions", "3")
      .load()
    // projection + filter: the scan description carries both
    val q = src.filter(col("grp") === 3 && col("id") < 500).select("id")
    val plan = q.queryExecution.executedPlan.toString
    // pruned to the referenced columns (grp stays: the residual Spark
    // filter re-checks it — pushdown never changes results), v dropped
    assert(plan.contains("cols=[id,grp]"), s"pruning missing in:\n$plan")
    assert(plan.contains("EqualTo(grp,3)") && plan.contains("LessThan(id,500)"),
      s"pushdown missing in:\n$plan")
    assert(q.collect().map(_.getLong(0)).toSet ==
      (0L until 500L).filter(_ % 7 == 3).toSet)
    // escaping: quotes in literals, LIKE metacharacters in prefixes
    assert(src.filter(col("v") === "O'Brien").count() == 1)
    assert(src.filter(col("v").startsWith("50%")).count() == 1)
    assert(src.filter(col("v").startsWith("row99")).count() == 11) // 99, 990..999
    // IN + IS NULL + pure count (empty projection)
    assert(src.filter(col("grp").isin(1, 2)).count() ==
      (0 until 1000).count(i => i % 7 == 1 || i % 7 == 2))
    assert(src.filter(col("v").isNotNull).count() == 1000)
    assert(src.count() == 1000)
    // string ORDERING is collation-dependent server-side -> never pushed;
    // the residual Spark filter still computes the right (binary) answer
    val sq = src.filter(col("v") > "row500")
    val splan = sq.queryExecution.executedPlan.toString
    assert(!splan.contains("GreaterThan(v,"), s"string ordering pushed:\n$splan")
    assert(sq.count() ==
      (0 until 1000).count(i => i != 13 && i != 14 && s"row$i" > "row500"))
  }

  test("batch read keeps NULL-key rows (partition 0 owns them)") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    PgWire.execute(c, "DROP TABLE IF EXISTS pgstream_nullk")
    PgWire.execute(c, "CREATE TABLE pgstream_nullk (id bigint, v text)")
    PgWire.execute(c, "INSERT INTO pgstream_nullk VALUES " +
      "(1, 'a'), (NULL, 'null-1'), (2, 'b'), (NULL, 'null-2')")
    val back = spark.read.format("graft.sources.PgStreamSource")
      .option("host", c.host).option("port", c.port.toString)
      .option("db", c.db).option("user", c.user)
      .option("password", c.password)
      .option("table", "pgstream_nullk").option("keycol", "id")
      .option("numpartitions", "3")
      .load().collect()
    assert(back.length == 4, s"NULL-key rows dropped: ${back.length}")
    assert(back.count(_.isNullAt(0)) == 2)
    // all-NULL keys: the NULL-only slice still reads every row
    PgWire.execute(c, "DELETE FROM pgstream_nullk WHERE id IS NOT NULL")
    val onlyNulls = spark.read.format("graft.sources.PgStreamSource")
      .option("host", c.host).option("port", c.port.toString)
      .option("db", c.db).option("user", c.user)
      .option("password", c.password)
      .option("table", "pgstream_nullk").option("keycol", "id")
      .load().count()
    assert(onlyNulls == 2)
  }

  test("native DSv2 batch write: append twice, then atomic overwrite") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    PgWire.execute(c, "DROP TABLE IF EXISTS pgstream_w")
    PgWire.execute(c, "DROP TABLE IF EXISTS pgstream_w__epochs")
    def writer(df: org.apache.spark.sql.DataFrame) =
      df.write.format("graft.sources.PgStreamSource")
        .option("host", c.host).option("port", c.port.toString)
        .option("db", c.db).option("user", c.user)
        .option("password", c.password).option("table", "pgstream_w")
    val df = spark.range(300).repartition(3)
      .selectExpr("id", "CAST(id AS STRING) AS v")
    writer(df).mode("append").save() // creates the target, stages, promotes
    assert(PgWire.read(spark, c, "pgstream_w", "id").count() == 300)
    writer(df).mode("append").save()
    assert(PgWire.read(spark, c, "pgstream_w", "id").count() == 600)
    // overwrite = truncate + insert in ONE transaction (atomic flip)
    val df2 = spark.range(50).selectExpr("id", "CAST(id AS STRING) AS v")
    writer(df2).mode("overwrite").save()
    val back = PgWire.read(spark, c, "pgstream_w", "id")
    assert(back.count() == 50)
    assert(back.select("id").collect().map(_.getLong(0)).toSet ==
      (0L until 50L).toSet)
    // no stage tables left behind
    val leftovers = PgWire.query(spark, c,
      "SELECT count(*) FROM pg_tables WHERE tablename LIKE 'pgstream_w__v2_%'")
      .collect()(0).getLong(0)
    assert(leftovers == 0L, s"$leftovers stage tables leaked")
  }

  test("native DSv2 streaming write lands micro-batches through the ledger") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    PgWire.execute(c, "DROP TABLE IF EXISTS pgstream_sw")
    PgWire.execute(c, "DROP TABLE IF EXISTS pgstream_sw__epochs")
    val ev = spark.range(200).selectExpr("id", "CAST(id AS STRING) AS v")
    val tmp = tempDir("pgstream_sw_in")
    ev.coalesce(2).write.mode("overwrite").parquet(tmp)
    val ckpt = tempDir("pgstream_sw_ck")
    def drain(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(tmp)
        .writeStream.format("graft.sources.PgStreamSource")
        .option("host", c.host).option("port", c.port.toString)
        .option("db", c.db).option("user", c.user)
        .option("password", c.password).option("table", "pgstream_sw")
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(PgWire.read(spark, c, "pgstream_sw", "id").count() == 200)
    // a second run from the same checkpoint re-reads nothing: still 200
    drain()
    val back = PgWire.read(spark, c, "pgstream_sw", "id")
    assert(back.count() == 200)
    assert(back.select("id").collect().map(_.getLong(0)).toSet ==
      (0L until 200L).toSet)
    // the epoch ledger recorded the committed batch
    val epochs = PgWire.query(spark, c,
      "SELECT count(*) FROM pgstream_sw__epochs").collect()(0).getLong(0)
    assert(epochs >= 1L)
    // a NEW run (fresh checkpoint -> fresh queryId, epoch ids restart
    // at 0) must APPEND its re-read, not be misread as a replay of the
    // first run's epoch 0 — the ledger is keyed (run, epoch)
    val ckpt2 = tempDir("pgstream_sw_ck2")
    val q2 = spark.readStream.schema(ev.schema).parquet(tmp)
      .writeStream.format("graft.sources.PgStreamSource")
      .option("host", c.host).option("port", c.port.toString)
      .option("db", c.db).option("user", c.user)
      .option("password", c.password).option("table", "pgstream_sw")
      .option("checkpointLocation", ckpt2).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(PgWire.read(spark, c, "pgstream_sw", "id").count() == 400)
  }

  test("empty table yields an empty drain, startkey skips history") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val empty = spark.range(0).selectExpr("id", "CAST(id AS STRING) AS v")
    PgWire.writeTable(empty, c, "pgstream_empty")
    val q = readStreamOf(c, "pgstream_empty")
      .writeStream.format("memory").queryName("pgstream_empty_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("pgstream_empty_sink").count() == 0)

    val hist = spark.range(300).selectExpr("id", "CAST(id AS STRING) AS v")
    PgWire.writeTable(hist, c, "pgstream_skip")
    val q2 = spark.readStream.format("graft.sources.PgStreamSource")
      .option("host", c.host).option("port", c.port.toString)
      .option("db", c.db).option("user", c.user)
      .option("password", c.password)
      .option("table", "pgstream_skip").option("keycol", "id")
      .option("numpartitions", "3").option("startkey", "249")
      .load()
      .writeStream.format("memory").queryName("pgstream_skip_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got = spark.table("pgstream_skip_sink")
      .collect().map(_.getLong(0)).toSet
    assert(got == (250L until 300L).toSet)
  }
}
