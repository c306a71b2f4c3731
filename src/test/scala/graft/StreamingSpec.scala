package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Structured Streaming tests driven through MemoryStream micro-batches. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowedCounts: watermarked tumbling windows aggregate incrementally") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream.windowedCounts(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win").outputMode("complete").start()
    try {
      input.addData(
        Event(1L, "click", ts(1), 1.0),
        Event(2L, "click", ts(4), 2.0),
        Event(1L, "view", ts(12), 5.0))
      query.processAllAvailable()
      val rows = spark.table("win")
        .select(col("window.start").cast("string"), col("event_type"), col("n"), col("total"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00", "click", 2L, 3.0),
        ("2024-01-01 10:10:00", "view", 1L, 5.0)))
      // second micro-batch lands in an existing window
      input.addData(Event(3L, "click", ts(7), 4.0))
      query.processAllAvailable()
      val n2 = spark.table("win").filter(col("event_type") === "click")
        .select("n").as[Long].collect().toSeq
      assert(n2 == Seq(3L))
    } finally query.stop()
  }

  test("intervalJoinMarks: stream-stream join equals the batch range join") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Seq(
      Event(1L, "click", ts(10), 1.0), Event(1L, "view", ts(20), 2.0),
      Event(2L, "click", ts(15), 3.0), Event(3L, "view", ts(30), 4.0))
    val marks: Seq[(Long, java.sql.Timestamp, String)] = Seq(
      (1L, ts(5), "a"),  // within 10 min of the ts(10) event only
      (1L, ts(19), "b"), // within 10 min of ts(20)
      (2L, ts(15), "c"), // exactly at the event: inclusive bound
      (2L, ts(16), "d"), // AFTER the event: excluded
      (3L, ts(1), "e"))  // older than the tolerance: excluded

    val es = MemoryStream[Event]; val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = EventStream.intervalJoinMarks(
      es.toDF(), ms.toDF().toDF("user_id", "mts", "mark"),
      "user_id", tolerance = "10 minutes")
    val query = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      // two micro-batches with interleaved arrival order
      es.addData(events.take(2): _*)
      ms.addData(marks.take(3): _*)
      query.processAllAvailable()
      es.addData(events.drop(2): _*)
      ms.addData(marks.drop(3): _*)
      query.processAllAvailable()
      val streamed = spark.table("ij")
        .select("user_id", "ts", "mts", "mark")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, String)].collect().toSet

      // batch equivalent: same predicate as a plain range join
      val be = events.toDF().alias("e")
      val bm = marks.toDF("user_id", "mts", "mark").alias("m")
      val batch = be.join(bm,
          col("e.user_id") === col("m.user_id") &&
            col("m.mts") >= col("e.ts") - expr("INTERVAL 10 minutes") &&
            col("m.mts") <= col("e.ts"))
        .select(col("e.user_id"), col("e.ts"), col("m.mts"), col("m.mark"))
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, String)].collect().toSet

      assert(streamed == batch)
      assert(streamed.map(_._4) == Set("a", "b", "c")) // d and e excluded
    } finally query.stop()
  }

  test("sessionize: per-user state survives micro-batches, gap restarts session") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream.sessionize(input.toDS(), gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("sess").outputMode("update").start()
    try {
      input.addData(Event(7L, "click", ts(0), 1.0), Event(7L, "click", ts(5), 2.0))
      query.processAllAvailable()
      input.addData(Event(7L, "click", ts(8), 3.0)) // within gap: same session
      query.processAllAvailable()
      val s = spark.table("sess").orderBy(col("ended").desc).limit(1)
        .as[EventStream.Session].collect()(0)
      assert(s.events == 3L && s.total == 6.0)
      assert(s.started == ts(0) && s.ended == ts(8))

      input.addData(Event(7L, "click", ts(40), 9.0)) // gap exceeded: new session
      query.processAllAvailable()
      val s2 = spark.table("sess").orderBy(col("ended").desc).limit(1)
        .as[EventStream.Session].collect()(0)
      assert(s2.events == 1L && s2.total == 9.0)
    } finally query.stop()
  }

  test("sessionizeClosed emits each session exactly once, on close") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream.sessionizeClosed(input.toDS(), gapMs = 10 * 60 * 1000)
      .writeStream.format("memory").queryName("closed").outputMode("append").start()
    try {
      input.addData(Event(7L, "click", ts(0), 1.0), Event(7L, "click", ts(5), 2.0))
      query.processAllAvailable()
      assert(spark.table("closed").count() == 0) // session still open

      // an event past the gap CLOSES the first session and emits it once
      input.addData(Event(7L, "click", ts(40), 9.0))
      query.processAllAvailable()
      val rows = spark.table("closed").as[EventStream.Session].collect()
      assert(rows.length == 1)
      assert(rows(0).events == 2L && rows(0).total == 3.0)
      assert(rows(0).started == ts(0) && rows(0).ended == ts(5))
    } finally query.stop()
  }

  test("sessionizeClosed + per-user EOS sentinel emits the COMPLETE session set") {
    // the q_stream_sessionize driver-row contract: a far-future sentinel
    // event per user closes each final real session; the sentinel's own
    // session never closes, so output = every real session, exactly once
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val sentinel = ts(1000000)
    val query = EventStream.sessionizeClosed(input.toDS(), gapMs = 10 * 60 * 1000)
      .filter(col("started") < lit(sentinel))
      .writeStream.format("memory").queryName("closed_eos").outputMode("append").start()
    try {
      // user 1: two sessions; user 2: one session; out-of-order within batch
      input.addData(
        Event(1L, "a", ts(40), 1.0), Event(1L, "a", ts(0), 1.0),
        Event(1L, "a", ts(5), 1.0), Event(2L, "b", ts(3), 2.0),
        Event(1L, "eos", sentinel, 0.0), Event(2L, "eos", sentinel, 0.0))
      query.processAllAvailable()
      val rows = spark.table("closed_eos").as[EventStream.Session].collect()
        .sortBy(r => (r.user_id, r.started.getTime))
      assert(rows.length == 3)
      assert(rows(0).user_id == 1L && rows(0).events == 2L && rows(0).ended == ts(5))
      assert(rows(1).user_id == 1L && rows(1).events == 1L && rows(1).started == ts(40))
      assert(rows(2).user_id == 2L && rows(2).events == 1L)
    } finally query.stop()
  }

  test("dedupStream drops repeated keys within the watermark horizon") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream.dedupStream(input.toDF(), Seq("user_id", "event_type"), "ts")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(
        Event(1L, "click", ts(1), 1.0),
        Event(1L, "click", ts(2), 2.0), // dup key within batch
        Event(2L, "view", ts(3), 3.0))
      query.processAllAvailable()
      input.addData(Event(1L, "click", ts(4), 4.0)) // dup across batches
      query.processAllAvailable()
      val rows = spark.table("dedup").select("user_id", "event_type").collect()
      assert(rows.length == 2) // one (1,click), one (2,view)
    } finally query.stop()
  }

  test("capPerKeyStream admits first-n per key across micro-batches, in event order") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val query = EventStream.capPerKeyStream(input.toDS(), n = 4L)
      .writeStream.format("memory").queryName("quota").outputMode("append").start()
    try {
      // batch 1: 3 of srcA (out of order), 1 of srcB
      input.addData((12L, "srcA", ts(2)), (11L, "srcA", ts(1)),
        (13L, "srcA", ts(3)), (21L, "srcB", ts(1)))
      query.processAllAvailable()
      // batch 2: srcA hits its quota mid-batch; srcB stays open
      input.addData((14L, "srcA", ts(4)), (15L, "srcA", ts(5)), (22L, "srcB", ts(2)))
      query.processAllAvailable()
      // batch 3: closed quota stays closed
      input.addData((16L, "srcA", ts(6)))
      query.processAllAvailable()
      val rows = spark.table("quota").as[(Long, String, Long)].collect().toSet
      assert(rows == Set(
        (11L, "srcA", 1L), (12L, "srcA", 2L), (13L, "srcA", 3L), (14L, "srcA", 4L),
        (21L, "srcB", 1L), (22L, "srcB", 2L)))
    } finally query.stop()
  }

  test("readEvents streams a parquet directory with the events schema") {
    val dir = tempDir("evstream")
    val batch = Seq(Event(1L, "click", ts(1), 1.0), Event(2L, "view", ts(2), 2.0)).toDS()
    batch.write.mode("overwrite").parquet(dir)
    val stream = EventStream.readEvents(spark, dir, batch.schema)
    assert(stream.isStreaming)
    val query = EventStream.windowedCounts(stream, "10 minutes", "1 minute")
      .writeStream.format("memory").queryName("files").outputMode("complete").start()
    try {
      query.processAllAvailable()
      assert(spark.table("files").agg(sum("n")).collect()(0).getLong(0) == 2L)
    } finally query.stop()
  }

  test("ingestDocumentsStream: scores match batch, fingerprint dedup drops repeats") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = EventStream.ingestDocumentsStream(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "ts")
    val query = stream.writeStream.format("memory").queryName("ingest")
      .outputMode("append").start()
    try {
      val good = "the quick brown fox jumps over a lazy dog in the sunny park today"
      input.addData(
        (1L, good, ts(1)),
        (2L, "der hund und die katze sind von dem haus mit einem garten", ts(2)),
        (3L, "the  QUICK brown fox jumps over a lazy dog in the sunny park today", ts(3)),
        (4L, good, ts(4))) // exact repeat of doc 1 -> deduped
      query.processAllAvailable()
      val rows = spark.table("ingest")
        .select("doc_id", "lang_id", "n_tokens").as[(Long, String, Long)]
        .collect().sortBy(_._1)
      // doc 3 normalizes (case/whitespace) to doc 1's fingerprint, doc 4 is
      // an exact repeat: one survivor for the three
      assert(rows.map(_._1).toSeq == Seq(1L, 2L))
      assert(rows(0)._2 == "en" && rows(1)._2 == "de")
      assert(rows(0)._3 == 14L)
      // the streaming scores are the BATCH expressions, bit-identical
      val batchQ = Seq(good).toDF("text")
        .select(graft.pipeline.TextAnalysis.qualityScore(col("text"))).as[Double].collect()(0)
      val streamQ = spark.table("ingest").filter(col("doc_id") === 1)
        .select("quality").as[Double].collect()(0)
      assert(streamQ == batchQ)
    } finally query.stop()
  }

  test("ingestDocumentsStream scores online with trained-model weights") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = Seq(1.0, -2.0, 4.0, 1.0, -3.0, -2.0, -1.0)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = EventStream.ingestDocumentsStream(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "ts", modelWeights = w)
    val query = stream.writeStream.format("memory").queryName("ingest_model")
      .outputMode("append").start()
    try {
      val doc = "the quick brown fox jumps over a lazy dog in the sunny park today"
      input.addData((1L, doc, ts(1)))
      query.processAllAvailable()
      val streamScore = spark.table("ingest_model")
        .select("model_score").as[Double].collect()(0)
      // online inference == the batch scoring expression, bit-identical
      val batchScore = graft.pipeline.Classifier.scored(
        Seq(doc).toDF("text"), "text", w).select("score").as[Double].collect()(0)
      assert(streamScore == batchScore)
    } finally query.stop()
  }

  test("dedupAgainstCorpus drops known content, then dedups within the stream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val corpus = Seq((1L, "old document one"), (2L, "old document two"))
      .toDF("doc_id", "text")
    val corpusFps = corpus.select(
      graft.pipeline.TextAnalysis.fingerprint64(col("text")).as("fp"))
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = EventStream.dedupAgainstCorpus(
      input.toDF().toDF("doc_id", "text", "ts"), corpusFps, "text", "ts")
    val query = deduped.writeStream.format("memory").queryName("corpusdedup")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      input.addData(
        (10L, "old document one", t0),   // already in corpus -> dropped
        (11L, "fresh document", t0),     // new -> kept
        (12L, "fresh document", t0))     // stream-repeat -> dropped
      query.processAllAvailable()
      input.addData((13L, "old document two", t0), // corpus hit, batch 2
        (14L, "another fresh one", t0))
      query.processAllAvailable()
      val got = spark.table("corpusdedup").select("doc_id")
        .as[Long].collect().toSet
      assert(got == Set(11L, 14L), s"got $got")
    } finally query.stop()
  }

  test("nearDupScreenStream matches the batch incremental near-dup twin") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val hist = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different historical content about spark streaming state"))
      .toDF("doc_id", "text")
    val ledger = graft.pipeline.Dedup.minhashLedger(hist, "text", "doc_id",
      shingleSize = 3, numHashes = 32, bands = 8)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val newRows = Seq(
      // near-dup of hist 1 (one word changed)
      (10L, "the quick brown fox jumps over the lazy cat again and again today"),
      // exact copy of hist 1: matches on EVERY band -> the pair dedup must
      // still emit it once
      (11L, "the quick brown fox jumps over the lazy dog again and again today"),
      (12L, "entirely novel text that matches nothing in the history at all"))
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = EventStream.nearDupScreenStream(
      input.toDF().toDF("doc_id", "text", "ts"), ledger, "text", "doc_id", "ts",
      shingleSize = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.5)
    val query = out.writeStream.format("memory").queryName("neardupscreen")
      .outputMode("append").start()
    try {
      input.addData(newRows.map { case (i, t) => (i, t, t0) }: _*)
      query.processAllAvailable()
      val got = spark.table("neardupscreen")
        .select("doc_id", "hist_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // batch twin on the same inputs
      val batch = graft.pipeline.Dedup.incrementalNearDup(
          newRows.toDF("doc_id", "text"), "text", "doc_id", ledger,
          shingleSize = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.contains((11L, 1L)) && got((11L, 1L)) == 1.0) // exact copy, once
      assert(got.contains((10L, 1L)) && got((10L, 1L)) < 1.0)  // near-dup
      assert(!got.keys.exists(_._1 == 12L))                    // novel: clean
    } finally query.stop()
  }

  test("dedupAgainstCorpus with bloom gate: identical output, fpp-proof") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val corpus = Seq((1L, "old document one"), (2L, "old document two"))
      .toDF("doc_id", "text")
    val corpusFps = corpus.select(
      graft.pipeline.TextAnalysis.fingerprint64(col("text")).as("fp"))
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    // tiny filter + 50% fpp: false positives likely; anti-join must absorb
    val deduped = EventStream.dedupAgainstCorpus(
      input.toDF().toDF("doc_id", "text", "ts"), corpusFps, "text", "ts",
      bloomExpectedItems = 2, bloomFpp = 0.5)
    val query = deduped.writeStream.format("memory").queryName("bloomdedup")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      input.addData(
        (10L, "old document one", t0),   // corpus hit -> dropped
        (11L, "fresh document", t0),     // new -> kept
        (12L, "fresh document", t0))     // stream-repeat -> dropped
      query.processAllAvailable()
      input.addData((13L, "old document two", t0),
        (14L, "another fresh one", t0))
      query.processAllAvailable()
      val got = spark.table("bloomdedup").select("doc_id")
        .as[Long].collect().toSet
      assert(got == Set(11L, 14L), s"got $got")
    } finally query.stop()
  }

  test("contaminationFlagStream: overlaps match the batch operator, stateless") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val probes = Seq((100L, "alpha beta gamma delta qqq")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // 2 shared trigrams
      (2L, "zeta eta theta iota kappa"),      // clean
      (3L, "alpha beta gamma delta qqq"))     // identical to probe: 3 shared
    val input = MemoryStream[(Long, String)]
    val flagged = EventStream.contaminationFlagStream(
      input.toDF().toDF("doc_id", "text"), probes, "text", n = 3)
    val query = flagged.writeStream.format("memory").queryName("contam")
      .outputMode("append").start() // append works: the plan is stateless
    try {
      input.addData(corpus.take(2): _*)
      query.processAllAvailable()
      input.addData(corpus.drop(2): _*) // second micro-batch, no state carried
      query.processAllAvailable()
      val got = spark.table("contam").select("doc_id", "overlap")
        .as[(Long, Long)].collect().toMap
      // the batch operator is the semantics oracle (minOverlap = 1 keeps
      // every overlapping pair; stream reports 0 for clean docs)
      val batch = graft.pipeline.Dedup.contamination(
        corpus.toDF("doc_id", "text"), probes, "text", "doc_id",
        n = 3, minOverlap = 1)
        .select("doc_id", "overlap").as[(Long, Long)].collect().toMap
      assert(got == batch + (2L -> 0L), s"got $got, batch $batch")
    } finally query.stop()
  }

  test("histogramClosed emits the full per-window histogram once, on close") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val winMs = 10 * 60 * 1000L
    val query = EventStream.histogramClosed(input.toDS(), winMs,
        lo = 0.0, hi = 10.0, nBins = 5, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("hist").outputMode("append").start()
    try {
      // window 0: values 1,1,5,9.9,42 -> bins 0,0,2,4,4(clamped)
      input.addData(Event(1L, "a", ts(0), 1.0), Event(2L, "a", ts(1), 1.0),
        Event(3L, "a", ts(2), 5.0), Event(4L, "a", ts(3), 9.9),
        Event(5L, "a", ts(4), 42.0))
      query.processAllAvailable()
      assert(spark.table("hist").count() == 0) // window still open
      input.addData(Event(6L, "z", ts(25), 0.0))
      query.processAllAvailable()
      val w0 = spark.table("hist").as[EventStream.WindowBin].collect()
        .map(r => (r.bin, r.cnt, r.share)).toSet
      assert(w0 == Set((0, 2L, 0.4), (1, 0L, 0.0), (2, 1L, 0.2),
        (3, 0L, 0.0), (4, 2L, 0.4)), s"got $w0")
    } finally query.stop()
  }

  test("trendingClosed emits each window's top-k once, when the watermark closes it") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val winMs = 10 * 60 * 1000L // 10-minute windows; ts() is minutes
    val query = EventStream.trendingClosed(input.toDS(), winMs, k = 2,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("trend").outputMode("append").start()
    try {
      // window 0: a×3, b×1, c×1 -> top2 = a, b (count then item tiebreak)
      input.addData(Event(1L, "a", ts(0), 0), Event(2L, "a", ts(1), 0),
        Event(3L, "a", ts(2), 0), Event(4L, "b", ts(3), 0), Event(5L, "c", ts(4), 0))
      query.processAllAvailable()
      assert(spark.table("trend").count() == 0) // watermark hasn't passed the end

      // events far in window 2 push the watermark past window 0's end
      input.addData(Event(6L, "z", ts(25), 0), Event(7L, "z", ts(26), 0))
      query.processAllAvailable()
      val w0 = spark.table("trend").as[EventStream.WindowTopK].collect()
        .map(r => (r.item, r.cnt, r.rk)).toSet
      assert(w0 == Set(("a", 3L, 1), ("b", 1L, 2)), s"got $w0")

      // nothing re-emits for a closed window
      input.addData(Event(8L, "z", ts(27), 0))
      query.processAllAvailable()
      assert(spark.table("trend").count() == 2)
    } finally query.stop()
  }

  test("trendingClosed survives a checkpoint restart: no lost or duplicate window") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val winMs = 10 * 60 * 1000L
    val chk = tempDir("graft-trend-chk")
    // the memory sink refuses checkpoint recovery, so each run drains its
    // emissions into a driver-side buffer via foreachBatch (which recovers)
    def start(buf: java.util.Queue[(java.sql.Timestamp, String, Long, Int)]) =
      EventStream.trendingClosed(input.toDS(), winMs, k = 2,
          watermarkDelay = "0 seconds")
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[EventStream.WindowTopK],
                       _: Long) =>
          b.collect().foreach(r => buf.add((r.window_start, r.item, r.cnt, r.rk))))
        .option("checkpointLocation", chk).outputMode("append").start()

    // run 1: window 0 fills, window 2 starts accumulating (z×2), window 0
    // closes and emits — then the query dies (stop = crash for state
    // purposes: counts, watermark and emitted-set live only in the
    // checkpoint, the new query object shares nothing in memory)
    val got1 = new java.util.concurrent.ConcurrentLinkedQueue[(java.sql.Timestamp, String, Long, Int)]()
    val q1 = start(got1)
    try {
      input.addData(Event(1L, "a", ts(0), 0), Event(2L, "a", ts(1), 0),
        Event(3L, "b", ts(2), 0))
      q1.processAllAvailable()
      input.addData(Event(4L, "z", ts(25), 0), Event(5L, "z", ts(26), 0))
      q1.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got1.asScala.map(r => (r._2, r._3, r._4)).toSet ==
        Set(("a", 2L, 1), ("b", 1L, 2)))
    } finally q1.stop()

    // run 2: restart FROM THE CHECKPOINT; window 2 keeps counting across
    // the restart and closes with counts spanning it; window 0 must not
    // re-emit even though its events are still in the (replayable) source
    val got2 = new java.util.concurrent.ConcurrentLinkedQueue[(java.sql.Timestamp, String, Long, Int)]()
    val q2 = start(got2)
    try {
      input.addData(Event(6L, "y", ts(27), 0), Event(7L, "z", ts(28), 0))
      q2.processAllAvailable()
      input.addData(Event(8L, "w", ts(45), 0)) // window 4: closes window 2
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val r2 = got2.asScala.toSeq
      val win2 = new java.sql.Timestamp(
        Math.floorDiv(ts(25).getTime, winMs) * winMs)
      assert(r2.forall(_._1 == win2), s"got $r2") // no window-0 duplicate
      // z=3 proves the pre-restart state (z×2) merged with post-restart z
      assert(r2.map(r => (r._2, r._3, r._4)).toSet ==
        Set(("z", 3L, 1), ("y", 1L, 2)), s"got $r2")
    } finally q2.stop()
  }

  test("trendingClosed via file source + AvailableNow + sentinel emits every real window") {
    // the q_stream_trending driver-row contract: a single far-future
    // sentinel event pushes the watermark past every real window end, and
    // the AvailableNow no-data final batch fires the event-time timeouts —
    // every REAL window emits exactly once; the sentinel's own window
    // stays in state and never emits
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val winMs = 10 * 60 * 1000L
    // NOT epoch-based: an event AT the initial watermark (epoch 0) is
    // filtered as late by every stateful op (ts <= watermark drops);
    // real fixtures must sit strictly above it
    val base = 1704067200L // 2024-01-01, window-aligned (divisible by 600)
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000)
    val sentinel = ts(1000000)
    val events = Seq(
      Event(1L, "a", ts(0), 0), Event(2L, "a", ts(1), 0),
      Event(3L, "b", ts(2), 0),                       // window 0: a=2, b=1
      Event(4L, "z", ts(650), 0), Event(5L, "z", ts(660), 0),
      Event(6L, "y", ts(655), 0),                     // window 1: z=2, y=1
      Event(0L, "__eos", sentinel, 0))
    val tmp = tempDir("graft-trend-file")
    // ONE part file: the file source must not split data and sentinel
    // across micro-batches — a sentinel processed before a real event
    // advances the watermark and silently drops the real event as late
    events.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = spark.readStream.schema(events.toDF().schema).parquet(tmp)
      .as[Event]
    val out = EventStream.trendingClosed(src, winMs, k = 2).toDF()
      .filter(col("window_start") < lit(sentinel))
    val q = out.writeStream.format("memory").queryName("trend_file_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("trend_file_test")
      .collect().map(r => (r.getTimestamp(0).getTime / winMs - base * 1000 / winMs,
        r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == Set((0L, "a", 2L, 1), (0L, "b", 1L, 2),
      (1L, "z", 2L, 1), (1L, "y", 1L, 2)), s"got $got")
  }

  test("histogramClosed survives a checkpoint restart: bins span the restart") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Event]
    val winMs = 10 * 60 * 1000L
    val chk = tempDir("graft-hist-chk")
    def start(buf: java.util.Queue[(java.sql.Timestamp, Int, Long, Double)]) =
      EventStream.histogramClosed(input.toDS(), winMs,
          lo = 0.0, hi = 10.0, nBins = 5, watermarkDelay = "0 seconds")
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[EventStream.WindowBin],
                       _: Long) =>
          b.collect().foreach(r => buf.add((r.window_start, r.bin, r.cnt, r.share))))
        .option("checkpointLocation", chk).outputMode("append").start()

    val got1 = new java.util.concurrent.ConcurrentLinkedQueue[(java.sql.Timestamp, Int, Long, Double)]()
    val q1 = start(got1)
    try {
      // window 0: 1,1,5 -> bins 0,0,2; window 2 starts with value 1 (bin 0)
      input.addData(Event(1L, "a", ts(0), 1.0), Event(2L, "a", ts(1), 1.0),
        Event(3L, "a", ts(2), 5.0))
      q1.processAllAvailable()
      input.addData(Event(4L, "z", ts(25), 1.0))
      q1.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(got1.asScala.map(r => (r._2, r._3)).toSet ==
        Set((0, 2L), (1, 0L), (2, 1L), (3, 0L), (4, 0L)))
    } finally q1.stop()

    val got2 = new java.util.concurrent.ConcurrentLinkedQueue[(java.sql.Timestamp, Int, Long, Double)]()
    val q2 = start(got2)
    try {
      input.addData(Event(5L, "z", ts(27), 9.9)) // window 2: bin 4
      q2.processAllAvailable()
      input.addData(Event(6L, "w", ts(45), 0.0)) // closes window 2
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val r2 = got2.asScala.toSeq
      val win2 = new java.sql.Timestamp(
        Math.floorDiv(ts(25).getTime, winMs) * winMs)
      assert(r2.forall(_._1 == win2), s"got $r2")
      // bin 0 count from BEFORE the restart + bin 4 from after
      assert(r2.map(r => (r._2, r._3, r._4)).toSet ==
        Set((0, 1L, 0.5), (1, 0L, 0.0), (2, 0L, 0.0), (3, 0L, 0.0),
          (4, 1L, 0.5)), s"got $r2")
    } finally q2.stop()
  }

  test("centroidClosed emits each window's mean vector exactly once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Seq[Float])]
    val q = EventStream.centroidClosed(in.toDS(), windowMs = 60000L, dim = 2)
      .writeStream.format("memory").queryName("wcent").outputMode("append").start()
    try {
      in.addData((ts(0), Seq(1f, 0f)), (ts(0), Seq(3f, 2f)))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM wcent").count() == 0) // window still open
      in.addData((ts(5), Seq(9f, 9f))) // watermark past window 0 end
      q.processAllAvailable()
      val out = spark.sql("SELECT n, centroid FROM wcent").collect()
      assert(out.length == 1 && out(0).getLong(0) == 2L &&
        out(0).getSeq[Double](1) == Seq(2.0, 1.0))
      // re-feeding window 0 data can't re-open a closed window (dropped as late)
      in.addData((ts(0), Seq(100f, 100f)))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM wcent").count() == 1)
    } finally q.stop()
  }

  test("semanticScreenStream flags incoming vectors near the eval probes") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = sf("embeddings")
    val probes = emb.filter(col("vec_id") < 3)
    val rows = emb.filter(col("vec_id").isin(1L, 100L))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val in = MemoryStream[(Long, Seq[Float])]
    val screened = EventStream.semanticScreenStream(
      in.toDF().toDF("vec_id", "embedding"), probes, "embedding", "vec_id",
      tau = 0.99)
    val q = screened.writeStream.format("memory").queryName("sscreen")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val out = spark.sql("SELECT vec_id, probe_id, contaminated FROM sscreen")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      // vector 1 IS probe 1: cosine 1.0 -> flagged against itself
      assert(out(1L) == ((1L, true)), s"got $out")
      // vector 100 is not within 0.99 of any probe (corpus top-10
      // cosines peak near 0.5); still reports its best probe
      assert(!out(100L)._2 && (0L to 2L).contains(out(100L)._1), s"got $out")
    } finally q.stop()
  }
}
