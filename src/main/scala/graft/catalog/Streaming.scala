package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import graft.functions.WarpAggregates.dsum
import graft.pipeline.Materialize
import Shared._

/** Structured Streaming rows (bounded fixtures run as real streams) and
  * their batch-equivalence twins. A stream's fixture dirs come from its
  * query's [[Materialize]] scope and are deleted once the bounded run has
  * terminated: every result reads its memory sink (or Postgres), not the
  * files. */
object Streaming {
  /** spark.sql.shuffle.partitions for the REAL-streaming catalog rows. A
    * stateful streaming operator opens one state-store instance PER shuffle
    * partition PER micro-batch — at the session's 32 partitions each tiny
    * bounded fixture pays 32 store inits + 32 delta-file commits per
    * stateful operator per batch, pure fixed overhead (measured:
    * q_stream_neardup 6.2 s, q_stream_interval_join 8.2 s isolated at
    * sf0.1, dominated by store churn, not rows). Results are
    * partition-count independent (hash-partitioning by key is semantically
    * neutral; every row's output is key-local), pinned by the unchanged
    * oracle hashes. Production sizes this to the cluster — the number is a
    * tuning knob, not a semantic one; streaming queries clone the session
    * conf at start(), so the scoped set/restore is race-free. */
  private val StreamShuffle = "spark.sql.shuffle.partitions" -> "4"

  /** Skip of the trailing NO-DATA micro-batch (r15, VERDICT r14 item 5): a
    * bounded AvailableNow run otherwise appends one empty batch whose only
    * work is watermark-driven state EVICTION — measured at ~0.7-0.9 s of
    * pure machinery (planning + empty addBatch + state commit) per
    * streaming query. Output-NEUTRAL only where no operator emits on
    * watermark advance: inner stream-stream joins (matches emit in the data
    * batch) and NoTimeout flatMapGroupsWithState (no-data batches invoke
    * nothing). NOT for append-mode windowed aggregations, whose final
    * windows emit exactly in that batch — those entries keep the default.
    * Unbounded production runs keep no-data batches ON for state cleanup. */
  private val NoFinalBatch = "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** Runs `body` with `confs` set on the session, then puts each key back
    * as it was: its previous value, or unset when it had none. */
  private def withConf[A](s: SparkSession, confs: (String, String)*)(body: => A): A = {
    val before = s.conf.getAll
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) => before.get(k).fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** DuckDB oracle replaying the md5-tier SimHash pairs of
    * q_dedup_simhash_md5 end-to-end: token-frequency ±1 bit sums over the
    * two md5 halves, 16-bit pigeonhole quarters, Hamming verify via
    * per-half XOR popcounts (no 64-bit shifts). */
  /** DuckDB replay of the md5-tier STREAMING intake screen
    * (q_stream_neardup): the bipartite form of [[minhashMd5Oracle]] —
    * new-side docs (fresh + planted near-dup twins) band-match against
    * the historical ledger side, candidates verify exact Jaccard. The
    * Spark side must reproduce this through an actual Structured
    * Streaming execution. */
  private def streamNearDupOracle(numHashes: Int, bands: Int,
                                  threshold: Double,
                                  maxBucket: Int = 1000): String =
    bipartiteMd5Oracle(
      """SELECT 'h' AS side, CAST(doc_id AS BIGINT) AS doc_id, text
           FROM documents WHERE doc_id < 250
           UNION ALL
           SELECT 'n', CAST(doc_id AS BIGINT), text
           FROM documents WHERE doc_id >= 250 AND doc_id < 500
           UNION ALL
           SELECT 'n', CAST(doc_id AS BIGINT) + 1000000,
             text || ' nearly identical content'
           FROM documents WHERE doc_id < 50""",
      numHashes, bands, threshold, maxBucket)

  val queries: Seq[Q] = Seq(
    // ---- per-window histogram, batch twin of the streaming
    //      histogramClosed (same daily buckets, same clamped bins)
    Q("q_window_hist", (s, dir) => {
      val (lo, hi, nBins) = (0.0, 100.0, 10)
      val w = (floor(unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
        / lit(86400000000L)) * lit(86400000000L)).as("w")
      val bin = least(lit(nBins - 1), greatest(lit(0),
        floor((col("value") - lit(lo)) / lit(hi - lo) * nBins))).cast("int").as("bin")
      T(s, dir, "events").select(w, bin)
        .groupBy("w", "bin").agg(count(lit(1)).as("cnt"))
        .orderBy("w", "bin")
    }, Sql("""SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                * 86400000000 AS w,
              CAST(least(9, greatest(0,
                floor((value - CAST(0.0 AS DOUBLE))
                      / CAST(100.0 AS DOUBLE) * 10))) AS INT) AS bin,
              count(*) AS cnt
         FROM events GROUP BY 1, 2 ORDER BY w, bin""")),

    // ---- trending items per tumbling window (batch twin of the
    //      streaming trendingClosed operator — same buckets, same
    //      tiebreak; WindowGroupLimit partial top-k)
    Q("q_trending", (s, dir) => {
      val ev = T(s, dir, "events").calculate(Seq("w" ->
        (floor(unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
          / lit(86400000000L)) * lit(86400000000L))))
      graft.pipeline.HeavyHitters.topKPerGroup(ev, Seq("w"), col("event_type"), n = 3)
        .warpSort(Seq(Order(col("w")), Order(col("rk"))))
    }, Sql("""WITH e AS (
           SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                  * 86400000000 AS w, event_type
           FROM events
         ), c AS (
           SELECT w, event_type AS item, count(*) AS cnt FROM e GROUP BY 1, 2
         )
         SELECT w, item, cnt,
           CAST(row_number() OVER (PARTITION BY w
             ORDER BY cnt DESC, item ASC) AS INT) AS rk
         FROM c QUALIFY rk <= 3 ORDER BY w, rk""")),

    // ---- seventh REAL Structured Streaming driver row: stream-static
    //      enrichment against an SCD2 dimension — each event joins the
    //      dimension VERSION valid at its event time (the "join the dim
    //      as it was" semantics a replayable pipeline needs). Stateless
    //      stream-static join: no watermark, no sentinel required.
    Q("q_stream_scd2_enrich", (s, dir) => Materialize(s) { m =>
      import org.apache.spark.sql.types.TimestampType
      withConf(s, StreamShuffle) {
      val wh = new graft.sources.ParquetWarehouse(s, m.tempDir("graft_whse"))
      val base = T(s, dir, "nation").selectColumns(Seq("n_nationkey", "n_name"))
      val cutMs = 1704326400000L // 2024-01-04: splits the event fixture
      wh.scd2Init("dim_e", base, 0L)
      wh.scd2Apply("dim_e", base.warpFilter(col("n_nationkey") < 12)
          .calculate(Seq("n_name" -> concat(col("n_name"), lit("_V2")))),
        Seq("n_nationkey"), cutMs)
      val dim = wh.read("dim_e")
      val ev = T(s, dir, "events").filter(col("event_id") < 20000L)
        .select(col("event_id"),
          pmod(col("user_id"), lit(25L)).cast("long").as("nk"),
          col("ts").cast(TimestampType).as("ts"))
      val tmp = m.tempDir("graft_stream_se")
      ev.coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = s.readStream.schema(ev.schema).parquet(tmp)
      val ems = unix_millis(col("ts"))
      val out = src.join(dim,
        col("nk") === col("n_nationkey") && col("valid_from") <= ems &&
          (col("valid_to").isNull || col("valid_to") > ems))
        .select(col("event_id"), col("n_name"))
      val qname = "graft_stream_se_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname).orderBy("event_id")
      }
    }, Sql("""WITH dim AS (
           SELECT n_nationkey, n_name, CAST(0 AS BIGINT) AS vf,
             CAST(CASE WHEN n_nationkey < 12 THEN 1704326400000 END
               AS BIGINT) AS vt
           FROM nation
           UNION ALL
           SELECT n_nationkey, n_name || '_V2', 1704326400000, NULL
           FROM nation WHERE n_nationkey < 12
         ), e AS (
           SELECT event_id, user_id % 25 AS nk,
             CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS ems
           FROM events WHERE event_id < 20000
         )
         SELECT e.event_id, d.n_name
         FROM e JOIN dim d ON e.nk = d.n_nationkey
           AND d.vf <= e.ems AND (d.vt IS NULL OR d.vt > e.ems)
         ORDER BY event_id""")),

    // ---- retention cohorts: users bucketed by first-event day, distinct
    //      actives per (cohort day, day offset)
    Q("q_retention", (s, dir) => {
      val ts = col("ts").cast(org.apache.spark.sql.types.TimestampType)
      T(s, dir, "events")
        .retentionCohorts(col("user_id"), ts, 86400L * 1000000)
        .orderBy("cohort", "period_offset")
    }, Sql("""WITH p AS (
           SELECT user_id, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS period
           FROM events
         ), f AS (
           SELECT user_id, min(period) AS cohort FROM p GROUP BY user_id
         )
         SELECT cohort, p.period - cohort AS period_offset,
           count(DISTINCT p.user_id) AS n_active
         FROM p JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort, period_offset""")),

    // ---- streaming per-key admission quota, run in batch mode over the
    //      bounded events table (the q_sessionize recipe): first 1000
    //      events per type in full-precision event-time order
    Q("q_stream_quota", (s, dir) => {
      import s.implicits._
      val ev = T(s, dir, "events")
        .select(col("event_id").cast("long").as("_1"), col("event_type").as("_2"),
          col("ts").cast(org.apache.spark.sql.types.TimestampType).as("_3"))
        .as[(Long, String, java.sql.Timestamp)]
      graft.streaming.EventStream.capPerKeyStream(ev, n = 1000L).toDF()
        .orderBy("key", "admit_seq")
    }, Sql("""WITH r AS (
           SELECT event_id AS id, event_type AS key,
             row_number() OVER (PARTITION BY event_type
               ORDER BY ts, event_id) AS admit_seq
           FROM events
         )
         SELECT id, key, admit_seq FROM r
         WHERE admit_seq <= 1000 ORDER BY key, admit_seq""")),

    // ---- REAL Structured Streaming -> LIVE PostgreSQL sink: micro-batches
    //      land via foreachBatch + distributed COPY (one wire connection
    //      per batch partition, sources/PgWire.scala), then the result is
    //      read back through the partitioned wire scan. The stream->
    //      warehouse shape every ingest pipeline runs; AvailableNow makes
    //      it deterministic and oracle-gated against the source parquet.
    Q("q_stream_pg_sink", (s, dir) => Materialize(s) { m =>
      val pg = graft.sources.PgWire
      val conn = pg.ensureLocalServer()
      val tbl = s"stream_sink_$dir".replaceAll("[^A-Za-z0-9_]", "_")
      withConf(s, StreamShuffle) {
        val ev = T(s, dir, "events").filter(col("event_id") < 20000L)
          .select(col("event_id").cast("long").as("event_id"),
            col("event_type").cast("string").as("event_type"),
            col("value").cast("double").as("value"))
        val tmp = m.tempDir("graft_stream_pg")
        ev.coalesce(2).write.mode("overwrite").parquet(tmp)
        pg.resetTable(conn, tbl, ev.schema) // start-empty: re-runs must not append
        val src = s.readStream.schema(ev.schema).parquet(tmp)
        val q = src.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epoch: Long) =>
            // epoch-ledgered staged promote: a replayed micro-batch is a
            // no-op, so the sink is exactly-once end-to-end
            pg.appendDistributedExactlyOnce(batch, conn, tbl, epoch)
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        pg.read(s, conn, tbl, "event_id", numPartitions = 4)
          .orderBy("event_id")
      }
    }, Sql("""SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
           CAST(value AS DOUBLE) AS value
         FROM events WHERE event_id < 20000 ORDER BY event_id""")),

    // ---- REAL Structured Streaming SOURCE from LIVE PostgreSQL: the
    //      DataSource V2 micro-batch source (sources/PgStreamSource.scala)
    //      polls a monotonic key's high-water mark, range-splits each key
    //      window into executor tasks, and each task consumes its slice
    //      over its own wire connection INCREMENTALLY (O(row) memory).
    //      Trigger.AvailableNow pins the target offset so the run drains
    //      exactly the rows present at start -> deterministic, oracle-
    //      gated against the parquet the table was seeded from.
    Q("q_stream_pg_source", (s, dir) => {
      val pg = graft.sources.PgWire
      val conn = pg.ensureLocalServer()
      val tbl = s"stream_src_$dir".replaceAll("[^A-Za-z0-9_]", "_")
      withConf(s, StreamShuffle) {
        val ev = T(s, dir, "events").filter(col("event_id") < 20000L)
          .select(col("event_id").cast("long").as("event_id"),
            col("event_type").cast("string").as("event_type"),
            col("value").cast("double").as("value"))
        pg.resetTable(conn, tbl, ev.schema) // start-empty: re-runs must not append
        pg.appendDistributed(ev, conn, tbl)
        val qname = "graft_stream_pg_src_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val src = s.readStream.format("graft.sources.PgStreamSource")
          .option("host", conn.host).option("port", conn.port.toString)
          .option("db", conn.db).option("user", conn.user)
          .option("password", conn.password)
          .option("table", tbl).option("keycol", "event_id")
          .option("numpartitions", "4")
          .load()
        val q = src.writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(qname).orderBy("event_id")
      }
    }, Sql("""SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
           CAST(value AS DOUBLE) AS value
         FROM events WHERE event_id < 20000 ORDER BY event_id""")),

    // ---- eighth REAL Structured Streaming driver row: the per-key
    //      admission quota (flatMapGroupsWithState, one counter per key)
    //      as an actual file-source -> memory-sink query. Stateless-ish
    //      append output: admissions emit during the data batch, so no
    //      sentinel is needed; the single-file fixture keeps arrival
    //      order deterministic (one batch), matching the oracle's
    //      (ts, event_id) chronological rank
    Q("q_stream_cap", (s, dir) => Materialize(s) { m =>
      import org.apache.spark.sql.types.TimestampType
      withConf(s, StreamShuffle) {
      import s.implicits._
      val ev = T(s, dir, "events").filter(col("event_id") < 20000L)
        .select(col("event_id").cast("long").as("_1"),
          col("event_type").as("_2"),
          col("ts").cast(TimestampType).as("_3"))
      val tmp = m.tempDir("graft_stream_cap")
      ev.coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = s.readStream.schema(ev.schema).parquet(tmp)
        .as[(Long, String, java.sql.Timestamp)]
      val out = graft.streaming.EventStream.capPerKeyStream(src, n = 500L).toDF()
      val qname = "graft_stream_cap_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname).orderBy("key", "admit_seq")
      }
    }, Sql("""WITH r AS (
           SELECT event_id AS id, event_type AS key,
             row_number() OVER (PARTITION BY event_type
               ORDER BY ts, event_id) AS admit_seq
           FROM events WHERE event_id < 20000
         )
         SELECT id, key, admit_seq FROM r
         WHERE admit_seq <= 500 ORDER BY key, admit_seq""")),

    // ---- REAL Structured Streaming execution, driver-gated: the md5-tier
    //      near-dup intake screen runs as an actual streaming query
    //      (file source -> stream-static band join -> watermarked pair
    //      dedup -> Jaccard verify -> memory sink, Trigger.AvailableNow)
    //      over a bounded fixture with planted near-dups; the oracle
    //      replays every md5 min-hash, band key and Jaccard in DuckDB
    Q("q_stream_neardup", (s, dir) => Materialize(s) { m =>
      // dropDuplicatesWithinWatermark emits each first occurrence IN its
      // data batch (the watermark only EVICTS dedup state), so the
      // trailing no-data batch is skippable machinery here too
      withConf(s, StreamShuffle, NoFinalBatch) {
      val docs = T(s, dir, "documents")
      val hist = docs.warpFilter(col("doc_id") < 250)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // materialize the ledger once (r14): the streaming screen references
      // it in TWO plan branches (band probe + shingle verify) and each
      // MICRO-BATCH would otherwise re-run its 16-md5-per-shingle
      // signature pass — a static batch side should be computed once.
      // r15 (VERDICT r14 item 8): as a RELIABLY persisted table (parquet
      // write + read back), not a localCheckpoint — executor-local blocks
      // on a corpus-sized frame are a local-mode-only pattern (an executor
      // loss on a cluster kills the stream); the written form survives and
      // is exactly what a production deployment feeds its screen from
      val tmpL = m.tempDir("graft_stream_ndl")
      graft.pipeline.Dedup.minhashLedgerMd5(hist, "text", "doc_id")
        .write.mode("overwrite").parquet(tmpL)
      val ledger = s.read.parquet(tmpL)
      val fresh = docs
        .warpFilter(col("doc_id") >= 250 && col("doc_id") < 500)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val planted = docs.warpFilter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" nearly identical content")).as("text"))
      // LTZ event time (watermarks reject NTZ); internal only — the ts
      // column never reaches the dumped output, so the repo-wide NTZ
      // parquet discipline is unaffected
      val streamIn = fresh.unionByName(planted)
        .withColumn("ts",
          timestamp_seconds(lit(1704067200L) + pmod(col("doc_id"), lit(600L))))
      val tmp = m.tempDir("graft_stream_nd")
      streamIn.write.mode("overwrite").parquet(tmp)
      val src = s.readStream.schema(streamIn.schema).parquet(tmp)
      val out = graft.streaming.EventStream.nearDupScreenStreamMd5(
        src, ledger, "text", "doc_id", "ts")
      val qname = "graft_stream_nd_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(col("doc_id").as("new_id"), col("hist_id"), col("jaccard"))
        .orderBy("new_id", "hist_id")
      }
    }, Sql(streamNearDupOracle(16, 4, 0.5))),

    // ---- second REAL streaming driver row: the stateless ingest-time
    //      contamination flagger (broadcast probe grams, pure projection,
    //      no state store) runs as an actual streaming query; the oracle
    //      counts distinct-gram hits per document in plain SQL
    Q("q_stream_contamination", (s, dir) => Materialize(s) { m =>
      val docs = T(s, dir, "documents")
      val probes = docs.warpFilter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), col("text"))
      val streamSide = docs.warpFilter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val tmp = m.tempDir("graft_stream_ct")
      streamSide.write.mode("overwrite").parquet(tmp)
      val src = s.readStream.schema(streamSide.schema).parquet(tmp)
      val out = graft.streaming.EventStream.contaminationFlagStream(
        src, probes, "text", n = 3)
      val qname = "graft_stream_ct_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(col("doc_id"), col("overlap"))
        .filter(col("overlap") >= 1)
        .orderBy("doc_id")
    }, Sql("""WITH w AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS ws FROM documents
         ), sh AS (
           SELECT doc_id,
             CASE WHEN len(ws) >= 3
               THEN list_distinct(list_transform(generate_series(1, len(ws) - 2),
                      i -> array_to_string(ws[i:i+2], ' ')))
               ELSE list_distinct([array_to_string(ws, ' ')]) END AS s
           FROM w
         ), probe AS (
           SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 10 = 7
         ), corpus AS (
           SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 7
         )
         SELECT c.doc_id, CAST(count(*) AS BIGINT) AS overlap
         FROM corpus c JOIN probe p USING (g)
         GROUP BY 1 HAVING count(*) >= 1
         ORDER BY doc_id""")),

    // ---- third REAL streaming driver row (r11): the watermarked
    //      STREAM-STREAM interval join — the one streaming path that was
    //      still spec-pinned only. Events and hourly marks both arrive as
    //      file-source streams; each event joins the same-type marks
    //      whose timestamp lies within [ts - 1 hour, ts]. Watermarks on
    //      BOTH sides plus the time-range join condition are what let
    //      Spark expire join state — the requirement for running this
    //      unbounded. Oracle: the identical range predicate in plain SQL.
    Q("q_stream_interval_join", (s, dir) => Materialize(s) { m =>
      import org.apache.spark.sql.types.TimestampType
      // inner join: every output row emits in its data batch, so the
      // trailing no-data batch is pure state-eviction machinery — skipped
      // (NoFinalBatch; profiled in plans/r15/stream_profile.txt)
      withConf(s, StreamShuffle, NoFinalBatch) {
      // LTZ event time (watermarks reject NTZ); session tz is UTC so the
      // instant is unchanged, and the dumped mts is cast back to NTZ.
      // Bounded fixture (the q_stream_neardup discipline): event_id <
      // 20000 keeps EVERY row at the sf0.01 gate scale (ids 0-9999) and
      // caps the sf0.1/sf1 REHEARSALS at 20k events — this row gates
      // stream-stream join semantics (inclusive bounds, tolerance
      // window, multi-mark events, watermarking), not state-store
      // throughput (an unbounded first cut paid 307 s at sf1 writing 1M
      // rows through the single-box HDFS-backed store + memory sink; a
      // cluster runs RocksDB).
      val ev = T(s, dir, "events")
        .select(col("event_id").cast("long").as("event_id"),
          col("event_type"), col("ts").cast(TimestampType).as("ts"))
        .filter(col("event_id") < 20000L)
      val marks = T(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).cast(TimestampType).as("mts"))
        .agg(dsum(col("value")).as("mark_total"))
      val tmpE = m.tempDir("graft_stream_ije")
      val tmpM = m.tempDir("graft_stream_ijm")
      ev.write.mode("overwrite").parquet(tmpE)
      marks.write.mode("overwrite").parquet(tmpM)
      val srcE = s.readStream.schema(ev.schema).parquet(tmpE)
      val srcM = s.readStream.schema(marks.schema).parquet(tmpM)
      val out = graft.streaming.EventStream.intervalJoinMarks(
        srcE, srcM, "event_type", tolerance = "1 hour")
      val qname = "graft_stream_ij_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(col("event_id"), col("mts").cast("timestamp_ntz").as("mts"),
          col("mark_total"))
        .orderBy("event_id", "mts")
      }
    },
      // Stream-stream interval join: the same [ts - 1h, ts] range
      // predicate as the streaming query, in plain SQL over the same
      // hourly mark aggregate (the q_asof_join mark recipe).
      Sql("""WITH marks AS (
           SELECT event_type, date_trunc('hour', ts) AS mts,
                  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS mark_total
           FROM events GROUP BY event_type, date_trunc('hour', ts))
         SELECT e.event_id, m.mts, m.mark_total
         FROM events e JOIN marks m
           ON e.event_type = m.event_type
          AND m.mts >= e.ts - INTERVAL 1 HOUR
          AND m.mts <= e.ts
         WHERE e.event_id < 20000
         ORDER BY event_id, mts""")),

    // ---- streaming sessionization, batch-equivalence form: the SAME
    //      flatMapGroupsWithState operator behind sessionizeClosed runs
    //      here in batch mode (one group pass, empty initial state), so
    //      the oracle checks the real session-assembly code path against a
    //      DuckDB gaps-and-islands query. Only CLOSED sessions emit — each
    //      user's final session stays in state — and the oracle excludes
    //      each user's last session to match. Times compare as epoch ms:
    //      the state machine works on Timestamp.getTime (ms), while the
    //      raw event timestamps carry microseconds.
    Q("q_sessionize", (s, dir) => {
      import s.implicits._
      // explicit LTZ cast: the session maps the NAME "timestamp" to NTZ
      // (spark.sql.timestampType), which the java.sql.Timestamp encoder
      // rejects; session tz is UTC so the instant is unchanged
      val ev = T(s, dir, "events")
        .select(col("user_id").cast("long").as("user_id"), col("event_type"),
          col("ts").cast(org.apache.spark.sql.types.TimestampType).as("ts"),
          col("value").cast("double").as("value"))
        .as[graft.streaming.EventStream.Event]
      graft.streaming.EventStream.sessionizeClosed(ev, gapMs = 2L * 3600 * 1000)
        .toDF()
        .select(col("user_id"), unix_millis(col("started")).as("started_ms"),
          unix_millis(col("ended")).as("ended_ms"), col("events"))
        .orderBy("user_id", "started_ms")
    }, Sql("""WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
         m AS (SELECT user_id, tms,
                 CASE WHEN lag(tms) OVER (PARTITION BY user_id ORDER BY tms) IS NULL
                      OR tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms) > 7200000
                 THEN 1 ELSE 0 END AS ns
               FROM e),
         s AS (SELECT user_id, tms,
                 SUM(ns) OVER (PARTITION BY user_id ORDER BY tms
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM m),
         a AS (SELECT user_id, sid, MIN(tms) AS started_ms, MAX(tms) AS ended_ms,
                 COUNT(*) AS events
               FROM s GROUP BY user_id, sid),
         l AS (SELECT user_id, MAX(sid) AS mx FROM a GROUP BY user_id)
         SELECT a.user_id, a.started_ms, a.ended_ms, a.events
         FROM a JOIN l ON a.user_id = l.user_id AND a.sid < l.mx
         ORDER BY a.user_id, a.started_ms""")),

    // ---- fourth REAL Structured Streaming driver row: per-user
    //      sessionization through flatMapGroupsWithState (file source →
    //      closed-session state op → memory sink, Trigger.AvailableNow).
    //      A far-future end-of-stream SENTINEL event per user closes each
    //      user's final real session (append mode emits sessions only when
    //      a later-than-gap event arrives); the sentinel's own session
    //      never closes, so the emitted set is EXACTLY the full session
    //      list — which is what the oracle computes. Bounded fixture
    //      (the q_stream_neardup discipline): event_id < 20000 keeps
    //      every row at the sf0.01 gate scale.
    Q("q_stream_sessionize", (s, dir) => Materialize(s) { m =>
      import org.apache.spark.sql.types.TimestampType
      // sessions close on the SENTINEL events, never on timeouts
      // (NoTimeout FMGWS — no-data batches invoke nothing), so the
      // trailing no-data batch is skippable machinery. q_stream_trending
      // is the opposite case — its event-time timeouts FIRE in that
      // batch — and keeps the default.
      withConf(s, StreamShuffle, NoFinalBatch) {
      import s.implicits._
      val gapMs = 2L * 3600 * 1000
      val sentinelMs = 4102444800000L // 2100-01-01, past any fixture event
      val base = T(s, dir, "events")
        .filter(col("event_id") < 20000L)
        .select(col("user_id").cast("long").as("user_id"), col("event_type"),
          col("ts").cast(TimestampType).as("ts"),
          col("value").cast("double").as("value"))
      val sentinels = base.select("user_id").distinct()
        .withColumn("event_type", lit("__eos"))
        .withColumn("ts", timestamp_millis(lit(sentinelMs)))
        .withColumn("value", lit(0.0))
      val tmp = m.tempDir("graft_stream_sess")
      base.unionByName(sentinels).write.mode("overwrite").parquet(tmp)
      val src = s.readStream.schema(base.schema).parquet(tmp)
        .as[graft.streaming.EventStream.Event]
      val out = graft.streaming.EventStream
        .sessionizeClosed(src, gapMs).toDF()
        .filter(unix_millis(col("started")) < sentinelMs) // belt-and-braces
      val qname = "graft_stream_sess_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(col("user_id"), unix_millis(col("started")).as("started_ms"),
          unix_millis(col("ended")).as("ended_ms"), col("events"))
        .orderBy("user_id", "started_ms")
      }
    },
      // The streaming row's oracle is the SAME session construction over the
      // bounded fixture, WITHOUT the last-session exclusion: the per-user
      // sentinel closes every real session, so the stream emits all of them.
      Sql("""WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events
                  WHERE event_id < 20000),
         m AS (SELECT user_id, tms,
                 CASE WHEN lag(tms) OVER (PARTITION BY user_id ORDER BY tms) IS NULL
                      OR tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms) > 7200000
                 THEN 1 ELSE 0 END AS ns
               FROM e),
         s AS (SELECT user_id, tms,
                 SUM(ns) OVER (PARTITION BY user_id ORDER BY tms
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM m)
         SELECT user_id, MIN(tms) AS started_ms, MAX(tms) AS ended_ms,
           COUNT(*) AS events
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, started_ms""")),

    // ---- fifth REAL Structured Streaming driver row: windowed trending
    //      top-k through flatMapGroupsWithState with EVENT-TIME timeouts
    //      (file source → per-window count state → watermark-fired close →
    //      memory sink, Trigger.AvailableNow). One far-future sentinel
    //      event pushes the watermark past every real window end and the
    //      AvailableNow no-data final batch fires the timeouts, so every
    //      REAL window emits exactly once; the sentinel's own window never
    //      emits. The fixture is written as ONE parquet file — data split
    //      across source files could put the sentinel in an earlier
    //      micro-batch than real events, silently dropping them as late.
    //      Bounded fixture: event_id < 20000 (the q_stream_neardup
    //      discipline). Oracle: the q_trending SQL on the same slice.
    Q("q_stream_trending", (s, dir) => Materialize(s) { m =>
      import org.apache.spark.sql.types.TimestampType
      withConf(s, StreamShuffle) {
      import s.implicits._
      val winMs = 86400000L
      val sentinelMs = 4102444800000L // 2100-01-01, past any fixture event
      val base = T(s, dir, "events")
        .filter(col("event_id") < 20000L)
        .select(col("user_id").cast("long").as("user_id"), col("event_type"),
          col("ts").cast(TimestampType).as("ts"),
          col("value").cast("double").as("value"))
      val sentinel = Seq((0L, "__eos", 0.0)).toDF("user_id", "event_type", "value")
        .select(col("user_id"), col("event_type"),
          timestamp_millis(lit(sentinelMs)).as("ts"), col("value"))
      val tmp = m.tempDir("graft_stream_tr")
      base.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = s.readStream.schema(base.schema).parquet(tmp)
        .as[graft.streaming.EventStream.Event]
      val out = graft.streaming.EventStream.trendingClosed(src, winMs, k = 3)
        .toDF()
        .filter(unix_millis(col("window_start")) < sentinelMs)
      val qname = "graft_stream_tr_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(unix_millis(col("window_start")).as("w_ms"), col("item"),
          col("cnt"), col("rk"))
        .orderBy("w_ms", "rk")
      }
    }, Sql("""WITH e AS (
           SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                  * 86400000 AS w_ms, event_type
           FROM events WHERE event_id < 20000
         ), c AS (
           SELECT w_ms, event_type AS item, count(*) AS cnt FROM e GROUP BY 1, 2
         )
         SELECT w_ms, item, cnt,
           CAST(row_number() OVER (PARTITION BY w_ms
             ORDER BY cnt DESC, item ASC) AS INT) AS rk
         FROM c QUALIFY rk <= 3 ORDER BY w_ms, rk""")),

    // ---- sixth REAL Structured Streaming driver row: per-window value
    //      HISTOGRAM (complete equi-width bins, zeros included, shares)
    //      through the same window-keyed state + event-time-timeout
    //      machinery, closed by the far-future-sentinel + AvailableNow
    //      no-data batch. Oracle: bins 0..9 generated per window, counts
    //      left-joined, share = one double division of exact counts.
    Q("q_stream_histogram", (s, dir) => Materialize(s) { m =>
      import org.apache.spark.sql.types.TimestampType
      withConf(s, StreamShuffle) {
      import s.implicits._
      val winMs = 86400000L
      val sentinelMs = 4102444800000L
      val base = T(s, dir, "events")
        .filter(col("event_id") < 20000L)
        .select(col("user_id").cast("long").as("user_id"), col("event_type"),
          col("ts").cast(TimestampType).as("ts"),
          col("value").cast("double").as("value"))
      val sentinel = Seq((0L, "__eos", 0.0)).toDF("user_id", "event_type", "value")
        .select(col("user_id"), col("event_type"),
          timestamp_millis(lit(sentinelMs)).as("ts"), col("value"))
      val tmp = m.tempDir("graft_stream_hg")
      base.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = s.readStream.schema(base.schema).parquet(tmp)
        .as[graft.streaming.EventStream.Event]
      val out = graft.streaming.EventStream
        .histogramClosed(src, winMs, lo = 0.0, hi = 100.0, nBins = 10)
        .toDF()
        .filter(unix_millis(col("window_start")) < sentinelMs)
      val qname = "graft_stream_hg_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(unix_millis(col("window_start")).as("w_ms"), col("bin"),
          col("cnt"), col("share"))
        .orderBy("w_ms", "bin")
      }
    }, Sql("""WITH e AS (
           SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                  * 86400000 AS w_ms,
             CAST(least(9, greatest(0,
               floor((value - CAST(0.0 AS DOUBLE))
                     / CAST(100.0 AS DOUBLE) * 10))) AS INT) AS bin
           FROM events WHERE event_id < 20000
         ), tot AS (
           SELECT w_ms, count(*) AS total FROM e GROUP BY 1
         ), c AS (
           SELECT w_ms, bin, count(*) AS cnt FROM e GROUP BY 1, 2
         ), g AS (
           SELECT tot.w_ms AS w_ms, unnest(generate_series(0, 9)) AS bin
           FROM tot
         )
         SELECT g.w_ms AS w_ms, CAST(g.bin AS INT) AS bin,
           COALESCE(cnt, 0) AS cnt,
           CAST(COALESCE(cnt, 0) AS DOUBLE) / CAST(total AS DOUBLE) AS share
         FROM g LEFT JOIN c ON g.w_ms = c.w_ms AND g.bin = c.bin
              JOIN tot ON g.w_ms = tot.w_ms
         ORDER BY 1, 2"""))
  )
}
