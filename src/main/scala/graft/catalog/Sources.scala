package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import graft.functions.WarpAggregates.dsum
import graft.pipeline.Materialize
import Shared._

/** Sources and sinks: file-format and database round-trips, crawl/HTTP
  * plumbing, and the warehouse (mutation, compaction, clustering, time
  * travel). */
object Sources {
  val queries: Seq[Q] = Seq(
    // ---- CSV sink + source round-trip (CSVStream.swift:19-181,
    //      QBECSVStep.swift:135): write with the reference's formatting,
    //      read back with header dedup + locale parse + type inference
    Q("q_csv_roundtrip", (s, dir) => {
      // the export is a session fixture (the q_dbf_roundtrip recipe): the
      // bench then measures the READ + type-inference path, which is the
      // operator; the write ran once and is timed by its first invocation
      val out = fixtureDir(s, dir, "customer", "csv")(
        graft.sources.CsvSource.write(T(s, dir, "customer"), _))
      val back = graft.sources.CsvSource.inferTyped(
        graft.sources.CsvSource.read(s, out))
      back.select(
        col("c_custkey").cast("long").as("c_custkey"),
        col("c_name"),
        col("c_nationkey").cast("long").as("c_nationkey"),
        col("c_acctbal").cast("double").as("c_acctbal"),
        col("c_mktsegment"))
        .orderBy("c_custkey")
    }, Sql("""SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
         c_acctbal, c_mktsegment FROM customer ORDER BY c_custkey""")),

    // ---- JSON sink + source round-trip with shape detection
    //      (JSONStream.swift:16-168)
    Q("q_json_roundtrip", (s, dir) => {
      val out = fixtureDir(s, dir, "supplier", "json")(graft.sources.JsonSource.write(
        T(s, dir, "supplier").selectColumns(Seq("s_suppkey", "s_name", "s_nationkey")), _))
      graft.sources.JsonSource.read(s, out)
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("long").as("s_nationkey"))
        .orderBy("s_suppkey")
    }, Sql("""SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey
         FROM supplier ORDER BY s_suppkey""")),

    // ---- DBF roundtrip (reference reader DBFStream.swift:132, writer
    //      QBEDBFStep.swift): single-file dBase III export then re-read;
    //      column names shortened to DBF's 10-char limit
    Q("q_dbf_roundtrip", (s, dir) => {
      val sup = T(s, dir, "supplier").select(
        col("s_suppkey").as("suppkey"), col("s_name").as("name"),
        col("s_acctbal").as("acctbal"), col("s_nationkey").as("nation"))
      // the export is a session fixture like the similarity indexes: the
      // write runs driver-side at plan-build time, so a per-call export
      // would charge every bench iteration a full file re-write
      val path = fixtureDir(s, dir, "supplier", "dbf")(d =>
        graft.sources.DbfSource.write(sup, s"$d/supplier.dbf")) + "/supplier.dbf"
      graft.sources.DbfSource.read(s, path).orderBy("suppkey")
    }, Sql("""SELECT s_suppkey AS suppkey, s_name AS name,
         s_acctbal AS acctbal, s_nationkey AS nation
         FROM supplier ORDER BY suppkey""")),

    // ---- Avro roundtrip (beyond-reference row-format ingestion): export
    //      events once per session as per-partition containers,
    //      read back distributed (one task per file) with a filter —
    //      timestamps travel as local-timestamp-micros logical type
    Q("q_avro_roundtrip", (s, dir) => {
      val ev = T(s, dir, "events")
        .selectColumns(Seq("event_id", "ts", "user_id", "event_type", "value"))
      val path = fixtureDir(s, dir, "events", "avro")(graft.sources.AvroSource.write(ev, _))
      graft.sources.AvroSource.read(s, path)
        .warpFilter(col("event_type") === "click")
        .selectColumns(Seq("event_id", "user_id", "value", "ts"))
        .warpSort(Seq(Order(col("event_id"))))
    }, Sql("""SELECT event_id, user_id, value, ts FROM events
         WHERE event_type = 'click' ORDER BY event_id""")),

    // ---- ORC roundtrip (beyond-reference columnar interchange): export
    //      customer once per session, read back with a filtered
    //      projection — pushdown into the ORC scan pinned in PlanAuditSpec
    Q("q_orc_roundtrip", (s, dir) => {
      val cust = T(s, dir, "customer")
      val path = fixtureDir(s, dir, "customer", "orc")(graft.sources.OrcSource.write(cust, _))
      graft.sources.OrcSource.read(s, path)
        .warpFilter(col("c_mktsegment") === "BUILDING")
        .selectColumns(Seq("c_custkey", "c_name", "c_acctbal"))
        .warpSort(Seq(Order(col("c_custkey"))))
    }, Sql("""SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""")),

    // ---- JDBC roundtrip through embedded Derby (in-process, serverless):
    //      batched-insert sink -> dialect type mapping (BIGINT/CLOB/DOUBLE)
    //      -> JDBC scan back. Proves the same relation/sink code path the
    //      server engines (PG/MySQL) use, end-to-end against a real DB
    Q("q_jdbc_roundtrip", (s, dir) => {
      val sup = T(s, dir, "supplier")
        .selectColumns(Seq("s_suppkey", "s_name", "s_acctbal", "s_nationkey"))
      val db = s"${Materialize.session(s).tempDir("derby")}/db"
      graft.sources.JdbcSource.derbyWrite(sup, db, "supplier_rt")
      graft.sources.JdbcSource.derby(s, db, "supplier_rt")
        .orderBy("s_suppkey")
    }, Sql("""SELECT s_suppkey, s_name, s_acctbal, s_nationkey
         FROM supplier ORDER BY s_suppkey""")),

    // ---- LIVE PostgreSQL roundtrip over the pure-JVM wire-protocol
    //      client (sources/PgWire.scala, protocol v3 — no JDBC jar): the
    //      entry provisions a throwaway local cluster (initdb + pg_ctl,
    //      trust auth), bulk-loads nation via COPY FROM STDIN, and reads
    //      it back with the PARTITIONED executor-side scan (one wire
    //      connection per task). Oracle = the source rows from parquet.
    //      Reference connector: PostgresStream.swift:916.
    Q("q_pg_roundtrip", (s, dir) => {
      val pg = graft.sources.PgWire
      val conn = pg.ensureLocalServer()
      val nat = T(s, dir, "nation")
        .selectColumns(Seq("n_nationkey", "n_name", "n_regionkey"))
      val tbl = s"nation_rt_$dir".replaceAll("[^A-Za-z0-9_]", "_")
      pg.writeTable(nat, conn, tbl)
      pg.read(s, conn, tbl, "n_nationkey", numPartitions = 4)
        .orderBy("n_nationkey")
    }, Sql("""SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""")),

    // ---- RANGE-partitioned live-PG read (the INDEXABLE partitioned-scan
    //      shape: n disjoint `key >= lo AND key < hi` slices instead of n
    //      full `mod(hashtext)` scans) over a table loaded by the STAGED
    //      exactly-once distributed COPY (per-partition stage tables
    //      promoted in one transaction). Oracle = the source rows — so
    //      this row pins range-read == hash-read == parquet truth.
    Q("q_pg_range_read", (s, dir) => {
      val pg = graft.sources.PgWire
      val conn = pg.ensureLocalServer()
      val sup = T(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("s_suppkey"),
          col("s_name").cast("string").as("s_name"),
          col("s_nationkey").cast("long").as("s_nationkey"),
          col("s_acctbal").cast("double").as("s_acctbal"))
      val tbl = s"supplier_rr_$dir".replaceAll("[^A-Za-z0-9_]", "_")
      pg.writeTableDistributed(sup.repartition(3), conn, tbl)
      pg.readRange(s, conn, tbl, "s_suppkey", numPartitions = 4)
        .orderBy("s_suppkey")
    }, Sql("""SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
           CAST(s_nationkey AS BIGINT) AS s_nationkey,
           CAST(s_acctbal AS DOUBLE) AS s_acctbal
         FROM supplier ORDER BY s_suppkey""")),

    // ---- SQLite FILE roundtrip through the pure-JVM on-disk-format
    //      reader/writer (sources/SqliteFile.scala — the driver-less
    //      answer to the reference's libsqlite3 source/sink): write a
    //      real .sqlite b-tree file, read it back with the partitioned
    //      leaf-page scan, oracle = the source rows straight from parquet
    Q("q_sqlite_roundtrip", (s, dir) => {
      val ord = T(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_orderstatus").cast("string").as("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
      val path = s"${Materialize.session(s).tempDir("sqlite")}/orders.sqlite"
      graft.sources.SqliteFile.write(ord, path, "orders_rt")
      graft.sources.SqliteFile.read(s, path, "orders_rt")
        .orderBy("o_orderkey")
    }, Sql("""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
         FROM orders ORDER BY o_orderkey""")),

    // ---- index-backed KEYED read (r13): the same orders table written
    //      WITH a single-column index b-tree on o_custkey (leaf type 10 /
    //      interior type 2, spec-shaped — real SQLite integrity_checks
    //      and query-plans through it, pinned in SqliteFileSpec); the
    //      read seeks rowids through the index (log-depth page touches
    //      per key) and point-reads the table b-tree — the pushdown
    //      posture of the reference's database connectors
    //      (SQLiteStream.swift:238). Oracle = the equivalent IN-filter
    //      over the source parquet.
    Q("q_sqlite_index_read", (s, dir) => {
      val ord = T(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
      val path = s"${Materialize.session(s).tempDir("sqlite_idx")}/orders.sqlite"
      graft.sources.SqliteFile.writeTablesIndexed(
        Seq(("orders_ix", ord, Seq("o_custkey"))), path)
      graft.sources.SqliteFile.readIndexed(s, path, "orders_ix", "o_custkey",
          Seq(1L, 7L, 13L, 25L))
        .orderBy("o_orderkey")
    }, Sql("""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
         FROM orders WHERE o_custkey IN (1, 7, 13, 25)
         ORDER BY o_orderkey""")),

    // ---- COMPOSITE-key index read from the pure-JVM SQLite writer: a
    //      real two-column index b-tree on (o_custkey, o_orderstatus)
    //      (key-columns-plus-rowid records, promoted separators), range-
    //      read over a LEXICOGRAPHIC tuple window — the keyed pushdown
    //      shape of the reference's mutable connectors
    //      (MutableData.swift:124-196). Oracle replays the window with
    //      DuckDB row-value comparisons on the source parquet.
    Q("q_sqlite_composite_read", (s, dir) => {
      val ord = T(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_orderstatus").cast("string").as("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
      val path = s"${Materialize.session(s).tempDir("sqlite_cidx")}/orders.sqlite"
      graft.sources.SqliteFile.writeTablesIndexedMulti(
        Seq(("orders_cx", ord, Seq(Seq("o_custkey", "o_orderstatus")))), path)
      graft.sources.SqliteFile.readIndexedRangeMulti(s, path, "orders_cx",
          Seq("o_custkey", "o_orderstatus"),
          Seq(10L, "O"), Seq(20L, "F"))
        .orderBy("o_orderkey")
    }, Sql("""SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
         FROM orders
         WHERE (o_custkey > 10 OR (o_custkey = 10 AND o_orderstatus >= 'O'))
           AND (o_custkey < 20 OR (o_custkey = 20 AND o_orderstatus <= 'F'))
         ORDER BY o_orderkey""")),

    // ---- WITHOUT ROWID roundtrip: the table IS a clustered-PK index
    //      b-tree (spec §2.2 — PK columns lead each record, no rowid,
    //      schema format 4); written by our streaming builder with
    //      spill-sorted PK order + overflow chains, read back by our
    //      index-tree reader. Real SQLite interop pinned in
    //      SqliteFileSpec; oracle = the source rows.
    Q("q_sqlite_worowid", (s, dir) => {
      val cust = T(s, dir, "customer")
        .select(col("c_name").cast("string").as("c_name"),
          col("c_custkey").cast("long").as("c_custkey"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          col("c_acctbal").cast("double").as("c_acctbal"))
      val path = s"${Materialize.session(s).tempDir("sqlite_worowid")}/customer.sqlite"
      graft.sources.SqliteFile.writeTablesWithoutRowid(
        Seq(("customer_wr", cust, Seq("c_custkey"))), path)
      graft.sources.SqliteFile.read(s, path, "customer_wr")
        .orderBy("c_custkey")
    }, Sql("""SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
           CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal
         FROM customer ORDER BY c_custkey""")),

    // ---- crawl step plumbing (QBECrawlStep.swift:16-60,232): bounded
    //      concurrency + rate cap are real; the fetcher is the offline
    //      deterministic stub (md5 of the url), so the oracle can verify
    Q("q_crawl", (s, dir) => {
      val urls = T(s, dir, "region")
        .calculate(Seq("url" -> concat(lit("https://example.invalid/r/"), col("r_regionkey"))))
        .selectColumns(Seq("r_regionkey", "url"))
      graft.sources.Crawl.crawl(urls, "url")
        .selectColumns(Seq("r_regionkey", "url", "crawl_status", "crawl_body"))
        .warpSort(Seq(Order(col("r_regionkey"))))
    }, Sql("""SELECT r_regionkey, 'https://example.invalid/r/' || r_regionkey AS url,
         200 AS crawl_status,
         'stub:' || md5('https://example.invalid/r/' || r_regionkey) AS crawl_body
         FROM region ORDER BY r_regionkey""")),

    // ---- HTTP source (QBEHTTPStep.swift:73): one URL -> one-row table,
    //      riding the crawl machinery's deterministic offline stub (the
    //      same fetcher a real deployment swaps for an HTTP client);
    //      crawl_error/crawl_time dropped (null / wall-clock)
    Q("q_http_source", (s, dir) => {
      graft.sources.HttpSource.read(s, "https://example.invalid/doc/42")
        .selectColumns(Seq("url", "crawl_status", "crawl_body"))
    }, Sql("""SELECT 'https://example.invalid/doc/42' AS url, 200 AS crawl_status,
         'stub:' || md5('https://example.invalid/doc/42') AS crawl_body""")),

    // ---- warehouse mutation battery (MutableData.swift:40-196): create →
    //      insert (schema-aligned, missing column -> null) → keyed update
    //      (null-safe match) → keyed delete, then read the surviving table.
    //      Oracle = the equivalent DuckDB UPDATE/DELETE algebra.
    Q("q_warehouse_mutate", (s, dir) => {
      val root = Materialize.session(s).tempDir("wh")
      val wh = new graft.sources.ParquetWarehouse(s, root)
      wh.create("nation_mut",
        T(s, dir, "nation").calculate(Seq("flag" -> lit("old"))))
      // insert: 5 re-keyed rows; 'flag' is absent from the insert -> null
      wh.insert("nation_mut", T(s, dir, "nation")
        .warpFilter(col("n_nationkey") < 5)
        .calculate(Seq("n_nationkey" -> (col("n_nationkey") + 100)))
        .selectColumns(Seq("n_nationkey", "n_name", "n_regionkey")))
      // keyed update: region-2 rows flip flag old -> new (inserted rows
      // have flag null, which must NOT match 'old' — null-safe semantics)
      wh.update("nation_mut", Map("n_regionkey" -> 2), "flag", "old", "new")
      // keyed delete: nations 1 and 2 removed
      wh.deleteRows("nation_mut", Seq(Map("n_nationkey" -> 1), Map("n_nationkey" -> 2)))
      wh.read("nation_mut").orderBy("n_nationkey")
    }, Sql("""WITH base AS (
           SELECT n_nationkey, n_name, n_regionkey, 'old' AS flag FROM nation
           UNION ALL
           SELECT n_nationkey + 100, n_name, n_regionkey, NULL FROM nation
           WHERE n_nationkey < 5
         ), upd AS (
           SELECT n_nationkey, n_name, n_regionkey,
             CASE WHEN n_regionkey = 2 AND flag = 'old' THEN 'new' ELSE flag END AS flag
           FROM base
         )
         SELECT n_nationkey, n_name, n_regionkey, flag FROM upd
         WHERE n_nationkey NOT IN (1, 2) ORDER BY n_nationkey""")),

    // ---- warehouse COMPACTION: a fragmented append-heavy table (64
    //      part-files) coalesced to target-size files via the staging
    //      swap; file budget from filesystem metadata, no table scan.
    //      The read-back aggregate proves rows survive byte-identical.
    Q("q_compact", (s, dir) => {
      val root = Materialize.session(s).tempDir("whc")
      val wh = new graft.sources.ParquetWarehouse(s, root)
      wh.create("ord_frag", T(s, dir, "orders").repartition(64))
      wh.compact("ord_frag", targetBytes = 256L << 20)
      val nf = wh.fileCount("ord_frag")
      require(nf <= 4, s"compaction left $nf files")
      wh.read("ord_frag")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }, Sql("""SELECT o_orderstatus, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- warehouse range-CLUSTERED rewrite + pruned probe: lineitem
    //      scattered across files, then clusterBy(l_orderkey) —
    //      repartitionByRange + in-file sort gives each parquet file a
    //      disjoint key range, so the probe's pushed filter skips every
    //      row group outside [1000,2000). The clustered table is a session
    //      fixture (the index recipe): the PROBE is the measured path.
    Q("q_cluster_prune", (s, dir) => {
      val root = fixtureDir(s, dir, "lineitem", "li_clu") { root =>
        val wh = new graft.sources.ParquetWarehouse(s, root)
        wh.create("li_clu", T(s, dir, "lineitem")
          .selectColumns(Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"))
          .repartition(16))
        wh.clusterBy("li_clu", Seq("l_orderkey"), targetBytes = 1L << 20)
      }
      new graft.sources.ParquetWarehouse(s, root).read("li_clu")
        .warpFilter(col("l_orderkey") >= 1000 && col("l_orderkey") < 2000)
        .agg(count(lit(1)).as("n"),
             dsum(col("l_quantity")).as("sum_qty"),
             dsum(col("l_extendedprice")).as("sum_price"))
    }, Sql("""SELECT count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
         FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 2000""")),

    // ---- 2-D Hilbert-curve clustering + probe on the SECOND dimension:
    //      a 1-D sort would leave l_suppkey full-width per file; the
    //      curve layout tightens both footers. The clustered table is a
    //      session fixture; the probe is the measured path.
    Q("q_curve_prune", (s, dir) => {
      val root = fixtureDir(s, dir, "lineitem", "li_curve") { root =>
        val wh = new graft.sources.ParquetWarehouse(s, root)
        wh.create("li_curve", T(s, dir, "lineitem")
          .selectColumns(Seq("l_orderkey", "l_suppkey", "l_quantity"))
          .repartition(16))
        wh.clusterByCurve("li_curve", "l_orderkey", "l_suppkey",
          order = 12, targetBytes = 1L << 20)
      }
      new graft.sources.ParquetWarehouse(s, root).read("li_curve")
        .warpFilter(col("l_suppkey") < 20 && col("l_orderkey") < 30000)
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }, Sql("""SELECT count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_suppkey < 20 AND l_orderkey < 30000""")),

    // ---- keyed diff of two table versions: added / removed / changed
    //      classification from ONE full-outer join
    Q("q_table_diff", (s, dir) => {
      val root = Materialize.session(s).tempDir("whd")
      val wh = new graft.sources.ParquetWarehouse(s, root)
      val nation = T(s, dir, "nation")
        .selectColumns(Seq("n_nationkey", "n_name", "n_regionkey"))
      wh.create("nat_old", nation)
      wh.create("nat_new", nation
        .warpFilter(!col("n_nationkey").isin(1, 2))
        .calculate(Seq("n_name" -> when(col("n_regionkey") === 2,
          concat(col("n_name"), lit("_X"))).otherwise(col("n_name"))))
        .warpUnion(nation.warpFilter(col("n_nationkey") < 3)
          .calculate(Seq("n_nationkey" -> (col("n_nationkey") + 900)))))
      wh.diffTables("nat_old", "nat_new", Seq("n_nationkey"))
        .orderBy("n_nationkey")
    }, Sql("""WITH oldt AS (
           SELECT n_nationkey, n_name, n_regionkey FROM nation),
         newt AS (
           SELECT n_nationkey,
             CASE WHEN n_regionkey = 2 THEN n_name || '_X' ELSE n_name END AS n_name,
             n_regionkey
           FROM nation WHERE n_nationkey NOT IN (1, 2)
           UNION ALL
           SELECT n_nationkey + 900, n_name, n_regionkey FROM nation
           WHERE n_nationkey < 3)
         SELECT coalesce(o.n_nationkey, n.n_nationkey) AS n_nationkey,
           CASE WHEN o.n_nationkey IS NULL THEN 'added'
                WHEN n.n_nationkey IS NULL THEN 'removed'
                WHEN o.n_name IS DISTINCT FROM n.n_name
                  OR o.n_regionkey IS DISTINCT FROM n.n_regionkey THEN 'changed'
           END AS diff_kind
         FROM oldt o FULL OUTER JOIN newt n ON o.n_nationkey = n.n_nationkey
         WHERE CASE WHEN o.n_nationkey IS NULL THEN 'added'
                    WHEN n.n_nationkey IS NULL THEN 'removed'
                    WHEN o.n_name IS DISTINCT FROM n.n_name
                      OR o.n_regionkey IS DISTINCT FROM n.n_regionkey THEN 'changed'
               END IS NOT NULL
         ORDER BY n_nationkey""")),

    // ---- warehouse MERGE (upsert): nations 0-9 get re-priced rows, 900+
    //      are brand-new — one anti-join + union rewrite
    Q("q_warehouse_merge", (s, dir) => {
      val root = Materialize.session(s).tempDir("whm")
      val wh = new graft.sources.ParquetWarehouse(s, root)
      wh.create("nation_m", T(s, dir, "nation")
        .selectColumns(Seq("n_nationkey", "n_name", "n_regionkey")))
      val updates = T(s, dir, "nation").warpFilter(col("n_nationkey") < 10)
        .calculate(Seq("n_name" -> concat(col("n_name"), lit("_V2"))))
        .warpUnion(T(s, dir, "nation").warpFilter(col("n_nationkey") < 3)
          .calculate(Seq("n_nationkey" -> (col("n_nationkey") + 900))))
      wh.merge("nation_m", updates, Seq("n_nationkey"))
      wh.read("nation_m").orderBy("n_nationkey")
    }, Sql("""WITH upd AS (
           SELECT n_nationkey, n_name || '_V2' AS n_name, n_regionkey
           FROM nation WHERE n_nationkey < 10
           UNION ALL
           SELECT n_nationkey + 900, n_name, n_regionkey
           FROM nation WHERE n_nationkey < 3
         )
         SELECT n_nationkey, n_name, n_regionkey FROM nation
         WHERE n_nationkey NOT IN (SELECT n_nationkey FROM upd)
         UNION ALL
         SELECT n_nationkey, n_name, n_regionkey FROM upd
         ORDER BY n_nationkey""")),

    // ---- SCD Type 2 dimension maintenance: init at t=100, two change
    //      batches at t=200/300 covering every case — attribute change
    //      (close + new version), brand-new key, genuine no-op (identical
    //      attrs -> NO version), and a second change to a key first seen
    //      in batch 1. The oracle reconstructs the full version history
    //      independently from the base table
    Q("q_warehouse_scd2", (s, dir) => {
      val root = Materialize.session(s).tempDir("whscd")
      val wh = new graft.sources.ParquetWarehouse(s, root)
      val base = T(s, dir, "nation")
        .selectColumns(Seq("n_nationkey", "n_name", "n_regionkey"))
      wh.scd2Init("dim", base, 100L)
      val batch1 = base.warpFilter(col("n_nationkey") < 10)
          .calculate(Seq("n_name" -> concat(col("n_name"), lit("_V2"))))
        .warpUnion(base.warpFilter(col("n_nationkey") < 3)
          .calculate(Seq("n_nationkey" -> (col("n_nationkey") + 900))))
        .warpUnion(base.warpFilter(
          col("n_nationkey") >= 10 && col("n_nationkey") < 15)) // no-ops
      wh.scd2Apply("dim", batch1, Seq("n_nationkey"), 200L)
      val batch2 = base.warpFilter(col("n_nationkey") < 5)
          .calculate(Seq("n_name" -> concat(col("n_name"), lit("_V3"))))
        .warpUnion(base.warpFilter(col("n_nationkey") < 1)
          .calculate(Seq("n_nationkey" -> (col("n_nationkey") + 900),
                         "n_regionkey" -> (col("n_regionkey") + 1))))
      wh.scd2Apply("dim", batch2, Seq("n_nationkey"), 300L)
      wh.read("dim").orderBy("n_nationkey", "valid_from")
    },
      // full SCD2 version history reconstructed independently: v1 = init,
      // v2/v3 = the change batches, n1/n2 = the batch-introduced keys;
      // no-op batch rows (keys 10-14 resent unchanged) must produce NO rows
      Sql("""WITH base AS (
           SELECT n_nationkey, n_name, n_regionkey FROM nation
         ), v1 AS (
           SELECT n_nationkey, n_name, n_regionkey,
             CAST(100 AS BIGINT) AS valid_from,
             CAST(CASE WHEN n_nationkey < 10 THEN 200 END AS BIGINT) AS valid_to,
             n_nationkey >= 10 AS is_current
           FROM base
         ), v2 AS (
           SELECT n_nationkey, n_name || '_V2' AS n_name, n_regionkey,
             CAST(200 AS BIGINT) AS valid_from,
             CAST(CASE WHEN n_nationkey < 5 THEN 300 END AS BIGINT) AS valid_to,
             n_nationkey >= 5 AS is_current
           FROM base WHERE n_nationkey < 10
         ), v3 AS (
           SELECT n_nationkey, n_name || '_V3' AS n_name, n_regionkey,
             CAST(300 AS BIGINT) AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to, true AS is_current
           FROM base WHERE n_nationkey < 5
         ), n1 AS (
           SELECT n_nationkey + 900 AS n_nationkey, n_name, n_regionkey,
             CAST(200 AS BIGINT) AS valid_from,
             CAST(CASE WHEN n_nationkey = 0 THEN 300 END AS BIGINT) AS valid_to,
             n_nationkey <> 0 AS is_current
           FROM base WHERE n_nationkey < 3
         ), n2 AS (
           SELECT n_nationkey + 900 AS n_nationkey, n_name,
             n_regionkey + 1 AS n_regionkey,
             CAST(300 AS BIGINT) AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to, true AS is_current
           FROM base WHERE n_nationkey < 1
         )
         SELECT * FROM v1
         UNION ALL SELECT * FROM v2
         UNION ALL SELECT * FROM v3
         UNION ALL SELECT * FROM n1
         UNION ALL SELECT * FROM n2
         ORDER BY n_nationkey, valid_from""")),

    // ---- warehouse ANALYZE: per-column row/null/NDV/min/max stats — the
    //      stats surface pruning and join planning feed from
    Q("q_warehouse_stats", (s, dir) => {
      val root = Materialize.session(s).tempDir("whst")
      val wh = new graft.sources.ParquetWarehouse(s, root)
      wh.create("cust_s", T(s, dir, "customer").selectColumns(
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")))
      wh.analyze("cust_s").orderBy("col_name")
    }, Sql("""SELECT 'c_custkey' AS col_name, count(*) AS n_rows,
           count(*) - count(c_custkey) AS n_nulls,
           count(DISTINCT c_custkey) AS ndv,
           CAST(min(c_custkey) AS VARCHAR) AS min_val,
           CAST(max(c_custkey) AS VARCHAR) AS max_val FROM customer
         UNION ALL
         SELECT 'c_name', count(*), count(*) - count(c_name),
           count(DISTINCT c_name),
           CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR)
         FROM customer
         UNION ALL
         SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey),
           count(DISTINCT c_nationkey),
           CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
         FROM customer
         UNION ALL
         SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
           count(DISTINCT c_mktsegment),
           CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR)
         FROM customer
         ORDER BY col_name""")),

    // ---- XML sink + source round-trip (QBEXMLStep.swift:41-110): write
    //      the grid document, read it back (header dedup, empty -> null)
    Q("q_xml_roundtrip", (s, dir) => {
      val out = fixtureDir(s, dir, "region", "xml")(d =>
        graft.sources.XmlSource.write(T(s, dir, "region"), s"$d/region.xml")) + "/region.xml"
      graft.sources.XmlSource.read(s, out)
        .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey")
    }, Sql("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // ---- warehouse TIME TRAVEL: every mutation retires the pre-state
    //      into the version history (rewrites by rename — zero extra
    //      bytes; appends by hard link — metadata only). The row gates
    //      readVersion at each point of a 3-version timeline plus the
    //      cross-version diff — dataset reproducibility, the thing a
    //      100 TB training pipeline needs from its corpus store.
    Q("q_time_travel", (s, dir) => {
      val root = Materialize.session(s).tempDir("whv")
      val wh = new graft.sources.ParquetWarehouse(s, root)
      wh.create("nation_v",
        T(s, dir, "nation").calculate(Seq("flag" -> lit("old"))))
      wh.update("nation_v", Map("n_regionkey" -> 2), "flag", "old", "new")
      wh.deleteRows("nation_v",
        Seq(Map("n_nationkey" -> 1), Map("n_nationkey" -> 2)))
      val sigs = (1 to 3).map { v =>
        wh.readVersion("nation_v", v)
          .agg(count(lit(1)).as("n"),
            count(when(col("flag") === "new", 1)).as("n_new"))
          .withColumn("tag", lit(s"v$v"))
      }.reduce(_ unionByName _)
      val diff = wh.diffVersions("nation_v", 1, 3, Seq("n_nationkey"))
        .groupBy(concat(lit("diff_"), col("diff_kind")).as("tag"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_new", lit(0L))
      sigs.select("tag", "n", "n_new")
        .unionByName(diff.select("tag", "n", "n_new"))
        .orderBy("tag")
    }, Sql("""WITH v1 AS (
           SELECT n_nationkey, n_name, n_regionkey, 'old' AS flag FROM nation),
         v2 AS (
           SELECT n_nationkey, n_name, n_regionkey,
             CASE WHEN n_regionkey = 2 THEN 'new' ELSE 'old' END AS flag
           FROM v1),
         v3 AS (SELECT * FROM v2 WHERE n_nationkey NOT IN (1, 2)),
         sigs AS (
           SELECT 'v1' AS tag, count(*) AS n,
             count(CASE WHEN flag = 'new' THEN 1 END) AS n_new FROM v1
           UNION ALL
           SELECT 'v2', count(*),
             count(CASE WHEN flag = 'new' THEN 1 END) FROM v2
           UNION ALL
           SELECT 'v3', count(*),
             count(CASE WHEN flag = 'new' THEN 1 END) FROM v3),
         d AS (
           SELECT 'diff_changed' AS tag, count(*) AS n,
             CAST(0 AS BIGINT) AS n_new
           FROM v1 JOIN v3 ON v1.n_nationkey = v3.n_nationkey
           WHERE v1.flag <> v3.flag OR v1.n_name <> v3.n_name
              OR v1.n_regionkey <> v3.n_regionkey
           UNION ALL
           SELECT 'diff_removed', count(*), CAST(0 AS BIGINT)
           FROM v1 WHERE n_nationkey NOT IN (SELECT n_nationkey FROM v3))
         SELECT tag, n, n_new FROM sigs
         UNION ALL SELECT tag, n, n_new FROM d
         ORDER BY tag"""))
  )
}
