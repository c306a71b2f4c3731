package graft
package catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.WarpOps._
import graft.functions.WarpAggregates.{davg, dsum}
import graft.sources.Sequencer
import Shared._

/** Warp's core relational operators (Data.swift) and the QBE steps:
  * filter, calculate, sort, join, pivot, rank, explode, sequencers
  * (SURVEY.md §2.1). */
object Relational {
  val queries: Seq[Q] = Seq(
    // ---- aggregate (Data.swift:260-263): grouped agg with computed measures
    Q("q1_agg", (s, dir) => {
      val l = T(s, dir, "lineitem")
      l.warpFilter(col("l_shipdate") <= lit("1998-09-02 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Sql("""SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    // ---- calculate (Data.swift:221-230): derived column, then filter + sort
    Q("q_calc_filter", (s, dir) => {
      T(s, dir, "lineitem")
        .calculate(Seq("revenue" -> col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .warpFilter(col("l_discount") >= 0.05 && col("l_quantity") < 10)
        .selectColumns(Seq("l_orderkey", "l_linenumber", "revenue"))
        .warpSort(Seq(Order(col("l_orderkey")), Order(col("l_linenumber"))))
    }, Sql("""SELECT l_orderkey, l_linenumber, l_extendedprice*(1.0-l_discount) AS revenue
         FROM lineitem WHERE l_discount >= 0.05 AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber""")),

    // ---- calculate snapshot semantics: all exprs see the PRE-update row
    Q("q_calc_snapshot", (s, dir) => {
      T(s, dir, "lineitem")
        .calculate(Seq(
          "l_quantity" -> (col("l_quantity") * 2),
          "qty_plus" -> (col("l_quantity") + lit(1.0))))
        .selectColumns(Seq("l_orderkey", "l_linenumber", "l_quantity", "qty_plus"))
        .warpSort(Seq(Order(col("l_orderkey")), Order(col("l_linenumber"))))
    }, Sql("""SELECT l_orderkey, l_linenumber, l_quantity*2 AS l_quantity, l_quantity+1.0 AS qty_plus
         FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // ---- selectColumns + limit + offset (Data.swift:232-238,256-258)
    Q("q_limit_offset", (s, dir) => {
      T(s, dir, "orders")
        .warpSort(Seq(Order(col("o_orderkey"))))
        .selectColumns(Seq("o_orderkey", "o_totalprice", "O_ORDERPRIORITY"))
        .offset(10).limit(100)
    }, Sql("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
         ORDER BY o_orderkey LIMIT 100 OFFSET 10""")),

    // ---- sort: multi-key, string + numeric-desc collation (Data.swift:81-111)
    Q("q_sort", (s, dir) => {
      T(s, dir, "lineitem")
        .selectColumns(Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"))
        .warpSort(Seq(
          Order(col("l_returnflag"), ascending = true, numeric = false),
          Order(col("l_quantity"), ascending = false),
          Order(col("l_orderkey")), Order(col("l_linenumber"))))
    }, Sql("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
         ORDER BY l_returnflag, l_quantity DESC, l_orderkey, l_linenumber""")),

    // ---- distinct (Data.swift:245-246)
    Q("q_distinct", (s, dir) => {
      T(s, dir, "lineitem")
        .selectColumns(Seq("l_returnflag", "l_linestatus"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    }, Sql("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""")),

    // ---- unique: distinct values of one expression (Data.swift:252-254)
    Q("q_unique", (s, dir) =>
      T(s, dir, "part").unique(col("p_brand"), "p_brand").orderBy("p_brand"), Sql("SELECT DISTINCT p_brand FROM part ORDER BY p_brand")),

    // ---- union by name, union-of-schemas (Data.swift:300-304)
    Q("q_union", (s, dir) => {
      val c = T(s, dir, "customer").select(
        col("c_name").as("name"), col("c_acctbal").as("acctbal"), lit("customer").as("kind"))
      val su = T(s, dir, "supplier").select(
        col("s_name").as("name"), lit("supplier").as("kind"))
      c.warpUnion(su).orderBy("kind", "name")
    }, Sql("""SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
         UNION ALL BY NAME
         SELECT s_name AS name, 'supplier' AS kind FROM supplier
         ORDER BY kind, name""")),

    // ---- join inner: equi-extraction, shuffle join at scale (Data.swift:113-145)
    Q("q_join_inner", (s, dir) => {
      val l = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      l.warpJoin(o, l("l_orderkey") === o("o_orderkey"), "inner")
        .groupBy("o_orderpriority")
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }, Sql("""SELECT o_orderpriority,
         CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
         COUNT(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- join left-outer with a broadcast dimension
    Q("q_join_left", (s, dir) => {
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer").warpFilter(col("c_acctbal") > 5000)
      o.warpJoin(c, o("o_custkey") === c("c_custkey"), "left_outer", broadcastRight = true)
        .selectColumns(Seq("o_orderkey", "c_name", "c_acctbal"))
        .warpSort(Seq(Order(col("o_orderkey"))))
    }, Sql("""SELECT o_orderkey, c_name, c_acctbal
         FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
         ON o_custkey = c_custkey ORDER BY o_orderkey""")),

    // ---- semi / anti join surface: customers WITH urgent orders and
    //      suppliers WITHOUT any lineitem — existence predicates as
    //      shuffle-free broadcast semi/anti joins where the probe side
    //      never widens (no fan-out, no dedup-after-join)
    Q("q_join_semi_anti", (s, dir) => {
      val c = T(s, dir, "customer")
      val urgent = T(s, dir, "orders").warpFilter(col("o_orderpriority") === "1-URGENT")
      val semi = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .selectColumns(Seq("c_custkey", "c_name"))
        .calculate(Seq("side" -> lit("has_urgent")))
      val s2 = T(s, dir, "supplier")
      val li = T(s, dir, "lineitem")
      val anti = s2.join(li, s2("s_suppkey") === li("l_suppkey"), "left_anti")
        .selectColumns(Seq("s_suppkey", "s_name"))
        .calculate(Seq("side" -> lit("no_lineitem")))
        .renameColumns(Map("s_suppkey" -> "c_custkey", "s_name" -> "c_name"))
      semi.warpUnion(anti)
        .warpSort(Seq(Order(col("side"), numeric = false), Order(col("c_custkey"))))
    }, Sql("""SELECT c_custkey, c_name, 'has_urgent' AS side FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         UNION ALL
         SELECT s_suppkey AS c_custkey, s_name AS c_name, 'no_lineitem' AS side
         FROM supplier
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
         ORDER BY side, c_custkey""")),

    // ---- analytic window surface: lead/lag/ntile/cume_dist per customer
    //      order history — partitioned windows only (the rankBy shape)
    Q("q_window_funcs", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      T(s, dir, "orders")
        .selectColumns(Seq("o_custkey", "o_orderkey", "o_totalprice"))
        .calculate(Seq(
          "prev_price" -> lag(col("o_totalprice"), 1).over(w),
          "next_key" -> lead(col("o_orderkey"), 1).over(w),
          "quartile" -> ntile(4).over(w),
          "cdist" -> cume_dist().over(w)))
        .warpSort(Seq(Order(col("o_custkey")), Order(col("o_orderkey"))))
    }, Sql("""SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_orderkey, 1) OVER w AS next_key,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           cume_dist() OVER w AS cdist
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_custkey, o_orderkey""")),

    // ---- rank / running aggregation (Data.swift:306-311)
    Q("q_rank", (s, dir) => {
      // distributed global running agg: bucketed prefix-sum, value-identical
      // to the single-window rank (decimal partials combine exactly)
      T(s, dir, "orders")
        .rankDistributed(Seq(
          graft.ops.WarpOps.RunningAgg.RCount("rn"),
          graft.ops.WarpOps.RunningAgg.RSum("running",
            col("o_totalprice").cast(DecimalType(28, 6)))),
          Seq(Order(col("o_orderkey"))))
        .withColumn("running", col("running").cast("double"))
        .selectColumns(Seq("o_orderkey", "o_totalprice", "rn", "running"))
        .warpSort(Seq(Order(col("o_orderkey"))))
    }, Sql("""SELECT o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS INT) AS rn,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS running
         FROM orders ORDER BY o_orderkey""")),

    // ---- pivot (Data.swift:265, Raster.swift:984-1050): labels passed
    //      explicitly — the unbounded form would run an eager
    //      distinct-label job and collect labels at plan-build time
    Q("q_pivot", (s, dir) => {
      T(s, dir, "lineitem")
        .warpPivot(Seq(col("l_linestatus")), Seq("l_returnflag"),
          dsum(col("l_quantity")), values = Seq("F", "O"))
        .orderBy("l_returnflag")
    }, Sql("""SELECT l_returnflag,
         CAST(SUM(CASE WHEN l_linestatus='F' THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS F,
         CAST(SUM(CASE WHEN l_linestatus='O' THEN CAST(l_quantity AS DECIMAL(28,6)) END) AS DOUBLE) AS O
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- flatten / melt (Data.swift:270-276)
    Q("q_flatten", (s, dir) => {
      T(s, dir, "part")
        .selectColumns(Seq("p_partkey", "p_brand", "p_type"))
        .flatten("cell_value", Some("col_name"), Some(("row_id", col("p_partkey"))))
        .warpSort(Seq(Order(col("row_id")), Order(col("col_name"), numeric = false)))
    }, Sql("""SELECT row_id, col_name, cell_value FROM (
           SELECT p_partkey AS row_id, 'p_partkey' AS col_name, CAST(p_partkey AS VARCHAR) AS cell_value FROM part
           UNION ALL
           SELECT p_partkey, 'p_brand', p_brand FROM part
           UNION ALL
           SELECT p_partkey, 'p_type', p_type FROM part
         ) ORDER BY row_id, col_name""")),

    // ---- explode vertically (QBEExplodeStep.swift:230)
    Q("q_explode_vertical", (s, dir) => {
      T(s, dir, "documents")
        .warpFilter(col("doc_id") < 100)
        .explodeVertically("text", " ")
        .select(col("doc_id"), col("text").as("word"))
        .orderBy("doc_id", "word")
    }, Sql("""SELECT doc_id, unnest(string_split(text, ' ')) AS word
         FROM documents WHERE doc_id < 100 ORDER BY doc_id, word""")),

    // ---- explode horizontally (QBEExplodeStep.swift:327)
    Q("q_explode_horizontal", (s, dir) => {
      T(s, dir, "orders")
        .explodeHorizontally("o_orderpriority", "-", 2)
        .selectColumns(Seq("o_orderkey", "o_orderpriority_1", "o_orderpriority_2"))
        .warpSort(Seq(Order(col("o_orderkey"))))
    }, Sql("""SELECT o_orderkey,
         string_split(o_orderpriority, '-')[1] AS o_orderpriority_1,
         string_split(o_orderpriority, '-')[2] AS o_orderpriority_2
         FROM orders ORDER BY o_orderkey""")),

    // ---- dummies / one-hot (QBEDummiesStep.swift:15-96)
    Q("q_dummies", (s, dir) => {
      T(s, dir, "orders")
        .dummies("o_orderstatus")
        .selectColumns(Seq("o_orderkey", "o_orderstatus_F", "o_orderstatus_O", "o_orderstatus_P"))
        .warpSort(Seq(Order(col("o_orderkey"))))
    }, Sql("""SELECT o_orderkey,
         o_orderstatus = 'F' AS o_orderstatus_F,
         o_orderstatus = 'O' AS o_orderstatus_O,
         o_orderstatus = 'P' AS o_orderstatus_P
         FROM orders ORDER BY o_orderkey""")),

    // ---- search across all columns (QBESearchStep.swift:4)
    Q("q_search", (s, dir) => {
      T(s, dir, "part")
        .search("widget")
        .selectColumns(Seq("p_partkey", "p_name"))
        .warpSort(Seq(Order(col("p_partkey"))))
    }, Sql("""SELECT p_partkey, p_name FROM part
         WHERE lower(p_name) LIKE '%widget%' OR lower(p_brand) LIKE '%widget%'
            OR lower(p_type) LIKE '%widget%'
         ORDER BY p_partkey""")),

    // ---- filter-set / IN (QBERowsStep.swift:88)
    Q("q_filterset", (s, dir) => {
      T(s, dir, "lineitem")
        .filterSet("l_returnflag", Seq("A", "R"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }, Sql("""SELECT l_returnflag, COUNT(*) AS n FROM lineitem
         WHERE l_returnflag IN ('A','R') GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- as-of join (custom operator; DuckDB verifies with native ASOF
    //      JOIN): each event picks up the latest hourly per-type mark
    //      at-or-before its timestamp
    Q("q_asof_join", (s, dir) => {
      val ev = T(s, dir, "events")
        .selectColumns(Seq("event_id", "event_type", "ts", "value"))
      val marks = T(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("timestamp_ntz").as("mark_ts"))
        .agg(dsum(col("value")).as("mark_total"))
      graft.ops.AsofJoin.asofJoin(ev, marks, Seq("event_type"),
        "ts", "mark_ts", Seq("mark_total"))
        .selectColumns(Seq("event_id", "event_type", "mark_total"))
        .warpSort(Seq(Order(col("event_id"))))
    }, Sql("""WITH marks AS (
           SELECT event_type, date_trunc('hour', ts) AS mark_ts,
                  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS mark_total
           FROM events GROUP BY event_type, date_trunc('hour', ts))
         SELECT e.event_id, e.event_type, m.mark_total
         FROM events e ASOF LEFT JOIN marks m
           ON e.event_type = m.event_type AND e.ts >= m.mark_ts
         ORDER BY e.event_id""")),

    // ---- range join (custom operator: binned equi-join, no nested loop)
    Q("q_range_join", (s, dir) => {
      val bands = Sequencer.range(s, 0, 20, "band")
        .select(col("band"), (col("band") * 50.0).as("lo"), (col("band") * 50.0 + 50.0).as("hi"))
      val ev = T(s, dir, "events").selectColumns(Seq("event_id", "value"))
      graft.ops.RangeJoin.rangeJoin(ev, "value", bands, "lo", "hi", binWidth = 50.0)
        .selectColumns(Seq("event_id", "value", "band"))
        .warpSort(Seq(Order(col("event_id"))))
    }, Sql("""WITH bands AS (
           SELECT b AS band, b*50.0 AS lo, b*50.0+50.0 AS hi FROM range(20) t(b))
         SELECT event_id, value, band FROM events e
         JOIN bands ON e.value >= bands.lo AND e.value < bands.hi
         ORDER BY event_id""")),

    // ---- time-bucketed aggregation over the events table
    Q("q_events_window", (s, dir) => {
      T(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("hour", "event_type")
    }, Sql("""SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- rollup (surface extension; SURVEY §2.3 note)
    Q("q_rollup", (s, dir) => {
      T(s, dir, "lineitem")
        .warpRollup(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty")))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }, Sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // ---- cube: all grouping-set combinations (the rollup twin; same
    //      partial-aggregation machinery, so it scales identically)
    Q("q_cube", (s, dir) => {
      T(s, dir, "lineitem")
        .warpCube(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty")))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }, Sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // ---- transpose (Raster.swift:657-694) — collect-based like the reference
    Q("q_transpose", (s, dir) =>
      T(s, dir, "region").orderBy("r_regionkey").warpTranspose(), Sql("""SELECT 'r_name' AS "column",
         max(CASE WHEN r_regionkey=0 THEN r_name END) AS "0",
         max(CASE WHEN r_regionkey=1 THEN r_name END) AS "1",
         max(CASE WHEN r_regionkey=2 THEN r_name END) AS "2",
         max(CASE WHEN r_regionkey=3 THEN r_name END) AS "3",
         max(CASE WHEN r_regionkey=4 THEN r_name END) AS "4"
         FROM region""")),

    // ---- random sample (Data.swift:240-243) — no SQL oracle (rows-only check)
    Q("q_random", (s, dir) =>
      T(s, dir, "orders").randomSample(50).selectColumns(Seq("o_orderkey")),
      NoOracle("Spark's seeded row sampler has no DuckDB replay")),

    // ---- sequencer pattern source (Sequencer.swift, QBESequencerStep.swift:27)
    Q("q_sequencer", (s, dir) =>
      Sequencer.dataset(s, "[A-Z]{2}", "value").orderBy("value"), Sql("""SELECT chr(CAST(65 + (a // 26) AS INT)) || chr(CAST(65 + (a % 26) AS INT)) AS value
         FROM range(676) t(a) ORDER BY value""")),

    // ---- sequencer numeric range source
    Q("q_sequencer_range", (s, dir) =>
      Sequencer.range(s, 1, 1001, "n").orderBy("n"), Sql("SELECT range AS n FROM range(1, 1001) ORDER BY n")),

    // ---- rename step (QBERenameStep.swift:15)
    Q("q_rename", (s, dir) => {
      T(s, dir, "nation")
        .renameColumns(Map("n_name" -> "nation_name", "n_regionkey" -> "region_id"))
        .selectColumns(Seq("n_nationkey", "nation_name", "region_id"))
        .warpSort(Seq(Order(col("n_nationkey"))))
    }, Sql("""SELECT n_nationkey, n_name AS nation_name, n_regionkey AS region_id
         FROM nation ORDER BY n_nationkey""")),

    // ---- select-rows-by-example (QBERowsStep.swift:15-87)
    Q("q_rows_select", (s, dir) => {
      T(s, dir, "lineitem")
        .rowsByExample(Seq("l_returnflag", "l_linestatus"),
          Seq(Seq("A", "F"), Seq("N", "O")))
        .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
         WHERE (l_returnflag = 'A' AND l_linestatus = 'F')
            OR (l_returnflag = 'N' AND l_linestatus = 'O')
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    // ---- cache + clone steps (QBECacheStep.swift:15, QBECloneStep.swift:15)
    Q("q_cache_clone", (s, dir) => {
      val base = T(s, dir, "region").cacheStep().registerClone("graft_region_clone")
      val cloned = graft.ops.WarpOps.cloneOf(s, "graft_region_clone")
        .selectColumns(Seq("r_regionkey")).renameColumns(Map("r_regionkey" -> "rk2"))
      base.warpJoin(cloned, base("r_regionkey") === cloned("rk2"), "inner")
        .selectColumns(Seq("r_regionkey", "r_name"))
        .warpSort(Seq(Order(col("r_regionkey"))))
    }, Sql("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // ---- partitioned running aggregation — the scale-path rank variant
    //      (Data.swift:306-311; global rank kept as q_rank for parity)
    Q("q_rank_by", (s, dir) => {
      T(s, dir, "orders")
        .rankBy(Seq(col("o_custkey")), Seq(
          ("rn", w => row_number().over(w)),
          // decimal window sum, not dsum: `.over` needs the bare sum, which dsum's cast wraps
          ("running", w => sum(col("o_totalprice").cast(DecimalType(28, 6))).over(w).cast("double"))),
          Seq(Order(col("o_orderkey"))))
        .selectColumns(Seq("o_orderkey", "o_custkey", "o_totalprice", "rn", "running"))
        .warpSort(Seq(Order(col("o_orderkey"))))
    }, Sql("""SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS INT) AS rn,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS running
         FROM orders ORDER BY o_orderkey"""))
  )
}
