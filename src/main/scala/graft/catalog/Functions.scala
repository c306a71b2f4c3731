package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import graft.functions.{WarpFunctions => WF}
import Shared._

/** Scalar and list functions (§2.4) and the Warp formula language. */
object Functions {
  val queries: Seq[Q] = Seq(
    // ---- scalar string functions (§2.4)
    Q("q_func_string", (s, dir) => {
      T(s, dir, "part").calculate(Seq(
        "u" -> WF.fnUppercase(col("p_name")),
        "l4" -> WF.fnLeft(col("p_name"), lit(4)),
        "len" -> WF.fnLength(col("p_name")),
        "rep" -> WF.fnSubstitute(col("p_name"), lit(" "), lit("_")),
        "lev" -> WF.fnLevenshtein(col("p_name"), lit("widget")),
        "catd" -> graft.values.Warp.cat(col("p_brand"), lit("#"))))
        .selectColumns(Seq("p_partkey", "u", "l4", "len", "rep", "lev", "catd"))
        .warpSort(Seq(Order(col("p_partkey"))))
    }, Sql("""SELECT p_partkey, upper(p_name) AS u,
         CASE WHEN length(p_name) < 4 THEN NULL ELSE left(p_name, 4) END AS l4,
         length(p_name) AS len,
         replace(p_name, ' ', '_') AS rep,
         levenshtein(p_name, 'widget') AS lev,
         p_brand || '#' AS catd
         FROM part ORDER BY p_partkey""")),

    // ---- scalar math functions (§2.4) — IEEE-stable subset for the oracle
    Q("q_func_math", (s, dir) => {
      T(s, dir, "lineitem").calculate(Seq(
        "sqrt_qty" -> WF.fnSqrt(col("l_quantity")),
        // plain IEEE division (round() semantics differ between engines at
        // half-point doubles; fnRoundTo is pinned by unit tests instead)
        "unit_price" -> (col("l_extendedprice") / col("l_quantity")),
        "fl" -> WF.fnFloor(col("l_discount") * 100),
        "ce" -> WF.fnCeiling(col("l_discount") * 100),
        "ab" -> WF.fnAbsolute(col("l_discount") - lit(0.05)),
        "sg" -> WF.fnSign(col("l_discount") - lit(0.05))))
        .selectColumns(Seq("l_orderkey", "l_linenumber", "sqrt_qty", "unit_price", "fl", "ce", "ab", "sg"))
        .warpSort(Seq(Order(col("l_orderkey")), Order(col("l_linenumber"))))
    }, Sql("""SELECT l_orderkey, l_linenumber,
         sqrt(l_quantity) AS sqrt_qty,
         l_extendedprice / l_quantity AS unit_price,
         floor(l_discount * 100) AS fl,
         ceil(l_discount * 100) AS ce,
         abs(l_discount - 0.05) AS ab,
         CASE WHEN l_discount - 0.05 > 0 THEN 1.0 WHEN l_discount - 0.05 < 0 THEN -1.0 ELSE 0.0 END AS sg
         FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // ---- date/time functions (§2.4; Excel serial dates Date.swift:25-38)
    Q("q_func_datetime", (s, dir) => {
      T(s, dir, "orders").calculate(Seq(
        "y" -> WF.fnUtcYear(col("o_orderdate")),
        "m" -> WF.fnUtcMonth(col("o_orderdate")),
        "d" -> WF.fnUtcDay(col("o_orderdate")),
        "iso" -> WF.fnToUTCISO8601(col("o_orderdate")),
        "excel" -> WF.fnToExcelDate(col("o_orderdate")),
        "unix" -> WF.fnToUnixTime(col("o_orderdate"))))
        .selectColumns(Seq("o_orderkey", "y", "m", "d", "iso", "excel", "unix"))
        .warpSort(Seq(Order(col("o_orderkey"))))
    }, Sql("""SELECT o_orderkey,
         year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
         strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso,
         epoch(o_orderdate) / 86400.0 + 25569.0 AS excel,
         CAST(epoch(o_orderdate) AS BIGINT) AS unix
         FROM orders ORDER BY o_orderkey""")),

    // ---- JSON extraction (jsonDecode, Function.swift:1579-1590)
    Q("q_func_json", (s, dir) => {
      T(s, dir, "events")
        .calculate(Seq("k_val" -> get_json_object(col("props"), "$.k").cast("int")))
        .selectColumns(Seq("event_id", "k_val"))
        .warpSort(Seq(Order(col("event_id"))))
    }, Sql("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
         FROM events ORDER BY event_id""")),

    // ---- formula-language queries: the same computations expressed as
    // Warp formula STRINGS, parsed and compiled by graft.formula.Formula
    // (Formula.swift:276-350 grammar). Typed contexts (Ctx.forSchema) keep
    // the compiled plans free of coercion CASE trees.
    Q("q_formula_calc", (s, dir) => {
      val l = T(s, dir, "lineitem")
      val F = (f: String) => graft.formula.Formula.columnFor(l.schema, f)
      l.calculate(Seq("revenue" -> F("=[l_extendedprice]*(1-[l_discount])")))
        .warpFilter(F("=AND([l_discount]>=0.05;[l_quantity]<10)"))
        .selectColumns(Seq("l_orderkey", "l_linenumber", "revenue"))
        .warpSort(Seq(Order(col("l_orderkey")), Order(col("l_linenumber"))))
    }, Sql("""SELECT l_orderkey, l_linenumber, l_extendedprice*(1.0-l_discount) AS revenue
         FROM lineitem WHERE l_discount >= 0.05 AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber""")),

    Q("q_formula_logic", (s, dir) => {
      val o = T(s, dir, "orders")
      val F = (f: String) => graft.formula.Formula.columnFor(o.schema, f)
      o.calculate(Seq(
        "label" -> F("=IF([o_totalprice]>100000;\"big\";\"small\")"),
        "fb" -> F("=IFERROR([o_totalprice]/0;0-1)"),        // /0 -> invalid -> fallback
        "third" -> F("=COALESCE(1/0;[o_totalprice]*2;99)"))) // invalid skipped
        .selectColumns(Seq("o_orderkey", "label", "fb", "third"))
        .warpSort(Seq(Order(col("o_orderkey"))))
    }, Sql("""SELECT o_orderkey,
         CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS label,
         -1.0 AS fb,
         o_totalprice * 2 AS third
         FROM orders ORDER BY o_orderkey""")),

    Q("q_formula_string", (s, dir) => {
      val p = T(s, dir, "part")
      val F = (f: String) => graft.formula.Formula.columnFor(p.schema, f)
      p.calculate(Seq(
        "tag" -> F("=UPPER([p_name]) & \"-\" & [p_brand]"),
        "midpart" -> F("=MID([p_name];2;3)"),
        "nlen" -> F("=LENGTH([p_name])+0")))
        .selectColumns(Seq("p_partkey", "tag", "midpart", "nlen"))
        .warpSort(Seq(Order(col("p_partkey"))))
    }, Sql("""SELECT p_partkey,
         upper(p_name) || '-' || p_brand AS tag,
         CASE WHEN 2 > length(p_name) THEN NULL ELSE substring(p_name, 3, 3) END AS midpart,
         CAST(length(p_name) AS DOUBLE) AS nlen
         FROM part ORDER BY p_partkey""")),

    // ---- list + pack function group (§2.4; pack format Value.swift:266-380)
    Q("q_func_list", (s, dir) => {
      val withComma = concat(col("n_name"), lit(",x")) // exercises pack escaping
      val lst = WF.fnList(col("n_name"), withComma)
      T(s, dir, "nation").calculate(Seq(
        "packed" -> WF.fnPackList(lst),
        "n_items" -> WF.fnItems(lst),
        "second" -> WF.fnNth(lst, lit(2)),
        "unpacked2" -> WF.fnNth(WF.fnUnpackList(WF.fnPackList(lst)), lit(2)),
        "glued" -> WF.fnGlue(lst, "-")))
        .selectColumns(Seq("n_nationkey", "packed", "n_items", "second", "unpacked2", "glued"))
        .warpSort(Seq(Order(col("n_nationkey"))))
    }, Sql("""SELECT n_nationkey,
         n_name || ',' || replace(replace(n_name || ',x', '$', '$0'), ',', '$1') AS packed,
         2 AS n_items,
         n_name || ',x' AS second,
         n_name || ',x' AS unpacked2,
         n_name || '-' || n_name || ',x' AS glued
         FROM nation ORDER BY n_nationkey""")),

    // ---- dictionary (label) encoding: dense contiguous ids for the
    //      corpus vocabulary via the DISTRIBUTED rank machinery (bucketed
    //      prefix-sum — no single-partition window), then the encode join
    //      gated through integer per-doc signatures
    Q("q_dict_encode", (s, dir) => {
      val toks = T(s, dir, "documents").select(col("doc_id"),
        explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
      val dict = toks.select("tok").distinct()
        .rankDistributed(Seq(graft.ops.WarpOps.RunningAgg.RCount("id")),
          Seq(Order(col("tok"), numeric = false)))
      toks.join(dict, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("id")).as("sum_id"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy("doc_id")
    }, Sql("""WITH toks AS (
           SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS tok
           FROM documents
         ), dict AS (
           SELECT tok, dense_rank() OVER (ORDER BY tok) AS id
           FROM (SELECT DISTINCT tok FROM toks)
         )
         SELECT t.doc_id, count(*) AS n_tokens,
           CAST(sum(d.id) AS BIGINT) AS sum_id,
           CAST(min(d.id) AS BIGINT) AS min_id,
           CAST(max(d.id) AS BIGINT) AS max_id
         FROM toks t JOIN dict d USING (tok)
         GROUP BY 1 ORDER BY 1"""))
  )
}
