package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import Shared._

/** Graph algorithms over the trade and part co-occurrence graphs:
  * PageRank, personalized PageRank, label propagation, k-core,
  * triangles and frequent pairs. */
object Graphs {
  /** Unrolled PageRank oracle replaying
    * [[graft.pipeline.Graph.pageRank]]'s exact round arithmetic over the
    * q_pagerank trade graph. */
  private def pagerankOracle(iters: Int, damping: Double): String = {
    val d = dlit(damping)
    val rounds = (0 until iters).map { r =>
      s"""dang$r AS MATERIALIZED (
         SELECT coalesce(CAST(CAST(sum(CAST(pr AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE), 0.0) AS dm
         FROM p$r LEFT JOIN deg ON p$r.node = deg.src WHERE deg.src IS NULL),
       i$r AS MATERIALIZED (
         SELECT e.dst AS node,
           sum(CAST(p.pr / CAST(deg.dg AS DOUBLE) AS DECIMAL(30,15))) AS s
         FROM e JOIN p$r p ON e.src = p.node JOIN deg ON e.src = deg.src
         GROUP BY e.dst),
       p${r + 1} AS MATERIALIZED (
         SELECT prev.node,
           (1.0 - $d) / nn.n
             + $d * coalesce(CAST(CAST(i.s AS VARCHAR) AS DOUBLE), 0.0)
             + $d * dang$r.dm / nn.n AS pr
         FROM p$r prev LEFT JOIN i$r i ON prev.node = i.node, nn, dang$r)"""
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       ), e AS MATERIALIZED (
         SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
       ), nd AS MATERIALIZED (
         SELECT DISTINCT n FROM (SELECT src AS n FROM e UNION ALL SELECT dst AS n FROM e)
       ), deg AS MATERIALIZED (SELECT src, count(*) AS dg FROM e GROUP BY src),
       nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
       p0 AS MATERIALIZED (SELECT nd.n AS node, 1.0 / nn.n AS pr FROM nd, nn),
       $rounds
       SELECT node, round(pr, 9) AS pagerank FROM p$iters ORDER BY node"""
  }

  /** Unrolled k-core-peel oracle replaying
    * [[graft.pipeline.Graph.kCorePeel]] over the part co-occurrence
    * graph: each round keeps nodes of degree >= k and drops edges
    * touching a removed node. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val rnds = (0 until rounds).map { r =>
      s"""k$r AS MATERIALIZED (
         SELECT s FROM e$r GROUP BY s HAVING count(*) >= $k),
       e${r + 1} AS MATERIALIZED (
         SELECT e$r.s, e$r.t FROM e$r
         WHERE e$r.s IN (SELECT s FROM k$r)
           AND e$r.t IN (SELECT s FROM k$r))"""
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
         SELECT l_orderkey, l_linenumber,
           lpad(CAST(l_partkey AS VARCHAR), 7, '0') AS pk
         FROM lineitem
       ), und AS MATERIALIZED (
         SELECT DISTINCT least(a.pk, b.pk) AS u, greatest(a.pk, b.pk) AS v
         FROM li a JOIN li b
           ON a.l_orderkey = b.l_orderkey
          AND a.l_linenumber + 1 = b.l_linenumber
         WHERE a.pk <> b.pk
       ), e0 AS MATERIALIZED (
         SELECT u AS s, v AS t FROM und UNION ALL SELECT v, u FROM und
       ),
       $rnds
       SELECT s AS node, count(*) AS degree FROM e$rounds
       GROUP BY s ORDER BY node"""
  }

  /** Unrolled personalized-PageRank oracle replaying
    * [[graft.pipeline.Graph.personalizedPageRank]] over the q_pagerank
    * trade graph with the low-key customer seed set: uniform teleport
    * replaced by the seed-restricted vector, dangling mass restarting at
    * the seeds, float expression order mirrored term for term. */
  private def pprOracle(iters: Int, damping: Double): String = {
    val d = dlit(damping)
    val rounds = (0 until iters).map { r =>
      s"""dang$r AS MATERIALIZED (
         SELECT coalesce(CAST(CAST(sum(CAST(pr AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE), 0.0) AS dm
         FROM p$r LEFT JOIN deg ON p$r.node = deg.src WHERE deg.src IS NULL),
       i$r AS MATERIALIZED (
         SELECT e.dst AS node,
           sum(CAST(p.pr / CAST(deg.dg AS DOUBLE) AS DECIMAL(30,15))) AS s
         FROM e JOIN p$r p ON e.src = p.node JOIN deg ON e.src = deg.src
         GROUP BY e.dst),
       p${r + 1} AS MATERIALIZED (
         SELECT prev.node,
           (1.0 - $d) * tele.t
             + $d * coalesce(CAST(CAST(i.s AS VARCHAR) AS DOUBLE), 0.0)
             + $d * dang$r.dm * tele.t AS pr
         FROM p$r prev LEFT JOIN i$r i ON prev.node = i.node
              JOIN tele ON tele.node = prev.node, dang$r)"""
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       ), e AS MATERIALIZED (
         SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
       ), nd AS MATERIALIZED (
         SELECT DISTINCT n FROM (SELECT src AS n FROM e UNION ALL SELECT dst AS n FROM e)
       ), deg AS MATERIALIZED (SELECT src, count(*) AS dg FROM e GROUP BY src),
       seeds AS MATERIALIZED (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s
         FROM orders WHERE o_custkey < 20
       ), kk AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS k FROM seeds),
       tele AS MATERIALIZED (
         SELECT nd.n AS node,
           CASE WHEN seeds.s IS NOT NULL THEN 1.0 / kk.k ELSE 0.0 END AS t
         FROM nd LEFT JOIN seeds ON nd.n = seeds.s, kk
       ),
       p0 AS MATERIALIZED (SELECT node, t AS pr FROM tele),
       $rounds
       SELECT node, round(pr, 9) AS ppr FROM p$iters ORDER BY node"""
  }

  /** Unrolled clamped-seed label-propagation oracle replaying
    * [[graft.pipeline.Graph.labelPropagation]] over the q_pagerank trade
    * graph with rich/poor customer seeds. */
  private def labelPropOracle(iters: Int, prior: Double): String = {
    val rounds = (0 until iters).map { r =>
      s"""i$r AS MATERIALIZED (
         SELECT e.dst AS node,
           sum(CAST(p.s AS DECIMAL(30,15))) AS sm, count(*) AS cnt
         FROM e JOIN p$r p ON e.src = p.node
         GROUP BY e.dst),
       p${r + 1} AS MATERIALIZED (
         SELECT prev.node, prev.seed,
           CASE WHEN prev.seed IS NOT NULL THEN prev.seed
                WHEN i.cnt IS NOT NULL THEN
                  CAST(CAST(i.sm AS VARCHAR) AS DOUBLE) / CAST(i.cnt AS DOUBLE)
                ELSE prev.s END AS s
         FROM p$r prev LEFT JOIN i$r i ON prev.node = i.node)"""
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                's' || CAST(l_suppkey AS VARCHAR) AS dst
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       ), e AS MATERIALIZED (
         SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
       ), nd AS MATERIALIZED (
         SELECT DISTINCT n AS node
         FROM (SELECT src AS n FROM e UNION ALL SELECT dst AS n FROM e)
       ), sd AS MATERIALIZED (
         SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node,
           CASE WHEN c_acctbal > 0 THEN 1.0 ELSE 0.0 END AS seed
         FROM customer WHERE abs(c_acctbal) > 9000
       ), p0 AS MATERIALIZED (
         SELECT nd.node, sd.seed, coalesce(sd.seed, ${dlit(prior)}) AS s
         FROM nd LEFT JOIN sd ON nd.node = sd.node
       ),
       $rounds
       SELECT node, seed IS NOT NULL AS is_seed, round(s, 9) AS score
       FROM p$iters ORDER BY node"""
  }

  val queries: Seq[Q] = Seq(
    // ---- deterministic PageRank over the customer<->supplier trade graph
    //      (the "domain quality weight" signal at corpus scale): per-edge
    //      contributions quantize to DECIMAL(30,15) before the per-node
    //      sum, so 3 full rounds replay bit-for-bit in the unrolled DuckDB
    //      oracle. The undirected-ized edge set has no dangling nodes;
    //      the dangling term is still computed each round (and oracled).
    Q("q_pagerank", (s, dir) => {
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // distinct on the INTEGER key pair, node strings built after (r14,
      // guide §2.3): the dedup shuffle carries two longs per row instead
      // of two strings, and concat runs once per distinct pair
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      graft.pipeline.Graph.pageRank(edges, "src", "dst", iters = 3)
        .withColumn("pagerank", round(col("pagerank"), 9))
        .warpSort(Seq(Order(col("node"), numeric = false)))
    }, Sql(pagerankOracle(3, 0.85))),

    // ---- personalized PageRank over the trade graph: random walk with
    //      restart at the low-key customer seed set — seed-relative
    //      importance, same decimal-exact round machinery as q_pagerank,
    //      oracle-unrolled 3 rounds
    Q("q_ppr", (s, dir) => {
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // distinct on the INTEGER key pair, node strings built after (r14,
      // guide §2.3): the dedup shuffle carries two longs per row instead
      // of two strings, and concat runs once per distinct pair
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = T(s, dir, "orders").warpFilter(col("o_custkey") < 20)
        .select(concat(lit("c"), col("o_custkey")).as("id")).distinct()
      graft.pipeline.Graph.personalizedPageRank(edges, "src", "dst",
          seeds, "id", iters = 3)
        .withColumn("ppr", round(col("ppr"), 9))
        .warpSort(Seq(Order(col("node"), numeric = false)))
    }, Sql(pprOracle(3, 0.85))),

    // ---- semi-supervised label propagation over the same trade graph:
    //      a hand-labeled quality signal (rich/poor customers) spreads to
    //      every node as clamped-seed neighbor means — the scale-a-small-
    //      label-set move; decimal-exact rounds, oracle-unrolled
    Q("q_label_prop", (s, dir) => {
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // distinct on the INTEGER key pair, node strings built after (r14,
      // guide §2.3): the dedup shuffle carries two longs per row instead
      // of two strings, and concat runs once per distinct pair
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_suppkey")).distinct()
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = T(s, dir, "customer")
        .warpFilter(abs(col("c_acctbal")) > 9000)
        .select(concat(lit("c"), col("c_custkey")).as("id"),
          when(col("c_acctbal") > 0, 1.0).otherwise(0.0).as("label"))
      graft.pipeline.Graph.labelPropagation(edges, seeds, "src", "dst",
          "id", "label", iters = 2)
        .withColumn("score", round(col("score"), 9))
        .warpSort(Seq(Order(col("node"), numeric = false)))
    }, Sql(labelPropOracle(2, 0.5))),

    // ---- triangle enumeration with degree-ordered orientation over the
    //      part co-occurrence graph (parts on adjacent lines of one
    //      order). The oracle closes wedges by brute 3-way self-join; the
    //      Spark side generates wedges only from ORIENTED out-edges —
    //      the skew-safe shape. Part keys ride zero-padded so the
    //      operator's string node order equals numeric order.
    Q("q_graph_triangles", (s, dir) => {
      val li = T(s, dir, "lineitem").warpFilter(col("l_orderkey") < 6000)
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          lpad(col("l_partkey").cast("string"), 7, "0").as("pk"))
      val edges = li.select(col("ok"), col("ln"), col("pk").as("u"))
        .join(li.select(col("ok"), (col("ln") - 1).as("ln"), col("pk").as("v")),
          Seq("ok", "ln"))
        .select("u", "v")
      graft.pipeline.Graph.triangles(edges, "u", "v")
        .orderBy("n1", "n2", "n3")
    },
      // independent brute-force wedge close — no orientation machinery
      Sql("""WITH li AS (
           SELECT l_orderkey, l_linenumber,
             lpad(CAST(l_partkey AS VARCHAR), 7, '0') AS pk
           FROM lineitem WHERE l_orderkey < 6000
         ), e AS (
           SELECT DISTINCT least(a.pk, b.pk) AS u, greatest(a.pk, b.pk) AS v
           FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey
            AND a.l_linenumber + 1 = b.l_linenumber
           WHERE a.pk <> b.pk
         )
         SELECT x.u AS n1, x.v AS n2, y.v AS n3
         FROM e x JOIN e y ON x.v = y.u
                  JOIN e z ON z.u = x.u AND z.v = y.v
         ORDER BY 1, 2, 3""")),

    // ---- frequent co-occurring part pairs (A-Priori first step):
    //      anti-monotone singleton prune BEFORE any pair forms, canonical
    //      pairs, support = basket count
    Q("q_freq_pairs", (s, dir) => {
      graft.pipeline.HeavyHitters.frequentPairs(T(s, dir, "lineitem"),
          col("l_orderkey"), col("l_partkey"), minSupport = 2L)
        .orderBy("item1", "item2")
    }, Sql("""WITH bi AS (
           SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
         ), freq AS (
           SELECT i FROM bi GROUP BY i HAVING count(*) >= 2
         ), pruned AS (
           SELECT b, i FROM bi WHERE i IN (SELECT i FROM freq)
         )
         SELECT a.i AS item1, c.i AS item2, count(*) AS support
         FROM pruned a JOIN pruned c ON a.b = c.b AND a.i < c.i
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY 1, 2""")),

    // ---- k-core peeling on the part co-occurrence graph: three rounds
    //      of remove-degree-below-k, each round one degree aggregate and
    //      two semi-joins — surviving (node, degree) rows, every round
    //      replayed by the unrolled oracle
    Q("q_kcore", (s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          lpad(col("l_partkey").cast("string"), 7, "0").as("pk"))
      val edges = li.select(col("ok"), col("ln"), col("pk").as("u"))
        .join(li.select(col("ok"), (col("ln") - 1).as("ln"), col("pk").as("v")),
          Seq("ok", "ln"))
        .select("u", "v")
      graft.pipeline.Graph.kCorePeel(edges, "u", "v", k = 20, rounds = 3)
        .orderBy("node")
    }, Sql(kcoreOracle(20, 3)))
  )
}
