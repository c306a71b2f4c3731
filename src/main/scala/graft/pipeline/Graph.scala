package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics over edge tables. Connected components (the
  * dedup-cluster machinery) lives in [[Dedup.connectedComponents]]; this
  * object holds the rank/importance side — PageRank as the
  * "domain/entity quality weight" signal a curation pipeline mixes into
  * sampling (the classic web-graph quality prior).
  *
  * Like [[Cluster]] and [[Classifier]], the iteration is DETERMINISTIC
  * and externally replayable: per-edge contributions quantize to
  * DECIMAL(30,15) before the per-node sum (partial-aggregation-order
  * independent), the two scalar terms each round (uniform base, dangling
  * redistribution) are single double operations on the driver, and the
  * `q_pagerank` DuckDB oracle unrolls the same rounds and hash-matches.
  *
  * Scale shape (100 TB of edges): each round is ONE join of the edge
  * table with the node-rank table keyed on source (the edge table is
  * repartitioned by source once, up front, and pinned — the per-round
  * join reuses that exchange), one map-side-combined decimal sum keyed on
  * destination, a 1-row dangling aggregate broadcast into the same job,
  * and a left join back to the node set. The driver holds no per-node
  * state and issues ONE action per round. Hub destinations skew the
  * dst-sum shuffle — AQE skew handling or
  * [[graft.operators.WarpOps.saltedJoin]]-style salting applies; the
  * decimal sum is associative so salted partial sums stay exact.
  *
  * Every loop runs in one [[Materialize]] scope: each round pins its
  * table and releases the previous round's checkpoint blocks at once; on
  * exit the edge, node and degree checkpoints are released too, and only
  * the final round — which the returned frame reads — is kept.
  */
object Graph {

  /** PageRank after `iters` rounds at the given damping. Nodes are the
    * distinct endpoints of `edges`; multi-edges weight the source's
    * contribution multiply (dedupe upstream for simple-graph semantics).
    * Dangling mass (nodes with no out-edges) redistributes uniformly.
    * Output: (node, pagerank), one row per node, sum ≈ 1.
    *
    * Driver round-trips: ONE action per round (the eager checkpoint of
    * the next rank table). The dangling-mass scalar rides the same job as
    * a broadcast 1-row aggregate crossed into the rank projection — not a
    * separate `.head()` — so deep iteration counts pay one scheduler
    * round-trip each, not two.
    *
    * `dstSalt` > 1 splits the per-destination contribution sum into a
    * salted two-phase aggregate (partial decimal sums per
    * (dst, hash(src) % dstSalt), then the final per-dst sum) — the skew
    * remedy when hub destinations concentrate the shuffle. The
    * DECIMAL(30,15) contribution sum is associative, so any salt width
    * produces BIT-IDENTICAL ranks (pinned in PipelineSpec on a power-law
    * graph); the default 1 keeps the single-phase plan whose map-side
    * combine already handles moderate skew. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, damping: Double = 0.85,
               out: String = "pagerank", dstSalt: Int = 1): DataFrame =
    Materialize(edges.sparkSession) { m =>
    // iters >= 1: the result must read a pinned round of its own, not the
    // edge/node checkpoints the scope releases on exit
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(dstSalt >= 1, s"dstSalt must be >= 1, got $dstSalt")
    val e = m.pin(edges.select(col(srcCol).cast("string").as("__src"),
        col(dstCol).cast("string").as("__dst"))
      .repartition(col("__src")))
    val nodes = m.pin(e.select(col("__src").as("__n"))
      .union(e.select(col("__dst"))).distinct())
    // out-degree is loop-invariant: pin it once instead of re-aggregating
    // the edge table inside every round's checkpoint job
    val deg = m.pin(e.groupBy("__src").agg(count(lit(1)).as("__deg")))
    val n = nodes.count()
    require(n > 0, "cannot rank an empty graph")
    var pr = nodes.withColumn("__pr", lit(1.0 / n))
    // SHUFFLE_HASH hints (r14, guide §3.1): every per-round join input
    // here is a checkpoint scan, which carries NO size statistics —
    // the planner can never auto-broadcast and falls back to sort-merge,
    // re-SORTING the edge table (the big side) every round. Hinting the
    // node-sized build side picks the shuffled-hash join: same result
    // set (and the DECIMAL contribution sum is aggregation-order-exact),
    // no per-round sort of the edges. Scale-safe: the build side is one
    // partition's slice of the node-rank table, the standard SHJ shape.
    for (_ <- 1 to iters) {
      val withDeg = pr.join(deg.hint("SHUFFLE_HASH"),
          pr("__n") === deg("__src"), "left")
        .select(col("__n"), col("__pr"), col("__deg"))
      // dangling mass: exact decimal sum -> ONE broadcast row riding the
      // same job as the rank projection (no separate driver action)
      val dang = withDeg.filter(col("__deg").isNull)
        .agg(sum(col("__pr").cast(DecimalType(30, 15))).as("__dang"))
      val quant = e.join(
          withDeg.filter(col("__deg").isNotNull).hint("SHUFFLE_HASH"),
          col("__src") === col("__n"))
        .select(col("__dst"), col("__src"),
          (col("__pr") / col("__deg").cast("double"))
            .cast(DecimalType(30, 15)).as("__c"))
      val contrib =
        if (dstSalt <= 1)
          quant.groupBy("__dst").agg(sum(col("__c")).as("__in"))
        else // salted two-phase: exact (decimal sum is associative)
          quant
            .groupBy(col("__dst"), pmod(xxhash64(col("__src")), lit(dstSalt)))
            .agg(sum(col("__c")).as("__part"))
            .groupBy("__dst").agg(sum(col("__part")).as("__in"))
      val base = (1.0 - damping) / n.toDouble
      val next = m.pin(nodes.join(contrib.hint("SHUFFLE_HASH"),
          nodes("__n") === contrib("__dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("__n"),
          (lit(base) +
            lit(damping) * coalesce(col("__in").cast("double"), lit(0.0)) +
            lit(damping) * coalesce(col("__dang").cast("double"), lit(0.0))
              / lit(n.toDouble)).as("__pr")))
      m.drop(pr) // eager pin: safe to drop the previous round
      pr = next
    }
    m.keep(pr).select(col("__n").as("node"), col("__pr").as(out))
  }

  /** PERSONALIZED PageRank: random-walk-with-restart importance relative
    * to a seed set — the "what matters near THESE nodes" ranking
    * (seed-relative content importance, related-entity retrieval,
    * trust propagation). Identical plan shape to [[pageRank]] — one
    * edge⋈rank join, one decimal contribution sum keyed on destination,
    * one node-set left join and ONE driver action per round — with the
    * uniform teleport replaced by the seed-restricted teleport vector:
    *
    *   p₀ = tele;  pᵣ₊₁(v) = (1−d)·tele(v) + d·Σ_in + d·dangᵣ·tele(v)
    *
    * where tele(v) = 1/|seeds| on seeds, 0 elsewhere; dangling mass
    * restarts at the seeds like every other walk. Seeds not appearing in
    * the edge set still join the node universe (they hold their teleport
    * mass). Contributions quantize to DECIMAL(30,15) exactly as
    * [[pageRank]]'s, so salting stays bit-identical and the unrolled
    * DuckDB oracle replays the rounds. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int = 3, damping: Double = 0.85,
                           out: String = "ppr", dstSalt: Int = 1): DataFrame =
    Materialize(edges.sparkSession) { m =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(dstSalt >= 1, s"dstSalt must be >= 1, got $dstSalt")
    val e = m.pin(edges.select(col(srcCol).cast("string").as("__src"),
        col(dstCol).cast("string").as("__dst"))
      .repartition(col("__src")))
    val sd = m.pin(seeds.select(col(seedCol).cast("string").as("__s")).distinct())
    val nodes = m.pin(e.select(col("__src").as("__n"))
      .union(e.select(col("__dst")))
      .union(sd.select(col("__s")))
      .distinct())
    val deg = m.pin(e.groupBy("__src").agg(count(lit(1)).as("__deg")))
    val k = sd.count()
    require(k > 0, "personalized pagerank needs at least one seed")
    val tele = m.pin(nodes.join(sd, nodes("__n") === sd("__s"), "left")
      .select(col("__n"),
        when(col("__s").isNotNull, lit(1.0 / k)).otherwise(lit(0.0)).as("__t")))
    var pr = tele.select(col("__n"), col("__t").as("__pr"))
    // SHUFFLE_HASH hints: same rationale as [[pageRank]] — checkpoint
    // scans have no stats, SMJ would re-sort the edge table per round
    for (_ <- 1 to iters) {
      val withDeg = pr.join(deg.hint("SHUFFLE_HASH"),
          pr("__n") === deg("__src"), "left")
        .select(col("__n"), col("__pr"), col("__deg"))
      val dang = withDeg.filter(col("__deg").isNull)
        .agg(sum(col("__pr").cast(DecimalType(30, 15))).as("__dang"))
      val quant = e.join(
          withDeg.filter(col("__deg").isNotNull).hint("SHUFFLE_HASH"),
          col("__src") === col("__n"))
        .select(col("__dst"), col("__src"),
          (col("__pr") / col("__deg").cast("double"))
            .cast(DecimalType(30, 15)).as("__c"))
      val contrib =
        if (dstSalt <= 1)
          quant.groupBy("__dst").agg(sum(col("__c")).as("__in"))
        else
          quant
            .groupBy(col("__dst"), pmod(xxhash64(col("__src")), lit(dstSalt)))
            .agg(sum(col("__c")).as("__part"))
            .groupBy("__dst").agg(sum(col("__part")).as("__in"))
      val next = m.pin(tele.join(contrib.hint("SHUFFLE_HASH"),
          tele("__n") === contrib("__dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("__n"),
          (lit(1.0 - damping) * col("__t") +
            lit(damping) * coalesce(col("__in").cast("double"), lit(0.0)) +
            lit(damping) * coalesce(col("__dang").cast("double"), lit(0.0))
              * col("__t")).as("__pr")))
      m.drop(pr)
      pr = next
    }
    m.keep(pr).select(col("__n").as("node"), col("__pr").as(out))
  }

  /** Semi-supervised label propagation (Zhu–Ghahramani with clamped
    * seeds): spread a [0,1] label (e.g. "high quality") from a small
    * seeded set across a similarity graph — the standard move for scaling
    * a hand-labeled quality signal to a full corpus via its kNN graph.
    * Each round a non-seed node becomes the MEAN of its in-neighbors'
    * scores (isolated nodes keep their score); seed nodes stay clamped.
    * Unlabeled nodes start at `prior`.
    *
    * Deterministic and replayable like [[pageRank]]: per-edge
    * contributions quantize to DECIMAL(30,15) before the per-node sum, so
    * partial-aggregation order cannot perturb the result and the
    * `q_label_prop` DuckDB oracle unrolls the same rounds bit-for-bit.
    *
    * Scale shape: identical to [[pageRank]] — one edge⋈score join, one
    * map-side-combined decimal sum keyed on destination, one left join
    * back to the node set per round; the driver never holds scores.
    * `dstSalt` > 1 splits the per-destination (sum, count) aggregate into
    * salted partials exactly as [[pageRank]]'s — both the decimal sum and
    * the count are associative, so any salt width is BIT-IDENTICAL
    * (pinned in PipelineSpec). */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
                       srcCol: String, dstCol: String,
                       seedIdCol: String, seedLabelCol: String,
                       iters: Int = 2, prior: Double = 0.5,
                       out: String = "score", dstSalt: Int = 1): DataFrame =
    Materialize(edges.sparkSession) { m =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dstSalt >= 1, s"dstSalt must be >= 1, got $dstSalt")
    val e = m.pin(edges.select(col(srcCol).cast("string").as("__src"),
        col(dstCol).cast("string").as("__dst"))
      .repartition(col("__src")))
    val nodes = m.pin(e.select(col("__src").as("__n"))
      .union(e.select(col("__dst"))).distinct())
    val sd = seeds.select(col(seedIdCol).cast("string").as("__n"),
      col(seedLabelCol).cast("double").as("__seed"))
    var sc = m.pin(nodes.join(sd, Seq("__n"), "left")
      .select(col("__n"), col("__seed"),
        coalesce(col("__seed"), lit(prior)).as("__s")))
    // SHUFFLE_HASH hints: same rationale as [[pageRank]]
    for (_ <- 1 to iters) {
      val quant = e.join(sc.hint("SHUFFLE_HASH"), col("__src") === col("__n"))
        .select(col("__dst"), col("__src"),
          col("__s").cast(DecimalType(30, 15)).as("__c"))
      val in =
        if (dstSalt <= 1)
          quant.groupBy("__dst")
            .agg(sum(col("__c")).as("__sum"), count(lit(1)).as("__cnt"))
        else // salted two-phase: exact (sum and count are associative)
          quant
            .groupBy(col("__dst"), pmod(xxhash64(col("__src")), lit(dstSalt)))
            .agg(sum(col("__c")).as("__ps"), count(lit(1)).as("__pc"))
            .groupBy("__dst")
            .agg(sum(col("__ps")).as("__sum"), sum(col("__pc")).as("__cnt"))
      val next = m.pin(sc.join(in.hint("SHUFFLE_HASH"), sc("__n") === in("__dst"), "left")
        .select(col("__n"), col("__seed"),
          when(col("__seed").isNotNull, col("__seed"))
            .when(col("__cnt").isNotNull,
              col("__sum").cast("double") / col("__cnt").cast("double"))
            .otherwise(col("__s")).as("__s")))
      m.drop(sc)
      sc = next
    }
    m.keep(sc).select(col("__n").as("node"), col("__seed").isNotNull.as("is_seed"),
      col("__s").as(out))
  }

  /** k-CORE PEELING: iteratively remove nodes whose degree (in the
    * surviving subgraph) falls below `k` — the graph-density filter that
    * isolates the "everything here is well-connected" core (community
    * seeds, dense-duplication neighborhoods, spam rings). `rounds` fixes
    * the peel count so every round replays in an unrolled external
    * oracle; peeling converges when a round removes nothing (the fixed
    * point IS the k-core — run with enough rounds and the output is it).
    *
    * Input is taken as UNDIRECTED; self-loops and duplicate edges
    * canonicalize away. Output: surviving (node, degree) rows, derived
    * from the surviving EDGE table — a node whose last edge died this
    * round is out even if its own degree test passed (it would peel next
    * round anyway; at the fixed point the two notions coincide).
    *
    * Scale shape per round: one map-side-combined degree aggregate and
    * two semi-joins (src-alive, dst-alive) — no windows, no driver data;
    * one eager checkpoint per round bounds the plan depth exactly like
    * [[pageRank]]'s rank table. */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame =
    Materialize(edges.sparkSession) { m =>
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val raw = edges.select(col(srcCol).cast("string").as("__a"),
        col(dstCol).cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
    val und = raw.select(least(col("__a"), col("__b")).as("__u"),
        greatest(col("__a"), col("__b")).as("__v"))
      .distinct()
    var e = m.pin(und.select(col("__u").as("__s"), col("__v").as("__t"))
      .union(und.select(col("__v"), col("__u"))))
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("__s").as("__n"))
        .agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select("__n")
      // SHUFFLE_HASH: checkpointed e has no stats (never broadcasts) and
      // SMJ would sort the edge table twice per round; the node-sized
      // keep set is the classic hash build side
      val next = m.pin(e
        .join(keep.select(col("__n").as("__s")).hint("SHUFFLE_HASH"), "__s")
        .join(keep.select(col("__n").as("__t")).hint("SHUFFLE_HASH"), "__t")
        .select("__s", "__t"))
      m.drop(e)
      e = next
    }
    m.keep(m.pin(e.groupBy(col("__s").as("node"))
      .agg(count(lit(1)).as("degree"))))
  }

  /** Triangle counting with DEGREE-ORDERED edge orientation — the
    * shuffle-safe shape for skewed graphs (the "compact-forward" /
    * node-iterator++ algorithm; the same orientation powers triangle
    * counting in every large-graph engine because it bounds wedge
    * generation by the arboricity, not the max degree).
    *
    * Input edges are taken as UNDIRECTED; self-loops and duplicate /
    * reverse-duplicate edges are canonicalized away first. Each remaining
    * edge is oriented from the lower-rank endpoint to the higher-rank one
    * under the total order (degree asc, node asc). Wedges are then built
    * by self-joining oriented edges on their SOURCE — a hub of degree d
    * contributes wedges only through its ORIENTED out-degree, which the
    * ordering caps near sqrt(|E|) — and each wedge (a->b, a->c) closes
    * into a triangle iff oriented edge b->c exists. Every triangle is
    * found exactly once (its minimum-rank vertex is the wedge apex).
    *
    * Returns one row per triangle as the canonically sorted node triple
    * (n1 < n2 < n3 as strings) — countable or joinable downstream. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    Materialize(edges.sparkSession) { m =>
    val raw = edges.select(col(srcCol).cast("string").as("__a"),
        col(dstCol).cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull &&
        col("__a") =!= col("__b"))
    // canonical undirected edge set
    val und = raw.select(least(col("__a"), col("__b")).as("__u"),
        greatest(col("__a"), col("__b")).as("__v"))
      .distinct()
    val deg = und.select(col("__u").as("__n"))
      .union(und.select(col("__v")))
      .groupBy("__n").agg(count(lit(1)).as("__d"))
    // orientation: lower (degree, node) endpoint -> higher
    val withDeg = und
      .join(deg.select(col("__n").as("__u"), col("__d").as("__du")), "__u")
      .join(deg.select(col("__n").as("__v"), col("__d").as("__dv")), "__v")
    // the oriented edge list feeds THREE plan branches (both wedge legs
    // and the closing probe): cache it once instead of recomputing the
    // canonicalize+degree+orient pipeline 3x; the pinned triangle result
    // lets the edge-sized cache go before returning
    val oriented = m.cache(withDeg.select(
      when(col("__du") < col("__dv") ||
           (col("__du") === col("__dv") && col("__u") < col("__v")),
        struct(col("__u").as("s"), col("__v").as("t")))
        .otherwise(struct(col("__v").as("s"), col("__u").as("t"))).as("__e"))
      .select(col("__e.s").as("__s"), col("__e.t").as("__t")))
    // wedges from a shared oriented source, closed by an oriented edge
    val w1 = oriented.select(col("__s").as("__apex"), col("__t").as("__b"))
    val w2 = oriented.select(col("__s").as("__apex"), col("__t").as("__c"))
    val wedges = w1.join(w2, Seq("__apex")).filter(col("__b") < col("__c"))
    val closing = oriented.select(
      least(col("__s"), col("__t")).as("__b"),
      greatest(col("__s"), col("__t")).as("__c"))
    val result = wedges.join(closing, Seq("__b", "__c"))
      .select(array_sort(array(col("__apex"), col("__b"), col("__c"))).as("__tri"))
      .select(col("__tri")(0).as("n1"), col("__tri")(1).as("n2"),
        col("__tri")(2).as("n3"))
    m.keep(m.pin(result))
  }
}
