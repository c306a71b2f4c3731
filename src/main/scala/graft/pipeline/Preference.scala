package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Preference-pair construction for RLHF / DPO-style training data:
  * turn scored candidates grouped by prompt (or any grouping) into
  * (chosen, rejected) pairs with a minimum score margin.
  *
  * The all-pairs-per-group construction is quadratic in group size, so
  * the operator is capped by design: per group only the TOP-k candidates
  * pair as "chosen" and the BOTTOM-k as "rejected" — at most k² pairs per
  * group regardless of group cardinality, which is the shape that
  * survives prompts with thousands of sampled responses. Ranking is
  * deterministic: (score desc, id asc) for chosen, (score asc, id asc)
  * for rejected, so ties never make the output run-dependent.
  *
  * Scale shape: two bounded per-group rank passes — row_number windows
  * under a `<= k` filter, which Spark executes as WindowGroupLimit
  * top-k heaps (no full per-group sort, same plan shape pinned for
  * [[Sampling.sampleKPerGroup]]) — then a group-keyed join of two
  * k-bounded sides. No shuffle carries more than k rows per group.
  */
object Preference {

  /** Upper bound of [[contrastiveTriplets]]' automatic salt factor: skew
    * relief saturates far below the width of a wide cluster, while the
    * anchor-side replication grows with every salt value. */
  val AutoSaltCap = 64

  /** (chosen, rejected) pairs per group with `score_chosen − score_rejected
    * >= margin`. Emits one row per surviving pair: the group columns,
    * chosen/rejected ids and scores, and the realized margin. */
  def preferencePairs(df: DataFrame, groupCols: Seq[(String, Column)],
                      idCol: Column, scoreCol: Column,
                      k: Int, margin: Long): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val gNames = groupCols.map(_._1)
    val base = df.select(groupCols.map { case (n, c) => c.as(n) }
      :+ idCol.as("__id") :+ scoreCol.as("__score"): _*)
      .filter(col("__id").isNotNull && col("__score").isNotNull)
    val gCols = gNames.map(col)
    val topW = Window.partitionBy(gCols: _*)
      .orderBy(col("__score").desc, col("__id").asc)
    val botW = Window.partitionBy(gCols: _*)
      .orderBy(col("__score").asc, col("__id").asc)
    val chosen = base.withColumn("__rn", row_number().over(topW))
      .filter(col("__rn") <= k)
      .select(gCols :+ col("__id").as("chosen_id")
        :+ col("__score").as("chosen_score"): _*)
    val rejected = base.withColumn("__rn", row_number().over(botW))
      .filter(col("__rn") <= k)
      .select(gCols :+ col("__id").as("rejected_id")
        :+ col("__score").as("rejected_score"): _*)
    chosen.join(rejected, gNames)
      // a document can sit in both the top-k and bottom-k of a small
      // group; with margin <= 0 that would emit a degenerate self-pair
      .filter(col("chosen_id") =!= col("rejected_id"))
      .filter(col("chosen_score") - col("rejected_score") >= margin)
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
  }

  /** CONTRASTIVE TRIPLET MINING for embedding/retrieval training:
    * (anchor, positive, negative) rows where the positive is the
    * anchor's best exact near-duplicate and negatives are
    * deterministically drawn non-duplicates.
    *
    *  - Positives: [[Dedup.prefixJaccardJoin]] (exact, no false
    *    negatives) symmetrized so every member of a pair anchors; per
    *    anchor the BEST positive wins (jaccard desc, id asc — a
    *    WindowGroupLimit top-1, never a per-anchor sort).
    *  - Negatives: the corpus is hashed into 16 md5 buckets; each anchor
    *    probes ITS OWN bucket (bounded fan — corpus/16 candidates per
    *    anchor, not the corpus), drops itself and every true positive
    *    (anti-join on the full exact pair set — a sampled negative that
    *    is secretly a near-dup would poison the loss), and keeps the
    *    `kNeg` lowest md5(anchor:candidate) ranks. Everything md5 —
    *    rand()-free, replayable in external SQL.
    *
    * `buckets = 0` (the default) SIZES THE MODULUS TO THE CORPUS from one
    * cheap count: `max(16, n / targetCandsPerAnchor)` capped at 4096 —
    * the candidate fan per anchor then stays ≈ `targetCandsPerAnchor`
    * regardless of corpus size (the r11 sf1 rehearsal's n²/16 growth was
    * exactly this knob left at its gauge value). Pass an explicit bucket
    * count to pin the construct (the q_contrastive gauge pins 16 so its
    * oracle modulus is a literal).
    *
    * Output: (anchor_id, pos_id, jaccard, neg_id, neg_rank). */
  def contrastiveTriplets(df: DataFrame, textCol: String, idCol: String,
                          threshold: Double = 0.6, kNeg: Int = 3,
                          buckets: Int = 0,
                          targetCandsPerAnchor: Long = 4096L,
                          saltFactor: Int = 0): DataFrame = {
    require(kNeg >= 1, s"kNeg must be >= 1, got $kNeg")
    require(buckets >= 0 && buckets <= 4096,
      s"buckets must be in [0, 4096] (0 = auto-size), got $buckets")
    require(targetCandsPerAnchor >= 1,
      s"targetCandsPerAnchor must be >= 1, got $targetCandsPerAnchor")
    require(saltFactor >= 0, s"saltFactor must be >= 0 (0 = auto), got $saltFactor")
    val pairs = Dedup.prefixJaccardJoin(df, textCol, idCol, threshold)
    val sym = pairs.select(col("id1").as("anchor_id"), col("id2").as("other"),
        col("jaccard"))
      .unionByName(pairs.select(col("id2").as("anchor_id"),
        col("id1").as("other"), col("jaccard")))
    val bestW = Window.partitionBy("anchor_id")
      .orderBy(col("jaccard").desc, col("other").asc)
    val best = sym.withColumn("__rn", row_number().over(bestW))
      .filter(col("__rn") === 1)
      .select(col("anchor_id"), col("other").as("pos_id"), col("jaccard"))
    // candidate volume is |anchors| x corpus/buckets: the md5 modulus is
    // what keeps the negative probe linear at 100 TB, and auto-sizing
    // derives it from one corpus count so nobody has to hand-tune it
    val nBuckets: Long =
      if (buckets > 0) buckets.toLong
      else math.min(4096L, math.max(16L, df.count() / targetCandsPerAnchor))
    val bucket = (c: Column) =>
      pmod(conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long"),
        lit(nBuckets))
    // the bucket join EXPLODES (|anchors| × corpus/buckets rows from a
    // tiny input) and its join key has only `nBuckets` distinct values —
    // as few as 16 in the pinned gauge. Two failure modes, two moves
    // (guide §2.5 skew):
    //  1. SALT the key: each corpus row gets a deterministic salt
    //     pmod(xxhash64(neg_id), S) and the anchor side replicates ×S,
    //     joining on (__bk, __salt). Every (anchor, candidate) bucket
    //     pair still meets EXACTLY once (at the candidate's one salt
    //     value), so the join multiset — and the output — is identical;
    //     but the key space grows from nBuckets to nBuckets·S, so when
    //     the corpus side is too big to broadcast (the 100 TB regime —
    //     EnsureRequirements then exchanges BOTH sides on the join key)
    //     the explosion no longer concentrates on ≤ nBuckets partitions.
    //     The replication cost lands on the SMALL side (anchors = near-dup
    //     pair members), never the corpus.
    //  2. REPARTITION the exploded anchor side: when the corpus side DOES
    //     broadcast (local/gauge scale), there is no exchange on the
    //     stream side at all — AQE coalesces the tiny anchor input and the
    //     explosion runs in a handful of tasks. An explicit repartition on
    //     (anchor_id, __salt) spreads it (defaultParallelism:
    //     scale-adaptive, not a constant) — same move as
    //     Dedup.prefixJaccardCore's collision join (r14).
    // saltFactor: 0 = derive from the cluster (defaultParallelism, capped
    // at AutoSaltCap);
    // 1 = salting off (one salt value — the join key degenerates to __bk);
    // >1 = explicit. Output is salt-INVARIANT (pinned by spec): the salt
    // only re-keys the join, never changes which pairs meet.
    val fanout = df.sparkSession.sparkContext.defaultParallelism
    val nSalt = if (saltFactor > 0) saltFactor else math.min(fanout, AutoSaltCap)
    val cands = df.select(col(idCol).as("neg_id"))
      .withColumn("__bk", bucket(col("neg_id")))
      .withColumn("__salt", pmod(xxhash64(col("neg_id")), lit(nSalt.toLong)))
    val probes = best.withColumn("__bk", bucket(col("anchor_id")))
      .withColumn("__salt",
        explode(sequence(lit(0L), lit(nSalt.toLong - 1L))))
      .repartition(fanout, col("anchor_id"), col("__salt"))
      .join(cands, Seq("__bk", "__salt"))
      .filter(col("neg_id") =!= col("anchor_id") &&
        col("neg_id") =!= col("pos_id"))
      // a bucket-mate that is a true near-dup of the anchor is NOT a
      // negative: anti-join the full exact pair set
      .join(sym.select(col("anchor_id"), col("other").as("neg_id")),
        Seq("anchor_id", "neg_id"), "left_anti")
    val negW = Window.partitionBy("anchor_id")
      .orderBy(md5(concat(col("anchor_id").cast("string"), lit(":"),
        col("neg_id").cast("string"))), col("neg_id"))
    probes.withColumn("neg_rank", row_number().over(negW))
      .filter(col("neg_rank") <= kNeg)
      .select(col("anchor_id"), col("pos_id"), col("jaccard"),
        col("neg_id"), col("neg_rank"))
  }
}
