package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Everything keys off a PORTABLE content hash of the row id (md5 hex →
  * integer bucket) rather than `rand()`: the same row lands in the same
  * split on every engine, every run, every cluster size — the property that
  * keeps train/test assignment stable across pipeline re-runs and lets a
  * SQL oracle verify the assignment exactly. Pure codegen'd column
  * expressions; a split/sample is one narrow map pass (or map+filter), no
  * shuffle at all.
  */
object Sampling {

  /** Uniform deterministic bucket in `[0, buckets)` from the id's md5.
    * 32 hash bits are used — plenty for bucket counts up to ~1e6 with
    * negligible modulo bias. Engine-portable: any SQL engine with md5()
    * computes the identical bucket. */
  def hashBucket(idCol: Column, buckets: Int = 10000): Column = {
    require(buckets > 0 && buckets <= (1 << 20), s"buckets must be in [1, 2^20], got $buckets")
    conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10).cast("long") % buckets
  }

  /** Split label ('train'/'val'/'test'/...) from cumulative weight ranges
    * over the hash-bucket space. Weights are normalized; the LAST label
    * absorbs rounding remainder so every bucket maps to exactly one label. */
  def splitLabel(idCol: Column, weights: Seq[(String, Double)],
                 buckets: Int = 10000): Column = {
    require(weights.nonEmpty, "splitLabel needs at least one (label, weight)")
    require(weights.forall(_._2 > 0), "split weights must be positive")
    val total = weights.map(_._2).sum
    val b = hashBucket(idCol, buckets)
    val thresholds = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(f => math.round(f * buckets))
    // when-chain over cumulative thresholds; final otherwise = last label.
    // A null id must yield a null LABEL, not fall through every null
    // comparison into the last split (a batch of null ids would silently
    // flood the eval split); stratifiedSample's filter drops the same rows.
    val chain = weights.init.zip(thresholds.init)
      .foldRight(lit(weights.last._1): Column) {
        case (((label, _), t), rest) => when(b < t, label).otherwise(rest)
      }
    when(b.isNotNull, chain)
  }

  /** Add a `split` column with a stable train/val/test-style assignment. */
  def splitByHash(df: DataFrame, idCol: String, weights: Seq[(String, Double)],
                  buckets: Int = 10000, out: String = "split"): DataFrame =
    df.withColumn(out, splitLabel(col(idCol), weights, buckets))

  /** Leakage-proof split: assign whole DUPLICATE CLUSTERS to splits, so a
    * near-duplicate of a training document can never land in val/test
    * (the classic eval-leakage failure of id-hash splitting). `pairs` is
    * any dedup pair output ([[Dedup.minhashPairs]], [[Dedup.semantic]]
    * pairs, ...); rows are split by the md5 bucket of their CLUSTER
    * representative — members of one cluster always agree — and rows in
    * no cluster fall back to their own id (identical to [[splitByHash]]).
    *
    * Scale shape: [[Dedup.connectedComponents]]'s O(log n) rounds over
    * the PAIR id universe only, one left join of the (id, cluster) map
    * back to the corpus (broadcast when dups are few), then the same
    * map-only split-label expression as [[splitByHash]]. */
  def splitByCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                     weights: Seq[(String, Double)],
                     idCol1: String = "id1", idCol2: String = "id2",
                     buckets: Int = 10000, out: String = "split"): DataFrame = {
    val comp = graft.pipeline.Dedup.connectedComponents(pairs, idCol1, idCol2)
      .withColumnRenamed("id", idCol)
    df.join(comp, Seq(idCol), "left")
      .withColumn(out,
        splitLabel(coalesce(col("cluster"), col(idCol)), weights, buckets))
      .drop("cluster")
  }

  /** Deterministic stratified sample: keep a per-stratum fraction of rows,
    * selected by hash threshold (NOT rand()), so re-runs and engines agree
    * row-for-row. Strata absent from `fractions` fall back to
    * `defaultFraction` (0 = drop). Null ids are dropped (their bucket is
    * null, matching [[splitLabel]]'s null label). Scale shape: one
    * map+filter pass, the stratum lookup is a compiled when-chain — no
    * join, no shuffle. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0,
                       buckets: Int = 10000): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f => f >= 0 && f <= 1),
      "fractions must be in [0, 1]")
    val b = hashBucket(col(idCol), buckets)
    val threshold = fractions.toSeq.sortBy(_._1).foldRight(
      lit(math.round(defaultFraction * buckets)): Column) {
      case ((stratum, f), rest) =>
        when(col(strataCol).cast("string") === stratum,
          math.round(f * buckets)).otherwise(rest)
    }
    df.filter(b < threshold)
  }

  /** Temperature-based source mixing (α-sampling, the standard
    * pretraining-mixture move): reallocate the corpus total across
    * classes proportionally to `n_c^α` — α < 1 flattens the source
    * distribution so head domains stop drowning the tail — then keep
    * each class's allocation deterministically (smallest md5-rank rows,
    * the [[hashBucket]] philosophy: no rand(), engine-reproducible).
    *
    * A filter cannot upsample, so classes whose allocation exceeds their
    * size keep everything (true α-sampling upsamples tail classes WITH
    * replacement; do that at data-loader time from the allocation this
    * emits). α = 0.5 (the default) uses sqrt, which is IEEE
    * correctly-rounded in every engine — the allocation is
    * bit-reproducible and SQL-oracle-checkable; other α go through pow,
    * whose last-ulp behavior is libm-specific.
    *
    * Scale shape: one small per-class aggregate (map-side combine →
    * class-cardinality rows), weight normalization through the
    * exact-decimal sum (order-free — a double sum over partial
    * aggregates would be partition-order-dependent), a BROADCAST of the
    * class→allocation table, and a per-class md5-rank window — the
    * corpus shuffles once, by class. */
  def temperatureSample(df: DataFrame, classCol: Column, idCol: Column,
                        alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val counts = df.groupBy(classCol.as("__cls")).agg(count(lit(1)).as("__n"))
    val wExpr = if (alpha == 0.5) sqrt(col("__n").cast("double"))
                else org.apache.spark.sql.functions.pow(col("__n").cast("double"), alpha)
    val weights = counts.select(col("__cls"), col("__n"), wExpr.as("__w"))
    val tot = weights.agg(
      graft.functions.WarpAggregates.dsum(col("__w")).as("__wsum"),
      sum(col("__n")).as("__ntot"))
    val targets = weights.crossJoin(broadcast(tot))
      .select(col("__cls"),
        floor(col("__ntot") * col("__w") / col("__wsum")).as("__target"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(classCol).orderBy(md5(idCol.cast("string")), idCol)
    df.join(broadcast(targets), classCol === col("__cls"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__target"))
      .drop("__cls", "__target", "__rn")
  }

  /** Hard per-group cap (the "at most n documents per domain" curation
    * move; complements [[temperatureSample]], which rebalances by class
    * frequency but has no absolute ceiling): keep each group's n
    * smallest-md5-rank rows. Priority is the same portable hash rank the
    * rest of this object uses — deterministic across runs, engines, and
    * cluster sizes, and SQL-oracle-checkable, where `rand()` or "first n
    * seen" would be neither.
    *
    * Scale shape: the plain formulation (`presaltParts = 1`) is one hash
    * exchange by group + per-group sort + row_number — correct at any
    * size, but a web corpus has pathological domains (one host holding
    * 1e8 docs lands its whole sort on one reducer). `presaltParts > 1`
    * switches to two-phase top-n: phase 1 caps each (group, salt)
    * sub-partition at n, bounding every reducer's sort and shrinking a
    * mega-group to ≤ presaltParts·n survivors; phase 2 applies the exact
    * cap on the survivors. The result is IDENTICAL to the plain form for
    * any salt (pinned in PipelineSpec): every row of a group's true
    * top-n is also in the top-n of its own salt bucket, so phase 1 keeps
    * a strict superset. The salt itself (xxhash64 of the id) therefore
    * needs determinism, not portability. */
  def capPerGroup(df: DataFrame, groupCol: Column, idCol: Column, n: Int,
                  presaltParts: Int = 1): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    require(presaltParts >= 1, s"presaltParts must be >= 1, got $presaltParts")
    import org.apache.spark.sql.expressions.Window
    def capped(d: DataFrame, parts: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(parts: _*)
        .orderBy(md5(idCol.cast("string")), idCol)
      d.withColumn("__cap_rn", row_number().over(w))
        .filter(col("__cap_rn") <= n).drop("__cap_rn")
    }
    val survivors =
      if (presaltParts == 1) df
      else capped(df, Seq(groupCol, pmod(xxhash64(idCol), lit(presaltParts))))
    capped(survivors, Seq(groupCol))
  }

  /** Deterministic corpus selection under a global TOKEN budget ("give me
    * exactly ~B tokens of this corpus"): take rows in md5-rank order while
    * the inclusive running token total stays ≤ `budget`. Emits the running
    * total as `out` so downstream (and the SQL oracle) can see exactly
    * where the cut landed.
    *
    * Scale shape — a distributed prefix-sum. The naive formulation (one
    * global ordered window) serializes the whole corpus through a single
    * reducer; instead the md5 rank is split at its first `prefixChars` hex
    * chars into 16^prefixChars ordered buckets (hex-string order == hex
    * value order, and the bucket is a PREFIX of the rank, so
    * (bucket, rank) order == global rank order):
    *  1. per-bucket token totals — a map-side-combined aggregate of
    *     ≤ 16^prefixChars rows;
    *  2. each bucket's starting offset — a running sum over that tiny
    *     aggregate (a single-partition window over ≤ 4096 rows, bounded
    *     by construction, never by the corpus);
    *  3. broadcast-join offsets back and window WITHIN each bucket —
    *     parallel across buckets, exact long arithmetic throughout.
    * Nothing is collected to the driver; the corpus shuffles once (by
    * bucket for the per-bucket window). Null ids are dropped (the
    * [[splitLabel]] null discipline); null token counts count 0. */
  def takeTokenBudget(df: DataFrame, idCol: Column, tokensCol: Column,
                      budget: Long, prefixChars: Int = 2,
                      out: String = "cum_tokens"): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    withRunningTokens(df, idCol, tokensCol, prefixChars, out)
      .filter(col(out) <= budget)
  }

  /** The distributed prefix-sum core shared by [[takeTokenBudget]] and
    * [[assignShards]]: adds `out` = the inclusive running token total in
    * global (md5(id), id) order, computed without a global window (see
    * [[takeTokenBudget]]'s scaladoc for the bucket decomposition). */
  private def withRunningTokens(df: DataFrame, idCol: Column, tokensCol: Column,
                                prefixChars: Int, out: String): DataFrame = {
    require(prefixChars >= 1 && prefixChars <= 3,
      s"prefixChars must be in [1, 3], got $prefixChars")
    import org.apache.spark.sql.expressions.Window
    val rank = md5(idCol.cast("string"))
    val bucket = substring(rank, 1, prefixChars)
    val toks = coalesce(tokensCol.cast("long"), lit(0L))
    val tagged = df.withColumn("__tb_rank", rank)
      .withColumn("__tb_bucket", bucket)
      .withColumn("__tb_n", toks)
      .filter(col("__tb_rank").isNotNull)
    val totals = tagged.groupBy(col("__tb_bucket").as("__tb_b"))
      .agg(sum(col("__tb_n")).as("__tb_tot"))
    val offsets = totals.withColumn("__tb_offset",
      coalesce(sum(col("__tb_tot")).over(Window.orderBy(col("__tb_b"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__tb_tot")
    val wIn = Window.partitionBy(col("__tb_bucket"))
      .orderBy(col("__tb_rank"), idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.join(broadcast(offsets), col("__tb_bucket") === col("__tb_b"))
      .withColumn(out, col("__tb_offset") + sum(col("__tb_n")).over(wIn))
      .drop("__tb_rank", "__tb_bucket", "__tb_n", "__tb_b", "__tb_offset")
  }

  /** Deterministic size-balanced shard assignment (the export layout move:
    * training corpora ship as ~fixed-token shards plus a manifest): shard
    * k holds the rows whose EXCLUSIVE running token total (in md5-rank
    * order) falls in [k·tokensPerShard, (k+1)·tokensPerShard) — every
    * shard lands within one document of the target size, assignment is a
    * pure function of (corpus, budget) with no rand() and no dependence on
    * physical partitioning, and any engine can recompute it (the SQL
    * oracle does). Built on the same distributed prefix-sum as
    * [[takeTokenBudget]] — no global window, no driver state. */
  def assignShards(df: DataFrame, idCol: Column, tokensCol: Column,
                   tokensPerShard: Long, prefixChars: Int = 2,
                   out: String = "shard_id"): DataFrame = {
    require(tokensPerShard > 0, s"tokensPerShard must be positive, got $tokensPerShard")
    val toks = coalesce(tokensCol.cast("long"), lit(0L))
    withRunningTokens(df, idCol, tokensCol, prefixChars, "__tb_cum")
      .withColumn(out, floor((col("__tb_cum") - toks) / tokensPerShard).cast("long"))
      .drop("__tb_cum")
  }

  /** Physically write an [[assignShards]] assignment as a hive-layout
    * corpus: one directory (and, via the pre-repartition, one file) per
    * shard — the on-disk form training jobs consume, and the layout that
    * lets a reader open exactly the shards it was assigned. The
    * repartition keys on the shard id so each output directory is written
    * by one task: without it every task appends a file fragment to every
    * shard directory (files ∝ tasks × shards). Parquet here; the ORC
    * sibling is [[graft.sources.OrcSource.write]]'s partitionBy. */
  def writeShardedCorpus(assigned: DataFrame, path: String,
                         shardCol: String = "shard_id"): Unit =
    assigned
      .repartition(col(shardCol))
      .write.mode("overwrite").partitionBy(shardCol).parquet(path)

  /** Per-shard manifest over an [[assignShards]] assignment: document and
    * token counts plus an order-free content checksum (sum of each id's
    * 32-bit md5 prefix — portable integer arithmetic any engine
    * reproduces, and enough to catch a dropped/duplicated/moved row).
    * One map-side-combined aggregate, shard-count rows out. */
  def shardManifest(df: DataFrame, idCol: Column, tokensCol: Column,
                    shardCol: Column): DataFrame =
    df.groupBy(shardCol.as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(tokensCol.cast("long"), lit(0L))).as("token_total"),
        sum(conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10).cast("long"))
          .as("id_checksum"))

  /** Domain-balanced score filtering: keep the top `frac` of rows PER
    * SHARD by `scoreCol` (the curation move that a global threshold gets
    * wrong — one high-scoring domain would crowd out every other). Rank
    * position is percent_rank over (score desc, tie), so the cut is
    * exact, reproducible, and engine-portable: percent_rank is the
    * integer ratio (rank-1)/(n-1), and `tieCol` (unique per shard) makes
    * the ordering total — no nondeterministic boundary rows.
    *
    * Scale shape: one exchange hash-partitioned by shard + a per-shard
    * sort — the same shape as [[graft.pipeline.Packing.packSequences]];
    * nothing global, nothing collected. Shards must be numerous enough
    * to spread (domains/files, not a 3-value column) — the same contract
    * as any partitioned window. */
  /** Deterministic weighted sample WITHOUT replacement
    * (Efraimidis–Spirakis priority sampling): each row gets priority
    * `ln(u)/w` with `u` a uniform in (0,1] derived from the id's md5 (the
    * [[hashBucket]] philosophy — no rand(), engine-reproducible), and the
    * sample is the top-`n` priorities. Inclusion probability is
    * proportional to weight, the draw is identical on every engine that
    * can md5, and the plan is map + TakeOrderedAndProject (per-partition
    * heaps — nothing global, nothing shuffled but n rows per task).
    * Rows with null or non-positive weight are excluded. */
  def weightedSample(df: DataFrame, idCol: Column, weightCol: Column,
                     n: Int): DataFrame = {
    require(n > 0, s"n must be > 0, got $n")
    // 32 hash bits + 1 keeps u strictly positive: ln(0) would be -inf
    val u = (conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10)
      .cast("double") + 1.0) / 4294967297.0
    df.filter(weightCol > 0)
      .withColumn("__pri", log(u) / weightCol)
      .orderBy(col("__pri").desc, idCol)
      .limit(n)
      .drop("__pri")
  }

  /** DoReMi-style one-round mixture reweighting over a per-group COST
    * signal: each group's sampling weight moves multiplicatively by
    * `exp(eta * (cost - mean))` from its document-share baseline, then
    * renormalizes — upweights cheap (or downweights expensive) slices in
    * one deterministic step (pass a negative `eta` to invert). The
    * cross-engine discipline: `cost` must arrive ALREADY
    * published-rounded (both engines exponentiate identical inputs), the
    * doc-weighted mean is computed in exact decimal and published at 12
    * decimals, and the normalizing sum runs over decimal-cast factors
    * (double summation order never touches the result). Input: one row
    * per group with (docs: long, cost: a 9dp-published DECIMAL — e.g.
    * [[graft.pipeline.TextAnalysis.ratioDecimal9]]'s DECIMAL(18,9) — or
    * a round(x, 9) double). Output adds excess, factor and weight
    * (rounded 9). Group-bounded frame throughout — scales trivially. */
  def mixtureReweight(perGroup: DataFrame, docsCol: Column, costCol: Column,
                      eta: Double): DataFrame = {
    // integer discipline end-to-end: cost re-published as a 9dp-scaled
    // long, the doc-weighted mean as a 12dp-scaled long via floor
    // division of positives (identical in every engine), excess as their
    // exact integer difference — so exp() sees bit-identical doubles on
    // both sides. The scaled numerator bounds the gauge at ~9.2e15
    // doc·cost mass; past that `__snum * 1000` would wrap silently in
    // non-ANSI long arithmetic while the DuckDB oracle's BIGINT cast
    // errors loudly, so the bound is RUNTIME-enforced here with
    // assert_true (evaluated in-plan on the 1-row aggregate — the
    // filter on the null-returning check column forces it) to make
    // overflow equally loud on the Spark side.
    // exact decimal re-publish: cast to DECIMAL(20,9) (HALF_UP at 9dp —
    // a no-op when cost is already a 9dp decimal, equal to round(x, 9)
    // when it is a double) then an EXACT decimal multiply by 1e9 — no
    // double product anywhere, so a DECIMAL(18,9) cost survives to __c9
    // bit-exactly on any engine
    val base = perGroup
      .withColumn("__docs", docsCol.cast("long"))
      .withColumn("__c9",
        (costCol.cast(org.apache.spark.sql.types.DecimalType(20, 9)) *
          lit(1000000000L).cast(org.apache.spark.sql.types.DecimalType(10, 0)))
          .cast("long"))
    val tot = base.agg(
        sum(col("__docs")).as("__t_docs"),
        sum(col("__docs") * col("__c9")).as("__snum"))
      .withColumn("__chk", expr(
        "assert_true(abs(__snum) < 9223372036854775L, " +
          "'mixtureReweight: |sum(docs*cost9)| exceeds the exact-long " +
          "budget (~9.2e15); pre-aggregate coarser slices')"))
      .filter(col("__chk").isNull).drop("__chk")
    val withF = base.crossJoin(broadcast(tot))
      .withColumn("__mean12",
        expr("(__snum * 1000L + __t_docs div 2L) div __t_docs"))
      .withColumn("__ex12", col("__c9") * 1000L - col("__mean12"))
      .withColumn("excess", col("__ex12").cast("double") / lit(1e12))
      .withColumn("factor",
        (col("__docs").cast("double") / col("__t_docs").cast("double")) *
          exp(lit(eta) * col("excess")))
    val norm = withF.agg(
      sum(col("factor").cast("decimal(28,15)")).as("__z"))
    withF.crossJoin(broadcast(norm))
      .withColumn("weight",
        round(col("factor").cast("decimal(28,15)") / col("__z"), 9)
          .cast("double"))
      .drop("__docs", "__c9", "__t_docs", "__snum", "__mean12", "__ex12", "__z")
      .withColumn("factor", round(col("factor"), 12))
  }

  /** Exact-k uniform sample PER GROUP (per-source eval-set carving):
    * rank rows inside each group by the md5 priority of their id (the
    * repo-wide rand()-free discipline — deterministic, engine-portable)
    * and keep the k smallest. Groups with fewer than k rows keep all.
    * One hash exchange on the group key + a per-group top-k window
    * (WindowGroupLimit keeps per-partition heaps, never a full sort) —
    * scales like any per-group top-k. Null ids are dropped (the
    * [[splitByHash]] null discipline). */
  def sampleKPerGroup(df: DataFrame, idCol: Column, groupCol: Column,
                      k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(md5(idCol.cast("string")), idCol)
    df.filter(idCol.isNotNull)
      .withColumn("__skg_rn", row_number().over(w))
      .filter(col("__skg_rn") <= k)
      .drop("__skg_rn")
  }

  def keepTopFraction(df: DataFrame, scoreCol: Column, shardCol: Column,
                      tieCol: Column, frac: Double,
                      out: String = "keep_frac"): DataFrame = {
    require(frac >= 0 && frac <= 1, s"frac must be in [0, 1], got $frac")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy(scoreCol.desc, tieCol)
    df.withColumn(out, percent_rank().over(w)).filter(col(out) <= frac)
  }

  /** The md5-derived u32 of an id — the hash-threshold membership key
    * shared by [[adaptiveSample]] and its oracle
    * (`('0x' || substr(md5(id), 1, 8))::BIGINT` in DuckDB). */
  private def hashU32(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10).cast("long")

  /** Certainty-driven sample sizing — the engine-grade analog of the
    * reference's adaptive interactive sampling
    * (Warp/Sources/Controller/QBECalculator.swift:55-167, which grows a
    * sample until the estimate's confidence interval is tight enough for
    * the UI). The batch form sizes the sample ONCE from a deterministic
    * pilot instead of iterating against a wall-clock deadline: a
    * ~`pilotN`-row pilot (md5-hash-threshold membership — rand()-free,
    * engine-replayable) estimates mean and sample deviation of `valueCol`
    * with the decimal-exact variance recipe, the standard sample-size
    * formula n = ceil(((z·s)/(relErr·|mean|))²) picks the row budget for
    * the requested relative error at confidence z, and the sample is the
    * hash-threshold slice of that fraction (clamped to [pilot, total]).
    *
    * Returns a ONE-ROW report: (total, pilot_n, pilot_mean, pilot_sd,
    * required_n, sample_n, sample_mean), doubles rounded to 9 — every
    * step replays in the `q_adaptive_sample` DuckDB oracle, driver
    * arithmetic included. [[sampleMembers]] exposes the chosen slice
    * itself as a map-only membership filter.
    *
    * Scale shape: one count + two full-scan one-row aggregates (pilot and
    * sample, both map-side-combined hash-threshold filters) — no sort, no
    * per-row shuffle; the sample predicate streams. A zero/degenerate
    * pilot mean falls back to the full frame (required_n = total). */
  def adaptiveSample(df: DataFrame, idCol: String, valueCol: String,
                     relErr: Double = 0.05, z: Double = 1.96,
                     pilotN: Long = 200L): DataFrame = {
    require(relErr > 0 && z > 0 && pilotN > 0,
      s"need relErr, z, pilotN > 0; got $relErr/$z/$pilotN")
    val spark = df.sparkSession
    import org.apache.spark.sql.types.DecimalType
    val total = df.count()
    require(total > 0, "cannot adaptively sample an empty frame")
    def cutFor(n: Long): Long =
      math.floor(math.min(1.0, n.toDouble / total.toDouble) * 4294967296.0).toLong
    val x = col(valueCol).cast("double")
    def statsBelow(cut: Long) = df
      .filter(hashU32(col(idCol)) < cut)
      .agg(count(x).as("n"),
        sum(x.cast(DecimalType(30, 15))).cast("double").as("s"),
        sum((x * x).cast(DecimalType(30, 15))).cast("double").as("sq"))
      .head()
    val cutP = cutFor(pilotN)
    val p = statsBelow(cutP)
    val nP = p.getLong(0)
    require(nP > 1, s"pilot captured $nP rows; raise pilotN")
    val sP = p.getDouble(1); val sqP = p.getDouble(2)
    val meanP = sP / nP.toDouble
    val varP = (sqP - sP * sP / nP.toDouble) / (nP.toDouble - 1.0)
    val sdP = math.sqrt(math.max(varP, 0.0))
    val nReq =
      if (meanP == 0.0) total
      else {
        val t = (z * sdP) / (relErr * math.abs(meanP))
        math.max(nP, math.min(total, math.ceil(t * t).toLong))
      }
    val cutS = cutFor(nReq)
    val smp = statsBelow(cutS)
    val nS = smp.getLong(0)
    val meanS = if (nS == 0) 0.0 else smp.getDouble(1) / nS.toDouble
    import spark.implicits._
    Seq((total, nP, meanP, sdP, nReq, nS, meanS))
      .toDF("total", "pilot_n", "pilot_mean", "pilot_sd",
        "required_n", "sample_n", "sample_mean")
      .select(col("total"), col("pilot_n"),
        round(col("pilot_mean"), 9).as("pilot_mean"),
        round(col("pilot_sd"), 9).as("pilot_sd"),
        col("required_n"), col("sample_n"),
        round(col("sample_mean"), 9).as("sample_mean"))
  }

  /** The rows of [[adaptiveSample]]'s chosen slice, as a map-only
    * membership filter over the required_n it reported. */
  /** Diversity coreset by k-center GREEDY (farthest-point) selection over
    * an embedding column — the classic 2-approximation to the k-center
    * cover, used to pick a maximally-spread document subset (seed sets,
    * eval panels, annotation batches). Fully deterministic: the first
    * center is the smallest id; each later step picks the point with the
    * LARGEST squared distance to its nearest chosen center, ties to the
    * smallest id; chosen points leave the pool (duplicate vectors are
    * never re-picked). Output is one row per step, fewer than k if the
    * corpus runs out of rows first: `(step, <id>, min_dist)`
    * where min_dist is the point's distance to the previously chosen
    * centers at selection time (the covering radius before that step;
    * NULL for step 1).
    *
    * Arithmetic is the [[Cluster.kmeansAssign]] recipe — `n2 + c2 − 2·dot`
    * with left-fold dots — so a SQL engine unrolling the same rounds
    * reproduces every pick and distance bit-for-bit.
    *
    * Scale shape (100 TB): each step is ONE map pass (a single dot kernel
    * against the new center, `least` with the running minimum) plus a
    * TakeOrdered(1); the running minimum is pinned per step so
    * step cost stays O(1) kernels/row regardless of k. The driver holds k
    * centers. At corpus scale run the selection on a deterministic hash
    * sample ([[splitByHash]]) — greedy k-center saturates far below full
    * data — then the chosen ids index back into the corpus. */
  def kCenterGreedy(df: DataFrame, vecCol: String, idCol: String,
                    k: Int): DataFrame =
    Materialize(df.sparkSession) { m =>
    require(k > 0, s"k must be positive, got $k")
    val spark = df.sparkSession
    def c2of(c: Array[Double]): Double = c.foldLeft(0.0)((acc, x) => acc + x * x)
    def distTo(c: Array[Double]): Column =
      col("__n2") + lit(c2of(c)) -
        lit(2.0) * Similarity.dot(col("__v"), typedLit(c.toSeq))
    val base = m.pin(df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__n2", Similarity.dot(col("__v"), col("__v"))))
    val first = base.orderBy(col("__id")).limit(1).collect()
    require(first.nonEmpty, "kCenterGreedy: empty input")
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Any, Any)](
      (1, first(0).get(0), null))
    // chosen points leave the candidate pool (a duplicate vector would
    // otherwise be re-pickable at distance 0); fewer than k distinct
    // rows ends the selection early with the rows that exist
    var cur = m.pin(base
      .filter(col("__id") =!= lit(first(0).get(0)))
      .withColumn("__mind", distTo(Similarity.vecToDouble(first(0).getSeq[Any](1)))))
    var step = 2
    var exhausted = false
    while (step <= k && !exhausted) {
      val tops = cur.orderBy(col("__mind").desc, col("__id")).limit(1)
        .collect()
      if (tops.isEmpty) exhausted = true
      else {
        val top = tops(0)
        val d = top.getDouble(3)
        picks += ((step, top.get(0),
          BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble))
        if (step < k) {
          val next = m.pin(cur
            .filter(col("__id") =!= lit(top.get(0)))
            .withColumn("__mind",
              least(col("__mind"),
                distTo(Similarity.vecToDouble(top.getSeq[Any](1))))))
          m.drop(cur); cur = next
        }
      }
      step += 1
    }
    val idType = base.schema("__id").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("step",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField(idCol, idType),
      org.apache.spark.sql.types.StructField("min_dist",
        org.apache.spark.sql.types.DoubleType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      picks.map(p => org.apache.spark.sql.Row(p._1, p._2, p._3)).asJava,
      schema)
  }

  def sampleMembers(df: DataFrame, idCol: String, requiredN: Long,
                    total: Long): DataFrame = {
    require(total > 0 && requiredN >= 0, "need total > 0, requiredN >= 0")
    val cut = math.floor(
      math.min(1.0, requiredN.toDouble / total.toDouble) * 4294967296.0).toLong
    df.filter(hashU32(col(idCol)) < cut)
  }

  /** Deterministic multi-epoch training-order shuffle, shard-local.
    *
    * Training loaders want a different, reproducible document order per
    * epoch. The naive shape — `ORDER BY md5(epoch || id)` with a global
    * row_number — is a single-partition window and cannot run at corpus
    * scale. The scale-correct shape (and how sharded training data is
    * actually laid out) is per-SHARD order: each (epoch, id) hashes to a
    * shard by one md5 bucket, then gets its position WITHIN the shard by
    * row_number over the hash — a window partitioned by (epoch, shard),
    * every partition bounded at ~rows/shards. The loader reads shards in
    * shard order; concatenated per-shard orders form the epoch's schedule.
    * Both hops are engine-portable md5 arithmetic — no `rand()` — so a SQL
    * oracle reproduces the exact schedule.
    */
  def epochShuffle(df: DataFrame, idCol: String, epochs: Int,
                   shards: Int): DataFrame = {
    require(epochs >= 1 && epochs <= 64, s"epochs must be in [1, 64], got $epochs")
    require(shards >= 1 && shards <= (1 << 20), s"shards must be in [1, 2^20], got $shards")
    import org.apache.spark.sql.expressions.Window
    val e = explode(array((0 until epochs).map(lit): _*)).as("epoch")
    val h = md5(concat_ws(":", col("epoch"), col(idCol).cast("string")))
    df.select(col(idCol)).select(col(idCol), e)
      .withColumn("h", h)
      .withColumn("shard",
        conv(substring(col("h"), 1, 8), 16, 10).cast("long") % shards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("h"), col(idCol))))
      .select(col("epoch"), col("shard"), col("pos"), col(idCol))
  }
}
