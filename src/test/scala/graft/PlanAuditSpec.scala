package graft

import org.apache.spark.sql.functions._
import graft.ops.WarpOps._

/** Executable plan audits: the physical-plan properties that make these
  * operators survive a 100x scale-up, asserted so a regression (a lost
  * pushdown, a surprise cartesian, a de-parallelized window) fails CI
  * instead of shipping. */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_calc_filter: predicates reach the parquet scan (PushedFilters)") {
    val p = plan("q_calc_filter")
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p.take(2000))
    assert(p.contains("LessThan(l_qu"), p.take(2000)) // plan string truncates the list
  }

  test("q1_agg: partial (map-side) aggregation before the shuffle") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllMatchIn(p).length >= 2, p.take(2000))
    // scan reads only the referenced columns
    assert(!p.contains("l_comment"), "column pruning lost")
  }

  test("q_join_left: small filtered dimension broadcasts") {
    assert(plan("q_join_left").contains("BroadcastHashJoin"))
  }

  test("q_embed_topk: top-k via per-partition heaps, no global sort") {
    assert(plan("q_embed_topk").contains("TakeOrderedAndProject"))
  }

  test("query-vector norm constant-folds to a literal (not a per-row fold)") {
    // cosine(v, qLit) = vec_dot(v,q) / (norm(v) * norm(qLit)); with
    // DotProductExpr foldable, Catalyst folds sqrt(vec_dot(qLit,qLit)) to
    // ONE double literal — a non-foldable kernel re-runs the dim-length
    // loop per scanned row in every brute/probe scoring pass
    // exactly two kernels survive: vec_dot(v, qLit) and vec_dot(v, v) for
    // norm(v); the third — norm(qLit)'s vec_dot(qLit, qLit) — must be gone
    val p = SparkEntry.queries("q_embed_topk")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert("vec_dot".r.findAllMatchIn(p).length == 2, p.take(2000))
  }

  test("multi-field kernel queries run ONE kernel call per row (subexpr elim)") {
    // q_text_pii derives 4 columns from piiScan and q_text_quality derives
    // 4 of its 5 from textStats; whole-stage codegen's subexpression
    // elimination must collapse these to one compute() call per row —
    // losing it (e.g. by marking the kernels nondeterministic) would
    // silently multiply the per-row cost by the fan-out
    // probed on the bare projection (the sort stage above it would wrap
    // the plan in a not-yet-final AdaptiveSparkPlan whose codegen is not
    // inspectable before execution)
    import org.apache.spark.sql.execution.debug.codegenString
    import graft.pipeline.{TextAnalysis => TA}
    val docs = catalog.Shared.T(spark, dir, "documents")
    def calls(q: org.apache.spark.sql.DataFrame, needle: String): Int =
      needle.r.findAllIn(codegenString(q.queryExecution.executedPlan)).length
    val pii = docs.select(
      TA.piiEmailCount(col("text")).as("e"), TA.piiIpv4Count(col("text")).as("i"),
      TA.piiPhoneCount(col("text")).as("p"), TA.redactPii(col("text")).as("r"))
    assert(calls(pii, "PiiScanExpr\\.compute") == 1)
    val quality = docs.select(
      TA.tokenCountWs(col("text")).as("a"), TA.tokenCountBpe(col("text")).as("b"),
      TA.punctRatio(col("text")).as("c"), TA.meanWordLength(col("text")).as("d"))
    assert(calls(quality, "TextStatsExpr\\.compute") == 1)
    // the fertility report's two sums ride one class-counts call per row (AQE
    // off: its exchange would hide the generated code behind query stages)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(calls(TA.fertilityReport(docs, Seq("source", "lang"), "text"),
      "ClassCountsExpr\\.compute") == 1)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q_embed_ivf_batch: corpus streams into a broadcast cell-join, top-k pre-pruned") {
    val p = plan("q_embed_ivf_batch")
    // queries broadcast; the corpus side of the join never shuffles
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // rank()<=k is applied per partition BEFORE the window's shuffle
    // (WindowGroupLimit), so the exchange carries per-partition top-k
    // survivors, not every candidate pair
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    // exactly two non-broadcast exchanges: the qid window + the
    // presentation sort — nothing reshuffles the corpus
    assert("Exchange (?!.*BroadcastExchange)".r.findAllMatchIn(
      p.linesIterator.filterNot(_.contains("BroadcastExchange")).mkString("\n"))
      .length == 2, p.take(2000))
  }

  test("q_embed_ivf: probe prunes non-probed cells at the file level") {
    // the __cell isin filter must appear as a PartitionFilter on the scan
    // (file-level pruning), not a post-scan Filter over all cells
    assert(plan("q_embed_ivf").contains("PartitionFilters: [__cell"),
      plan("q_embed_ivf").take(2000))
  }

  test("q_embed_recall_ivf: probe join broadcasts queries; corpus never reshuffles for it") {
    val p = plan("q_embed_recall_ivf")
    // the probed-cell join must be a broadcast hash join on __cell (the
    // 64-query side broadcasts); a shuffled join here would reshuffle the
    // corpus once per recall evaluation
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // both top-k windows pre-prune per partition before their shuffle
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q_embed_recall_lsh: Hamming gate inside the probe join, before any cosine") {
    val p = plan("q_embed_recall_lsh")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("bits_hamming"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q_embed_knn_lsh: sketch gate runs inside the join, before any cosine") {
    val p = plan("q_embed_knn_lsh")
    // the all-pairs enumeration is a DELIBERATE broadcast nested-loop join
    // whose condition is the cheap native Hamming gate — survivors only
    // reach the projected dot product
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("bits_hamming"), p.take(2000))
  }

  /** No shuffle at all: the presentation sort of a small scored scan is
    * one sorted partition (graft.plans.SmallSort), so any Exchange would
    * mean the scoring itself started shuffling. */
  private def mapOnlyThenOneSortedPartition(p: String): Unit = {
    assert(!p.contains("Exchange"), p.take(2000))
    assert("""Sort \[.*\], false""".r.findFirstIn(p).isDefined, p.take(2000))
    assert(p.contains("Coalesce 1"), p.take(2000))
  }

  test("q_text_repetition: scoring is one map pass; one sorted partition, no shuffle") {
    val p = plan("q_text_repetition")
    // the native token_stats kernel keeps all four ratios in one projection
    // over the scan
    mapOnlyThenOneSortedPartition(p)
    assert(p.contains("token_stats"), p.take(2000))
  }

  test("q_classify_score: trained-filter scoring is map-only; features computed once") {
    val p = plan("q_classify_score")
    // scoring with literal weights must stay a stacked pair of map-only
    // projects over the scan
    mapOnlyThenOneSortedPartition(p)
    // the feature array is materialized in its OWN projection (the
    // multiply-referenced __feat alias keeps CollapseProject away): the
    // sigmoid reads it 6 times, so a collapsed plan would repeat every
    // kernel once per weight — lang_scores appears once in the feature
    // array, so exactly one occurrence proves the projection survived
    // (text_stats repeats WITHIN the feature array; runtime subexpression
    // elimination dedups that, pinned by the kernel-CSE test above)
    assert(p.contains("__feat_text"), p.take(2000))
    assert("lang_scores".r.findAllMatchIn(p).length == 1, p.take(2000))
    // only the two needed columns are read
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p.take(2000))
  }

  test("q_agg_median_scalable: exact median with no whole-group buffer") {
    val p = plan("q_agg_median_scalable")
    // the point of the bracket path: the only sketchy aggregate is the
    // bounded percentile sketch — never Spark's buffering `median` or a
    // collect_list of the group
    assert(p.contains("percentile_approx"), p.take(2000))
    assert(!p.contains("median("), p.take(2000))
    assert(!p.contains("collect_list"), p.take(2000))
    // the pack twin rides the same bracket — same no-buffer contract
    val pp = plan("q_agg_medianpack_scalable")
    assert(pp.contains("percentile_approx") && !pp.contains("collect_list"),
      pp.take(2000))
  }

  test("dedup pair queries never degrade to cartesian/nested-loop joins") {
    // the pair operators pin their result, which collapses the returned
    // plan to a checkpoint scan — audit the plans the pins executed
    val docs = catalog.Shared.T(spark, dir, "documents")
    for ((name, run) <- Seq[(String, () => Any)](
        "minhashPairs" -> (() => graft.pipeline.Dedup.minhashPairs(docs, "text", "doc_id",
          shingleSize = 5, numHashes = 64, bands = 16, jaccardThreshold = 0.5)),
        "q_dedup_simhash" -> (() => SparkEntry.queries("q_dedup_simhash")(spark, dir)))) {
      val plans = checkpointPlans(run()).map(_.toString)
      assert(plans.nonEmpty, s"$name pinned nothing")
      for (p <- plans) {
        assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join")
      }
    }
    // q_dedup_fuzzy: the MAIN pair generation must be the (t, i, s) equi
    // block join; a cartesian is legal ONLY for the tiny bucket (keys
    // shorter than maxDist+1 chars — a complete graph by definition),
    // whose inputs are both tiny-length-filtered
    val fuzzy = SparkEntry.queries("q_dedup_fuzzy")(spark, dir)
      .queryExecution.executedPlan
    val nested = fuzzy.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    nested.foreach { j =>
      j.children.foreach { side =>
        val hasTinyFilter = side.collect {
          case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("< 5") => f
        }.nonEmpty
        assert(hasTinyFilter,
          s"cartesian side lacks the tiny-length filter:\n${side.toString.take(1500)}")
      }
    }
  }

  test("q_dedup_bloom: bloom gate filters map-side BEFORE the exact semi-join") {
    val p = plan("q_dedup_bloom")
    assert(p.contains("might_contain"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    // the gate must sit BELOW the semi-join in the probe branch: the first
    // might_contain occurrence (top-down print) comes AFTER the join node
    // only if the gate were applied post-join — assert the opposite order
    val joinAt = p.indexOf("LeftSemi")
    val gateAt = p.indexOf("might_contain")
    assert(joinAt >= 0 && gateAt > joinAt,
      s"bloom gate not below the semi-join (join@$joinAt gate@$gateAt)")
  }

  test("operator BUILD runs no Spark job (no plan-time scans/collects)") {
    // removeBoilerplateLines once ran a driver-side count() and warpPivot
    // an eager distinct-label collect at plan-BUILD time — a full extra
    // scan before the query even runs at 100 TB. (Targets the operators on
    // pre-read DataFrames: a session's first open of a table launches a
    // footer schema-inference job, which is a source concern, not an
    // operator one.)
    val docs = catalog.Shared.T(spark, dir, "documents")
      .withColumn("lined", translate(col("text"), " ", "\n"))
    val li = catalog.Shared.T(spark, dir, "lineitem")
    val built = jobsStarted {
      graft.pipeline.TextAnalysis.removeBoilerplateLinesByFrac(
        docs, "doc_id", "lined", minDocFrac = 0.78)
      li.warpPivot(Seq(col("l_linestatus")), Seq("l_returnflag"),
        sum("l_quantity"), values = Seq("F", "O"))
      li.warpFilter(col("l_discount") >= 0.05) // type probe must not analyze eagerly either
    }
    assert(built == 0, s"plan build ran $built job(s)")
  }

  // AdaptiveSparkPlanExec has no children, so collect() over the
  // executedPlan sees nothing — audit the pre-AQE plan (exchange
  // placement is decided there; AQE only re-plans at runtime)
  private def preAqePlan(name: String): org.apache.spark.sql.execution.SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case other => other
    }

  private def shuffles(p: org.apache.spark.sql.execution.SparkPlan) =
    p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }

  test("q_curate: text is projected away before the dedup shuffle") {
    // the curation pipeline's one shuffle keys on the 16-byte md5
    // fingerprint; if the raw text column ever rides through that
    // exchange, shuffle volume scales with document size instead of
    // row count and the pipeline stops being 100 TB-shaped
    val exchanges = shuffles(preAqePlan("q_curate"))
    assert(exchanges.nonEmpty, "expected the fingerprint dedup shuffle")
    for (e <- exchanges)
      assert(!e.child.output.exists(_.name == "text"),
        s"text column crosses a shuffle: ${e.child.output.map(_.name)}")
  }

  test("q_contamination: no string column crosses any shuffle") {
    // gram hashes (8-byte longs) are the join currency; if gram STRINGS
    // ever cross an exchange, shuffle volume scales with n*avg-word-len
    // per gram instead of 8 bytes
    val p = preAqePlan("q_contamination")
    val exchanges = shuffles(p)
    assert(exchanges.nonEmpty, "expected the overlap-count shuffle")
    for (e <- exchanges)
      assert(!e.child.output.exists(_.dataType ==
        org.apache.spark.sql.types.StringType),
        s"string column crosses a shuffle: ${e.child.output.map(a => s"${a.name}:${a.dataType}")}")
    // the probe side broadcasts into the gram join
    assert(p.toString.contains("BroadcastHashJoin"))
  }

  test("q_text_oov: top-K vocabulary via per-partition heaps, then broadcast") {
    // vocabulary selection must be TakeOrdered (per-partition heaps),
    // not a global sort, and must BROADCAST into the scoring join so the
    // exploded corpus side never shuffles for the join. Node-match, not
    // string-match: the vocabulary subtree hangs under a
    // BroadcastExchange whose toString is elided in the outer tree.
    val p = preAqePlan("q_text_oov")
    def count(pred: org.apache.spark.sql.execution.SparkPlan => Boolean): Int =
      p.collect { case n if pred(n) => n }.length +
        p.subqueriesAll.flatMap(_.collect { case n if pred(n) => n }).length
    val s = p.toString
    assert(count(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]) >= 1 ||
      s.contains("TakeOrderedAndProject"), s.take(2000))
    assert(count(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]) >= 1 ||
      s.contains("BroadcastHashJoin"), s.take(2000))
  }

  test("q_dedup_spans: winner election shuffles hashes, not span text") {
    // keep-first is resolved on (xxhash64, id, pos): the aggregation
    // exchange must carry the 8-byte hash + position struct only — if
    // span STRINGS cross the winner-election shuffle, volume scales with
    // corpus bytes instead of unique-span count
    val p = preAqePlan("q_dedup_spans")
    val winnerExchanges = shuffles(p).filter(_.child.output.exists(_.name == "__h"))
    assert(winnerExchanges.nonEmpty, "expected the winner-election shuffle on __h")
    for (e <- winnerExchanges)
      assert(!e.child.output.exists(_.dataType ==
        org.apache.spark.sql.types.StringType),
        s"span text crosses the winner shuffle: ${e.child.output.map(a => s"${a.name}:${a.dataType}")}")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"), s.take(2000))
  }

  test("q_tfidf_terms: per-document top-k is rank-limited before the shuffle") {
    // the k-per-document filter must run as WindowGroupLimit with a
    // PARTIAL pass ahead of the window exchange — without it every
    // (doc, term) row shuffles to the window instead of k per partition
    val s = preAqePlan("q_tfidf_terms").toString
    assert("WindowGroupLimit".r.findAllMatchIn(s).length >= 2, s.take(2000))
  }

  test("q_pack_sequences: running total is shard-partitioned, never global") {
    // the cumulative token sum must window over hashpartitioning(source)
    // — a global (SinglePartition) window would serialize the corpus
    // through one task at 100 TB
    val p = preAqePlan("q_pack_sequences")
    val s = p.toString
    assert(s.contains("hashpartitioning(source"), s.take(2000))
    val winExchanges = shuffles(p).filter(
      _.outputPartitioning.toString.contains("source"))
    assert(winExchanges.nonEmpty && winExchanges.forall(
      !_.outputPartitioning.toString.contains("SinglePartition")))
  }

  test("q_embed_topk_q8: quantized probe is map-only into per-partition heaps") {
    val p = preAqePlan("q_embed_topk_q8")
    val s = p.toString
    assert(s.contains("TakeOrderedAndProject"), s.take(2000))
    assert(shuffles(p).isEmpty, "quantized probe must not shuffle")
    // the staged min/max/scale aliases must stay materialized: re-inlined
    // into the coding lambda by CollapseProject they re-reduce the vector
    // once per ELEMENT (interpreted HOF lambdas re-evaluate bound exprs)
    assert("lambdafunction[^\\n]*array_min".r.findFirstIn(s).isEmpty,
      "array_min re-inlined into the transform lambda")
  }

  test("q_temperature_mix: allocations broadcast; rank window per class") {
    val p = preAqePlan("q_temperature_mix")
    val s = p.toString
    // the class->allocation table must broadcast into the corpus (a
    // shuffle join would move the corpus for a class-cardinality table)
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
    assert(s.contains("hashpartitioning(source"), s.take(2000))
  }

  test("q_quality_topfrac: per-shard cut windows over hashpartitioning, not global") {
    val p = preAqePlan("q_quality_topfrac")
    val s = p.toString
    assert(s.contains("hashpartitioning(source"), s.take(2000))
    assert(!s.contains("SinglePartition"), "global window in the per-shard cut")
  }

  test("q_token_budget: prefix-sum windows per bucket; offsets broadcast back") {
    // the corpus-side running sum must window over hashpartitioning of the
    // rank-prefix bucket — the ONLY single-partition window allowed is the
    // one over the <=256-row bucket-total aggregate
    val p = preAqePlan("q_token_budget")
    val s = p.toString
    assert(s.contains("hashpartitioning(__tb_bucket"), s.take(2000))
    assert(s.contains("BroadcastHashJoin"), s.take(2000))
    // every SinglePartition exchange must feed from an aggregate (the
    // bucket totals), never straight from the corpus scan
    val singles = shuffles(p).filter(
      _.outputPartitioning.toString.contains("SinglePartition"))
    singles.foreach { e =>
      assert(e.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty, s"single-partition exchange without an aggregate below:\n$e")
    }
  }

  test("q_source_cap: both cap phases window over source partitions") {
    val p = preAqePlan("q_source_cap")
    val s = p.toString
    assert(s.contains("hashpartitioning(source"), s.take(2000))
    // no corpus-wide single-partition window: SinglePartition exchanges may
    // only appear above the final bounded presentation sort, never under a
    // Window operator
    val winUnderSingle = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.child.outputPartitioning.toString.contains("SinglePartition") => w
    }
    assert(winUnderSingle.isEmpty, "cap window runs on a single partition")
  }

  test("q_orc_roundtrip: filter and projection push into the ORC scan") {
    val p = plan("q_orc_roundtrip")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"), p.take(3000))
    // pruned read schema: 3 projected columns + the filter column, never
    // the full 8-column customer row
    assert(!p.contains("c_address"), "unpruned ORC read schema:\n" + p.take(3000))
  }

  test("q_rank_by: window is hash-partitioned across executors") {
    val p = plan("q_rank_by")
    assert(p.contains("hashpartitioning(o_custkey"), p.take(2000))
  }

  test("q_rank: distributed prefix-sum — no single-partition data window") {
    // the global running agg must run as per-bucket windows over a hash
    // exchange on the bucket id, never one ordered partition over the data
    val p = preAqePlan("q_rank")
    assert(p.toString.contains("hashpartitioning(__rk_b"), p.toString.take(3000))
    val winUnderSingle = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.child.outputPartitioning.toString.contains("SinglePartition") => w
    }
    assert(winUnderSingle.isEmpty, "q_rank window runs on a single partition")
  }

  test("q_dict_encode: vocabulary ids assigned without a single-partition window") {
    // dense ids come from rankDistributed over the distinct vocab — the
    // bucketed prefix-sum, never one ordered partition of the vocabulary
    val p = preAqePlan("q_dict_encode")
    assert(p.toString.contains("hashpartitioning(__rk_b"), p.toString.take(3000))
    val winUnderSingle = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.child.outputPartitioning.toString.contains("SinglePartition") => w
    }
    assert(winUnderSingle.isEmpty, "q_dict_encode vocab window runs on a single partition")
  }

  test("q_sample_k_group: per-group top-k runs as WindowGroupLimit heaps") {
    // rank <= k must push into WindowGroupLimit (per-partition heaps),
    // never materialize a full per-group sort of the corpus
    val p = plan("q_sample_k_group")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("q_text_scripts: scan reads only the referenced columns") {
    val p = plan("q_text_scripts")
    assert(!p.contains("doc_id"), "unpruned read schema:\n" + p.take(2000))
    assert("HashAggregate".r.findAllMatchIn(p).length >= 2,
      "no map-side partial aggregation:\n" + p.take(2000))
  }

  test("q_pad_waste: batch ids come from bucketed windows, never one partition") {
    val p = preAqePlan("q_pad_waste")
    assert(p.toString.contains("hashpartitioning(__rk_b"), p.toString.take(3000))
    val winUnderSingle = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.child.outputPartitioning.toString.contains("SinglePartition") => w
    }
    assert(winUnderSingle.isEmpty, "pad-waste row numbers run on a single partition")
  }

  test("q_rolling: range-frame window partitions by user, never global") {
    val p = preAqePlan("q_rolling")
    assert(p.toString.contains("hashpartitioning(user_id"), p.toString.take(2000))
    val winUnderSingle = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.child.outputPartitioning.toString.contains("SinglePartition") => w
    }
    assert(winUnderSingle.isEmpty, "rolling window runs on a single partition")
  }

  test("bucketized tables equi-join without a shuffle") {
    // the in-memory catalog forgets tables across JVMs but leaves their
    // warehouse directories: a killed run may have left both
    def clear(): Unit = for (t <- Seq("graft_bucket_a", "graft_bucket_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(s"spark-warehouse/$t")
      if (java.nio.file.Files.exists(loc)) deleteTree(loc)
    }
    clear()
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val a = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 200).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
      val ba = a.bucketize("graft_bucket_a", "k", 4)
      val bb = b.bucketize("graft_bucket_b", "k", 4)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val j = ba.join(bb, "k")
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"), p.take(2000)) // co-located: no shuffle
      assert(j.count() == 200)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      clear()
    }
  }

  test("q_heavyhitters: exact recount gated by a broadcast join, top-n heaped") {
    val p = plan("q_heavyhitters")
    // pass 2 never shuffles the full cardinality: candidates broadcast
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(3000))
    // partial aggregation bounds the recount shuffle
    assert("HashAggregate".r.findAllMatchIn(p).length >= 2, p.take(3000))
    // final top-n is per-partition heaps, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q_cluster_prune: probe filter reaches the clustered parquet scan") {
    val p = plan("q_cluster_prune")
    assert(p.contains("PushedFilters"), p.take(3000))
    assert(p.contains("GreaterThanOrEqual(l_orderkey,1000)"), p.take(3000))
    // aggregate-only probe reads just the three referenced columns
    assert(!p.contains("l_partkey"), "column pruning lost")
  }

  test("q_gapfill: per-key window, no global sort before the fill") {
    val p = plan("q_gapfill")
    // forward fill partitions by user_id — a global (empty-partition)
    // window would serialize the fill through one task
    assert("windowspecdefinition\\(user_id".r.findFirstIn(p).isDefined, p.take(3000))
    // the grid explode stays rows-proportional-to-keys: sequence feeds
    // from a per-key min/max aggregate, not the raw events
    assert(p.contains("explode(sequence("), p.take(3000))
  }

  test("q_topk_per_group: rank filter runs as WindowGroupLimit partial top-k") {
    val p = plan("q_topk_per_group")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("q_weighted_sample: priority top-n is per-partition heaps, no global sort") {
    assert(plan("q_weighted_sample").contains("TakeOrderedAndProject"))
  }

  test("q_trending: windowed rank also runs as WindowGroupLimit") {
    assert(plan("q_trending").contains("WindowGroupLimit"))
  }

  test("q_drift: bin-grid windows never touch raw rows (aggregates first)") {
    val p = plan("q_drift")
    // per-side counts are hash aggregates with partials; the windows run
    // over the nBins-row grid after them
    assert("HashAggregate".r.findAllMatchIn(p).length >= 4, p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("q_interp: keyed windows and aggregate-fed grid, like the fill twin") {
    val p = plan("q_interp")
    assert("windowspecdefinition\\(user_id".r.findFirstIn(p).isDefined, p.take(3000))
    assert(p.contains("explode(sequence("), p.take(3000))
  }

  test("q_impute / q_winsorize: bracket edges broadcast, no percentile buffer") {
    for (q <- Seq("q_impute", "q_winsorize")) {
      val p = plan(q)
      assert(!p.contains("percentile("), s"$q: ${p.take(2000)}")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: ${p.take(2000)}")
    }
  }

  test("q_outliers: per-group median/MAD joins broadcast, never sort-merge") {
    // the hint is explicit now (not AQE-dependent): at a million groups the
    // one-row-per-group tables stop being trivially broadcastable by size
    // estimate, and the null-safe keys would fall back to SortMergeJoin
    val p = plan("q_outliers")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllMatchIn(p).length >= 2, p.take(3000))
  }

  test("q_text_lm2: bigrams from the token-array shift — no per-document window") {
    val p = plan("q_text_lm2")
    assert(!p.contains("Window"), p.take(3000))
    // model joins + per-doc re-aggregate only; the 1-row vocab is broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
  }

  test("q_embed_band: map-only scan+filter — no shuffle before the band cut") {
    val p = plan("q_embed_band")
    // the filter runs on the projected cosine before any exchange; the
    // only sort is over the (small) surviving band
    val exchangeIdx = p.indexOf("Exchange")
    val filterIdx = p.indexOf("Filter")
    assert(filterIdx >= 0, p.take(3000))
    assert(exchangeIdx < 0 || filterIdx > exchangeIdx, p.take(3000))
  }

  test("q_quantiles: no whole-group percentile buffer anywhere in the plan") {
    val p = plan("q_quantiles")
    // the built-in exact percentile (TypedImperativeAggregate over a
    // whole-group buffer) must not appear; the bracket path aggregates
    // through approx sketches + hash aggregates only
    assert(!p.contains("percentile("), p.take(3000))
    assert(p.contains("approx_percentile") || p.contains("percentile_approx"),
      p.take(3000))
  }

  test("q_regression: one pass — single aggregate, no self-join of moments") {
    val p = plan("q_regression")
    assert(!p.contains("Join"), p.take(3000))
    assert("HashAggregate".r.findAllMatchIn(p).length >= 2, p.take(3000))
  }

  test("q_bm25: corpus stats broadcast; top-k via per-partition heaps") {
    val p = plan("q_bm25")
    // the 1-row stats table must broadcast into the scoring pass, and the
    // final k rows come from TakeOrderedAndProject (per-partition heaps),
    // never a global sort of the scored corpus
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // no token explode anywhere: tf comes from array arithmetic, so the
    // only Generate allowed is none at all
    assert(!p.contains("Generate explode"), p.take(3000))
  }

  test("q_chunk: map-only until the output sort — one Generate, no join") {
    val base = graft.pipeline.Retrieval.chunkByTokens(
      catalog.Shared.T(spark, dir, "documents"), "doc_id", "text", 24, 8)
    val p = base.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(3000)) // embarrassingly parallel
    assert(!p.contains("Join"), p.take(3000))
  }

  test("kmeans assignment pass: argmin is map-only (no shuffle, no join)") {
    // one Lloyd round's assign step must be scan -> project only; the
    // centroids ride as literals, so a shuffle or join here would mean the
    // operator stopped scaling as a map pass
    val emb = catalog.Shared.T(spark, dir, "embeddings")
    val out = graft.pipeline.Cluster.kmeansAssign(emb, "embedding", "vec_id",
      k = 2, iters = 1)
    val p = out.queryExecution.executedPlan.toString
    // the returned frame is the FINAL assign over the input: scan +
    // filter + project, nothing else
    assert(!p.contains("Exchange"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q_contamination_embed: probes broadcast; corpus scans once, no pre-join shuffle") {
    val p = plan("q_contamination_embed")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the only SHUFFLE exchange is the caller's output sort — the screen
    // itself is one corpus scan against a broadcast probe table
    val shuffles = p.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 1, p.take(3000))
  }

  test("q_dedup_semantic: pairwise stage is a keyed join, never cartesian") {
    val p = plan("q_dedup_semantic")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q_dedup_keepbest: winner election joins on keys, never cartesian") {
    val p = plan("q_dedup_keepbest")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("saltedJoin spreads a hot key across shards and preserves results") {
    val hot = (1 to 1000).map(i => (42L, i)) ++ Seq((7L, 0))
    val left = hot.toDF("k", "v")
    val right = Seq((42L, "hot"), (7L, "cold"), (9L, "unseen")).toDF("k", "label")
    val salted = left.saltedJoin(right, "k", salt = 8)
    val straight = left.join(right, "k")
    assert(salted.count() == straight.count())
    // join key includes the shard: the shuffle key space is (k, __salt)
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("__salt"), p.take(1500))
  }

  test("q_classify_auc: ranks without a corpus-wide window; offsets broadcast") {
    val p = plan("q_classify_auc")
    // the within-bucket prefix window partitions by the bucket column —
    // a global (unpartitioned) row window over the scores would be the
    // single-partition sort this operator exists to avoid. The ONLY
    // unpartitioned window allowed is the one over the ≤buckets offset
    // rows, which is immediately broadcast.
    assert("windowspecdefinition\\(__b#".r.findFirstIn(p).isDefined, p.take(2000))
    assert(p.contains("BroadcastExchange"), p.take(2000))
  }

  test("q_source_divergence: per-group totals broadcast; corpus counts re-aggregate") {
    val p = plan("q_source_divergence")
    // both small sides (group totals, corpus total) must broadcast — a
    // sort-merge join against the vocab-sized (group, token) table would
    // shuffle it twice more
    assert("BroadcastExchange".r.findAllMatchIn(p).length >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_ccnet_buckets: tercile thresholds join as a broadcast single row") {
    val p = plan("q_ccnet_buckets")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
    // no whole-corpus percentile buffer: the cut comes from the bracket
    // quantile, not a collect_list/percentile over every NLL
    assert(!p.contains("percentile(") && !p.contains("collect_list"), p.take(2000))
  }

  test("q_knn_label: vote bounded by the query set — window partitions by query") {
    val p = plan("q_knn_label")
    assert("windowspecdefinition\\(qid#".r.findFirstIn(p).isDefined, p.take(2000))
  }

  test("q_embed_whiten: dim stats broadcast; partial-aggregated; no corpus re-shuffle") {
    val p = plan("q_embed_whiten")
    // the dim-stats side (≤dim rows) must broadcast back onto the long
    // form — a sort-merge join would shuffle rows×dim twice
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    // the stats aggregate map-side-combines before its (dim-keyed) shuffle
    assert("HashAggregate".r.findAllMatchIn(p).length >= 2, p.take(2000))
  }

  test("q_zipf: top-N via per-partition heaps; token counts map-side-combine") {
    val p = plan("q_zipf")
    // the vocabulary cut must be a TakeOrdered, never a global sort of
    // the full token-count table
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert("HashAggregate".r.findAllMatchIn(p).length >= 2, p.take(2000))
  }

  test("q_retrieval_ndcg: rank window partitions by query; no cartesian") {
    val p = plan("q_retrieval_ndcg")
    assert("windowspecdefinition\\(__q#".r.findFirstIn(p).isDefined, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_cluster_medoids: k-row min-struct election, no join after assignment") {
    val p = plan("q_cluster_medoids")
    // the winner election is an aggregate (partial-combined), not a
    // dist2-ranked window or a self-join of the assignment frame
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findFirstIn(p).isDefined, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_source_overlap: pair explode group-bounded; totals broadcast") {
    val p = plan("q_source_overlap")
    assert("BroadcastExchange".r.findAllMatchIn(p).length >= 2, p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      p.take(2000))
  }

  test("q_dup_histogram: two map-side-combined aggregates, nothing else") {
    val p = plan("q_dup_histogram")
    assert("HashAggregate".r.findAllMatchIn(p).length >= 4, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q_embed_outliers: top-k via per-partition heaps over checkpointed distances") {
    val p = plan("q_embed_outliers")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), "global sort crept in")
  }

  test("q_embed_covariance: one fused pair-accumulator scan, dims broadcast") {
    val p = plan("q_embed_covariance")
    // both per-dimension stat sides of the covariance join are ≤dim rows
    // and must broadcast; the corpus-sized work is the single fused
    // mapPartitions accumulator, never a pair self-join of the long form
    assert("BroadcastExchange".r.findAllMatchIn(p).length >= 2, p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }
}
