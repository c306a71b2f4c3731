package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering: a linear (logistic) classifier trained
  * WITH Spark aggregations and applied as a pure column expression — the
  * CCNet/fastText-style "train a small model on labeled seeds, score the
  * whole corpus" recipe, re-expressed Spark-first.
  *
  * Scale shape, the part that matters at 100 TB:
  *   - featurization is a one-pass, map-only projection (every feature is
  *     portable string arithmetic — the exact formulas the q_text_quality
  *     oracle already verifies);
  *   - training featurizes the (usually sampled) labeled set ONCE into a
  *     compact (features, label) table — 7 doubles per row — and
  *     localCheckpoints it, then each gradient-descent iteration is ONE
  *     map-side-combined aggregate producing dim+1 sums; the driver holds
  *     only the weight vector (8 doubles), never any data;
  *   - scoring with trained weights is a literal-weight sigmoid — a pure
  *     codegen'd map pass with zero shuffle, oracle-checkable in any SQL
  *     engine (`q_classify_score`).
  *
  * Determinism: each gradient addend is cast to DECIMAL(30,15) before the
  * sum, making the per-iteration reduction EXACT and therefore independent
  * of partial-aggregation order — two trainings on the same data produce
  * byte-identical weights on any cluster size (pinned in ClassifierSpec).
  * The decimal cast truncates each addend at 1e-15 — far below any
  * gradient signal — and bounds: |err| < 1 and features are capped to
  * [0, 1], so DECIMAL(30,15) can never overflow at any corpus size
  * (10^15 rows of magnitude-1 addends fit in the 15 integer digits).
  *
  * Reference analogue: the reference ships heuristic quality formulas only
  * (see TextAnalysis.qualityScore); a trainable filter is part of the
  * beyond-reference LLM-pipeline surface.
  */
object Classifier {

  /** Number of features [[features]] produces; weights have length dim+1
    * (the last entry is the intercept). */
  val dim = 6

  /** Fixed interpretable feature vector, every entry in [0, 1] and every
    * entry portable SQL arithmetic (DuckDB-expressible — the scoring
    * oracle recomputes all six exactly):
    *   1. capped length            `least(len/1000, 1)`
    *   2. punctuation ratio        (TextAnalysis.punctRatio)
    *   3. English stopword ratio   (TextAnalysis.stopwordRatio "en")
    *   4. capped mean word length  `least(mean_wlen/10, 1)`
    *   5. digit character ratio
    *   6. uppercase character ratio
    */
  def features(textCol: Column): Column = {
    val t = coalesce(textCol, lit(""))
    val len = length(t).cast("double")
    // every ratio rides the one-pass text_stats kernel (digit/upper
    // included) — with codegen subexpression elimination the whole
    // vector costs ONE text_stats + ONE lang_scores call per row
    array(
      least(len / 1000.0, lit(1.0)),
      TextAnalysis.punctRatio(t),
      TextAnalysis.stopwordRatio(t, "en"),
      least(TextAnalysis.meanWordLength(t) / 10.0, lit(1.0)),
      TextAnalysis.digitRatio(t),
      TextAnalysis.upperRatio(t))
  }

  /** Linear score `sigmoid(w · x + b)` with LITERAL weights — a trained
    * model applied as a map-only expression. `weights` has length
    * [[dim]]+1; the last entry is the intercept. */
  def score(featCol: Column, weights: Seq[Double]): Column = {
    require(weights.length == dim + 1,
      s"weights must have length ${dim + 1} (dim + intercept), got ${weights.length}")
    val z = (0 until dim)
      .map(j => element_at(featCol, j + 1) * lit(weights(j)))
      .foldLeft(lit(weights(dim)).cast("double"))(_ + _)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** [[score]] over raw text in ONE column expression. Because the sigmoid
    * reads every feature, inlining [[features]] here duplicates the whole
    * feature computation once per weight — fine for tests/small data, but
    * the plan you want at scale is [[scored]], which materializes the
    * feature array in its own projection (Catalyst's CollapseProject
    * keeps a multiply-referenced non-trivial alias in its own Project, so
    * the features are computed once per row). */
  def scoreText(textCol: Column, weights: Seq[Double]): Column =
    score(features(textCol), weights)

  /** Score a corpus: features computed ONCE per row in a dedicated
    * projection, then the literal-weight sigmoid — two stacked map-only
    * projects, zero shuffle, whole-stage codegen'd. */
  def scored(df: DataFrame, textCol: String, weights: Seq[Double],
             outCol: String = "score"): DataFrame = {
    val fc = s"__feat_$textCol"
    df.withColumn(fc, features(col(textCol)))
      .withColumn(outCol, score(col(fc), weights))
      .drop(fc)
  }

  /** Train a logistic-regression quality classifier by full-batch gradient
    * descent. `labelCol` must evaluate to 0/1. Returns `dim+1` weights
    * (intercept last).
    *
    * Each iteration runs ONE aggregate over the checkpointed compact
    * feature table: `g_j = Σ (σ(w·x) − y)·x_j` summed as exact decimals
    * (order-independent → deterministic), then the driver applies
    * `w ← w − lr·(g/n + l2·w)`. At 100 TB train on a deterministic hash
    * sample ([[Sampling.splitLabel]]) — a linear model saturates long
    * before the full corpus — and score everything with [[score]]. */
  def trainLogistic(df: DataFrame, featCol: Column, labelCol: Column,
                    iters: Int = 30, lr: Double = 2.0,
                    l2: Double = 0.0): Array[Double] =
    Materialize(df.sparkSession) { m =>
    require(iters > 0, s"iters must be > 0, got $iters")
    val data = m.pin(df.select(featCol.as("__x"), labelCol.cast("double").as("__y")))
    val n = data.count().toDouble
    require(n > 0, "cannot train on an empty dataset")
    val w = Array.fill(dim + 1)(0.0)
    for (_ <- 1 to iters) {
      // error term in its own projection: the sigmoid is computed once
      // per row, not once per gradient component (CollapseProject keeps
      // the multiply-referenced alias separate)
      val errDf = data.select(col("__x"),
        (score(col("__x"), w.toSeq) - col("__y")).as("__e"))
      val aggs = (0 until dim).map(j =>
        sum((col("__e") * element_at(col("__x"), j + 1)).cast("decimal(30,15)"))) :+
        sum(col("__e").cast("decimal(30,15)"))
      val g = errDf.agg(aggs.head, aggs.tail: _*).head()
      for (j <- 0 to dim) {
        val gj = g.getDecimal(j).doubleValue() / n
        val reg = if (j < dim) l2 * w(j) else 0.0
        w(j) -= lr * (gj + reg)
      }
    }
    w
  }

  /** Exact tie-averaged ROC AUC of a score column against a 0/1 label —
    * the Mann–Whitney rank-sum form: with `R` = the sum over positives of
    * their average ranks (ascending score, ties share the mean rank),
    * `AUC = (R − npos(npos+1)/2) / (npos·nneg)`. Returns ONE row
    * `(npos, nneg, auc)`, `auc` rounded to 9 decimals.
    *
    * Scale shape — no global window. Scores are sigmoid outputs in
    * [0, 1], so rank order decomposes into `buckets` fixed-width score
    * ranges: exact ties collapse first (`groupBy(score)` — the shuffle is
    * bounded by distinct scores, itself ≤ corpus size but typically far
    * smaller after [[scored]]'s 6-feature arithmetic), per-bucket totals
    * (≤ buckets rows) broadcast as rank offsets, and the within-bucket
    * prefix runs over each bucket's distinct scores independently — the
    * same decomposition as Sampling.takeTokenBudget's distributed
    * prefix-sum. Every rank addend `p·(2·below + n + 1)` is an integer
    * summed as DECIMAL(38,0), so the reduction is exact and
    * partition-order-invariant at any cluster size.
    *
    * Callers should quantize the score (e.g. `round(_, 6)`) so the tie
    * structure is engine-portable; ranks on raw doubles depend on
    * last-ulp arithmetic. NULL/NaN scores and NULL labels are excluded
    * (counted rows only). Returns auc = NULL when either class is empty. */
  def aucReport(df: DataFrame, scoreCol: Column, labelCol: Column,
                buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    import org.apache.spark.sql.expressions.Window
    // the exclusion guard must NOT be a pre-aggregation Filter: a filter
    // on a projected score pushes below the projection by substitution,
    // inlining the (potentially expensive — e.g. text-feature) score
    // expression into the Filter node and computing it twice per row.
    // Instead invalid rows collapse into a NULL group key and the group
    // is dropped by an aggregate-output predicate, which cannot push.
    val s0 = scoreCol.cast("double")
    val y0 = labelCol.cast("long")
    val keep = s0.isNotNull && !isnan(s0) && y0.isNotNull
    val g = df.select(when(keep, s0).as("__s"), y0.as("__y"))
      .groupBy("__s")
      .agg(sum(when(col("__s").isNotNull, 1L).otherwise(0L)).as("__n"),
        sum(when(col("__s").isNotNull, col("__y")).otherwise(0L)).as("__p"))
      .filter(col("__n") > 0)
      .withColumn("__b",
        least(greatest(floor(col("__s") * buckets), lit(0)),
          lit(buckets - 1)).cast("int"))
    val offsets = g.groupBy(col("__b").as("__ob"))
      .agg(sum(col("__n")).as("__t"))
      .withColumn("__off", coalesce(
        sum(col("__t")).over(Window.orderBy(col("__ob"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__t")
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.join(broadcast(offsets), col("__b") === col("__ob"))
      .withColumn("__below",
        col("__off") + coalesce(sum(col("__n")).over(wIn), lit(0L)))
    ranked.agg(
        sum(col("__p")).as("__npos"),
        sum(col("__n") - col("__p")).as("__nneg"),
        sum((col("__p") * (lit(2) * col("__below") + col("__n") + 1))
          .cast("decimal(38,0)")).as("__r2"))
      .select(col("__npos").as("npos"), col("__nneg").as("nneg"),
        when(col("__npos") > 0 && col("__nneg") > 0,
          round((col("__r2").cast("double")
              - col("__npos").cast("double") * (col("__npos") + 1).cast("double"))
            / (lit(2.0) * col("__npos") * col("__nneg")), 9)).as("auc"))
  }

  /** Calibration report: rows bucketed into `bins` fixed-width score
    * ranges over [0, 1] (bin = floor(score·bins), top edge clamped into
    * the last bin), with per-bin row count, mean score, and positive
    * rate — the "is a 0.9 really 90%?" diagnostic read before trusting a
    * filter threshold. One map pass + one `bins`-ary groupBy; means are
    * exact-decimal sums so the report is partition-order-invariant.
    * NULL/NaN scores and NULL labels are excluded. */
  def calibrationReport(df: DataFrame, scoreCol: Column, labelCol: Column,
                        bins: Int = 10): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    // NULL-group-key guard, not a pre-aggregation Filter — see aucReport
    val s0 = scoreCol.cast("double")
    val y0 = labelCol.cast("long")
    val keep = s0.isNotNull && !isnan(s0) && y0.isNotNull
    df.select(when(keep, s0).as("__s"), y0.as("__y"))
      .withColumn("bin",
        least(greatest(floor(col("__s") * bins), lit(0)), lit(bins - 1))
          .cast("int"))
      .groupBy("bin")
      .agg(sum(when(col("bin").isNotNull, 1L).otherwise(0L)).as("n"),
        round(sum(when(col("bin").isNotNull, col("__s"))
            .cast("decimal(30,15)")).cast("double")
          / sum(when(col("bin").isNotNull, 1L).otherwise(0L)), 9)
          .as("mean_score"),
        round(sum(when(col("bin").isNotNull, col("__y")).otherwise(0L))
            .cast("double")
          / sum(when(col("bin").isNotNull, 1L).otherwise(0L)), 9)
          .as("pos_rate"))
      .filter(col("n") > 0)
  }

  /** Threshold sweep: precision / recall / F1 of `score >= t` for each
    * threshold, computed in ONE conditional-aggregation pass (no
    * per-threshold scan, no shuffle beyond the single global aggregate).
    * Emits one row per threshold `(threshold, predicted, tp, precision,
    * recall, f1)` with ratios rounded to 9 decimals; precision is NULL at
    * thresholds that predict nothing, f1 NULL when precision+recall = 0.
    * NULL/NaN scores and NULL labels are excluded. */
  def thresholdReport(df: DataFrame, scoreCol: Column, labelCol: Column,
                      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    // invalid rows are nulled in the projection and excluded per-addend —
    // a pre-aggregation Filter would push below the score projection and
    // evaluate the score expression twice per row (see aucReport)
    val s0 = scoreCol.cast("double")
    val y0 = labelCol.cast("long")
    val keep = s0.isNotNull && !isnan(s0) && y0.isNotNull
    val base = df.select(when(keep, s0).as("__s"), y0.as("__y"))
    val aggs = sum(when(col("__s").isNotNull, col("__y")).otherwise(0L))
      .as("__pos") +: thresholds.zipWithIndex.flatMap {
      case (t, i) => Seq(
        sum(when(col("__s") >= t, 1L).otherwise(0L)).as(s"__pred$i"),
        sum(when(col("__s") >= t, col("__y")).otherwise(0L)).as(s"__tp$i"))
    }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val rows = thresholds.zipWithIndex.map { case (t, i) =>
      // guards are EXPLICIT (not engine divide-by-zero behavior): Spark
      // double x/0 is Infinity while other engines yield NULL or error,
      // so the empty-denominator cases must be decided in the plan
      struct(lit(t).as("threshold"), col(s"__pred$i").as("predicted"),
        col(s"__tp$i").as("tp"),
        when(col(s"__pred$i") > 0,
          round(col(s"__tp$i").cast("double") / col(s"__pred$i"), 9))
          .as("precision"),
        when(col("__pos") > 0,
          round(col(s"__tp$i").cast("double") / col("__pos"), 9)).as("recall"),
        when(col(s"__pred$i") + col("__pos") > 0,
          round(lit(2.0) * col(s"__tp$i") / (col(s"__pred$i") + col("__pos")), 9))
          .as("f1"))
    }
    one.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** Trained weights as a small DataFrame (idx, name, weight) — the
    * shippable artifact (mirrors how Bpe.trainMerges returns the merge
    * table). Weight values are rounded to 9 decimals for presentation;
    * training itself is exact-decimal deterministic. */
  def weightTable(df: DataFrame, textCol: String, labelCol: Column,
                  iters: Int = 30, lr: Double = 2.0,
                  l2: Double = 0.0): DataFrame = {
    val w = trainLogistic(df, features(col(textCol)), labelCol, iters, lr, l2)
    val names = Seq("len_cap", "punct_ratio", "stopword_en", "mean_wlen_cap",
      "digit_ratio", "upper_ratio", "intercept")
    val spark = df.sparkSession
    import spark.implicits._
    w.toSeq.zipWithIndex
      .map { case (v, i) => (i, names(i), BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toDF("idx", "name", "weight")
  }

  /** Cohen's kappa inter-rater agreement per group — the label-QC
    * primitive for human- or model-annotated training data (two
    * annotation passes over the same documents: how much do they agree
    * beyond chance?).
    *
    * Emitted per group: `n` items, `agree` (identical labels),
    * `pe_num` = Σ_c rowMarginal_c · colMarginal_c (the expected-agreement
    * numerator over n²), and kappa. The float work is ONE division of
    * exact BIGINT terms — kappa = (agree·n − pe_num) / (n² − pe_num),
    * algebraically (p_o − p_e)/(1 − p_e) — so the value is reproducible
    * bit-for-bit by any engine with exact integer aggregates. Degenerate
    * groups (n² == pe_num: a rater uses one label only and the other
    * agrees completely in expectation) emit null, the standard
    * "kappa undefined" convention.
    *
    * Scale shape: three aggregations over (group, label) keys — cell
    * counts, two marginals — all map-side combinable; the joins are on
    * group×label cardinality, never on rows. */
  def cohenKappa(df: DataFrame, rater1: Column, rater2: Column,
                 groupCols: Seq[(String, Column)]): DataFrame = {
    val gNames = groupCols.map(_._1)
    val gSel = groupCols.map { case (n, c) => c.as(n) }
    val cells = df.select(gSel :+ rater1.as("__r1") :+ rater2.as("__r2"): _*)
      .groupBy(gNames.map(col) :+ col("__r1") :+ col("__r2"): _*)
      .agg(count(lit(1)).as("__c"))
    val totals = cells.groupBy(gNames.map(col): _*)
      .agg(sum("__c").as("n"),
        sum(when(col("__r1") <=> col("__r2"), col("__c")).otherwise(0L)).as("agree"))
    // marginal join key: null labels must meet null labels (n/agree treat
    // them as a value via <=>), but the equi-join on __lab would drop
    // null-label cells from pe_num and skew kappa — so labels ride the
    // join coalesced to a NUL-prefixed sentinel no real label starts with
    def labKey(c: Column) = coalesce(c.cast("string"), lit("\u0000null"))
    val m1 = cells.groupBy(gNames.map(col) :+ labKey(col("__r1")).as("__lab"): _*)
      .agg(sum("__c").as("__m1"))
    val m2 = cells.groupBy(gNames.map(col) :+ labKey(col("__r2")).as("__lab"): _*)
      .agg(sum("__c").as("__m2"))
    val pe = m1.join(m2, gNames :+ "__lab")
      .groupBy(gNames.map(col): _*)
      .agg(sum(col("__m1") * col("__m2")).as("pe_num"))
    totals.join(pe, gNames)
      .withColumn("kappa",
        when(col("n") * col("n") === col("pe_num"), lit(null).cast("double"))
          .otherwise((col("agree") * col("n") - col("pe_num")).cast("double")
            / (col("n") * col("n") - col("pe_num")).cast("double")))
      .select(gNames.map(col) ++ Seq(col("n"), col("agree"), col("pe_num"),
        col("kappa")): _*)
  }
}
