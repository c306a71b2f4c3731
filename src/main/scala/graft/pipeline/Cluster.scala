package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic distributed k-means over an embedding column — semantic
  * clustering for corpus curation (topic balancing, per-cluster sampling
  * caps, cluster-level dedup review). The IVF index builder
  * ([[Similarity.ivfWriteIndex]]) uses seeded-SAMPLE Lloyd internally for
  * speed; this operator is the exact, externally-checkable form: every
  * choice (init, tie-break, mean arithmetic) is pinned so an independent
  * engine replaying the same rounds produces byte-identical assignments
  * (the DuckDB oracle for `q_kmeans` unrolls the same iterations in SQL).
  *
  * Determinism contract:
  *   - init: the embeddings of the `k` smallest ids, floats widened to
  *     double — no RNG;
  *   - assignment: argmin over squared L2 computed as `n2 + c2 − 2·dot`
  *     with every dot a left-fold in array order
  *     ([[graft.functions.DotProductExpr]]) and `c2` a driver-side left
  *     fold over the centroid; ties break to the lowest cluster id
  *     (struct-min over `(dist, cluster)`);
  *   - update: per-dimension means as EXACT DECIMAL(30,15) sums (the
  *     [[Classifier.trainLogistic]] recipe — addend-quantized, so the
  *     reduction is partial-aggregation-order independent) divided once
  *     in double on the driver; an emptied cluster keeps its previous
  *     centroid.
  *
  * Scale shape (100 TB): each round is one map pass (k dot kernels per
  * row — `n2` shared via codegen subexpression elimination) plus ONE
  * map-side-combined aggregate of k·dim decimal sums; the driver holds
  * k·dim doubles, never data rows. The input projection is
  * localCheckpointed once so the `iters+1` passes don't re-read the
  * source. At 100 TB train centroids on a deterministic hash sample
  * ([[Sampling]]) — k-means saturates long before the full corpus — then
  * the final assignment pass here is the only full-data scan.
  *
  * Reference analogue: none (the reference has no vector surface); part
  * of the beyond-reference LLM-pipeline tier alongside
  * [[Similarity]]/[[Classifier]].
  */
object Cluster {

  /** THE publish-rounding convention (HALF_UP over the double's shortest
    * decimal form — Spark/DuckDB round() semantics): one shared helper so
    * the deflation inputs, the published components, and the oracles can
    * never drift onto different conventions. */
  private[graft] def round9(x: Double): Double =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue

  /** Cluster assignments after `iters` full Lloyd rounds: one row per
    * input row with `cluster` (0-based, int) and `dist2` (squared L2 to
    * its final centroid, double). Output ordering is the caller's
    * concern; `q_kmeans` sorts by id. */
  def kmeansAssign(df: DataFrame, vecCol: String, idCol: String,
                   k: Int = 8, iters: Int = 2): DataFrame =
    kmeansFit(df, vecCol, idCol, k, iters)._1

  /** Full Lloyd fit: the [[kmeansAssign]] assignment frame PLUS the final
    * centroids (double, the exact values the assignments argmin'd
    * against). The centroid array is what downstream cell-probing
    * operators need — [[Similarity.knnGraphIvf]] over these cells is a
    * fully deterministic, externally replayable IVF retrieval (the
    * `q_embed_recall_ivf` gauge), unlike the seeded-sample
    * [[Similarity.ivfIndex]] tier. */
  def kmeansFit(df: DataFrame, vecCol: String, idCol: String,
                k: Int = 8, iters: Int = 2): (DataFrame, Array[Array[Double]]) =
    Materialize(df.sparkSession) { m =>
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // null vectors are DROPPED (they have no distance to any centroid and
    // would NPE the init collect); float and double element vectors both
    // work — init widens per element exactly like the dot kernel
    val vecs = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
    val base = m.pin(vecs)
    val init = base.orderBy(col("__id")).limit(k)
      .select(col("__v")).collect()
      .map(r => Similarity.vecToDouble(r.getSeq[Any](0)))
    require(init.length == k,
      s"need at least $k non-null vectors for init, got ${init.length}")
    var cents = init
    for (_ <- 1 to iters) {
      val sums = assign(base, cents)
        .select(col("__c"), posexplode(col("__v")).as(Seq("__i", "__x")))
        .groupBy("__c", "__i")
        .agg(sum(col("__x").cast("double").cast(DecimalType(30, 15))).as("__s"),
          count(lit(1)).as("__n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          r.getDecimal(2).doubleValue() / r.getLong(3).toDouble
      }
      cents = next
    }
    // the assignment reads `df` again, not the pin, so the pin is released
    // here: a caller that consumes the assignment eagerly (a broadcast join)
    // would otherwise leave it persisted with no owner
    val out = assign(vecs, cents)
      .select(col("__id").as(idCol), col("__c").as("cluster"),
        col("__d").as("dist2"))
    (out, cents)
  }

  /** Per-cluster summary (size + mean squared distance, the inertia
    * decomposition) — the curation report consumed by balancing/caps. */
  def kmeansSummary(df: DataFrame, vecCol: String, idCol: String,
                    k: Int = 8, iters: Int = 2): DataFrame =
    kmeansAssign(df, vecCol, idCol, k, iters)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        round(sum(col("dist2").cast(DecimalType(30, 12))).cast("double") /
          count(lit(1)), 6).as("mean_dist2"))

  /** Per-cluster medoid-lite: the member CLOSEST to its final centroid —
    * the canonical representative document curation reviews and few-shot
    * prompts pull per topic. Ties (equal squared distance) break to the
    * lowest id, so the pick is deterministic and externally replayable.
    * Scale shape: the [[kmeansAssign]] passes plus ONE map-side-combined
    * min-struct aggregate (k rows out). */
  def medoids(df: DataFrame, vecCol: String, idCol: String,
              k: Int = 8, iters: Int = 2): DataFrame =
    kmeansAssign(df, vecCol, idCol, k, iters)
      .groupBy("cluster")
      .agg(min(struct(col("dist2"), col(idCol))).as("__m"))
      .select(col("cluster"), col("__m")(idCol).as(idCol),
        round(col("__m")("dist2"), 6).as("dist2"))

  /** Embedding-space outliers: squared distance to the corpus centroid,
    * z-scored against the corpus distance distribution, top `topK` by
    * z (ties to the lowest id) — the embedding-side data-cleaning gauge
    * (mojibake embeddings, wrong-model rows, dead vectors all surface
    * here first). Centroid and distance stats use the decimal-exact
    * recipes, so the report replays in SQL; a zero-variance distance
    * distribution (all rows equidistant) yields NULL z.
    *
    * Scale shape: one dim-keyed decimal mean (centroid, driver holds dim
    * doubles), one map pass for distances (centroid as literal), one
    * decimal stats aggregate, one TakeOrdered(topK). */
  def embeddingOutliers(df: DataFrame, vecCol: String, idCol: String,
                        topK: Int = 20): DataFrame =
    Materialize(df.sparkSession) { m =>
    require(topK > 0, s"topK must be positive, got $topK")
    val v = col(vecCol)
    val rows = df.filter(v.isNotNull)
    val cent = rows
      .select(posexplode(v).as(Seq("__d0", "__x")))
      .groupBy((col("__d0") + 1).as("__d"))
      .agg((sum(col("__x").cast("double").cast(DecimalType(30, 15)))
        .cast("double") / count(lit(1)).cast("double")).as("__mu"))
      .orderBy("__d").collect().map(_.getDouble(1))
    require(cent.nonEmpty, "embeddingOutliers: empty input")
    val c2 = cent.foldLeft(0.0)((acc, x) => acc + x * x)
    val d2 = Similarity.dot(v, v) + lit(c2) -
      lit(2.0) * Similarity.dot(v, typedLit(cent.toSeq))
    // the stats aggregate and the final TakeOrdered both consume the
    // distances — the pin keeps the corpus-sized d2 kernel to ONE map
    // pass (the documented scale shape), not one per action
    val dists = m.pin(rows.select(col(idCol).as("__id"), d2.as("__d2")))
    val st = dists.agg(
        (sum(col("__d2").cast(DecimalType(30, 15))).cast("double")
          / count(lit(1)).cast("double")).as("__m"),
        (sum((col("__d2") * col("__d2")).cast(DecimalType(30, 15)))
          .cast("double") / count(lit(1)).cast("double")).as("__m2"))
      .head()
    val mu = st.getDouble(0)
    val variance = st.getDouble(1) - mu * mu
    val zCol =
      if (variance > 0)
        round((col("__d2") - lit(mu)) / lit(math.sqrt(variance)), 6)
      else lit(null).cast("double")
    m.keep(dists).select(col("__id").as(idCol), round(col("__d2"), 6).as("dist2"),
        zCol.as("z"))
      .orderBy(col("z").desc, col(idCol)).limit(topK)
  }

  /** Cluster↔label agreement: per-cluster size, majority label and purity
    * (majority share) — the external-validity check for k-means topic
    * clusters when a labeled column exists. Ties on the majority count
    * break to the smallest label, so the report is deterministic.
    * Unlabeled (null-label) rows are excluded — null orderings differ
    * across engines, so counting them as a pseudo-label would make tie
    * results engine-dependent; `n` therefore counts LABELED members.
    * Scale shape: the [[kmeansAssign]] passes, one join to the label
    * projection on the id (same key, co-partitioned), then aggregates
    * bounded by clusters×labels. */
  def clusterPurity(df: DataFrame, vecCol: String, idCol: String,
                    labelCol: String, k: Int = 8, iters: Int = 2): DataFrame = {
    val counts = kmeansAssign(df, vecCol, idCol, k, iters)
      .join(df.select(col(idCol), col(labelCol).as("__lab"))
        .filter(col("__lab").isNotNull), Seq(idCol))
      .groupBy(col("cluster"), col("__lab"))
      .agg(count(lit(1)).as("__c"))
    counts
      .groupBy("cluster")
      .agg(sum(col("__c")).as("n"),
        min(struct((lit(0L) - col("__c")).as("__neg"), col("__lab"))).as("__t"))
      .select(col("cluster"), col("n"),
        col("__t")("__lab").as("top_label"),
        round((lit(0L) - col("__t")("__neg")).cast("double")
          / col("n").cast("double"), 9).as("purity"))
  }

  /** Per-group embedding centroids: one row per `groupCol` value with the
    * group size and its mean vector, means computed with the
    * [[kmeansAssign]] decimal recipe (per-dimension DECIMAL(30,15) sums,
    * one double division) so the result is partial-aggregation-order
    * independent and externally replayable. Null groups and null vectors
    * are dropped. Scale shape: one posexplode + map-side-combined
    * aggregate on (group, dim) — dims·groups cells, never rows. */
  def groupCentroids(df: DataFrame, vecCol: String, groupCol: String): DataFrame = {
    val sums = df
      .filter(col(groupCol).isNotNull && col(vecCol).isNotNull)
      .select(col(groupCol).as("__g"),
        posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy("__g", "__i")
      .agg(sum(col("__x").cast("double").cast(DecimalType(30, 15))).as("__s"),
        count(lit(1)).as("__n"))
    sums.groupBy("__g")
      .agg(max(col("__n")).as("n"),
        transform(
          array_sort(collect_list(struct(col("__i"),
            (col("__s").cast("double") / col("__n").cast("double")).as("__m")))),
          e => e.getField("__m")).as("centroid"))
      .select(col("__g").as(groupCol), col("n"), col("centroid"))
  }

  /** Embedding drift report: how far each group's centroid sits from the
    * corpus centroid — cosine similarity plus both norms. The
    * dataset-shift gauge for embedding pipelines (a source or snapshot
    * whose centroid drifts from the corpus signals a distribution
    * change), complementing the numeric binned-KS drift report in
    * [[graft.ops.Robust]]. Exact and seedless: the `q_embed_drift`
    * oracle replays means and fold-cosines bit-for-bit. */
  def embeddingDrift(df: DataFrame, vecCol: String, groupCol: String): DataFrame = {
    val groups = groupCentroids(df, vecCol, groupCol)
    // the corpus centroid covers the SAME rows the groups cover (null
    // groups excluded) — a null-label row must not shift the reference
    // the groups are compared against
    val global = groupCentroids(
        df.filter(col(groupCol).isNotNull).withColumn("__all", lit(1)),
        vecCol, "__all")
      .select(col("centroid").as("__gc"))
    groups.crossJoin(broadcast(global))
      .select(col(groupCol), col("n"),
        Similarity.cosine(col("centroid"), col("__gc")).as("centroid_cosine"),
        Similarity.norm(col("centroid")).as("centroid_norm"))
  }

  /** Dimension covariance (and correlation) report over an embedding
    * column: one row per dimension pair i ≤ j (1-based) with the
    * population covariance and the Pearson correlation — the
    * PCA/whitening-readiness read (a strongly correlated dimension pair
    * is redundant signal; a near-zero-variance dimension is dead weight
    * before any projection or quantization).
    *
    * Exact and seedless: each pair product is quantized at a FIXED POINT
    * (floor(x_i·x_j·2^30) — the scaling by a power of two is exact in
    * IEEE doubles, the floor is engine-portable) and summed as integers,
    * so the per-pair sums are exact, partition-order-invariant, and
    * replayable in any SQL engine; per-dimension sums accumulate as
    * DECIMAL(30,15) (the dsum recipe). Covariance = (Sxy − Sx·Sy/n)/n in
    * doubles rounded to 9; correlation guarded NULL at zero variance.
    *
    * Scale shape: ONE per-partition accumulation pass for the pair sums —
    * a dim·(dim+1)/2 long array per partition, emitted as
    * partitions·dim² partial rows (a struct-explode formulation was 8×
    * slower at sf0.1: 2080 allocated structs per row through a Generate
    * versus a primitive fused multiply-floor-add loop) — plus one
    * per-dimension declarative sum; then dim-sized broadcast joins.
    * Nothing is quadratic in ROWS; per-partition partials stay far from
    * long overflow (|addend| ≤ 2^38, partitions ≤ 2^25 rows by
    * maxPartitionBytes). */
  def covarianceReport(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.filter(v.isNotNull)
    val partials = rows.select(v).rdd.mapPartitions { it =>
      var dim = -1
      var acc: Array[Long] = null
      var x: Array[Double] = null
      while (it.hasNext) {
        val seq = it.next().getSeq[Any](0)
        if (dim < 0) {
          dim = seq.length
          acc = new Array[Long](dim * (dim + 1) / 2)
          x = new Array[Double](dim)
        }
        require(seq.length == dim,
          s"covarianceReport: mixed vector lengths (${seq.length} vs $dim)")
        var d = 0
        while (d < dim) {
          x(d) = seq(d) match {
            case f: java.lang.Float  => f.toDouble
            case d0: java.lang.Double => d0.doubleValue
            case n: java.lang.Number => n.doubleValue
          }
          d += 1
        }
        var k = 0; var i = 0
        while (i < dim) {
          val xi = x(i); var j = i
          while (j < dim) {
            // float×float is exact in double; ×2^30 is exact; floor is
            // the deterministic quantization both engines replay
            acc(k) += math.floor(xi * x(j) * 1073741824.0).toLong
            k += 1; j += 1
          }
          i += 1
        }
      }
      if (dim < 0) Iterator.empty
      else {
        var k = -1
        (for (i <- 0 until dim; j <- i until dim) yield {
          k += 1; (i + 1, j + 1, acc(k))
        }).iterator
      }
    }.toDF("__i", "__j", "__p")
    val pairs = partials
      .groupBy(col("__i"), col("__j"))
      .agg((sum(col("__p").cast(DecimalType(38, 0))).cast("double")
        / 1073741824.0).as("__sxy"))
    // variances derive from the SAME per-dimension aggregate (Sx, Sxx, n)
    // rather than the covariance diagonal — a diagonal self-join would
    // re-run the corpus-sized pair pass a second time
    val dims = rows
      .select(posexplode(v).as(Seq("__d0", "__x")))
      .groupBy((col("__d0") + 1).as("__d"))
      .agg(sum(col("__x").cast("double").cast(DecimalType(30, 15)))
          .cast("double").as("__sx"),
        sum((col("__x").cast("double") * col("__x").cast("double"))
          .cast(DecimalType(30, 15))).cast("double").as("__sxx"),
        count(lit(1)).as("__n"))
      .withColumn("__var",
        (col("__sxx") - col("__sx") * col("__sx") / col("__n")) / col("__n"))
    val mi = dims.select(col("__d").as("__di"), col("__sx").as("__sxi"),
      col("__n").as("__ni"), col("__var").as("__vi"))
    val mj = dims.select(col("__d").as("__dj"), col("__sx").as("__sxj"),
      col("__var").as("__vj"))
    pairs
      .join(broadcast(mi), col("__i") === col("__di"))
      .join(broadcast(mj), col("__j") === col("__dj"))
      .withColumn("__cov",
        (col("__sxy") - col("__sxi") * col("__sxj") / col("__ni"))
          / col("__ni"))
      .select(col("__i").as("i"), col("__j").as("j"),
        round(col("__cov"), 9).as("cov"),
        when(col("__vi") > 0 && col("__vj") > 0,
          round(col("__cov") / sqrt(col("__vi") * col("__vj")), 9))
          .as("corr"))
  }

  /** First principal component of the embedding space by DETERMINISTIC
    * power iteration over the [[covarianceReport]] matrix — PCA-lite with
    * a full external replay path: the covariance entries are the rounded
    * values the oracle already reproduces, every matrix-vector addend
    * rounds into DECIMAL(28,12) before an exact sum (so the iteration is
    * identical on any engine or fold order), the start vector is e_1, and
    * the sign convention (the max-|loading| entry positive, ties to the
    * smallest index) pins the remaining degree of freedom. Returns
    * (loadings, eigenvalue); an all-zero matrix returns (e_1, 0).
    *
    * Scale shape: the corpus work IS covarianceReport (one accumulator
    * pass); the iteration itself runs on a dim×dim driver matrix —
    * dim² doubles, microseconds at embedding widths. Project with
    * [[Similarity.dot]] against the literal loadings (map-only). */
  def pcaPower(df: DataFrame, vecCol: String,
               iters: Int = 30): (Array[Double], Double) = {
    require(iters > 0, s"iters must be positive, got $iters")
    powerIterate(covMatrix(df, vecCol), iters)
  }

  /** Second principal component by HOTELLING DEFLATION over the same
    * replayable arithmetic: run [[pcaPower]], deflate the covariance
    * matrix with the PUBLISHED values (loadings and eigenvalue rounded to
    * 9 decimals — the exact numbers the oracle's `vfin`/`lam` CTEs emit,
    * so both engines subtract bit-identical rank-1 terms), and power-
    * iterate the deflated matrix with the same start/sum/sign pins.
    * Returns ((v1, λ1), (v2, λ2)); v2 is orthogonal to v1 up to the
    * 1e-9 rounding of the deflation inputs. */
  def pcaPowerDeflated(df: DataFrame, vecCol: String,
                       iters: Int = 30): ((Array[Double], Double), (Array[Double], Double)) = {
    require(iters > 0, s"iters must be positive, got $iters")
    val c = covMatrix(df, vecCol)
    val (v1, l1) = powerIterate(c, iters)
    val v9 = v1.map(round9); val l9 = round9(l1)
    val dim = c.length
    val c2 = Array.tabulate(dim, dim)((i, j) => c(i)(j) - l9 * v9(i) * v9(j))
    ((v1, l1), powerIterate(c2, iters))
  }

  /** Dense symmetric covariance matrix from [[covarianceReport]]'s rounded
    * entries — the dim×dim driver-side input both power iterations and
    * their SQL replays share. */
  private def covMatrix(df: DataFrame, vecCol: String): Array[Array[Double]] = {
    val entries = covarianceReport(df, vecCol).collect()
    require(entries.nonEmpty, "pcaPower: empty input")
    val dim = entries.iterator.map(_.getAs[Int]("j")).max
    val c = Array.ofDim[Double](dim, dim)
    entries.foreach { r =>
      val i = r.getAs[Int]("i") - 1; val j = r.getAs[Int]("j") - 1
      val x = r.getAs[Double]("cov"); c(i)(j) = x; c(j)(i) = x
    }
    c
  }

  /** The pinned power iteration: e_1 start, per-addend DECIMAL(28,12)
    * rounding before exact sums (the EXACT arithmetic the SQL replay
    * mirrors — Spark's double→decimal cast semantics), max-|loading|
    * sign convention. An annihilated iterate stops at (e_1, 0). */
  private def powerIterate(c: Array[Array[Double]],
                           iters: Int): (Array[Double], Double) = {
    val dim = c.length
    def dsum12(xs: Iterator[Double]): Double = {
      var acc = java.math.BigDecimal.ZERO
      xs.foreach { p =>
        acc = acc.add(new java.math.BigDecimal(java.lang.Double.toString(p))
          .setScale(12, java.math.RoundingMode.HALF_UP))
      }
      acc.doubleValue
    }
    var v = Array.tabulate(dim)(d => if (d == 0) 1.0 else 0.0)
    var lambda = 0.0
    var it = 0
    var live = true
    while (it < iters && live) {
      val w = Array.tabulate(dim)(i =>
        dsum12((0 until dim).iterator.map(j => c(i)(j) * v(j))))
      lambda = math.sqrt(dsum12(w.iterator.map(x => x * x)))
      if (lambda == 0.0) { // matrix annihilated the iterate: stop at e_1
        v = Array.tabulate(dim)(d => if (d == 0) 1.0 else 0.0)
        live = false
      } else v = w.map(_ / lambda)
      it += 1
    }
    val top = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(top) < 0) v = v.map(x => -x)
    (v, lambda)
  }

  /** Per-dimension z-score standardization of the embedding space — the
    * whitening-lite transform the [[covarianceReport]] diagnoses readiness
    * for. One decimal-exact aggregate computes each dimension's population
    * mean and variance (the covarianceReport `dims` recipe, so the stats
    * are partition-order-free), then a map pass emits
    * `(id, i, z = (x − μ)/σ)` per element against the broadcast dim-stats
    * row set. A zero-variance dimension yields NULL z (documented: there
    * is no direction to scale), never ±Inf.
    *
    * Scale shape (100 TB): one aggregate pass (dim-sized state) + one
    * map pass with a broadcast dim-table join — no shuffle of the corpus
    * beyond the posexplode projection, no driver data. Output is
    * rows×dim; at training-pipeline scale callers fold the z back into an
    * array column instead of materializing the long form. */
  def standardize(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val v = col(vecCol)
    val rows = df.filter(v.isNotNull)
    val long = rows.select(col(idCol).as("__id"),
      posexplode(v).as(Seq("__d0", "__x0")))
      .select(col("__id"), (col("__d0") + 1).as("__d"),
        col("__x0").cast("double").as("__x"))
    val stats = long
      .groupBy(col("__d").as("__ds"))
      .agg(sum(col("__x").cast(DecimalType(30, 15)))
          .cast("double").as("__sx"),
        sum((col("__x") * col("__x")).cast(DecimalType(30, 15)))
          .cast("double").as("__sxx"),
        count(lit(1)).as("__n"))
      .select(col("__ds"), (col("__sx") / col("__n")).as("__mu"),
        ((col("__sxx") - col("__sx") * col("__sx") / col("__n"))
          / col("__n")).as("__var"))
    long.join(broadcast(stats), col("__d") === col("__ds"))
      .select(col("__id").as("id"), col("__d").as("i"),
        when(col("__var") > 0,
          round((col("__x") - col("__mu")) / sqrt(col("__var")), 6))
          .as("z"))
  }

  /** One assignment pass under literal centroids. `n2 + c2 − 2·dot`, left
    * to right; the struct-min tie-breaks equal distances to the lowest
    * cluster id. */
  private def assign(base: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val n2 = Similarity.dot(col("__v"), col("__v"))
    val cands = cents.zipWithIndex.map { case (c, j) =>
      val c2 = c.foldLeft(0.0)((acc, x) => acc + x * x)
      struct(
        (n2 + lit(c2) - lit(2.0) * Similarity.dot(col("__v"), typedLit(c.toSeq)))
          .as("d"),
        lit(j).as("c"))
    }
    base.withColumn("__b", array_min(array(cands.toIndexedSeq: _*)))
      .select(col("__id"), col("__v"),
        col("__b.c").as("__c"), col("__b.d").as("__d"))
  }
}
