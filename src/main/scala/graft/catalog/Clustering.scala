package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import Shared._

/** Embedding geometry: deterministic k-means, PCA by power iteration,
  * covariance, whitening, outliers, medoids and the k-center coreset. */
object Clustering {
  /** HALF_UP decimal rounding matching Spark/DuckDB round() — the same
    * convention weightTable publishes trained weights with; one shared
    * implementation ([[graft.pipeline.Cluster.round9]]) so the deflation
    * inputs and the published values can never drift apart. */
  private def round9(x: Double): Double = graft.pipeline.Cluster.round9(x)

  /** The first two principal components, a session fixture: all q_pca_*
    * entries share ONE covariance job + both power iterations. */
  private def pcaFixture2(s: SparkSession, dir: String)
      : ((Seq[Double], Double), (Seq[Double], Double)) =
    fixture(s, dir, "embeddings", "pca2") {
      val ((v1, l1), (v2, l2)) = graft.pipeline.Cluster.pcaPowerDeflated(
        T(s, dir, "embeddings"), "embedding", PcaIters)
      ((v1.toSeq, l1), (v2.toSeq, l2))
    }
  private def pcaFixture(s: SparkSession, dir: String): (Seq[Double], Double) =
    pcaFixture2(s, dir)._1

  /** Power-iteration rounds for the q_pca_* entries — enough for the
    * dominant eigenvector to settle at gauge scale; both sides run the
    * SAME fixed count, so the entries hash-match regardless. */
  private val PcaIters = 30

  /** Centers selected by the q_coreset k-center greedy gauge (and rounds
    * unrolled by its oracle). */
  private val CoresetK = 8

  /** Output dimensions of the q_embed_rp Johnson–Lindenstrauss gauge. */
  private val RpDims = 8

  /** Unrolled-Lloyd DuckDB oracle for q_kmeans(+_summary): replays the
    * exact [[graft.pipeline.Cluster.kmeansAssign]] chain — init from the
    * k lowest ids, `n2 + c2 − 2·dot` left-fold distance, (dist, cluster)
    * tie-break, DECIMAL(30,15) per-dimension sums with one double
    * division (VARCHAR-routed decimal→double: DuckDB's direct cast can
    * double-round). */
  /** DuckDB oracle for q_dedup_semantic: replay the deterministic Lloyd
    * rounds (shared with [[kmeansOracle]]), then the in-cluster
    * lower-id epsilon-ball compare of [[graft.pipeline.Dedup.semantic]] —
    * same left-fold cosine, same >= tau boundary, bit-for-bit. */
  private def semdedupOracle(k: Int, iters: Int, tau: Double): String = {
    val dotAB = "list_reduce(list_transform(list_zip(a.v, b.v), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, w) -> acc + w)"
    def n2(t: String) = s"list_reduce(list_transform($t.v, " +
      "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, w) -> acc + w)"
    kmeansCtes(k, iters) +
      s""",
       pr AS (
         SELECT a.vec_id AS aid, min(b.vec_id) AS dup_of
         FROM afin a JOIN afin b ON a.cl = b.cl AND b.vec_id < a.vec_id
         WHERE $dotAB / (sqrt(${n2("a")}) * sqrt(${n2("b")})) >= ${dlit(tau)}
         GROUP BY a.vec_id)
       SELECT a.vec_id, a.cl AS cluster, pr.dup_of IS NOT NULL AS is_dup, pr.dup_of
       FROM afin a LEFT JOIN pr ON a.vec_id = pr.aid ORDER BY a.vec_id"""
  }

  /** Shared WITH-body for the covariance-based oracles: `cv(i, j, cov,
    * vi, vj)` = unrounded population covariance over the fixed-point
    * (2^-30-quantized) pair sums plus both variances, i ≤ j, 1-based. */
  private val covarianceCteBody: String =
    """x AS MATERIALIZED (
         SELECT vec_id, i, CAST(xi AS DOUBLE) AS xi FROM (
           SELECT vec_id, unnest(embedding) AS xi,
             generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE embedding IS NOT NULL)
       ), p AS MATERIALIZED (
         SELECT a.i AS i, b.i AS j,
           CAST(CAST(sum(CAST(floor(a.xi * b.xi * 1073741824.0) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
             / 1073741824.0 AS sxy
         FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
         GROUP BY a.i, b.i
       ), m AS MATERIALIZED (
         SELECT i,
           CAST(CAST(sum(CAST(xi AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS sx,
           CAST(CAST(sum(CAST(xi * xi AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS sxx,
           count(*) AS n
         FROM x GROUP BY i
       ), mv AS MATERIALIZED (
         SELECT i, sx, n, (sxx - sx * sx / n) / n AS var FROM m
       ), cv AS MATERIALIZED (
         SELECT p.i, p.j, (p.sxy - mi.sx * mj.sx / mi.n) / mi.n AS cov,
           mi.var AS vi, mj.var AS vj
         FROM p JOIN mv mi ON mi.i = p.i JOIN mv mj ON mj.i = p.j
       )"""

  /** One pinned power-iteration CTE chain over matrix CTE `mat(i,j,cval)`
    * using name prefix `p`: `iters` unrolled rounds (`${p}w/n/v`), the
    * max-|loading| sign pin, and final CTEs `${p}vfin(i,x)` /
    * `${p}lam(nn)` / `${p}lv(lv)` (9-rounded ordered loading list).
    * Decimal sums route through VARCHAR before the double cast (the
    * kmeansOracle double-rounding guard). A zero norm resets the iterate
    * to e_1, replaying Cluster.powerIterate's annihilation contract —
    * for a SYMMETRIC matrix `C·x = 0` with `x = C·y/‖C·y‖` implies
    * `C·y = 0`, so annihilation can only happen at round 0 and the
    * per-round reset is equivalent to the Scala early-stop. */
  private def pcaChain(p: String, mat: String, iters: Int): String = {
    val rounds = (0 until iters).map { r =>
      s"""${p}w$r AS MATERIALIZED (
           SELECT cf.i,
             CAST(CAST(sum(CAST(cf.cval * v.x AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) AS wx
           FROM $mat cf JOIN ${p}v$r v ON v.i = cf.j GROUP BY cf.i),
         ${p}n$r AS MATERIALIZED (
           SELECT sqrt(CAST(CAST(sum(CAST(wx * wx AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE)) AS nn
           FROM ${p}w$r),
         ${p}v${r + 1} AS MATERIALIZED (
           SELECT w.i, CASE WHEN n.nn = 0
             THEN CAST(CASE WHEN w.i = 1 THEN 1 ELSE 0 END AS DOUBLE)
             ELSE w.wx / n.nn END AS x
           FROM ${p}w$r w, ${p}n$r n)"""
    }.mkString(",\n         ")
    s"""${p}v0 AS MATERIALIZED (
           SELECT i, CAST(CASE WHEN i = 1 THEN 1 ELSE 0 END AS DOUBLE) AS x
           FROM (SELECT DISTINCT i FROM $mat)
         ),
         $rounds,
         ${p}sgn AS (
           SELECT CASE WHEN x < 0 THEN CAST(-1 AS DOUBLE)
                       ELSE CAST(1 AS DOUBLE) END AS sg
           FROM ${p}v$iters ORDER BY abs(x) DESC, i LIMIT 1
         ),
         ${p}vfin AS (SELECT v.i, v.x * sgn.sg AS x FROM ${p}v$iters v, ${p}sgn sgn),
         ${p}lam AS (SELECT nn FROM ${p}n${iters - 1}),
         ${p}lv AS (SELECT list(round(x, 9) ORDER BY i) AS lv FROM ${p}vfin)"""
  }

  /** Shared WITH prefix of both PCA oracles: the covariance CTEs, the
    * symmetric rounded-9 matrix, and the first pinned chain. */
  private def pcaPrefix(iters: Int): String =
    s"""WITH $covarianceCteBody,
         cfull AS MATERIALIZED (
           SELECT i, j, round(cov, 9) AS cval FROM cv
           UNION ALL
           SELECT j, i, round(cov, 9) FROM cv WHERE i <> j
         ),
         ${pcaChain("", "cfull", iters)}"""

  /** DuckDB oracle replaying the q_pca_* power iteration: the covariance
    * CTEs, `iters` unrolled matrix-vector rounds with DECIMAL(28,12)-
    * summed addends (exact — fold-order-free, mirroring Cluster.pcaPower's
    * driver arithmetic), the max-|loading| sign pin, and the published
    * rounded component as an ordered list for the projection entry. */
  private def pcaOracle(iters: Int, finalSelect: String): String =
    s"""${pcaPrefix(iters)}
         $finalSelect"""

  /** The two-component oracle: the shared prefix, Hotelling deflation
    * with the PUBLISHED 9-rounded loadings/eigenvalue (exactly the
    * doubles Cluster.pcaPowerDeflated subtracts), then a second pinned
    * chain over the deflated matrix. */
  private def pcaOracle2(iters: Int, finalSelect: String): String =
    s"""${pcaPrefix(iters)},
         lpub AS (SELECT round(nn, 9) AS l FROM lam),
         vpub AS (SELECT i, round(x, 9) AS x FROM vfin),
         cdefl AS MATERIALIZED (
           SELECT cf.i, cf.j, cf.cval - lpub.l * vi.x * vj.x AS cval
           FROM cfull cf JOIN vpub vi ON vi.i = cf.i
             JOIN vpub vj ON vj.i = cf.j, lpub
         ),
         ${pcaChain("d", "cdefl", iters)}
         $finalSelect"""

  /** DuckDB oracle replaying [[graft.pipeline.Sampling.kCenterGreedy]]:
    * `k − 1` unrolled farthest-point rounds — each picks the max-min-dist
    * row (ties to smallest id), then `least`-folds the new center's
    * `n2 + c2 − 2·dot` distance into the running minimum, the exact
    * arithmetic the Spark side runs. */
  private def coresetOracle(k: Int): String = {
    val dotMS = "list_reduce(list_transform(list_zip(m.v, s.v), " +
      "p -> CAST(p[1] AS DOUBLE) * p[2]), (acc, w) -> acc + w)"
    val c2S = "list_reduce(list_transform(s.v, " +
      "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, w) -> acc + w)"
    val rounds = (2 to k).map { r =>
      val pick =
        s"""s$r AS (SELECT vec_id, v, mind FROM m${r - 1}
           ORDER BY mind DESC, vec_id LIMIT 1)"""
      if (r < k) pick +
        s""",
       m$r AS MATERIALIZED (
         SELECT m.vec_id, m.v, m.n2,
           least(m.mind, m.n2 + $c2S - 2.0 * $dotMS) AS mind
         FROM m${r - 1} m, s$r s WHERE m.vec_id <> s.vec_id)"""
      else pick
    }.mkString(",\n       ")
    val unions = (2 to k).map(r =>
      s"SELECT $r AS step, vec_id, round(mind, 6) AS min_dist FROM s$r")
      .mkString("\n         UNION ALL ")
    s"""WITH e AS MATERIALIZED (
         SELECT vec_id, embedding AS v,
           list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, w) -> acc + w) AS n2
         FROM embeddings WHERE embedding IS NOT NULL),
       c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       m1 AS MATERIALIZED (
         SELECT m.vec_id, m.v, m.n2, m.n2 + $c2S - 2.0 * $dotMS AS mind
         FROM e m, c1 s WHERE m.vec_id <> s.vec_id),
       $rounds
       SELECT 1 AS step, vec_id, CAST(NULL AS DOUBLE) AS min_dist FROM c1
       UNION ALL $unions
       ORDER BY step"""
  }

  private def kmeansOracle(k: Int, iters: Int, summary: Boolean): String = {
    val out =
      if (summary)
        """SELECT cl AS cluster, count(*) AS n,
           round(CAST(CAST(sum(CAST(d AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE)
             / count(*), 6) AS mean_dist2
         FROM afin GROUP BY cl ORDER BY cluster"""
      else "SELECT vec_id, cl AS cluster, round(d, 6) AS dist2 FROM afin ORDER BY vec_id"
    kmeansCtes(k, iters) + "\n       " + out
  }

  val queries: Seq[Q] = Seq(
    // ---- deterministic k-means over the embedding corpus (semantic
    //      clustering for curation): pinned init/tie-break/decimal-mean
    //      arithmetic make the full Lloyd iteration EXACTLY replayable by
    //      the DuckDB oracle (unrolled rounds) — clustering with a
    //      bit-for-bit external check, not just an inertia eyeball.
    Q("q_kmeans", (s, dir) => {
      graft.pipeline.Cluster.kmeansAssign(T(s, dir, "embeddings"),
          "embedding", "vec_id", k = 8, iters = 2)
        .withColumn("dist2", round(col("dist2"), 6))
        .warpSort(Seq(Order(col("vec_id"))))
    }, Sql(kmeansOracle(8, 2, summary = false))),
    // ---- corpus geometry: systematic-pair cosine histogram split by
    //      same/cross label — the separability gauge (deterministic
    //      id-offset sampling, never quadratic, oracle-replayed)
    Q("q_embed_geometry", (s, dir) => {
      graft.pipeline.Similarity.geometryReport(T(s, dir, "embeddings"),
          "embedding", "vec_id", "label")
        .warpSort(Seq(Order(col("bucket")), Order(col("same_label"), numeric = false)))
    }, Sql("""WITH b AS (SELECT vec_id, embedding, label,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) AS nv
         FROM embeddings),
         pr AS (
           SELECT a.embedding AS v1, a.nv AS n1, a.label AS l1,
                  c.embedding AS v2, c.nv AS n2, c.label AS l2
           FROM b a JOIN b c ON c.vec_id = a.vec_id + 7
           UNION ALL
           SELECT a.embedding, a.nv, a.label, c.embedding, c.nv, c.label
           FROM b a JOIN b c ON c.vec_id = a.vec_id + 131
         ), s AS (
           SELECT least(19, greatest(0, CAST(floor((
               list_reduce(list_transform(list_zip(v1, v2),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)
               / (n1 * n2) + 1.0) / 2.0 * 20) AS INT))) AS bucket,
             l1 = l2 AS same_label
           FROM pr
         )
         SELECT bucket, same_label, count(*) AS n FROM s
         GROUP BY bucket, same_label ORDER BY bucket, same_label""")),

    // ---- dimension covariance + correlation over the embedding space:
    //      the PCA/whitening-readiness report (redundant correlated dims,
    //      dead near-zero-variance dims). Decimal-exact sums; the dim^2
    //      fan-out is the report size, never row-quadratic
    Q("q_embed_covariance", (s, dir) =>
      graft.pipeline.Cluster.covarianceReport(
          T(s, dir, "embeddings"), "embedding")
        .orderBy("i", "j"), Sql(s"""WITH $covarianceCteBody
         SELECT i, j, round(cov, 9) AS cov,
           CASE WHEN vi > 0 AND vj > 0 THEN
             round(cov / sqrt(vi * vj), 9) END AS corr
         FROM cv ORDER BY i, j""")),

    // ---- PCA-lite: first principal component by deterministic power
    //      iteration over the oracled covariance matrix (decimal-summed
    //      rounds, pinned sign), plus the corpus projected onto the
    //      published rounded component — BOTH fully replayed in DuckDB
    //      (the covariance CTEs + 30 unrolled matrix-vector rounds)
    Q("q_pca_component", (s, dir) => {
      val (v, lam) = pcaFixture(s, dir)
      import s.implicits._
      val l6 = BigDecimal(lam).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      v.zipWithIndex.map { case (x, i) => (i + 1, round9(x), l6) }
        .toDF("i", "loading", "eigenvalue").orderBy("i")
    }, Sql(pcaOracle(PcaIters,
      """SELECT vf.i, round(vf.x, 9) AS loading,
           round(lam.nn, 6) AS eigenvalue
         FROM vfin vf, lam ORDER BY vf.i"""))),
    Q("q_pca_scores", (s, dir) => {
      val (v, _) = pcaFixture(s, dir)
      T(s, dir, "embeddings").select(col("vec_id"),
          round(graft.pipeline.Similarity.dot(col("embedding"),
            typedLit(v.map(round9))), 6).as("pc1"))
        .orderBy("vec_id")
    }, Sql(pcaOracle(PcaIters,
      """SELECT e.vec_id,
           round(list_reduce(list_transform(list_zip(e.embedding, lv.lv),
             pr -> CAST(pr[1] AS DOUBLE) * pr[2]), (acc, w) -> acc + w), 6)
             AS pc1
         FROM embeddings e, lv ORDER BY e.vec_id"""))),

    // ---- second principal component by Hotelling deflation: the same
    //      pinned power iteration over cov − λ₁·v₁v₁ᵀ built from the
    //      PUBLISHED 9-rounded first component, so the deflation is
    //      bit-identical on both engines; orthogonality to pc1 is the
    //      spec-pinned invariant
    Q("q_pca_component2", (s, dir) => {
      val (_, (v2, lam2)) = pcaFixture2(s, dir)
      import s.implicits._
      val l6 = BigDecimal(lam2).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      v2.zipWithIndex.map { case (x, i) => (i + 1, round9(x), l6) }
        .toDF("i", "loading", "eigenvalue").orderBy("i")
    }, Sql(pcaOracle2(PcaIters,
      """SELECT vf.i, round(vf.x, 9) AS loading,
           round(dlam.nn, 6) AS eigenvalue
         FROM dvfin vf, dlam ORDER BY vf.i"""))),

    // ---- Johnson–Lindenstrauss random projection to 8 dims: the
    //      md5-plane continuous companion of the sign sketch — the
    //      standard pre-reduction before clustering/ANN at high dims;
    //      map-only, planes are literals
    Q("q_embed_rp", (s, dir) =>
      graft.pipeline.Similarity.randomProject(
          T(s, dir, "embeddings"), "embedding", "vec_id", k = RpDims)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id", "j"), Sql({
      val scale = dlit(math.sqrt(3.0 / RpDims))
      s"""WITH pl AS (
           SELECT bb, list(w ORDER BY dd) AS pw FROM (
             SELECT bb, dd,
               CAST(('0x' || substr(md5('lshp:' || bb || ':' || dd), 1, 8)) AS BIGINT)
                 / 4294967296.0 * 2.0 - 1.0 AS w
             FROM (SELECT unnest(range(0, $RpDims)) AS bb),
                  (SELECT unnest(range(0, (SELECT len(embedding) FROM embeddings
                     LIMIT 1))) AS dd))
           GROUP BY bb)
         SELECT e.vec_id, CAST(pl.bb + 1 AS INT) AS j,
           round(list_reduce(list_transform(list_zip(e.embedding, pl.pw),
             pr -> CAST(pr[1] AS DOUBLE) * pr[2]), (acc, w) -> acc + w)
             * $scale, 6) AS y
         FROM embeddings e, pl
         WHERE e.embedding IS NOT NULL
         ORDER BY e.vec_id, j"""
    })),

    // ---- embedding outliers: distance-to-centroid z-scores, top-20 —
    //      the embedding-side data-cleaning gauge (wrong-model rows and
    //      dead vectors surface here first)
    Q("q_embed_outliers", (s, dir) =>
      graft.pipeline.Cluster.embeddingOutliers(
        T(s, dir, "embeddings"), "embedding", "vec_id", topK = 20), Sql("""WITH e AS (
           SELECT vec_id, embedding AS v,
             list_reduce(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, w) -> acc + w) AS n2
           FROM embeddings WHERE embedding IS NOT NULL),
         cm AS (
           SELECT i,
             CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mu
           FROM (SELECT unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
                 FROM embeddings WHERE embedding IS NOT NULL)
           GROUP BY i),
         cl AS (
           SELECT list(mu ORDER BY i) AS c,
             list_reduce(list_transform(list(mu ORDER BY i), x -> x * x),
               (acc, w) -> acc + w) AS c2
           FROM cm),
         d AS (
           SELECT e.vec_id,
             e.n2 + cl.c2 - 2.0 * list_reduce(list_transform(list_zip(e.v, cl.c),
               pr -> CAST(pr[1] AS DOUBLE) * pr[2]), (acc, w) -> acc + w) AS d2
           FROM e, cl),
         st AS (
           SELECT CAST(CAST(sum(CAST(d2 AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS m,
             CAST(CAST(sum(CAST(d2 * d2 AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS m2
           FROM d)
         SELECT vec_id, round(d2, 6) AS dist2,
           CASE WHEN st.m2 - st.m * st.m > 0 THEN
             round((d2 - st.m) / sqrt(st.m2 - st.m * st.m), 6) END AS z
         FROM d, st
         ORDER BY z DESC NULLS LAST, vec_id LIMIT 20""")),

    // ---- 2-D PCA projection: every vector's (pc1, pc2) coordinates
    //      against the published rounded components — the embedding-map
    //      export every visualization/debug tool consumes; map-only
    Q("q_pca_project", (s, dir) => {
      val ((v1, _), (v2, _)) = pcaFixture2(s, dir)
      T(s, dir, "embeddings").select(col("vec_id"),
          round(graft.pipeline.Similarity.dot(col("embedding"),
            typedLit(v1.map(round9))), 6).as("pc1"),
          round(graft.pipeline.Similarity.dot(col("embedding"),
            typedLit(v2.map(round9))), 6).as("pc2"))
        .orderBy("vec_id")
    }, Sql(pcaOracle2(PcaIters,
      """SELECT e.vec_id,
           round(list_reduce(list_transform(list_zip(e.embedding, lv.lv),
             pr -> CAST(pr[1] AS DOUBLE) * pr[2]), (acc, w) -> acc + w), 6)
             AS pc1,
           round(list_reduce(list_transform(list_zip(e.embedding, dlv.lv),
             pr -> CAST(pr[1] AS DOUBLE) * pr[2]), (acc, w) -> acc + w), 6)
             AS pc2
         FROM embeddings e, lv, dlv ORDER BY e.vec_id"""))),

    // ---- per-dimension z-score standardization: the whitening-lite
    //      transform covarianceReport diagnoses readiness for — one
    //      decimal-exact dim-stats aggregate + a broadcast-joined map
    //      pass; zero-variance dims yield NULL, never ±Inf
    Q("q_embed_whiten", (s, dir) =>
      graft.pipeline.Cluster.standardize(
          T(s, dir, "embeddings"), "embedding", "vec_id")
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id", "i"), Sql("""WITH x AS (
           SELECT vec_id, i, CAST(xi AS DOUBLE) AS xi FROM (
             SELECT vec_id, unnest(embedding) AS xi,
               generate_subscripts(embedding, 1) AS i
             FROM embeddings WHERE embedding IS NOT NULL)
         ), m AS (
           SELECT i,
             CAST(CAST(sum(CAST(xi AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(sum(CAST(xi * xi AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS sxx,
             count(*) AS n
           FROM x GROUP BY i
         ), mv AS (
           SELECT i, sx / n AS mu, (sxx - sx * sx / n) / n AS var FROM m
         )
         SELECT x.vec_id, x.i,
           CASE WHEN mv.var > 0 THEN
             round((x.xi - mv.mu) / sqrt(mv.var), 6) END AS z
         FROM x JOIN mv ON mv.i = x.i
         ORDER BY x.vec_id, x.i""")),

    // ---- embedding drift: per-label centroid vs the corpus centroid
    //      (decimal-exact means + fold cosine) — the dataset-shift gauge
    //      for embedding pipelines, oracle-replayed bit-for-bit
    Q("q_embed_drift", (s, dir) => {
      graft.pipeline.Cluster.embeddingDrift(T(s, dir, "embeddings"),
          "embedding", "label")
        .withColumn("centroid_cosine", round(col("centroid_cosine"), 9))
        .withColumn("centroid_norm", round(col("centroid_norm"), 9))
        .warpSort(Seq(Order(col("label"))))
    }, Sql("""WITH x AS (
           SELECT label, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL
         ), s AS (
           SELECT label, i,
             CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS m,
             count(*) AS n
           FROM x GROUP BY label, i
         ), c AS (
           SELECT label, max(n) AS n, list(m ORDER BY i) AS cent
           FROM s GROUP BY label
         ), gs AS (
           SELECT i,
             CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS m
           FROM x GROUP BY i
         ), g AS (
           SELECT list(m ORDER BY i) AS cent FROM gs
         )
         SELECT c.label, c.n,
           round(
             list_reduce(list_transform(list_zip(c.cent, g.cent),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)
             / (sqrt(list_reduce(list_transform(c.cent, v -> v * v), (acc, v) -> acc + v))
                * sqrt(list_reduce(list_transform(g.cent, v -> v * v), (acc, v) -> acc + v))),
             9) AS centroid_cosine,
           round(sqrt(list_reduce(list_transform(c.cent, v -> v * v),
             (acc, v) -> acc + v)), 9) AS centroid_norm
         FROM c, g ORDER BY c.label""")),

    Q("q_kmeans_summary", (s, dir) => {
      graft.pipeline.Cluster.kmeansSummary(T(s, dir, "embeddings"),
          "embedding", "vec_id", k = 8, iters = 2)
        .warpSort(Seq(Order(col("cluster"))))
    }, Sql(kmeansOracle(8, 2, summary = true))),

    // ---- per-cluster medoid-lite: the member closest to its final
    //      centroid (deterministic ties to lowest id) — the canonical
    //      representative document per topic
    Q("q_cluster_medoids", (s, dir) =>
      graft.pipeline.Cluster.medoids(T(s, dir, "embeddings"),
          "embedding", "vec_id", k = 8, iters = 2)
        .orderBy("cluster"), Sql((kmeansCtes(8, 2) +
      """
       SELECT cl AS cluster, vec_id, round(d, 6) AS dist2 FROM (
         SELECT *, row_number() OVER (PARTITION BY cl ORDER BY d, vec_id) AS rn
         FROM afin)
       WHERE rn = 1 ORDER BY cluster"""))),

    // ---- cluster↔label purity: per-cluster majority label + share —
    //      the external-validity gauge for the kmeans topic clusters
    Q("q_cluster_purity", (s, dir) =>
      graft.pipeline.Cluster.clusterPurity(T(s, dir, "embeddings"),
          "embedding", "vec_id", "label", k = 8, iters = 2)
        .orderBy("cluster"), Sql((kmeansCtes(8, 2) +
      """,
       lab AS (
         SELECT a.cl, e.label, count(*) AS c
         FROM afin a JOIN embeddings e ON a.vec_id = e.vec_id
         WHERE e.label IS NOT NULL
         GROUP BY a.cl, e.label),
       tot AS (SELECT cl, CAST(sum(c) AS BIGINT) AS n FROM lab GROUP BY cl),
       top AS (
         SELECT cl, label, c,
           row_number() OVER (PARTITION BY cl ORDER BY c DESC, label) AS rn
         FROM lab)
       SELECT t.cl AS cluster, tot.n AS n, t.label AS top_label,
         round(CAST(t.c AS DOUBLE) / CAST(tot.n AS DOUBLE), 9) AS purity
       FROM top t JOIN tot ON t.cl = tot.cl
       WHERE t.rn = 1 ORDER BY cluster"""))),

    // ---- diversity coreset: k-center greedy (farthest-point) selection —
    //      maximally-spread seed/eval subset; every pick and distance
    //      replayed by unrolled SQL rounds
    Q("q_coreset", (s, dir) =>
      graft.pipeline.Sampling.kCenterGreedy(T(s, dir, "embeddings"),
          "embedding", "vec_id", k = CoresetK)
        .orderBy("step"), Sql(coresetOracle(CoresetK))),

    // ---- SemDeDup: deterministic k-means clusters, then in-cluster
    //      lower-id epsilon-ball pruning — the fully-replayable form of
    //      semantic dedup (vs q_dedup_embed's seeded-sketch recall<1
    //      pairs): the oracle unrolls the same Lloyd rounds AND the same
    //      pairwise cosine compare, so is_dup/dup_of hash-match exactly.
    Q("q_dedup_semantic", (s, dir) => {
      graft.pipeline.Dedup.semantic(T(s, dir, "embeddings"),
          "embedding", "vec_id", k = 8, iters = 2, tau = 0.92)
        .warpSort(Seq(Order(col("vec_id"))))
    }, Sql(semdedupOracle(8, 2, 0.92)))
  )
}
