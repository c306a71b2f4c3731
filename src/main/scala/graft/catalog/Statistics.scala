package graft
package catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.WarpOps._
import graft.functions.{WarpAggregates => WA}
import graft.functions.WarpAggregates.dsum
import Shared._

/** Reducers and statistics: the §2.3 reducer battery, exact medians and
  * quantiles, regression, resampling, event analytics and data-quality
  * audits. */
object Statistics {
  val queries: Seq[Q] = Seq(
    // ---- reducer battery: median/variance/stddev/min/max/countDistinct (§2.3)
    Q("q_agg_stats", (s, dir) => {
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          WA.warpMedian(col("l_quantity")).as("med_qty"),
          WA.warpVarianceSample(col("l_quantity")).as("var_qty"),
          WA.warpStdevSample(col("l_quantity")).as("std_qty"),
          WA.warpMin(col("l_extendedprice")).as("min_price"),
          WA.warpMax(col("l_extendedprice")).as("max_price"),
          WA.warpCountDistinct(col("l_suppkey")).as("n_supp"),
          WA.warpCountAll().as("n"))
        .orderBy("l_returnflag")
    }, Sql("""SELECT l_returnflag,
         median(l_quantity) AS med_qty,
         CASE WHEN COUNT(l_quantity) > 1 THEN
           (CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(28,6))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
              * CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_quantity))
           / (COUNT(l_quantity) - 1.0) END AS var_qty,
         sqrt(CASE WHEN COUNT(l_quantity) > 1 THEN
           (CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(28,6))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
              * CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_quantity))
           / (COUNT(l_quantity) - 1.0) END) AS std_qty,
         MIN(l_extendedprice) AS min_price,
         MAX(l_extendedprice) AS max_price,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- ordered string/list aggregation: concat + list reducers (§2.3)
    Q("q_agg_strings", (s, dir) => {
      T(s, dir, "nation")
        .groupBy("n_regionkey")
        .agg(
          WA.warpConcat(col("n_name")).as("all_names"),
          array_join(WA.warpList(col("n_name")), "|").as("name_list"),
          WA.warpPack(col("n_name")).as("packed"))
        .orderBy("n_regionkey")
    }, Sql("""SELECT n_regionkey,
         string_agg(n_name, '' ORDER BY n_name) AS all_names,
         string_agg(n_name, '|' ORDER BY n_name) AS name_list,
         string_agg(replace(replace(n_name, '$', '$0'), ',', '$1'), ','
           ORDER BY replace(replace(n_name, '$', '$0'), ',', '$1')) AS packed
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // ---- minimumCount privacy floor (Aggregation.swift:103-134)
    Q("q_agg_mincount", (s, dir) => {
      T(s, dir, "events")
        .select(col("user_id"), when(col("value") > 150, col("value")).as("v"))
        .groupBy("user_id")
        .agg(
          WA.minimumCount(WA.dsum(col("v")), col("v"), 5).as("big_total"),
          count(col("v")).as("n_big"))
        .orderBy("user_id")
    }, Sql("""SELECT user_id,
         CASE WHEN COUNT(v) >= 5 THEN CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) END AS big_total,
         COUNT(v) AS n_big
         FROM (SELECT user_id, CASE WHEN value > 150 THEN value END AS v FROM events)
         GROUP BY user_id ORDER BY user_id""")),

    // ---- medianPack + medianLow/High + population variance reducers
    //      (Function.swift:2143-2188, 2196-2268)
    Q("q_agg_medianpack", (s, dir) => {
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(WA.warpMedianPack(col("l_quantity")).as("med_pack"),
             WA.warpMedianLow(col("l_quantity")).as("med_lo"),
             WA.warpMedianHigh(col("l_quantity")).as("med_hi"),
             WA.warpVariancePopulation(col("l_quantity")).as("var_pop"),
             WA.warpStdevPopulation(col("l_quantity")).as("std_pop"),
             WA.warpCount(col("l_quantity")).as("n_num"))
        .orderBy("l_returnflag")
    }, Sql("""WITH g AS (
           SELECT l_returnflag, list_sort(list(l_quantity)) AS a,
                  COUNT(l_quantity) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS s,
                  CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sq
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag,
           CASE WHEN n = 0 THEN NULL
                WHEN n % 2 = 1 THEN CAST(a[CAST((n+1)//2 AS INT)] AS VARCHAR)
                ELSE CAST(a[CAST(n//2 AS INT)] AS VARCHAR) || ',' ||
                     CAST(a[CAST(n//2+1 AS INT)] AS VARCHAR) END AS med_pack,
           a[CAST((n+1)//2 AS INT)] AS med_lo,
           a[CAST(n//2+1 AS INT)] AS med_hi,
           CASE WHEN n > 0 THEN (sq - s*s/n) / n END AS var_pop,
           CASE WHEN n > 0 THEN sqrt((sq - s*s/n) / n) END AS std_pop,
           n AS n_num
         FROM g ORDER BY l_returnflag""")),

    // ---- medianPack without whole-group buffers: the bracket-median twin
    //      of q_agg_medianpack (same reducer semantics, bounded memory)
    Q("q_agg_medianpack_scalable", (s, dir) => {
      graft.ops.BracketMedian.exactMedianPack(
        T(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity", out = "med_pack")
        .orderBy("l_returnflag")
    }, Sql("""WITH g AS (
           SELECT l_returnflag, list_sort(list(l_quantity)) AS a,
                  COUNT(l_quantity) AS n
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag,
           CASE WHEN n % 2 = 1 THEN CAST(a[CAST((n+1)//2 AS INT)] AS VARCHAR)
                ELSE CAST(a[CAST(n//2 AS INT)] AS VARCHAR) || ',' ||
                     CAST(a[CAST(n//2+1 AS INT)] AS VARCHAR) END AS med_pack,
           a[CAST((n+1)//2 AS INT)] AS med_pack_low,
           a[CAST(n//2+1 AS INT)] AS med_pack_high,
           CAST(n AS BIGINT) AS med_pack_n
         FROM g ORDER BY l_returnflag""")),

    // ---- bivariate statistics from exact decimal moments: corr/covar/
    //      least-squares fit per group, deterministic under any
    //      partitioning (unlike streaming-moment corr/regr_slope)
    Q("q_regression", (s, dir) => {
      val q = col("l_quantity"); val p = col("l_extendedprice")
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          WA.warpCorr(q, p).as("corr_qp"),
          WA.warpCovarSample(q, p).as("covar_qp"),
          WA.warpSlope(q, p).as("slope_qp"),
          WA.warpIntercept(q, p).as("intercept_qp"),
          WA.warpR2(q, p).as("r2_qp"))
        .orderBy("l_returnflag")
    },
      // decimal->double via VARCHAR in this oracle: DuckDB's direct decimal
      // cast double-rounds (int128 to double, then /10^scale); the string
      // path is correctly rounded like Spark's BigDecimal cast
      Sql("""WITH m AS (
           SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                    * CAST(l_quantity AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))
                    * CAST(l_extendedprice AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                    * CAST(l_extendedprice AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag,
           (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) AS corr_qp,
           (sxy - sx*sy/n) / (n - 1.0) AS covar_qp,
           (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope_qp,
           (sy - sx * (n*sxy - sx*sy) / (n*sxx - sx*sx)) / n AS intercept_qp,
           ((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)))
             * ((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))) AS r2_qp
         FROM m ORDER BY l_returnflag""")),

    // ---- per-type linear TREND over daily activity: slope/intercept/
    //      corr of (day index, daily count) through the decimal-exact
    //      bivariate moments — the volume-drift monitor (is this source
    //      growing, shrinking, how consistently?)
    Q("q_trend", (s, dir) => {
      val daily = T(s, dir, "events")
        .select(col("event_type"),
          floor(unix_micros(col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
            / lit(86400000000L)).as("d"))
        .groupBy("event_type", "d").agg(count(lit(1)).as("cnt"))
      daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          WA.warpSlope(col("d"), col("cnt")).as("slope"),
          WA.warpIntercept(col("d"), col("cnt")).as("intercept"),
          WA.warpCorr(col("d"), col("cnt")).as("corr"))
        .orderBy("event_type")
    }, Sql("""WITH daily AS (
           SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
             count(*) AS cnt
           FROM events GROUP BY 1, 2
         ), m AS (
           SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(d AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(cnt AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(d AS DECIMAL(19,6))
                    * CAST(d AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(cnt AS DECIMAL(19,6))
                    * CAST(cnt AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(d AS DECIMAL(19,6))
                    * CAST(cnt AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxy
           FROM daily GROUP BY event_type
         )
         SELECT event_type, n_days,
           (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
           (sy - sx * (n*sxy - sx*sy) / (n*sxx - sx*sx)) / n AS intercept,
           (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) AS corr
         FROM m ORDER BY event_type""")),

    // ---- winsorization: clamp into per-group [p05, p95] quantile caps;
    //      aggregate output pins both the clamped sum and the clip count
    Q("q_winsorize", (s, dir) => {
      graft.ops.Robust.winsorize(
        T(s, dir, "lineitem").selectColumns(Seq("l_returnflag", "l_extendedprice")),
        Seq("l_returnflag"), "l_extendedprice", pLo = 0.05, pHi = 0.95)
        .groupBy(col("l_returnflag"))
        .agg(count(when(col("winsorized_clipped"), 1)).as("n_clipped"),
             dsum(col("winsorized")).as("sum_w"))
        .orderBy("l_returnflag")
    }, Sql("""WITH g AS (
           SELECT l_returnflag, list_sort(list(l_extendedprice)) AS a,
                  count(l_extendedprice) AS n
           FROM lineitem GROUP BY l_returnflag),
         p AS (
           SELECT l_returnflag, a,
             (n-1)*CAST(0.05 AS DOUBLE) AS ql,
             (n-1)*CAST(0.95 AS DOUBLE) AS qh
           FROM g),
         e AS (
           SELECT l_returnflag,
             CASE WHEN ceil(ql) = floor(ql) THEN a[CAST(ql AS INT)+1]
               ELSE (ceil(ql)-ql)*a[CAST(floor(ql) AS INT)+1]
                  + (ql-floor(ql))*a[CAST(ceil(ql) AS INT)+1] END AS lo,
             CASE WHEN ceil(qh) = floor(qh) THEN a[CAST(qh AS INT)+1]
               ELSE (ceil(qh)-qh)*a[CAST(floor(qh) AS INT)+1]
                  + (qh-floor(qh))*a[CAST(ceil(qh) AS INT)+1] END AS hi
           FROM p)
         SELECT l.l_returnflag,
           count(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                 THEN 1 END) AS n_clipped,
           CAST(SUM(CAST(least(greatest(l_extendedprice, lo), hi)
                 AS DECIMAL(28,6))) AS DOUBLE) AS sum_w
         FROM lineitem l JOIN e ON l.l_returnflag = e.l_returnflag
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag""")),

    // ---- median imputation: nulls repaired with the group's exact
    //      median (bracket core); aggregate output proves value + flag
    Q("q_impute", (s, dir) => {
      val withNulls = T(s, dir, "lineitem")
        .selectColumns(Seq("l_returnflag", "l_linenumber", "l_quantity"))
        .calculate(Seq("l_quantity" ->
          when(col("l_linenumber") === 3, lit(null)).otherwise(col("l_quantity"))))
      graft.ops.Robust.imputeMedian(withNulls, Seq("l_returnflag"), "l_quantity")
        .groupBy(col("l_returnflag"))
        .agg(count(when(col("imputed_was_null"), 1)).as("n_imputed"),
             dsum(col("imputed")).as("sum_q"))
        .orderBy("l_returnflag")
    }, Sql("""WITH d AS (
           SELECT l_returnflag,
             CASE WHEN l_linenumber = 3 THEN NULL ELSE l_quantity END AS v
           FROM lineitem),
         g AS (
           SELECT l_returnflag, list_sort(list(v)) AS a, count(v) AS n
           FROM d WHERE v IS NOT NULL GROUP BY l_returnflag),
         m AS (
           SELECT l_returnflag,
             (a[CAST((n+1)//2 AS INT)] + a[CAST(n//2+1 AS INT)]) / 2 AS med
           FROM g)
         SELECT d.l_returnflag,
           count(CASE WHEN d.v IS NULL THEN 1 END) AS n_imputed,
           CAST(SUM(CAST(coalesce(d.v, m.med) AS DECIMAL(28,6))) AS DOUBLE) AS sum_q
         FROM d JOIN m USING (l_returnflag)
         GROUP BY d.l_returnflag ORDER BY d.l_returnflag""")),

    // ---- robust per-group outlier screen: modified z-score over
    //      median/MAD (both via the bounded-memory bracket median) —
    //      heavy-tail-safe where mean/stdev screens are not
    Q("q_outliers", (s, dir) => {
      graft.ops.Robust.outliers(
        T(s, dir, "documents").selectColumns(Seq("doc_id", "source", "n_chars")),
        Seq("source"), "n_chars", cutoff = 2.0)
        .orderBy("doc_id")
    }, Sql("""WITH d AS (
           SELECT doc_id, source, n_chars, CAST(n_chars AS DOUBLE) AS v
           FROM documents),
         g AS (
           SELECT source, list_sort(list(v)) AS a, count(v) AS n
           FROM d GROUP BY source),
         m AS (
           SELECT source,
             (a[CAST((n+1)//2 AS INT)] + a[CAST(n//2+1 AS INT)]) / 2 AS med
           FROM g),
         dev AS (
           SELECT d.doc_id, d.source, d.n_chars, d.v, m.med,
                  abs(d.v - m.med) AS adev
           FROM d JOIN m USING (source)),
         g2 AS (
           SELECT source, list_sort(list(adev)) AS a, count(adev) AS n
           FROM dev GROUP BY source),
         m2 AS (
           SELECT source,
             (a[CAST((n+1)//2 AS INT)] + a[CAST(n//2+1 AS INT)]) / 2 AS mad
           FROM g2)
         SELECT dev.doc_id, dev.source, dev.n_chars,
           CASE WHEN m2.mad > 0
             THEN CAST(0.6745 AS DOUBLE) * (dev.v - dev.med) / m2.mad END AS robust_z,
           coalesce(abs(CASE WHEN m2.mad > 0
             THEN CAST(0.6745 AS DOUBLE) * (dev.v - dev.med) / m2.mad END)
             > CAST(2.0 AS DOUBLE), false) AS robust_z_outlier
         FROM dev JOIN m2 USING (source) ORDER BY dev.doc_id""")),

    // ---- event-time tolerance dedup (chain semantics): repeats of the
    //      same (user, type) within 6h of the last KEPT event drop —
    //      greedy walk, mirrored by a recursive-CTE oracle
    Q("q_dedup_tolerance", (s, dir) => {
      graft.ops.TimeSeries.dedupByTolerance(T(s, dir, "events"),
          Seq("user_id", "event_type"), "ts",
          toleranceUs = 21600000000L, tieBreak = "event_id")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)).as("us"))
        .orderBy("user_id", "event_type", "us")
    }, Sql("""WITH RECURSIVE e AS (
           SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         keep AS (
           SELECT user_id, event_type, min(us) AS us FROM e GROUP BY 1, 2
           UNION ALL
           SELECT e.user_id, e.event_type, min(e.us)
           FROM keep k JOIN e ON e.user_id = k.user_id
             AND e.event_type = k.event_type
             AND e.us > k.us + 21600000000
           GROUP BY 1, 2)
         SELECT user_id, event_type, us FROM keep
         ORDER BY user_id, event_type, us""")),

    // ---- regular-grid resampling with forward fill: dense daily series
    //      per user from sparse events, carrying the last observation
    //      across gaps (integer epoch buckets, engine-portable)
    Q("q_gapfill", (s, dir) => {
      graft.ops.TimeSeries.resampleFill(T(s, dir, "events"),
        "user_id", "ts", "value", stepUs = 86400000000L, tieBreak = "event_id")
        .orderBy("user_id", "bucket_ts")
    }, Sql("""WITH e AS (
           SELECT user_id, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS b,
                  ts, event_id, value
           FROM events),
         obs AS (
           SELECT user_id, b, value AS obs FROM (
             SELECT user_id, b, value,
               row_number() OVER (PARTITION BY user_id, b
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM e) WHERE rn = 1),
         rng AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM e GROUP BY user_id),
         grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS b FROM rng),
         j AS (
           SELECT g.user_id, g.b, o.obs
           FROM grid g LEFT JOIN obs o USING (user_id, b))
         SELECT user_id, b * 86400000000 AS bucket_ts,
           last_value(obs IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           obs IS NULL AS filled
         FROM j ORDER BY user_id, bucket_ts""")),

    // ---- equi-depth binning: per-group quantile discretization on the
    //      bracket core; the count-per-bin aggregate doubles as the
    //      depth-property check (bins hold ~equal row counts)
    Q("q_bins", (s, dir) => {
      graft.ops.Robust.equiDepthBins(
        T(s, dir, "lineitem").selectColumns(Seq("l_returnflag", "l_extendedprice")),
        Seq("l_returnflag"), "l_extendedprice", nBins = 4)
        .groupBy(col("l_returnflag"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "bin")
    }, Sql("""WITH g AS (
           SELECT l_returnflag, list_sort(list(l_extendedprice)) AS a,
                  count(l_extendedprice) AS n
           FROM lineitem GROUP BY l_returnflag),
         p AS (
           SELECT l_returnflag, a,
             (n-1)*CAST(0.25 AS DOUBLE) AS q1,
             (n-1)*CAST(0.5  AS DOUBLE) AS q2,
             (n-1)*CAST(0.75 AS DOUBLE) AS q3
           FROM g),
         e AS (
           SELECT l_returnflag,
             CASE WHEN ceil(q1) = floor(q1) THEN a[CAST(q1 AS INT)+1]
               ELSE (ceil(q1)-q1)*a[CAST(floor(q1) AS INT)+1]
                  + (q1-floor(q1))*a[CAST(ceil(q1) AS INT)+1] END AS e1,
             CASE WHEN ceil(q2) = floor(q2) THEN a[CAST(q2 AS INT)+1]
               ELSE (ceil(q2)-q2)*a[CAST(floor(q2) AS INT)+1]
                  + (q2-floor(q2))*a[CAST(ceil(q2) AS INT)+1] END AS e2,
             CASE WHEN ceil(q3) = floor(q3) THEN a[CAST(q3 AS INT)+1]
               ELSE (ceil(q3)-q3)*a[CAST(floor(q3) AS INT)+1]
                  + (q3-floor(q3))*a[CAST(ceil(q3) AS INT)+1] END AS e3
           FROM p)
         SELECT l.l_returnflag,
           (CASE WHEN l_extendedprice > e1 THEN 1 ELSE 0 END
          + CASE WHEN l_extendedprice > e2 THEN 1 ELSE 0 END
          + CASE WHEN l_extendedprice > e3 THEN 1 ELSE 0 END) AS bin,
           count(*) AS n
         FROM lineitem l JOIN e ON l.l_returnflag = e.l_returnflag
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- linear-interpolation resampling: the gap-fill twin that
    //      interpolates between neighbors instead of carrying forward
    Q("q_interp", (s, dir) => {
      graft.ops.TimeSeries.resampleInterp(T(s, dir, "events"),
        "user_id", "ts", "value", stepUs = 86400000000L, tieBreak = "event_id")
        .orderBy("user_id", "bucket_ts")
    }, Sql("""WITH e AS (
           SELECT user_id, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS b,
                  ts, event_id, value
           FROM events),
         obs AS (
           SELECT user_id, b, value AS obs FROM (
             SELECT user_id, b, value,
               row_number() OVER (PARTITION BY user_id, b
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM e) WHERE rn = 1),
         rng AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM e GROUP BY user_id),
         grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS b FROM rng),
         j AS (
           SELECT g.user_id, g.b, o.obs FROM grid g
           LEFT JOIN obs o USING (user_id, b)),
         w AS (
           SELECT user_id, b, obs,
             last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN obs IS NOT NULL THEN b END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             first_value(obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN obs IS NOT NULL THEN b END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY b
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
           FROM j)
         SELECT user_id, b * 86400000000 AS bucket_ts,
           CASE WHEN obs IS NOT NULL THEN obs
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv) * (CAST(b - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
           END AS value,
           obs IS NULL AS filled
         FROM w ORDER BY user_id, bucket_ts""")),

    // ---- bounded-memory exact multi-quantile: the bracket technique
    //      generalized to a p25/p50/p75/p95 summary per group — type-7
    //      interpolation, bit-equal to Spark's buffering `percentile`
    Q("q_quantiles", (s, dir) => {
      graft.ops.BracketMedian.exactQuantiles(
        T(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
        .orderBy("l_returnflag")
    }, Sql("""WITH g AS (
           SELECT l_returnflag, list_sort(list(l_extendedprice)) AS a,
                  count(l_extendedprice) AS n
           FROM lineitem GROUP BY l_returnflag),
         p AS (
           SELECT l_returnflag, a,
             (n-1)*CAST(0.25 AS DOUBLE) AS p25p,
             (n-1)*CAST(0.5  AS DOUBLE) AS p50p,
             (n-1)*CAST(0.75 AS DOUBLE) AS p75p,
             (n-1)*CAST(0.95 AS DOUBLE) AS p95p
           FROM g)
         SELECT l_returnflag,
           CASE WHEN ceil(p25p) = floor(p25p) THEN a[CAST(p25p AS INT)+1]
             ELSE (ceil(p25p)-p25p)*a[CAST(floor(p25p) AS INT)+1]
                + (p25p-floor(p25p))*a[CAST(ceil(p25p) AS INT)+1] END AS p25,
           CASE WHEN ceil(p50p) = floor(p50p) THEN a[CAST(p50p AS INT)+1]
             ELSE (ceil(p50p)-p50p)*a[CAST(floor(p50p) AS INT)+1]
                + (p50p-floor(p50p))*a[CAST(ceil(p50p) AS INT)+1] END AS p50,
           CASE WHEN ceil(p75p) = floor(p75p) THEN a[CAST(p75p AS INT)+1]
             ELSE (ceil(p75p)-p75p)*a[CAST(floor(p75p) AS INT)+1]
                + (p75p-floor(p75p))*a[CAST(ceil(p75p) AS INT)+1] END AS p75,
           CASE WHEN ceil(p95p) = floor(p95p) THEN a[CAST(p95p AS INT)+1]
             ELSE (ceil(p95p)-p95p)*a[CAST(floor(p95p) AS INT)+1]
                + (p95p-floor(p95p))*a[CAST(ceil(p95p) AS INT)+1] END AS p95
         FROM p ORDER BY l_returnflag""")),

    // ---- bounded-memory EXACT median (bracket-and-refine): same result
    //      as warpMedian/DuckDB median, hash-matched by the oracle, but no
    //      per-group aggregation buffer — the 100-TB path when a group
    //      holds a large fraction of the table. Grouped by linestatus so
    //      this exercises different group shapes than q_agg_stats.
    Q("q_agg_median_scalable", (s, dir) => {
      graft.ops.BracketMedian.exactMedianFamily(
        T(s, dir, "lineitem"), Seq("l_linestatus"), "l_quantity", prefix = "med_qty")
        .orderBy("l_linestatus")
    }, Sql("""WITH g AS (
           SELECT l_linestatus, list_sort(list(l_quantity)) AS a,
                  COUNT(l_quantity) AS n
           FROM lineitem GROUP BY l_linestatus)
         SELECT l_linestatus,
           (a[CAST((n+1)//2 AS INT)] + a[CAST(n//2+1 AS INT)]) / 2 AS med_qty,
           a[CAST((n+1)//2 AS INT)] AS med_qty_low,
           a[CAST(n//2+1 AS INT)] AS med_qty_high,
           CAST(n AS BIGINT) AS med_qty_n
         FROM g ORDER BY l_linestatus""")),

    // ---- fixed-width histogram (profiler companion): doc length
    //      distribution, 12 bins over [0, 600)
    Q("q_histogram", (s, dir) =>
      T(s, dir, "documents").histogram(col("n_chars"), 0.0, 600.0, 12)
        .orderBy("bin"), Sql("""WITH b AS (
           SELECT CASE WHEN n_chars = 600 THEN 11
                  ELSE CAST(floor((n_chars - 0.0) / (600.0 / 12)) AS INT) END AS bin
           FROM documents WHERE n_chars IS NOT NULL
         )
         SELECT bin,
           0.0 + bin * (600.0 / 12) AS bin_lo,
           0.0 + (bin + 1) * (600.0 / 12) AS bin_hi,
           count(*) AS n
         FROM b WHERE bin >= 0 AND bin < 12
         GROUP BY bin ORDER BY bin""")),

    // ---- per-column descriptives (the reference app's column panel,
    //      QBEColumnViewController.swift:24-31) as one aggregate pass;
    //      exactDistinct=true is the oracle twin of the default HLL path
    Q("q_profile", (s, dir) =>
      T(s, dir, "documents")
        .profileColumns(Seq("doc_id", "text", "lang", "source", "n_chars"),
          exactDistinct = true)
        .orderBy("column"), Sql("""SELECT 'doc_id' AS "column",
             CAST(SUM(CAST(TRY_CAST(doc_id AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(TRY_CAST(doc_id AS DOUBLE)) AS avg,
             sqrt(CASE WHEN COUNT(TRY_CAST(doc_id AS DOUBLE)) > 1 THEN
               (CAST(SUM(CAST(TRY_CAST(doc_id AS DOUBLE)*TRY_CAST(doc_id AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                - CAST(SUM(CAST(TRY_CAST(doc_id AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                  * CAST(SUM(CAST(TRY_CAST(doc_id AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                  / COUNT(TRY_CAST(doc_id AS DOUBLE)))
               / (COUNT(TRY_CAST(doc_id AS DOUBLE)) - 1.0) END) AS stdev,
             CAST(MIN(doc_id) AS VARCHAR) AS min_val,
             CAST(MAX(doc_id) AS VARCHAR) AS max_val,
             COUNT(*) AS n,
             COUNT(DISTINCT doc_id) AS n_distinct,
             COUNT(*) - COUNT(doc_id) AS n_empty
           FROM documents
           UNION ALL
           SELECT 'text' AS "column",
             CAST(SUM(CAST(TRY_CAST(text AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(TRY_CAST(text AS DOUBLE)) AS avg,
             sqrt(CASE WHEN COUNT(TRY_CAST(text AS DOUBLE)) > 1 THEN
               (CAST(SUM(CAST(TRY_CAST(text AS DOUBLE)*TRY_CAST(text AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                - CAST(SUM(CAST(TRY_CAST(text AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                  * CAST(SUM(CAST(TRY_CAST(text AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                  / COUNT(TRY_CAST(text AS DOUBLE)))
               / (COUNT(TRY_CAST(text AS DOUBLE)) - 1.0) END) AS stdev,
             CAST(MIN(text) AS VARCHAR) AS min_val,
             CAST(MAX(text) AS VARCHAR) AS max_val,
             COUNT(*) AS n,
             COUNT(DISTINCT text) AS n_distinct,
             COUNT(*) - COUNT(text) AS n_empty
           FROM documents
           UNION ALL
           SELECT 'lang' AS "column",
             CAST(SUM(CAST(TRY_CAST(lang AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(TRY_CAST(lang AS DOUBLE)) AS avg,
             sqrt(CASE WHEN COUNT(TRY_CAST(lang AS DOUBLE)) > 1 THEN
               (CAST(SUM(CAST(TRY_CAST(lang AS DOUBLE)*TRY_CAST(lang AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                - CAST(SUM(CAST(TRY_CAST(lang AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                  * CAST(SUM(CAST(TRY_CAST(lang AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                  / COUNT(TRY_CAST(lang AS DOUBLE)))
               / (COUNT(TRY_CAST(lang AS DOUBLE)) - 1.0) END) AS stdev,
             CAST(MIN(lang) AS VARCHAR) AS min_val,
             CAST(MAX(lang) AS VARCHAR) AS max_val,
             COUNT(*) AS n,
             COUNT(DISTINCT lang) AS n_distinct,
             COUNT(*) - COUNT(lang) AS n_empty
           FROM documents
           UNION ALL
           SELECT 'source' AS "column",
             CAST(SUM(CAST(TRY_CAST(source AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(TRY_CAST(source AS DOUBLE)) AS avg,
             sqrt(CASE WHEN COUNT(TRY_CAST(source AS DOUBLE)) > 1 THEN
               (CAST(SUM(CAST(TRY_CAST(source AS DOUBLE)*TRY_CAST(source AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                - CAST(SUM(CAST(TRY_CAST(source AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                  * CAST(SUM(CAST(TRY_CAST(source AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                  / COUNT(TRY_CAST(source AS DOUBLE)))
               / (COUNT(TRY_CAST(source AS DOUBLE)) - 1.0) END) AS stdev,
             CAST(MIN(source) AS VARCHAR) AS min_val,
             CAST(MAX(source) AS VARCHAR) AS max_val,
             COUNT(*) AS n,
             COUNT(DISTINCT source) AS n_distinct,
             COUNT(*) - COUNT(source) AS n_empty
           FROM documents
           UNION ALL
           SELECT 'n_chars' AS "column",
             CAST(SUM(CAST(TRY_CAST(n_chars AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(TRY_CAST(n_chars AS DOUBLE)) AS avg,
             sqrt(CASE WHEN COUNT(TRY_CAST(n_chars AS DOUBLE)) > 1 THEN
               (CAST(SUM(CAST(TRY_CAST(n_chars AS DOUBLE)*TRY_CAST(n_chars AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                - CAST(SUM(CAST(TRY_CAST(n_chars AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                  * CAST(SUM(CAST(TRY_CAST(n_chars AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
                  / COUNT(TRY_CAST(n_chars AS DOUBLE)))
               / (COUNT(TRY_CAST(n_chars AS DOUBLE)) - 1.0) END) AS stdev,
             CAST(MIN(n_chars) AS VARCHAR) AS min_val,
             CAST(MAX(n_chars) AS VARCHAR) AS max_val,
             COUNT(*) AS n,
             COUNT(DISTINCT n_chars) AS n_distinct,
             COUNT(*) - COUNT(n_chars) AS n_empty
           FROM documents
           ORDER BY "column"""")),

    // ---- join-key skew report: the salt-or-broadcast diagnostic —
    //      per-key counts summarized by bracket quantiles
    Q("q_skew_report", (s, dir) => {
      graft.ops.Robust.skewReport(T(s, dir, "lineitem"), Seq("l_suppkey"))
    }, Sql("""WITH c AS (
           SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey),
         g AS (
           SELECT list_sort(list(CAST(cnt AS DOUBLE))) AS a, count(*) AS n,
                  max(cnt) AS max_cnt, CAST(sum(cnt) AS BIGINT) AS n_rows
           FROM c),
         p AS (
           SELECT a, n, max_cnt, n_rows,
             (n-1)*CAST(0.5 AS DOUBLE) AS q1, (n-1)*CAST(0.99 AS DOUBLE) AS q2
           FROM g)
         SELECT n AS n_keys, n_rows, max_cnt,
           CASE WHEN ceil(q1) = floor(q1) THEN a[CAST(q1 AS INT)+1]
             ELSE (ceil(q1)-q1)*a[CAST(floor(q1) AS INT)+1]
                + (q1-floor(q1))*a[CAST(ceil(q1) AS INT)+1] END AS p50,
           CASE WHEN ceil(q2) = floor(q2) THEN a[CAST(q2 AS INT)+1]
             ELSE (ceil(q2)-q2)*a[CAST(floor(q2) AS INT)+1]
                + (q2-floor(q2))*a[CAST(ceil(q2) AS INT)+1] END AS p99,
           CAST(max_cnt AS DOUBLE) /
             (CASE WHEN ceil(q1) = floor(q1) THEN a[CAST(q1 AS INT)+1]
               ELSE (ceil(q1)-q1)*a[CAST(floor(q1) AS INT)+1]
                  + (q1-floor(q1))*a[CAST(ceil(q1) AS INT)+1] END) AS skew_ratio
         FROM p""")),

    // ---- two-sample drift report: binned KS over pooled equi-width
    //      bins — integer counts, exact cumulative shares
    Q("q_drift", (s, dir) => {
      val docs = T(s, dir, "documents")
      graft.ops.Robust.drift(
        docs.warpFilter(col("doc_id") < 250),
        docs.warpFilter(col("doc_id") >= 250),
        "n_chars", nBins = 20)
        .orderBy("bin")
    }, Sql("""WITH a AS (
           -- NULL measures carry no drift signal and are dropped on both
           -- engines (DuckDB least(19, NULL) = 19 would otherwise bin them)
           SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
           WHERE doc_id < 250 AND n_chars IS NOT NULL),
         b AS (
           SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
           WHERE doc_id >= 250 AND n_chars IS NOT NULL),
         mm AS (
           SELECT min(v) AS lo, max(v) AS hi
           FROM (SELECT v FROM a UNION ALL SELECT v FROM b)),
         ca AS (
           SELECT least(19, CAST(floor((v - lo) / (hi - lo) * 20) AS INT)) AS bin,
                  count(*) AS c
           FROM a, mm GROUP BY 1),
         cb AS (
           SELECT least(19, CAST(floor((v - lo) / (hi - lo) * 20) AS INT)) AS bin,
                  count(*) AS c
           FROM b, mm GROUP BY 1),
         g AS (
           SELECT CAST(unnest(range(20)) AS INT) AS bin),
         j AS (
           SELECT g.bin, coalesce(ca.c, 0) AS cnt_a, coalesce(cb.c, 0) AS cnt_b
           FROM g LEFT JOIN ca ON g.bin = ca.bin LEFT JOIN cb ON g.bin = cb.bin)
         SELECT bin, cnt_a, cnt_b,
           CAST(sum(cnt_a) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / sum(cnt_a) OVER () AS share_a,
           CAST(sum(cnt_b) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / sum(cnt_b) OVER () AS share_b,
           abs(CAST(sum(cnt_a) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / sum(cnt_a) OVER ()
             - CAST(sum(cnt_b) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / sum(cnt_b) OVER ()) AS gap
         FROM j ORDER BY bin""")),

    // ---- Cohen's kappa inter-rater agreement per source: two
    //      deterministic "annotators" label each document's quality
    //      bucket from different evidence (char count vs whitespace word
    //      count); kappa = chance-corrected agreement, the label-QC
    //      gauge for annotated training data. One exact-BIGINT division
    //      per group — bit-reproducible cross-engine
    Q("q_rater_kappa", (s, dir) => {
      val docs = T(s, dir, "documents")
      val wc = size(filter(split(trim(lower(col("text"))), "\\s+"),
        t => length(t) > 0))
      val r1 = when(col("n_chars") < 216, lit("lo"))
        .when(col("n_chars") < 374, lit("mid")).otherwise(lit("hi"))
      val r2 = when(wc < 39, lit("lo"))
        .when(wc < 69, lit("mid")).otherwise(lit("hi"))
      graft.pipeline.Classifier.cohenKappa(docs, r1, r2,
        Seq("source" -> col("source")))
        .orderBy("source")
    }, Sql("""WITH lab AS (
           SELECT source,
             CASE WHEN n_chars < 216 THEN 'lo'
                  WHEN n_chars < 374 THEN 'mid' ELSE 'hi' END AS r1,
             CASE WHEN wc < 39 THEN 'lo'
                  WHEN wc < 69 THEN 'mid' ELSE 'hi' END AS r2
           FROM (SELECT source, n_chars,
                   len(list_filter(
                     regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                     t -> len(t) > 0)) AS wc
                 FROM documents)
         ), cells AS (
           SELECT source, r1, r2, count(*) AS c FROM lab GROUP BY 1, 2, 3
         ), tot AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN r1 = r2 THEN c ELSE 0 END) AS BIGINT) AS agree
           FROM cells GROUP BY 1
         ), m1 AS (
           SELECT source, r1 AS lab, CAST(sum(c) AS BIGINT) AS m1
           FROM cells GROUP BY 1, 2
         ), m2 AS (
           SELECT source, r2 AS lab, CAST(sum(c) AS BIGINT) AS m2
           FROM cells GROUP BY 1, 2
         ), pe AS (
           SELECT source, CAST(sum(m1 * m2) AS BIGINT) AS pe_num
           FROM m1 JOIN m2 USING (source, lab) GROUP BY 1
         )
         SELECT t.source, n, agree, pe_num,
           CASE WHEN n * n = pe_num THEN NULL
                ELSE CAST(agree * n - pe_num AS DOUBLE)
                     / CAST(n * n - pe_num AS DOUBLE) END AS kappa
         FROM tot t JOIN pe USING (source)
         ORDER BY source""")),

    // ---- Markov event-transition matrix per user stream: strict
    //      (ts, event_id) ordering, exact counts, one double division
    //      for the row-normalized probability
    Q("q_transitions", (s, dir) => {
      graft.pipeline.HeavyHitters.transitionMatrix(T(s, dir, "events"),
          col("user_id"),
          col("ts").cast(org.apache.spark.sql.types.TimestampType),
          col("event_type"), col("event_id"))
        .orderBy("prev_event", "next_event")
    }, Sql("""WITH s AS (
           SELECT user_id, event_type AS prev_event,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_event
           FROM events
         ), c AS (
           SELECT prev_event, next_event, count(*) AS cnt
           FROM s WHERE next_event IS NOT NULL GROUP BY 1, 2
         ), t AS (
           SELECT prev_event, CAST(sum(cnt) AS BIGINT) AS tot
           FROM c GROUP BY 1
         )
         SELECT c.prev_event, c.next_event, c.cnt,
           CAST(c.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
         FROM c JOIN t USING (prev_event)
         ORDER BY 1, 2""")),

    // ---- time-weighted average per (user, day): each value holds until
    //      the next observation; exact decimal mass, one final division.
    //      Group-bounded lead() window, never global
    Q("q_twap", (s, dir) => {
      graft.ops.TimeSeries.twa(T(s, dir, "events"),
          col("user_id"),
          col("ts").cast(org.apache.spark.sql.types.TimestampType),
          col("value"), 86400000000L, col("event_id"))
        .orderBy("key", "w")
    }, Sql("""WITH b AS (
           SELECT user_id AS key,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
               * 86400000000 AS w,
             epoch_us(ts) AS us, value, event_id
           FROM events
         ), seg AS (
           SELECT key, w, us, value,
             lead(us) OVER (PARTITION BY key, w ORDER BY us, event_id) AS nxt
           FROM b
         )
         SELECT key, w, count(*) AS n_events,
           max(us) - min(us) AS span_us,
           CASE WHEN max(us) - min(us) > 0 THEN
             CAST(sum(CAST(CAST(value AS DECIMAL(24,6)) * 1000000
                           AS DECIMAL(25,0))
                      * CAST(COALESCE(nxt - us, 0) AS DECIMAL(12,0)))
                  AS DOUBLE)
               / CAST((max(us) - min(us)) * 1000000 AS DOUBLE) END AS twap
         FROM seg GROUP BY key, w
         ORDER BY key, w""")),

    // ---- DAU / trailing-7-day-WAU stickiness: one distinct pass to
    //      (day, user), then a calendar-bounded 7-fan range self-join —
    //      no count-distinct window (Spark has none over ranges)
    Q("q_stickiness", (s, dir) => {
      graft.ops.TimeSeries.stickiness(T(s, dir, "events"),
          col("user_id"),
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
        .orderBy("d")
    }, Sql("""WITH du AS (
           SELECT DISTINCT
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
             user_id AS u
           FROM events
         ), dau AS (
           SELECT d, count(*) AS dau FROM du GROUP BY 1
         ), wau AS (
           SELECT a.d, count(DISTINCT b.u) AS wau
           FROM dau a JOIN du b ON b.d >= a.d - 6 AND b.d <= a.d
           GROUP BY 1
         )
         SELECT a.d, a.dau, w.wau,
           CAST(a.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
         FROM dau a JOIN wau w USING (d)
         ORDER BY d""")),

    // ---- incremental aggregate-view maintenance: counts + exact decimal
    //      sums updated from an insert/delete delta batch (deletes ride as
    //      weight -1) — O(|delta| + |groups|), never a base-table rescan.
    //      Oracle: the view recomputed directly over the post-delta data.
    Q("q_incr_agg", (s, dir) => {
      val li = T(s, dir, "lineitem")
      val state0 = graft.pipeline.Incremental.aggState(
        li.warpFilter(col("l_orderkey") < 30000),
        Seq("l_returnflag"), Seq("l_quantity", "l_extendedprice"))
      val deletes = li.warpFilter(col("l_orderkey") < 2000)
        .calculate(Seq("w" -> lit(-1L)))
      val inserts = li.warpFilter(
          col("l_orderkey") >= 30000 && col("l_orderkey") < 32000)
        .calculate(Seq("w" -> lit(1L)))
      graft.pipeline.Incremental.applyDelta(state0,
          deletes.warpUnion(inserts), Seq("l_returnflag"),
          Seq("l_quantity", "l_extendedprice"), "w")
        .select(col("l_returnflag"), col("cnt"),
          col("sum_l_quantity").cast("double").as("sum_qty"),
          col("sum_l_extendedprice").cast("double").as("sum_price"))
        .orderBy("l_returnflag")
    }, Sql("""SELECT l_returnflag, count(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
             AS sum_price
         FROM lineitem
         WHERE l_orderkey >= 2000 AND l_orderkey < 32000
         GROUP BY l_returnflag
         ORDER BY l_returnflag""")),

    // ---- declarative data-quality audit ("expectations"): NOT NULL,
    //      uniqueness, and range rules -> one violations row per rule;
    //      scan rules share one aggregation pass
    Q("q_constraints", (s, dir) => {
      graft.sources.ParquetWarehouse.audit(T(s, dir, "orders"),
        notNull = Seq("o_orderkey", "o_orderstatus"),
        unique = Seq(Seq("o_orderkey"), Seq("o_custkey")),
        ranges = Seq(("o_totalprice", 0.0, 300000.0)))
        .orderBy("rule")
    },
      // SELECT DISTINCT subqueries (not count(DISTINCT col)) so null keys
      // count as key values — matching the Spark struct-distinct semantics
      Sql("""SELECT 'not_null:o_orderkey' AS rule,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS violations,
           sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
         FROM orders
         UNION ALL
         SELECT 'not_null:o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) = 0
         FROM orders
         UNION ALL
         SELECT 'range:o_totalprice',
           CAST(sum(CASE WHEN o_totalprice IS NOT NULL
             AND (o_totalprice < 0.0 OR o_totalprice > 300000.0)
             THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_totalprice IS NOT NULL
             AND (o_totalprice < 0.0 OR o_totalprice > 300000.0)
             THEN 1 ELSE 0 END) = 0
         FROM orders
         UNION ALL
         SELECT 'unique:o_orderkey',
           CAST((SELECT count(*) FROM orders)
             - (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders))
             AS BIGINT),
           (SELECT count(*) FROM orders)
             = (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders))
         UNION ALL
         SELECT 'unique:o_custkey',
           CAST((SELECT count(*) FROM orders)
             - (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders))
             AS BIGINT),
           (SELECT count(*) FROM orders)
             = (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders))
         ORDER BY rule""")),

    // ---- ordered funnel: signup -> click -> purchase per user, strict
    //      event-time ordering; timestamps emitted as epoch micros
    Q("q_funnel", (s, dir) => {
      val ts = col("ts").cast(org.apache.spark.sql.types.TimestampType)
      T(s, dir, "events").funnel(col("user_id"), ts, Seq(
          "signup" -> (col("event_type") === "signup"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .select(col("key").as("user_id"),
          unix_micros(col("t_signup")).as("us_signup"),
          unix_micros(col("t_click")).as("us_click"),
          unix_micros(col("t_purchase")).as("us_purchase"),
          col("reached"))
        .orderBy("user_id")
    }, Sql("""WITH s1 AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'signup' GROUP BY user_id
         ), s2 AS (
           SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id
         ), s3 AS (
           SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id
         )
         SELECT s1.user_id,
           epoch_us(t1) AS us_signup, epoch_us(t2) AS us_click,
           epoch_us(t3) AS us_purchase,
           1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
             + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS reached
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
           LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY s1.user_id""")),

    // ---- rolling event-time aggregation: per user, trailing-hour event
    //      count and value sum at every event (range frame on epoch micros)
    Q("q_rolling", (s, dir) => {
      T(s, dir, "events").rollingByTime(
          // NTZ -> LTZ cast: session tz is UTC, instant unchanged (the
          // q_sessionize recipe); unix_micros requires TIMESTAMP
          Seq(col("user_id")),
          col("ts").cast(org.apache.spark.sql.types.TimestampType),
          3600L * 1000000,
          Seq("n_1h" -> (w => count(lit(1)).over(w)),
            // decimal window sum, not dsum: `.over` needs the bare sum, which dsum's cast wraps
            "sum_1h" -> (w => sum(col("value").cast(DecimalType(28, 6))).over(w)
              .cast("double"))))
        .selectColumns(Seq("event_id", "user_id", "n_1h", "sum_1h"))
        .warpSort(Seq(Order(col("event_id"))))
    }, Sql("""SELECT event_id, user_id,
           count(*) OVER w AS n_1h,
           CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""")),

    // ---- k-anonymity / l-diversity privacy audit: per-QI-group sizes,
    //      sensitive-value diversity, compliance flags — one hash
    //      aggregate on the quasi-identifier keys. QI = (nation, last
    //      name digit); sensitive = market segment.
    Q("q_anonymity", (s, dir) => {
      val c = T(s, dir, "customer")
        .withColumn("qi_digit", substring(col("c_name"), -1, 1))
      graft.pipeline.Privacy.anonymityReport(
          c, Seq("c_nationkey", "qi_digit"), "c_mktsegment", k = 5, l = 3)
        .orderBy("c_nationkey", "qi_digit")
    }, Sql("""SELECT c_nationkey, substr(c_name, -1, 1) AS qi_digit,
           count(*) AS n,
           count(DISTINCT c_mktsegment) AS n_sensitive,
           count(*) >= 5 AS k_anonymous,
           count(DISTINCT c_mktsegment) >= 3 AS l_diverse
         FROM customer
         GROUP BY c_nationkey, qi_digit
         ORDER BY c_nationkey, qi_digit""")),

    // ---- the enforcement pass: suppress rows in non-compliant QI
    //      groups (left-semi join against the bounded compliant-key
    //      aggregate), report per-nation survivor counts
    Q("q_anonymity_suppress", (s, dir) => {
      val c = T(s, dir, "customer")
        .withColumn("qi_digit", substring(col("c_name"), -1, 1))
      graft.pipeline.Privacy.suppress(
          c, Seq("c_nationkey", "qi_digit"), "c_mktsegment", k = 5, l = 3)
        .groupBy("c_nationkey").agg(count(lit(1)).as("kept"))
        .orderBy("c_nationkey")
    }, Sql("""WITH ok AS (
           SELECT c_nationkey, substr(c_name, -1, 1) AS qi_digit
           FROM customer
           GROUP BY 1, 2
           HAVING count(*) >= 5 AND count(DISTINCT c_mktsegment) >= 3
         )
         SELECT c.c_nationkey, count(*) AS kept
         FROM customer c
         JOIN ok ON ok.c_nationkey = c.c_nationkey
                AND ok.qi_digit = substr(c.c_name, -1, 1)
         GROUP BY c.c_nationkey
         ORDER BY c.c_nationkey"""))
  )
}
